"""Benchmark of the parquet_to_csv_spark engine; see README.md."""
