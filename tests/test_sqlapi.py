"""SQL surface (``plans.sqlapi``): registry operators exposed as SQL
views compose with ad-hoc SQL over the raw table views."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_registry_query_views_compose_in_sql(spark, sf_dir):
    """Registry operators exposed as SQL views compose with ad-hoc SQL
    (join an operator result against a raw table view)."""
    from parquet_to_csv_spark.plans import sqlapi

    created = sqlapi.register_query_views(
        spark, sf_dir, names=["exact_dedup", "text_stats"]
    )
    assert created == ["q_exact_dedup", "q_text_stats"]
    out = sqlapi.sql(
        spark,
        """
        SELECT d.lang, count(*) AS n_unique_docs
        FROM q_exact_dedup e JOIN documents d ON e.doc_id = d.doc_id
        GROUP BY d.lang ORDER BY d.lang
        """,
        sf_dir=sf_dir,
    ).collect()
    langs = {r["lang"]: r["n_unique_docs"] for r in out}
    assert sum(langs.values()) > 0
    # cross-check against the operator executed directly
    from parquet_to_csv_spark.operators.dedup import exact_dedup
    from parquet_to_csv_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    want = {
        r["lang"]: r["n"]
        for r in exact_dedup(spark, sf_dir)
        .join(docs, "doc_id")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert langs == want
