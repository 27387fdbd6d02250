"""A reaped artifact directory is rebuilt, never served.

``layout.claim_artifact`` trusts DONE.json only while the directory it
names still exists. Every build-once consumer calls it directly, so a
committed stage removed by a /tmp reaper (or by hand) between two calls
in the same process must be rebuilt on the second call with identical
rows — for a snapshot table, an appended IVF index and a staged
streaming source alike.
"""

from __future__ import annotations

import shutil

import pytest

from parquet_to_csv_spark.operators.similarity import ivf_index_append_topk
from parquet_to_csv_spark.sources.layout import snapshot_delta_scan
from parquet_to_csv_spark.sources.tables import source_salt
from parquet_to_csv_spark.streaming.stream import dedup_drain_query


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize(
    "query, key_prefix, table",
    [
        pytest.param(snapshot_delta_scan, "snap_delta_", "orders",
                     id="snapshot_delta_scan"),
        pytest.param(ivf_index_append_topk, "ivf_append_c16_b5_", "embeddings",
                     id="ivf_index_append_topk"),
        pytest.param(dedup_drain_query, "evdedup_", "events",
                     id="dedup_drain_query"),
    ],
)
def test_reaped_stage_is_rebuilt(
    spark, sf_dir, art_root, committed_dir, query, key_prefix, table
):
    key = key_prefix + source_salt(sf_dir, table)
    first = _rows(query(spark, sf_dir))
    assert first
    reaped = committed_dir(key)
    shutil.rmtree(reaped)

    assert _rows(query(spark, sf_dir)) == first
    assert committed_dir(key) != reaped
