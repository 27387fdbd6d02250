from __future__ import annotations

import json
import os

import pytest

from parquet_to_csv_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# SPARK_GRAFT_COMMIT_BACKEND=conditional-put runs the ENTIRE suite with
# the object-store commit double installed (round 9, verdict item 1):
# every snapshot-store gate must hold without os.link / atomic-mkdir
# atomicity anywhere. Unset -> the default POSIX backend.
if os.environ.get("SPARK_GRAFT_COMMIT_BACKEND") == "conditional-put":
    import parquet_to_csv_spark.sources.layout as _layout

    _layout.set_commit_backend(_layout.ConditionalPutCommitBackend())


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def art_root(spark, tmp_path):
    """A fresh, test-private artifact root for ``claim_artifact``."""
    root = str(tmp_path / "artifacts")
    spark.conf.set("spark.graft.artifactDir", root)
    try:
        yield root
    finally:
        spark.conf.unset("spark.graft.artifactDir")


@pytest.fixture()
def committed_dir(spark):
    """``committed_dir(key)``: the directory ``layout.claim_artifact``
    committed for ``key``, read from ``<artifact_root>/<key>/DONE.json``."""
    from parquet_to_csv_spark.sources.layout import artifact_root

    def _dir(key: str) -> str:
        with open(os.path.join(artifact_root(spark), key, "DONE.json")) as f:
            return json.load(f)["dir"]

    return _dir
