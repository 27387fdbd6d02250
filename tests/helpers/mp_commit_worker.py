"""Round-9 multi-process commit-stress worker (verdict item 6).

Runs as a SEPARATE Python process with its own JVM, its own
``_SEGMENT_CACHE`` state, and its own SparkSession —
the cross-PROCESS complement to the round-8 true-thread races, which
all shared one driver. ``os.link``/``mkdir`` atomicity holds across
processes, but the claim→write→publish sequencing had only ever been
exercised under one process's shared module state before this.

Usage: ``python mp_commit_worker.py <table_dir> <worker_id> <sync_dir>``

Protocol (file barriers under ``sync_dir``):
  phase 1 — commit_to_ref on ref "main" (concurrent CAS publishes)
  barrier p1
  phase 2 — two appends + one MERGE slice on the mainline (concurrent)
  barrier p2
  final   — read latest + ref head, print one JSON line for the parent
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

N_WORKERS = 3


def barrier(sync_dir: str, phase: str, w: int, timeout: float = 120.0) -> None:
    open(os.path.join(sync_dir, f"{phase}-{w}.done"), "w").write("1")
    deadline = time.time() + timeout
    while time.time() < deadline:
        if all(
            os.path.exists(os.path.join(sync_dir, f"{phase}-{i}.done"))
            for i in range(N_WORKERS)
        ):
            return
        time.sleep(0.05)
    raise TimeoutError(f"worker {w}: barrier {phase} timed out")


def main() -> None:
    table_dir, w, sync_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3]

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from pyspark.sql import functions as F

    import parquet_to_csv_spark.sources.layout as L
    from parquet_to_csv_spark.session import get_spark

    spark = get_spark(f"mp-worker-{w}", shuffle_partitions=4)

    def df(lo, hi, v):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.lit(v).alias("v")
        )

    # phase 1: concurrent ref publish (CAS + rebase across processes)
    L.commit_to_ref(
        spark, table_dir, "main", df(500 * (w + 1), 500 * (w + 1) + 3, -1),
        max_attempts=30,
    )
    barrier(sync_dir, "p1", w)

    # phase 2: mainline appends + MERGE of this worker's disjoint slice
    L.commit_version(
        spark, table_dir, df(10_000 * (w + 1), 10_000 * (w + 1) + 5, -2),
        max_attempts=30,
    )
    L.merge_into(
        spark, table_dir,
        df(10 * w, 10 * w + 10, w + 1),  # upsert seed slice to v=w+1
        "k", max_attempts=30,
    )
    L.commit_version(
        spark, table_dir,
        df(10_000 * (w + 1) + 10, 10_000 * (w + 1) + 15, -2),
        max_attempts=30,
    )
    barrier(sync_dir, "p2", w)

    # final read: every process must see the same table and ref state
    latest = sorted(
        (r["k"], r["v"]) for r in L.read_version(spark, table_dir).collect()
    )
    ref = sorted(
        (r["k"], r["v"]) for r in L.read_ref(spark, table_dir, "main").collect()
    )
    print(json.dumps({
        "w": w,
        "latest_version": L.latest_version(table_dir),
        "latest": latest,
        "ref": ref,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
