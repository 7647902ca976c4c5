"""Scaling soak for warehouse file-level data skipping.

Holds per-file row count fixed and scales the FILE COUNT (the 100 TB
axis: a day of appends is more files, not bigger ones), measuring at
each scale:

- t_plan_ms      — `skip_files` planning wall time off the persisted
                   `_STATS` manifest (expected O(files) driver work,
                   zero Spark jobs),
- survivors      — files surviving a fixed 1/32nd-of-the-keyspace range
                   (expected a ~constant FRACTION, so the pruned read's
                   input grows 32x slower than the table),
- t_pruned_s     — aggregate over `read_skipped` (expected to track the
                   survivor count, not the table),
- t_full_s       — the same aggregate over `read().filter(...)`
                   (expected to track the table: every footer opened,
                   every file task-scheduled even when row-group stats
                   then skip its pages),
- t_bloom_ms     — equality planning via the per-file bloom manifest.

Usage: python tools/soak_skipping.py [scales ...]   (default 1 2 4 8)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from stock_bars_data_engineering_project_spark.session import get_spark  # noqa: E402
from stock_bars_data_engineering_project_spark.sinks.warehouse import (  # noqa: E402
    ParquetWarehouse,
)

BASE_FILES = 32
ROWS_PER_FILE = 4000
KEYSPACE = 1 << 20


def soak_scale(spark, root: str, scale: int) -> dict:
    n_files = BASE_FILES * scale
    n_rows = ROWS_PER_FILE * n_files
    wh = ParquetWarehouse(spark, os.path.join(root, f"x{scale}"))
    df = spark.range(n_rows).select(
        F.col("id"),
        (F.col("id") * 2654435761 % KEYSPACE).alias("k"),
        # each user appears ~4 times -> lands in at most 4 files, so the
        # bloom has something to prove (a dense user domain would put
        # every user in every file and "keep all" would be CORRECT)
        F.concat(F.lit("u"), F.col("id") % (n_rows // 4)).alias("user"),
    )
    wh.overwrite(df, "t", cluster_by=("k",), n_files=n_files)
    wh.write_stats("t", ["k", "user"], bloom_cols=("user",), bloom_bits=1 << 16)
    total_files = len(wh.data_files("t"))

    lo, hi = 0, KEYSPACE // 32 - 1
    t0 = time.perf_counter()
    survivors = wh.skip_files("t", {"k": (lo, hi)})
    t_plan_ms = (time.perf_counter() - t0) * 1e3

    def _timed(mk):
        # min-of-2 so neither path pays the page-cache warmup for the other
        best, res = float("inf"), None
        for _ in range(2):
            t0 = time.perf_counter()
            res = mk().agg(F.count(F.lit(1)), F.sum("id")).first()
            best = min(best, time.perf_counter() - t0)
        return best, res

    t_pruned_s, n_pruned = _timed(lambda: wh.read_skipped("t", {"k": (lo, hi)}))
    t_full_s, n_full = _timed(
        lambda: wh.read("t").where(F.col("k").between(lo, hi))
    )
    assert tuple(n_pruned) == tuple(n_full), "pruned read diverged"

    t0 = time.perf_counter()
    eq = wh.skip_files("t", equals={"user": "u7"})
    t_bloom_ms = (time.perf_counter() - t0) * 1e3

    return {
        "scale": scale,
        "files": total_files,
        "survivors": len(survivors),
        "t_plan_ms": round(t_plan_ms, 1),
        "t_pruned_s": round(t_pruned_s, 3),
        "t_full_s": round(t_full_s, 3),
        "bloom_survivors": len(eq),
        "t_bloom_ms": round(t_bloom_ms, 1),
        "rows": n_rows,
    }


def soak_delete(spark, root: str, scale: int) -> dict:
    """delete_where O(touched) claim: table size scales, the deleted
    slice does not. Partition-scoped predicate -> discovery scan
    partition-prunes and the whole delete is O(touched); value-only
    predicate -> discovery is an O(table) pushdown scan, write still
    O(touched)."""
    n_rows = 64 * ROWS_PER_FILE * scale
    wh = ParquetWarehouse(spark, os.path.join(root, f"d{scale}"))
    df = spark.range(n_rows).select(
        F.col("id"), (F.col("id") % 64).cast("int").alias("bucket")
    )
    wh.overwrite(df, "t", partition_by=("bucket",))
    t0 = time.perf_counter()
    n1 = wh.delete_where("t", (F.col("bucket") == 7) & (F.col("id") < 5000))
    t_scoped = time.perf_counter() - t0
    t0 = time.perf_counter()
    n2 = wh.delete_where("t", F.col("id") % 997 == 13)  # value-only
    t_value = time.perf_counter() - t0
    return {
        "scale": scale,
        "rows": n_rows,
        "t_delete_scoped_s": round(t_scoped, 2),
        "t_delete_value_s": round(t_value, 2),
        "touched_scoped": n1,
        "touched_value": n2,
    }


def main() -> None:
    args = sys.argv[1:]
    delete_mode = "--delete" in args
    scales = [int(a) for a in args if a != "--delete"] or [1, 2, 4, 8]
    # a fresh root per run, so concurrent runs never share tables
    root = tempfile.mkdtemp(prefix="soak_skipping_")
    try:
        spark = get_spark("soak_skipping")
        fn = soak_delete if delete_mode else soak_scale
        for s in scales:
            print(json.dumps(fn(spark, root, s)), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
