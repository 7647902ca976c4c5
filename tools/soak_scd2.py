"""SCD2 chain soak: per-batch cost over an N-batch merge chain for

  (a) naive  — read full dim, scd2_merge, overwrite full dim: per-batch
      I/O grows with accumulated closed history;
  (b) store  — the split-layout Scd2Store (sinks/scd2_store.py): the
      CURRENT table is overwritten (constant size), history is an
      O(batch) manifest append — per-batch I/O is O(|current| +
      |batch|) however old the dimension gets.

Each mode runs in its OWN subprocess JVM (the tools/soak.py isolation
lesson: a long shared session's GC/JIT drift dwarfs the effect under
measurement). The dimension is 500k keys x ~560 bytes; every batch
changes HALF the keys, so the naive snapshot grows by ~250k closed
rows per batch (10:1 history:current by batch 20 — a years-old
dimension's shape) while the store's working set stays fixed. The
payload is 16 chained md5s of (key, version) — unique per VERSION, so
parquet dictionary/RLE encoding cannot flatten the history rewrite the
way a constant-per-key payload would.

Usage: python tools/soak_scd2.py [n_batches]    (parent; default 20)
       python tools/soak_scd2.py --mode naive|store n root  (child)
Tables live under a fresh temporary root per run (removed at the end),
so concurrent soaks never share or delete each other's tables.
Prints one JSON line per (mode, batch) and a parent summary with
early/tail per-batch means per mode for SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_KEYS = 500_000


def batch_frame(spark, stamp: int):
    """500k-key dimension snapshot; stamp s bumps the price of keys
    where (k + s) is even — cumulative by construction (price encodes
    the key's change count), so nothing ever reverts. The payload
    hashes (k, price): every VERSION gets distinct bytes."""
    from pyspark.sql import functions as F

    changes = sum(
        [
            F.when((F.col("k") + s) % 2 == 0, 1).otherwise(0)
            for s in range(2, stamp + 1)
        ],
        F.lit(0),
    )
    base = spark.range(N_KEYS).select(
        F.col("id").alias("k"),
        F.lit("S").alias("status"),
        (F.col("id") + changes.cast("double")).alias("price"),
    )
    payload = F.concat(
        *[
            F.md5(
                F.concat_ws(":", F.col("k"), F.col("price"), F.lit(i))
            )
            for i in range(16)
        ]
    )
    return base.withColumn("payload", payload)


def run_mode(mode: str, n_batches: int, work: str) -> None:
    from stock_bars_data_engineering_project_spark.operators.merge import (
        scd2_init,
        scd2_merge,
    )
    from stock_bars_data_engineering_project_spark.session import get_spark
    from stock_bars_data_engineering_project_spark.sinks.scd2_store import (
        Scd2Store,
    )
    from stock_bars_data_engineering_project_spark.sinks.warehouse import (
        ParquetWarehouse,
    )

    spark = get_spark(f"soak-scd2-{mode}")
    wh = ParquetWarehouse(spark, os.path.join(work, mode))
    store = Scd2Store(wh, "dim")
    times = []
    for stamp in range(1, n_batches + 1):
        b = batch_frame(spark, stamp)
        t0 = time.time()
        if mode == "naive":
            if stamp == 1:
                wh.overwrite(scd2_init(b, ("k",), 1), "dim")
            else:
                wh.overwrite(
                    scd2_merge(
                        wh.read("dim"), b, ("k",), ("status", "price"), stamp
                    ),
                    "dim",
                )
        else:
            store.apply(b, ("k",), ("status", "price"), stamp)
        t = round(time.time() - t0, 2)
        times.append(t)
        print(json.dumps({"mode": mode, "batch": stamp, "sec": t}), flush=True)
    final = (wh.read("dim") if mode == "naive" else store.read()).count()
    print(
        json.dumps({"mode": mode, "final_rows": final, "times": times}),
        flush=True,
    )


def main() -> None:
    if "--mode" in sys.argv:
        i = sys.argv.index("--mode")
        run_mode(sys.argv[i + 1], int(sys.argv[i + 2]), sys.argv[i + 3])
        return

    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    results = {}
    work = tempfile.mkdtemp(prefix="soak_scd2_")
    try:
        for mode in ("naive", "store"):
            out = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--mode",
                    mode,
                    str(n_batches),
                    work,
                ],
                capture_output=True,
                text=True,
                check=True,
            ).stdout
            for ln in out.splitlines():
                if ln.startswith("{"):
                    print(ln, flush=True)
                    rec = json.loads(ln)
                    if "times" in rec:
                        results[mode] = rec
    finally:
        shutil.rmtree(work, ignore_errors=True)
    summary = {}
    for mode, rec in results.items():
        ts = rec["times"]
        # batches 1-2 carry init + JIT warm-up; compare an early warm
        # window against the tail
        summary[mode] = {
            "mean_early(3..5)": round(sum(ts[2:5]) / 3, 2),
            "mean_tail5": round(sum(ts[-5:]) / 5, 2),
            "tail_over_early": round(
                (sum(ts[-5:]) / 5) / (sum(ts[2:5]) / 3), 2
            ),
            "final_rows": rec["final_rows"],
        }
    print(json.dumps({"summary": summary, "n_batches": n_batches}))


if __name__ == "__main__":
    main()
