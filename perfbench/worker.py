"""One benchmark run: set up, warm up, measure, check, report.

``run.py`` starts this in a sandboxed working directory and reads the
result file it writes; see ``run.py`` for the command line. Steps:

1. make the workload's inputs from the seed (not timed);
2. set up ``SETUPS`` times — Spark session start, stockbars DataSource
   registration and package ship, the workload's preload — and take the
   median as ``setup_s``;
3. one warm-up operation, so JIT and plan caches are filled before timing;
4. a closed loop with one client for ``--seconds`` and at least
   ``MIN_OPS`` operations: each operation starts when the previous one
   has ended;
5. check the outputs, count failed operations, and write the result.

With ``--trace 1`` the loop alternates traced and untraced operations;
the traced ones give the per-layer metrics and the difference of the two
medians is the tracing overhead. Spans go to ``trace-<workload>-seed<n>.json``
in the output directory.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import json
import os
import statistics
import time
from pathlib import Path

import pyarrow.parquet as pq

import inputs
from checks import QueryOracle, pipeline_problems
from tracing import Tracer

ROOT = Path(__file__).resolve().parent.parent

SETUPS = 3
# a run measures at least this many operations, so its median is never a
# single sample
MIN_OPS = 2

# Per workload, the sizes of a real run and of the tiny smoke run.
SIZES = {
    "incremental": {
        "full": {"tickers": 10, "history_days": 4 * 365},
        "smoke": {"tickers": 3, "history_days": 30},
    },
    "query_suite": {"full": {"sf": 0.01}, "smoke": {"sf": 0.001}},
}

# One registry query per family of the repository's bench set.
QUERY_SUITE = {
    "full": (
        "flagship_analysis",  # window
        "j1_dim_join",  # join
        "dedup_exact_groups",  # dedup
        "text_metrics",  # text
        "ann_topk_suite",  # retrieval
        "incremental_merge_upsert",  # merge
    ),
    "smoke": ("flagship_analysis", "incremental_merge_upsert"),
}

# Per-layer metrics: name -> unit. Every workload reports all of them; a
# layer the workload never reaches reads 0.
PIPELINE_LAYER_METRICS = {
    "sources.extract_s": "s",
    "sources.partitions": "count",
    "sources.rows": "count",
    "sources.ms_per_partition": "ms",
    "pipeline.transform_s": "s",
    "pipeline.checkpoint_s": "s",
    "sinks.load_s": "s",
    "sinks.merge_self_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.write_amplification": "ratio",
    "sinks.versions_retained": "count",
    "sinks.table_files": "count",
    "sinks.table_rows": "count",
    "sinks.storage_amplification": "ratio",
    "analysis.rebuild_s": "s",
    "analysis.rows_recomputed_per_row_changed": "ratio",
}
COMMON_LAYER_METRICS = {
    "session.start_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "trace.op_p50_s": "s",
    "trace.untraced_op_p50_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = dict(COMMON_LAYER_METRICS)
    units.update(PIPELINE_LAYER_METRICS)
    units.update({f"query.{q}_s": "s" for q in QUERY_SUITE["full"]})
    return units


def median(values):
    return statistics.median(values) if values else 0.0


def parquet_files(root: str) -> dict[str, int]:
    """Every parquet data file under ``root`` with its size in bytes."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag the Spark jobs started inside the block with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def spark_counts(spark, group: str) -> dict[str, int]:
    """Jobs, tasks and failed tasks Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(jid)
        if job is None:
            continue
        jobs += 1
        for sid in job.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return {"spark.jobs": jobs, "spark.tasks": tasks, "spark.failed_tasks": failed}


class IncrementalWorkload:
    """Scheduled upsert runs on a warehouse preloaded with years of history.

    Each operation is one ``run()`` with ``load_method="upsert"`` that
    ingests one more trading week, given as the source's ``end`` option.
    The run re-reads the checkpoint day, so consecutive runs overlap.
    """

    def __init__(self, seed: int, size: dict, work: Path):
        self.seed = seed
        self.work = work
        self.symbols = inputs.universe(seed, size["tickers"])
        self.history_end = dt.date(2023, 12, 29)  # a Friday
        self.history_start = self.history_end - dt.timedelta(days=size["history_days"])
        self.history_path = str(work / "inputs" / "history.parquet")
        os.makedirs(os.path.dirname(self.history_path), exist_ok=True)
        pq.write_table(
            inputs.history_table(seed, self.symbols, self.history_start, self.history_end),
            self.history_path,
        )
        self.runs = 0
        self.wh = None
        self.dim = None

    def preload(self, spark, setup: int) -> None:
        from stock_bars_data_engineering_project_spark.pipeline import stock_pipeline as sp
        from stock_bars_data_engineering_project_spark.sinks.checkpoint import save_checkpoint
        from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse

        cfg = sp.PipelineConfig()
        self.wh = ParquetWarehouse(spark, str(self.work / f"warehouse{setup}"))
        self.wh.overwrite(spark.read.parquet(self.history_path), cfg.table)
        save_checkpoint(self.wh, cfg.table, f"{self.history_end.isoformat()}T04:00:00Z")
        sp.rebuild_analysis(self.wh, cfg)
        self.dim = spark.createDataFrame(
            self.symbols, "Company string, Symbol string, Exchange string"
        )
        self.runs = 0

    def op(self, spark) -> tuple[int, int]:
        """One scheduled run; returns (attempted, failed) operations."""
        from stock_bars_data_engineering_project_spark.pipeline import stock_pipeline as sp

        self.runs += 1
        cfg = sp.PipelineConfig(
            load_method="upsert",
            extra_source_options={"seed": str(self.seed), "end": self.last_day().isoformat()},
        )
        try:
            info = sp.run(spark, self.wh, cfg, self.dim)
        except Exception as e:  # noqa: BLE001 — a failing run is counted, not fatal
            print(f"run failed: {type(e).__name__}: {e}", flush=True)
            return 1, 1
        # run() catches its own errors into info["error"] and returns
        # normally, so a failed run would otherwise look like a fast one
        return 1, int("error" in info)

    warmup = op

    def last_day(self) -> dt.date:
        """Last trading-week end ingested so far."""
        return self.history_end + dt.timedelta(days=7 * self.runs)

    def check(self) -> list[str]:
        days = inputs.trading_days(self.history_start, self.last_day())
        return pipeline_problems(
            self.wh.data_files("stock_bars"),
            self.wh.data_files("stock_bars_analysis"),
            self.wh.data_files("check_points"),
            expected_rows=len(self.symbols) * len(days),
        )

    def storage_amplification(self) -> float:
        live = sum(
            os.path.getsize(f) for t in self.wh.tables() for f in self.wh.data_files(t)
        )
        return sum(parquet_files(self.wh.root).values()) / live

    def targets(self, tracer: Tracer) -> None:
        from stock_bars_data_engineering_project_spark.operators import merge
        from stock_bars_data_engineering_project_spark.pipeline import stock_pipeline as sp
        from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse

        tracer.target(sp, "run", "pipeline")
        tracer.target(sp, "extract_bars", "sources")
        tracer.target(sp, "register_bars_source", "sources")
        tracer.target(sp, "transform_bars", "pipeline")
        tracer.target(sp, "load_bars", "sinks")
        tracer.target(sp, "get_checkpoint", "sinks")
        tracer.target(sp, "save_checkpoint", "sinks")
        tracer.target(sp, "rebuild_analysis", "operators")
        tracer.target(sp, "bars_analysis", "operators")
        tracer.target(merge, "upsert_frames", "operators")
        for method in ("merge", "overwrite", "append", "read", "log"):
            tracer.target(ParquetWarehouse, method, "sinks", f"warehouse.{method}")

    def traced_op(self, spark, tracer: Tracer, op_id: int) -> tuple[tuple[int, int], dict]:
        """One operation with tracing on, plus the measurements around it."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from stock_bars_data_engineering_project_spark.pipeline import stock_pipeline as sp

        before = parquet_files(self.wh.root)
        with job_group(spark, f"op{op_id}") as group:
            tracer.install()
            try:
                result = self.op(spark)
            finally:
                tracer.uninstall()
        m = spark_counts(spark, group)
        after = parquet_files(self.wh.root)
        new = [p for p in after if p not in before]

        def rows_in(table: str) -> int:
            prefix = os.path.join(self.wh.table_path(table), "")
            return sum(pq.read_metadata(p).num_rows for p in new if p.startswith(prefix))

        # extraction is lazy and lands inside load_bars, so time it with a
        # separate noop write of the same extract_bars call
        args, kwargs = tracer.last_args["extract_bars"]
        obs = Observation("extract")
        with job_group(spark, f"probe{op_id}") as probe:
            t0 = time.perf_counter()
            sp.extract_bars(*args, **kwargs).observe(
                obs, F.count(F.lit(1)).alias("rows")
            ).write.format("noop").mode("overwrite").save()
            extract_s = time.perf_counter() - t0
        batch_rows = obs.get["rows"]
        partitions = spark_counts(spark, probe)["spark.tasks"]

        load_s = tracer.durations(op_id, "load_bars")
        table_rows = sum(pq.read_metadata(f).num_rows for f in self.wh.data_files("stock_bars"))
        m.update({
            "sources.extract_s": extract_s,
            "sources.partitions": partitions,
            "sources.rows": batch_rows,
            "sources.ms_per_partition": 1000 * extract_s / max(1, partitions),
            "pipeline.transform_s": tracer.durations(op_id, "transform_bars"),
            "pipeline.checkpoint_s": tracer.durations(op_id, "get_checkpoint", "save_checkpoint"),
            "sinks.load_s": load_s,
            "sinks.merge_self_s": load_s - extract_s,
            "sinks.bytes_written": sum(after[p] for p in new),
            "sinks.files_written": len(new),
            "sinks.write_amplification": rows_in("stock_bars") / max(1, batch_rows),
            "sinks.versions_retained": len(self.wh.versions("stock_bars")),
            "sinks.table_files": len(self.wh.data_files("stock_bars")),
            "sinks.table_rows": table_rows,
            "sinks.storage_amplification": self.storage_amplification(),
            "analysis.rebuild_s": tracer.durations(op_id, "rebuild_analysis"),
            "analysis.rows_recomputed_per_row_changed": (
                rows_in("stock_bars_analysis") / max(1, batch_rows)
            ),
        })
        return result, m


class QuerySuiteWorkload:
    """Steady passes over registry queries on seeded TPC-H-ish tables.

    One operation is one pass: every suite query runs once, fully
    materialised through a ``noop`` write. The warm-up pass collects each
    result instead and compares it with the query's DuckDB oracle.
    """

    def __init__(self, seed: int, size: dict, work: Path, names: tuple[str, ...]):
        self.names = names
        self.tables = str(work / "inputs" / "tables")
        inputs.write_query_tables(seed, size["sf"], self.tables)
        self.problems: list[str] = []
        self.cold_s: dict[str, float] = {}
        self.last_pass: dict[str, float] = {}

    def preload(self, spark, setup: int) -> None:
        pass  # the tables are the benchmark's inputs; nothing is loaded

    def warmup(self, spark) -> tuple[int, int]:
        from stock_bars_data_engineering_project_spark.plans import get_oracle_sql, get_queries
        from stock_bars_data_engineering_project_spark.sources.readers import TESTDATA_TABLES

        queries, oracles = get_queries(), get_oracle_sql()
        oracle = QueryOracle(
            ROOT, self.tables, TESTDATA_TABLES, {n: oracles[n] for n in self.names}
        )
        failed = 0
        results = {}
        for name in self.names:
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, self.tables)
                results[name] = (df.collect(), df.columns)
            except Exception as e:  # noqa: BLE001 — a failing query is counted, not fatal
                self.problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
                failed += 1
                continue
            self.cold_s[name] = time.perf_counter() - t0
        for name, (rows, columns) in results.items():
            found = oracle.problems(name, rows, columns)
            self.problems += found
            failed += bool(found)
        return len(self.names), failed

    def op(self, spark, tracer: Tracer | None = None) -> tuple[int, int]:
        """One pass over the suite; returns (attempted, failed) queries."""
        from stock_bars_data_engineering_project_spark.plans import get_queries

        queries = get_queries()
        failed = 0
        for name in self.names:
            t0 = time.perf_counter()
            span = tracer.span(f"query.{name}", "plans") if tracer else contextlib.nullcontext()
            try:
                with span:
                    queries[name](spark, self.tables).write.mode("overwrite").format("noop").save()
            except Exception as e:  # noqa: BLE001
                self.problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
                failed += 1
            self.last_pass[name] = time.perf_counter() - t0
        return len(self.names), failed

    def check(self) -> list[str]:
        return self.problems

    def targets(self, tracer: Tracer) -> None:
        pass  # each query call is traced as one span in op()

    def traced_op(self, spark, tracer: Tracer, op_id: int) -> tuple[tuple[int, int], dict]:
        with job_group(spark, f"op{op_id}") as group:
            result = self.op(spark, tracer)
        m = spark_counts(spark, group)
        m.update({f"query.{name}_s": t for name, t in self.last_pass.items()})
        return result, m


def set_up(workload: str, wl, setups: int, tracer: Tracer | None):
    """Start the session, register the source and preload, ``setups``
    times; returns the last session and each set-up's wall time."""
    from stock_bars_data_engineering_project_spark import session
    from stock_bars_data_engineering_project_spark.sources import bars_source

    if tracer is not None:
        tracer.target(session, "get_spark", "session")
        tracer.target(bars_source, "register", "sources", "register_bars_source")
        tracer.install()
    spark = None
    setup_s = []
    try:
        for k in range(setups):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = session.get_spark(
                f"perfbench-{workload}", extra_conf={"spark.ui.showConsoleProgress": "false"}
            )
            bars_source.register(spark)
            wl.preload(spark, k)
            setup_s.append(time.perf_counter() - t0)
    finally:
        if tracer is not None:
            tracer.uninstall()
    return spark, setup_s


def measure(spark, wl, seconds: float, tracer: Tracer | None) -> dict:
    """Closed loop for ``seconds``: one warm-up operation, then operations
    back to back; with a tracer every other operation is traced."""
    t0 = time.perf_counter()
    attempted, failed = wl.warmup(spark)
    out = {"warmup_s": time.perf_counter() - t0, "op_s": [], "traced_s": [], "layer": []}
    start = time.perf_counter()
    i = 0
    while time.perf_counter() - start < seconds or i < MIN_OPS or not out["op_s"]:
        i += 1
        t0 = time.perf_counter()
        if tracer is not None and i % 2 == 1:
            tracer.op = i
            (a, f), m = wl.traced_op(spark, tracer, i)
            tracer.op = None
            out["traced_s"].append(time.perf_counter() - t0)
            out["layer"].append(m)
        else:
            a, f = wl.op(spark)
            out["op_s"].append(time.perf_counter() - t0)
        attempted, failed = attempted + a, failed + f
    out.update(measured_s=time.perf_counter() - start, attempted=attempted, failed=failed)
    return out


def per_layer_metrics(tracer: Tracer, m: dict) -> dict[str, float]:
    """Median over traced operations of each per-layer metric; metrics of
    layers the workload does not reach read 0."""
    values = {k: 0.0 for k in per_layer_units()}
    for k in m["layer"][0]:
        values[k] = median([op[k] for op in m["layer"]])
    values["session.start_s"] = median(
        [s.duration for s in tracer.spans if s.name == "get_spark"]
    )
    values["trace.op_p50_s"] = median(m["traced_s"])
    values["trace.untraced_op_p50_s"] = median(m["op_s"])
    values["trace.overhead_s"] = values["trace.op_p50_s"] - values["trace.untraced_op_p50_s"]
    return values


def _times(values: list[float]) -> str:
    return f"median of {len(values)}: " + " ".join(f"{t:.3f}" for t in values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--work", required=True, help="scratch directory of this run")
    ap.add_argument("--out", required=True, help="directory for the trace file")
    ap.add_argument("--result", required=True, help="file the result JSON goes to")
    args = ap.parse_args()

    mode = "smoke" if args.smoke else "full"
    size = SIZES[args.workload][mode]
    work = Path(args.work)
    if args.workload == "incremental":
        wl = IncrementalWorkload(args.seed, size, work)
    else:
        wl = QuerySuiteWorkload(args.seed, size, work, QUERY_SUITE[mode])
    tracer = Tracer() if args.trace else None
    if tracer is not None:
        wl.targets(tracer)

    spark, setup_s = set_up(args.workload, wl, 1 if args.smoke else SETUPS, tracer)
    m = measure(spark, wl, args.seconds, tracer)
    problems = wl.check()
    report: dict[str, list] = {}
    if args.workload == "incremental":
        report["storage_amplification"] = [
            wl.storage_amplification(),
            "ratio",
            f"parquet bytes under the warehouse root / bytes of live snapshots, "
            f"after {wl.runs} scheduled runs",
        ]
    spark.stop()

    name = {"incremental": "incremental_run_p50_s", "query_suite": "query_suite_s"}
    report[name[args.workload]] = [median(m["op_s"]), "s", _times(m["op_s"])]
    report["setup_s"] = [median(setup_s), "s", _times(setup_s)]
    report["failed_frac"] = [
        m["failed"] / m["attempted"], "ratio", f"{m['failed']} of {m['attempted']} operations"
    ]
    report["warmup_s"] = [m["warmup_s"], "s", "first operation, not measured"]
    report["measured_s"] = [m["measured_s"], "s", "length of the measured loop"]
    if isinstance(wl, QuerySuiteWorkload):
        for q, t in wl.cold_s.items():
            report[f"cold.{q}_s"] = [t, "s", "first execution, collected and checked"]
    for p in problems:
        print(f"check failed: {p}", flush=True)

    if tracer is None:
        metrics = {
            "setup_s": {"value": median(setup_s), "unit": "s"},
            "op_p50_s": {"value": median(m["op_s"]), "unit": "s"},
        }
    else:
        values = per_layer_metrics(tracer, m)
        units = per_layer_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        os.makedirs(args.out, exist_ok=True)
        tracer.dump(
            os.path.join(args.out, f"trace-{args.workload}-seed{args.seed}.json"),
            {"per_op": m["layer"], "traced_op_s": m["traced_s"], "untraced_op_s": m["op_s"]},
        )
        report["trace.overhead_s"] = [
            values["trace.overhead_s"],
            "s",
            f"traced minus untraced median ({len(m['traced_s'])} vs {len(m['op_s'])} operations)",
        ]
        if args.workload == "incremental":
            batch, table = values["sources.rows"], values["sinks.table_rows"]
            report["sinks.write_amplification"] = [
                values["sinks.write_amplification"], "ratio",
                f"rows written to the new stock_bars snapshot / {batch:.0f} batch rows; "
                f"table {table:.0f} rows",
            ]
            report["analysis.rows_recomputed_per_row_changed"] = [
                values["analysis.rows_recomputed_per_row_changed"], "ratio",
                f"stock_bars_analysis rows rewritten / {batch:.0f} batch rows",
            ]
            report["sinks.merge_self_s"] = [
                values["sinks.merge_self_s"], "s", "estimate: load_bars time minus extract probe"
            ]

    result = {
        "correct": not problems,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": metrics,
        "report": report,
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
