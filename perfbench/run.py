"""Benchmark of the stock pipeline and the registry query suite.

    python3 perfbench/run.py --workload incremental --seed 1 --seconds 15 --trace 0

Run it from the repository root. Workloads (one client, closed loop, on
every local core):

- ``incremental``: scheduled ``run()`` calls with ``load_method="upsert"``
  on a warehouse preloaded with years of daily bars; each run ingests one
  more trading week.
- ``query_suite``: steady passes over one registry query per family
  (window, join, dedup, text, retrieval, merge) on seeded
  TPC-H-ish tables, each checked against its DuckDB oracle.

The launcher pins the sandbox — ``SPARK_GRAFT_CPUS`` to the usable cores,
``SPARK_GRAFT_DRIVER_MEM`` to a quarter of physical memory (1-4 GiB),
``SPARK_LOCAL_DIRS`` and ``TMPDIR`` to a scratch directory under
``.perfbench_work/`` that is also the working directory — then runs
``worker.py`` in its own process group, stops every process of that group
when the worker ends, and prints a report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 1`` reports
per-layer metrics instead of end-to-end ones and writes the spans to
``.perfbench_out/``. ``--smoke`` runs tiny inputs, for the harness test.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "stock_bars_data_engineering_project_spark"
WORKLOADS = ("incremental", "query_suite")
TIMEOUT_S = 145  # with stop_group's grace, the run ends within 180 s


def sandbox_env(work: Path) -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_SF_DIR", None)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4, max(1, int(ram_gib // 4)))}g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        # every JVM (spark-submit's launcher too): temp files under the
        # scratch dir, no hsperfdata files in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "PYTHONPATH": str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
    })
    return env


def _become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM's Python workers) so they can
    be waited for; Linux only, harmless elsewhere."""
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _reap() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_group(pgid: int, exit_grace_s: float) -> None:
    """Give the process group ``exit_grace_s`` to exit by itself (the JVM
    runs its shutdown hooks once the worker is gone), then terminate and
    kill what is left; wait for every process."""
    for sig, grace_s in ((None, exit_grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(pgid, sig)
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            _reap()
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one set-up")
    args = ap.parse_args()

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    env = sandbox_env(work)
    result_path = work / "result.json"
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", str(work),
        "--out", str(ROOT / ".perfbench_out"),
        "--result", str(result_path),
    ] + (["--smoke"] if args.smoke else [])

    _become_subreaper()
    # worker output (Spark logs included) goes to stderr: stdout carries
    # only the report and the result line
    proc = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"error: worker did not finish within {TIMEOUT_S} s", file=sys.stderr)
        code = None
    finally:
        t_stop = time.monotonic()
        stop_group(proc.pid, exit_grace_s=15.0 if proc.returncode is not None else 0.0)
        stop_s = time.monotonic() - t_stop
        with contextlib.suppress(ChildProcessError):
            proc.wait(timeout=5)
    try:
        if code != 0 or not result_path.is_file():
            print(f"error: worker failed (exit {code})", file=sys.stderr)
            return 1
        result = json.loads(result_path.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report = result.pop("report")
    report["stop_s"] = [stop_s, "s", "worker exit to the end of its last process"]
    for key in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS", "TMPDIR"):
        report[f"sandbox.{key}"] = [env[key], "", ""]
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  trace {args.trace}")
    for name, (value, unit, note) in report.items():
        shown = f"{value:.4f}" if isinstance(value, float) else value
        print(f"  {name} = {shown} {unit}" + (f"  ({note})" if note else ""))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
