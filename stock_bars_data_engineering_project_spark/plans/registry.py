"""Named query registry — the single source of truth behind
``__spark_entry__.py``'s ``queries()`` / ``oracle_sql()`` contract.

Every operator claimed in SURVEY.md §2 registers here as a
``(spark, sf_dir) -> DataFrame`` callable, optionally paired with an
ANSI-SQL oracle string that DuckDB runs over the same parquet tables.
Column names are aliased identically on both sides — the driver's compare
sorts columns by name before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


# The build-once memos of plans/tpch.py and plans/extensions.py are
# keyed on (sf_dir, mtime), so a long-lived session that appends to a
# source table strands one entry per superseded version. Bound every
# memo-put: 8 generations is far beyond what any bench or driver run
# cycles through, and evicting a warehouse handle only drops the
# in-process pointer — the scratch reaper owns the on-disk lifetime,
# and a later miss simply rebuilds.
_MEMO_CAP = 8


def _memo_put(memo: dict, key, value) -> None:
    memo[key] = value
    while len(memo) > _MEMO_CAP:
        memo.pop(next(iter(memo)))


def scratch_warehouse(spark: SparkSession, label: str):
    """Fresh temp ParquetWarehouse for a driver row that materializes
    working tables. The returned DataFrame lazily reads the working
    warehouse, so the dir can't be removed inside the query call;
    instead all invocations share one root per label and each new one
    reaps stale predecessors — bounded leftovers instead of unbounded
    growth across repeated parity/bench runs. Reaping is AGE-GATED
    (30 min, ~30x a single invocation): deleting every predecessor
    unconditionally raced a concurrent invocation in another process
    (bench running beside pytest) and yanked its warehouse out from
    under the lazy scan mid-query."""
    import os
    import shutil
    import tempfile
    import time

    from ..sinks.warehouse import ParquetWarehouse

    root = os.path.join(tempfile.gettempdir(), f"spark_graft_{label}")
    os.makedirs(root, exist_ok=True)
    cutoff = time.time() - 1800
    for stale in os.listdir(root):
        p = os.path.join(root, stale)
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass  # concurrently reaped by a sibling invocation
    return ParquetWarehouse(spark, tempfile.mkdtemp(prefix="run_", dir=root))


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name, fn, oracle, tags, fn.__doc__ or "")
        return fn

    return deco


def get_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in QUERIES.items()}


def get_oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle}
