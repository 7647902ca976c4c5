"""Output checks, computed in DuckDB from the files the program wrote.

Each check returns a list of problems; an empty list means the output is
correct. The stock checks read the warehouse's live parquet snapshots
directly, so they do not trust the program's own readers; the query
checks reuse the comparison of ``tools/check_oracle.py``.
"""

from __future__ import annotations

import sys
import threading
from pathlib import Path

import duckdb


def _round(expr: str, scale: int) -> str:
    # half-up rounding of the exact decimal value, as the reference SQL
    # rounds (a plain ROUND on a double differs between engines)
    return f"CAST(ROUND(CAST({expr} AS DECIMAL(30,10)), {scale}) AS DOUBLE)"


# stock_bars_analysis recomputed from stored bars: LAG close, return
# rounded to 3 before anything uses it, 5-row moving average and sample
# stddev of the rounded return.
REFERENCE_ANALYSIS_SQL = f"""
WITH prev AS (
    SELECT stock, company, "timestamp", close,
           LAG(close, 1) OVER (PARTITION BY stock ORDER BY "timestamp") AS prev_close
    FROM bars
), rets AS (
    SELECT *, {_round('(close - prev_close) / NULLIF(prev_close, 0)', 3)} AS ret
    FROM prev
)
SELECT stock, company,
       CAST("timestamp" AS DATE) AS date,
       close,
       prev_close,
       {_round('ret * 100', 1)} AS daily_return_pct,
       {_round('AVG(close) OVER w', 2)} AS moving_avg_5_day,
       {_round('STDDEV_SAMP(ret) OVER w', 2)} AS stddev_5_day
FROM rets
WINDOW w AS (PARTITION BY stock ORDER BY "timestamp"
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""

ANALYSIS_COLUMNS = (
    "stock, company, date, close, prev_close, daily_return_pct, "
    "moving_avg_5_day, stddev_5_day"
)


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    return con


def _view(con: duckdb.DuckDBPyConnection, name: str, files: list[str]) -> None:
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet({list(files)!r})")


def pipeline_problems(
    bars_files: list[str],
    analysis_files: list[str],
    checkpoint_files: list[str],
    expected_rows: int,
) -> list[str]:
    """Checks of a stock warehouse after the pipeline ran:

    - ``(stock, timestamp)`` is unique in ``stock_bars``;
    - it holds ``expected_rows`` rows (symbols x trading days);
    - the ``stock_bars`` checkpoint equals its max timestamp;
    - ``stock_bars_analysis`` equals the reference SQL over the stored bars.
    """
    con = _connect()
    _view(con, "bars", bars_files)
    _view(con, "analysis", analysis_files)
    _view(con, "check_points", checkpoint_files)
    problems = []
    n, n_keys = con.sql(
        'SELECT count(*), count(DISTINCT (stock, "timestamp")) FROM bars'
    ).fetchone()
    if n != n_keys:
        problems.append(f"stock_bars has {n - n_keys} duplicate (stock, timestamp) rows")
    if n != expected_rows:
        problems.append(f"stock_bars has {n} rows, expected {expected_rows}")
    (watermark,) = con.sql(
        """SELECT strftime(max("timestamp"), '%Y-%m-%dT%H:%M:%SZ') FROM bars"""
    ).fetchone()
    saved = con.sql(
        "SELECT latest_timestamp FROM check_points WHERE table_name = 'stock_bars'"
    ).fetchall()
    if saved != [(watermark,)]:
        problems.append(f"checkpoint {saved} != max timestamp {watermark}")
    ref = f"SELECT {ANALYSIS_COLUMNS} FROM ({REFERENCE_ANALYSIS_SQL})"
    got = f"SELECT {ANALYSIS_COLUMNS} FROM analysis"
    (missing,) = con.sql(f"SELECT count(*) FROM ({ref} EXCEPT ALL {got})").fetchone()
    (extra,) = con.sql(f"SELECT count(*) FROM ({got} EXCEPT ALL {ref})").fetchone()
    if missing or extra:
        problems.append(
            f"stock_bars_analysis differs from the reference: {missing} rows "
            f"missing, {extra} unexpected"
        )
    con.close()
    return problems


class QueryOracle:
    """The registry's oracle SQL on DuckDB over the query-suite tables,
    compared with Spark results the way ``tools/check_oracle.py`` does.

    The oracle queries run in a background thread from construction on,
    so they overlap the Spark executions they are compared with."""

    def __init__(
        self, root: Path, tables_dir: str, table_names: tuple[str, ...], oracles: dict[str, str]
    ):
        sys.path.insert(0, str(root / "tools"))
        from check_oracle import rows_to_multiset

        self._multiset = rows_to_multiset
        self._con = _connect()
        for t in table_names:
            self._con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
            )
        self._results: dict[str, tuple[list[str], list] | Exception] = {}
        self._thread = threading.Thread(target=self._run, args=(oracles,))
        self._thread.start()

    def _run(self, oracles: dict[str, str]) -> None:
        for name, sql in oracles.items():
            try:
                rel = self._con.sql(sql)
                self._results[name] = ([c.lower() for c in rel.columns], rel.fetchall())
            except duckdb.Error as e:
                self._results[name] = e

    def problems(self, name: str, rows: list, columns: list[str]) -> list[str]:
        self._thread.join()
        found = self._results[name]
        if isinstance(found, Exception):
            return [f"{name}: oracle failed: {found}"]
        ocols, orows = found
        scols = [c.lower() for c in columns]
        if len(rows) != len(orows):
            return [f"{name}: {len(rows)} rows, oracle has {len(orows)}"]
        if sorted(scols) != sorted(ocols):
            return [f"{name}: columns {sorted(scols)} != oracle {sorted(ocols)}"]
        if self._multiset([tuple(r) for r in rows], scols) != self._multiset(orows, ocols):
            return [f"{name}: values differ from the oracle"]
        return []
