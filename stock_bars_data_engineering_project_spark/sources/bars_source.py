"""S1 — the stock-bars API source as a Spark 4 Python DataSource.

The reference fetches bars driver-side from a REST endpoint
(``GET …/v2/stocks/bars?limit=1000&…`` with symbols/timeframe/start/end —
/root/reference/etl_project/connectors/alpaca_api.py:18-39) and flattens
the JSON in pandas. Spark-first, the source IS a DataSource: one input
partition per symbol, so extraction parallelizes across executors, the
``limit=1000`` per-request truncation cliff disappears (each partition
paginates independently), and the frame enters the engine already
distributed — no driver-side bottleneck at any symbol count.

Rows are emitted in the upstream API's wire shape — single-letter
columns ``c,h,l,n,o,t,v,vw`` plus ``symbol`` (meanings per the
reference's rename map, assets.py:79-91) — so the pipeline's rename/
typing transform does the same work it does in the reference.

Offline determinism: without API credentials the reader synthesizes a
seeded geometric-random-walk series per symbol (same rows for the same
options, forever). With ``ALPACA_API_KEY``/``ALPACA_SECRET_KEY`` set the
partition reader fetches over HTTPS instead — same schema either way.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

BARS_SCHEMA = (
    "symbol string, c double, h double, l double, n bigint, o double, "
    "t string, v bigint, vw double"
)

DEFAULT_SYMBOLS = "AAPL,MSFT,AMZN,GOOGL,META,TSLA,NVDA,ADBE,CRM,INTC"


def _trading_days(start: _dt.date, end: _dt.date) -> Iterator[_dt.date]:
    d = start
    while d <= end:
        if d.weekday() < 5:
            yield d
        d += _dt.timedelta(days=1)


def _seeded_unit(token: str) -> float:
    """Deterministic U(0,1) from a token — stable across processes
    (unlike hash()) so every executor generates identical data."""
    digest = hashlib.md5(token.encode()).digest()
    return int.from_bytes(digest[:8], "big") / 2**64


def synth_bars(
    symbol: str, start: _dt.date, end: _dt.date, seed: int = 42
) -> Iterator[tuple]:
    """Seeded geometric random walk in the API wire shape."""
    base = 20.0 + 980.0 * _seeded_unit(f"{seed}:{symbol}:base")
    close = base
    for day in _trading_days(start, end):
        tok = f"{seed}:{symbol}:{day.isoformat()}"
        drift = (_seeded_unit(tok + ":r") - 0.5) * 0.06
        o = close
        c = max(0.01, o * (1 + drift))
        spread = abs(drift) + 0.005
        h = max(o, c) * (1 + spread * _seeded_unit(tok + ":h"))
        low = min(o, c) * (1 - spread * _seeded_unit(tok + ":l"))
        v = int(1e5 + _seeded_unit(tok + ":v") * 1e7)
        n = int(1e3 + _seeded_unit(tok + ":n") * 1e5)
        vw = round((h + low + c) / 3, 4)
        ts = f"{day.isoformat()}T04:00:00Z"
        yield (symbol, round(c, 4), round(h, 4), round(low, 4), n, round(o, 4), ts, v, vw)
        close = c


def fetch_bars_rest(
    symbols: Sequence[str],
    start: str,
    end: str | None,
    timeframe: str = "1Day",
    page_limit: int = 1000,
) -> dict[str, list[dict]]:
    """Live REST path (requires ALPACA_API_KEY/ALPACA_SECRET_KEY env).

    Mirrors the reference request (alpaca_api.py:18-39) but PAGINATES via
    ``next_page_token`` — the reference's single request silently truncates
    at 1000 bars (SURVEY §2.9); a scale-ready source must not.
    """
    key = os.environ.get("ALPACA_API_KEY")
    secret = os.environ.get("ALPACA_SECRET_KEY")
    if not key or not secret:
        raise NotImplementedError(
            "live REST fetch needs ALPACA_API_KEY/ALPACA_SECRET_KEY; "
            "offline runs use the seeded synthetic generator"
        )
    import requests  # gated: only the live path needs it

    out: dict[str, list[dict]] = {}
    params = {
        "symbols": ",".join(symbols),
        "timeframe": timeframe,
        "start": start,
        "limit": page_limit,
        "adjustment": "raw",
        "feed": "sip",
        "sort": "asc",
    }
    if end:
        params["end"] = end
    url = "https://data.alpaca.markets/v2/stocks/bars"
    headers = {"APCA-API-KEY-ID": key, "APCA-API-SECRET-KEY": secret}
    while True:
        resp = requests.get(url, params=params, headers=headers, timeout=30)
        if resp.status_code != 200:
            raise RuntimeError(f"bars API error {resp.status_code}: {resp.text[:200]}")
        payload = resp.json()
        if "bars" not in payload:
            raise RuntimeError("bars API response missing 'bars'")
        for sym, bars in (payload["bars"] or {}).items():
            out.setdefault(sym, []).extend(bars)
        token = payload.get("next_page_token")
        if not token:
            return out
        params["page_token"] = token


# wire-shape fields of one REST bar, in BARS_SCHEMA order after symbol
_WIRE_FIELDS = ("c", "h", "l", "n", "o", "t", "v", "vw")


def _rest_rows(symbol: str, start: str, end: str) -> Iterator[tuple]:
    """One symbol's live REST bars as BARS_SCHEMA rows."""
    for b in fetch_bars_rest([symbol], start, end).get(symbol, []):
        yield (symbol, *(b.get(f) for f in _WIRE_FIELDS))


def _parse_options(reader, options) -> None:
    """The option contract the batch and stream readers share:
    ``symbols`` (comma list), ``start``/``end`` (ISO dates; no ``end``
    => "up to now", deterministically 30 days past start, mirroring the
    reference's open-ended incremental extract), ``seed``, and ``live``
    (``true`` fetches over REST, anything else replays the synthetic
    walk — never silently ignored, or a user who configured live
    ingestion would get a fake walk with an identical schema)."""
    reader.symbols = [
        s.strip()
        for s in options.get("symbols", DEFAULT_SYMBOLS).split(",")
        if s.strip()
    ]
    reader.start = _dt.date.fromisoformat(options.get("start", "2025-09-01"))
    reader.end = (
        _dt.date.fromisoformat(options["end"])
        if "end" in options
        else reader.start + _dt.timedelta(days=30)
    )
    reader.seed = int(options.get("seed", "42"))
    reader.live = options.get("live", "false").lower() == "true"


class _SymbolPartition(InputPartition):
    def __init__(self, symbol: str):
        self.symbol = symbol


class StockBarsDataSource(DataSource):
    """``spark.read.format("stockbars").option("symbols", "AAPL,MSFT")
    .option("start", "2025-09-01").option("end", "2025-09-30").load()``"""

    @classmethod
    def name(cls) -> str:
        return "stockbars"

    def schema(self) -> str:
        return BARS_SCHEMA

    def reader(self, schema) -> "StockBarsReader":
        return StockBarsReader(self.options)

    def streamReader(self, schema) -> "StockBarsStreamReader":
        return StockBarsStreamReader(self.options)


class StockBarsReader(DataSourceReader):
    def __init__(self, options):
        _parse_options(self, options)

    def partitions(self):
        # one partition per symbol: extraction scales with the symbol count
        return [_SymbolPartition(s) for s in self.symbols]

    def read(self, partition: _SymbolPartition) -> Iterator[tuple]:
        if self.live:
            yield from _rest_rows(
                partition.symbol, self.start.isoformat(), self.end.isoformat()
            )
        else:
            yield from synth_bars(partition.symbol, self.start, self.end, self.seed)


class _RangePartition(InputPartition):
    def __init__(self, symbol: str, start: str, end: str):
        self.symbol = symbol
        self.start = start  # exclusive
        self.end = end  # inclusive


class StockBarsStreamReader(DataSourceStreamReader):
    """The reference's incremental loop — "poll since checkpoint, load,
    advance watermark" (stock_bars.py:36-89, SURVEY §2.8) — as a REAL
    Structured Streaming source. The offset IS the reference's
    checkpoint date; Spark's offset log replaces the hand-rolled
    ``check_points`` table, and exactly-once comes from offset-ranged
    replay instead of Q9's overlap-plus-upsert healing.

    Each micro-batch covers ``(last_offset_date, available_date]``;
    ``available_date`` advances ``batch_days`` per poll up to ``end``
    (deterministic bounded replay offline; a live deployment would
    return today's date). Partitions split by symbol per batch, so
    ingestion parallelizes across executors within every micro-batch.
    """

    def __init__(self, options):
        _parse_options(self, options)
        self.batch_days = int(options.get("batch_days", "7"))
        self._cursor = self.start - _dt.timedelta(days=1)

    def initialOffset(self) -> dict:
        return {"date": (self.start - _dt.timedelta(days=1)).isoformat()}

    def latestOffset(self) -> dict:
        self._cursor = min(
            self._cursor + _dt.timedelta(days=self.batch_days), self.end
        )
        return {"date": self._cursor.isoformat()}

    def _advance_cursor(self, *offsets: dict) -> None:
        # Restart safety: a fresh reader's in-memory cursor starts at
        # start-1, which is BEHIND the checkpointed offset. Spark replays
        # the logged (start, end) through partitions()/commit() on
        # recovery, so the cursor catches up from those callbacks; until
        # it does, a regressed latestOffset only yields one empty batch
        # (read() guards lo > hi) — never re-emitted rows.
        for off in offsets:
            d = _dt.date.fromisoformat(off["date"])
            if d > self._cursor:
                self._cursor = d

    def partitions(self, start: dict, end: dict):
        self._advance_cursor(start, end)
        return [
            _RangePartition(s, start["date"], end["date"]) for s in self.symbols
        ]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        lo = _dt.date.fromisoformat(partition.start) + _dt.timedelta(days=1)
        hi = _dt.date.fromisoformat(partition.end)
        if lo > hi:
            return
        if self.live:
            yield from _rest_rows(partition.symbol, lo.isoformat(), hi.isoformat())
            return
        # Replay the walk from series start and slice the batch's range:
        # the geometric walk chains day-to-day, so starting a fresh walk
        # at `lo` would emit different bars than the batch reader for the
        # same days. Replay keeps stream ≡ batch bar-for-bar.
        cutoff = lo.isoformat()
        for row in synth_bars(partition.symbol, self.start, hi, self.seed):
            if row[6][:10] >= cutoff:  # row[6] = ISO timestamp string
                yield row

    def commit(self, end: dict) -> None:
        # offsets are durable in Spark's offset log; just keep the
        # in-memory cursor monotone (see _advance_cursor)
        self._advance_cursor(end)


def _ship_package(spark) -> None:
    """Make the package importable on executor Python workers.

    The DataSource class is cloudpickled BY REFERENCE, so workers must be
    able to ``import stock_bars_data_engineering_project_spark`` — true on a cluster only if the
    package is shipped. ``addPyFile`` of a package zip is the standard
    mechanism and works identically in local mode when the driver's cwd
    is elsewhere."""
    sc = spark.sparkContext
    if getattr(sc, "_sbde_pkg_shipped", False):
        return
    import shutil
    import tempfile

    import stock_bars_data_engineering_project_spark as pkg

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    zip_path = shutil.make_archive(
        os.path.join(tempfile.mkdtemp(), "stock_bars_data_engineering_project_spark"),
        "zip",
        root_dir=repo_root,
        base_dir="stock_bars_data_engineering_project_spark",
    )
    sc.addPyFile(zip_path)
    sc._sbde_pkg_shipped = True


def register(spark) -> None:
    _ship_package(spark)
    spark.dataSource.register(StockBarsDataSource)
