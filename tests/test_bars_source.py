"""S1: the stockbars Python DataSource — schema, per-symbol parallelism,
offline determinism, date-bounded extraction."""

from __future__ import annotations

from stock_bars_data_engineering_project_spark.sources.bars_source import register


def _read(spark, **opts):
    register(spark)
    reader = (
        spark.read.format("stockbars")
        .option("symbols", opts.pop("symbols", "AAPL,MSFT"))
        .option("start", opts.pop("start", "2025-09-01"))
        .option("end", opts.pop("end", "2025-09-30"))
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def test_schema_and_shape(spark):
    df = _read(spark)
    assert df.columns == ["symbol", "c", "h", "l", "n", "o", "t", "v", "vw"]
    rows = df.collect()
    # 21 trading days in Sept 2025 x 2 symbols (weekday generator)
    assert len(rows) == 44 or len(rows) == 42  # independent of tz edge
    assert {r.symbol for r in rows} == {"AAPL", "MSFT"}
    assert all(r.l <= r.o <= r.h and r.l <= r.c <= r.h for r in rows)
    assert all(r.t.endswith("T04:00:00Z") for r in rows)


def test_partition_per_symbol(spark):
    df = _read(spark, symbols="AAPL,MSFT,GOOG")
    assert df.rdd.getNumPartitions() == 3


def test_offline_determinism(spark):
    a = sorted(map(tuple, _read(spark).collect()))
    b = sorted(map(tuple, _read(spark).collect()))
    assert a == b


def test_stream_reader_matches_batch(spark, tmp_path):
    """The streaming source, drained across several micro-batches, must
    emit exactly the batch read's rows (offset-ranged replay, no dup/loss
    across batch boundaries of the chained walk)."""
    import time

    register(spark)
    opts = {"symbols": "AAPL,MSFT", "start": "2025-09-01", "end": "2025-09-30"}
    batch = sorted(map(tuple, _read(spark, **opts).collect()))

    stream = (
        spark.readStream.format("stockbars")
        .option("symbols", opts["symbols"])
        .option("start", opts["start"])
        .option("end", opts["end"])
        .option("batch_days", "7")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("bars_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            got = spark.table("bars_stream_test").count()
            if got >= len(batch):
                break
            time.sleep(1)
    finally:
        q.stop()
    streamed = sorted(map(tuple, spark.table("bars_stream_test").collect()))
    assert streamed == batch


def test_stream_restart_from_checkpoint_no_duplicates(spark, tmp_path):
    """Stop after partial progress, restart with a FRESH reader from the
    same checkpoint: the in-memory cursor resets but the offset log must
    win — no day is ever emitted twice."""
    import time

    register(spark)
    opts = {"symbols": "AAPL", "start": "2025-09-01", "end": "2025-09-30"}
    batch = sorted(map(tuple, _read(spark, **opts).collect()))
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")  # file sink: the recoverable sink kind

    def start_stream():
        return (
            spark.readStream.format("stockbars")
            .option("symbols", opts["symbols"])
            .option("start", opts["start"])
            .option("end", opts["end"])
            .option("batch_days", "5")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def landed():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    q = start_stream()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if landed() > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()  # partial progress checkpointed
    assert landed() > 0  # stopped mid-stream (usually < len(batch))

    q2 = start_stream()  # fresh reader instance, same checkpoint
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if landed() >= len(batch):
                break
            time.sleep(1)
    finally:
        q2.stop()
    streamed = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert streamed == batch  # exactly once: no missing, NO DUPLICATED days


def test_readers_share_options_and_live_row_mapping(monkeypatch):
    """Batch and stream readers parse the same options (defaults
    included) and map a REST bar to the same wire-shape row. The fetch
    is stubbed, so no credentials or network are involved."""
    import datetime as dt

    from stock_bars_data_engineering_project_spark.sources import bars_source as bs

    bar = {"c": 1.5, "h": 2.0, "l": 1.0, "n": 7, "o": 1.2,
           "t": "2025-09-02T04:00:00Z", "v": 100, "vw": 1.4}
    calls = []

    def fake_fetch(symbols, start, end):
        calls.append((list(symbols), start, end))
        return {symbols[0]: [bar]}

    monkeypatch.setattr(bs, "fetch_bars_rest", fake_fetch)
    opts = {"symbols": " AAPL, ,MSFT", "start": "2025-09-01",
            "end": "2025-09-05", "seed": "7", "live": "TRUE"}

    def parsed(r):
        return r.symbols, r.start, r.end, r.seed, r.live

    batch, stream = bs.StockBarsReader(opts), bs.StockBarsStreamReader(opts)
    want = (["AAPL", "MSFT"], dt.date(2025, 9, 1), dt.date(2025, 9, 5), 7, True)
    assert parsed(batch) == parsed(stream) == want
    default = (bs.DEFAULT_SYMBOLS.split(","), dt.date(2025, 9, 1),
               dt.date(2025, 10, 1), 42, False)
    assert parsed(bs.StockBarsReader({})) == default
    assert parsed(bs.StockBarsStreamReader({})) == default

    row = ("AAPL", 1.5, 2.0, 1.0, 7, 1.2, "2025-09-02T04:00:00Z", 100, 1.4)
    assert list(batch.read(bs._SymbolPartition("AAPL"))) == [row]
    part = bs._RangePartition("AAPL", "2025-09-01", "2025-09-05")
    assert list(stream.read(part)) == [row]
    assert calls == [
        (["AAPL"], "2025-09-01", "2025-09-05"),
        (["AAPL"], "2025-09-02", "2025-09-05"),
    ]
