"""The epoch-log contract (operators/epoch_log.py) on every additive
state family — gram counts, LM counts, PCA moments, stream rollups —
with tiny frames and no streaming query: two batches combine to the
state of one batch of both, a redelivery commits no version and leaves
the state unchanged, an empty batch commits no version (PCA rejects
it), and the fold leaves one ``_epoch`` value with the same state."""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.sinks.warehouse import (
    ParquetWarehouse,
)

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the cat sat on a hat"),
    (3, "a dog sat on the mat"),
    (4, "the cat sat on the log"),
]
VECS = [(i, [float(i), float(i * i % 5), 1.0 / i]) for i in range(1, 5)]
EVENTS = [
    (i, i % 2, dt.datetime(2024, 1, 1 + i % 3, 9, i), float(i * 10))
    for i in range(1, 5)
]


@dataclass
class Family:
    tables: tuple[str, ...]
    rows: list
    schema: str
    ingest: Callable[[Any, Any, int], Any]  # (wh, batch, epoch number)
    state: Callable[[Any], Any]
    fold: Callable[[Any], None]
    close: Callable[[Any, Any], bool] = lambda a, b: a == b


def _gram_ingest(wh, batch, _n):
    from stock_bars_data_engineering_project_spark.operators.contamination import (
        ingest_scrub_batch,
    )

    ingest_scrub_batch(wh, batch, k=2, df_cap=2)


def _gram_state(wh):
    from stock_bars_data_engineering_project_spark.operators.contamination import (
        gram_count_state,
    )

    return sorted((r.gram, r.gram_df) for r in gram_count_state(wh).collect())


def _gram_fold(wh):
    from stock_bars_data_engineering_project_spark.operators.contamination import (
        compact_gram_state,
    )

    compact_gram_state(wh)


def _lm_ingest(wh, batch, _n):
    from stock_bars_data_engineering_project_spark.operators.lm_state import (
        ingest_lm_batch,
    )

    ingest_lm_batch(wh, batch)


def _lm_state(wh):
    from stock_bars_data_engineering_project_spark.operators.lm_state import (
        lm_state,
    )

    uni, bi = lm_state(wh, min_count=1)
    return (
        sorted((r.token, r.n) for r in uni.collect()),
        sorted((r.prev, r.cur, r.n2) for r in bi.collect()),
    )


def _lm_fold(wh):
    from stock_bars_data_engineering_project_spark.operators.lm_state import (
        compact_lm_state,
    )

    compact_lm_state(wh)


def _pca_ingest(wh, batch, _n):
    from stock_bars_data_engineering_project_spark.operators.incremental_pca import (
        ingest_pca_batch,
    )

    ingest_pca_batch(wh, batch, dim=3)


def _pca_state(wh):
    from stock_bars_data_engineering_project_spark.operators.incremental_pca import (
        pca_moments_state,
    )

    return pca_moments_state(wh, dim=3)


def _pca_fold(wh):
    from stock_bars_data_engineering_project_spark.operators.incremental_pca import (
        compact_pca_state,
    )

    compact_pca_state(wh)


def _pca_close(a, b, tol=1e-9):
    return a[0] == b[0] and all(
        np.max(np.abs(x - y)) <= tol * (1.0 + np.max(np.abs(y)))
        for x, y in zip(a[1:], b[1:])
    )


def _rollup_ingest(wh, batch, n):
    from stock_bars_data_engineering_project_spark.streaming.incremental import (
        _ingest_rollup_epoch,
    )

    _ingest_rollup_epoch(wh, batch, "roll", n, ("user_id",), None)


def _rollup_state(wh):
    from stock_bars_data_engineering_project_spark.operators.rollup import (
        rollup_metrics,
    )
    from stock_bars_data_engineering_project_spark.streaming.incremental import (
        read_rollup_state,
    )

    df = rollup_metrics(read_rollup_state(wh, "roll"))
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def _rollup_fold(wh):
    from stock_bars_data_engineering_project_spark.streaming.incremental import (
        compact_rollup_state,
    )

    compact_rollup_state(wh, "roll")


FAMILIES = {
    "gram": Family(
        ("gram_counts",), DOCS, "doc_id long, text string",
        _gram_ingest, _gram_state, _gram_fold,
    ),
    "lm": Family(
        ("lm_unigrams", "lm_bigrams"), DOCS, "doc_id long, text string",
        _lm_ingest, _lm_state, _lm_fold,
    ),
    "pca": Family(
        ("pca_moments",), VECS, "vec_id long, embedding array<double>",
        _pca_ingest, _pca_state, _pca_fold, _pca_close,
    ),
    "rollup": Family(
        ("roll",), EVENTS,
        "event_id long, user_id long, ts timestamp, value double",
        _rollup_ingest, _rollup_state, _rollup_fold,
    ),
}


@pytest.fixture(params=sorted(FAMILIES))
def fam(request):
    return FAMILIES[request.param]


def _batch(spark, fam, ids):
    return spark.createDataFrame(
        [r for r in fam.rows if r[0] in ids], fam.schema
    )


def _versions(wh, fam):
    return {t: wh.versions(t) for t in fam.tables}


def test_two_batches_equal_one_batch_of_both(spark, tmp_path, fam):
    two = ParquetWarehouse(spark, str(tmp_path / "two"))
    fam.ingest(two, _batch(spark, fam, {1, 2}), 0)
    fam.ingest(two, _batch(spark, fam, {3, 4}), 1)
    one = ParquetWarehouse(spark, str(tmp_path / "one"))
    fam.ingest(one, _batch(spark, fam, {1, 2, 3, 4}), 0)
    assert fam.close(fam.state(two), fam.state(one))


def test_redelivery_commits_nothing(spark, tmp_path, fam):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    fam.ingest(wh, _batch(spark, fam, {1, 2}), 0)
    fam.ingest(wh, _batch(spark, fam, {3, 4}), 1)
    versions, state = _versions(wh, fam), fam.state(wh)
    fam.ingest(wh, _batch(spark, fam, {3, 4}), 1)  # at-least-once redelivery
    assert _versions(wh, fam) == versions
    assert fam.close(fam.state(wh), state)


def test_empty_batch_commits_nothing(spark, tmp_path, fam):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    empty = _batch(spark, fam, set())

    def ingest_empty():
        versions = _versions(wh, fam)
        if fam is FAMILIES["pca"]:
            with pytest.raises(ValueError, match="empty batch"):
                fam.ingest(wh, empty, 1)
        else:
            fam.ingest(wh, empty, 1)
        assert _versions(wh, fam) == versions

    ingest_empty()  # before the table exists
    fam.ingest(wh, _batch(spark, fam, {1, 2}), 0)
    ingest_empty()


def test_fold_leaves_one_epoch_and_same_state(spark, tmp_path, fam):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    fam.ingest(wh, _batch(spark, fam, {1, 2}), 0)
    fam.ingest(wh, _batch(spark, fam, {3, 4}), 1)
    state = fam.state(wh)
    fam.fold(wh)
    for t in fam.tables:
        epochs = {r._epoch for r in wh.read(t).select("_epoch").distinct().collect()}
        assert epochs == {"base"}
    assert fam.close(fam.state(wh), state)


def test_rollup_epoch_appended_after_fold_reads_beside_base(spark, tmp_path):
    """A stream epoch ('7') reads back as an int and the fold's 'base' as
    a string; the two must combine, also once the append chain
    collapses into one materialized snapshot."""
    fam = FAMILIES["rollup"]
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    fam.ingest(wh, _batch(spark, fam, {1, 2}), 0)
    fam.fold(wh)
    fam.ingest(wh, _batch(spark, fam, {3}), 7)
    one = ParquetWarehouse(spark, str(tmp_path / "one"))
    fam.ingest(one, _batch(spark, fam, {1, 2, 3}), 0)
    assert fam.state(wh) == fam.state(one)
    wh.append(
        wh.read("roll").limit(0).withColumn("_epoch", F.lit("9")),
        "roll",
        manifest_limit=1,
    )
    assert fam.state(wh) == fam.state(one)
