"""The tombstone contract every persisted index shares
(operators/index_maint.py), checked at tiny sizes for the ANN, BM25 and
trigram indexes alike through each module's public delete/apply pair:
a deleted id leaves the probe, a duplicate tombstone changes nothing, a
NULL id fails loudly, and the fold drops the rows physically and
removes ``__deleted``. The query-level forms of the same laws are the
slow-tier ``test_tombstone_delete_and_apply`` tests."""

from __future__ import annotations

import pytest

from stock_bars_data_engineering_project_spark.operators import (
    incremental_ann,
    incremental_retrieval,
    incremental_trgm,
)
from stock_bars_data_engineering_project_spark.operators.index_maint import live_rows
from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse

N = 8
DEAD = 5


def _build_ann(spark, wh):
    emb = spark.createDataFrame(
        [(i, [float(i % 4), float(i // 4), 1.0]) for i in range(N)],
        "vec_id long, embedding array<double>",
    )
    incremental_ann.build_ann_index(wh, emb, "ix", centroid_stride=4, refine_iters=0)


def _docs(spark):
    return spark.createDataFrame(
        [(i, f"alpha doc{i}") for i in range(N)], "doc_id long, text string"
    )


def _build_bm25(spark, wh):
    incremental_retrieval.build_bm25_index(wh, _docs(spark), table="ix", n_buckets=2)


def _build_trgm(spark, wh):
    incremental_trgm.build_trgm_index(wh, _docs(spark), table="ix", n_buckets=2)


# kind -> (build, delete, fold, id column, tables holding ids; the first
# is the one every query probes)
KINDS = {
    "ann": (
        _build_ann,
        incremental_ann.delete_vectors,
        incremental_ann.apply_deletes,
        "vec_id",
        ("ix",),
    ),
    "bm25": (
        _build_bm25,
        incremental_retrieval.delete_docs,
        incremental_retrieval.apply_deletes,
        "doc_id",
        ("ix__postings", "ix__docs"),
    ),
    "trgm": (
        _build_trgm,
        incremental_trgm.delete_docs,
        incremental_trgm.apply_deletes,
        "doc_id",
        ("ix__postings", "ix__docs"),
    ),
}


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_tombstone_contract(spark, tmp_path, kind):
    build, delete, fold, id_col, tables = KINDS[kind]
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    build(spark, wh)
    survivors = set(range(N)) - {DEAD}

    def ids(df):
        return {r[0] for r in df.select(id_col).distinct().collect()}

    delete(wh, [DEAD], table="ix")
    # a duplicate tombstone, as a DataFrame this time, changes nothing
    delete(wh, spark.createDataFrame([(DEAD,)], f"{id_col} long"), table="ix")
    assert ids(live_rows(wh, "ix", wh.read(tables[0]), id_col)) == survivors
    assert ids(wh.read(tables[0])) == set(range(N))  # not yet folded

    with pytest.raises(Exception, match=f"NULL {id_col}"):
        delete(wh, spark.createDataFrame([(None,)], f"{id_col} long"), table="ix")

    fold(wh, table="ix")
    assert not wh.exists("ix__deleted")
    for t in tables:
        assert ids(wh.read(t)) == survivors
