"""Incremental ANN index maintenance — a persisted IVF index that
absorbs new vector batches without retraining or re-assigning the
existing corpus.

The vector analog of the band-index dedup module
(``incremental_dedup.py``): at 100 TB you cannot re-run even a
map-only assignment over the whole corpus for every arriving batch,
and you certainly cannot re-train. The warehouse keeps two tables:

- ``<table>__centroids`` — (cid, cv), the coarse quantizer, a few
  hundred rows, trained ONCE (stride seed + Lloyd polish);
- ``<table>`` — (vec_id, embedding, cid), the inverted lists,
  hive-partitioned by cid.

A new batch then costs exactly one broadcast-argmin assignment of the
BATCH (``ivf_assign`` — map-only, centroid array broadcast) plus a
keyed merge whose rewrite prunes to the cid partitions the batch
touches. Queries probe ``nprobe`` lists; because the probed cid set is
bounded by K (the centroid count) no matter how many queries arrive,
the probe filter is a driver-side literal list — STATIC partition
pruning on the index scan, so a query touches nprobe/K of the files on
disk, not just nprobe/K of the rows.

Drift contract: centroids are frozen between rebuilds, so heavy
ingestion skews list occupancy and degrades recall gradually (the
standard IVF operational trade — FAISS retrains on the same signal).
``list_occupancy`` exposes the skew metric; rebuild with
``build_ann_index`` when its max/mean ratio drifts past policy.

Deletes are TOMBSTONES — the lifecycle all three persisted indexes
share, kept once in ``index_maint``: :func:`delete_vectors` appends
ids to ``<table>__deleted`` and every query anti-joins them out, so a
delete is O(ids) however large the lists (physically rewriting would
touch the cid partition each vector lives in — for a retraction stream
from the dedup pipeline, most partitions most days).
:func:`apply_deletes` folds the tombstones into the files at
compaction, preserving the cid hive layout. ``vec_id`` identifies
immutable content: a tombstoned id stays dead to both queries and
re-ingest until apply_deletes physically drops it; delete-then-reinsert
of CHANGED content is apply_deletes-then-ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import round_half_up
from ..functions.vectors import cosine
from ..sinks.warehouse import ParquetWarehouse
from .index_maint import (
    delete_ids,
    fold_deletes,
    live_rows,
    log_maintenance,
    occupancy,
)
from .similarity import ivf_assign, kmeans_refine, l2sq
from .skew import salted_topk


def _centroids_table(table: str) -> str:
    return f"{table}__centroids"


def build_ann_index(
    wh: ParquetWarehouse,
    corpus: DataFrame,
    table: str = "ann_index",
    centroid_stride: int = 125,
    refine_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Train the quantizer (deterministic stride seed + ``refine_iters``
    Lloyd passes) and materialize the inverted lists, partitioned by
    cid. One assignment pass over the corpus — the only time the full
    corpus is ever assigned."""
    seed = corpus.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    cent = kmeans_refine(corpus, seed, refine_iters, vec_col, id_col)
    # co-locate each inverted list before the hive-partitioned write:
    # without this, every one of the assignment's N shuffle partitions
    # writes its own sliver into every cid dir — N x K tiny files where
    # K files suffice (the small-files problem that makes list scans
    # metadata-bound at scale)
    assigned = ivf_assign(corpus, cent, vec_col, id_col).repartition("cid")
    # kmeans_refine returns a materialized centroid table, so the two
    # writes are independent jobs and overlap (guide §2.6). The
    # centroids→lists window was never crash-atomic (see
    # maintain_ann_index's docstring) — a crashed build is rebuilt from
    # scratch either way.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cent = pool.submit(wh.overwrite, cent, _centroids_table(table))
        f_lists = pool.submit(
            wh.overwrite, assigned, table, partition_by=("cid",)
        )
        f_cent.result()
        f_lists.result()


def ingest_vectors(
    wh: ParquetWarehouse,
    batch: DataFrame,
    table: str = "ann_index",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Fold a new vector batch into the index: assign against the
    FROZEN stored centroids (map-only) and merge into the lists. The
    merge keys include cid so the rewrite prunes to the partitions the
    batch lands in; re-ingesting an identical batch rewrites identical
    partitions — idempotent."""
    cent = wh.read(_centroids_table(table))
    # tombstoned ids are dead to re-ingest until apply_deletes drops
    # them physically (the shared immutable-id contract with the BM25
    # index) — without this anti-join the merge would rewrite a row the
    # query path anti-joins out anyway, paying a partition rewrite for
    # a vector that stays invisible
    live_batch = live_rows(wh, table, batch, id_col)
    # same list co-location as the build write (see build_ann_index)
    assigned = ivf_assign(live_batch, cent, vec_col, id_col).repartition("cid")
    wh.merge(assigned, table, keys=("cid", "vec_id"), partition_by=("cid",))


def ann_query(
    wh: ParquetWarehouse,
    queries: DataFrame,
    table: str = "ann_index",
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the stored index: nprobe nearest lists per query, exact
    cosine within the probed lists, salted bounded-fan-in ranking —
    identical semantics to ``ivf_topk`` with the same centroids, minus
    any corpus-side recompute.

    The probed cid set is collected driver-side as a literal IN filter:
    it is bounded by K (≤ centroid count) regardless of |queries| — the
    same sanctioned bounded-scalar class as the 10-row symbol list —
    and it is what turns the probe into static partition pruning on the
    cid-partitioned scan."""
    cent = wh.read(_centroids_table(table)).select(
        "cid", F.col("cv").alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    qc = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("d2", l2sq("q_vec", "cv"))
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d2", "cid")
            ),
        )
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "q_vec", "cid")
    )
    probed_cids = [r["cid"] for r in qc.select("cid").distinct().collect()]
    # tombstones anti-join out on the already-pruned probe slice, not
    # the whole index (the bm25_query discipline)
    index = live_rows(
        wh, table, wh.read(table).filter(F.col("cid").isin(probed_cids)), "vec_id"
    )
    cand = index.join(F.broadcast(qc), "cid").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.withColumn(
        "cos", round_half_up(cosine("q_vec", "embedding"), 6)
    )
    return salted_topk(scored, ("query_id",), "cos", "vec_id", k).select(
        "query_id", "vec_id", "cos", "rank"
    )


def delete_vectors(
    wh: ParquetWarehouse, vec_ids, table: str = "ann_index"
) -> None:
    """Delete vectors from the index as TOMBSTONES
    (index_maint.delete_ids): O(ids) however large the lists,
    idempotent, ``vec_ids`` a 1-column DataFrame or an iterable of ids.
    A tombstoned id stays dead to both queries and re-ingest until
    :func:`apply_deletes` physically drops it."""
    delete_ids(wh, vec_ids, table, "vec_id", "ann")


def apply_deletes(wh: ParquetWarehouse, table: str = "ann_index") -> None:
    """Compaction: physically drop tombstoned vectors from the inverted
    lists, preserving the cid hive layout (so probe-time static
    partition pruning survives the rewrite), then clear the tombstones.
    Centroids are untouched — they were trained on the corpus as it
    stood at build time, and retraining is ``build_ann_index``'s job
    when ``list_occupancy`` says so."""
    fold_deletes(wh, table, "vec_id", ((table, "cid"),))


def list_occupancy(
    wh: ParquetWarehouse, table: str = "ann_index", live: bool = False
) -> DataFrame:
    """Per-list row counts plus the global max/mean skew ratio — the
    rebuild trigger metric. ``live=True`` anti-joins tombstones first:
    the recall-drift policy should see the lists queries actually
    probe, while the default physical count is the storage/compaction
    view (a heavily tombstoned list is a reason to run apply_deletes,
    not to retrain)."""
    index = wh.read(table)
    if live:
        index = live_rows(wh, table, index, "vec_id")
    return occupancy(index, "cid", "n_vecs")


def maintain_ann_index(
    wh: ParquetWarehouse,
    table: str = "ann_index",
    max_skew: float = 4.0,
    centroid_stride: int = 125,
    refine_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """The index lifecycle's maintenance policy in one call — the
    operational loop FAISS users run by hand (the drift contract in
    the module docstring), made explicit:

    1. fold tombstones into the files (:func:`apply_deletes` — always,
       it is a no-op without tombstones and a heavily tombstoned index
       both wastes probe work and skews the occupancy signal);
    2. read the LIVE skew ratio (:func:`list_occupancy`);
    3. if it exceeds ``max_skew``, RETRAIN: rebuild the quantizer and
       re-assign the surviving corpus (:func:`build_ann_index` on the
       stored vectors — the one corpus-sized pass, paid only when
       drift policy says so).

    Returns ``{"skew_ratio": float, "rebuilt": bool}`` so callers can
    log the decision. Answer-preserving when it does NOT rebuild
    (apply_deletes is); a rebuild changes list membership (new
    centroids) but not the exact-cosine ranking within probed lists —
    recall is what it repairs."""
    apply_deletes(wh, table)
    occ = list_occupancy(wh, table).select("skew_ratio").limit(1).collect()
    skew = float(occ[0]["skew_ratio"]) if occ else 0.0
    rebuilt = False
    if skew > max_skew:
        corpus = wh.read(table).select(id_col, vec_col)
        build_ann_index(
            wh,
            corpus,
            table,
            centroid_stride=centroid_stride,
            refine_iters=refine_iters,
            vec_col=vec_col,
            id_col=id_col,
        )
        rebuilt = True
    decision = {"skew_ratio": skew, "rebuilt": rebuilt}
    log_maintenance(wh, table, decision)
    return decision
