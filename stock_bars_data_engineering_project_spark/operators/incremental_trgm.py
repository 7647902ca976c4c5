"""Persisted, incrementally maintained trigram substring index.

:func:`operators.trigram.substring_search` derives the posting lists
from the corpus inside the query plan — right for ad-hoc probes, wrong
for a serving loop that answers ``LIKE '%...%'`` requests all day
against a 100 TB corpus. This module is the substring analog of
``incremental_retrieval.py`` (same warehouse discipline, same crash
contract):

- ``<table>__postings`` — (bkt, trigram, doc_id), hive-partitioned by
  ``bkt`` = the 48-bit md5 bucket of the trigram. A probe's scan set
  is the buckets of the PATTERN's own trigrams — a driver-side
  literal IN bounded by the (small, broadcast-contract) pattern set,
  so the read is statically partition-pruned like bm25_query /
  ann_query.
- ``<table>__docs`` — (doc_id): membership, the replay-idempotence
  anti-join target (at-least-once redelivery of a committed batch
  appends nothing).
- ``<table>__meta`` — ONE row (n_buckets, postings_gen): the hashing
  config plus the postings generation pointer;
  :func:`maintain_trgm_index`'s re-bucketing rebuild publishes both
  atomically.

The lifecycle — table names, the NULL-id guard, tombstones
(:func:`delete_docs` / :func:`apply_deletes`), occupancy, the
build/ingest write order and the re-bucketing rebuild — is the one in
``index_maint``, shared with the BM25 and ANN indexes; this module
keeps the batch postings/membership frames and :func:`trgm_query`.
Ingest appends postings FIRST, then membership; a crash in between
leaves orphan postings a redelivery re-appends, and the query path's
full-row ``dropDuplicates`` (postings are deterministic per doc) heals
the overlap on the already-pruned probe slice. Every probe anti-joins
tombstones out — candidate postings AND the sub-3-char scan fallback.
The index stores NO text — the ``contains`` verify joins candidates
back to the corpus table by id, reading only the text column of
matching rows.

Equivalence contract: postings are per-doc DISTINCT trigram sets —
batch-invariant — so ``trgm_query`` over a built+ingested index equals
``substring_search`` (and the plain scan) over the union corpus,
pinned in tests/test_trigram.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_bucket48
from ..sinks.warehouse import ParquetWarehouse
from .index_maint import (
    bucket_occupancy,
    build_bucketed_index,
    delete_ids,
    docs_table,
    fold_bucketed_deletes,
    ingest_bucketed,
    live_rows,
    maintain_bucketed_index,
    postings_table,
    read_meta,
)
from .trigram import substring_scan, trigram_postings


def _batch_postings(
    batch: DataFrame, n_buckets: int, id_col: str, text_col: str
) -> DataFrame:
    # repartition by bkt before the hive-partitioned write (the
    # small-files discipline shared by every index builder here)
    return (
        trigram_postings(batch, id_col=id_col, text_col=text_col)
        .select(
            md5_bucket48(F.col("trigram"), n_buckets).alias("bkt"),
            "trigram",
            F.col("id").alias("doc_id"),
        )
        .repartition("bkt")
    )


def _batch_members(batch: DataFrame, id_col: str) -> DataFrame:
    return batch.select(F.col(id_col).alias("doc_id"))


def build_trgm_index(
    wh: ParquetWarehouse,
    docs: DataFrame,
    table: str = "trgm_index",
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the index from scratch
    (index_maint.build_bucketed_index: postings and membership in
    parallel, ``__meta`` last as the publish barrier)."""
    build_bucketed_index(
        wh,
        table,
        docs,
        n_buckets,
        id_col,
        "trgm",
        lambda b, n: _batch_postings(b, n, id_col, text_col),
        lambda b: _batch_members(b, id_col),
    )


def ingest_docs(
    wh: ParquetWarehouse,
    batch: DataFrame,
    table: str = "trgm_index",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Fold a new batch in at O(batch) cost — anti-join away known ids,
    append survivors' postings then membership
    (index_maint.ingest_bucketed). Returns the number of newly indexed
    documents; documents are immutable under their id."""
    return ingest_bucketed(
        wh,
        table,
        batch,
        id_col,
        "trgm",
        lambda b, n: _batch_postings(b, n, id_col, text_col),
        lambda b: _batch_members(b, id_col),
    )


def index_occupancy(
    wh: ParquetWarehouse, table: str = "trgm_index", live: bool = False
) -> DataFrame:
    """Per-bucket posting counts plus the global max/mean skew ratio —
    the re-bucket trigger metric. A hot trigram (whitespace runs,
    markup residue) inflating one bucket makes that bucket's probe cost
    the index's worst case. ``live=True`` anti-joins tombstones first
    (the probe-cost view); the physical default is the
    storage/compaction view."""
    return bucket_occupancy(wh, table, live)


def delete_docs(wh: ParquetWarehouse, doc_ids, table: str = "trgm_index") -> None:
    """Tombstone-delete documents (index_maint.delete_ids): O(ids)
    append to ``__deleted``, anti-joined out of every probe until
    :func:`apply_deletes` folds them physically. Idempotent;
    ``doc_ids`` is a 1-column DataFrame or an iterable of ids."""
    delete_ids(wh, doc_ids, table, "doc_id", "trgm")


def apply_deletes(wh: ParquetWarehouse, table: str = "trgm_index") -> None:
    """Compaction: physically drop tombstoned docs from the postings
    (bkt layout preserved) and membership, then clear the tombstones."""
    fold_bucketed_deletes(wh, table)


def trgm_query(
    wh: ParquetWarehouse,
    docs: DataFrame,
    patterns: DataFrame,
    table: str = "trgm_index",
    id_col: str = "doc_id",
    text_col: str = "text",
    pattern_id_col: str = "pattern_id",
    pattern_col: str = "pattern",
    max_pattern_trigrams: int = 100_000,
) -> DataFrame:
    """Exact substring matches (pattern_id, id) answered from the
    STORED index — identical semantics and output to
    ``substring_search`` over the indexed corpus, with the in-plan
    posting build replaced by a statically-pruned postings scan.
    ``docs`` supplies the text for the ``contains`` verify (the index
    stores none) and for the sub-3-char scan fallback. Patterns are
    broadcast-small by module contract; ``max_pattern_trigrams`` makes
    that contract LOUD — an oversized pattern frame fails fast instead
    of silently building a huge broadcast + driver literal."""
    n_buckets, gen = read_meta(wh, table)
    # Patterns are broadcast-small by module contract, so the WHOLE
    # pattern side runs on the driver from ONE collect (round-10 opt):
    # the previous shape paid three serialized driver jobs per call
    # (materialize the trigram expansion, count it for the cap guard,
    # collect the probe buckets) before the probe plan even existed.
    # The Python trigram expansion replicates char_ngrams exactly
    # (both Java's regex split("") and Python strings walk code
    # points) and md5_bucket48's first-12-hex-chars mod arithmetic.
    import hashlib

    pats_rows = [
        (r[0], r[1])
        for r in patterns.select(
            F.col(pattern_id_col).alias("pattern_id"),
            F.col(pattern_col).alias("pattern"),
        ).collect()
    ]
    # NULL patterns fall out of BOTH arms, as with the former
    # F.length() filters (NULL comparison is never true)
    short_rows = [
        (pid, p) for pid, p in pats_rows if p is not None and len(p) < 3
    ]
    tri_rows = []
    for pid, p in pats_rows:
        if p is None or len(p) < 3:
            continue
        tris = list(dict.fromkeys(p[i : i + 3] for i in range(len(p) - 2)))
        tri_rows.extend((pid, p, len(tris), t) for t in tris)
    # loud broadcast-contract guard (driver-side, no job)
    n_tri_total = len(tri_rows)
    if n_tri_total > max_pattern_trigrams:
        raise ValueError(
            f"trgm_query: pattern set expands to {n_tri_total} trigrams "
            f"(> max_pattern_trigrams={max_pattern_trigrams}) — patterns "
            "must stay broadcast-small; raise the cap explicitly or "
            "batch the pattern frame"
        )
    # driver-side probe-bucket literal: DISTINCT buckets, so bounded by
    # min(pattern trigram count, n_buckets) — never corpus-sized
    probe_bkts = sorted(
        {
            int(hashlib.md5(t.encode("utf-8")).hexdigest()[:12], 16)
            % n_buckets
            for _, _, _, t in tri_rows
        }
    )
    from pyspark.sql import types as T

    pid_type = patterns.schema[pattern_id_col].dataType
    spark = patterns.sparkSession
    pat_tri = spark.createDataFrame(
        tri_rows,
        T.StructType(
            [
                T.StructField("pattern_id", pid_type),
                T.StructField("pattern", T.StringType()),
                T.StructField("n_tri", T.IntegerType()),
                T.StructField("trigram", T.StringType()),
            ]
        ),
    )
    # tombstones anti-join out on the already-pruned probe slice, not
    # the whole postings table (the bm25_query/ann_query discipline)
    postings = (
        live_rows(
            wh,
            table,
            wh.read(postings_table(table, gen))
            .filter(F.col("bkt").isin(probe_bkts))
            .join(
                F.broadcast(pat_tri.select("trigram").distinct()),
                "trigram",
                "left_semi",
            ),
            "doc_id",
        )
        # heals crashed-and-redelivered ingest duplicates on the pruned
        # probe slice (module docstring, "Crash consistency")
        .dropDuplicates(["trigram", "doc_id"])
        .select("trigram", F.col("doc_id").alias("id"))
    )
    candidates = (
        postings.join(F.broadcast(pat_tri), "trigram")
        .groupBy("pattern_id", "pattern", "n_tri", "id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == F.col("n_tri"))
        .select("pattern_id", "pattern", "id")
    )
    verified = (
        candidates.join(
            docs.select(
                F.col(id_col).alias("id"), F.col(text_col).alias("_text")
            ),
            "id",
        )
        .filter(F.contains(F.col("_text"), F.col("pattern")))
        .select("pattern_id", "id")
    )
    if not short_rows:
        return verified
    short = spark.createDataFrame(
        short_rows,
        T.StructType(
            [
                T.StructField("pattern_id", pid_type),
                T.StructField("pattern", T.StringType()),
            ]
        ),
    )
    # the scan fallback answers over LIVE INDEX MEMBERS only (the
    # caller's corpus frame semi-joined against tombstone-free
    # membership): the indexed arm's answer surface is exactly the live
    # members, and the fallback must match it — otherwise a deleted or
    # never-ingested doc would match sub-3-char patterns while being
    # invisible to every indexed probe
    members = live_rows(wh, table, wh.read(docs_table(table)), "doc_id")
    live_docs = docs.join(
        members, docs[id_col] == members["doc_id"], "left_semi"
    )
    fallback = substring_scan(
        live_docs,
        short,
        id_col=id_col,
        text_col=text_col,
        pattern_id_col="pattern_id",
        pattern_col="pattern",
    )
    return verified.unionByName(fallback)


def maintain_trgm_index(
    wh: ParquetWarehouse,
    table: str = "trgm_index",
    max_skew: float = 4.0,
    rebucket_factor: int = 2,
) -> dict:
    """The index lifecycle's maintenance policy in one call
    (index_maint.maintain_bucketed_index): fold tombstones, read the
    bucket skew, and past ``max_skew`` RE-BUCKET the postings into
    ``rebucket_factor`` × more buckets — splits colliding-trigram
    hotspots; a single hot trigram's posting list is irreducible by
    bucketing and is the pattern-side ``max_pattern_trigrams``
    contract's concern, not maintenance's. Answer-preserving and
    crash-atomic (module docstring of index_maint). Returns
    ``{"skew_ratio", "rebuilt", "n_buckets"}`` for run-logging."""
    return maintain_bucketed_index(
        wh,
        table,
        hash_col="trigram",
        carry_cols=("trigram", "doc_id"),
        max_skew=max_skew,
        rebucket_factor=rebucket_factor,
    )
