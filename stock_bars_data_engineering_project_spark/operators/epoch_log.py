"""The epoch log behind every additive state table: gram document
frequencies (contamination), n-gram LM counts (lm_state), PCA moments
(incremental_pca) and stream rollups (streaming/incremental).

Each batch lands in its own ``_epoch`` partition and the state is a
combine over epochs at read time, so no write reads, modifies and
rewrites prior state. The epoch id is a function of the batch — a
content address for the batch ingests, the checkpointed stream's batch
id for the rollup stream — and one write rule makes delivery
exactly-once: a present epoch is skipped, an absent one is appended as
an O(batch) manifest commit. A redelivery commits nothing, and a crash
between two tables' appends heals on redelivery.

``wh.append``'s manifest limit and :func:`fold` bound the read fan-in.
The fold writes the combined state as the one ``_epoch='base'``
partition (no epoch id is 'base': content ids are 24 hex digits + 'n' +
count, stream ids integers). Run it at a delivery barrier only: a batch
redelivered after the fold lands beside the base that absorbed it.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

BASE = "base"

# a family's read-time combine: stored rows (no _epoch) -> state
Combine = Callable[[DataFrame], DataFrame]


def content_epoch(batch: DataFrame, id_col: str) -> str:
    """Deterministic epoch id for a batch: two independent order-free
    48-bit xor folds over the ids plus the row count — partial-
    aggregable (no driver-side id list), identical for a redelivered
    batch, and loudly NULL-guarded (a NULL id cannot be addressed or
    replay-deduped; md5_bucket48's documented caller obligation)."""
    from ..functions.hashing import md5_bucket48

    span = 1 << 48
    row = batch.agg(
        F.bit_xor(md5_bucket48(F.col(id_col), span, salt="e1")).alias("x1"),
        F.bit_xor(md5_bucket48(F.col(id_col), span, salt="e2")).alias("x2"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(id_col).isNull().cast("int")).alias("nulls"),
    ).collect()[0]
    if (row.nulls or 0) > 0:
        raise ValueError(
            f"content-addressed epoch: {row.nulls} NULL {id_col} rows — ids "
            "must be non-NULL for replay idempotence"
        )
    return f"{(row.x1 or 0):012x}{(row.x2 or 0):012x}n{row.n}"


def is_empty(epoch: str) -> bool:
    """True iff a content address was taken over zero rows — the count
    rides in the address, so this costs no Spark job."""
    return epoch.rsplit("n", 1)[-1] == "0"


def epoch_present(wh, table: str, epoch) -> bool:
    """True iff the live snapshot already holds this epoch's partition —
    a manifest/directory probe, no Spark job (epoch ids are
    filesystem-safe, so the hive segment is literal)."""
    if not wh.exists(table):
        return False
    seg = f"_epoch={epoch}"
    v = wh._latest_version(table)
    return any(
        os.path.isdir(os.path.join(wh.table_path(table), m, seg))
        for m in wh._manifest_members(table, v)
    )


def append(wh, table: str, rows: DataFrame, epoch) -> None:
    """Write one epoch of ``table``: skip it when present (by contract
    identical to ``rows``), else append its one partition."""
    if not epoch_present(wh, table, epoch):
        wh.append(
            rows.withColumn("_epoch", F.lit(str(epoch))),
            table,
            partition_by=("_epoch",),
        )


def ingest(
    wh, batch: DataFrame, id_col: str, frames: dict[str, DataFrame]
) -> str:
    """Address ``batch`` by content and append ``frames`` (table ->
    that table's rows for this batch) under the address; an empty batch
    writes nothing. Tables are independent, so their appends run as
    overlapped jobs. Returns the epoch id."""
    epoch = content_epoch(batch, id_col)
    if not is_empty(epoch):
        with ThreadPoolExecutor(max_workers=len(frames)) as pool:
            list(pool.map(lambda t: append(wh, t, frames[t], epoch), frames))
    return epoch


def state(wh, table: str, combine: Combine) -> DataFrame:
    """The combined state: ``combine`` over every epoch of ``table``."""
    return combine(wh.read(table).drop("_epoch"))


def fold(wh, table: str, combine: Combine) -> None:
    """Rewrite ``table`` as its combined state in the one ``'base'``
    epoch, materialized so the write does not re-read the snapshot it
    supersedes. Delivery barrier only."""
    folded = materialize(state(wh, table, combine))
    wh.overwrite(
        folded.withColumn("_epoch", F.lit(BASE)), table, partition_by=("_epoch",)
    )
