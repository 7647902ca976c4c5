"""Z-order (Morton) clustering key — multi-dimensional data skipping.

``overwrite(cluster_by=...)`` range-partitions + sorts lexicographically:
file min/max stats stay tight for the LEADING column only — a predicate
on the second column still touches every file. Interleaving the bits of
several columns' normalized positions gives every interleaved dimension
partial locality: sorting by the Morton value places rows so that each
data file covers a small hyper-rectangle of the key space, and parquet
min/max footer stats then skip files for predicates on ANY of the
z-dimensions. This is the same layout lever Delta/Iceberg expose as
``ZORDER BY`` / sort-order transforms, built here from plain Column
expressions (shift/mask arithmetic — whole-stage codegen, no UDF).

The warehouse applies either key under one clustering policy
(``sinks/warehouse._cluster_layout``, shared by ``overwrite`` and
``compact``): an unpartitioned table is range-split on the key into
disjoint, sorted files; a hive-partitioned table is hashed on its
partition columns and sorted on the key within each partition, so every
partition dir holds one sorted file set.

Normalization maps each column to an integer grid via min/max scaling
(one cheap agg at write time). Value skew degrades grid-cell occupancy,
not correctness — stats-based skipping only needs monotonicity of the
per-file bounding boxes, and a skew-robust variant just swaps the
scaler for approx-quantile boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .scalars import event_micros

BITS = 8  # 256 grid cells per dimension; 2-3 dims -> 16-24 bit z-values


def _as_double(df: DataFrame, c: str) -> Column:
    """Numeric view of a z-dimension. Timestamps go through
    ``event_micros`` (flavor-robust, and ANSI mode disallows a direct
    timestamp->numeric cast)."""
    if isinstance(df.schema[c].dataType, (T.TimestampType, T.TimestampNTZType)):
        return event_micros(df, c).cast("double")
    return F.col(c).cast("double")


def _grid_position(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Scale a numeric/timestamp column to an integer in [0, 2^bits)."""
    from .scalars import nullif_zero

    n = F.lit((1 << bits) - 1)
    x = col.cast("double")
    lo_d, hi_d = lo.cast("double"), hi.cast("double")
    span = nullif_zero(hi_d - lo_d)
    pos = F.floor((x - lo_d) / span * (n + 1))
    return F.least(F.greatest(F.coalesce(pos, F.lit(0)), F.lit(0)), n).cast("long")


def _interleave(positions: list[Column], bits: int) -> Column:
    """Morton-interleave: bit i of dim d lands at position i*ndims + d."""
    ndims = len(positions)
    z = F.lit(0).cast("long")
    for d, p in enumerate(positions):
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(p, i).bitwiseAND(F.lit(1)), i * ndims + d
                )
            )
    return z


def with_zorder_key(
    df: DataFrame,
    cols: tuple[str, ...],
    key_col: str = "_zorder",
    bits: int = BITS,
    scaler: str = "minmax",
) -> DataFrame:
    """Append the Morton key for ``cols`` (numeric/timestamp). One
    min/max aggregate over the batch (a single combinable pass — at
    write time this is noise next to the write itself), then pure
    bit arithmetic per row.

    ``scaler="quantile"`` is the skew-robust variant the module
    docstring promises: grid boundaries come from ``approxQuantile``
    (Greenwald-Khanna, one combinable pass) instead of min/max
    scaling, so every grid cell holds ~equal ROW MASS. Under heavy
    value skew (a Zipf head, an outlier tail) min/max scaling
    collapses most rows into a few cells — per-file bounding boxes
    then all overlap the hot region and stats-based skipping stops
    biting; equal-mass cells keep the boxes disjoint. Encoding is a
    ``Bucketizer`` per dimension (JVM binary search over the
    broadcast cut array, no Python in the row path). Duplicate cuts
    (a single value owning >1/2^bits of the mass) merge — fewer
    occupied cells, never wrong boxes."""
    if scaler not in ("minmax", "quantile"):
        raise ValueError(
            f"scaler must be 'minmax' or 'quantile', got {scaler!r}"
        )
    if key_col in df.columns:
        raise ValueError(
            f"with_zorder_key key column {key_col!r} collides with an "
            "input column; pass a different key_col"
        )
    if scaler == "quantile":
        return _with_quantile_zorder_key(df, cols, key_col, bits)
    # each path checks only its OWN working names: a quantile caller
    # must not be refused over _lo_/_hi_ columns the minmax path alone
    # creates
    working = {*(f"_lo_{c}" for c in cols), *(f"_hi_{c}" for c in cols)}
    clash = working & set(df.columns)
    if clash:
        raise ValueError(
            f"with_zorder_key working columns collide with input columns: "
            f"{sorted(clash)}; rename them"
        )
    aggs = []
    for c in cols:
        aggs += [F.min(_as_double(df, c)).alias(f"_lo_{c}"),
                 F.max(_as_double(df, c)).alias(f"_hi_{c}")]
    bounds = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(bounds))
    positions = [
        _grid_position(
            _as_double(df, c), F.col(f"_lo_{c}"), F.col(f"_hi_{c}"), bits
        )
        for c in cols
    ]
    out = out.withColumn(key_col, _interleave(positions, bits))
    drop = [f"_lo_{c}" for c in cols] + [f"_hi_{c}" for c in cols]
    return out.drop(*drop)


def _with_quantile_zorder_key(
    df: DataFrame, cols: tuple[str, ...], key_col: str, bits: int
) -> DataFrame:
    """Equal-mass grid positions via approxQuantile + Bucketizer."""
    from pyspark.ml.feature import Bucketizer

    n_cells = 1 << bits
    dbl_cols = [f"__zq_{c}" for c in cols]
    pos_cols = [f"__zp_{c}" for c in cols]
    clash = set(dbl_cols + pos_cols) & set(df.columns)
    if clash:
        raise ValueError(
            f"with_zorder_key working columns collide with input columns: "
            f"{sorted(clash)}; rename them"
        )
    staged = df
    for c, dc in zip(cols, dbl_cols):
        staged = staged.withColumn(dc, _as_double(df, c))
    probs = [i / n_cells for i in range(1, n_cells)]
    # one combinable Greenwald-Khanna pass over all dims; the cut
    # arrays are bounded driver metadata (<= 2^bits - 1 per dim)
    cuts = staged.stat.approxQuantile(dbl_cols, probs, 1.0 / (4 * n_cells))
    splits = [
        [float("-inf"), *sorted(set(cs)), float("inf")] for cs in cuts
    ]
    bucketed = Bucketizer(
        splitsArray=splits,
        inputCols=dbl_cols,
        outputCols=pos_cols,
        handleInvalid="keep",  # NULL/NaN -> overflow bucket, clamped below
    ).transform(staged)
    positions = []
    for c, dc, pc, sp in zip(cols, dbl_cols, pos_cols, splits):
        # match _grid_position's NULL contract (cell 0) and clamp the
        # keep-bucket overflow back onto the grid
        positions.append(
            F.when(F.col(dc).isNull(), F.lit(0))
            .otherwise(
                F.least(F.col(pc).cast("long"), F.lit(len(sp) - 2))
            )
            .cast("long")
        )
    out = bucketed.withColumn(key_col, _interleave(positions, bits))
    return out.drop(*dbl_cols, *pos_cols)
