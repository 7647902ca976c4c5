"""Driver rows for the round-4 scale components that previously had
only pytest pins: incremental rollup maintenance, incremental
band-index dedup, and distributed PCA. Each row's contract is the
component's core invariant — fold ≡ recompute, two-batch ≡ full, and
the PCA laws over exactly-replayable moments — expressed so DuckDB can
replay (or pin as a literal flag) every output cell.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import round_half_up, sql_round
from ..operators.pca import fit_pca, project
from ..operators.rollup import merge_rollups, rollup_increment, rollup_metrics
from ..sources.readers import load_table
from .extensions import _JACCARD, _SH_CTE, _SIG_BAND_CAND_CTES
from .registry import register, scratch_warehouse


def _py_round_half_up(x: float, scale: int) -> float:
    """Driver-side twin of functions.scalars.round_half_up for model
    scalars that are numpy floats before they become literals."""
    q = Decimal(10) ** -scale
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))






# ---------------------------------------------------------------------------
# Incremental rollup maintenance (operators/rollup.py)
# ---------------------------------------------------------------------------


@register(
    "rollup_maintenance",
    oracle=f"""
WITH agg AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           COUNT(*) AS n_rows,
           {sql_round('SUM(value) / COUNT(*)', 4)} AS avg_value,
           MAX(value) AS high_v,
           MIN(value) AS low_v
    FROM events GROUP BY user_id, CAST(ts AS DATE)
),
ranked AS (
    SELECT user_id, CAST(ts AS DATE) AS day, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, value) AS rn_open,
           ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts DESC, value DESC) AS rn_close
    FROM events
)
SELECT v.variant, a.user_id, a.day, a.n_rows, a.avg_value,
       o.value AS open_v, a.high_v, a.low_v, c.value AS close_v,
       CAST(1.0 AS DOUBLE) AS hll_uniq_ok, CAST(1.0 AS DOUBLE) AS kll_n_ok,
       CAST(1.0 AS DOUBLE) AS kll_extrema_ok, CAST(1.0 AS DOUBLE) AS kll_q50_band_ok
FROM agg a
JOIN ranked o ON o.user_id = a.user_id AND o.day = a.day AND o.rn_open = 1
JOIN ranked c ON c.user_id = a.user_id AND c.day = a.day AND c.rn_close = 1
CROSS JOIN (SELECT unnest(['batch', 'stream']) AS variant) v
""",
    tags=("rollup", "incremental"),
)
def q_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance (operators/rollup.py): the events
    stream arrives as three batches; each batch folds into per-
    (user, day) mergeable state (count/sum/min/max + (ts, value)
    struct-extrema for open/close) and the states combine by
    re-aggregation. The oracle recomputes the same rollup DIRECTLY over
    the union, so the row gates the maintenance invariant — fold of
    batches ≡ one aggregation — cross-engine, not just cross-run. The
    reference's analog is its full refresh (SURVEY Q8, DROP + CTAS per
    run); this is the 100 TB replacement. Open/close tie-break on
    equal ts is (ts, value) lexicographic on both sides.

    The state additionally carries mergeable DataSketches columns (HLL
    over event_id, KLL over value — operators/sketches.py), folded
    through the SAME three-batch merge, so this row also gates sketch
    mergeability. Oracle-pairing approximations directly would be flaky
    by construction (same argument as stats_suite's sketch arm), so the
    row checks the sketches' CONTRACTS as flags that collapse to 1.0:
    the HLL estimate of a unique column within 5% of the row count
    (exact at driver scale — sparse mode), KLL's n / min / max exactly
    equal to the scalar state (hard guarantees independent of
    compaction), and the KLL median inside [min, max]. A violated
    contract hash-mismatches the oracle's literal 1.0.

    The `stream` arm delivers the SAME events as two parquet file waves
    through a real readStream + foreachBatch epoch-log fold
    (streaming/incremental.py rollup_maintenance_stream): each
    micro-batch's increment is appended as its own ``_epoch`` partition
    of the epoch log (operators/epoch_log.py) — a replayed epoch is
    found present and skipped, so at-least-once delivery degrades to
    exactly-once state — and the read-time combine
    over epochs must equal the identical direct recompute the batch arm
    is gated by. Replayed-epoch no-ops and compaction invariance stay
    pinned in tests/test_streaming.py::test_rollup_maintenance_stream_epoch_log."""
    import os

    from ..streaming.incremental import (
        read_rollup_state,
        rollup_maintenance_stream,
    )

    def _project(m: DataFrame, variant: str) -> DataFrame:
        rel_err = F.abs(F.col("uniq_est") - F.col("n_rows")) / F.col("n_rows")
        return m.select(
            F.lit(variant).alias("variant"),
            "user_id",
            "day",
            "n_rows",
            round_half_up(F.col("avg_value"), 4).alias("avg_value"),
            "open_v",
            "high_v",
            "low_v",
            "close_v",
            (rel_err <= F.lit(0.05)).cast("double").alias("hll_uniq_ok"),
            (F.col("kll_n") == F.col("n_rows")).cast("double").alias("kll_n_ok"),
            (
                (F.col("kll_min") == F.col("low_v"))
                & (F.col("kll_max") == F.col("high_v"))
            ).cast("double").alias("kll_extrema_ok"),
            (
                (F.col("kll_q50") >= F.col("low_v"))
                & (F.col("kll_q50") <= F.col("high_v"))
            ).cast("double").alias("kll_q50_band_ok"),
        )

    ev = load_table(spark, sf_dir, "events")
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    state = rollup_increment(batches[0], keys=("user_id",), distinct_col="event_id")
    for b in batches[1:]:
        state = merge_rollups(
            state, rollup_increment(b, keys=("user_id",), distinct_col="event_id")
        )
    batch_arm = _project(rollup_metrics(state), "batch")

    # stream arm: the SAME events delivered as two parquet file waves
    # through a real readStream + foreachBatch epoch-log fold
    # (streaming/incremental.py) — each micro-batch's increment is
    # appended as its own _epoch partition (a replay is skipped), and
    # the read-time combine over epochs must equal the direct oracle
    # recompute, exactly like the batch fold
    wh = scratch_warehouse(spark, "rollup_stream_rows")
    src = os.path.join(wh.root, "_src")
    ckpt = os.path.join(wh.root, "_ckpt")
    ev.filter(F.col("event_id") % 3 != 2).write.mode("append").parquet(src)
    rollup_maintenance_stream(
        spark, src, ev.schema, wh, "roll",
        keys=("user_id",), checkpoint_dir=ckpt, distinct_col="event_id",
    )
    ev.filter(F.col("event_id") % 3 == 2).write.mode("append").parquet(src)
    rollup_maintenance_stream(
        spark, src, ev.schema, wh, "roll",
        keys=("user_id",), checkpoint_dir=ckpt, distinct_col="event_id",
    )
    stream_arm = _project(
        rollup_metrics(read_rollup_state(wh, "roll")), "stream"
    )
    return batch_arm.unionByName(stream_arm)


# ---------------------------------------------------------------------------
# Incremental band-index dedup (operators/incremental_dedup.py)
# ---------------------------------------------------------------------------


# Shared oracle for the batch AND streaming incremental-dedup rows: the
# full-corpus exact + MinHash-LSH + connected-components pass recomputed
# from scratch as a recursive CTE — whatever micro-batching delivered the
# corpus, the surviving set must equal this.
_INC_DEDUP_ORACLE = f"""
WITH RECURSIVE {_SH_CTE},
{_SIG_BAND_CAND_CTES},
pairs AS (
    SELECT doc_a, doc_b FROM (
        SELECT c.doc_a, c.doc_b, {sql_round(_JACCARD, 4)} AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b
    ) WHERE jaccard >= 0.7
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
    UNION
    SELECT doc_a AS src, doc_a AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_b AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (
    SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
),
exact AS (
    SELECT doc_id, text FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
)
SELECT e.doc_id, md5(e.text) AS content_md5
FROM exact e LEFT JOIN clusters c ON c.doc_id = e.doc_id
WHERE c.cluster_id IS NULL OR c.cluster_id = e.doc_id
"""


@register(
    "incremental_dedup_two_batch",
    oracle=_INC_DEDUP_ORACLE,
    tags=("dedup", "incremental"),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental band-index ingestion ≡ full-corpus dedup
    (operators/incremental_dedup.py): the corpus arrives as two
    doc_id-median-split batches; batch 1 dedups in-batch and persists a
    MinHash band index, batch 2 dedups against the STORED index without
    re-hashing the corpus, and the retained set must equal what one
    full-corpus exact + MinHash-LSH + cluster pass retains (keeper =
    lowest id; batch-1 ids are lower, so cross-batch keepers agree —
    the recursive-CTE oracle recomputes the full pass from scratch,
    signatures included). Writes its working corpus/index tables to a
    fresh temp warehouse per invocation.

    The exact-Jaccard verify gate rounds to the same 4 decimals as the
    oracle; near-dup relations that chain ONLY through a dropped doc
    across batches could legitimately diverge (see
    tests/test_incremental_dedup.py) — on the driver corpora they do
    not, which is exactly what this row checks."""
    from ..operators.incremental_dedup import ingest_batch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wh = scratch_warehouse(spark, "inc_dedup_rows")
    half = docs.agg(F.expr("percentile(doc_id, 0.5D)")).first()[0]
    ingest_batch(spark, wh, docs.filter(F.col("doc_id") <= half))
    ingest_batch(spark, wh, docs.filter(F.col("doc_id") > half))
    corpus = wh.read("corpus_docs")
    return corpus.select("doc_id", F.md5("text").alias("content_md5"))


# ---------------------------------------------------------------------------
# Distributed PCA (operators/pca.py)
# ---------------------------------------------------------------------------

_PCA_K = 8
_PCA_DIM = 64
_PCA_LAW_METRICS = (
    "proj_mean_zero",
    "proj_var_eq_eigenvalue",
    "whitened_unit_var",
)
_PCA_MODEL_FLAGS = (
    "eigen_descending",
    "eigen_sum_le_total",
    "orthonormal",
    "sign_convention",
    # round 8 — persisted incremental moments (operators/incremental_pca.py)
    "inc_n_exact",
    "inc_mean_matches",
    "inc_cov_matches",
    "inc_replay_idempotent",
    # round 8 — the same state built through a REAL readStream +
    # foreachBatch drain (streaming/incremental.pca_ingest_stream)
    "inc_stream_matches",
)


@register(
    "pca_project",
    oracle=f"""
WITH comp AS (
    SELECT unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
           unnest(range(1, len(embedding) + 1)) AS pos
    FROM embeddings
),
dimstats AS (
    SELECT pos, avg(x) AS m, avg(x * x) - avg(x) * avg(x) AS vp
    FROM comp GROUP BY pos
)
SELECT CAST(-1 AS INT) AS component, 'n_rows' AS metric,
       CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE) AS value
UNION ALL
SELECT -1, 'total_variance', (SELECT {sql_round('SUM(vp)', 6)} FROM dimstats)
UNION ALL
SELECT -1, 'mean_sq_norm', (SELECT {sql_round('SUM(m * m)', 6)} FROM dimstats)
UNION ALL
SELECT -1, m, 1.0
FROM (SELECT unnest({list(_PCA_MODEL_FLAGS)}) AS m)
UNION ALL
SELECT CAST(i AS INT), m, 1.0
FROM (SELECT unnest(range(0, {_PCA_K})) AS i)
CROSS JOIN (SELECT unnest({list(_PCA_LAW_METRICS)}) AS m)
""",
    tags=("pca", "embeddings"),
)
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA gate (operators/pca.py). The eigensolve is a
    driver-side d x d step no SQL engine replays, so the row checks the
    two halves separately, melted to (component, metric, value):

    - REPLAYABLE MOMENTS (hash-compared against DuckDB's own
      recomputation): row count, total variance (= trace of the
      covariance the per-partition Gram reduction produced) and the
      squared norm of the mean vector, both rounded to 6 dp — if the
      distributed sufficient-statistics pass dropped a partition or
      mis-ordered a dimension, these diverge.
    - PCA LAWS as flags that must collapse to the oracle's literal 1.0:
      per component, the PROJECTED data (a separate distributed
      codegen pass over the broadcast component literals) has mean ~0,
      variance equal to the component's eigenvalue, and unit variance
      after whitening; for the model, eigenvalues are descending, their
      top-k sum is bounded by the total variance, the component matrix
      is orthonormal, and the deterministic sign convention holds.
      Tolerances are relative 1e-6 — far above fp noise, far below any
      real defect."""
    emb = load_table(spark, sf_dir, "embeddings")
    model = fit_pca(emb, k=_PCA_K, dim=_PCA_DIM)

    projected = project(
        project(emb, model, out_col="pca"), model, out_col="wpca", whiten=True
    )
    comp_stats = (
        projected.select(F.posexplode(F.arrays_zip("pca", "wpca")).alias("i", "s"))
        .select("i", F.col("s.pca").alias("x"), F.col("s.wpca").alias("w"))
        .groupBy("i")
        .agg(
            F.avg("x").alias("m"),
            F.var_pop("x").alias("v"),
            F.var_pop("w").alias("vw"),
        )
    )
    eigen = spark.createDataFrame(
        [(i, float(ev)) for i, ev in enumerate(model["eigenvalues"])],
        "i int, ev double",
    )
    flags = comp_stats.join(F.broadcast(eigen), "i").select(
        F.col("i").alias("component"),
        F.when(
            F.abs(F.col("m")) <= F.sqrt(F.abs(F.col("ev"))) * 1e-6 + 1e-9, 1.0
        )
        .otherwise(0.0)
        .alias("proj_mean_zero"),
        F.when(
            F.abs(F.col("v") - F.col("ev"))
            <= F.greatest(F.col("ev"), F.lit(1e-12)) * 1e-6 + 1e-9,
            1.0,
        )
        .otherwise(0.0)
        .alias("proj_var_eq_eigenvalue"),
        F.when(F.col("ev") > 0, F.abs(F.col("vw") - 1.0) <= 1e-6)
        .otherwise(F.abs(F.col("vw")) <= 1e-12)
        .cast("double")
        .alias("whitened_unit_var"),
    )
    law_arm = flags.melt(
        ids=["component"],
        values=list(_PCA_LAW_METRICS),
        variableColumnName="metric",
        valueColumnName="value",
    )

    # driver-side model scalars + flags (d x d — sanctioned scale)
    import numpy as np

    comps = model["components"]
    evs = model["eigenvalues"]
    n, mean = model["n"], model["mean"]
    total_var = model["total_variance"]
    gram_ok = np.abs(comps @ comps.T - np.eye(_PCA_K)).max() <= 1e-8
    sign_ok = all(
        comps[i, int(np.abs(comps[i]).argmax())] > 0 for i in range(_PCA_K)
    )
    desc_ok = all(evs[i] >= evs[i + 1] - 1e-12 for i in range(_PCA_K - 1))
    sum_ok = float(np.sum(evs)) <= total_var * (1 + 1e-9) + 1e-9
    # (round 8) persisted incremental moments (operators/
    # incremental_pca.py): the corpus as two vec_id-median batches
    # folded into content-addressed epoch partitions of a scratch
    # warehouse; the combined state must equal a full recount — n
    # EXACTLY, mean/covariance to relative 1e-9 (double moments
    # accumulate with addition-order rounding, so this is the lm_state
    # "combined ≡ recount" gate with FP-law flags in place of integer
    # hash identity) — and a redelivered batch must leave the state
    # bit-identical (its content-addressed epoch is present, so skipped).
    # The recount is one extra scan of the embeddings table — fine
    # here: this suite is a verification surface (the sketch-arm
    # precedent), and a production refit reads ONLY the state.
    from ..operators.incremental_pca import (
        ingest_pca_batch,
        pca_moments_state,
    )
    from ..operators.pca import covariance_stats

    inc_wh = scratch_warehouse(spark, "pca_moments_rows")
    half = emb.agg(F.expr("percentile(vec_id, 0.5D)")).first()[0]
    b1 = emb.filter(F.col("vec_id") <= half)
    ingest_pca_batch(inc_wh, b1, dim=_PCA_DIM)
    ingest_pca_batch(
        inc_wh, emb.filter(F.col("vec_id") > half), dim=_PCA_DIM
    )
    n_i, mean_i, cov_i = pca_moments_state(inc_wh, dim=_PCA_DIM)
    ingest_pca_batch(inc_wh, b1, dim=_PCA_DIM)  # redelivery
    n_r, mean_r, cov_r = pca_moments_state(inc_wh, dim=_PCA_DIM)
    fn, fmean, fcov = covariance_stats(emb, dim=_PCA_DIM)

    def _rel_close(a, b, tol=1e-9):
        return float(np.max(np.abs(a - b))) <= tol * (
            1.0 + float(np.max(np.abs(b)))
        )

    replay_ok = (
        n_r == n_i
        and np.array_equal(mean_r, mean_i)
        and np.array_equal(cov_r, cov_i)
    )
    # the STREAMING delivery of the same state: two parquet file waves
    # through a real readStream + foreachBatch drain, each micro-batch
    # folding its moments into a separate epoch log — the combined
    # state must satisfy the same recount laws however the trigger
    # sliced the backlog (moments are exactly additive; the epoch
    # address makes replays bit-level no-ops)
    import os as _os

    from ..streaming.incremental import pca_ingest_stream

    s_src = _os.path.join(inc_wh.root, "_pca_src")
    s_ckpt = _os.path.join(inc_wh.root, "_pca_ckpt")
    emb_sub = emb.select("vec_id", "embedding")
    emb_sub.filter(F.col("vec_id") <= half).write.mode("append").parquet(s_src)
    pca_ingest_stream(
        spark, s_src, emb_sub.schema, inc_wh, s_ckpt,
        table="pca_moments_stream", dim=_PCA_DIM,
    )
    emb_sub.filter(F.col("vec_id") > half).write.mode("append").parquet(s_src)
    pca_ingest_stream(
        spark, s_src, emb_sub.schema, inc_wh, s_ckpt,
        table="pca_moments_stream", dim=_PCA_DIM,
    )
    n_s, mean_s, cov_s = pca_moments_state(
        inc_wh, table="pca_moments_stream", dim=_PCA_DIM
    )
    model_rows = [
        (-1, "n_rows", float(n)),
        (-1, "total_variance", _py_round_half_up(total_var, 6)),
        (-1, "mean_sq_norm", _py_round_half_up(float(np.dot(mean, mean)), 6)),
        (-1, "eigen_descending", 1.0 if desc_ok else 0.0),
        (-1, "eigen_sum_le_total", 1.0 if sum_ok else 0.0),
        (-1, "orthonormal", 1.0 if gram_ok else 0.0),
        (-1, "sign_convention", 1.0 if sign_ok else 0.0),
        (-1, "inc_n_exact", 1.0 if n_i == fn else 0.0),
        (-1, "inc_mean_matches", 1.0 if _rel_close(mean_i, fmean) else 0.0),
        (-1, "inc_cov_matches", 1.0 if _rel_close(cov_i, fcov) else 0.0),
        (-1, "inc_replay_idempotent", 1.0 if replay_ok else 0.0),
        (
            -1,
            "inc_stream_matches",
            1.0
            if n_s == fn
            and _rel_close(mean_s, fmean)
            and _rel_close(cov_s, fcov)
            else 0.0,
        ),
    ]
    model_arm = spark.createDataFrame(
        model_rows, "component int, metric string, value double"
    )
    return law_arm.unionByName(model_arm)


# ---------------------------------------------------------------------------
# Warehouse CDC: snapshot versioning + changes() (sinks/warehouse.py)
# ---------------------------------------------------------------------------


@register(
    "warehouse_changes",
    oracle="""
WITH base AS (
    SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
    FROM orders
),
state1 AS (
    SELECT * FROM base WHERE k % 7 < 5
),
final AS (
    SELECT k, status,
           CASE WHEN k % 7 < 5 AND k % 3 = 0 THEN price + 10.0 ELSE price END
               AS price
    FROM base
    WHERE k % 7 <= 5 AND k % 5 <> 0
)
SELECT 'cdc' AS variant,
       CASE WHEN s.k IS NULL THEN 'insert'
            WHEN f.k IS NULL THEN 'delete'
            ELSE 'update' END AS _change_type,
       COALESCE(f.k, s.k) AS k,
       COALESCE(f.status, s.status) AS status,
       COALESCE(f.price, s.price) AS price
FROM state1 s FULL OUTER JOIN final f ON s.k = f.k
WHERE s.k IS NULL OR f.k IS NULL
   OR s.status <> f.status OR s.price <> f.price
UNION ALL
SELECT 'restore_state' AS variant, 'state' AS _change_type, k, status, price
FROM state1
UNION ALL
SELECT 'vacuum_law' AS variant, 'law' AS _change_type,
       CAST(-1 AS BIGINT) AS k,
       'restore_target_survives_vacuum' AS status,
       CAST(1.0 AS DOUBLE) AS price
UNION ALL
SELECT 'scd2' AS variant,
       CAST(vf AS VARCHAR) || ':' || COALESCE(CAST(vt AS VARCHAR), 'open')
           || ':' || CASE WHEN cur THEN 'true' ELSE 'false' END
           AS _change_type,
       k, status, price
FROM (
    SELECT s.k AS k, s.status AS status, s.price AS price,
           1 AS vf, CAST(NULL AS INT) AS vt, TRUE AS cur
    FROM state1 s JOIN final f ON s.k = f.k
    WHERE s.status = f.status AND s.price = f.price
    UNION ALL
    SELECT s.k, s.status, s.price, 1 AS vf, 2 AS vt, FALSE AS cur
    FROM state1 s LEFT JOIN final f ON s.k = f.k
    WHERE f.k IS NULL OR s.status <> f.status OR s.price <> f.price
    UNION ALL
    SELECT f.k, f.status, f.price,
           2 AS vf, CAST(NULL AS INT) AS vt, TRUE AS cur
    FROM final f LEFT JOIN state1 s ON f.k = s.k
    WHERE s.k IS NULL OR s.status <> f.status OR s.price <> f.price
)
""",
    tags=("warehouse", "cdc", "versioning"),
)
def q_warehouse_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed over the versioned parquet warehouse
    (sinks/warehouse.py changes()): a keyed table evolves through the
    full write surface — full-snapshot overwrite (v1), O(batch)
    manifest append of new keys (v2), keyed merge revising every third
    key (v3), and an overwrite dropping every fifth key (v4, the
    delete path — snapshots make deletion an ordinary rewrite) — and
    ``changes(v1 -> latest)`` must classify exactly the keyed diff:
    inserts carry the post-image, deletes the v1 pre-image, updates the
    post-image; keys inserted-then-deleted inside the interval emit
    nothing. The oracle recomputes both endpoint states directly from
    ``orders`` and full-outer-diffs them, so the entire
    version-chain + manifest-read + diff-classification path is
    value-gated cross-engine (the reference's PostgreSQL store mutates
    in place and has no history at all — this is the surface that
    replaces it at 100 TB, where CDC is a pure metadata read over
    immutable snapshots).

    Further arms (`scd2` below rides the same state transition as a
    Kimball Type-2 dimension merge); two drive the rollback surface
    under the driver:

    - `restore_state`: after the chain, ``restore(v1)`` (O(1) pointer
      flip) and re-read — the FULL restored table must equal the
      oracle's direct recomputation of state1, so restore is
      value-gated, not just pointer-checked. The CDC DataFrame above is
      version-pinned eagerly at ``changes()`` time (reads resolve
      member dirs immediately), so the later pointer flip cannot
      retroactively change it.
    - `vacuum_law`: ``vacuum(keep_last=2)`` with the pointer parked on
      v1 — reference-aware retention must keep the restored-to version
      (it is the pointer target, not among the newest two) and the
      table must still read back exactly state1's rows afterwards; the
      flag row collapses to the oracle's literal 1.0.

    Intra-chain invariants (manifest append ≡ materialized append,
    post-restore version allocation, vacuum member-reference safety)
    stay pinned in tests/test_warehouse.py."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    state1 = base.filter(F.col("k") % 7 < 5)
    inserts = base.filter(F.col("k") % 7 == 5)
    updates = base.filter((F.col("k") % 7 < 5) & (F.col("k") % 3 == 0)).withColumn(
        "price", F.col("price") + F.lit(10.0)
    )

    wh = scratch_warehouse(spark, "warehouse_changes_rows")
    wh.overwrite(state1, "t")
    v1 = wh.versions("t")[-1]
    wh.append(inserts, "t")
    wh.merge(updates, "t", keys=("k",))
    wh.overwrite(wh.read("t").filter(F.col("k") % 5 != 0), "t")
    cdc = wh.changes("t", v1, keys=("k",)).withColumn("variant", F.lit("cdc"))
    # version-pinned read of the post-chain state, captured BEFORE the
    # restore below flips the pointer back (same eager-resolution
    # mechanism the cdc read relies on)
    final_state = wh.read("t")

    # rollback surface: restore is an O(1) pointer flip; the re-read
    # (version-pinned eagerly, like the cdc read above) must equal the
    # oracle's recomputed state1
    wh.restore("t", v1)
    restored = wh.read("t").select(
        F.lit("restore_state").alias("variant"),
        F.lit("state").alias("_change_type"),
        "k",
        "status",
        "price",
    )

    # reference-aware vacuum: with the pointer parked on v1 (NOT among
    # the newest two versions), retention must keep it and the table
    # must still read exactly state1 afterwards
    wh.vacuum("t", keep_last=2)
    n_state1 = state1.count()
    vacuum_ok = float(
        v1 in wh.versions("t") and wh.read("t").count() == n_state1
    )
    law = spark.createDataFrame(
        [("vacuum_law", "law", -1, "restore_target_survives_vacuum", vacuum_ok)],
        "variant string, _change_type string, k bigint, status string, price double",
    )

    # scd2 arm: the SAME state transition (state1 -> final), this time
    # as a Kimball Type-2 dimension merge (operators/merge.py
    # scd2_init/scd2_merge) with delete detection on — the full
    # versioned history (valid_from:valid_to:is_current, encoded into
    # _change_type so the arm shares the row schema) is value-gated
    # against the oracle's three-way classification. The source side is
    # the warehouse's own version-pinned read of the post-chain state,
    # so the arm also exercises snapshot reads feeding a dimension
    # merge.
    from ..operators.merge import scd2_init, scd2_merge

    dim = scd2_merge(
        scd2_init(state1, ("k",), 1),
        final_state,
        ("k",),
        ("status", "price"),
        2,
        close_missing=True,
    )
    scd2 = dim.select(
        F.lit("scd2").alias("variant"),
        F.concat(
            F.col("valid_from").cast("string"),
            F.lit(":"),
            F.coalesce(F.col("valid_to").cast("string"), F.lit("open")),
            F.lit(":"),
            F.when(F.col("is_current"), F.lit("true")).otherwise(
                F.lit("false")
            ),
        ).alias("_change_type"),
        "k",
        "status",
        "price",
    )
    return (
        cdc.unionByName(restored).unionByName(law).unionByName(scd2)
    )


@register(
    "stream_dedup_ingest",
    oracle=_INC_DEDUP_ORACLE,
    tags=("dedup", "incremental", "streaming"),
)
def q_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``incremental_dedup_two_batch``
    (streaming/incremental.py dedup_ingest_stream): the same
    doc_id-median-split corpus arrives as two parquet file WAVES through
    a real ``readStream`` + ``foreachBatch`` drain over one file-source
    checkpoint — each micro-batch runs the persisted-band-index ingest
    transaction (exact + MinHash-LSH against the stored corpus without
    re-hashing it) and commits only survivors. The surviving corpus
    must equal the full-corpus recompute — the SAME recursive-CTE
    oracle as the batch row, so the driver gates that the streaming
    delivery path (offset checkpointing, micro-batch replay-idempotent
    commits) preserves the batch semantics end-to-end. Waves drain
    low-ids-first (two sequential availableNow drains, second wave
    staged after the first completes), matching the lowest-id-keeper
    convention the oracle encodes; exactly-once replay and arbitrary
    in-wave micro-batch splits are pinned in
    tests/test_incremental_dedup.py::test_dedup_ingest_stream_matches_batch_path."""
    import os

    from ..streaming.incremental import dedup_ingest_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wh = scratch_warehouse(spark, "stream_dedup_ingest_rows")
    src = os.path.join(wh.root, "_src")
    ckpt = os.path.join(wh.root, "_ckpt")
    half = docs.agg(F.expr("percentile(doc_id, 0.5D)")).first()[0]

    docs.filter(F.col("doc_id") <= half).write.mode("append").parquet(src)
    dedup_ingest_stream(spark, src, docs.schema, wh, ckpt)
    docs.filter(F.col("doc_id") > half).write.mode("append").parquet(src)
    dedup_ingest_stream(spark, src, docs.schema, wh, ckpt)

    corpus = wh.read("corpus_docs")
    return corpus.select("doc_id", F.md5("text").alias("content_md5"))
