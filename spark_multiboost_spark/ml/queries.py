"""Group A oracle queries (SURVEY.md §2 A1-A13): each boosting building
block individually hash-checked against a DuckDB twin at the driver's SF.

Fixed-stump queries (A7-A9, A11) use literal stump constants so scoring and
loss have exact SQL oracles independent of training (FIXTURES.md §2.3
``stumps_fixed``); the iterative loop itself (A10/A12/A13) is rows-only per
SURVEY §2.
"""

from __future__ import annotations

import os
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..session import load_tables, sf_scratch
from . import boosting

K = 10
D = 64

# shared DuckDB prelude: doubles-cast embeddings, long-form labels, uniform
# weights, exploded features (1-based feature index both engines)
_PRELUDE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings
), mlp AS (
  SELECT vec_id AS id, g.class,
         CASE WHEN g.class = label THEN 1 ELSE -1 END AS y
  FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {K - 1})) AS class) g
), mm AS (SELECT COUNT(*) AS m FROM e
), w AS (
  SELECT mlp.id, mlp.class, mlp.y, CAST(1.0 AS DOUBLE) / (mm.m * {K}) AS weight
  FROM mlp, mm
), feats AS (
  SELECT vec_id AS id, j.feature, embedding[j.feature] AS value
  FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, {D})) AS feature) j
)
"""

# Vote constants chosen so stump 0 strictly dominates (|v0| > |v1|+|v2|+0.1
# per class): scores can never approach 0, so sign(score) is unambiguous
# under any floating-point summation order (cross-engine safe).
_VOTES0 = [0.31, -0.33, 0.35, -0.37, 0.32, -0.34, 0.36, -0.38, 0.39, -0.41]
_VOTES1 = [-0.11, 0.12, -0.13, 0.14, -0.105, 0.115, -0.125, 0.135, -0.145, 0.155]
_VOTES2 = [0.07, 0.08, -0.09, 0.06, 0.085, -0.075, 0.095, -0.065, -0.055, 0.1]
_STUMPS_FIXED = [
    boosting.Stump(t=0, feature=3, threshold=0.0, z=0.0, votes=_VOTES0),
    boosting.Stump(t=1, feature=10, threshold=0.1, z=0.0, votes=_VOTES1),
    boosting.Stump(t=2, feature=32, threshold=-0.05, z=0.0, votes=_VOTES2),
]


def _sql_list(vals: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in vals) + "]"


# literal stump table usable in DuckDB SQL
_STUMPS_SQL = (
    "(VALUES "
    + ", ".join(
        f"({s.t}, {s.feature}, {repr(s.threshold)}, {_sql_list(s.votes)})"
        for s in _STUMPS_FIXED
    )
    + ") AS st(t, feature, threshold, votes)"
)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir)["embeddings"]


def _fixed_scores(emb: DataFrame, stumps=_STUMPS_FIXED) -> DataFrame:
    """(id, class, score, pred) of ``emb`` under fixed stumps (A9)."""
    return boosting._explode_margins(boosting.score_model(emb, stumps))


def _weighted_uniform(emb: DataFrame) -> tuple[DataFrame, int]:
    m = emb.count()
    return (
        boosting.init_weights(boosting.mlp_long(emb, K), m, K),
        m,
    )


@query(
    "q_a1_scan_embeddings",
    oracle="""
SELECT vec_id, label,
       CAST(LEN(CAST(embedding AS DOUBLE[])) AS BIGINT) AS n_dims,
       ROUND(CAST(embedding AS DOUBLE[])[1], 6) AS f1
FROM embeddings
""",
    group="A",
)
def scan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: labeled-point source scan (reference: MultiLabeledPointParser [R]
    — reconstructed, mount empty; here the typed parquet read IS the parser)."""
    return _emb(spark, sf_dir).select(
        "vec_id",
        "label",
        F.size("embedding").cast("bigint").alias("n_dims"),
        F.round(F.element_at("embedding", 1), 6).alias("f1"),
    )


@query(
    "q_a2_weight_init",
    oracle=_PRELUDE
    + """
SELECT id, class, y, ROUND(weight, 9) AS weight FROM w
""",
    group="A",
)
def weight_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: long-form lift + uniform D_1(i,l) = 1/(mK)."""
    weighted, _m = _weighted_uniform(_emb(spark, sf_dir))
    return weighted.select("id", "class", "y", F.round("weight", 9).alias("weight"))


@query(
    "q_a3_stump_candidates",
    oracle=_PRELUDE
    + """
SELECT feature, CAST(COUNT(DISTINCT value) AS BIGINT) AS n_candidates,
       ROUND(MIN(value), 6) AS min_value, ROUND(MAX(value), 6) AS max_value
FROM feats GROUP BY feature ORDER BY feature
""",
    group="A",
)
def stump_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: candidate thresholds = distinct observed values per feature."""
    feats = boosting.explode_features(_emb(spark, sf_dir))
    return (
        feats.groupBy("feature")
        .agg(
            F.countDistinct("value").cast("bigint").alias("n_candidates"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .orderBy("feature")
    )


@query(
    "q_a4_prefix_weights",
    oracle=_PRELUDE
    + """
, grouped AS (
  SELECT f.value, w.class,
         SUM(CASE WHEN w.y = 1 THEN w.weight ELSE 0 END) AS swp,
         SUM(CASE WHEN w.y = -1 THEN w.weight ELSE 0 END) AS swm
  FROM feats f JOIN w ON f.id = w.id
  WHERE f.feature = 1
  GROUP BY f.value, w.class
)
SELECT value AS threshold, class,
       ROUND(SUM(swp) OVER (PARTITION BY class ORDER BY value
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9) AS p_plus,
       ROUND(SUM(swm) OVER (PARTITION BY class ORDER BY value
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9) AS p_minus
FROM grouped
""",
    group="A",
)
def prefix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-feature sorted cumulative class-weight sums (shown for
    feature 1) — the one-pass threshold-search core."""
    emb = _emb(spark, sf_dir)
    weighted, _m = _weighted_uniform(emb)
    feats = boosting.explode_features(emb).filter(F.col("feature") == 1)
    grouped = boosting._side_masses(feats.join(weighted, "id"), ["value", "class"])
    w_cum = (
        Window.partitionBy("class")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grouped.select(
        F.col("value").alias("threshold"),
        "class",
        F.round(F.sum("sp").over(w_cum), 9).alias("p_plus"),
        F.round(F.sum("sm").over(w_cum), 9).alias("p_minus"),
    )


@query(
    "q_a4_prefix_weights_salted",
    oracle=_PRELUDE
    + """
, grouped AS (
  SELECT f.value, w.class,
         SUM(CASE WHEN w.y = 1 THEN w.weight ELSE 0 END) AS swp,
         SUM(CASE WHEN w.y = -1 THEN w.weight ELSE 0 END) AS swm
  FROM feats f JOIN w ON f.id = w.id
  WHERE f.feature = 1
  GROUP BY f.value, w.class
), cum AS (
  SELECT value AS threshold, class,
         SUM(swp) OVER (PARTITION BY class ORDER BY value
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_plus,
         SUM(swm) OVER (PARTITION BY class ORDER BY value
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_minus,
         SUM(swp) OVER (PARTITION BY class) AS t_plus,
         SUM(swm) OVER (PARTITION BY class) AS t_minus
  FROM grouped
)
SELECT 1 AS feature, threshold, class,
       ROUND(t_plus - p_plus + p_minus, 9) AS w_plus,
       ROUND(t_minus - p_minus + p_plus, 9) AS w_minus
FROM cum
""",
    group="A",
)
def prefix_weights_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 salted (SURVEY §4.2 item 2): the bounded-fan-in two-stage window —
    bucket offsets over a tiny frame + within-bucket prefix sums. The oracle
    is the UNSALTED global prefix-sum SQL: the whole point is that salting
    changes the shuffle shape, not the numbers."""
    emb = _emb(spark, sf_dir)
    weighted, _m = _weighted_uniform(emb)
    feats = boosting.explode_features(emb).filter(F.col("feature") == 1)
    cw = boosting.stump_class_weights_salted(weighted, feats, n_buckets=8)
    return cw.select(
        "feature",
        "threshold",
        "class",
        F.round("w_plus", 9).alias("w_plus"),
        F.round("w_minus", 9).alias("w_minus"),
    )


_Z_SQL = (
    _PRELUDE
    + """
, grouped AS (
  SELECT f.feature, f.value, w.class,
         SUM(CASE WHEN w.y = 1 THEN w.weight ELSE 0 END) AS swp,
         SUM(CASE WHEN w.y = -1 THEN w.weight ELSE 0 END) AS swm
  FROM feats f JOIN w ON f.id = w.id
  WHERE f.feature <= 4
  GROUP BY f.feature, f.value, w.class
), cum AS (
  SELECT feature, value AS threshold, class,
         SUM(swp) OVER (PARTITION BY feature, class ORDER BY value
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_plus,
         SUM(swm) OVER (PARTITION BY feature, class ORDER BY value
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_minus,
         SUM(swp) OVER (PARTITION BY feature, class) AS t_plus,
         SUM(swm) OVER (PARTITION BY feature, class) AS t_minus
  FROM grouped
), cw AS (
  SELECT feature, threshold, class,
         t_plus - p_plus + p_minus AS w_plus,
         t_minus - p_minus + p_plus AS w_minus
  FROM cum
)
"""
)


@query(
    "q_a5_stump_z",
    oracle=_Z_SQL
    + """
SELECT feature, threshold,
       ROUND(2.0 * SUM(SQRT(w_plus * w_minus)), 9) AS z
FROM cw GROUP BY feature, threshold
""",
    group="A",
)
def stump_z_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: Z = 2 sum_l sqrt(W+ W-) per candidate (features 1-4 shown).
    Round-one weights are uniform, so the fused no-join formulation applies
    (boosting.uniform_class_weights) — same numbers, two fewer shuffles."""
    emb = _emb(spark, sf_dir)
    cw = boosting.uniform_class_weights(emb, 4, K, emb.count())
    return boosting.stump_z(cw).select(
        "feature", "threshold", F.round("z", 9).alias("z")
    )


@query(
    "q_a6_best_stump",
    oracle=_Z_SQL
    + """
, zs AS (
  SELECT feature, threshold, 2.0 * SUM(SQRT(w_plus * w_minus)) AS z
  FROM cw GROUP BY feature, threshold
)
SELECT feature, ROUND(threshold, 6) AS threshold, ROUND(z, 6) AS z
FROM zs ORDER BY FLOOR(z * 1e9 + 0.5), feature, threshold LIMIT 1
""",
    group="A",
)
def best_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: global argmin of Z over candidates (features 1-4 slice),
    deterministic tiebreak. Uses the fused uniform-weight plan (see A5)."""
    emb = _emb(spark, sf_dir)
    zs = boosting.stump_z(boosting.uniform_class_weights(emb, 4, K, emb.count()))
    return boosting.best_stump_row(zs).select(
        "feature",
        F.round("threshold", 6).alias("threshold"),
        F.round("z", 6).alias("z"),
    )


@query(
    "q_a7_stump_predict",
    oracle=_PRELUDE
    + f"""
SELECT e.vec_id AS id, g.class,
       ROUND({_sql_list(_VOTES0)}[g.class + 1]
             * (CASE WHEN e.embedding[3] > 0.0 THEN 1.0 ELSE -1.0 END), 6) AS h
FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {K - 1})) AS class) g
""",
    group="A",
)
def stump_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: h(x)[l] = v_l * phi(x) for the fixed stump (feature 3, theta 0),
    scored as a one-stump model."""
    return _fixed_scores(_emb(spark, sf_dir), _STUMPS_FIXED[:1]).select(
        "id", "class", F.round("score", 6).alias("h")
    )


@query(
    "q_a8_weight_update",
    oracle=_PRELUDE
    + f"""
, upd AS (
  SELECT w.id, w.class, w.y,
         w.weight * EXP(-w.y * {_sql_list(_VOTES0)}[w.class + 1]
                        * (CASE WHEN e.embedding[3] > 0.0 THEN 1.0 ELSE -1.0 END)) AS w_raw
  FROM w JOIN e ON w.id = e.vec_id
), z AS (SELECT SUM(w_raw) AS z FROM upd)
SELECT id, class, ROUND(w_raw / z.z, 9) AS weight,
       ROUND(w_raw * (SELECT m FROM mm) * {K} / z.z, 6) AS weight_rel
FROM upd, z
""",
    group="A",
)
def weight_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: one reweighting round against the fixed stump, with global Z
    normalization (weight_rel = weight * mK for hash discrimination).  The
    hand-built stump has no normalizer, so Z is one 1-row aggregate of the
    unnormalized update (a stump with Z = 1)."""
    emb = _emb(spark, sf_dir)
    weighted, m = _weighted_uniform(emb)
    feats = boosting.explode_features(emb)
    stump = _STUMPS_FIXED[0]
    raw = boosting.update_weights(weighted, feats, replace(stump, norm=1.0), spark)
    # bounded: 1 row — the global sum Z
    norm = raw.agg(F.sum("weight")).collect()[0][0]
    out = boosting.update_weights(weighted, feats, replace(stump, norm=norm), spark)
    return out.select(
        "id",
        "class",
        F.round("weight", 9).alias("weight"),
        F.round(F.col("weight") * m * K, 6).alias("weight_rel"),
    )


@query(
    "q_a9_score_model",
    oracle=_PRELUDE
    + f"""
, stumps AS (SELECT * FROM {_STUMPS_SQL})
, phi AS (
  SELECT e.vec_id AS id, st.t, st.votes,
         CASE WHEN e.embedding[st.feature] > st.threshold THEN 1.0 ELSE -1.0 END AS phi
  FROM e CROSS JOIN stumps st
)
SELECT id, g.class,
       ROUND(SUM(votes[g.class + 1] * phi), 6) AS score,
       CASE WHEN SUM(votes[g.class + 1] * phi) > 0 THEN 1 ELSE -1 END AS pred
FROM phi CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {K - 1})) AS class) g
GROUP BY id, g.class
""",
    group="A",
)
def score_fixed_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: strong-model scoring H(x)[l] = sum_t v_tl phi_t(x) with the fixed
    3-stump table: boosting.score_model's K margins per row, one row-wise
    projection, read one row per (id, class)."""
    return _fixed_scores(_emb(spark, sf_dir)).select(
        "id", "class", F.round("score", 6).alias("score"), "pred"
    )


@query(
    "q_a11_hamming_loss",
    oracle=_PRELUDE
    + f"""
, stumps AS (SELECT * FROM {_STUMPS_SQL})
, phi AS (
  SELECT e.vec_id AS id, st.t, st.votes,
         CASE WHEN e.embedding[st.feature] > st.threshold THEN 1.0 ELSE -1.0 END AS phi
  FROM e CROSS JOIN stumps st
), scored AS (
  SELECT id, g.class,
         CASE WHEN SUM(votes[g.class + 1] * phi) > 0 THEN 1 ELSE -1 END AS pred
  FROM phi CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {K - 1})) AS class) g
  GROUP BY id, g.class
)
SELECT ROUND(AVG(CASE WHEN s.pred <> mlp.y THEN 1.0 ELSE 0.0 END), 6) AS hamming_loss,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM scored s JOIN mlp ON s.id = mlp.id AND s.class = mlp.class
""",
    group="A",
)
def fixed_model_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: Hamming loss of the fixed model vs the lifted labels, over the
    (id, class) pairs of the A9 scores."""
    emb = _emb(spark, sf_dir)
    scored = _fixed_scores(emb)
    mlp = boosting.mlp_long(emb, K)
    return boosting.hamming_loss(scored, mlp)


@query(
    "q_a11_micro_prf",
    oracle=_PRELUDE
    + f"""
, stumps AS (SELECT * FROM {_STUMPS_SQL})
, phi AS (
  SELECT e.vec_id AS id, st.t, st.votes,
         CASE WHEN e.embedding[st.feature] > st.threshold THEN 1.0 ELSE -1.0 END AS phi
  FROM e CROSS JOIN stumps st
), scored AS (
  SELECT id, g.class,
         CASE WHEN SUM(votes[g.class + 1] * phi) > 0 THEN 1 ELSE -1 END AS pred
  FROM phi CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {K - 1})) AS class) g
  GROUP BY id, g.class
), conf AS (
  SELECT CAST(SUM(CASE WHEN s.pred = 1 AND mlp.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN s.pred = 1 AND mlp.y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN s.pred = -1 AND mlp.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM scored s JOIN mlp ON s.id = mlp.id AND s.class = mlp.class
)
SELECT tp, fp, fn,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS micro_p,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS micro_r,
       ROUND(CAST(2 * tp AS DOUBLE) / NULLIF(2 * tp + fp + fn, 0), 6) AS micro_f1
FROM conf
""",
    group="A",
)
def fixed_model_micro_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 (cont.): micro-averaged precision/recall/F1 over all (i,l) pairs —
    the multi-label metrics BoosTexter reports alongside Hamming loss, over
    the (id, class) pairs of the A9 scores."""
    emb = _emb(spark, sf_dir)
    scored = _fixed_scores(emb)
    mlp = boosting.mlp_long(emb, K)
    j = scored.join(mlp, ["id", "class"])
    conf = j.agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == -1), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when((F.col("pred") == -1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
    )
    return conf.select(
        "tp",
        "fp",
        "fn",
        F.round(F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)), 6).alias("micro_p"),
        F.round(F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)), 6).alias("micro_r"),
        F.round((2 * F.col("tp")).cast("double") / F.nullif(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0)), 6).alias("micro_f1"),
    )


# per-class L1 vote mass of the fixed model, as exact shared literals:
# left-to-right float sum in Python == the same literal in both engines,
# so margin normalization has zero cross-engine ambiguity.
_VOTE_NORMS = [
    abs(_VOTES0[l]) + abs(_VOTES1[l]) + abs(_VOTES2[l]) for l in range(K)
]


@query(
    "q_a11_margin_distribution",
    oracle=_PRELUDE
    + f"""
, stumps AS (SELECT * FROM {_STUMPS_SQL})
, phi AS (
  SELECT e.vec_id AS id, st.t, st.votes,
         CASE WHEN e.embedding[st.feature] > st.threshold THEN 1.0 ELSE -1.0 END AS phi
  FROM e CROSS JOIN stumps st
), scored AS (
  SELECT id, g.class, SUM(votes[g.class + 1] * phi) AS score
  FROM phi CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {K - 1})) AS class) g
  GROUP BY id, g.class
), margins AS (
  SELECT s.id,
         MIN(CAST(mlp.y * s.score / (CAST({_sql_list(_VOTE_NORMS)} AS DOUBLE[])[s.class + 1])
                  AS DECIMAL(18,6))) AS min_margin
  FROM scored s JOIN mlp ON s.id = mlp.id AND s.class = mlp.class
  GROUP BY s.id
), bucketed AS (
  SELECT CAST(FLOOR(min_margin * 10) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_examples
  FROM margins GROUP BY bucket
), mm2 AS (SELECT CAST(SUM(n_examples) AS DOUBLE) AS m FROM bucketed)
SELECT bucket, ROUND(bucket / 10.0, 1) AS margin_lo, n_examples,
       ROUND(CAST(SUM(n_examples) OVER (ORDER BY bucket) AS DOUBLE) / mm2.m, 6)
           AS cum_frac
FROM bucketed CROSS JOIN mm2
ORDER BY bucket
""",
    group="A",
)
def margin_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 (cont.): normalized margin distribution of the fixed strong model
    — per example, min over labels of y * H(x)[l] / sum_t |v_tl|, bucketed
    at width 0.1 with the cumulative fraction (the margins-explanation view
    of boosting generalization, Schapire et al. 1998).  Negative-bucket
    mass = examples some label still misclassifies; the cum_frac curve is
    what the margin-theory bound is written over.

    Scores are a row-wise projection (boosting.score_model) read one row
    per (id, class); one hash-agg to the per-example min, one to buckets —
    no corpus-sized shuffle carries more than (id, margin)."""
    emb = _emb(spark, sf_dir)
    scored = _fixed_scores(emb)
    mlp = boosting.mlp_long(emb, K)
    norms = F.array(*[F.lit(v) for v in _VOTE_NORMS])
    margins = (
        scored.join(mlp, ["id", "class"])
        .select(
            "id",
            (
                F.col("y") * F.col("score")
                / F.element_at(norms, F.col("class") + 1)
            )
            # quantize before min/floor: an all-stumps-aligned example has
            # margin exactly +-1.0 in real arithmetic but +-1 +- ulp in
            # either engine's sum order, which flips the 0.1-bucket floor
            .cast("decimal(18,6)")
            .alias("margin"),
        )
        .groupBy("id")
        .agg(F.min("margin").alias("min_margin"))
    )
    bucketed = margins.groupBy(
        F.floor(F.col("min_margin") * 10).cast("bigint").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_examples"))
    m = bucketed.agg(F.sum("n_examples").cast("double").alias("m"))
    w = Window.partitionBy(F.lit(1)).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )  # bucket totals: tiny by construction; lit(1) keeps the partition defined
    return (
        bucketed.crossJoin(F.broadcast(m))
        .withColumn("cum", F.sum("n_examples").over(w).cast("double"))
        .select(
            "bucket",
            F.round(F.col("bucket") / 10.0, 1).alias("margin_lo"),
            "n_examples",
            F.round(F.col("cum") / F.col("m"), 6).alias("cum_frac"),
        )
        .orderBy("bucket")
    )


@query("q_a10_train_loop", oracle=None, group="A")
def train_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: the full boosting loop (T=3) — iterative, rows-only check;
    exactness of each constituent step is covered by A2-A8."""
    emb = _emb(spark, sf_dir)
    stumps = boosting.train(spark, emb, num_rounds=3, num_classes=K)
    return boosting.stumps_to_df(spark, stumps).select(
        "t", "feature", F.round("threshold", 6).alias("threshold"), F.round("z", 6).alias("z")
    )


@query("q_a12_train_sampled", oracle=None, group="A")
def train_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: stochastic boosting — per-round hash subsample of (id, seed + t)
    (reference: DecisionStumpAlgorithm sampleRate param [R], confidence M)."""
    emb = _emb(spark, sf_dir)
    stumps = boosting.train(
        spark, emb, num_rounds=2, num_classes=K, sample_pred=boosting._hash_sample(0.5, 7)
    )
    return boosting.stumps_to_df(spark, stumps).select("t", "feature", "threshold")


@query(
    "q_a13_model_roundtrip",
    oracle=f"""
SELECT CAST(t AS INT) AS t,
       CAST(feature AS INT) AS feature,
       CAST(threshold AS DOUBLE) AS threshold,
       CAST(votes[1] AS DOUBLE) AS v0
FROM {_STUMPS_SQL}
ORDER BY t
""",
    group="A",
)
def model_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: model persistence — stump table parquet round-trip.  Oracle
    (r14 upgrade, stronger than the contract's rows-only column): the
    model is the FIXED stump table, so the round-tripped rows must
    value-hash against the same literal table in DuckDB — a persistence
    layer that drops a stump or perturbs a vote breaks the match.  The
    TRAINED-model persistence path stays covered by the D7 replay twins
    (persist+reload inside both, hash-checked end-to-end)."""
    sdf = boosting.stumps_to_df(spark, _STUMPS_FIXED)
    path = os.path.join(sf_scratch("model", sf_dir), "stumps")
    sdf.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.select(
        "t", "feature", "threshold", F.element_at("votes", 1).alias("v0")
    ).orderBy("t")


@query("q_a12_train_feature_sampled", oracle=None, group="A")
def train_feature_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 (cont.): per-round FEATURE subsampling (the reference's
    featureRate analogue [R], confidence M) — deterministic rotating subset,
    rows-only like the instance-sampling twin."""
    emb = _emb(spark, sf_dir)
    stumps = boosting.train(spark, emb, num_rounds=2, num_classes=K, feature_fraction=0.25)
    return boosting.stumps_to_df(spark, stumps).select("t", "feature", "threshold")


@query("q_a1_text_parser", oracle=None, group="A")
def text_parser_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (cont.): the reference's text ingestion path — MultiLabeledPoint
    parsing ([R] MultiLabeledPointParser, style of MLlib LabeledPoint.parse;
    reconstructed, mount empty). Serialize embeddings to 'label|v1,v2,...'
    text lines, parse back with split + transform casts (schema-pinned, all
    JVM-side — the declarative replacement for sc.textFile().map(parse)),
    and verify the round-trip inline: every parsed row must bit-match its
    parquet original (n_mismatch is asserted 0 by the test suite and
    observable in the output)."""
    emb = _emb(spark, sf_dir)
    path = os.path.join(sf_scratch("mlp", sf_dir), "points_txt")
    (
        emb.select(
            F.concat_ws(
                "|",
                F.col("vec_id").cast("string"),
                F.col("label").cast("string"),
                F.array_join(F.transform("embedding", lambda x: x.cast("string")), ","),
            ).alias("value")
        ).write.mode("overwrite").text(path)
    )
    parsed = (
        spark.read.text(path)
        .select(F.split("value", "\\|").alias("p"))
        .select(
            F.element_at("p", 1).cast("bigint").alias("vec_id"),
            F.element_at("p", 2).cast("int").alias("label"),
            F.transform(F.split(F.element_at("p", 3), ","), lambda s: s.cast("double")).alias(
                "embedding"
            ),
        )
    )
    orig = emb.select(
        F.col("vec_id"), F.col("label"), F.col("embedding").alias("orig_emb")
    )
    joined = parsed.join(orig, ["vec_id"]).select(
        "vec_id",
        (F.col("embedding") == F.col("orig_emb")).alias("vec_match"),
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parsed"),
        F.sum(F.when(~F.col("vec_match"), 1).otherwise(0)).cast("bigint").alias("n_mismatch"),
    )


@query("q_a1_sparse_parser", oracle=None, group="A")
def sparse_parser_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (cont.): sparse-vector ingestion (SURVEY §1.1/§1.2 — the reference
    accepts mllib sparse vectors; reconstructed, mount empty).

    Pipeline: threshold the dense fixture embedding to a genuinely sparse
    vector (|x| < 0.13 -> 0, ~30% of entries survive at fixture scale), serialize the non-zeros as libsvm-style
    ``vec_id|label|idx:val idx:val`` text lines, parse back entirely
    JVM-side into the SURVEY §1.2 ``MAP<INT,DOUBLE>`` representation
    (split + map_from_entries), zero-fill it back to ``ARRAY<DOUBLE>``
    against the original dimensionality, and verify the round-trip inline:
    every reconstructed dense vector must bit-match its thresholded
    original (n_mismatch asserted 0 by the test suite).  Doubles
    round-trip exactly through their shortest string repr, so the check is
    bitwise, not approximate.  All-zero vectors degrade to an empty entry
    list and must still parse (empty-string guard in the entry filter)."""
    emb = _emb(spark, sf_dir)
    sparse = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: F.when(F.abs(x) >= 0.13, x).otherwise(F.lit(0.0))
        ).alias("svec"),
    )
    path = os.path.join(sf_scratch("sparse", sf_dir), "points_txt")
    entry_strs = F.filter(
        F.transform(
            "svec",
            lambda x, i: F.when(
                x != 0.0, F.concat(i.cast("string"), F.lit(":"), x.cast("string"))
            ),
        ),
        lambda s: s.isNotNull(),
    )
    (
        sparse.select(
            F.concat_ws(
                "|",
                F.col("vec_id").cast("string"),
                F.col("label").cast("string"),
                F.array_join(entry_strs, " "),
            ).alias("value")
        ).write.mode("overwrite").text(path)
    )
    parsed = (
        spark.read.text(path)
        .select(F.split("value", "\\|").alias("p"))
        .select(
            F.element_at("p", 1).cast("bigint").alias("vec_id"),
            F.element_at("p", 2).cast("int").alias("label"),
            F.map_from_entries(
                F.transform(
                    F.filter(
                        F.split(F.element_at("p", 3), " "), lambda s: s != ""
                    ),
                    lambda s: F.struct(
                        F.split(s, ":").getItem(0).cast("int").alias("idx"),
                        F.split(s, ":").getItem(1).cast("double").alias("val"),
                    ),
                )
            ).alias("smap"),
        )
    )
    orig = sparse.select("vec_id", F.col("svec").alias("orig_svec"))
    joined = parsed.join(orig, "vec_id").select(
        "vec_id",
        F.size("smap").alias("n_entries"),
        # zero-fill MAP<INT,DOUBLE> back to dense at the original dim;
        # transform indices are 0-based to match the serialized idx
        (
            F.transform(
                F.col("orig_svec"),
                lambda _x, i: F.coalesce(F.element_at("smap", i), F.lit(0.0)),
            )
            == F.col("orig_svec")
        ).alias("vec_match"),
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parsed"),
        F.sum(F.when(~F.col("vec_match"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_mismatch"),
        F.sum("n_entries").cast("bigint").alias("n_sparse_entries"),
    )


_SPARSE_Z_SQL = f"""
WITH e AS (
  SELECT vec_id,
         LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
             x -> CASE WHEN ABS(x) >= 0.13 THEN x ELSE 0.0 END) AS embedding,
         label
  FROM embeddings
), mlp AS (
  SELECT vec_id AS id, g.class,
         CASE WHEN g.class = label THEN 1 ELSE -1 END AS y
  FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {K - 1})) AS class) g
), mm AS (SELECT COUNT(*) AS m FROM e
), w AS (
  SELECT mlp.id, mlp.class, mlp.y, CAST(1.0 AS DOUBLE) / (mm.m * {K}) AS weight
  FROM mlp, mm
), feats AS (
  SELECT vec_id AS id, j.feature, embedding[j.feature] AS value
  FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 4)) AS feature) j
), grouped AS (
  SELECT f.feature, f.value, w.class,
         SUM(CASE WHEN w.y = 1 THEN w.weight ELSE 0 END) AS swp,
         SUM(CASE WHEN w.y = -1 THEN w.weight ELSE 0 END) AS swm
  FROM feats f JOIN w ON f.id = w.id
  GROUP BY f.feature, f.value, w.class
), cum AS (
  SELECT feature, value AS threshold, class,
         SUM(swp) OVER (PARTITION BY feature, class ORDER BY value
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_plus,
         SUM(swm) OVER (PARTITION BY feature, class ORDER BY value
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_minus,
         SUM(swp) OVER (PARTITION BY feature, class) AS t_plus,
         SUM(swm) OVER (PARTITION BY feature, class) AS t_minus
  FROM grouped
), cw AS (
  SELECT feature, threshold, class,
         t_plus - p_plus + p_minus AS w_plus,
         t_minus - p_minus + p_plus AS w_minus
  FROM cum
)
SELECT feature, threshold,
       ROUND(2.0 * SUM(SQRT(w_plus * w_minus)), 9) AS z
FROM cw GROUP BY feature, threshold
"""


@query("q_a5_sparse_stump_z", oracle=_SPARSE_Z_SQL, group="A")
def sparse_stump_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 over the SPARSE representation (SURVEY §1.1/§1.2: the reference
    accepts mllib sparse vectors; q_a1_sparse_parser ingests them).  The
    stump search runs on MAP<INT,DOUBLE> directly: only stored (non-zero)
    entries explode and join weights; the weight mass of every IMPLICIT
    zero is recovered per (feature, class) as total-class-mass minus
    observed-mass and injected as a single value=0.0 row before the
    prefix-sum window.

    Why this matters at 100 TB: with 1%-dense vectors the exploded frame
    shrinks 100x versus the dense path — the join, pre-agg, and window all
    scale with STORED entries, while the zero mass costs one d x K-row
    side-aggregate.  The oracle is the DENSE pipeline over the same
    thresholded vectors, so the check proves the sparse path is
    numerically indistinguishable from materializing the zeros
    (representation-agnostic training)."""
    emb = _emb(spark, sf_dir)
    weighted, _m = _weighted_uniform(emb)

    # dense -> MAP<INT,DOUBLE> (1-based feature keys), |x| < 0.13 -> implicit
    smap = F.map_from_entries(
        F.filter(
            F.transform(
                "embedding",
                lambda x, i: F.when(
                    F.abs(x) >= 0.13,
                    F.struct((i + 1).alias("feature"), x.alias("value")),
                ),
            ),
            lambda s: s.isNotNull(),
        )
    )
    sp = (
        emb.select(F.col("vec_id").alias("id"), smap.alias("smap"))
        .select("id", F.explode("smap").alias("feature", "value"))
        .filter(F.col("feature") <= 4)
    )
    obs = boosting._side_masses(sp.join(weighted, "id"), ["feature", "value", "class"])
    # implicit-zero mass: class totals are feature-independent (tiny agg),
    # observed mass per (feature, class) subtracts off
    totals = boosting._side_masses(weighted, ["class"])
    obs_tot = obs.groupBy("feature", "class").agg(
        F.sum("sp").alias("op"), F.sum("sm").alias("om")
    )
    features = spark.range(1, 5).select(F.col("id").cast("int").alias("feature"))
    zero = (
        features.crossJoin(F.broadcast(totals))
        .join(obs_tot, ["feature", "class"], "left")
        .select(
            "feature",
            F.lit(0.0).alias("value"),
            "class",
            (F.col("sp") - F.coalesce(F.col("op"), F.lit(0.0))).alias("sp"),
            (F.col("sm") - F.coalesce(F.col("om"), F.lit(0.0))).alias("sm"),
        )
    )
    cw = boosting._cut_masses(obs.unionByName(zero), ["feature", "class"], [""])
    return boosting.stump_z(cw).select(
        "feature", "threshold", F.round("z", 9).alias("z")
    )


ABSTAIN_DELTA = 0.05  # half-width of the abstention band around the cut


@query(
    "q_a5_abstain_stump_z",
    oracle=_PRELUDE
    + f"""
, grouped AS (
  SELECT f.feature, f.value, w.class,
         SUM(CASE WHEN w.y = 1 THEN w.weight ELSE 0 END) AS swp,
         SUM(CASE WHEN w.y = -1 THEN w.weight ELSE 0 END) AS swm
  FROM feats f JOIN w ON f.id = w.id
  WHERE f.feature <= 4
  GROUP BY f.feature, f.value, w.class
), cum AS (
  SELECT feature, value AS threshold, class,
         COALESCE(SUM(swp) OVER (PARTITION BY feature, class ORDER BY value
             RANGE BETWEEN UNBOUNDED PRECEDING AND {ABSTAIN_DELTA} PRECEDING), 0) AS lo_p,
         COALESCE(SUM(swm) OVER (PARTITION BY feature, class ORDER BY value
             RANGE BETWEEN UNBOUNDED PRECEDING AND {ABSTAIN_DELTA} PRECEDING), 0) AS lo_m,
         SUM(swp) OVER (PARTITION BY feature, class ORDER BY value
             RANGE BETWEEN UNBOUNDED PRECEDING AND {ABSTAIN_DELTA} FOLLOWING) AS le_hi_p,
         SUM(swm) OVER (PARTITION BY feature, class ORDER BY value
             RANGE BETWEEN UNBOUNDED PRECEDING AND {ABSTAIN_DELTA} FOLLOWING) AS le_hi_m,
         SUM(swp) OVER (PARTITION BY feature, class) AS t_p,
         SUM(swm) OVER (PARTITION BY feature, class) AS t_m
  FROM grouped
), blocks AS (
  SELECT feature, threshold, class, lo_p, lo_m,
         GREATEST(t_p - le_hi_p, 0) AS hi_p, GREATEST(t_m - le_hi_m, 0) AS hi_m,
         GREATEST((t_p + t_m) - (lo_p + lo_m + GREATEST(t_p - le_hi_p, 0)
                                 + GREATEST(t_m - le_hi_m, 0)), 0) AS w0
  FROM cum
)
SELECT feature, threshold,
       ROUND(SUM(w0 + 2.0 * SQRT(lo_p * lo_m) + 2.0 * SQRT(hi_p * hi_m)), 9) AS z
FROM blocks
GROUP BY feature, threshold
""",
    group="A",
)
def abstain_stump_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (cont.): Z-criterion for the ABSTAINING stump — the three-block
    weak learner of the BoosTexter family (Schapire & Singer 1999 §4.1,
    domain-partitioning hypotheses): predict -1 below threshold-delta, +1
    above threshold+delta, abstain (phi=0) inside the band.  The abstain
    block contributes its whole weight mass to Z, the voting blocks
    contribute 2*sqrt(W+ W-), so Z = sum_l [W0_l + 2 sqrt(Wlo+ Wlo-) +
    2 sqrt(Whi+ Whi-)] — minimizing it trades decisiveness against
    confidence exactly as the theory prescribes.

    Implementation: the two extra cut positions per candidate (theta +-
    delta) come from VALUE-RANGE window frames over the same pre-aggregated
    (feature, value, class) frame the two-block search uses — no extra
    shuffle versus plain A5; both engines agree on inclusive range-frame
    boundaries (verified, see tests)."""
    emb = _emb(spark, sf_dir)
    grouped = boosting._uniform_side_masses(emb, 4, K, emb.count())
    d = ABSTAIN_DELTA
    frame = "PARTITION BY feature, class ORDER BY value"
    cum = grouped.select(
        "feature",
        F.col("value").alias("threshold"),
        "class",
        F.coalesce(
            F.expr(
                f"SUM(sp) OVER ({frame} RANGE BETWEEN UNBOUNDED PRECEDING AND {d} PRECEDING)"
            ),
            F.lit(0.0),
        ).alias("lo_p"),
        F.coalesce(
            F.expr(
                f"SUM(sm) OVER ({frame} RANGE BETWEEN UNBOUNDED PRECEDING AND {d} PRECEDING)"
            ),
            F.lit(0.0),
        ).alias("lo_m"),
        F.expr(
            f"SUM(sp) OVER ({frame} RANGE BETWEEN UNBOUNDED PRECEDING AND {d} FOLLOWING)"
        ).alias("le_hi_p"),
        F.expr(
            f"SUM(sm) OVER ({frame} RANGE BETWEEN UNBOUNDED PRECEDING AND {d} FOLLOWING)"
        ).alias("le_hi_m"),
        F.expr("SUM(sp) OVER (PARTITION BY feature, class)").alias("t_p"),
        F.expr("SUM(sm) OVER (PARTITION BY feature, class)").alias("t_m"),
    )
    blocks = cum.select(
        "feature",
        "threshold",
        "class",
        "lo_p",
        "lo_m",
        # clamp at 0: when the range frame spans the whole partition the
        # complement is exactly 0 in real arithmetic but +-1 ulp in either
        # engine's accumulation order, and sqrt(-epsilon) must never happen
        F.greatest(F.col("t_p") - F.col("le_hi_p"), F.lit(0.0)).alias("hi_p"),
        F.greatest(F.col("t_m") - F.col("le_hi_m"), F.lit(0.0)).alias("hi_m"),
        F.greatest(
            F.col("t_p")
            + F.col("t_m")
            - (
                F.col("lo_p")
                + F.col("lo_m")
                + F.greatest(F.col("t_p") - F.col("le_hi_p"), F.lit(0.0))
                + F.greatest(F.col("t_m") - F.col("le_hi_m"), F.lit(0.0))
            ),
            F.lit(0.0),
        ).alias("w0"),
    )
    return (
        blocks.groupBy("feature", "threshold")
        .agg(
            F.round(
                F.sum(
                    F.col("w0")
                    + 2.0 * F.sqrt(F.col("lo_p") * F.col("lo_m"))
                    + 2.0 * F.sqrt(F.col("hi_p") * F.col("hi_m"))
                ),
                9,
            ).alias("z")
        )
    )


@query(
    "q_a14_calibration",
    oracle=_PRELUDE
    + f"""
, stumps AS (SELECT * FROM {_STUMPS_SQL})
, phi AS (
  SELECT e.vec_id AS id, st.t, st.votes,
         CASE WHEN e.embedding[st.feature] > st.threshold THEN 1.0 ELSE -1.0 END AS phi
  FROM e CROSS JOIN stumps st
), scored AS (
  SELECT id, g.class, SUM(votes[g.class + 1] * phi) AS score
  FROM phi CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {K - 1})) AS class) g
  GROUP BY id, g.class
), binned AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((s.score + 1.0) * 5) AS BIGINT), 0), 9)
           AS bucket,
         s.score, mlp.y
  FROM scored s JOIN mlp ON s.id = mlp.id AND s.class = mlp.class
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       FLOOR(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 1e6
             + 0.5) / 1e6 AS mean_score,
       ROUND(CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS frac_positive
FROM binned GROUP BY bucket ORDER BY bucket
""",
    group="A",
)
def calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 (cont.): RELIABILITY DIAGRAM of the fixed strong model — (id,
    class) score pairs bucketed into 10 confidence bins over [-1, 1], each
    bin reporting its mean score vs the empirical positive rate.  A
    calibrated scorer puts frac_positive ≈ (mean_score+1)/2 on the
    diagonal; boosted stumps famously push scores to the extremes (margin
    maximization), and this query quantifies exactly that — the standard
    post-hoc check before using H(x) as a probability.

    Same shape as the other A11 metrics (row-wise scores read one row per
    (id, class), hash-aggs on top); the bin means go through the decimal
    path so bucket stats are accumulation-order-independent."""
    emb = _emb(spark, sf_dir)
    scored = _fixed_scores(emb)
    mlp = boosting.mlp_long(emb, K)
    binned = scored.join(mlp, ["id", "class"]).select(
        F.least(
            F.greatest(F.floor((F.col("score") + 1.0) * 5).cast("bigint"), F.lit(0)),
            F.lit(9),
        ).alias("bucket"),
        "score",
        "y",
    )
    return (
        binned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            (
                F.floor(
                    F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1))
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("mean_score"),
            F.round(
                F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("frac_positive"),
        )
        .orderBy("bucket")
    )


def _label_sets(emb: DataFrame) -> DataFrame:
    """The fixture's deterministic label SETS as an ARRAY<INT> ``label``
    column: every row's own label, and on even vec_ids also (label+3) mod K."""
    second = F.when(F.col("vec_id") % 2 == 0, (F.col("label") + 3) % K)
    return emb.select(
        "vec_id", "embedding", F.array_compact(F.array("label", second)).alias("label")
    )


@query(
    "q_a2_multilabel_weight_init",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings
), labelsets AS (
  -- TRUE multi-label targets: every example carries its primary label,
  -- even vec_ids additionally carry (label+3) mod K — the deterministic
  -- stand-in for the reference's Y ⊆ {{0..K-1}} label SETS
  SELECT vec_id, label AS l1,
         CASE WHEN vec_id % 2 = 0 THEN (label + 3) % {K} ELSE -1 END AS l2
  FROM e
), mlp AS (
  SELECT ls.vec_id AS id, g.class,
         CASE WHEN g.class = ls.l1 OR g.class = ls.l2 THEN 1 ELSE -1 END AS y
  FROM labelsets ls
  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {K - 1})) AS class) g
), mm AS (SELECT COUNT(*) AS m FROM e)
SELECT mlp.id, mlp.class, mlp.y,
       ROUND(CAST(1.0 AS DOUBLE) / (mm.m * {K}), 9) AS weight,
       CAST(SUM(CASE WHEN mlp.y = 1 THEN 1 ELSE 0 END)
            OVER (PARTITION BY mlp.id) AS BIGINT) AS labelset_size
FROM mlp, mm
ORDER BY id, class
""",
    group="A",
)
def multilabel_weight_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (cont.): weight init over TRUE MULTI-LABEL targets — the
    reference's actual data model is Y ⊆ {0..K-1} label SETS (AdaBoost.MH
    lifts each example to K (example, label) pairs with y(i,l) = +1 iff
    l ∈ Y_i), while the fixture carries one label per row.  Here every
    even vec_id deterministically gains a second label (label+3 mod K),
    exercising the |Y_i| > 1 path: the lift, the ±1 targets, and the
    uniform D₁ = 1/(mK) are all identical machinery — boosting never
    assumes singleton label sets.  labelset_size surfaces per example so
    the oracle hash proves the two-label rows exist.

    Plan: the lift is boosting.mlp_long's map-side explode of the
    class range; one window partitioned by id for the set-size audit."""
    emb = _label_sets(_emb(spark, sf_dir))
    mlp = boosting.mlp_long(emb, K)
    w = Window.partitionBy("id")
    return (
        boosting.init_weights(mlp, emb.count(), K)
        .withColumn("weight", F.round("weight", 9))
        .withColumn(
            "labelset_size",
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).over(w).cast("bigint"),
        )
        .orderBy("id", "class")
    )


@query(
    "q_a5_multilabel_stump_z",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings
), labelsets AS (
  SELECT vec_id, label AS l1,
         CASE WHEN vec_id % 2 = 0 THEN (label + 3) % {K} ELSE -1 END AS l2
  FROM e
), mlp AS (
  SELECT ls.vec_id AS id, g.class,
         CASE WHEN g.class = ls.l1 OR g.class = ls.l2 THEN 1 ELSE -1 END AS y
  FROM labelsets ls
  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {K - 1})) AS class) g
), mm AS (SELECT COUNT(*) AS m FROM e
), w AS (
  SELECT mlp.id, mlp.class, mlp.y, CAST(1.0 AS DOUBLE) / (mm.m * {K}) AS weight
  FROM mlp, mm
), feats AS (
  SELECT vec_id AS id, j.feature, embedding[j.feature] AS value
  FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, {D})) AS feature) j
), grouped AS (
  SELECT f.feature, f.value, w.class,
         SUM(CASE WHEN w.y = 1 THEN w.weight ELSE 0 END) AS swp,
         SUM(CASE WHEN w.y = -1 THEN w.weight ELSE 0 END) AS swm
  FROM feats f JOIN w ON f.id = w.id
  WHERE f.feature <= 4
  GROUP BY f.feature, f.value, w.class
), cum AS (
  SELECT feature, value AS threshold, class,
         SUM(swp) OVER (PARTITION BY feature, class ORDER BY value
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_plus,
         SUM(swm) OVER (PARTITION BY feature, class ORDER BY value
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_minus,
         SUM(swp) OVER (PARTITION BY feature, class) AS t_plus,
         SUM(swm) OVER (PARTITION BY feature, class) AS t_minus
  FROM grouped
), cw AS (
  SELECT feature, threshold, class,
         t_plus - p_plus + p_minus AS w_plus,
         t_minus - p_minus + p_plus AS w_minus
  FROM cum
)
SELECT feature, threshold,
       ROUND(2.0 * SUM(SQRT(w_plus * w_minus)), 9) AS z
FROM cw GROUP BY feature, threshold
""",
    group="A",
)
def multilabel_stump_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (cont.): the Z-criterion over TRUE MULTI-LABEL weights — stump
    search on the |Y_i| ∈ {1,2} label sets of q_a2_multilabel_weight_init,
    via the GENERAL weighted path (stump_class_weights + stump_z), not the
    single-label fused shortcut.  Proves the reference's actual multi-label
    contract end-to-end: nothing in the candidate/prefix/Z machinery
    assumes singleton labels; only the y(i,l) table changes.

    Same plan shape as A5: one (feature,class)-partitioned prefix window
    over the pre-aggregated candidate weights."""
    emb = _label_sets(_emb(spark, sf_dir))
    weighted = boosting.init_weights(boosting.mlp_long(emb, K), emb.count(), K)
    feats = boosting.explode_features(emb).filter(F.col("feature") <= 4)
    cw = boosting.stump_class_weights(weighted, feats)
    return boosting.stump_z(cw).select(
        "feature", "threshold", F.round("z", 9).alias("z")
    )


@query(
    "q_a15_feature_importance",
    oracle=_PRELUDE
    + f"""
, stumps AS (SELECT * FROM {_STUMPS_SQL})
, phi AS (
  SELECT e.vec_id AS id, st.t, st.feature, st.votes,
         CASE WHEN e.embedding[st.feature] > st.threshold THEN 1.0 ELSE -1.0 END AS phi
  FROM e CROSS JOIN stumps st
), contrib AS (
  SELECT p.t, p.feature,
         CAST(SUM(CAST(mlp.y * p.votes[mlp.class + 1] * p.phi
                       AS DECIMAL(18,6))) AS DOUBLE) AS margin_contribution,
         CAST(SUM(CAST(ABS(p.votes[mlp.class + 1])
                       AS DECIMAL(18,6))) AS DOUBLE) AS total_abs_votes
  FROM phi p JOIN mlp ON p.id = mlp.id
  GROUP BY p.t, p.feature
)
SELECT t, feature,
       FLOOR(margin_contribution * 1e6 + 0.5) / 1e6 AS margin_contribution,
       FLOOR(margin_contribution / total_abs_votes * 1e6 + 0.5) / 1e6
         AS normalized_importance
FROM contrib ORDER BY t
""",
    group="A",
)
def feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 (cont.): FEATURE ATTRIBUTION of the fixed strong model — per
    stump (= per used feature), the signed total margin contribution
    sum_{i,l} y_il * v_t[l] * phi_t(x_i), i.e. how much that weak learner
    pushes examples toward their true labels, plus the same normalized by
    the stump's total |vote| mass (a [-1, 1] alignment score).  This is
    the "which features does the ensemble actually rely on" question every
    AdaBoost deployment asks (reference scope: the stump's feature+votes
    are its only parameters, so stump attribution IS feature attribution).

    One broadcast of the 3-stump model, phi evaluates map-side against the
    embedding array, one (t, feature) hash-agg over the (id, class)-long
    contributions — decimal-exact so the signed sum is order-independent
    at any parallelism."""
    emb = _emb(spark, sf_dir)
    sdf = boosting.stumps_to_df(emb.sparkSession, _STUMPS_FIXED)
    stump_long = sdf.select(
        "t", "feature", "threshold", F.posexplode("votes").alias("class", "v")
    )
    mlp = boosting.mlp_long(emb, K)
    phi = (
        emb.select(F.col("vec_id").alias("id"), "embedding")
        .crossJoin(F.broadcast(stump_long))
        .select(
            "id",
            "t",
            "feature",
            "class",
            "v",
            F.when(
                F.element_at("embedding", F.col("feature")) > F.col("threshold"), 1.0
            ).otherwise(-1.0).alias("phi"),
        )
    )
    contrib = (
        phi.join(mlp, ["id", "class"])
        .groupBy("t", "feature")
        .agg(
            F.sum(
                (F.col("y") * F.col("v") * F.col("phi")).cast("decimal(18,6)")
            ).cast("double").alias("margin_contribution"),
            F.sum(F.abs(F.col("v")).cast("decimal(18,6)"))
            .cast("double")
            .alias("total_abs_votes"),
        )
    )
    return contrib.select(
        "t",
        "feature",
        (F.floor(F.col("margin_contribution") * 1e6 + 0.5) / 1e6).alias(
            "margin_contribution"
        ),
        (
            F.floor(
                F.col("margin_contribution") / F.col("total_abs_votes") * 1e6 + 0.5
            )
            / 1e6
        ).alias("normalized_importance"),
    ).orderBy("t")


FP_MIN_SUPPORT = 0.04


@query(
    "q_a17_freq_itemsets",
    oracle=f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), n AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ob
), th AS (
  SELECT CAST(CEIL({FP_MIN_SUPPORT} * n_orders) AS BIGINT) AS mc FROM n
), singles AS (
  SELECT p_brand AS item_a, CAST(NULL AS VARCHAR) AS item_b,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM ob GROUP BY p_brand
), pairs AS (
  SELECT a.p_brand AS item_a, b.p_brand AS item_b,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
)
SELECT item_a, item_b, freq
FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs) u CROSS JOIN th
WHERE freq >= mc
ORDER BY item_a, item_b NULLS FIRST
""",
    group="A",
)
def freq_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A (MLlib breadth): FREQUENT-ITEMSET MINING — market-basket analysis
    over per-order brand baskets via pyspark.ml.fpm.FPGrowth (the parallel
    FP-growth of Li et al. 2008), oracle-checked EXACTLY for itemsets of
    size <= 2: MLlib thresholds at ceil(minSupport * n_baskets), and
    downward closure means plain singles/pairs counting reproduces its
    output (any frequent pair's subsets are frequent by construction, so
    no pruning disagreement is possible).  Size >= 3 itemsets are filtered
    from the report (the oracle would need k-way self-joins), not from the
    mining.

    Scale shape: FP-growth is the right algorithm at 100 TB precisely
    because it avoids the candidate-pair self-join the ORACLE does — one
    count pass + conditional FP-trees over group-partitioned suffixes.
    The basket build is one distinct + collect_set per order (orderkey
    shuffle reused); MLlib's genFreqItems broadcast-prunes before tree
    building."""
    from pyspark.ml.fpm import FPGrowth

    t = load_tables(spark, sf_dir)
    baskets = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey")
        )
        .select("l_orderkey", "p_brand")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("items"))
    )
    model = FPGrowth(
        itemsCol="items", minSupport=FP_MIN_SUPPORT, minConfidence=0.5
    ).fit(baskets)
    fi = model.freqItemsets.filter(F.size("items") <= 2)
    sorted_items = F.array_sort("items")
    return (
        fi.select(
            F.element_at(sorted_items, 1).alias("item_a"),
            F.when(F.size("items") == 2, F.element_at(sorted_items, 2)).alias(
                "item_b"
            ),
            F.col("freq").cast("bigint").alias("freq"),
        )
        .orderBy("item_a", F.col("item_b").asc_nulls_first())
    )


@query("q_a16_als_recommend", oracle=None, group="A")
def als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A (MLlib breadth): ALS MATRIX FACTORIZATION — implicit-feedback
    recommendations over the (customer, brand-bucket, quantity) purchase
    matrix via pyspark.ml.recommendation.ALS (Hu/Koren/Volinsky 2008).
    Iterative least squares with per-block normal equations => rows-only
    by contract (like the A10 boosting loop and k-means trainer); the
    fixed seed makes local runs reproducible, and the test asserts shape
    + rating positivity.

    Scale shape: ALS is THE canonical big-matrix factorization on Spark —
    users and items block-partition, each iteration joins factor blocks
    along the rating graph (no full gram matrix anywhere).  Top-1
    recommendations for the 20 lowest-numbered users keep the check
    bounded."""
    from pyspark.ml.recommendation import ALS

    t = load_tables(spark, sf_dir)
    ratings = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").cast("int").alias("user"),
            (F.col("l_partkey") % 50).cast("int").alias("item"),
            F.col("l_quantity").alias("rating"),
        )
        .groupBy("user", "item")
        .agg(F.sum("rating").cast("float").alias("rating"))
    )
    als = ALS(
        rank=4,
        maxIter=3,
        seed=42,
        regParam=0.1,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        implicitPrefs=True,
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    recs = model.recommendForAllUsers(1).select(
        "user",
        F.element_at(F.col("recommendations"), 1)["item"].alias("top_item"),
        F.element_at(F.col("recommendations"), 1)["rating"].alias("score"),
    )
    return recs.orderBy("user").limit(20)


# ---------------------------------------------------------------------------
# D7 scored twin (VERDICT r7 item 6): hash-checkable end-to-end — the
# estimator TRAINS the model and the oracle REPLAYS the training in SQL.
# ---------------------------------------------------------------------------

D7_ROUNDS = 2   # unrolled rounds in the oracle — keep both sides in sync
D7_FEATS = 4    # train on embedding[1..4] so the oracle's candidate grid
                # (features x values x classes) stays DuckDB-sized at sf0.1


def _d7_round_sql(r: int, w_cte: str, search_cond: str = "") -> str:
    """One unrolled boosting round (A4+A5+A6 shapes): class-weight masses
    from ``w_cte``, Z per candidate, argmin stump, confidence-rated votes.
    AS MATERIALIZED throughout — plain CTEs re-inline per reference in
    DuckDB and the unrolled chain re-evaluates exponentially (the
    q_ext_onion_layers lesson, NEXT.md invariants).

    ``search_cond`` (A12 twin): an optional ``WHERE ...`` fragment over
    ``f`` restricting the round's STUMP SEARCH (instance and/or feature
    subsample).  It scopes g{{r}} only — the A8 weight update upd{{r}} and
    the eps/mm scalars stay full-corpus, mirroring stochastic boosting's
    contract (sample for the search, reweight everyone)."""
    return f"""
, g{r} AS MATERIALIZED (
  SELECT f.feature, f.value, w.class,
         SUM(CASE WHEN w.y = 1 THEN w.weight ELSE 0 END) AS swp,
         SUM(CASE WHEN w.y = -1 THEN w.weight ELSE 0 END) AS swm
  FROM f4 f JOIN {w_cte} w ON f.id = w.id
  {search_cond}GROUP BY f.feature, f.value, w.class
), cw{r} AS MATERIALIZED (
  SELECT feature, value AS threshold, class,
         t_plus - p_plus + p_minus AS w_plus,
         t_minus - p_minus + p_plus AS w_minus
  FROM (
    SELECT feature, value, class,
           SUM(swp) OVER (PARTITION BY feature, class ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_plus,
           SUM(swm) OVER (PARTITION BY feature, class ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_minus,
           SUM(swp) OVER (PARTITION BY feature, class) AS t_plus,
           SUM(swm) OVER (PARTITION BY feature, class) AS t_minus
    FROM g{r})
), best{r} AS MATERIALIZED (
  SELECT feature, threshold, z FROM (
    SELECT feature, threshold, 2.0 * SUM(SQRT(w_plus * w_minus)) AS z
    FROM cw{r} GROUP BY feature, threshold)
  ORDER BY FLOOR(z * 1e9 + 0.5), feature, threshold LIMIT 1
), v{r} AS MATERIALIZED (
  SELECT c.class,
         0.5 * LN((c.w_plus + eps.e) / (c.w_minus + eps.e)) AS v
  FROM cw{r} c
  JOIN best{r} b ON c.feature = b.feature AND c.threshold = b.threshold
  CROSS JOIN (SELECT 1.0 / (2.0 * m * {K}) AS e FROM mm) eps
)"""


def _d7_oracle(prelude: str = _PRELUDE, search_conds: dict[int, str] | None = None) -> str:
    """Unrolled {D7_ROUNDS}-round AdaBoost.MH train + A9 scoring, entirely in
    SQL.  Round 1 runs on the uniform weights ``w`` (exact: equal addends sum
    order-independently); the A8-shape weight update between rounds mirrors
    boosting.update_weights term by term (same eps, same exp argument, global
    Z_norm).  Votes drift at most ~1e-15 cross-engine (ln of windowed sums),
    so the final 6dp-rounded scores are stable; stump selection ranks on
    (floor(z·1e9 + 0.5), feature, threshold) — the quantized key both
    engines share (see boosting.best_stump_row: exact z ties exist on the
    multi-label fixture, where the degenerate constant stump ties across
    all features).  Single-label gaps are generic — measured round-2 argmin
    gap 7.8e-5 / 1.8e-5 / 1.1e-5 at sf0.001/0.01/0.1, ten orders of
    magnitude above the ~1e-15 drift (verified MATCH at 3 SFs before
    registration).  ``prelude`` supplies
    the weighted long frame ``w`` — the single-label default or the
    multi-label variant (the round CTEs are label-form-agnostic).
    ``search_conds`` maps round r -> a ``WHERE ...`` fragment restricting
    that round's stump search (the A12 hash-sampled twin)."""
    parts = [prelude]
    parts.append(
        f", f4 AS MATERIALIZED (SELECT * FROM feats WHERE feature <= {D7_FEATS})"
    )
    w_cte = "w"
    for r in range(1, D7_ROUNDS + 1):
        parts.append(_d7_round_sql(r, w_cte, (search_conds or {}).get(r, "")))
        if r < D7_ROUNDS:
            parts.append(f"""
, upd{r} AS MATERIALIZED (
  SELECT w.id, w.class, w.y,
         w.weight * EXP(-w.y * v.v
             * (CASE WHEN f.value > b.threshold THEN 1.0 ELSE -1.0 END)) AS w_raw
  FROM {w_cte} w
  JOIN v{r} v ON v.class = w.class
  CROSS JOIN best{r} b
  JOIN f4 f ON f.id = w.id AND f.feature = b.feature
), w{r + 1} AS MATERIALIZED (
  SELECT id, class, y, w_raw / (SELECT SUM(w_raw) FROM upd{r}) AS weight
  FROM upd{r}
)""")
            w_cte = f"w{r + 1}"
    phis = "\n  UNION ALL\n".join(
        f"""  SELECT e.vec_id AS id, {r} AS t,
         CASE WHEN e.embedding[b.feature] > b.threshold THEN 1.0 ELSE -1.0 END AS phi
  FROM e CROSS JOIN best{r} b"""
        for r in range(1, D7_ROUNDS + 1)
    )
    svs = "\n  UNION ALL\n".join(
        f"  SELECT {r} AS t, class, v FROM v{r}" for r in range(1, D7_ROUNDS + 1)
    )
    parts.append(f"""
, ph AS (
{phis}
), sv AS (
{svs}
)
SELECT ph.id, sv.class,
       ROUND(SUM(sv.v * ph.phi), 6) AS score,
       CASE WHEN SUM(sv.v * ph.phi) > 0 THEN 1 ELSE -1 END AS pred
FROM ph JOIN sv ON sv.t = ph.t
GROUP BY ph.id, sv.class
ORDER BY ph.id, sv.class""")
    return "".join(parts)


@query("q_d7_estimator_scored", oracle=_d7_oracle(), group="D")
def estimator_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 (cont.): the hash-checkable estimator twin (VERDICT r7 item 6) —
    fit AdaBoostMHClassifier for {D7_ROUNDS} rounds on embedding[1..{D7_FEATS}],
    persist the fitted stump table to parquet and read it BACK (A13 in the
    path), then score the corpus with the reloaded model via the A9 shape
    (each row's K margins, read one row per (id, class)).  Unlike
    q_d7_estimator_end_to_end (full loop, rows-only by contract), the
    oracle here REPLAYS the training: {D7_ROUNDS} unrolled rounds of the
    A4/A5/A6 candidate search + A8 reweighting in materialized CTEs, then
    A9 scoring — so the trained model's actual predictions are value-hashed
    against DuckDB, not just row-counted.

    Scale shape: identical to the training loop's (one grouped agg + one
    bounded window per round; scoring is one row-wise projection, with no
    id pivot); the 4-feature slice bounds the ORACLE's candidate grid, not
    the engine's."""
    from .estimator import AdaBoostMHClassifier

    emb = _emb(spark, sf_dir)
    emb4 = emb.withColumn("embedding", F.slice("embedding", 1, D7_FEATS))
    model = AdaBoostMHClassifier(numRounds=D7_ROUNDS, numClasses=K).fit(emb4)
    # per-(process, sf_dir) scratch + overwrite (ADVICE r8/r9): bounded
    # growth across stability loops, collision-free under pid reuse,
    # sf-keyed so multi-SF loops can't clobber a lazily-read model,
    # rmtree'd at exit (session.sf_scratch)
    path = os.path.join(sf_scratch("d7", sf_dir), "stumps")
    model.stumps_df.write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path).collect()  # bounded: D7_ROUNDS rows, one per stump
    return boosting._explode_margins(boosting.score_model(emb4, reloaded)).select(
        "id", "class", F.round("score", 6).alias("score"), "pred"
    )


# multi-label prelude: the fixture's single label lifts to the DETERMINISTIC
# 2-label set {label, (label+1) mod K} — every class appears in exactly 2/K
# of the rows, every row carries exactly 2 positive classes, so the weighted
# long frame exercises genuine label SETS (y = +1 for two classes per id)
# while staying an exact SQL expression.  The round CTEs are shared with the
# single-label oracle (_d7_round_sql is label-form-agnostic).
_PRELUDE_ML = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings
), mlp AS (
  SELECT vec_id AS id, g.class,
         CASE WHEN g.class = label OR g.class = (label + 1) % {K}
              THEN 1 ELSE -1 END AS y
  FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {K - 1})) AS class) g
), mm AS (SELECT COUNT(*) AS m FROM e
), w AS (
  SELECT mlp.id, mlp.class, mlp.y, CAST(1.0 AS DOUBLE) / (mm.m * {K}) AS weight
  FROM mlp, mm
), feats AS (
  SELECT vec_id AS id, j.feature, embedding[j.feature] AS value
  FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, {D})) AS feature) j
)
"""


@query("q_d7_estimator_multilabel", oracle=_d7_oracle(_PRELUDE_ML), group="D")
def estimator_multilabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 (cont.): TRUE MULTI-LABEL end-to-end training (VERDICT r8 item 3)
    — the reference's actual use case (BoosTexter-style label sets [R]
    .../stronglearners/AdaBoostMH.scala, reconstructed, mount empty): each
    row carries the label SET {{label, (label+1) mod {K}}}, so two classes
    per row are positive and AdaBoost.MH's per-(instance, class) weight
    matrix is exercised with genuine multi-label structure — not the
    single-label lift every A-group query uses.  Fit AdaBoostMHClassifier
    (labelCol an ARRAY<INT> column) for {D7_ROUNDS} rounds on
    embedding[1..{D7_FEATS}], persist + reload the stump table (A13 in the
    path), score via the A9 shape.  The oracle replays the training as
    unrolled materialized-CTE rounds on the multi-label weighted frame —
    the trained model's predictions are value-hashed against DuckDB.

    Determinism note: on this label-independent fixture the round-1 argmin
    is the DEGENERATE max-threshold cut (a constant hypothesis — with 2/{K}
    positives per class it beats every real cut), whose z is bit-identical
    across all {D7_FEATS} candidate features: an exact 4-way tie.  The
    quantized argmin key (boosting.best_stump_row, mirrored in the oracle)
    collapses it to the (feature, threshold) tiebreak instead of hanging
    the cross-engine choice on 1e-16 summation-order bits.

    Scale shape: identical to q_d7_estimator_scored (one grouped agg + one
    bounded window per round; scoring is one row-wise projection, with no
    id pivot); the label-set lift only flips y signs in the long frame,
    adding no rows."""
    from .estimator import AdaBoostMHClassifier

    emb = _emb(spark, sf_dir)
    emb4 = emb.select(
        "vec_id",
        F.slice("embedding", 1, D7_FEATS).alias("embedding"),
        F.array(F.col("label"), (F.col("label") + 1) % K)
        .cast("array<int>")
        .alias("labels"),
    )
    model = AdaBoostMHClassifier(
        numRounds=D7_ROUNDS, numClasses=K, labelCol="labels"
    ).fit(emb4)
    path = os.path.join(sf_scratch("d7ml", sf_dir), "stumps")
    model.stumps_df.write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path).collect()  # bounded: D7_ROUNDS rows, one per stump
    return boosting._explode_margins(boosting.score_model(emb4, reloaded)).select(
        "id", "class", F.round("score", 6).alias("score"), "pred"
    )


# ---------------------------------------------------------------------------
# A12 exact-oracle twin (VERDICT r10 item 2): sampled training with an
# integer-arithmetic subsample both engines compute, so the full
# sampled training round is SQL-expressible in BOTH engines and hash-checked
# end-to-end via the D7 replay-CTE pattern.
# ---------------------------------------------------------------------------

# Multiplicative-congruential instance selector: keep id iff
#   (id * A12_MULT + t * A12_STEP) % A12_MOD < A12_THRESH     (80% per round)
# A12_MULT is Knuth's 2654435761 (2^32 * golden ratio); A12_STEP decorrelates
# rounds by rotating the residue classes.  Pure int64 arithmetic — identical
# in Spark and DuckDB (NEXT.md invariant: integer id arithmetic, no doubles).
# Overflow headroom: id * A12_MULT stays in int64 for id < ~3.47e9, far above
# any per-shard id space this engine would train on (and trivially above the
# fixture's 0..1999).
A12_MULT = 2654435761
A12_STEP = 40503
A12_MOD = 1000
A12_THRESH = 800
A12_FEAT_KEEP = 3  # of D7_FEATS=4: the rotating per-round feature subset


def _a12_sample_pred(t: int):
    """Round-t instance selector as a pushed-down boolean Column over id."""
    return ((F.col("id") * A12_MULT + t * A12_STEP) % A12_MOD) < A12_THRESH


def _a12_search_conds() -> dict[int, str]:
    """Per-round g{r} restrictions: the hash instance subsample AND the
    rotating feature subset ((feature + t) % D7_FEATS < keep — the exact
    condition boosting.train applies for feature_fraction=0.75 on 4 dims)."""
    return {
        r: (
            f"WHERE (f.id * {A12_MULT} + {r - 1} * {A12_STEP}) % {A12_MOD}"
            f" < {A12_THRESH}\n"
            f"    AND ((f.feature + {r - 1}) % {D7_FEATS}) < {A12_FEAT_KEEP}\n  "
        )
        for r in range(1, D7_ROUNDS + 1)
    }


@query("q_a12_train_hash_sampled", oracle=_d7_oracle(search_conds=_a12_search_conds()), group="A")
def train_hash_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 exact-oracle twin (VERDICT r10 item 2): stochastic boosting —
    per-round instance AND feature subsampling (the reference's sampleRate /
    featureRate pair [R] DecisionStumpAlgorithm, reconstructed, mount empty)
    — made hash-checkable by a deterministic multiplicative-congruential
    selector both engines compute identically.
    Train {D7_ROUNDS} rounds on embedding[1..{D7_FEATS}] where each round's
    stump SEARCH sees only ids with (id*MULT + t*STEP) % MOD < THRESH (80%)
    and 3 of the 4 features (rotating subset); the A8 weight update still
    reweights the FULL corpus — stochastic boosting's contract.  Score the
    corpus with the trained stumps (A9 shape).  The oracle replays the
    sampled training as unrolled materialized CTEs with the same per-round
    WHERE restriction on the search frame, then scores — so the sampled
    model's actual predictions are value-hashed against DuckDB, upgrading
    A12 from rows-only to an exact oracle (q_a12_train_sampled, the
    xxhash64 ``_hash_sample`` twin, stays a rows-only contract row).

    Determinism: same quantized argmin key as D7 (floor(z*1e9+0.5), feature,
    threshold).  Measured top-2 key gaps before registration (the round-11
    verify lesson): round 1 is a 3-WAY EXACT tie (features 1/2/4, gap
    ~1e-16 at all 3 SFs) — structural, not numeric: with uniform round-1
    weights z is a pure function of the per-(class, side) COUNTS, and three
    features' best cuts induce identical count patterns, so their z bits
    agree in both engines and the quantized key collapses the tie to the
    (feature, threshold) tiebreak exactly as designed (best_stump_row);
    round-2 gaps are generic (3.4e-6 / 1.9e-5 / 1.0e-5 at sf0.1/0.01/0.001,
    ten orders above cross-engine drift).  Verified MATCH at 3 SFs.
    Scale shape: the sampler is a pushed-down arithmetic
    filter (no RNG state, no sampled-id join) — at 100 TB it prunes before
    the search's grouped agg, and rounds re-select independently with no
    driver-side id list."""
    emb = _emb(spark, sf_dir)
    emb4 = emb.withColumn("embedding", F.slice("embedding", 1, D7_FEATS))
    stumps = boosting.train(
        spark,
        emb4,
        num_rounds=D7_ROUNDS,
        num_classes=K,
        sample_pred=_a12_sample_pred,
        feature_fraction=A12_FEAT_KEEP / D7_FEATS,
    )
    return boosting._explode_margins(boosting.score_model(emb4, stumps)).select(
        "id", "class", F.round("score", 6).alias("score"), "pred"
    )
