"""AdaBoost.MH with decision stumps — the reference's core capability
(SURVEY.md §2 group A), re-expressed as relational dataflow on DataFrames.

Reference parity (all [R] citations reconstructed — the /root/reference
mount was empty at survey time, SURVEY.md §0):
- MultiLabeledPoint / WeightedMultiLabeledPoint
  [R] .../multilabel/MultiLabeledPoint.scala -> long-form frame
  (id, class, y, weight) + a separate exploded feature frame (id, feature,
  value); SURVEY §1.2 chose the long form so every boosting step is a plain
  relational op.  :func:`train` holds the same weights as K columns of the
  example row instead (:func:`_weight_rows`).
- DecisionStumpAlgorithm.run [R] .../baselearners/DecisionStump.scala ->
  :func:`fit_stump` / :func:`_best_cut`: candidate cuts (A3) + prefix-sum
  threshold search (A4) + Z-criterion scoring (A5) + argmin (A6), in one
  chain that also returns the round's normalizer.  A4's W_+/W_-
  cut masses are one kernel, :func:`_cut_masses`: per feature with the K
  classes as columns here, per (feature, class) in the long-form
  ``*_class_weights`` frames.
- AdaBoostMHAlgorithm.run [R] .../stronglearners/AdaBoostMH.scala ->
  :func:`train` (A10): driver loop with no weight state.  The weights
  (A8's update + normalization) are a row-wise closed-form expression of
  the literal stumps found so far, so nothing is carried, joined or
  checkpointed from round to round (the reference re-caches its weighted
  RDD per round).  The sampleRate of A12 is one hash predicate on
  (id, seed + t) per round.
- AdaBoostMHModel.predict [R] -> :func:`score_model` (A9): the same H(x)
  that :func:`train`'s weights read, one :func:`_margins` expression of
  the stump list giving the K margins of each input row as one array
  column — a row-wise projection over the stump list, with no job, join,
  shuffle or agg.

Math (Schapire & Singer 1999, BoosTexter 2000):
  phi_{j,theta}(x) = +1 if x[j] > theta else -1
  W_+^l = sum_i w_il [y_il = phi(x_i)],  W_-^l = sum_i w_il [y_il != phi(x_i)]
  votes v_l = 0.5 ln((W_+^l + eps) / (W_-^l + eps)),  eps = 1/(2mK)
  Z(j,theta) = 2 sum_l sqrt(W_+^l W_-^l)   (minimized over candidates)
  weight update: w' = w exp(-y v_l phi(x)) / Z_t,
    Z_t = sum_l (W_+^l e^{-v_l} + W_-^l e^{v_l})  (the exact normalizer)
  closed form: D_t(i,l) = exp(-y_il H_{t-1}(x_i)[l] - sum_{s<t} ln Z_s) / (mK)

Scale posture (SURVEY §4.2): a training round scans the persisted examples
once, computes the K weights per row (m·K exp, before the feature explode)
and pre-aggregates them by (feature, value) with the K classes folded into
2K columns BEFORE the window prefix-sum, so the window input is |distinct
values| rows per feature, not m x K; the per-feature window is a d-way
shuffle (it was d x K with the long-form (feature, class) window).
Training's search is that unsalted per-feature window: a feature with ~m
distinct values puts all of them in one window partition, and no
parameter of :func:`train` changes that.  The kernel's ``n_buckets``
salting is reachable only through :func:`stump_class_weights_salted`
(``q_a4_prefix_weights_salted`` and the property tests).  The weight
expression does O(t) work per row, the price of carrying no state, but
its code size is constant in T: H(x) is one ``aggregate`` over a literal
stump array.  Instance sampling is a mask inside the search's aggregate,
never a sampled-id join.  Feature indices are 1-based everywhere (matches
SQL element_at/list indexing in both engines).
"""

from __future__ import annotations

import json
import math
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType


@dataclass
class Stump:
    """One base hypothesis h_t (reference: DecisionStumpModel [R])."""

    t: int
    feature: int  # 1-based
    threshold: float
    z: float
    votes: list[float]  # length K; h(x)[l] = votes[l] * phi(x)
    # Z_t = sum_il D_t(i,l) exp(-y_il h(x_i)[l]) over the searched rows, the
    # round's exact normalizer; NaN on a hand-built stump
    norm: float = math.nan


def _label_set(df: DataFrame) -> Column:
    """The row's label set as ARRAY<INT>, the one place the label form is
    read: ``df``'s ``label`` column itself when its type is an array (a
    BoosTexter label set), ``array(label)`` when it is a single label, the
    |Y| = 1 case.  Reads ``df.schema`` only, so it runs no Spark job."""
    label = F.col("label")
    if isinstance(df.schema["label"].dataType, ArrayType):
        return label.cast("array<int>")
    return F.array(label.cast("int"))


def _label_sign(cls: Column) -> Column:
    """y in {+1, -1}: +1 iff class ``cls`` is in the row's ``labels``, the
    set :func:`_label_set` builds."""
    return F.when(F.array_contains("labels", cls), 1).otherwise(-1)


def mlp_long(emb: DataFrame, num_classes: int = 10) -> DataFrame:
    """Lift labelled rows to the multi-label long form (id, class, y in
    {+1,-1}) — FIXTURES.md §2.1: y[i, l] = +1 iff l is in row i's label
    set.  ``label`` is a single INT label or an ARRAY<INT> label set
    (:func:`_label_set`)."""
    return emb.select(
        F.col("vec_id").alias("id"),
        F.explode(F.sequence(F.lit(0), F.lit(num_classes - 1))).alias("class"),
        _label_set(emb).alias("labels"),
    ).select("id", "class", _label_sign(F.col("class")).alias("y"))


def _phi(value: Column, threshold: float | Column) -> Column:
    """phi(x) = +1 above the cut, -1 at or below it."""
    return F.when(value > threshold, 1.0).otherwise(-1.0)


# the Spark type of a stump list, and of the stump table's rows
_STUMP_TYPE = "ARRAY<STRUCT<t INT, feature INT, threshold DOUBLE, z DOUBLE, votes ARRAY<DOUBLE>>>"


def _stump_literal(stumps: Sequence[Stump | Row]) -> Column:
    """The stump list as one Spark value of type ``_STUMP_TYPE``, in list
    order: a JSON string literal under ``from_json``, which the optimizer
    folds to a constant, so building it costs the same py4j calls at any
    length.  ``json.dumps`` writes round-tripping float digits and NaN /
    ±Infinity, which ``from_json`` reads back bit for bit; it rejects numpy
    scalars, hence ``int()`` / ``float()``."""
    rows = [
        {"t": int(s.t), "feature": int(s.feature), "threshold": float(s.threshold),
         "z": float(s.z), "votes": [float(v) for v in s.votes]}
        for s in stumps
    ]
    return F.from_json(F.lit(json.dumps(rows)), _STUMP_TYPE)


def _margins(stumps: Sequence[Stump | Row], num_classes: int) -> Column:
    """H(x) = sum_s v_s phi_s(x), the K margins of the row's ``embedding`` as
    one array column: an ``aggregate`` over :func:`_stump_literal` of the
    stumps in t order, from K zeros, adding v_s[l] phi_s to class l per
    stump.  Spark evaluates ``aggregate`` outside whole-stage codegen, so
    neither the generated code nor the driver's work to build the column
    grows with T (an unrolled K·T sum outgrows Janino's 64 KB method limit
    near T = 100); a row still does O(K T) work."""

    def add(h: Column, s: Column) -> Column:
        phi = _phi(F.element_at("embedding", s["feature"]), s["threshold"])
        return F.zip_with(h, s["votes"], lambda a, v: a + v * phi)

    return F.aggregate(_stump_literal(stumps), F.array(*[F.lit(0.0)] * num_classes), add)


def _log_factor(y: Column, h: Column, log_norm: float) -> Column:
    """A8, the one weight formula: ln of the factor exp(-y h) / Z that
    reweights a (row, class) pair by the margin ``h`` of the stumps applied
    and ``log_norm`` = ln Z, the log of their normalizers' product.  One
    stump for :func:`update_weights`, every stump so far for
    :func:`_class_weight`."""
    return -y * h - F.lit(log_norm)


def _class_weight(
    y: Column, margin: Column | None, log_norm: float, m: int, num_classes: int
) -> Column:
    """D_t(i, l) in closed form (Schapire & Singer 1999): 1/(mK) ·
    exp(-y H_{t-1}(x)[l] - sum_{s<t} ln Z_s), with ``margin`` = H_{t-1}[l]
    (:func:`_margins`) and ``log_norm`` the sum of ln Z_s; 1/(mK) at
    t = 0 (``margin`` None).  Log space keeps the exponent at or below
    ln(mK), so no weight overflows however large |H| grows (a plain
    exp(-yH) / prod Z does once |H| > 709)."""
    w = F.lit(1.0 / (m * num_classes))
    if margin is None:
        return w
    return w * F.exp(_log_factor(y, margin, log_norm))


def init_weights(mlp: DataFrame, m: int, num_classes: int) -> DataFrame:
    """A2: uniform initial distribution D_1(i,l) = 1/(mK)."""
    uniform = _class_weight(F.col("y"), None, 0.0, m, num_classes)
    return mlp.withColumn("weight", uniform)


def _weight_rows(
    emb: DataFrame, stumps: Sequence[Stump], m: int, num_classes: int
) -> DataFrame:
    """Round t's weights as columns of the example rows: ``emb`` (``embedding``
    and the label set ``labels``, :func:`_label_set`) plus ``y_l`` and
    ``weight_l`` = D_t(i, l) for every class l, a pure function of the row
    and the ``stumps`` found so far (:func:`_class_weight`).  H_{t-1} is one
    column, ``h`` (:func:`_margins`), computed once per row and read by
    every class; sum_{s<t} ln Z_s is summed in t order on the driver."""
    classes = range(num_classes)
    signed = emb.select(
        "*",
        *[_label_sign(F.lit(l)).alias(f"y_{l}") for l in classes],
        *([_margins(stumps, num_classes).alias("h")] if stumps else []),
    )
    h = [F.col("h")[l] for l in classes] if stumps else [None] * num_classes
    log_norm = sum(math.log(s.norm) for s in stumps)
    return signed.select(
        *emb.columns,
        *[f"y_{l}" for l in classes],
        *[
            _class_weight(F.col(f"y_{l}"), h[l], log_norm, m, num_classes).alias(f"weight_{l}")
            for l in classes
        ],
    )


def _explode(rows: DataFrame, *carry: Column | str) -> DataFrame:
    """(``carry``, feature[1-based], value) from the array column ``embedding``."""
    return rows.select(
        *carry, F.posexplode("embedding").alias("feature", "value")
    ).withColumn("feature", F.col("feature") + 1)


def explode_features(emb: DataFrame) -> DataFrame:
    """A3 input: (id, feature[1-based], value) from the array column."""
    return _explode(emb, F.col("vec_id").alias("id"))


def _side_masses(
    rows: DataFrame, keys: list[str], suffixes: Sequence[str] = ("",), kept: bool = False
) -> DataFrame:
    """Per group of ``keys``, the weight mass with y = +1 (``sp{s}``) and with
    y = -1 (``sm{s}``) of the columns ``y{s}`` / ``weight{s}`` for every
    suffix s — the map-side combine in front of every cut search.  With
    ``kept`` the boolean column ``kept`` masks a second set, ``sp{s}_k`` /
    ``sm{s}_k``, and ``n_kept`` counts the kept rows."""

    def mass(y: int, s: str, masked: bool) -> Column:
        hit = F.col(f"y{s}") == y
        if masked:
            hit = hit & F.col("kept")
        return F.sum(F.when(hit, F.col(f"weight{s}")).otherwise(0.0))

    masks = [("", False)] + ([("_k", True)] if kept else [])
    return rows.groupBy(*keys).agg(
        *[mass(y, s, masked).alias(f"{side}{s}{tag}")
          for tag, masked in masks
          for side, y in (("sp", 1), ("sm", -1))
          for s in suffixes],
        *([F.count_if("kept").alias("n_kept")] if kept else []),
    )


def _cut_masses(
    grouped: DataFrame,
    part: list[str],
    suffixes: list[str],
    n_buckets: int | None = None,
    emit: Callable[[list[Column], list[Column]], list[Column]] | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """A4: the Schapire-Singer cut masses, written once.

    ``grouped`` holds one row per (``part``, value), each value a candidate
    threshold, with side masses ``sp{s}`` / ``sm{s}`` per suffix s
    (:func:`_side_masses`).  Prefix (p_) and total (t_) sums over value
    within ``part`` give, with phi = +1 above the cut, W_+ = t_sp - p_sp +
    p_sm and W_- = t_sm - p_sm + p_sp.  Returns (``part``, threshold,
    w_plus{s}, w_minus{s}); ``emit(w_plus, w_minus)`` replaces the W_±
    columns for a caller that reads each of them twice (:func:`_best_cut`),
    which then needs no projection between the window and its own columns.
    The ``carry`` columns of ``grouped`` pass through unchanged.

    ``n_buckets`` salts the prefix window by a monotone value-range bucket
    (SURVEY §4.2 item 2): bucket offsets and totals come from the tiny
    (``part``, bucket) frame, so a partition with ~m distinct values feeds
    a window of fan-in ~m/B, not m.  Offset + within-bucket prefix ==
    global prefix (q_a4_prefix_weights_salted checks it against DuckDB)."""
    sums = [f"{side}{s}" for s in suffixes for side in ("sp", "sm")]
    keys = list(part)
    if n_buckets is not None:
        # embedding values are O(1); floor(v*B/4) spreads them over ~2B
        # buckets while preserving value order
        bucket = F.floor(F.col("value") * (n_buckets / 4.0))
        grouped = grouped.withColumn("bucket", bucket)
        keys.append("bucket")
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prefix = [F.sum(c).over(w_cum) for c in sums]
    if n_buckets is None:
        # the totals reuse the prefix ordering, so p_ and t_ share one operator
        w_tot = w_cum.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        total = [F.sum(c).over(w_tot) for c in sums]
    else:
        w_b = Window.partitionBy(*part).orderBy("bucket")
        w_off = w_b.rowsBetween(Window.unboundedPreceding, -1)
        w_all = w_b.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        buckets = grouped.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sums])
        offsets = buckets.select(
            *keys,
            *[F.coalesce(F.sum(c).over(w_off), F.lit(0.0)).alias(f"o_{c}") for c in sums],
            *[F.sum(c).over(w_all).alias(f"t_{c}") for c in sums],
        )
        grouped = grouped.join(offsets, keys)
        prefix = [F.col(f"o_{c}") + pre for c, pre in zip(sums, prefix)]
        total = [F.col(f"t_{c}") for c in sums]
    cum = grouped.select(
        *part,
        F.col("value").alias("threshold"),
        *carry,
        *[
            col.alias(f"{p}{c}")
            for c, pre, tot in zip(sums, prefix, total)
            for p, col in (("p_", pre), ("t_", tot))
        ],
    )

    def side(a: str, b: str) -> list[Column]:
        # phi = +1 above the cut: side a's mass above it, side b's at/below it
        return [
            F.col(f"t_{a}{s}") - F.col(f"p_{a}{s}") + F.col(f"p_{b}{s}") for s in suffixes
        ]

    w_plus, w_minus = side("sp", "sm"), side("sm", "sp")
    out = emit(w_plus, w_minus) if emit else [
        *[wp.alias(f"w_plus{s}") for s, wp in zip(suffixes, w_plus)],
        *[wm.alias(f"w_minus{s}") for s, wm in zip(suffixes, w_minus)],
    ]
    return cum.select(*part, "threshold", *carry, *out)


def stump_class_weights(weighted: DataFrame, feats: DataFrame) -> DataFrame:
    """A3+A4: for every candidate cut (feature, threshold=observed value) and
    class, the Schapire-Singer weight masses W_+ / W_-, as rows
    (feature, class, threshold, w_plus, w_minus).

    Join exploded features with the weighted long frame on id (m*d x K
    rows), pre-aggregate to (feature, value, class), then the cut-mass
    kernel with one prefix window per (feature, class) ordered by value.
    """
    grouped = _side_masses(feats.join(weighted, "id"), ["feature", "value", "class"])
    return _cut_masses(grouped, ["feature", "class"], [""])


def _uniform_side_masses(
    emb: DataFrame, num_features: int, num_classes: int, m: int
) -> DataFrame:
    """:func:`_side_masses` by (feature, value, class) of ROUND ONE's uniform
    weights (:func:`_class_weight` with no stumps) over the first
    ``num_features`` features: one pass explodes (feature, class) pairs
    from the source rows, with no feats-x-weights join."""
    base = (
        emb.select(
            _label_set(emb).alias("labels"),
            F.posexplode(F.slice("embedding", 1, num_features)).alias("f0", "value"),
        )
        .select(
            "labels",
            (F.col("f0") + 1).alias("feature"),
            "value",
            F.explode(F.sequence(F.lit(0), F.lit(num_classes - 1))).alias("class"),
        )
        .select(
            "feature",
            "value",
            "class",
            _label_sign(F.col("class")).alias("y"),
            _class_weight(F.col("y"), None, 0.0, m, num_classes).alias("weight"),
        )
    )
    return _side_masses(base, ["feature", "value", "class"])


def uniform_class_weights(
    emb: DataFrame, num_features: int, num_classes: int, m: int
) -> DataFrame:
    """A3+A4 for ROUND ONE: :func:`stump_class_weights` of the uniform
    weights, with the feats-x-weights join and both its shuffles fused away
    (:func:`_uniform_side_masses`).  Numbers are identical to the join
    formulation."""
    grouped = _uniform_side_masses(emb, num_features, num_classes, m)
    return _cut_masses(grouped, ["feature", "class"], [""])


def stump_class_weights_salted(
    weighted: DataFrame, feats: DataFrame, n_buckets: int = 8
) -> DataFrame:
    """A4 at extreme scale: :func:`stump_class_weights` with the kernel's
    prefix window salted into ``n_buckets`` value-range buckets, so no
    window partition holds all of a skewed feature's values (see
    :func:`_cut_masses`).  Same rows and numbers up to summation order."""
    grouped = _side_masses(feats.join(weighted, "id"), ["feature", "value", "class"])
    return _cut_masses(grouped, ["feature", "class"], [""], n_buckets)


def stump_z(class_weights: DataFrame) -> DataFrame:
    """A5: Z(feature, threshold) = 2 sum_l sqrt(W_+ W_-)."""
    return class_weights.groupBy("feature", "threshold").agg(
        (2.0 * F.sum(F.sqrt(F.col("w_plus") * F.col("w_minus")))).alias("z")
    )


def best_stump_row(zs: DataFrame) -> DataFrame:
    """A6: global argmin of Z, deterministic tiebreak (z, feature,
    threshold).  The ranking key quantizes z to 1e-9 (floor(z·1e9 + 0.5),
    mirrored in every SQL oracle): EXACT z ties are possible — e.g. the
    degenerate max-threshold cut (a constant hypothesis) has identical z on
    every feature, and the multi-label fixture makes it the argmin — and a
    raw-double rank would then hang the cross-engine choice on ~1e-16
    summation-order bits.  Sub-1e-9 gaps collapse to the (feature,
    threshold) tiebreak, which compares stored values bit-identically;
    genuine gaps (measured 1e-5 on the single-label fixture) are
    unaffected.  The REPORTED z stays raw.

    Caveat (ADVICE r9): quantization is a PROBABILITY REDUCTION, not an
    elimination — two engines' z values ~1ulp apart can still straddle a
    1e-9 bucket boundary and flip the argmin.  The window shrinks from
    "any summation-order difference decides" to "only differences that
    cross a bucket edge decide" (~1e-16/1e-9 ≈ 1e-7 of key space per tie
    candidate); the fixtures' observed gap structure (exact ties or
    ≥1e-5) keeps the residual risk off both measured regimes.  A coarser
    bucket (1e-6) would provably clear cross-engine drift for the
    measured gaps but costs genuine sub-1e-6 distinctions on unseen data
    — 1e-9 is the chosen trade, not a guarantee."""
    zq = F.floor(F.col("z") * 1e9 + 0.5)
    return zs.orderBy(zq, "feature", "threshold").limit(1)


def _best_cut(
    rows: DataFrame, m: int, num_classes: int, t: int, sampled: bool = False
) -> Stump:
    """A3-A6 over ``rows``: one row per (example, feature) with columns
    feature, value, and ``y_l`` / ``weight_l`` for every class l (y = 0
    puts no mass on either side).

    Shape — one chain, one 1-row driver action:

      1. ``groupBy(feature, value)`` with the K classes folded into 2K
         conditional sums ``sp_l`` / ``sm_l`` — distinct values × d rows;
      2. :func:`_cut_masses` with one prefix-sum window per feature, ordered
         by value, giving every class's W_+ / W_- at each cut (window
         parallelism d);
      3. z = 2 Σ_l sqrt(W_+^l W_-^l), summed in class order, and the K
         eps-smoothed votes, both row-wise;
      4. one global ``min(struct(floor(z·1e9 + 0.5), feature, threshold,
         z, votes, W_+, W_-))`` — exactly :func:`best_stump_row`'s key and
         tiebreak, with no sort, no limit and no join back for the votes.
         The cut's per-class W_± give the exact normalizer on the driver.

    With ``sampled``, the boolean column ``kept`` marks the rows the search
    sees: the same aggregate also sums the kept rows alone (4K columns), z
    and the votes come from those, the normalizer from all rows, and a
    candidate cut is a value at least one kept row holds.

    Raises ValueError when there is no candidate cut."""
    eps = 1.0 / (2.0 * m * num_classes)
    full = [f"_{l}" for l in range(num_classes)]
    suffixes = full + [f"{s}_k" for s in full] if sampled else full

    def z_and_votes(w_plus: list[Column], w_minus: list[Column]) -> list[Column]:
        # the searched masses come last: the kept rows' when sampled
        wp_s, wm_s = w_plus[-num_classes:], w_minus[-num_classes:]
        z_sum = F.sqrt(wp_s[0] * wm_s[0])
        for wp, wm in zip(wp_s[1:], wm_s[1:]):
            z_sum = z_sum + F.sqrt(wp * wm)
        votes = [
            0.5 * F.log((wp + F.lit(eps)) / (wm + F.lit(eps)))
            for wp, wm in zip(wp_s, wm_s)
        ]
        return [
            (2.0 * z_sum).alias("z"),
            F.array(*votes).alias("votes"),
            F.array(*w_plus[:num_classes]).alias("w_plus"),
            F.array(*w_minus[:num_classes]).alias("w_minus"),
        ]

    grouped = _side_masses(rows, ["feature", "value"], full, kept=sampled)
    scored = _cut_masses(
        grouped, ["feature"], suffixes, emit=z_and_votes,
        carry=["n_kept"] if sampled else [],
    )
    if sampled:
        scored = scored.filter(F.col("n_kept") > 0)
    key = F.struct(
        F.floor(F.col("z") * 1e9 + 0.5).alias("zq"),
        "feature", "threshold", "z", "votes", "w_plus", "w_minus",
    )
    # bounded: 1 row — the global min over every candidate cut
    best = scored.agg(F.min(key).alias("best")).collect()[0]["best"]
    if best is None:
        raise ValueError(
            f"fit_stump round {t}: no candidate cut — the search frame is empty "
            "(a sample_pred or feature filter kept no rows)"
        )
    votes = list(best["votes"])
    norm = math.fsum(
        wp * math.exp(-v) + wm * math.exp(v)
        for wp, wm, v in zip(best["w_plus"], best["w_minus"], votes)
    )
    return Stump(
        t=t,
        feature=int(best["feature"]),
        threshold=float(best["threshold"]),
        z=float(best["z"]),
        votes=votes,
        norm=norm,
    )


def fit_stump(
    weighted: DataFrame, feats: DataFrame, m: int, num_classes: int, t: int = 0
) -> Stump:
    """A3-A6 (reference: DecisionStumpAlgorithm.run [R]): find the best cut,
    its confidence-rated votes and its normalizer Z_t, from a long weighted
    frame (id, class, y, weight) and exploded features (id, feature, value).

    ``feats ⨝ weighted`` on id (m·d·K rows), each row's mass in its class's
    column, then the search :func:`train` runs (:func:`_best_cut`).  The
    cut and votes equal the relational pieces (:func:`stump_class_weights`
    → :func:`stump_z` → :func:`best_stump_row`, the same kernel per
    (feature, class)) up to summation order: z sums classes in class
    order, and repeated values' weights may add up in another order, so
    only the last bits can differ.  ``norm`` covers the rows searched, so
    a caller that filters ``weighted`` gets the normalizer of the sample.
    The search is the unsalted per-feature window, as in :func:`train`: a
    feature with ~m distinct values puts all of them in one window
    partition.  Nothing here salts; the salted kernel is reachable only
    through :func:`stump_class_weights_salted`.

    Raises ValueError when the search frame has no candidate cut (a
    filter that keeps no rows or no features)."""
    classes = range(num_classes)
    rows = feats.join(weighted, "id").select(
        "feature",
        "value",
        *[
            F.when(F.col("class") == l, F.col("y")).otherwise(0).alias(f"y_{l}")
            for l in classes
        ],
        *[F.col("weight").alias(f"weight_{l}") for l in classes],
    )
    return _best_cut(rows, m, num_classes, t)


def stumps_to_df(spark: SparkSession, stumps: Sequence[Stump]) -> DataFrame:
    """Model-as-table (SURVEY §1.2): one row (t, feature, threshold, z,
    votes) per stump, every field nullable.  The rows are :func:`_stump_literal`
    inlined over a one-partition ``range(1)``: the stumps are in the PLAN, so
    each write or collect of the table is a JVM-only job with no
    Python-worker roundtrip, and its one task holds the ≤ num_rounds rows."""
    return spark.range(1, numPartitions=1).select(F.inline(_stump_literal(stumps)))


def update_weights(
    weighted: DataFrame, feats: DataFrame, stump: Stump, spark: SparkSession
) -> DataFrame:
    """A8 as one step of the iterated path: w' = w exp(-y v_l phi(x) - ln Z_t),
    Z_t = ``stump.norm`` (found by :func:`fit_stump`), row-wise with no
    aggregate, the cut and votes read from :func:`_stump_literal`.
    :func:`train` computes the same factors in closed form; this stays
    public for ``q_a8_weight_update`` and the benchmark's traced copy of
    ``train`` (perfbench/workloads.py), which ROADMAP.md's item 4 deletes.
    With one earlier stump it gives the same floats as round 2 of :func:`train`."""
    s = _stump_literal([stump])[0]
    phi = feats.filter(F.col("feature") == s["feature"]).select(
        "id", _phi(F.col("value"), s["threshold"]).alias("phi")
    )
    h = F.element_at(s["votes"], F.col("class") + 1) * F.col("phi")
    factor = _log_factor(F.col("y"), h, math.log(stump.norm))
    return weighted.join(phi, "id").select(
        "id", "class", "y", (F.col("weight") * F.exp(factor)).alias("weight")
    )


def _hash_sample(fraction: float, seed: int) -> Callable[[int], Column]:
    """A ``sample_pred`` for :func:`train`: round t keeps the ids whose
    xxhash64 with ``seed`` + t lands in the lowest ``fraction`` of 2^20
    buckets, independently per round.  The hash takes an id of any type and
    pmod keeps the bucket in [0, 2^20), so no step can overflow int64 (ANSI
    mode included)."""
    buckets = 1 << 20
    return lambda t: (
        F.pmod(F.xxhash64("id", F.lit(seed + t)), F.lit(buckets)) < fraction * buckets
    )


def train(
    spark: SparkSession,
    emb: DataFrame,
    num_rounds: int = 10,
    num_classes: int = 10,
    feature_fraction: float | None = None,
    sample_pred: Callable[[int], Column] | None = None,
) -> list[Stump]:
    """A10 (reference: AdaBoostMHAlgorithm.run [R]): the boosting loop.

    Driver-orchestrated like the reference, with no weight state: round t's
    weights D_t(i, l) are a closed-form expression of the literal stumps
    found so far (:func:`_class_weight`), and each stump carries its exact
    normalizer Z_t.  Shape per round — one chain over the persisted
    examples ending in a 1-row collect:

      1. the K weights per row (m·K exp), from H_{t-1}, one expression of
         the stumps found so far (:func:`_weight_rows`, :func:`_margins`);
      2. explode (feature, value);
      3. the search of :func:`fit_stump` (:func:`_best_cut`):
         ``groupBy(feature, value)``, the cut-mass window, one ``min(struct)``.

    No weight frame, join, reweight or localCheckpoint sits between rounds;
    only the examples are persisted.  Compared with the iterated
    :func:`fit_stump` → :func:`update_weights` chain, round 2's weights are
    the same floats; later rounds sum log-factors where the chain
    multiplies factors, so weights differ in the last bits.  A12: optional
    instance/feature subsampling of each stump search.  ``emb``'s ``label``
    is a single INT label or an ARRAY<INT> label set (BoosTexter label
    sets); the persisted examples hold it as a set, built once per row
    (:func:`_label_set`).

    Instance sampling is one mask inside the search's aggregate:
    ``sample_pred``, a callable ``t -> boolean Column over 'id'``, picks
    the rows round t's stump search sees (VERDICT r10 item 2: pure
    arithmetic that SQL repeats makes sampled training oracle-checkable),
    while Z_t covers every row; :func:`_hash_sample` builds the sampler of
    a fraction and a seed.

    Raises ValueError, before any Spark job, when ``num_rounds`` < 1, and
    after the one pre-loop action when ``emb`` has no rows.
    """
    if num_rounds < 1:
        raise ValueError(f"train: num_rounds must be at least 1, got {num_rounds}")
    emb = emb.select(
        F.col("vec_id").alias("id"), "embedding", _label_set(emb).alias("labels")
    ).persist()
    # bounded: the one pre-loop action, a 1-row agg of m and the feature count
    m, n_feats = emb.agg(F.count(F.lit(1)), F.max(F.size("embedding"))).collect()[0]
    if m == 0:
        emb.unpersist()
        raise ValueError("train: the input has no rows")
    sampled = sample_pred is not None
    carry = [f"{c}_{l}" for l in range(num_classes) for c in ("y", "weight")]
    carry += ["kept"] if sampled else []
    stumps: list[Stump] = []
    for t in range(num_rounds):
        rows = _weight_rows(emb, stumps, m, num_classes)
        if sampled:
            rows = rows.withColumn("kept", sample_pred(t))
        rows = _explode(rows, *carry)
        if feature_fraction is not None:
            keep = max(1, int(n_feats * feature_fraction))
            # deterministic per-round rotation of the feature subset
            rows = rows.filter(((F.col("feature") + t) % n_feats) < keep)
        stumps.append(_best_cut(rows, m, num_classes, t, sampled))
    emb.unpersist()
    return stumps


def score_model(emb: DataFrame, stumps: Sequence[Stump | Row]) -> DataFrame:
    """A9 (reference: AdaBoostMHModel.predict [R]): H(x)[l] = sum_t h_t(x)[l],
    the expression :func:`train` builds for its weights (:func:`_margins`
    of the stumps in t order), as one row-wise projection of ``emb`` with no
    join, shuffle or aggregate.  Returns every ``emb`` column plus
    ``scores``, the K margins in class order.

    ``stumps`` are :class:`Stump` objects or rows of a stump table (t,
    feature, threshold, z, votes), in any order.  Building the projection
    runs no Spark job and costs the same py4j calls at any T.

    Raises ValueError when ``stumps`` is empty."""
    if not stumps:
        raise ValueError("score_model: the stump table is empty (a model needs 1+ rounds)")
    h = _margins(sorted(stumps, key=lambda s: s.t), len(stumps[0].votes))
    return emb.select("*", h.alias("scores"))


def _explode_margins(scored: DataFrame) -> DataFrame:
    """(id, class, score, pred): :func:`score_model`'s ``scores`` one row per
    class, with pred = sign(score) in {+1, -1} — the long form the A-queries
    and their SQL oracles read."""
    return scored.select(
        F.col("vec_id").alias("id"),
        F.posexplode("scores").alias("class", "score"),
    ).select("*", F.when(F.col("score") > 0, 1).otherwise(-1).alias("pred"))


def hamming_loss(scored: DataFrame, mlp: DataFrame) -> DataFrame:
    """A11: fraction of (i,l) pairs where sign(H) != y."""
    return (
        scored.join(mlp, ["id", "class"])
        .agg(
            F.round(
                F.avg(F.when(F.col("pred") != F.col("y"), 1.0).otherwise(0.0)), 6
            ).alias("hamming_loss"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
