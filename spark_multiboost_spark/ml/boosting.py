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
- AdaBoostMHModel.predict [R] -> :func:`score_model` (A9): broadcast stump
  table join + hash agg.

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
shuffle (it was d x K with the long-form (feature, class) window), and the
kernel's ``n_buckets`` salting (:func:`stump_class_weights_salted`) is the
way out when one feature is skewed.  The weight expression grows by one
term per round (O(t) per row), the price of carrying no state.  Instance
sampling is a mask inside the search's aggregate, never a sampled-id join.
Feature indices are 1-based everywhere (matches SQL element_at/list
indexing in both engines).
"""

from __future__ import annotations

import math
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


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


def _label_sign(cls: Column, label_set: bool = False) -> Column:
    """y in {+1, -1}: +1 iff class ``cls`` is the row's ``label`` (or is in
    its ``labels`` set)."""
    hit = F.array_contains("labels", cls) if label_set else cls == F.col("label")
    return F.when(hit, 1).otherwise(-1)


def mlp_long(emb: DataFrame, num_classes: int = 10) -> DataFrame:
    """Lift single-label rows to the multi-label long form
    (id, class, y in {+1,-1}) — FIXTURES.md §2.1."""
    return emb.select(
        F.col("vec_id").alias("id"),
        F.explode(F.sequence(F.lit(0), F.lit(num_classes - 1))).alias("class"),
        "label",
    ).select("id", "class", _label_sign(F.col("class")).alias("y"))


def mlp_long_multi(emb: DataFrame, num_classes: int = 10) -> DataFrame:
    """True multi-label long form (BoosTexter label SETS — the reference's
    core use case, VERDICT r8 item 3): ``labels`` is an ARRAY<INT> column;
    y[i, l] = +1 iff l ∈ labels_i.  The single-label :func:`mlp_long` is
    the |labels| = 1 special case."""
    return emb.select(
        F.col("vec_id").alias("id"),
        F.explode(F.sequence(F.lit(0), F.lit(num_classes - 1))).alias("class"),
        "labels",
    ).select("id", "class", _label_sign(F.col("class"), label_set=True).alias("y"))


def _phi(value: Column, threshold: float) -> Column:
    """phi(x) = +1 above the cut, -1 at or below it."""
    return F.when(value > threshold, 1.0).otherwise(-1.0)


def _vote(s: Stump, cls: int | Column) -> Column:
    """v_s[cls]: a literal for a class index, a lookup for a class column."""
    if isinstance(cls, int):
        return F.lit(s.votes[cls])
    return F.element_at(F.array(*[F.lit(v) for v in s.votes]), cls + 1)


def _add_stump(margins: list[Column] | None, s: Stump) -> list[Column]:
    """H_{t+1}(x)[l] = H_t(x)[l] + v_s[l] phi_s(x) for every class l, with
    phi_s read from the row's ``embedding``; ``None`` is H_0 = 0.  Adding
    one stump costs O(K) column expressions, so a loop that extends H
    round by round builds each round's weights in O(K), not O(K·t)."""
    phi = _phi(F.element_at("embedding", s.feature), s.threshold)
    terms = [_vote(s, l) * phi for l in range(len(s.votes))]
    return terms if margins is None else [h + v for h, v in zip(margins, terms)]


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
    (:func:`_add_stump`) and ``log_norm`` the sum of ln Z_s; 1/(mK) at
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
    emb: DataFrame,
    margins: list[Column] | None,
    log_norm: float,
    m: int,
    num_classes: int,
    label_set: bool,
) -> DataFrame:
    """Round t's weights as columns of the example rows: ``emb`` (``embedding``
    and ``label`` or ``labels``) plus ``y_l`` and ``weight_l`` = D_t(i, l)
    for every class l, a pure function of the row and the stumps so far
    (their ``margins`` and ``log_norm``, see :func:`_class_weight`)."""
    classes = range(num_classes)
    signed = emb.select(
        "*", *[_label_sign(F.lit(l), label_set).alias(f"y_{l}") for l in classes]
    )
    hs = margins or [None] * num_classes
    return signed.select(
        "*",
        *[
            _class_weight(F.col(f"y_{l}"), hs[l], log_norm, m, num_classes)
            .alias(f"weight_{l}")
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


def uniform_class_weights(
    emb: DataFrame, num_features: int, num_classes: int, m: int
) -> DataFrame:
    """A3+A4 for ROUND ONE (uniform weights): the t = 0 case of the
    closed-form weights (:func:`_class_weight` with no stumps), so the
    feats-x-weights join of :func:`stump_class_weights` fuses away — one
    pass over the source explodes (feature, class) pairs directly, saving
    both join shuffles.  The same kernel then runs on the pre-aggregated
    rows.  Numbers are identical to the join formulation."""
    base = (
        emb.select(
            "label",
            F.posexplode(F.slice("embedding", 1, num_features)).alias("f0", "value"),
        )
        .select(
            "label",
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
    grouped = _side_masses(base, ["feature", "value", "class"])
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
    A feature with ~m distinct values puts all of them in one window
    partition; at that skew :func:`stump_class_weights_salted` is the way
    out.

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


def stumps_to_df(spark: SparkSession, stumps: list[Stump]) -> DataFrame:
    """Model-as-table (SURVEY §1.2): (t, feature, threshold, z, votes).

    Built as a literal-expression plan (``session.local_df``, r14
    optimization round, guide §4.1/§6.3): the model is embedded in the
    PLAN, so every broadcast build, parquet write, and reload of the stump
    table is a 1-task JVM-only job with no Python-worker roundtrip — the
    old ``createDataFrame`` form's 32 parallelized slices each paid a
    pickle/worker exchange on EVERY materialization (A/B on the boosting
    family: q_a9_score_model CPU 15.1 → 1.2 s, q_a12 19.9 → 5.6 s,
    q_d7_estimator_scored 15.2 → 7.0 s; identical row signatures).  Model
    tables are ≤ num_rounds rows, so one partition is the correct layout
    at any scale."""
    from ..session import local_df

    return local_df(
        spark,
        [(s.t, s.feature, s.threshold, s.z, list(s.votes)) for s in stumps],
        "t INT, feature INT, threshold DOUBLE, z DOUBLE, votes ARRAY<DOUBLE>",
    )


def update_weights(
    weighted: DataFrame, feats: DataFrame, stump: Stump, spark: SparkSession
) -> DataFrame:
    """A8 as one step of the iterated path: w' = w exp(-y v_l phi(x) - ln Z_t),
    Z_t = ``stump.norm`` (found by :func:`fit_stump`), row-wise with no
    aggregate.  :func:`train` does not call it: its weights are the same
    factors in closed form.  It stays public for ``q_a8_weight_update`` and
    the benchmark's traced copy of ``train`` (perfbench/workloads.py), which
    ROADMAP.md's open item 1 deletes.  With a single earlier stump it
    computes the same floats as :func:`train`'s round-2 weights."""
    phi = feats.filter(F.col("feature") == stump.feature).select(
        "id", _phi(F.col("value"), stump.threshold).alias("phi")
    )
    h = _vote(stump, F.col("class")) * F.col("phi")
    factor = _log_factor(F.col("y"), h, math.log(stump.norm))
    return weighted.join(phi, "id").select(
        "id", "class", "y", (F.col("weight") * F.exp(factor)).alias("weight")
    )


def _hash_sample(fraction: float, seed: int) -> Callable[[int], Column]:
    """``sample_fraction`` as a ``sample_pred``: round t keeps the ids whose
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
    sample_fraction: float | None = None,
    feature_fraction: float | None = None,
    seed: int = 42,
    label_set_col: str | None = None,
    sample_pred: Callable[[int], Column] | None = None,
) -> list[Stump]:
    """A10 (reference: AdaBoostMHAlgorithm.run [R]): the boosting loop.

    Driver-orchestrated like the reference, with no weight state: round t's
    weights D_t(i, l) are a closed-form expression of the literal stumps
    found so far (:func:`_class_weight`), and each stump carries its exact
    normalizer Z_t.  Shape per round — one chain over the persisted
    examples ending in a 1-row collect:

      1. the K weights per row (m·K exp), from H_{t-1}, which grows by one
         stump per round (:func:`_add_stump`);
      2. explode (feature, value);
      3. the search of :func:`fit_stump` (:func:`_best_cut`):
         ``groupBy(feature, value)``, the cut-mass window, one ``min(struct)``.

    No weight frame, join, reweight or localCheckpoint sits between rounds;
    only the examples are persisted.  Compared with the iterated
    :func:`fit_stump` → :func:`update_weights` chain, round 2's weights are
    the same floats; later rounds sum log-factors where the chain
    multiplies factors, so weights differ in the last bits.  A12: optional
    instance/feature subsampling of each stump search.  ``label_set_col``
    names an ARRAY<INT> multi-label column (BoosTexter label sets); None =
    single-label ``label``.

    Instance sampling is one mask inside the search's aggregate:
    ``sample_pred``, a callable ``t -> boolean Column over 'id'``, picks
    the rows round t's stump search sees (VERDICT r10 item 2: pure
    arithmetic that SQL repeats makes sampled training oracle-checkable),
    while Z_t covers every row.  ``sample_fraction`` builds it as
    :func:`_hash_sample` of (id, ``seed`` + t); ``sample_pred`` wins if
    both are set.
    """
    label_set = label_set_col is not None
    label = F.col(label_set_col).alias("labels") if label_set else F.col("label")
    emb = emb.select(F.col("vec_id").alias("id"), "embedding", label).persist()
    m = emb.count()
    if sample_pred is None and sample_fraction is not None:
        sample_pred = _hash_sample(sample_fraction, seed)
    # loop-invariant: feature count never changes between rounds, so the
    # one action that computes it runs once, not once per round
    n_feats = (
        emb.agg(F.max(F.size("embedding"))).collect()[0][0]  # bounded: 1-row max agg
        if feature_fraction is not None
        else None
    )
    sampled = sample_pred is not None
    carry = [f"{c}_{l}" for l in range(num_classes) for c in ("y", "weight")]
    carry += ["kept"] if sampled else []
    stumps: list[Stump] = []
    margins, log_norm = None, 0.0  # H_{t-1} and sum_{s<t} ln Z_s
    for t in range(num_rounds):
        rows = _weight_rows(emb, margins, log_norm, m, num_classes, label_set)
        if sampled:
            rows = rows.withColumn("kept", sample_pred(t))
        rows = _explode(rows, *carry)
        if feature_fraction is not None:
            keep = max(1, int(n_feats * feature_fraction))
            # deterministic per-round rotation of the feature subset
            rows = rows.filter(((F.col("feature") + t) % n_feats) < keep)
        stump = _best_cut(rows, m, num_classes, t, sampled)
        stumps.append(stump)
        margins = _add_stump(margins, stump)
        log_norm += math.log(stump.norm)
    emb.unpersist()
    return stumps


def score_model(emb: DataFrame, stumps_df: DataFrame) -> DataFrame:
    """A9 (reference: AdaBoostMHModel.predict [R]): H(x)[l] = sum_t h_t(x)[l]
    via broadcast stump join + hash agg. Returns (id, class, score, pred)."""
    stump_long = stumps_df.select(
        "t", "feature", "threshold", F.posexplode("votes").alias("class", "v")
    )
    phi = emb.select(F.col("vec_id").alias("id"), "embedding").crossJoin(
        F.broadcast(stumps_df.select("t", "feature", "threshold"))
    ).select(
        "id",
        "t",
        F.when(
            F.element_at("embedding", F.col("feature")) > F.col("threshold"), 1.0
        )
        .otherwise(-1.0)
        .alias("phi"),
    )
    return (
        phi.join(F.broadcast(stump_long.select("t", "class", "v")), "t")
        .groupBy("id", "class")
        .agg(F.sum(F.col("v") * F.col("phi")).alias("score"))
        .select(
            "id",
            "class",
            "score",
            F.when(F.col("score") > 0, 1).otherwise(-1).alias("pred"),
        )
    )


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
