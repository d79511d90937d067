"""Unit tests porting the reference's test scenarios (SURVEY.md §5.1-5.2):
DecisionStumpSuite's hand-built argmin check and AdaBoostMHSuite's
loss-decrease check, plus the sf0.001 end-to-end quality anchor."""

from __future__ import annotations

import dataclasses
import math

import pytest
from pyspark.sql import functions as F

from spark_multiboost_spark.ml import boosting


@pytest.fixture(scope="module")
def stump_unit(spark):
    """FIXTURES.md §2.4: 6 rows, 2 features, K=2; optimal cut is feature 1
    (1-based) at a threshold in (0.3, 0.4)."""
    rows = []
    f0 = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6]
    for i in range(6):
        y0 = 1 if i >= 3 else -1
        rows.append((i + 1, [f0[i], 1.0], 0 if y0 == 1 else 1))
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    )
    weighted = boosting.init_weights(boosting.mlp_long(emb, 2), 6, 2)
    feats = boosting.explode_features(emb)
    return emb, weighted, feats


def test_stump_search_known_argmin(stump_unit):
    emb, weighted, feats = stump_unit
    stump = boosting.fit_stump(weighted, feats, m=6, num_classes=2)
    # separable at feature 1 between 0.3 and 0.4; threshold = last value of
    # the low block = 0.3 (phi: x > theta)
    assert stump.feature == 1
    assert abs(stump.threshold - 0.3) < 1e-12
    # class 0 is positive above the cut -> positive vote; class 1 inverse
    assert stump.votes[0] > 0 and stump.votes[1] < 0
    assert stump.z < 1.0  # better than chance


def _relational_stump(weighted, feats, m, k):
    """The stump search as the separate relational pieces: class weights ->
    Z -> quantized argmin, then the eps-smoothed votes of the argmin cut."""
    cw = boosting.stump_class_weights(weighted, feats)
    best = boosting.best_stump_row(boosting.stump_z(cw)).collect()[0]
    eps = 1.0 / (2.0 * m * k)
    votes = [0.0] * k
    for r in cw.filter(
        (F.col("feature") == best["feature"]) & (F.col("threshold") == best["threshold"])
    ).collect():
        votes[r["class"]] = 0.5 * math.log((r["w_plus"] + eps) / (r["w_minus"] + eps))
    return best["feature"], best["threshold"], best["z"], votes


def _assert_matches_relational(weighted, feats, m, k):
    stump = boosting.fit_stump(weighted, feats, m=m, num_classes=k)
    feature, threshold, z, votes = _relational_stump(weighted, feats, m, k)
    assert (stump.feature, stump.threshold) == (feature, threshold)
    assert abs(stump.z - z) < 1e-12
    assert len(stump.votes) == k
    assert all(abs(a - b) < 1e-12 for a, b in zip(stump.votes, votes)), (
        stump.votes,
        votes,
    )
    return stump


def test_fit_stump_matches_relational_pieces(stump_unit):
    emb, weighted, feats = stump_unit
    _assert_matches_relational(weighted, feats, m=6, k=2)


def test_fit_stump_matches_relational_on_repeated_values(spark):
    """Few distinct values per feature and non-uniform weights, so the
    (feature, value) pre-aggregation merges many rows into each cut."""
    k, m = 3, 40
    rows = [
        (i, [float(i % 4), (i % 3) / 3.0, float((i * 7) % 5)], (i * 5) % 3)
        for i in range(m)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    )
    raw = F.lit(1.0) + ((F.col("id") * 3 + F.col("class")) % 7).cast("double")
    weighted = boosting.mlp_long(emb, k).withColumn("weight", raw / F.lit(4.0 * m * k))
    feats = boosting.explode_features(emb)
    assert feats.select("feature", "value").distinct().count() < m * 3
    _assert_matches_relational(weighted, feats, m, k)


def test_fit_stump_exact_z_tie_picks_smallest_feature(spark):
    """Multi-label rows whose label sets are spread evenly over every value
    block of every feature: each non-trivial cut is strictly worse than the
    constant one, so the degenerate max-threshold cut wins with a z that is
    bit-identical on all three features, and the tiebreak must pick
    feature 1."""
    label_sets = [[0], [0, 1], [1, 2], [0]]
    rows = [
        (4 * b + j, [float(b), float((b + j) % 3), float((2 * b + j) % 3)], ls)
        for b in range(3)
        for j, ls in enumerate(label_sets)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label ARRAY<INT>"
    )
    k, m = 3, len(rows)
    weighted = boosting.init_weights(boosting.mlp_long(emb, k), m, k)
    feats = boosting.explode_features(emb)
    zs = boosting.stump_z(boosting.stump_class_weights(weighted, feats)).collect()
    z_min = min(r["z"] for r in zs)
    tied = sorted(r["feature"] for r in zs if r["z"] == z_min)
    assert tied == [1, 2, 3], "fixture must tie exactly on all features"
    stump = _assert_matches_relational(weighted, feats, m, k)
    assert (stump.feature, stump.threshold) == (1, 2.0)


def test_fit_stump_job_count(stump_unit, spark):
    """Regression guard, counted by Spark itself: one stump search is a
    single chain that ends in one 1-row collect."""
    emb, weighted, feats = stump_unit
    sc = spark.sparkContext
    group = "test_fit_stump_job_count"
    sc.setJobGroup(group, group)
    try:
        boosting.fit_stump(weighted, feats, m=6, num_classes=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs == 6, f"fit_stump launched {n_jobs} Spark jobs"


@pytest.mark.parametrize(
    "params",
    [{}, {"sampleFraction": 0.5}, {"labelCol": "labels"}],
    ids=["plain", "sampled", "label_set"],
)
def test_fit_job_count(spark, params):
    """Regression guard, counted by Spark itself: one AdaBoostMHClassifier
    fit at T=2 launches 11 Spark jobs (19 while train carried a weight
    frame), ``sampleFraction``, a mask inside each stump search's
    aggregate, adds none, an ARRAY<INT> label set in ``labelCol`` adds
    none, and neither does the model's summary."""
    from spark_multiboost_spark.ml.estimator import AdaBoostMHClassifier

    rows = [
        (i, [(i % 9) / 9.0, float(i % 2), ((i * 7) % 5) / 5.0], i % 3, [i % 3, (i + 1) % 3])
        for i in range(30)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT, labels ARRAY<INT>"
    )
    sc = spark.sparkContext
    group = f"test_fit_job_count_{sorted(params)}"
    sc.setJobGroup(group, group)
    try:
        AdaBoostMHClassifier(numRounds=2, numClasses=3, **params).fit(emb)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs == 11, f"fit launched {n_jobs} Spark jobs"


def test_train_feature_fraction_job_count(spark):
    """Regression guard, counted by Spark itself: ``feature_fraction``
    reads the feature count from the one pre-loop action that also counts
    the rows, so a T=2 train launches 11 Spark jobs with it as without it
    (13 while the feature count was an action of its own)."""
    rows = [
        (i, [(i % 9) / 9.0, float(i % 2), ((i * 7) % 5) / 5.0], i % 3) for i in range(30)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    )
    sc = spark.sparkContext
    group = "test_train_feature_fraction_job_count"
    sc.setJobGroup(group, group)
    try:
        boosting.train(spark, emb, num_rounds=2, num_classes=3, feature_fraction=0.5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs == 11, f"train launched {n_jobs} Spark jobs"


def test_train_keeps_no_weight_state(spark, monkeypatch):
    """The weights are a closed-form expression of the stumps found so far:
    train never reweights a frame, never checkpoints one, and persists only
    its examples."""
    rows = [(i, [(i % 9) / 9.0, float(i % 2)], i % 3) for i in range(30)]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    )
    calls = {"update_weights": 0, "localCheckpoint": 0, "persist": 0}

    def counting(name, real):
        def wrapper(*args, **kwargs):
            calls[name] += 1
            return real(*args, **kwargs)

        return wrapper

    monkeypatch.setattr(
        boosting, "update_weights", counting("update_weights", boosting.update_weights)
    )
    frame = type(emb)  # the concrete DataFrame class of this session
    for name in ("localCheckpoint", "persist"):
        monkeypatch.setattr(frame, name, counting(name, getattr(frame, name)))
    stumps = boosting.train(
        spark, emb, num_rounds=3, num_classes=3, sample_pred=boosting._hash_sample(0.5, 42)
    )
    assert len(stumps) == 3
    assert calls == {"update_weights": 0, "localCheckpoint": 0, "persist": 1}


def _iterated(emb, rounds, k):
    """The public iterated path: init_weights -> fit_stump -> update_weights
    per round, carrying the long weight frame."""
    spark = emb.sparkSession
    m = emb.count()
    mlp = boosting.mlp_long(emb, k)
    weighted = boosting.init_weights(mlp, m, k).localCheckpoint(eager=True)
    feats = boosting.explode_features(emb).localCheckpoint(eager=True)
    stumps = []
    for t in range(rounds):
        stumps.append(boosting.fit_stump(weighted, feats, m, k, t))
        weighted = boosting.update_weights(weighted, feats, stumps[-1], spark)
        weighted = weighted.localCheckpoint(eager=True)
    return stumps


def _distinct_frame(spark, m=40, d=3, k=4, seed=5):
    import numpy as np

    rng = np.random.default_rng(seed)
    x = rng.standard_normal((m, d))
    label = (x[:, 0] > 0).astype(int) + 2 * (rng.random(m) < 0.3)
    rows = [(i, [float(v) for v in x[i]], int(label[i])) for i in range(m)]
    return spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    )


def _bits(records):
    """Stumps or summary rows as their field values, each float as its hex
    digits, so == compares bit for bit."""

    def bits(v):
        if isinstance(v, list):
            return [bits(u) for u in v]
        return v.hex() if isinstance(v, float) else v

    return [
        bits(list(dataclasses.astuple(r) if isinstance(r, boosting.Stump) else r))
        for r in records
    ]


def test_label_and_its_set_of_one_train_the_same_model(spark):
    """A single label is the label set of one, told apart by the column's
    type: ``train`` and the estimator fit the same stumps and summary, bit
    for bit, from an INT label and from its ARRAY<INT> singleton."""
    from spark_multiboost_spark.ml.estimator import AdaBoostMHClassifier

    emb = _distinct_frame(spark).withColumn("labels", F.array("label"))
    sets = emb.select("vec_id", "embedding", F.col("labels").alias("label"))
    want = boosting.train(spark, emb, num_rounds=3, num_classes=4)
    assert _bits(boosting.train(spark, sets, num_rounds=3, num_classes=4)) == _bits(want)

    plain = AdaBoostMHClassifier(numRounds=3, numClasses=4).fit(emb)
    got = AdaBoostMHClassifier(numRounds=3, numClasses=4, labelCol="labels").fit(emb)
    assert _bits(got.stumps) == _bits(plain.stumps) == _bits(want)
    assert _bits(got.summary) == _bits(plain.summary)


def test_closed_form_t2_bit_equal_to_iterated(spark):
    """On distinct values every group sum has one addend, and the round-2
    weights are w·exp(-y v phi - ln Z) on both paths: train's stumps equal
    the iterated path's bit for bit."""
    emb = _distinct_frame(spark)
    want = _iterated(emb, 2, 4)
    got = boosting.train(spark, emb, num_rounds=2, num_classes=4)
    assert got == want


@pytest.mark.parametrize("multi", [False, True], ids=["single", "multi"])
def test_closed_form_t5_matches_iterated(spark, multi):
    """Five rounds on repeated values: later rounds sum log-factors where
    the iterated path multiplies factors, so only the last bits move."""
    k, m = 3, 45
    rows = [
        (i, [float(i % 5), ((i * 7) % 4) / 4.0],
         [i % 3, (i // 3) % 3] if multi else (i * 2) % 3)
        for i in range(m)
    ]
    label = "label ARRAY<INT>" if multi else "label INT"
    emb = spark.createDataFrame(
        rows, f"vec_id BIGINT, embedding ARRAY<DOUBLE>, {label}"
    )
    want = _iterated(emb, 5, k)
    got = boosting.train(spark, emb, num_rounds=5, num_classes=k)
    cuts = [(s.feature, s.threshold) for s in got]
    assert cuts == [(s.feature, s.threshold) for s in want]
    for a, b in zip(got, want):
        assert max(abs(u - v) for u, v in zip(a.votes, b.votes)) < 1e-12, (a, b)
        assert abs(a.z - b.z) < 1e-12 and abs(a.norm - b.norm) < 1e-12, (a, b)


def test_norm_is_the_in_plan_normalizer(spark):
    """Stump.norm, built on the driver from the cut's W±, equals the sum
    sum_il w·exp(-y v phi) computed over the weighted frame, every round."""
    emb = _distinct_frame(spark, m=30, d=2, k=3, seed=8)
    stumps = _iterated(emb, 3, 3)
    m = emb.count()
    weighted = boosting.init_weights(boosting.mlp_long(emb, 3), m, 3)
    feats = boosting.explode_features(emb)
    for s in stumps:
        phi = feats.filter(F.col("feature") == s.feature).select(
            "id", F.when(F.col("value") > s.threshold, 1.0).otherwise(-1.0).alias("phi")
        )
        vote = F.element_at(F.array(*[F.lit(v) for v in s.votes]), F.col("class") + 1)
        raw = F.col("weight") * F.exp(-F.col("y") * vote * F.col("phi"))
        in_plan = weighted.join(phi, "id").agg(F.sum(raw)).collect()[0][0]
        assert abs(s.norm - in_plan) < 1e-12, (s.t, s.norm, in_plan)
        weighted = boosting.update_weights(weighted, feats, s, spark)


def test_closed_form_weights_finite_past_exp_overflow(spark):
    """Votes of ±400 on two stumps push |H| to 800, past exp's 709 limit:
    the log-space weights stay finite and sum to 1."""
    import numpy as np

    k = 2
    rows = [(i, [float(i % 4), float(i % 3)], i % 2) for i in range(12)]
    emb = spark.createDataFrame(rows, "id BIGINT, embedding ARRAY<DOUBLE>, label INT")
    x = np.array([r[1] for r in rows])
    y = np.where(np.arange(k)[None, :] == np.array([r[2] for r in rows])[:, None], 1, -1)
    cuts = [(1, 1.0, [400.0, -400.0]), (2, 0.0, [-400.0, 400.0])]
    stumps, w, h = [], np.full(y.shape, 1.0 / y.size), np.zeros(y.shape)
    for t, (f, theta, votes) in enumerate(cuts):
        phi = np.where(x[:, f - 1] > theta, 1.0, -1.0)
        step = np.array(votes)[None, :] * phi[:, None]
        w, h = w * np.exp(-y * step), h + step
        stumps.append(boosting.Stump(t, f, theta, 0.0, votes, norm=float(w.sum())))
        w = w / w.sum()
    assert np.abs(h).max() > 709, "fixture must overflow a plain exp(-yH)"
    got = boosting._weight_rows(
        emb.select("*", boosting._label_set(emb).alias("labels")), stumps, len(rows), k
    ).select(*[f"weight_{l}" for l in range(k)]).collect()
    ws = np.array([list(r) for r in got])
    assert np.isfinite(ws).all()
    assert abs(ws.sum() - 1.0) < 1e-9


def test_empty_search_frame_names_the_round(stump_unit, spark):
    emb, _, _ = stump_unit
    with pytest.raises(ValueError, match="round 0"):
        boosting.train(
            spark, emb, num_rounds=2, num_classes=2,
            sample_pred=lambda t: F.lit(False),
        )


def test_train_rejects_zero_rounds(stump_unit, spark):
    """A model with no stump would score nothing: train refuses it before
    any Spark job, and so does the estimator."""
    from spark_multiboost_spark.ml.estimator import AdaBoostMHClassifier

    emb, _, _ = stump_unit
    sc = spark.sparkContext
    group = "test_train_rejects_zero_rounds"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="num_rounds"):
            boosting.train(spark, emb, num_rounds=0, num_classes=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    with pytest.raises(ValueError, match="num_rounds"):
        AdaBoostMHClassifier(numRounds=0, numClasses=2).fit(emb)


def test_score_model_rejects_empty_stump_table(stump_unit, spark):
    emb, _, _ = stump_unit
    with pytest.raises(ValueError, match="stump table is empty"):
        boosting.score_model(emb, [])


def test_transform_scores_duplicate_ids_row_by_row(stump_unit, spark):
    """transform never reads the id: two input rows that share an id but
    hold different embeddings are two output rows, each scored as its own
    embedding (numpy reference)."""
    import numpy as np

    from perfbench import reference
    from spark_multiboost_spark.ml.estimator import AdaBoostMHClassifier

    emb, _, _ = stump_unit
    model = AdaBoostMHClassifier(numRounds=2, numClasses=2).fit(emb)
    twin = emb.filter(F.col("vec_id") == 4).select(
        "vec_id", F.array(F.lit(0.05), F.lit(2.0)).alias("embedding"), "label"
    )
    rows = model.transform(emb.unionByName(twin)).collect()
    assert len(rows) == 7
    assert sorted(r["vec_id"] for r in rows) == [1, 2, 3, 4, 4, 5, 6]
    stumps = model.stumps_df.orderBy("t").collect()
    twins = [r["scores"] for r in rows if r["vec_id"] == 4]
    assert twins[0] != twins[1], "the twin rows must score differently"
    for r in rows:
        want = reference.score(
            np.array([r["embedding"]]),
            np.array([s.feature for s in stumps]),
            np.array([s.threshold for s in stumps]),
            np.array([s.votes for s in stumps]),
        )[0]
        assert np.abs(np.array(r["scores"]) - want).max() < 1e-12, r
        assert list(r["predicted_labels"]) == list(np.flatnonzero(want > 0)), r


def _one_projection(df) -> None:
    """The optimized and physical plans of ``df`` hold no join, aggregate
    or exchange."""
    qe = df._jdf.queryExecution()
    optimized, physical = qe.optimizedPlan().toString(), qe.executedPlan().toString()
    for node in ("Join", "Aggregate"):
        assert node not in optimized, optimized
    for node in ("Join", "Aggregate", "Exchange"):
        assert node not in physical, physical


_TWO_STUMPS = [
    boosting.Stump(t=0, feature=1, threshold=0.3, z=0.0, votes=[0.5, -0.5]),
    boosting.Stump(t=1, feature=2, threshold=1.0, z=0.0, votes=[0.25, 0.25]),
]


def test_score_model_plan_is_one_projection(stump_unit, spark, tmp_path):
    """Scoring a parquet-read frame is a scan and a projection that adds the
    K margins to each row."""
    emb, _, _ = stump_unit
    emb.write.parquet(str(tmp_path / "emb"))
    scored = boosting.score_model(spark.read.parquet(str(tmp_path / "emb")), _TWO_STUMPS)
    _one_projection(scored)
    assert scored.columns == emb.columns + ["scores"]
    assert scored.count() == 6


def test_transform_plan_is_one_projection(stump_unit, spark, tmp_path):
    """transform of a parquet-read frame is the same projection: no id
    pivot and no join back to the input."""
    from spark_multiboost_spark.ml.estimator import AdaBoostMHModel

    emb, _, _ = stump_unit
    emb.write.parquet(str(tmp_path / "emb"))
    model = AdaBoostMHModel(_TWO_STUMPS)
    out = model.transform(spark.read.parquet(str(tmp_path / "emb")))
    _one_projection(out)
    assert out.count() == 6


def _jobs_in_group(spark, group: str, action) -> int:
    """Spark jobs that ``action()`` launches, counted in a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_transform_job_count(stump_unit, spark):
    """Regression guard, counted by Spark itself: transforming and
    collecting a persisted frame launches 1 Spark job, the result's."""
    from spark_multiboost_spark.ml.estimator import AdaBoostMHModel

    emb, _, _ = stump_unit
    model = AdaBoostMHModel(_TWO_STUMPS)
    df = emb.persist()
    df.count()
    try:
        jobs = _jobs_in_group(
            spark,
            "test_transform_job_count",
            lambda: model.transform(df).select("vec_id", "scores", "predicted_labels").collect(),
        )
    finally:
        df.unpersist()
    assert jobs == 1, f"transform launched {jobs} Spark jobs"


def test_transform_runs_no_job(stump_unit, spark):
    """transform is lazy: the model holds its stumps, so building the scored
    frame runs no Spark job before an action."""
    from spark_multiboost_spark.ml.estimator import AdaBoostMHModel

    emb, _, _ = stump_unit
    model = AdaBoostMHModel(_TWO_STUMPS)
    jobs = _jobs_in_group(spark, "test_transform_runs_no_job", lambda: model.transform(emb))
    assert jobs == 0, f"transform launched {jobs} Spark jobs before an action"


def test_transform_keeps_columns_without_id(spark):
    """A frame with no id column transforms: its columns pass through in
    order, an ``embedding`` column that is not featuresCol included, and
    ``scores`` and ``predicted_labels`` follow."""
    from spark_multiboost_spark.ml.estimator import AdaBoostMHModel

    df = spark.createDataFrame(
        [("a", [0.1, 2.0], 7), ("b", [0.9, 0.5], 8)],
        "name STRING, x ARRAY<DOUBLE>, embedding INT",
    )
    model = AdaBoostMHModel(_TWO_STUMPS)
    out = model.transform(df, {model.featuresCol: "x"})
    assert out.columns == ["name", "x", "embedding", "scores", "predicted_labels"]
    rows = sorted(out.collect(), key=lambda r: r["name"])
    assert [r["embedding"] for r in rows] == [7, 8]
    # row a: phi_1 = -1, phi_2 = +1; row b: phi_1 = +1, phi_2 = -1
    assert [list(r["scores"]) for r in rows] == [[-0.25, 0.75], [0.25, -0.75]]
    assert [list(r["predicted_labels"]) for r in rows] == [[1], [0]]


def _codegen(df) -> list[tuple[str, int]]:
    """(source, largest method's bytecode size) of every whole-stage codegen
    subtree in the physical plan of ``df``, with each double literal in the
    source written as ``0D``; the size is -1 when the subtree fails to
    compile (Janino's 64 KB method limit)."""
    import re

    debug = df.sparkSession._jvm.org.apache.spark.sql.execution.debug.package
    seq = debug.codegenStringSeq(df._jdf.queryExecution().executedPlan())
    return [
        (
            re.sub(r"-?\d+\.\d+(E-?\d+)?D", "0D", seq.apply(i)._2()),
            seq.apply(i)._3().maxMethodCodeSize(),
        )
        for i in range(seq.size())
    ]


def test_margin_code_size_is_constant_in_t(spark):
    """H(x) is one expression over a literal stump array: the transform of a
    100-stump model and the weights after 100 stumps (K = 10) generate the
    same code as with 2 stumps, where an unrolled sum outgrew the 64 KB
    method limit and fell back to interpreted code.  The 100-stump scores
    equal numpy's; votes are multiples of 1/8, so every sum is exact."""
    import numpy as np

    from perfbench import reference
    from spark_multiboost_spark.ml.estimator import AdaBoostMHModel

    k, d, m = 10, 6, 200
    rng = np.random.default_rng(7)
    x = rng.standard_normal((m, d))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row], i % k) for i, row in enumerate(x)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT",
    )
    stumps = [
        boosting.Stump(
            t, int(rng.integers(1, d + 1)), float(rng.standard_normal()), 0.0,
            [float(v) for v in rng.integers(-800, 801, k) / 8], norm=1.0 + rng.random(),
        )
        for t in range(100)
    ]

    def transform(n):
        model = AdaBoostMHModel(stumps[:n])
        return model.transform(emb)

    def weights(n):
        rows = emb.select(
            F.col("vec_id").alias("id"), "embedding", boosting._label_set(emb).alias("labels")
        )
        return boosting._weight_rows(rows, stumps[:n], m, k)

    for build in (transform, weights):
        small, large = _codegen(build(2)), _codegen(build(100))
        assert [size for _, size in large] == [size for _, size in small]
        assert all(size > 0 for _, size in large), (build.__name__, large)
        assert large == small, build.__name__
    want = reference.score(
        x,
        np.array([s.feature for s in stumps]),
        np.array([s.threshold for s in stumps]),
        np.array([s.votes for s in stumps]),
    )
    rows = sorted(transform(100).collect(), key=lambda r: r["vec_id"])
    assert np.abs(np.array([r["scores"] for r in rows]) - want).max() < 1e-12
    assert [list(r["predicted_labels"]) for r in rows] == [
        list(np.flatnonzero(s > 0)) for s in want
    ]


def test_margin_build_is_constant_in_t(spark):
    """The stump list reaches Spark as one folded literal: building (not
    running) ``score_model`` over 100 stumps takes as many py4j commands as
    over 2 (K = 10), and the optimized plan has evaluated the ``from_json``
    away.  Garbage-collection messages are not counted: when they are sent
    depends on Python's collector, not on the build."""
    import gc

    k = 10
    emb = spark.createDataFrame(
        [(i, [0.1 * i, 1.0 - 0.1 * i], i % k) for i in range(4)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT",
    )
    stumps = [
        boosting.Stump(t, 1 + t % 2, 0.05 * t, 0.0, [0.125 * ((t + l) % 7) for l in range(k)])
        for t in range(100)
    ]
    client = spark.sparkContext._gateway._gateway_client

    def commands(n):
        gc.collect()
        sent = []
        real = client.send_command

        def counting(command, *args, **kwargs):
            sent.append(command)
            return real(command, *args, **kwargs)

        client.send_command = counting
        try:
            scored = boosting.score_model(emb, stumps[:n])
        finally:
            del client.send_command
        return sum(not c.startswith("m\nd\n") for c in sent), scored

    commands(2)  # first-call lookups are not part of the comparison
    (small, _), (large, scored) = commands(2), commands(100)
    assert small == large, f"building H(x) took {small} py4j commands at T = 2, {large} at T = 100"
    plan = scored._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan and "JsonToStructs" not in plan, plan


def test_stumps_to_df_round_trips_exactly(spark):
    """The stump table holds the stumps' values bit for bit, NaN, ±inf,
    -0.0, the smallest subnormal, the largest double and numpy scalars
    included; an empty list is an empty table with the same five columns;
    a collect is one job of one task."""
    import struct

    import numpy as np

    nan, inf = float("nan"), float("inf")
    stumps = [
        boosting.Stump(0, 1, nan, 0.5, [inf, -0.0, 5e-324]),
        boosting.Stump(1, 2, -inf, nan, [1.7976931348623157e308, nan, -5e-324]),
        boosting.Stump(2, 3, -0.0, 5e-324, [-inf, 0.1, 1 / 3]),
        boosting.Stump(
            np.int64(3), np.int64(4), np.float64(0.1), np.float64(2 / 3),
            list(np.array([-2.5, 1e-300, 7.0])),
        ),
    ]

    def bits(t, feature, threshold, z, votes):
        return struct.pack(f"<2i{2 + len(votes)}d", t, feature, threshold, z, *votes)

    group = "test_stumps_to_df_round_trips_exactly"
    got = []
    jobs = _jobs_in_group(
        spark, group, lambda: got.extend(boosting.stumps_to_df(spark, stumps).collect())
    )
    assert [bits(*r) for r in got] == [
        bits(int(s.t), int(s.feature), s.threshold, s.z, s.votes) for s in stumps
    ]
    assert jobs == 1, f"collecting the stump table launched {jobs} Spark jobs"
    tracker = spark.sparkContext.statusTracker()
    (job,) = tracker.getJobIdsForGroup(group)
    assert [tracker.getStageInfo(st).numTasks for st in tracker.getJobInfo(job).stageIds] == [1]

    empty = boosting.stumps_to_df(spark, [])
    assert empty.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema] == [
        ("t", "int"), ("feature", "int"), ("threshold", "double"), ("z", "double"),
        ("votes", "array<double>"),
    ]


def test_train_rejects_empty_input(stump_unit, spark):
    """An input with no rows has no weights (1/(mK) with m = 0): train
    names it after its pre-loop action, and so does the estimator."""
    from spark_multiboost_spark.ml.estimator import AdaBoostMHClassifier

    emb, _, _ = stump_unit
    empty = emb.filter(F.lit(False))
    with pytest.raises(ValueError, match="train: the input has no rows"):
        boosting.train(spark, empty, num_rounds=2, num_classes=2)
    with pytest.raises(ValueError, match="train: the input has no rows"):
        AdaBoostMHClassifier(numRounds=2, numClasses=2).fit(empty)


def test_weight_update_normalizes(stump_unit, spark):
    emb, weighted, feats = stump_unit
    stump = boosting.fit_stump(weighted, feats, m=6, num_classes=2)
    new_w = boosting.update_weights(weighted, feats, stump, spark)
    total = new_w.agg(F.sum("weight")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9


def test_training_learns_separable_data(spark):
    """On separable data (label = which third of feature 1's range) the
    booster must drive training Hamming loss well below the 1/K baseline —
    the AdaBoostMHSuite scenario [R] (reconstructed, SURVEY §5.1)."""
    k = 3
    rows = []
    for i in range(90):
        f1 = (i % 9) / 9.0  # 0.0 .. 0.888
        label = int(f1 * 3)  # thirds -> 0,1,2
        rows.append((i, [f1, float((i * 7) % 5) / 5.0], label))
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    )
    stumps = boosting.train(spark, emb, num_rounds=6, num_classes=k)
    scored = boosting._explode_margins(boosting.score_model(emb, stumps))
    mlp = boosting.mlp_long(emb, k)
    loss = boosting.hamming_loss(scored, mlp).collect()[0]["hamming_loss"]
    assert loss < 1.0 / k / 2  # far below the all-negative baseline (1/3)


def test_summary_bounds_training_loss(spark):
    """The fitted model's per-round summary carries each round's normalizer,
    and the training Hamming loss is at most prod_t norm_t (Schapire &
    Singer 1999), on the separable fixture above."""
    from spark_multiboost_spark.ml.estimator import AdaBoostMHClassifier

    k = 3
    rows = [
        (i, [(i % 9) / 9.0, float((i * 7) % 5) / 5.0], int((i % 9) / 9.0 * 3))
        for i in range(90)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    )
    model = AdaBoostMHClassifier(numRounds=6, numClasses=k).fit(emb)
    summary = model.summary
    assert [r.t for r in summary] == list(range(6))
    # summary and the stump table are views of the fitted stump list
    table = model.stumps_df.orderBy("t").collect()
    assert len(table) == len(summary) == len(model.stumps)
    for s, r, row in zip(model.stumps, summary, table):
        assert (r.t, r.feature, r.threshold, r.z, r.norm) == (s.t, s.feature, s.threshold, s.z, s.norm)
        assert (row.t, row.feature, row.threshold, row.z, list(row.votes)) == (
            s.t, s.feature, s.threshold, s.z, s.votes
        )
    assert all(0 < r.norm <= 1 + 1e-12 for r in summary), summary
    scored = (
        model.transform(emb).select("label", "predicted_labels").collect()
    )
    wrong = sum(
        (l == r.label) != (l in r.predicted_labels) for r in scored for l in range(k)
    )
    assert wrong / (len(rows) * k) <= math.prod(r.norm for r in summary)


def test_training_on_fixture_embeddings(spark, sf_dir):
    """Fixture labels are noise w.r.t. embeddings (verified: 5-NN label
    agreement 0.089 ~= chance 0.1), so the all-negative state (Hamming
    loss = 1/K = 0.1) is the optimum; training must reach/hold it and not
    diverge."""
    from spark_multiboost_spark.session import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    mlp = boosting.mlp_long(emb, 10)
    stumps = boosting.train(spark, emb, num_rounds=3, num_classes=10)
    scored = boosting._explode_margins(boosting.score_model(emb, stumps))
    loss = boosting.hamming_loss(scored, mlp).collect()[0]["hamming_loss"]
    assert loss <= 0.1 + 1e-9


def test_train_z_bound_monotone(spark, sf_dir):
    """Training error bound prod_t Z_t (Schapire-Singer) must shrink."""
    from spark_multiboost_spark.session import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    stumps = boosting.train(spark, emb, num_rounds=3, num_classes=10)
    zs = [s.z for s in stumps]
    assert all(z < 1.0 for z in zs)
    bound = math.prod(zs)
    assert bound < zs[0]


def test_estimator_pipeline(spark, sf_dir):
    from spark_multiboost_spark.ml.estimator import AdaBoostMHClassifier
    from spark_multiboost_spark.session import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    clf = AdaBoostMHClassifier(numRounds=2, numClasses=10)
    model = clf.fit(emb)
    out = model.transform(emb)
    assert "scores" in out.columns and "predicted_labels" in out.columns
    row = out.filter(F.col("vec_id") == 0).collect()[0]
    assert len(row["scores"]) == 10


def test_a12_sampled_training_deterministic(spark, sf_dir):
    """A12 regression lock (VERDICT r8 item 7): sampled training with a
    fixed seed is deterministic (each round keeps the ids whose xxhash64
    with seed + t is in the sampled fraction — a pure function of the id),
    so the exact chosen stumps are pinned here — DuckDB has no Spark
    xxhash64 to replay it, but the choice must never drift across Spark
    versions/partitionings unnoticed."""
    from spark_multiboost_spark.session import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    runs = [
        boosting.train(
            spark, emb, num_rounds=2, num_classes=10,
            sample_pred=boosting._hash_sample(0.5, 42),
        )
        for _ in range(2)
    ]
    picks = [[(s.feature, s.threshold) for s in stumps] for stumps in runs]
    assert picks[0] == picks[1], "seeded sampled training must be repeatable"
    # pin the exact stumps at sf0.001 (the regression lock itself) — what
    # matters is that the (feature, threshold) pair is STABLE, not what it is
    if sf_dir.rstrip("/").endswith("sf0.001"):
        assert picks[0] == [
            (1, 0.3503933548927307),
            (11, -0.024793246760964394),
        ], f"sampled-training stump drift: {picks[0]}"


def test_a12_fraction_sampler_binds(spark, sf_dir):
    """``_hash_sample`` non-vacuity: each round's hash predicate keeps a
    strict subset of the ids near the fraction, the two rounds keep
    different ids, and the sampler takes any id type — a STRING id column
    trains through the estimator, and BIGINT ids near 2^62 train where
    multiplying the id by a hash constant would overflow under ANSI."""
    from spark_multiboost_spark.ml.estimator import AdaBoostMHClassifier
    from spark_multiboost_spark.session import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    ids = emb.select(F.col("vec_id").alias("id"))
    m = ids.count()
    pred = boosting._hash_sample(0.5, 42)
    picked = [ids.filter(pred(t)).count() for t in range(2)]
    # 4 binomial standard deviations around m/2
    assert all(abs(p - m / 2) < 2 * math.sqrt(m) for p in picked), (picked, m)
    assert ids.filter(pred(0) != pred(1)).count() > 0, "rounds keep the same ids"

    str_emb = emb.withColumn("vec_id", F.concat(F.lit("doc-"), F.col("vec_id")))
    clf = AdaBoostMHClassifier(numRounds=2, numClasses=10, sampleFraction=0.5)
    assert clf.fit(str_emb).transform(str_emb).count() == m
    big = emb.withColumn("vec_id", F.col("vec_id") + F.lit(2**62))
    stumps = boosting.train(
        spark, big, num_rounds=2, num_classes=10, sample_pred=boosting._hash_sample(0.5, 42)
    )
    assert len(stumps) == 2


def test_a12_hash_sample_binds(spark, sf_dir):
    """A12 exact-oracle twin (VERDICT r10 item 2) non-vacuity: the
    multiplicative-congruential selector must pick a STRICT subset each
    round (neither empty nor everything — an all-pass predicate would make
    the 'sampled' oracle a plain D7 rerun), the two rounds must select
    DIFFERENT id sets, and the hash-sampled model must differ from the
    unsampled one somewhere (stump or vote) so the oracle exercises the
    sampling path."""
    from spark_multiboost_spark.ml.queries import (
        D7_FEATS,
        D7_ROUNDS,
        K,
        _a12_sample_pred,
    )
    from spark_multiboost_spark.session import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    ids = emb.select(F.col("vec_id").alias("id"))
    m = ids.count()
    picked = [ids.filter(_a12_sample_pred(t)).count() for t in range(D7_ROUNDS)]
    assert all(0 < p < m for p in picked), f"sampler degenerate: {picked} of {m}"
    sym_diff = (
        ids.filter(_a12_sample_pred(0) != _a12_sample_pred(1)).count()
    )
    assert sym_diff > 0, "rounds select identical id sets — STEP rotation inert"

    emb4 = emb.withColumn("embedding", F.slice("embedding", 1, D7_FEATS))
    sampled = boosting.train(
        spark, emb4, num_rounds=D7_ROUNDS, num_classes=K,
        sample_pred=_a12_sample_pred, feature_fraction=3 / D7_FEATS,
    )
    full = boosting.train(spark, emb4, num_rounds=D7_ROUNDS, num_classes=K)
    assert [(s.feature, s.threshold, s.votes) for s in sampled] != [
        (s.feature, s.threshold, s.votes) for s in full
    ], "hash-sampled training identical to full training — sampling inert"


def test_multilabel_training_learns_separable_sets(spark):
    """True multi-label training (VERDICT r8 item 3): rows carry label SETS
    {third, third+3} over K=6; separable at feature 1, so multi-label
    Hamming loss must fall well below the all-negative baseline (2/6)."""
    rows = []
    for i in range(90):
        f1 = (i % 9) / 9.0
        third = int(f1 * 3)
        rows.append((i, [f1, float((i * 7) % 5) / 5.0], [third, third + 3]))
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label ARRAY<INT>"
    )
    stumps = boosting.train(spark, emb, num_rounds=6, num_classes=6)
    scored = boosting._explode_margins(boosting.score_model(emb, stumps))
    mlp = boosting.mlp_long(emb, 6)
    loss = boosting.hamming_loss(scored, mlp).collect()[0]["hamming_loss"]
    assert loss < 2.0 / 6 / 2  # far below the all-negative baseline


def test_multilabel_estimator_predicts_sets(spark):
    """An ARRAY<INT> ``labelCol`` flows through the Estimator API: on two-label
    sets over distinct values, the fitted stumps equal the numpy reference's
    (cut exact, votes within 1e-9), and ``predicted_labels`` are the classes
    the reference's margins score positive."""
    import numpy as np

    from perfbench import reference
    from spark_multiboost_spark.ml.estimator import AdaBoostMHClassifier

    m, d, k, rounds = 60, 3, 4, 3
    rng = np.random.default_rng(11)
    x = rng.standard_normal((m, d))
    first = (x[:, 0] > 0).astype(int) + 2 * (x[:, 1] > 0)
    second = (first + 1 + (rng.random(m) < 0.5)) % k
    y = -np.ones((m, k), dtype=int)
    y[np.arange(m), first] = y[np.arange(m), second] = 1
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]], [int(first[i]), int(second[i])]) for i in range(m)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>, labels ARRAY<INT>",
    )
    model = AdaBoostMHClassifier(numRounds=rounds, numClasses=k, labelCol="labels").fit(emb)
    want = reference.adaboost_mh(x, y, rounds)
    assert reference.stump_mismatches(model.stumps, want) == []
    scores = reference.score(
        x,
        np.array([s["feature"] for s in want]),
        np.array([s["threshold"] for s in want]),
        np.array([s["votes"] for s in want]),
    )
    assert np.abs(scores).min() > 1e-6, "fixture must keep every margin off 0"
    rows = model.transform(emb).select("vec_id", "scores", "predicted_labels").collect()
    assert reference.score_mismatches(rows, np.arange(m), scores) == []


def test_a1_text_parser_roundtrip_exact(spark, sf_dir):
    """The text serialize->parse path must reproduce every vector
    bit-exactly (Spark's double<->string cast is round-trip-safe)."""
    from spark_multiboost_spark.registry import all_queries

    row = all_queries()["q_a1_text_parser"].fn(spark, sf_dir).collect()[0]
    assert row["n_parsed"] > 0
    assert row["n_mismatch"] == 0


def test_a1_sparse_parser_roundtrip_exact(spark, sf_dir):
    """The sparse (libsvm-style idx:val -> MAP<INT,DOUBLE> -> zero-filled
    dense) path must also round-trip bit-exactly, and must actually
    exercise sparsity (non-zero entry count strictly between 0 and
    n_parsed * dim)."""
    from spark_multiboost_spark.registry import all_queries

    row = all_queries()["q_a1_sparse_parser"].fn(spark, sf_dir).collect()[0]
    assert row["n_parsed"] > 0
    assert row["n_mismatch"] == 0
    assert 0 < row["n_sparse_entries"] < row["n_parsed"] * 64


def test_als_recommendations_shape(spark, sf_dir):
    from spark_multiboost_spark.registry import all_queries

    pdf = all_queries()["q_a16_als_recommend"].fn(spark, sf_dir).toPandas()
    assert len(pdf) == 20
    assert pdf["user"].is_unique
    # implicit-feedback confidence scores are positive for observed users
    assert (pdf["score"] > 0).all()
    assert pdf["top_item"].between(0, 49).all()
