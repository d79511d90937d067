"""Property-based tests (hypothesis) for the invariants the engine's
correctness story leans on:

1. the exact-decimal aggregate path is accumulation-order independent —
   the same sum at ANY partitioning (this is what makes results
   reproducible on a cluster);
2. the salted two-stage prefix-sum equals the global prefix-sum on
   arbitrary weighted frames (not just the fixtures), and both equal the
   cut masses of a numpy cumsum;
3. the blocked-matmul scorer's strict left-to-right accumulation is
   bit-identical to a scalar sequential loop (the DuckDB/Catalyst fold).
"""

from __future__ import annotations

from decimal import Decimal

import numpy as np
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from spark_multiboost_spark.functions.parity import dsum
from spark_multiboost_spark.functions.similarity import _seq_dot_block, _seq_sq_norm

_vals = st.lists(
    st.floats(
        min_value=-1000,
        max_value=1000,
        allow_nan=False,
        allow_infinity=False,
        width=32,
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None)
@given(vals=_vals, nparts=st.integers(min_value=1, max_value=7))
def test_dsum_order_independent(spark, vals, nparts):
    # quantize inputs to 6dp like the fixture measures
    vals = [round(v, 6) for v in vals]
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(nparts)
    got = df.agg(dsum("x").alias("s")).collect()[0]["s"]
    want = float(sum(Decimal(f"{v:.6f}") for v in vals))
    assert got == want, (got, want, nparts)


@settings(max_examples=6, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 9),                      # id
            st.integers(0, 2),                      # class
            st.sampled_from([1, -1]),               # y
            st.floats(0.001, 1.0, allow_nan=False), # weight
            st.floats(-5, 5, allow_nan=False),      # feature value
        ),
        min_size=3,
        max_size=25,
    )
)
def test_salted_prefix_equals_global(spark, data):
    from spark_multiboost_spark.ml import boosting

    weighted = spark.createDataFrame(
        [(i, c, y, round(w, 6)) for i, c, y, w, _ in data],
        "id bigint, class int, y int, weight double",
    ).dropDuplicates(["id", "class"])
    feats = spark.createDataFrame(
        [(i, 1, round(v, 6)) for i, _, _, _, v in data],
        "id bigint, feature int, value double",
    ).dropDuplicates(["id", "feature"])
    cols = ["feature", "threshold", "class", "w_plus", "w_minus"]

    def norm(df):
        return sorted(
            (r["feature"], round(r["threshold"], 6), r["class"],
             round(r["w_plus"], 9), round(r["w_minus"], 9))
            for r in df.select(*cols).collect()
        )

    plain = norm(boosting.stump_class_weights(weighted, feats))
    salted = norm(boosting.stump_class_weights_salted(weighted, feats, n_buckets=3))
    assert plain == salted


def _numpy_cut_masses(x, y, w):
    """W_+ / W_- per (feature, class, threshold) from sorted distinct values
    and cumsums: x is (n, d) feature values, y and w are (n, K) labels in
    {+1, -1} and weights; phi = +1 above the threshold."""
    out = {}
    for j in range(x.shape[1]):
        thr, at = np.unique(x[:, j], return_inverse=True)
        for l in range(y.shape[1]):
            pos = np.bincount(at, np.where(y[:, l] == 1, w[:, l], 0.0), len(thr))
            neg = np.bincount(at, np.where(y[:, l] == -1, w[:, l], 0.0), len(thr))
            # mass at or below each cut, and above it
            lo_p, lo_m = np.cumsum(pos), np.cumsum(neg)
            hi_p, hi_m = pos.sum() - lo_p, neg.sum() - lo_m
            for v, wp, wm in zip(thr, hi_p + lo_m, hi_m + lo_p):
                out[(j + 1, l, float(v))] = (wp, wm)
    return out


@settings(max_examples=6, deadline=None)
@given(
    k=st.integers(3, 5),
    rows=st.lists(
        st.tuples(
            st.lists(st.integers(0, 3), min_size=2, max_size=2),  # value levels
            st.lists(st.sampled_from([1, -1]), min_size=5, max_size=5),  # y
            st.lists(st.floats(0.01, 1.0), min_size=5, max_size=5),  # weight
        ),
        min_size=5,
        max_size=24,
    ),
    n_buckets=st.integers(1, 8),
)
def test_class_weights_match_numpy_cumsum(spark, k, rows, n_buckets):
    """The cut-mass kernel against an independent numpy reference, on frames
    with repeated values (4 levels per feature), non-uniform weights and
    K >= 3: stump_class_weights and its salted form within 1e-12."""
    from spark_multiboost_spark.ml import boosting

    x = np.array([[0.7 * (v - 1.5) for v in lv] for lv, _, _ in rows])
    y = np.array([ys[:k] for _, ys, _ in rows])
    w = np.array([ws[:k] for _, _, ws in rows])
    n = len(rows)
    weighted = spark.createDataFrame(
        [(i, l, int(y[i, l]), float(w[i, l])) for i in range(n) for l in range(k)],
        "id bigint, class int, y int, weight double",
    )
    feats = spark.createDataFrame(
        [(i, j + 1, float(x[i, j])) for i in range(n) for j in range(2)],
        "id bigint, feature int, value double",
    )
    want = _numpy_cut_masses(x, y, w)
    for cw in (
        boosting.stump_class_weights(weighted, feats),
        boosting.stump_class_weights_salted(weighted, feats, n_buckets=n_buckets),
    ):
        got = {
            (r["feature"], r["class"], r["threshold"]): (r["w_plus"], r["w_minus"])
            for r in cw.collect()
        }
        assert got.keys() == want.keys()
        for key, (wp, wm) in want.items():
            assert abs(got[key][0] - wp) < 1e-12 and abs(got[key][1] - wm) < 1e-12, (
                key,
                got[key],
                (wp, wm),
            )


@settings(max_examples=30, deadline=None)
@given(
    b=st.integers(1, 6),
    q=st.integers(1, 4),
    d=st.integers(1, 16),
    seed=st.integers(0, 2**31 - 1),
)
def test_seq_matmul_bit_identical_to_scalar_loop(b, q, d, seed):
    rng = np.random.RandomState(seed)
    C = rng.randn(b, d)
    Q = rng.randn(q, d)
    S = _seq_dot_block(C, Q)
    for i in range(b):
        for j in range(q):
            acc = 0.0
            for k in range(d):
                acc = acc + C[i, k] * Q[j, k]
            assert S[i, j] == acc  # bitwise, not approx
    n = _seq_sq_norm(C)
    for i in range(b):
        acc = 0.0
        for k in range(d):
            acc = acc + C[i, k] * C[i, k]
        assert n[i] == acc


def test_priority_window_names_all_registered():
    # _PRIORITY names not in the registry are silently ignored — a typo
    # would silently drop a query from the driver's correctness window.
    from spark_multiboost_spark.registry import _PRIORITY, all_queries

    registered = set(all_queries())
    missing = [n for n in _PRIORITY if n not in registered]
    assert not missing, f"_PRIORITY names not registered: {missing}"


def test_join_strategy_independence(spark, sf_dir):
    # the same join must return identical rows under broadcast, sort-merge,
    # and shuffle-hash strategies — the planner may pick any of them at
    # scale, so results must not depend on the choice
    import pyspark.sql.functions as F

    from spark_multiboost_spark.session import load_tables

    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_quantity")
    o = t["orders"].select("o_orderkey", "o_orderpriority")

    def run(hint):
        j = li.join(o.hint(hint), F.col("l_orderkey") == F.col("o_orderkey"))
        return sorted(
            map(
                str,
                j.groupBy("o_orderpriority")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n"),
                    F.sum(F.col("l_quantity").cast("decimal(18,6)"))
                    .cast("double")
                    .alias("q"),
                )
                .collect(),
            )
        )

    res = {h: run(h) for h in ("broadcast", "merge", "shuffle_hash")}
    assert res["broadcast"] == res["merge"] == res["shuffle_hash"]


@given(
    st.lists(
        st.floats(
            min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=64,
    ),
    st.lists(
        st.floats(
            min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=64,
    ),
)
@settings(max_examples=20, deadline=None)
def test_packed_hamming_equals_fold(spark, a, b):
    """vector.sign_bits + bit_count(xor) must equal the per-element
    sign-mismatch fold for any pair of equal-length vectors (the packed
    path replaced the interpreted HOF fold in the 1-bit family — this is
    the equivalence that swap relies on)."""
    from spark_multiboost_spark.functions.vector import hamming_packed, sign_bits

    n = min(len(a), len(b))
    a, b = a[:n], b[:n]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    packed = df.select(
        hamming_packed(sign_bits(F.col("a")), sign_bits(F.col("b"))).alias("h")
    ).collect()[0]["h"]
    expected = sum(1 for x, y in zip(a, b) if (x >= 0) != (y >= 0))
    assert packed == expected


def test_sign_bits_rejects_wide_vectors(spark):
    """sign_bits must FAIL LOUDLY above 64 dims: JVM shiftleft wraps shift
    amounts mod 64, so without the guard a 65-dim vector would silently
    alias bit 64 onto bit 0 and produce wrong Hamming distances (ADVICE r6).
    At exactly 64 dims it must still work."""
    import pytest

    from spark_multiboost_spark.functions.vector import sign_bits

    ok = spark.createDataFrame([([1.0] * 64,)], "a array<double>")
    assert ok.select(sign_bits(F.col("a")).alias("s")).collect()[0]["s"] == -1
    wide = spark.createDataFrame([([1.0] * 65,)], "a array<double>")
    with pytest.raises(Exception, match="sign_bits"):
        wide.select(sign_bits(F.col("a")).alias("s")).collect()
