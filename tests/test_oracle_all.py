"""Parametrized oracle check: every registered SQL query vs DuckDB at
sf0.001 (the driver does the same at sf0.01).  The boosting rows-only
queries, whose training loop has no SQL twin, are checked against the
numpy AdaBoost.MH of ``perfbench/reference.py`` instead."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from perfbench import reference
from spark_multiboost_spark.registry import all_queries
from tests.harness import compare, run_rows_only

_ALL = all_queries()
_SQL = sorted(n for n, q in _ALL.items() if q.oracle is not None)
_ROWS_ONLY = sorted(n for n, q in _ALL.items() if q.oracle is None)

K = 10  # the class count every boosting query trains with


@pytest.mark.parametrize("name", _SQL)
def test_oracle(spark, sf_dir, name):
    compare(spark, name, sf_dir)


def _fixture(sf_dir: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The embeddings table as numpy: features (m, d), y (m, K) in {+1, -1}
    and the labels."""
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    label = emb["label"].to_numpy()
    y = np.where(np.arange(K)[None, :] == label[:, None], 1, -1)
    return np.array(emb["embedding"].tolist(), dtype=float), y, label


def _check_train_loop(got: pd.DataFrame, sf_dir: str) -> None:
    """The T=3 cuts of the numpy reference; threshold and z are rounded to
    6 dp by the query."""
    x, y, _ = _fixture(sf_dir)
    want = reference.adaboost_mh(x, y, 3)
    got = got.sort_values("t")
    assert list(got["t"]) == [0, 1, 2]
    for g, w in zip(got.itertuples(), want):
        assert g.feature == w["feature"], (g, w)
        assert abs(g.threshold - w["threshold"]) < 1e-6, (g, w)
        assert abs(g.z - w["z"]) < 1e-6, (g, w)


def _check_estimator_end_to_end(got: pd.DataFrame, sf_dir: str) -> None:
    """Per label, the row count and the number of predicted labels of the
    numpy T=3 model."""
    x, y, label = _fixture(sf_dir)
    stumps = reference.adaboost_mh(x, y, 3)
    scores = reference.score(
        x,
        np.array([s["feature"] for s in stumps]),
        np.array([s["threshold"] for s in stumps]),
        np.array([s["votes"] for s in stumps]),
    )
    n_pred = (scores > 0).sum(axis=1)
    want = pd.DataFrame({"label": label, "n_pred": n_pred}).groupby("label")
    assert got.sort_values("label")["label"].tolist() == sorted(set(label))
    got = got.set_index("label")
    for lab, rows in want:
        assert got.loc[lab, "n"] == len(rows), lab
        assert got.loc[lab, "total_predictions"] == rows["n_pred"].sum(), lab


def _check_two_rounds(got: pd.DataFrame, sf_dir: str) -> None:
    assert sorted(got["t"]) == [0, 1]


def _check_feature_rotation(got: pd.DataFrame, sf_dir: str) -> None:
    """feature_fraction=0.25 of 64 dims: round t searches the 16 features
    with (feature + t) mod 64 < 16."""
    _check_two_rounds(got, sf_dir)
    assert all((r.feature + r.t) % 64 < 16 for r in got.itertuples()), got


_ROWS_CHECKS = {
    "q_a10_train_loop": _check_train_loop,
    "q_d7_estimator_end_to_end": _check_estimator_end_to_end,
    "q_a12_train_sampled": _check_two_rounds,
    "q_a12_train_feature_sampled": _check_feature_rotation,
}


def test_rows_checks_name_rows_only_queries():
    assert set(_ROWS_CHECKS) <= set(_ROWS_ONLY)


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only(spark, sf_dir, name):
    check = _ROWS_CHECKS.get(name)
    if check is None:
        assert run_rows_only(spark, name, sf_dir) >= 0
    else:
        check(_ALL[name].fn(spark, sf_dir).toPandas(), sf_dir)
