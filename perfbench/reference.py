"""Reference implementations the benchmark checks the engine against.

- :func:`adaboost_mh` — AdaBoost.MH with decision stumps in numpy, using
  the engine's candidate set (every observed value of every feature), its
  vote smoothing eps = 1/(2mK), and its deterministic argmin key
  ``(floor(z*1e9 + 0.5), feature, threshold)``.
- :func:`score` — the strong hypothesis H(x)[l] = sum_t v_t[l] * phi_t(x),
  and :func:`hamming_loss` of its predictions.
- :func:`normalize` — order-insensitive frame normalization for the
  DuckDB-oracle comparison (the same rules as the test suite's harness).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


def adaboost_mh(x: np.ndarray, y: np.ndarray, rounds: int) -> list[dict]:
    """Return one dict per round: feature (1-based), threshold, z, votes."""
    m, k = y.shape
    w = np.full((m, k), 1.0 / (m * k))
    eps = 1.0 / (2.0 * m * k)
    pos = y == 1
    stumps = []
    for _ in range(rounds):
        best = None
        for j in range(x.shape[1]):
            values, inverse = np.unique(x[:, j], return_inverse=True)
            swp = np.zeros((values.size, k))
            swm = np.zeros((values.size, k))
            np.add.at(swp, inverse, np.where(pos, w, 0.0))
            np.add.at(swm, inverse, np.where(pos, 0.0, w))
            p_plus, p_minus = np.cumsum(swp, axis=0), np.cumsum(swm, axis=0)
            w_plus = p_plus[-1] - p_plus + p_minus
            w_minus = p_minus[-1] - p_minus + p_plus
            z = 2.0 * np.sqrt(w_plus * w_minus).sum(axis=1)
            key = np.floor(z * 1e9 + 0.5)
            i = int(np.argmin(key))  # first minimum = smallest threshold
            cand = (key[i], j + 1, values[i])
            if best is None or cand < best[0]:
                votes = 0.5 * np.log((w_plus[i] + eps) / (w_minus[i] + eps))
                best = (cand, float(z[i]), votes)
        (_, feature, threshold), z, votes = best
        stumps.append(
            {"feature": feature, "threshold": float(threshold), "z": z, "votes": votes}
        )
        phi = np.where(x[:, feature - 1] > threshold, 1.0, -1.0)
        w = w * np.exp(-y * votes[None, :] * phi[:, None])
        w /= w.sum()
    return stumps


def score(
    x: np.ndarray, feature: np.ndarray, threshold: np.ndarray, votes: np.ndarray
) -> np.ndarray:
    """(rows, K) margins of the stump ensemble."""
    phi = np.where(x[:, feature - 1] > threshold[None, :], 1.0, -1.0)
    return phi @ votes


def hamming_loss(y: np.ndarray, scores: np.ndarray) -> float:
    """Share of (row, class) pairs whose predicted sign differs from y."""
    return round(float(np.mean(np.where(scores > 0, 1, -1) != y)), 6)


def stump_mismatches(got: list, want: list[dict]) -> list[str]:
    """Engine stumps (objects with feature/threshold/votes) vs reference."""
    errors = []
    if len(got) != len(want):
        return [f"{len(got)} stumps, reference has {len(want)}"]
    for t, (g, r) in enumerate(zip(got, want)):
        if (g.feature, g.threshold) != (r["feature"], r["threshold"]):
            errors.append(
                f"round {t}: cut ({g.feature}, {g.threshold}) != reference "
                f"({r['feature']}, {r['threshold']})"
            )
        elif np.max(np.abs(np.asarray(g.votes) - r["votes"])) > 1e-9:
            errors.append(f"round {t}: votes differ from the reference by > 1e-9")
    return errors


def score_mismatches(rows: list, ids: np.ndarray, want: np.ndarray) -> list[str]:
    """Engine rows (vec_id, scores, predicted_labels) vs reference margins."""
    rows = sorted(rows, key=lambda r: r.vec_id)
    if [r.vec_id for r in rows] != list(ids):
        return ["scored ids differ from the input ids"]
    errors = []
    got = np.array([r.scores for r in rows])
    if got.shape != want.shape or np.max(np.abs(got - want)) > 1e-6:
        errors.append("scores differ from the reference beyond 6 dp")
    if [list(r.predicted_labels) for r in rows] != [list(np.flatnonzero(s > 0)) for s in want]:
        errors.append("predicted_labels differ from the reference")
    return errors


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.map(lambda v: "NULL" if pd.isna(v) else f"{v:.6f}")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.map(lambda v: "NULL" if pd.isna(v) else str(bool(v)))
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.map(lambda v: "NULL" if pd.isna(v) else str(int(v)))
        else:
            df[c] = s.map(
                lambda v: "NULL"
                if v is None or (isinstance(v, float) and math.isnan(v))
                else str(v)
            )
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal after normalization, else a one-line reason.  An
    empty oracle result is a reason too: it would check nothing."""
    if len(want) == 0:
        return "the oracle result is empty, so the comparison is vacuous"
    if len(got) != len(want):
        return f"rowcount {len(got)} != oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if not normalize(got).equals(normalize(want)):
        return "values differ from the oracle"
    return None
