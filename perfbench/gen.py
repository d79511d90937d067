"""Seeded input generators (numpy -> parquet).

Every generator is a pure function of its seed: the same seed writes
byte-identical inputs.  The program under test only ever sees the parquet
files; the in-memory numpy arrays returned alongside them feed the
reference implementations in ``reference.py``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


# ---------------------------------------------------------------- training


def training_set(path: str, seed: int, rows: int, features: int, classes: int) -> dict:
    """Dense continuous features (every value distinct) with labels from a
    planted rule, so boosting has signal to find: rows above the median
    of one planted feature are class 0, the rest fall into classes
    1..K-1 by quantile bucket, and 10% of rows are relabelled at random.
    The majority class makes the first stumps predict it, so the
    training loss falls below the all-negative rate 1/K and the
    predicted label sets are not empty."""
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((rows, features))
    planted = int(rng.choice(features, size=1, replace=False)[0])
    ranks = np.argsort(np.argsort(x[:, planted], kind="stable"), kind="stable")
    half = rows // 2
    label = np.where(ranks >= half, 0, 1 + ranks * (classes - 1) // half).astype(np.int64)
    noisy = rng.random(rows) < 0.1
    label[noisy] = rng.integers(0, classes, noisy.sum())
    y = -np.ones((rows, classes), dtype=np.int64)
    y[np.arange(rows), label] = 1
    cols = {
        "vec_id": pa.array(np.arange(rows, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float64())),
        "label": pa.array(label.astype(np.int32)),
    }
    nbytes = _write(pa.table(cols), path)
    distinct = [int(np.unique(x[:, j]).size) for j in range(features)]
    return {
        "x": x,
        "y": y,
        "describe": {
            "rows": rows,
            "features": features,
            "classes": classes,
            "distinct_values_per_feature_min": min(distinct),
            "distinct_values_per_feature_max": max(distinct),
            "candidate_cuts": sum(distinct) * classes,
            "bytes": nbytes,
        },
    }
