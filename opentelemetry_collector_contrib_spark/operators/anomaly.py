"""isolationforest processor: anomaly scoring over feature columns.

The reference (processor/isolationforestprocessor/isolation_forest.go)
keeps an ONLINE forest: per-stream trees mutate as samples arrive, a
sliding window feeds incremental updates, the RNG is seeded from
wall-clock time, and the threshold adapts from recent score history.
None of that is replayable — the same input twice gives different
scores — so the batch restatement goes back to the algorithm the
online variant approximates: the classic isolation forest of Liu,
Ting & Zhou (ICDM 2008), which the reference's scoring math
(avgPathLength / expectedPathLength, score = 2^(-E[h]/c(n))) is
lifted from. Documented adaptation, exactly the shape SURVEY §2.6
reserved for this row ("pandas_udf ML scoring if ever needed").

Spark shape, designed for 100 TB:

* FIT on a bounded deterministic subsample — isolation forests are
  subsample-based BY DESIGN (the paper fits each tree on psi=256
  rows regardless of data size), so the driver collects only
  ``num_trees x sample_size`` rows chosen as the n-lowest
  ``xxhash64(id)`` (reproducible on any cluster size, no rand()),
  the same bounded-collect class as skew.py's hot-key sample.
* Trees are built in pure Python with a seeded PRNG as nested
  tuples, then flattened once into node arrays (``flatten_forest``)
  that are BROADCAST.
* SCORE distributed with one pandas UDF: every row of the Arrow batch
  descends every tree together, one tree level per numpy step
  (``score_batch``) — no shuffle, no state; the scored frame is the
  input plus (anomaly_score, is_anomaly). Scores are bit-identical to
  the scalar ``score_point``.

The adaptive threshold restates as a fixed config threshold
(reference config.go Threshold default 0.7); a quantile-based
variant can be had by composing with approxQuantile upstream.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _c(n: int) -> float:
    """Expected path length of an unsuccessful BST search over n
    points (isolation_forest.go expectedPathLength; Liu et al. eq. 1):
    c(n) = 2 H(n-1) - 2(n-1)/n with H(i) ~= ln(i) + Euler."""
    if n <= 1:
        return 0.0
    h = math.log(n - 1) + 0.5772156649015329
    return 2.0 * h - 2.0 * (n - 1) / n


def _build_tree(rows: list, depth: int, max_depth: int,
                rng: random.Random):
    """One isolation tree: recursive random (feature, split) until
    isolation, depth cap, or constant data. Leaf holds the remaining
    sample count for the path-length correction term c(size)."""
    n = len(rows)
    if depth >= max_depth or n <= 1:
        return (n,)                                   # leaf
    n_feat = len(rows[0])
    candidates = [i for i in range(n_feat)
                  if min(r[i] for r in rows) < max(r[i] for r in rows)]
    if not candidates:
        return (n,)                                   # constant data
    f = rng.choice(candidates)
    lo = min(r[f] for r in rows)
    hi = max(r[f] for r in rows)
    split = rng.uniform(lo, hi)
    left = [r for r in rows if r[f] < split]
    right = [r for r in rows if r[f] >= split]
    if not left or not right:
        return (n,)
    return (f, split,
            _build_tree(left, depth + 1, max_depth, rng),
            _build_tree(right, depth + 1, max_depth, rng))


def fit_isolation_forest(samples: list, num_trees: int = 100,
                         sample_size: int = 256,
                         seed: int = 42) -> dict:
    """Fit the forest on pre-collected feature rows (driver side).
    Each tree sees its own slice of the sample (paper semantics:
    independent subsamples), max depth = ceil(log2(sample_size))."""
    if not samples:
        raise ValueError("cannot fit an isolation forest on 0 samples")
    rng = random.Random(seed)
    per_tree = min(sample_size, len(samples))
    max_depth = max(1, math.ceil(math.log2(per_tree)))
    trees = []
    for t in range(num_trees):
        start = (t * per_tree) % len(samples)
        sub = (samples[start:start + per_tree]
               or samples[:per_tree])
        if len(sub) < per_tree:
            sub = sub + samples[:per_tree - len(sub)]
        trees.append(_build_tree(sub, 0, max_depth, rng))
    return {"trees": trees, "sample_size": per_tree,
            "c_norm": _c(per_tree)}


def _path_length(tree, x, depth: int = 0) -> float:
    while len(tree) == 4:
        f, split, left, right = tree
        tree = left if x[f] < split else right
        depth += 1
    return depth + _c(tree[0])


def score_point(model: dict, x) -> float:
    """Anomaly score s(x) = 2^(-E[h(x)] / c(psi)) in (0, 1); > 0.5
    means shorter-than-average isolation paths (anomalous). This is
    the scalar specification that ``score_batch`` matches bit for
    bit."""
    trees = model["trees"]
    e_h = sum(_path_length(t, x) for t in trees)
    if not model["c_norm"]:
        return 0.0
    return 2.0 ** (-(e_h / len(trees)) * (1.0 / model["c_norm"]))


def flatten_forest(model: dict) -> dict:
    """The forest as parallel node arrays over all trees: an internal
    node tests ``x[feat] < thr`` and moves to ``left`` or ``right``; a
    leaf points at itself and holds its whole path length ``leaf_h``
    (depth + c(size), the same float ``_path_length`` returns)."""
    feat, thr, left, right, leaf_h, depths = [], [], [], [], [], [0]

    def add(node, depth: int) -> int:
        i = len(feat)
        depths.append(depth)
        feat.append(0)
        thr.append(0.0)
        left.append(i)
        right.append(i)
        leaf_h.append(0.0)
        if len(node) == 4:
            feat[i], thr[i] = node[0], node[1]
            left[i] = add(node[2], depth + 1)
            right[i] = add(node[3], depth + 1)
        else:
            leaf_h[i] = depth + _c(node[0])
        return i

    roots = [add(t, 0) for t in model["trees"]]
    return {"roots": np.array(roots, np.int64),
            "feat": np.array(feat, np.int64),
            "thr": np.array(thr, np.float64),
            "left": np.array(left, np.int64),
            "right": np.array(right, np.int64),
            "leaf_h": np.array(leaf_h, np.float64),
            "depth": max(depths),
            "c_norm": model["c_norm"]}


def _feature_matrix(cols) -> np.ndarray:
    """Batch columns -> float64 rows x features; nulls and values that
    are not numbers score as 0.0 (the fit sample's coercion)."""
    return np.column_stack([
        pd.to_numeric(c, errors="coerce").fillna(0.0).to_numpy(np.float64)
        for c in cols])


def score_batch(flat: dict, X: np.ndarray) -> np.ndarray:
    """``score_point`` for every row of ``X`` at once. All rows descend
    all trees together, one level per step; a leaf's self-loop keeps
    finished rows in place. Path lengths add up in tree order, as in
    ``score_point``. The last step, 2^y, stays a Python float pow per
    value: numpy's SIMD power/exp2 differ from libm's pow by an ulp on
    about a quarter of the inputs."""
    n = len(X)
    if not flat["c_norm"]:
        return np.zeros(n)
    xs = np.ascontiguousarray(X.T).ravel()        # feature-major
    r = np.arange(n)
    node = np.repeat(flat["roots"][:, None], n, axis=1)   # trees x rows
    for _ in range(flat["depth"]):
        v = xs[flat["feat"][node] * n + r]
        node = np.where(v < flat["thr"][node],
                        flat["left"][node], flat["right"][node])
    e_h = np.zeros(n)
    for h in flat["leaf_h"][node]:
        e_h += h
    y = -(e_h / len(flat["roots"])) * (1.0 / flat["c_norm"])
    return np.array([2.0 ** v for v in y.tolist()], np.float64)


def isolation_forest_scores(
    df: DataFrame,
    feature_cols: list[str],
    id_col: str,
    num_trees: int = 100,
    sample_size: int = 256,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Score every row of ``df`` with a forest fit on a deterministic
    bounded subsample (n-lowest xxhash64 of ``id_col``; at most
    num_trees * sample_size rows ever reach the driver). Appends
    ``anomaly_score`` double and ``is_anomaly`` boolean
    (score >= threshold, reference config.go Threshold)."""
    feats = [F.col(c).cast("double") for c in feature_cols]
    budget = num_trees * sample_size
    sample_rows = (df
                   .select(F.xxhash64(F.col(id_col).cast("string"),
                                      F.lit(seed)).alias("_h"), *feats)
                   .orderBy("_h")
                   .limit(budget)
                   .drop("_h")
                   .collect())
    samples = [tuple(0.0 if v is None else float(v) for v in r)
               for r in sample_rows]
    model = fit_isolation_forest(samples, num_trees, sample_size, seed)

    from pyspark.sql.functions import pandas_udf
    spark = df.sparkSession
    bflat = spark.sparkContext.broadcast(flatten_forest(model))

    def batch(*cols):
        return pd.Series(score_batch(bflat.value, _feature_matrix(cols)))

    score = pandas_udf(batch, "double")(*[F.col(c).cast("double")
                                          for c in feature_cols])
    out = df.withColumn("anomaly_score", score)
    return out.withColumn("is_anomaly",
                          F.col("anomaly_score") >= F.lit(threshold))
