"""Learned linear ranker: logistic regression trained by full-batch
gradient descent where EVERY iteration is one map-side-combined Spark
aggregate (SURVEY.md §2 "beyond the reference" — the reference blends
hand-tuned weights at query time, ref: src/cis5550/jobs/RankScore.java
priority constants; here the blend weights are LEARNED from an
interaction log).

Why this shape scales: full-batch GD over n rows × d features is the
textbook all-reduce — each iteration computes d+1 partial sums per
partition (whole-stage-codegen JVM expressions, no Python), the final
merge is d+1 doubles on the driver, and the weight vector rides back
into the next iteration as literal constants folded into the plan. At
100 TB the per-iteration cost is one scan (or one scan of a cached
feature projection); there is no parameter server, no per-row Python,
and nothing driver-side beyond d+1 numbers per iteration.

Determinism across engines: each avg-gradient is rounded to 9 dp before
the weight update, so partial-sum ORDER differences between engines
(ulp-level) vanish on the 1e-9 grid and the learned weights are
bit-identical (checked against a NumPy replica of the same iterations by
tests/test_ltr_prf_coclick_novelty.py::TestLtr::test_gd_matches_numpy_replica)
— the same trick the PRF/keyword rankings use at 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def train_logistic(
    train: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iters: int = 3,
    lr: float = 1.0,
) -> list[float]:
    """Train logistic-regression weights ``[bias, w_1..w_d]`` by
    ``iters`` full-batch GD steps from a zero init.

    Gradient of mean log-loss: ``∂/∂w_j = avg((σ(z) - y) · x_j)`` with
    ``z = bias + Σ w_j x_j``. One ``.agg`` (= one job, map-side partial
    aggregation) per iteration; each gradient component is rounded to
    9 dp before the update (see module docstring).

    Callers iterating many times over wide data should ``.persist()``
    the feature projection first — this function deliberately does not
    cache (a few iterations over a scan-thin projection cost less than
    building a cache).
    """
    # rows with a NULL feature or label are excluded up front — otherwise
    # NULL would null the residual and silently drop the row from SOME
    # gradient components (z references every feature) but not others in
    # a SQL replica, and the engines would train different weights
    train = train.na.drop(subset=[*feature_cols, label_col])
    w = [0.0] * (len(feature_cols) + 1)
    for _ in range(iters):
        z = F.lit(w[0])
        for j, c in enumerate(feature_cols):
            z = z + F.lit(w[j + 1]) * F.col(c)
        resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col(label_col)
        aggs = [F.round(F.avg(resid), 9).alias("g0")]
        aggs += [
            F.round(F.avg(resid * F.col(c)), 9).alias(f"g{j + 1}")
            for j, c in enumerate(feature_cols)
        ]
        g = train.agg(*aggs).collect()[0]
        if g["g0"] is None:
            # empty training set: avg() is NULL — keep the zero init
            # instead of crashing on float(None)
            break
        w = [w[j] - lr * float(g[f"g{j}"]) for j in range(len(w))]
    return w


def score_logistic(
    df: DataFrame, feature_cols: list[str], weights: list[float]
) -> DataFrame:
    """Append ``p`` = σ(bias + Σ w_j x_j) — pure JVM expressions, the
    weights folded in as literals (broadcast-free: d+1 doubles)."""
    z = F.lit(weights[0])
    for j, c in enumerate(feature_cols):
        z = z + F.lit(weights[j + 1]) * F.col(c)
    return df.withColumn("p", F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
