"""Full-batch gradient-descent linear and logistic regression,
hash-verifiable.

The oracle-checkable sibling of ml/linear_sgd.py (which remains the
throughput path with Arrow-batched shards): the SAME superstep schema
the reference's data-parallel training uses — parameters down, one
averaged gradient up per step (assignment2/part2b/main.py's all-reduce
round) — but with every nondeterminism source pinned so the whole
training loop hash-checks against an unrolled-CTE DuckDB oracle (the
7th hash-verified iterative kernel):

  * full-batch GD (no sampling), fixed steps, fixed learning rate;
  * each gradient component is quantized with the engine-stable
    floor(g·10⁹ + 0.5 + 1e-12)/10⁹ form before the update (engine
    round() half-tie rules differ; cross-engine disagreement on the
    unquantized avg is ~1e-16 relative, six orders inside the grid);
  * the weight update w − η·ĝ is then exact IEEE arithmetic on
    identical inputs, so both engines walk the identical trajectory.

The training set is a few hundred rows of p+1 doubles, so the loop runs
on the driver: Spark extracts the p features (``element_at`` of the
cast vector) and the target once, one ``toArrow()`` brings them over,
and the steps run in numpy. A fit costs the same Spark jobs at 1 step
as at 40. Running each step as its own ``agg().collect()`` job with the
weights inlined as literals (a fresh plan, and so a fresh codegen
compilation, every step) cost 14 jobs per six-step fit; on the sf0.01
embeddings (``local[4]``, median of 5 warm calls in one JVM)
``ml_logreg_gd`` took 1.95 s per call against 0.81 s and 3 jobs here.
``ml/logreg.py`` (``arrow_superstep``) stays the path for training sets
that do not fit the driver.

The numpy steps keep the Spark expressions' semantics term for term:
the prediction accumulates left to right from 0.0,
``((0.0 + w0·1.0) + w1·x1) + …``; a row whose prediction or target is
null is left out of every component's mean, as Spark's ``avg`` skips
nulls (``element_at`` past the vector's end and a null label both give
one); and a stored NaN propagates. Only the summation order differs
from Spark's partial sums, by ~1e-16, which the quantizer absorbs.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _q9(g: float) -> float:
    """Engine-stable 9-dp quantizer (same convention as the EWMA and
    PQ operators): floor(g·1e9 + 0.5 + 1e-12)/1e9 — identical double
    expression on both engines, no round() half-tie drift."""
    return math.floor(g * 1e9 + 0.5 + 1e-12) / 1e9


def _gd_fit(
    df: DataFrame,
    feature_dims: int,
    steps: int,
    lr: float,
    vec_col: str,
    target: Column,
    error: Callable[[np.ndarray, np.ndarray], np.ndarray],
    grad_scale: float,
) -> DataFrame:
    """``steps`` full-batch GD rounds from w = 0 on the driver. Per step
    component j's gradient is ``_q9(grad_scale · mean(error(pred, y)·x_j))``
    with x_0 = 1. Returns (j, weight), p+1 rows, j=0 the bias."""
    vec = F.col(vec_col).cast("array<double>")
    table = df.select(
        *[F.element_at(vec, j + 1) for j in range(feature_dims)],
        target.cast("double"),
    ).toArrow()
    cols = [c.combine_chunks() for c in table.columns]
    # A null feature nulls the prediction, so every component's product
    # is null on the same rows: those with any null feature or target.
    # Nulls come from the validity mask; a stored NaN is kept.
    keep = np.ones(table.num_rows, dtype=bool)
    for c in cols:
        keep &= c.is_valid().to_numpy(zero_copy_only=False)
    *feats, y = [c.to_numpy(zero_copy_only=False)[keep] for c in cols]
    x = [np.ones(len(y))] + feats

    w = [0.0] * (feature_dims + 1)
    for _ in range(steps):
        pred = 0.0
        for wj, xj in zip(w, x):
            pred = pred + wj * xj
        err = error(pred, y)
        grads = [_q9(grad_scale * float(np.mean(err * xj))) for xj in x]
        w = [wj - lr * gj for wj, gj in zip(w, grads)]
    return df.sparkSession.createDataFrame(
        [(j, wj) for j, wj in enumerate(w)], "j int, weight double"
    )


def _sigmoid_error(pred: np.ndarray, y: np.ndarray) -> np.ndarray:
    # exp overflows to inf for a very negative prediction, as the JVM's
    # does, and 1/(1 + inf) is 0.0 on both.
    with np.errstate(over="ignore"):
        return 1.0 / (1.0 + np.exp(-pred)) - y


def linear_gd_fit(
    df: DataFrame,
    feature_dims: int = 4,
    steps: int = 6,
    lr: float = 0.1,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Fit y ≈ w·[1, x₁..x_p] by ``steps`` full-batch GD rounds from
    w = 0, gradient 2·avg((w·x − y)·x_j). Returns (j, weight) — p+1
    rows, j=0 the bias — with weights quantized at 9 dp (they already
    are, by construction: each is a sum of quantized gradient steps)."""
    return _gd_fit(
        df, feature_dims, steps, lr, vec_col, F.col(label_col), np.subtract, 2.0
    )


def sql_linear_gd(
    feature_dims: int = 4, steps: int = 6, lr: float = 0.1
) -> str:
    """Unrolled DuckDB mirror: per step one CTE of p+1 quantized avg
    gradients and one CTE applying the update — the same trajectory,
    computed inside SQL."""
    p = feature_dims
    xs = ["1.0"] + [f"CAST(embedding[{j + 1}] AS DOUBLE)" for j in range(p)]
    parts = [
        "s0 AS (SELECT " + ", ".join(f"0.0 AS w{j}" for j in range(p + 1)) + ")"
    ]
    for t in range(1, steps + 1):
        pred = " + ".join(f"s.w{j} * {xs[j]}" for j in range(p + 1))
        grads = ", ".join(
            f"floor(2.0 * avg((({pred}) - CAST(label AS DOUBLE)) * {xs[j]}) * 1e9"
            f" + 0.5 + 1e-12) / 1e9 AS g{j}"
            for j in range(p + 1)
        )
        parts.append(f"g{t} AS (SELECT {grads} FROM embeddings, s{t - 1} s)")
        upd = ", ".join(f"s.w{j} - {lr!r} * g.g{j} AS w{j}" for j in range(p + 1))
        parts.append(f"s{t} AS (SELECT {upd} FROM s{t - 1} s, g{t} g)")
    sel = " UNION ALL ".join(
        f"SELECT {j} AS j, w{j} AS weight FROM s{steps}" for j in range(p + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + sel


def logreg_gd_fit(
    df: DataFrame,
    feature_dims: int = 4,
    steps: int = 6,
    lr: float = 0.5,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Logistic-regression GD under the same hash-verifiable contract
    as linear_gd_fit — the NONLINEAR gradient case: per step, the
    gradient is avg((sigmoid(w·x) − y)·x_j) for every component; libm
    vs JVM exp() differ by ~1 ulp, which the 1e-9 gradient quantization
    absorbs, so the trajectory stays engine-identical. y is the label's
    parity (a balanced binary target over the fixture), taken in Spark
    so a negative label keeps Spark's sign."""
    return _gd_fit(
        df, feature_dims, steps, lr, vec_col, F.col(label_col) % 2, _sigmoid_error, 1.0
    )


def sql_logreg_gd(
    feature_dims: int = 4, steps: int = 6, lr: float = 0.5
) -> str:
    p = feature_dims
    xs = ["1.0"] + [f"CAST(embedding[{j + 1}] AS DOUBLE)" for j in range(p)]
    parts = [
        "s0 AS (SELECT " + ", ".join(f"0.0 AS w{j}" for j in range(p + 1)) + ")"
    ]
    for t in range(1, steps + 1):
        pred = " + ".join(f"s.w{j} * {xs[j]}" for j in range(p + 1))
        sig = f"(1.0 / (1.0 + exp(-({pred}))))"
        grads = ", ".join(
            f"floor(avg(({sig} - CAST(label % 2 AS DOUBLE)) * {xs[j]}) * 1e9"
            f" + 0.5 + 1e-12) / 1e9 AS g{j}"
            for j in range(p + 1)
        )
        parts.append(f"g{t} AS (SELECT {grads} FROM embeddings, s{t - 1} s)")
        upd = ", ".join(f"s.w{j} - {lr!r} * g.g{j} AS w{j}" for j in range(p + 1))
        parts.append(f"s{t} AS (SELECT {upd} FROM s{t - 1} s, g{t} g)")
    sel = " UNION ALL ".join(
        f"SELECT {j} AS j, w{j} AS weight FROM s{steps}" for j in range(p + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + sel
