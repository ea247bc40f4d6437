"""Model inference as pure SQL expressions (operator-fusion style —
cf. "ML Inference Pipeline Execution Using Pure SQL Based on Operator
Fusion", ICDE 2025): linear / logistic scoring over embedding columns
compiled into Catalyst expressions, so classifier-based corpus
filtering (the FineWeb-Edu / quality-classifier curation step) runs
inside whole-stage codegen with zero Python in the row path.

The weight vector is a broadcast literal (models of this family are
KB-scale); the dot product is ``aggregate(zip_with(...))`` — no UDF,
no Arrow round-trip, pushdown and pruning untouched. For real
transformer-based scorers the shape changes to a Pandas-UDF batch
(see llm/multimodal.py for the template); the linear head after any
frozen encoder still belongs here.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_literal(vec_col: str | Column, weights: Sequence[float]) -> Column:
    """⟨x, w⟩ with a literal weight vector, as a fused expression."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    w = F.lit([float(x) for x in weights])
    return F.aggregate(
        F.zip_with(c, w, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def linear_score(
    df: DataFrame,
    vec_col: str,
    weights: Sequence[float],
    bias: float = 0.0,
    logistic: bool = True,
    alias: str = "score",
) -> DataFrame:
    """Score every row with a (logistic) linear model over its embedding:
    score = σ(⟨x, w⟩ + b), rounded to 6 dp BEFORE any downstream
    rank/threshold (exp() differs in the last ulp across engines — the
    same determinism idiom as tf-idf's ln).
    """
    z = dot_literal(vec_col, weights) + F.lit(float(bias))
    s = 1.0 / (1.0 + F.exp(-z)) if logistic else z
    return df.withColumn(alias, F.round(s, 6))


def classifier_filter(
    df: DataFrame,
    vec_col: str,
    weights: Sequence[float],
    bias: float = 0.0,
    threshold: float = 0.5,
) -> DataFrame:
    """The curation step itself: keep rows the classifier scores at or
    above ``threshold`` (educational-quality filtering à la
    FineWeb-Edu). Pure filter over the fused score — predicate shows
    up in the plan like any other, composable with every operator."""
    return linear_score(df, vec_col, weights, bias).filter(
        F.col("score") >= threshold
    )


def logistic_train(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    lr: float = 0.5,
    iters: int = 20,
    l2: float = 0.0,
) -> list[float]:
    """In-engine logistic-regression training (batch gradient descent)
    — the other half of ``linear_score``/``classifier_filter``: train
    the quality-classifier head on the corpus, then score with the
    fused SQL expression. Returns [bias, w_1, ..., w_d].

    Each iteration is ONE distributed aggregate: grad_j =
    Σ(σ(w·x) − y)·x_j / n (+ l2·w_j), computed as a fused JVM
    expression over the feature columns — the driver holds only the
    d+1 weight scalars and the loop counter; the data never leaves the
    executors. Features should be standardized-ish (same order of
    magnitude) for a fixed lr to behave.

    Determinism (r11, the glm_* exact-lattice contract): each per-row
    gradient term is rounded onto the 1e-9 nano lattice and summed as
    an exact long, so the component sums — and therefore the learned
    weights — are BIT-IDENTICAL under any partitioning (exactly, not
    just absorbed by the 9-dp update rounding as the pre-r11 raw
    double fold relied on; pinned in tests at 1 vs 64 partitions and
    against a numpy reference implementing the same lattice).

    r11 driver-solve fast path (operators/driverfit.py): rows collapse
    to (x-pattern, label) cells in ONE map-side-combined aggregate;
    when bounded, the whole GD loop runs on the driver over the
    collected cells — Σ_rows round(term·1e9) = Σ_cells w·round(
    term·1e9) makes it bit-identical to the distributed fold (pinned
    in tests/test_driverfit.py). Unbounded cohorts run the unchanged
    distributed fold over the collapsed cells (or the raw projection
    when the collapse itself is unbounded).
    """
    import numpy as np

    from cancer_survival_etl_spark.operators.driverfit import (
        collect_cells,
        round_half_up,
    )

    feats = list(feature_cols)
    w = [0.0] * (len(feats) + 1)
    proj = df.select(
        *[F.col(c).cast("double").alias(f"_x{j}") for j, c in enumerate(feats)],
        F.col(label_col).cast("double").alias("_y"),
    )
    pdfc = collect_cells(
        proj, proj.columns, [f"_x{j}" for j in range(len(feats))] + ["_y"]
    )
    if pdfc is not None:
        wv = pdfc["_w"].to_numpy().astype(np.int64)
        n = int(wv.sum())
        if n == 0:
            raise ValueError("logistic_train: empty input")
        xv = [
            pdfc[f"_x{j}"].to_numpy().astype(np.float64)
            for j in range(len(feats))
        ]
        yv = pdfc["_y"].to_numpy().astype(np.float64)
        for _ in range(iters):
            z = np.full(len(wv), w[0])
            for j in range(len(feats)):
                z = z + w[j + 1] * xv[j]
            resid = 1.0 / (1.0 + np.exp(-z)) - yv
            gl = [round_half_up(resid * 1e9).astype(np.int64)] + [
                round_half_up(resid * xv[j] * 1e9).astype(np.int64)
                for j in range(len(feats))
            ]
            grads = [
                round(float((g * wv).sum()) / 1e9 / n, 9) for g in gl
            ]
            w = [wj - lr * (gj + l2 * wj) for wj, gj in zip(w, grads)]
        return [round(wj, 9) for wj in w]

    n = df.count()
    if n == 0:
        raise ValueError("logistic_train: empty input")
    y = F.col(label_col).cast("double")
    nano = F.lit(1000000000.0)
    for _ in range(iters):
        z = F.lit(w[0])
        for j, c in enumerate(feats):
            z = z + F.lit(w[j + 1]) * F.col(c).cast("double")
        resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - y
        aggs = [
            F.sum(F.round(resid * nano, 0).cast("long")).alias("g0")
        ] + [
            F.sum(
                F.round(resid * F.col(c).cast("double") * nano, 0).cast(
                    "long"
                )
            ).alias(f"g{j + 1}")
            for j, c in enumerate(feats)
        ]
        row = df.agg(*aggs).collect()[0]
        grads = [round(row[f"g{j}"] / 1e9 / n, 9) for j in range(len(w))]
        w = [
            wj - lr * (gj + l2 * wj)
            for wj, gj in zip(w, grads)
        ]
    return [round(wj, 9) for wj in w]


def quantile_train(
    df: DataFrame,
    feature_cols: Sequence[str],
    y_col: str,
    tau: float = 0.5,
    lr: float = 4.0,
    iters: int = 60,
    h0: float = 2.0,
) -> list[float]:
    """In-engine quantile-regression training: fit the conditional
    τ-quantile line y_τ(x) = b0 + w·x — the robust companion to
    ``logistic_train`` for skewed targets (latency tails, cost P90s)
    where the conditional MEAN misleads. Returns [b0, w_1, ..., w_d].

    Raw pinball subgradients are piecewise-constant (they see only
    residual SIGNS), so plain subgradient descent crawls at O(1/√T);
    this trainer instead descends the CONVOLUTION-SMOOTHED check loss
    (the "conquer" estimator of smoothed quantile regression):
    ∂/∂z ≈ σ((z − y)/h) − τ with kernel width h = max(h0/(t+1), 1e-3)
    annealed per iteration, which restores smooth-gradient convergence
    while the shrinking h removes the smoothing bias.

    Each iteration is ONE distributed aggregate, the same fused-JVM
    shape as ``logistic_train``: grad_j = Σ x_j·(σ((z−y)/h) − τ) / n;
    the driver holds only d+1 scalars. Determinism and the driver-
    solve fast path follow ``logistic_train`` exactly (r11): per-row
    terms are rounded onto the 1e-9 nano lattice and summed as exact
    longs — bit-identical weights under any partitioning — and a
    bounded (x-pattern, y) cell collapse runs the whole annealed loop
    on the driver (pinned in tests/test_driverfit.py).
    """
    import numpy as np

    from cancer_survival_etl_spark.operators.driverfit import (
        collect_cells,
        round_half_up,
    )

    feats = list(feature_cols)
    w = [0.0] * (len(feats) + 1)
    proj = df.select(
        *[F.col(c).cast("double").alias(f"_x{j}") for j, c in enumerate(feats)],
        F.col(y_col).cast("double").alias("_y"),
    )
    pdfc = collect_cells(
        proj, proj.columns, [f"_x{j}" for j in range(len(feats))] + ["_y"]
    )
    if pdfc is not None:
        wv = pdfc["_w"].to_numpy().astype(np.int64)
        n = int(wv.sum())
        xv = [
            pdfc[f"_x{j}"].to_numpy().astype(np.float64)
            for j in range(len(feats))
        ]
        yv = pdfc["_y"].to_numpy().astype(np.float64)
        for t in range(iters):
            h = max(h0 / (t + 1.0), 1e-3)
            z = np.full(len(wv), w[0])
            for j in range(len(feats)):
                z = z + w[j + 1] * xv[j]
            s = 1.0 / (1.0 + np.exp(-(z - yv) / h)) - float(tau)
            gl = [round_half_up(s * 1e9).astype(np.int64)] + [
                round_half_up(s * xv[j] * 1e9).astype(np.int64)
                for j in range(len(feats))
            ]
            grads = [
                round(float((g * wv).sum()) / 1e9 / n, 9) for g in gl
            ]
            w = [round(wj - lr * gj, 9) for wj, gj in zip(w, grads)]
        return [round(wj, 9) for wj in w]

    n = df.count()
    y = F.col(y_col).cast("double")
    nano = F.lit(1000000000.0)
    for t in range(iters):
        h = max(h0 / (t + 1.0), 1e-3)
        z = F.lit(w[0])
        for j, c in enumerate(feats):
            z = z + F.lit(w[j + 1]) * F.col(c).cast("double")
        s = (
            F.lit(1.0) / (F.lit(1.0) + F.exp(-(z - y) / F.lit(h)))
            - F.lit(float(tau))
        )
        aggs = [
            F.sum(F.round(s * nano, 0).cast("long")).alias("g0")
        ] + [
            F.sum(
                F.round(s * F.col(c).cast("double") * nano, 0).cast(
                    "long"
                )
            ).alias(f"g{j + 1}")
            for j, c in enumerate(feats)
        ]
        row = df.agg(*aggs).collect()[0]
        grads = [round(row[f"g{j}"] / 1e9 / n, 9) for j in range(len(w))]
        w = [round(wj - lr * gj, 9) for wj, gj in zip(w, grads)]
    return [round(wj, 9) for wj in w]
