"""Driver-solve fast path for the iterative-fit family.

The engine's fits (Cox/Fine-Gray/AFT/GLM Newton, EM, Fisher scoring,
the graph fixpoints) are sufficient-statistics folds: once subjects
collapse to (x-pattern, duration, event)-style cells with counts, every
iteration is a deterministic fold over the cell frame. Run on Spark,
each iteration pays a fixed per-job latency for microseconds of
arithmetic; run on the driver, the whole loop is one numpy pass.

This module owns the choice between the two paths. ``collect_bounded``
is the one place that makes it: a single ``limit(MAX_DRIVER_CELLS + 1)``
collect, the size check, and the null/non-finite screen the numpy twin
needs. It returns the pandas frame (the caller runs its driver twin) or
``None`` (the caller runs its distributed loop). ``collect_cells`` is
the common ``groupBy(keys).count()`` collapse in front of it;
``cells_clean`` is the screen on its own, for the GLM ``_fit_cells``
collapse, whose distributed source depends on the size alone. The twins
compute on the IDENTICAL nano/pico lattice — per-cell terms rounded to
exact int64 points before summation — so both paths return
bit-identical results under any partitioning (pinned in
tests/test_driverfit.py).

One cap: ``MAX_DRIVER_CELLS`` bounds every driver collect and is read
from this module at call time. One test switch: setting it to 0 (the
``distributed`` fixture in tests/conftest.py) sends every fit down its
distributed path without running a probe job.

Collects that raise instead of falling back (the absorbing_chain cap,
the ``max_x_patterns`` distinct-count guards) are not driver-solve
choices and stay with their operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 2^19: covers every registry cohort whose duration axis is rounded to
# publication precision — and the near-continuous bench cohorts (e.g.
# the two-episode counting-process cohort, ~300k cells at sf0.1) —
# while bounding the driver transfer to a few tens of MB (2^19 rows ×
# ~6 numeric columns × 8 B ≈ 25 MB, far under the 1 GB
# spark.driver.maxResultSize). Cohorts beyond it (truly continuous
# covariates at production scale) use the distributed loop.
MAX_DRIVER_CELLS = 524288


def round_half_up(x):
    """numpy twin of Spark's ``F.round(expr, 0)`` — HALF_UP, i.e. ties
    round away from zero. ``np.rint`` rounds half-to-even, which
    diverges from the distributed fold on exact half-lattice points
    (dyadic inputs like k/1024 scaled by 1e9 = 2^9·5^9 land exactly on
    .5), so every driver twin must use this instead to keep the
    driver == distributed bit-equality contract."""
    import numpy as np

    return np.copysign(np.floor(np.abs(x) + 0.5), x)


def cells_clean(pdf, float_cols=(), notnull_cols=()):
    """True when every ``float_cols`` entry is non-null and (for float
    dtypes) finite and every ``notnull_cols`` entry is non-null — the
    guard a driver twin needs before trusting ``.astype(int64)`` lattice
    arithmetic (NaN becomes INT64_MIN garbage) and numpy group
    segmentation (each NaN duration is its own lexsort group where Spark
    keeps ONE null group). pandas counts NaN as null, so ``notnull_cols``
    rejects NaN but lets ±inf through."""
    import numpy as np

    for c in float_cols:
        v = pdf[c]
        if v.isnull().any() or (
            v.dtype.kind == "f" and not np.isfinite(v.to_numpy()).all()
        ):
            return False
    return not any(pdf[c].isnull().any() for c in notnull_cols)


def collect_bounded(df: DataFrame, float_cols=(), notnull_cols=()):
    """Collect ``df`` to the driver when it holds at most
    ``MAX_DRIVER_CELLS`` rows and passes the ``cells_clean`` screen;
    else ``None`` (the caller runs its distributed loop). The probe is
    ONE bounded job; the cap is read here at call time, and a cap
    ``<= 0`` returns ``None`` without running it."""
    if MAX_DRIVER_CELLS <= 0:
        return None
    pdf = df.limit(MAX_DRIVER_CELLS + 1).toPandas()
    if len(pdf) > MAX_DRIVER_CELLS or not cells_clean(
        pdf, float_cols, notnull_cols
    ):
        return None
    return pdf


def collect_cells(df: DataFrame, key_cols, float_cols=(), notnull_cols=()):
    """Collapse ``df`` to (key..., ``_w`` count) cells — ONE
    map-side-combined aggregate — and ``collect_bounded`` them."""
    cells = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_w"))
    return collect_bounded(cells, float_cols, notnull_cols)
