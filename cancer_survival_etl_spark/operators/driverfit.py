"""Driver-solve fast path for the iterative-fit family.

The engine's fits (Cox/Fine-Gray/AFT/GLM Newton, EM, Fisher scoring,
the graph fixpoints) are sufficient-statistics folds: once subjects
collapse to (x-pattern, duration, event)-style cells with counts, every
iteration is a deterministic fold over the cell frame. Run on Spark,
each iteration pays a fixed per-job latency for microseconds of
arithmetic; run on the driver, the whole loop is one numpy pass.

One decision: ``collect_bounded`` is the single place that chooses the
path — one ``limit(MAX_DRIVER_CELLS + 1)`` collect, the size check and
the null/non-finite screen. It returns the pandas cell frame (the fit
runs on the driver) or ``None`` (the cells stay in Spark).
``collect_cells`` is the common ``groupBy(keys).count()`` collapse in
front of it.

One fold runner: ``fold(src, pdf, kernel)`` runs a fit's numpy kernel —
a cell batch in, exact integer partial sums out (``exact_sum``: per-cell
terms rounded to int64 lattice points, summed without wrapping) — on
the collected frame, or over every Arrow batch of ``src`` through
``mapInPandas``, and adds the partials on the driver as Python ints.
Integer addition is associative, so a fit that computes its moments
this way (the AFT and GLM cores) returns the same bits under any
partitioning or batch split. The fits that still keep a hand-written
numpy twin beside a Spark-expression loop compute on the IDENTICAL
nano/pico lattice, so their two paths agree bit for bit too (pinned in
tests/test_driverfit.py).

One test switch: ``MAX_DRIVER_CELLS`` bounds every driver collect and is
read from this module at call time; setting it to 0 (the
``distributed`` fixture in tests/conftest.py) sends every fit down its
distributed path without running a probe job.

Collects that raise instead of falling back (the absorbing_chain cap,
the ``max_x_patterns`` distinct-count guards) are not driver-solve
choices and stay with their operators.
"""

from __future__ import annotations

import sys

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# fold kernels call exact_sum inside Python workers: ship this module's
# functions by value, so a worker need not import the package
cloudpickle.register_pickle_by_value(sys.modules[__name__])

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


def exact_sum(fit, x, w=None):
    """Σ round_half_up(x)[·w] as an exact Python int: each cell's term
    is rounded to an int64 lattice point (times the int64 count ``w``,
    when given) and the sum never wraps. A non-finite term or one
    outside int64 raises ``ValueError("<fit>: lattice overflow")``.
    The sum runs in int64 while a float64 bound on Σ|term| proves it
    fits, else in Python ints — so the outcome is the same for any
    split of the cells into batches."""
    import numpy as np

    r = round_half_up(x)
    a = np.abs(r)
    if not (a < 2.0**63).all():  # NaN fails the comparison too
        raise ValueError(f"{fit}: lattice overflow")
    r = r.astype(np.int64)
    if (a.sum() if w is None else (a * w).sum()) < 2.0**62:
        return int(r.sum() if w is None else (r * w).sum())
    if w is None:
        return sum(r.tolist())
    return sum(v * n for v, n in zip(r.tolist(), w.tolist()))


def fold(src: DataFrame, pdf, kernel):
    """Run ``kernel`` — a pandas cell batch in, a list of exact Python-int
    partial sums out — over every cell and return the element-wise
    totals as Python ints, or ``[]`` when there are no cells. With
    ``pdf`` (what ``collect_bounded`` returned) it is one call on the
    driver; otherwise it runs on each Arrow batch of ``src`` through
    ``mapInPandas`` — ONE job, one small row per batch — and the driver
    adds the rows. The partials travel as decimal text because a batch
    sum can exceed int64; a ``ValueError`` the kernel raises in a
    worker is raised again on the driver."""
    if pdf is not None:
        return kernel(pdf) if len(pdf) else []

    def run(batches):
        import pandas as pd

        for b in batches:
            if len(b):
                try:
                    m = " ".join(map(str, kernel(b)))
                except ValueError as e:  # a named error, for the driver
                    m = f"!{e}"
                yield pd.DataFrame({"_m": [m]})

    parts = []
    for r in src.mapInPandas(run, "_m string").collect():
        if r["_m"].startswith("!"):
            raise ValueError(r["_m"][1:])
        parts.append([int(v) for v in r["_m"].split()])
    return [sum(c) for c in zip(*parts)]
