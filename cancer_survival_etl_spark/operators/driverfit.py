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
partitioning or batch split.

One key-ordered runner: ``scan(src, pdf, totals, step)`` runs a kernel
whose sums are suffixes within a stratum along a key order (the Cox
risk sets). On the collected frame it is one ``step`` call with zero
carries. Otherwise ``src`` is pinned once by ``ranged`` —
range-partitioned on (strata…, key), so partitions follow the key
order — and each pass is two ``mapInPandas`` jobs: per-(partition,
stratum) ``totals``, then ``step`` on each partition given its carry,
the exact Σ of the later partitions' totals for the same stratum
(strata are matched across partitions by ``stratum_codes`` labels).
``cox_ph``, ``cox_ph_time_dependent`` and ``cox_ph_counting`` share
one such kernel. The fits that still keep a hand-written numpy twin
beside a Spark-expression loop compute on the IDENTICAL nano/pico
lattice, so their two paths agree bit for bit too (pinned in
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


def exact_terms(fit, x, w=None, headroom=0.0):
    """round_half_up(x)[·w] per cell as an integer array whose sums —
    any grouped, prefix or suffix sum, plus up to ``headroom`` more —
    are exact: int64 while a float64 bound on Σ|term| + headroom proves
    no such sum can wrap, else Python ints (object dtype). A non-finite
    term or one outside int64 raises
    ``ValueError("<fit>: lattice overflow")``."""
    import numpy as np

    r = round_half_up(x)
    a = np.abs(r)
    if not (a < 2.0**63).all():  # NaN fails the comparison too
        raise ValueError(f"{fit}: lattice overflow")
    r = r.astype(np.int64)
    if w is not None:
        a = a * np.abs(w)
    if a.sum() + headroom >= 2.0**62:
        r = r.astype(object)
        w = None if w is None else w.astype(object)
    return r if w is None else r * w


def exact_sum(fit, x, w=None):
    """Σ round_half_up(x)[·w] as an exact Python int (``exact_terms``):
    the sum never wraps, so the outcome is the same for any split of
    the cells into batches."""
    return int(exact_terms(fit, x, w).sum())


def stratum_codes(b, cols):
    """Code each row of the cell batch ``b`` by its stratum — its
    values of ``cols``, a null being a stratum of its own — and label
    every code with a string that is the same in every batch (a long
    column with nulls arrives as float64 in one batch and int64 in
    another). Returns (codes, labels)."""
    import numpy as np
    import pandas as pd

    if not cols:
        return np.zeros(len(b), dtype=np.int64), [""]
    codes = (
        b.groupby(list(cols), sort=True, dropna=False).ngroup().to_numpy()
    )

    def canon(v):
        if pd.isna(v):
            return None
        if isinstance(v, float) and v.is_integer():
            return int(v)
        return v.item() if isinstance(v, np.generic) else v

    first = np.unique(codes, return_index=True)[1]
    labels = [
        repr(tuple(map(canon, row)))
        for row in b[list(cols)].iloc[first].itertuples(index=False)
    ]
    return codes, labels


def _partials(src: DataFrame, fn, whole=False):
    """Run ``fn(pid, batch)`` — a list of (label, [Python ints]) out —
    on every Arrow batch of ``src`` through ``mapInPandas`` (ONE job),
    or with ``whole`` on each partition's batches concatenated, and
    collect the rows as (partition id, label, [ints]). The ints travel
    as decimal text because a batch sum can exceed int64; a
    ``ValueError`` raised in a worker is raised again on the driver."""

    def run(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if whole:
            batches = list(batches)
            batches = [pd.concat(batches)] if batches else []
        for b in batches:
            if len(b):
                try:
                    rows = [
                        (k, " ".join(map(str, v))) for k, v in fn(pid, b)
                    ]
                except ValueError as e:  # a named error, for the driver
                    rows = [("", f"!{e}")]
                yield pd.DataFrame({
                    "_pid": [pid] * len(rows),
                    "_k": [k for k, _ in rows],
                    "_m": [m for _, m in rows],
                })

    out = []
    for r in src.mapInPandas(run, "_pid int, _k string, _m string").collect():
        if r["_m"].startswith("!"):
            raise ValueError(r["_m"][1:])
        out.append((r["_pid"], r["_k"], [int(v) for v in r["_m"].split()]))
    return out


def fold(src: DataFrame, pdf, kernel):
    """Run ``kernel`` — a pandas cell batch in, a list of exact Python-int
    partial sums out — over every cell and return the element-wise
    totals as Python ints, or ``[]`` when there are no cells. With
    ``pdf`` (what ``collect_bounded`` returned) it is one call on the
    driver; otherwise it runs on each Arrow batch of ``src`` — ONE
    ``mapInPandas`` job, one small row per batch — and the driver adds
    the rows."""
    if pdf is not None:
        return kernel(pdf) if len(pdf) else []
    parts = _partials(src, lambda pid, b: [("", kernel(b))])
    return [sum(c) for c in zip(*(m for _, _, m in parts))]


def ranged(df: DataFrame, keys):
    """Pin ``df`` range-partitioned on ``keys`` into defaultParallelism
    partitions (the ``global_prefix_sum`` layout): equal keys share a
    partition and partition ids follow the key order — the ``src`` of
    ``scan``. Lazy: the first job materializes it."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(n, *keys).localCheckpoint(eager=False)


def scan(src: DataFrame, pdf, totals, step):
    """Run a key-ordered kernel — a suffix scan within each stratum, such
    as the Cox risk sets — over every cell and return the element-wise
    totals of its exact Python-int partials, or ``[]`` when there are
    no cells. ``totals(b)`` maps a cell batch to {stratum label:
    [ints]}; ``step(b, carry)`` returns the batch's partials, where
    ``carry`` maps a label to the totals of that stratum's cells LATER
    in the key order than the batch's.

    With ``pdf`` it is one ``step(pdf, {})`` call on the driver: zero
    carries, zero jobs. Otherwise ``src`` comes from ``ranged`` and
    each partition is one batch: a ``mapInPandas`` job of ``totals``,
    the carries (per partition and stratum, the Σ of the later
    partitions' totals) added on the driver as Python ints, then a
    ``mapInPandas`` job of ``step`` — two jobs."""
    if pdf is not None:
        return step(pdf, {}) if len(pdf) else []
    tots = _partials(src, lambda pid, b: totals(b).items(), whole=True)
    if not tots:
        return []
    carry = {}  # pid -> {label: [ints]}
    later = {}  # label -> Σ over the partitions already passed
    for pid, k, m in sorted(tots, key=lambda r: -r[0]):
        if k in later:
            carry.setdefault(pid, {})[k] = later[k]
            m = [a + c for a, c in zip(m, later[k])]
        later[k] = m
    parts = _partials(
        src, lambda pid, b: [("", step(b, carry.get(pid, {})))], whole=True
    )
    return [sum(c) for c in zip(*(m for _, _, m in parts))]
