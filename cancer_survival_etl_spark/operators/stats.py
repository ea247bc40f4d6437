"""Moment-based statistics that are EXACT across engines.

Floating-point aggregation is order-dependent (partial aggregation
trees differ between engines and between runs at different
parallelism), so ``stddev``/``corr`` built-ins can't hash-match an
oracle — and at 100 TB they can't even match themselves run-to-run.
The fix is the same idea as the exact-cents money sum: accumulate
INTEGER moments (Σx, Σx² in cents/cents², both order-independent),
then derive variance/correlation from the exact moments in one final
double expression — deterministic at any parallelism, any engine.

Overflow budget: Σx² in cents² of a double ≤ ~10⁶ cents is ≤ 10¹² per
row; a long holds ~9.2×10¹⁸ — fine to ~10⁶ rows per group. Past that,
accumulate in decimal(38,0) (also order-independent) — the helpers
take a ``wide=True`` flag for it.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .driverfit import (
    cells_clean,
    collect_bounded,
    exact_sum,
    fold,
    round_half_up,
)


def _cents(col: Column) -> Column:
    return F.round(col * 100).cast("long")


def _acc(col: Column, wide: bool) -> Column:
    return col.cast("decimal(38,0)") if wide else col


def zscore_by(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    keep_cols: Sequence[str] = (),
    wide: bool = False,
) -> DataFrame:
    """Per-group z-score of a currency-like double: sample mean and
    stddev derived from exact integer moments (n, Σcents, Σcents²),
    broadcast back onto the rows, score rounded to 6 dp.

    Two passes over the rows but ONE shuffle tree: the moment aggregate
    is map-side-combined partials (3 numbers per group), the join back
    is a broadcast of #groups rows. Groups with n < 2 or zero variance
    get NULL z."""
    g = list(group_cols)
    c = _cents(F.col(value_col))
    moments = df.groupBy(*g).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(_acc(c, wide)).alias("_s1"),
        F.sum(_acc(c * c, wide)).alias("_s2"),
    )
    n = F.col("_n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    var = (n * s2 - s1 * s1) / (n * (n - 1))  # cents²
    stddev = F.sqrt(var) / 100.0
    mean = s1 / n / 100.0
    stats = moments.select(
        *g,
        mean.alias("_mean"),
        F.when((F.col("_n") >= 2) & (var > 0), stddev).alias("_sd"),
    )
    out_cols = list(keep_cols) or [
        c_ for c_ in df.columns if c_ not in g and c_ != value_col
    ]
    return (
        df.join(F.broadcast(stats), g)
        .select(
            *g,
            *out_cols,
            value_col,
            F.round(
                (F.col(value_col) - F.col("_mean")) / F.col("_sd"), 6
            ).alias("zscore"),
        )
    )


def corr_exact(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    x_is_cents: bool = True,
    y_is_cents: bool = True,
    wide: bool = True,
) -> DataFrame:
    """Per-group Pearson correlation from exact integer co-moments
    (n, Σx, Σy, Σx², Σy², Σxy) — the distributed-correlation shape
    that is reproducible at any parallelism. Columns that are already
    integers pass ``*_is_cents=False`` to skip the cents scaling
    (scaling cancels out of r anyway; it only affects overflow).
    Groups with degenerate variance get NULL r."""
    g = list(group_cols)
    x = _cents(F.col(x_col)) if x_is_cents else F.col(x_col).cast("long")
    y = _cents(F.col(y_col)) if y_is_cents else F.col(y_col).cast("long")
    m = df.groupBy(*g).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(_acc(x, wide)).alias("_sx"),
        F.sum(_acc(y, wide)).alias("_sy"),
        F.sum(_acc(x * x, wide)).alias("_sxx"),
        F.sum(_acc(y * y, wide)).alias("_syy"),
        F.sum(_acc(x * y, wide)).alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return m.select(
        *g,
        F.col("_n").alias("n_rows"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round(cov / F.sqrt(vx * vy), 6),
        ).alias("pearson_r"),
    )


def regression_by(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    x_is_cents: bool = True,
    y_is_cents: bool = True,
    wide: bool = True,
    x_scale: int | None = None,
    y_scale: int | None = None,
) -> DataFrame:
    """Per-group simple OLS (slope, intercept, n) from the same exact
    integer co-moments as ``corr_exact`` — the distributed regression
    that reproduces at any parallelism. slope_scaled = (nΣxy − ΣxΣy) /
    (nΣxx − Σx²) over the integer-scaled columns, then rescaled back
    to natural units (×x-scale/y-scale); the intercept is mean_y −
    slope·mean_x in natural units. Degenerate x-variance → NULLs.

    One aggregate, map-side combined (5 numbers per group); no second
    pass, no join. The final arithmetic is a fixed double expression
    mirrored verbatim by the oracle, so results are bit-stable.

    The co-moments are EXACT integer sums, so every input column must
    be integer-scaled: cents columns via ``x_is_cents``/``y_is_cents``
    (×100), other fractional columns via an explicit ``x_scale``/
    ``y_scale`` (value is multiplied by the scale, rounded to long,
    and the slope/intercept are rescaled back — exact when the column
    has ≤ log10(scale) fractional digits). With neither, the column is
    cast straight to long and fractional digits are TRUNCATED —
    integers-only, same contract as ``corr_exact`` (but unlike the
    correlation, truncation here changes slope/intercept, so pass a
    scale for any fractional column)."""
    g = list(group_cols)

    def scaled(col_name, is_cents, scale):
        if is_cents and scale is not None:
            raise ValueError("pass either *_is_cents or *_scale, not both")
        if is_cents:
            return _cents(F.col(col_name)), 100.0
        if scale is not None:
            return (
                F.round(F.col(col_name) * F.lit(scale)).cast("long"),
                float(scale),
            )
        return F.col(col_name).cast("long"), 1.0

    x, xs = scaled(x_col, x_is_cents, x_scale)
    y, ys = scaled(y_col, y_is_cents, y_scale)
    m = df.groupBy(*g).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(_acc(x, wide)).alias("_sx"),
        F.sum(_acc(y, wide)).alias("_sy"),
        F.sum(_acc(x * x, wide)).alias("_sxx"),
        F.sum(_acc(x * y, wide)).alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, sxy = F.col("_sxx").cast("double"), F.col("_sxy").cast("double")
    vx = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / vx * F.lit(xs) / F.lit(ys)
    intercept = sy / n / F.lit(ys) - slope * (sx / n / F.lit(xs))
    return m.select(
        *g,
        F.col("_n").alias("n_rows"),
        F.when(vx > 0, F.round(slope, 6)).alias("slope"),
        F.when(vx > 0, F.round(intercept, 6)).alias("intercept"),
    )


def histogram_by(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    bins: int,
) -> DataFrame:
    """Per-group equi-width histogram with FIXED bounds — (group, bin,
    bin_lo, n). Values clamp into the edge bins (no out-of-range
    bucket), the binning expression is pure arithmetic (identical in
    any engine — no reliance on a width_bucket builtin's edge
    conventions), and the whole thing is one map-side-combinable
    aggregate over at most #groups × bins cells. Fixed bounds are what
    make histograms MERGEABLE across partitions, days, and clusters —
    data-dependent bounds would need a pre-pass and break cascade
    merges.

    NULL values land in a NULL-bin row (bin IS NULL, bin_lo NULL) —
    the missing-value count rides along instead of being silently
    dropped; filter ``bin IS NOT NULL`` if you only want the grid."""
    g = list(group_cols)
    w = (hi - lo) / bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(w))
    # the isNotNull guard matters: least/greatest SKIP nulls in Spark,
    # so without it a NULL value would silently clamp into bin 0
    bin_id = F.when(
        F.col(value_col).isNotNull(),
        F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)),
    ).cast("long")
    return (
        df.select(*g, bin_id.alias("bin"))
        .groupBy(*g, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *g,
            "bin",
            F.round(F.lit(lo) + F.col("bin") * F.lit(w), 6).alias("bin_lo"),
            "n",
        )
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    bucket_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Population-stability-index drift detection between a reference
    and a current snapshot of a bucketed feature:
    PSI = Σ_b (p_cur[b] − p_ref[b]) · ln(p_cur[b] / p_ref[b]) — the
    standard model-monitoring statistic (> 0.25 ≈ major shift).

    Laplace-``alpha`` smoothing over the UNION of observed buckets
    keeps one-sided buckets finite: p = (n_b + α) / (N + α·B), with B
    the distinct bucket count across both snapshots — computed lazily
    (one-row cross join), never collected. Per-bucket contributions are
    rounded to 6 dp; the caller sums them (exact micro-units) for the
    headline number.

    Scale: two bucket histograms (map-side combined, ≤ B rows each),
    one full-outer join on bucket, one broadcast of the three scalar
    frames. Nothing scales with row count but the two scans.
    """
    r = ref.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_ref")
    )
    c = cur.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_cur")
    )
    joined = r.join(c, "bucket", "full_outer").localCheckpoint(eager=False)
    nr = ref.agg(F.count(F.lit(1)).alias("_nr"))
    nc = cur.agg(F.count(F.lit(1)).alias("_nc"))
    nb = joined.agg(F.count(F.lit(1)).alias("_nb"))
    p_ref = (F.coalesce("n_ref", F.lit(0)) + F.lit(alpha)) / (
        F.col("_nr") + F.lit(alpha) * F.col("_nb")
    )
    p_cur = (F.coalesce("n_cur", F.lit(0)) + F.lit(alpha)) / (
        F.col("_nc") + F.lit(alpha) * F.col("_nb")
    )
    return (
        joined.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nb))
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
            F.round(
                (p_cur - p_ref) * F.log(p_cur / p_ref), 6
            ).alias("psi_contrib"),
        )
    )


def chi_square_assoc(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Chi-square test of association between two categorical columns,
    plus Cramér's V effect size — the standard screen for redundant /
    entangled features and segmentation drift.

    One row out: (n, n_a, n_b, dof, chi2, cramers_v). Per-cell
    contributions (O−E)²/E are rounded to 6 dp and summed in exact
    integer micro-units (order-free, engine-identical); expected counts
    are computed with an explicitly sequenced CAST(R AS DOUBLE)·C/N so
    both engines evaluate the identical float expression.

    Scale: the contingency table is one groupBy(a, b) — at most
    |A|·|B| rows; margins are two aggregates of THAT table (never a
    second corpus scan); the scalar totals ride along as broadcast
    one-row frames.
    """
    obs = (
        df.select(
            F.col(col_a).cast("string").alias("_a"),
            F.col(col_b).cast("string").alias("_b"),
        )
        .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_o"))
        .localCheckpoint(eager=False)
    )
    ra = obs.groupBy("_a").agg(F.sum("_o").alias("_ra"))
    cb = obs.groupBy("_b").agg(F.sum("_o").alias("_cb"))
    tot = obs.agg(
        F.sum("_o").alias("_n"),
        F.count_distinct("_a").alias("_na"),
        F.count_distinct("_b").alias("_nb"),
    )
    e = F.col("_ra").cast("double") * F.col("_cb") / F.col("_n")
    contrib = F.round(
        (F.col("_o") - e) * (F.col("_o") - e) / e, 6
    )
    cells = (
        obs.join(F.broadcast(ra), "_a")
        .join(F.broadcast(cb), "_b")
        .crossJoin(F.broadcast(tot))
        .select(
            (F.round(contrib * F.lit(1000000.0), 0).cast("long")).alias(
                "_micro"
            ),
            "_n",
            "_na",
            "_nb",
        )
    )
    agg = cells.groupBy("_n", "_na", "_nb").agg(
        F.sum("_micro").alias("_chi_micro")
    )
    chi2 = F.col("_chi_micro") / F.lit(1000000.0)
    dof = (F.col("_na") - 1) * (F.col("_nb") - 1)
    v = F.sqrt(
        chi2
        / (
            F.col("_n")
            * F.least(F.col("_na") - 1, F.col("_nb") - 1)
        )
    )
    return agg.select(
        F.col("_n").alias("n"),
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        dof.cast("long").alias("dof"),
        chi2.alias("chi2"),
        F.round(v, 6).alias("cramers_v"),
    )


def winsorize_by(
    df: DataFrame,
    group_cols,
    value_col: str,
    lower_pct: float = 0.05,
    upper_pct: float = 0.95,
) -> DataFrame:
    """Per-group winsorization: clip ``value_col`` to its group's
    [lower_pct, upper_pct] exact discrete percentiles — the standard
    outlier-taming step before feature scaling or loss-weighted
    training (clip, don't drop: row count and joins stay intact).

    Returns the input plus (value_winsorized, was_clipped). Exact
    ``percentile_disc`` bounds (engine-portable — no interpolation
    ambiguity), computed once per group and broadcast back; the clip
    itself is a pure projection. One aggregate + one broadcast join.
    """
    cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    # percentile_disc returns an ACTUAL data value but Spark renders
    # the aggregate as DOUBLE regardless of input type; cast back to
    # the value column's dtype (lossless — it IS a value of that
    # column) so the clipped output keeps the input's type instead of
    # silently widening integer columns to double.
    vtype = df.schema[value_col].dataType
    bounds = df.groupBy(*cols).agg(
        F.expr(
            f"percentile_disc({lower_pct}) WITHIN GROUP "
            f"(ORDER BY {value_col})"
        ).cast(vtype).alias("_lo"),
        F.expr(
            f"percentile_disc({upper_pct}) WITHIN GROUP "
            f"(ORDER BY {value_col})"
        ).cast(vtype).alias("_hi"),
    )
    v = F.col(value_col)
    return (
        df.join(F.broadcast(bounds), cols)
        .select(
            "*",
            F.least(F.greatest(v, F.col("_lo")), F.col("_hi")).alias(
                "value_winsorized"
            ),
            ((v < F.col("_lo")) | (v > F.col("_hi"))).alias("was_clipped"),
        )
        .drop("_lo", "_hi")
    )


def robust_scale_by(
    df: DataFrame,
    group_cols,
    value_col: str,
    clip_lower: float = 0.05,
    clip_upper: float = 0.95,
) -> DataFrame:
    """Fused per-group winsorize + robust scale: clip ``value_col`` to
    its group's [clip_lower, clip_upper] exact discrete percentiles,
    then center/scale the clipped value by the group's median and IQR
    — ``(clip(v) − median) / (q3 − q1)`` — the sklearn RobustScaler
    recipe, outlier-tamed first so a single wild row cannot blow up
    the scaled feature.

    FUSED: all five order statistics (clip lo/hi, q1, median, q3) come
    from ONE ``percentile_disc`` aggregate over one scan — not the
    naive winsorize-aggregate-then-scale-aggregate double pass. The
    tiny per-group stats frame broadcasts back; the clip+scale is a
    pure projection. Groups with zero IQR (constant-valued after
    clipping) yield NULL ``value_scaled`` rather than an Inf.

    Exact ``percentile_disc`` (a real data value, no interpolation)
    keeps the bounds engine-portable; the scaled value is rounded to
    6 dp. Returns the input plus (value_winsorized, was_clipped,
    value_scaled).

    Scale: one map-side-combinable aggregate + one broadcast join —
    identical shuffle shape to ``winsorize_by`` alone; the fusion is
    free. Skewed group sizes only affect the aggregate's sort buffers
    (percentile_disc is implemented as a per-group sort in Spark);
    for million-row groups prefer approx quantiles or the
    hash-sample sibling in ``operators/sketches.py``.
    """
    cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    # Cast each order statistic back to the value column's dtype —
    # percentile_disc picks a real data value but Spark widens the
    # aggregate to DOUBLE; the cast is lossless and keeps
    # value_winsorized typed like the input (the scaled value is a
    # ratio and stays double regardless).
    vtype = df.schema[value_col].dataType

    def pct(p, alias):
        return F.expr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY {value_col})"
        ).cast(vtype).alias(alias)

    bounds = df.groupBy(*cols).agg(
        pct(clip_lower, "_lo"),
        pct(clip_upper, "_hi"),
        pct(0.25, "_q1"),
        pct(0.5, "_med"),
        pct(0.75, "_q3"),
    )
    v = F.col(value_col)
    clipped = F.least(F.greatest(v, F.col("_lo")), F.col("_hi"))
    iqr = F.col("_q3") - F.col("_q1")
    return (
        df.join(F.broadcast(bounds), cols)
        .select(
            "*",
            clipped.alias("value_winsorized"),
            ((v < F.col("_lo")) | (v > F.col("_hi"))).alias("was_clipped"),
            F.when(
                iqr != 0,
                F.round((clipped - F.col("_med")) / iqr, 6),
            ).alias("value_scaled"),
        )
        .drop("_lo", "_hi", "_q1", "_med", "_q3")
    )


def ols2_by(
    df: DataFrame,
    group_cols,
    x1_col: str,
    x2_col: str,
    y_col: str,
    wide: bool = True,
) -> DataFrame:
    """Distributed two-feature OLS with intercept — a closed-form
    in-engine model trainer: per group, fit y ≈ b0 + b1·x1 + b2·x2 by
    the normal equations, solved with Cramer's rule on EXACT integer
    co-moments. The moments (n, Σx1, Σx2, Σy, Σx1², Σx2², Σx1x2,
    Σx1y, Σx2y) are order-independent integer sums — the whole
    "training" is ONE map-side-combinable aggregate; the solve is a
    fixed per-group double expression mirrored verbatim by the oracle,
    so the learned weights are bit-stable at any parallelism.

    Inputs must be integer-valued columns (pre-scale fractional
    features the way ``regression_by`` documents). Singular systems
    (collinear features, constant columns) yield NULL weights via the
    det≈0 guard. Returns (group, n_rows, b0, b1, b2) rounded to 6 dp.

    This is the d=2 instance of the general pattern: any fixed-d
    linear model trains in one exact-moment aggregate + a broadcastable
    d×d solve — no gradient iterations, no float accumulation drift,
    no second data pass.
    """
    g = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    x1 = F.col(x1_col).cast("long")
    x2 = F.col(x2_col).cast("long")
    y = F.col(y_col).cast("long")
    m = df.groupBy(*g).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(_acc(x1, wide)).alias("_s1"),
        F.sum(_acc(x2, wide)).alias("_s2"),
        F.sum(_acc(y, wide)).alias("_sy"),
        F.sum(_acc(x1 * x1, wide)).alias("_s11"),
        F.sum(_acc(x2 * x2, wide)).alias("_s22"),
        F.sum(_acc(x1 * x2, wide)).alias("_s12"),
        F.sum(_acc(x1 * y, wide)).alias("_s1y"),
        F.sum(_acc(x2 * y, wide)).alias("_s2y"),
    )
    n = F.col("_n").cast("double")
    s1, s2, sy = (F.col(c).cast("double") for c in ("_s1", "_s2", "_sy"))
    s11, s22, s12 = (
        F.col(c).cast("double") for c in ("_s11", "_s22", "_s12")
    )
    s1y, s2y = F.col("_s1y").cast("double"), F.col("_s2y").cast("double")
    # | n   s1   s2  |        | sy  s1  s2 |
    # | s1  s11  s12 |  det;  | s1y s11 s12| -> b0 numerator, etc.
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    ok = F.abs(det) > 1e-9
    return m.select(
        *g,
        F.col("_n").alias("n_rows"),
        F.when(ok, F.round(det0 / det, 6)).alias("b0"),
        F.when(ok, F.round(det1 / det, 6)).alias("b1"),
        F.when(ok, F.round(det2 / det, 6)).alias("b2"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    metric_col: str,
) -> DataFrame:
    """Kruskal-Wallis H test — the k-group generalization of
    ``rank_sum_test`` (one-way ANOVA on ranks): does ANY of k variants
    shift the metric's distribution, with no normality assumption.

        H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)
        H_corrected = H / (1 − Σ(t³−t)/(N³−N))    (tie correction)

    χ²-distributed with k−1 df under H₀.

    SCALE SHAPE: identical to ``rank_sum_test`` — tie-averaged ranks
    depend only on the value histogram, so the raw frame collapses to
    per-(group, value) cells in one map-combined aggregate, the
    exclusive count prefix rides the two-phase ``global_prefix_sum``
    over DISTINCT values, and each group's rank sum is Σ c·(doubled
    rank)/2 — exact half-integers, no single-partition sort window
    anywhere (plan-linted). Returns one row: (k_groups, n_total,
    h_stat, h_stat_corrected, df) — NULLs when every value ties
    (correction denominator 0) or N < 2.
    """
    from .windows import global_prefix_sum

    cells = df.groupBy(
        F.col(group_col).alias("_g"), F.col(metric_col).alias("_m")
    ).agg(F.count(F.lit(1)).alias("_c"))
    hist = cells.groupBy("_m").agg(F.sum("_c").alias("_t"))
    pref = global_prefix_sum(hist, "_m", "_t", alias="_pref")
    ranked = cells.join(pref, "_m").select(
        "_g",
        "_c",
        (2 * F.col("_pref") + F.col("_t") + 1).alias("_ar2"),
    )
    per = ranked.groupBy("_g").agg(
        F.sum("_c").alias("_n"),
        (F.sum(F.col("_c") * F.col("_ar2")).cast("double") / 2).alias(
            "_rsum"
        ),
    )
    ties = hist.agg(
        F.sum(
            F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
        ).alias("_tie3")
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("_n").alias("n_total"),
        F.sum(F.col("_rsum") * F.col("_rsum") / F.col("_n")).alias(
            "_rr"
        ),
    ).crossJoin(F.broadcast(ties))
    n = F.col("n_total").cast("double")
    h = F.lit(12.0) / (n * (n + 1)) * F.col("_rr") - 3 * (n + 1)
    denom = F.lit(1.0) - F.col("_tie3").cast("double") / (n * n * n - n)
    ok = (F.col("n_total") > 1) & (denom > 0)
    return agg.select(
        "k_groups",
        "n_total",
        F.when(F.col("n_total") > 1, F.round(h, 6)).alias("h_stat"),
        F.when(ok, F.round(h / denom, 6)).alias("h_stat_corrected"),
        (F.col("k_groups") - 1).alias("dof"),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    metric_col: str,
    wide: bool = True,
) -> DataFrame:
    """One-way ANOVA F test on EXACT integer moments — the parametric
    companion to ``kruskal_wallis`` (and the k-group generalization of
    ``welch_ttest``'s pooled form): per group (n, Σx, Σx²) in one
    map-combined aggregate, then

        SSB = Σ_g S_g²/n_g − S²/N,   SSW = Σ_g Q_g − Σ_g S_g²/n_g
        F = (SSB/(k−1)) / (SSW/(N−k)),   η² = SSB/SST

    Inputs must be integer-valued (pre-scale to cents like
    ``regression_by``); the group moments are order-independent longs,
    so the statistic hash-adjudicates bit-exact. One aggregate over
    the data + one #groups-row fold — nothing else. Returns
    (k_groups, n_total, f_stat, eta_squared, dof_between, dof_within),
    NULL F where SSW = 0 or dof degenerate.
    """
    x = F.col(metric_col).cast("long")
    per = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(_acc(x, wide)).alias("_s"),
        F.sum(_acc(x * x, wide)).alias("_q"),
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("_n").alias("n_total"),
        F.sum("_s").alias("_st"),
        F.sum("_q").alias("_qt"),
        F.sum(
            F.col("_s").cast("double")
            * F.col("_s").cast("double")
            / F.col("_n")
        ).alias("_sg2"),
    )
    n = F.col("n_total").cast("double")
    k = F.col("k_groups").cast("double")
    ssb = F.col("_sg2") - F.col("_st").cast("double") * F.col(
        "_st"
    ).cast("double") / n
    ssw = F.col("_qt").cast("double") - F.col("_sg2")
    sst = ssb + ssw
    ok = (F.col("k_groups") > 1) & (F.col("n_total") > F.col("k_groups"))
    fstat = (ssb / (k - 1)) / (ssw / (n - k))
    return agg.select(
        "k_groups",
        "n_total",
        F.when(ok & (ssw > 0), F.round(fstat, 6)).alias("f_stat"),
        F.when(sst > 0, F.round(ssb / sst, 6)).alias("eta_squared"),
        (F.col("k_groups") - 1).alias("dof_between"),
        (F.col("n_total") - F.col("k_groups")).alias("dof_within"),
    )


def ridge2_by(
    df: DataFrame,
    group_cols,
    x1_col: str,
    x2_col: str,
    y_col: str,
    lam: int,
    wide: bool = True,
) -> DataFrame:
    """Distributed two-feature RIDGE regression with an unpenalized
    intercept — ``ols2_by``'s L2-regularized sibling, and the same
    scale shape: the whole training run is ONE map-side-combinable
    aggregate of exact integer co-moments, then a fixed per-group
    double expression (Cramer's rule).

    Solves the penalized normal equations (X'X + λD)β = X'y with
    D = diag(0, 1, 1) over raw (uncentered) features: slope
    coefficients shrink toward 0 as λ grows, the intercept absorbs the
    mean. In moment space the penalty is just two integer additions —
    s11 → s11 + λ and s22 → s22 + λ — so with an INTEGER ``lam`` the
    solve stays a deterministic expression the oracle mirrors verbatim
    (float λ would break the exact-moment hash contract the same way
    float DSR weights would; rejected).

    Because the penalty makes the matrix strictly diagonally dominant
    for λ > 0, ridge also repairs ``ols2_by``'s NULL-on-collinear
    edge: duplicate features get identical (finite) split weights
    instead of a singular system. det≈0 guard retained for λ = 0.
    Returns (group, n_rows, b0, b1, b2) rounded to 6 dp.
    """
    if int(lam) != lam or lam < 0:
        raise ValueError("lam must be a non-negative integer")
    g = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    x1 = F.col(x1_col).cast("long")
    x2 = F.col(x2_col).cast("long")
    y = F.col(y_col).cast("long")
    m = df.groupBy(*g).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(_acc(x1, wide)).alias("_s1"),
        F.sum(_acc(x2, wide)).alias("_s2"),
        F.sum(_acc(y, wide)).alias("_sy"),
        F.sum(_acc(x1 * x1, wide)).alias("_s11"),
        F.sum(_acc(x2 * x2, wide)).alias("_s22"),
        F.sum(_acc(x1 * x2, wide)).alias("_s12"),
        F.sum(_acc(x1 * y, wide)).alias("_s1y"),
        F.sum(_acc(x2 * y, wide)).alias("_s2y"),
    )
    n = F.col("_n").cast("double")
    s1, s2, sy = (F.col(c).cast("double") for c in ("_s1", "_s2", "_sy"))
    s11 = (F.col("_s11") + F.lit(int(lam))).cast("double")
    s22 = (F.col("_s22") + F.lit(int(lam))).cast("double")
    s12 = F.col("_s12").cast("double")
    s1y, s2y = F.col("_s1y").cast("double"), F.col("_s2y").cast("double")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    ok = F.abs(det) > 1e-9
    return m.select(
        *g,
        F.col("_n").alias("n_rows"),
        F.when(ok, F.round(det0 / det, 6)).alias("b0"),
        F.when(ok, F.round(det1 / det, 6)).alias("b1"),
        F.when(ok, F.round(det2 / det, 6)).alias("b2"),
    )


def auc_by(
    df: DataFrame,
    group_cols,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact ROC-AUC per group from the Mann-Whitney U statistic:
    AUC = (Σ ranks of positives − n₊(n₊+1)/2) / (n₊·n₋), with ties
    handled by AVERAGE rank — the textbook-exact value, not a
    trapezoid approximation over thresholded buckets.

    Rank machinery is integer-exact and engine-portable: row_number in
    (score, then a deterministic arbitrary order) → average per
    (group, score) tie class → sums. One sort-shuffle for the ranks,
    one aggregate; no thresholds grid, no per-point curve
    materialization. Groups missing a class return NULL (AUC is
    undefined). Returns (group, n_pos, n_neg, auc) with auc rounded
    to 6 dp — the model-eval step after ``model_score``-style scoring.
    """
    g = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    rn = F.row_number().over(
        Window.partitionBy(*g).orderBy(F.col(score_col))
    )
    ranked = df.select(
        *g,
        F.col(score_col).alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
        rn.alias("_rn"),
    )
    # average rank within the (group, score) tie class — ties share it,
    # which is what makes tied scores contribute exactly 1/2
    avg_r = F.avg("_rn").over(
        Window.partitionBy(*g, "_s")
    )
    ranked = ranked.select(*g, "_y", avg_r.alias("_ar"))
    agg = ranked.groupBy(*g).agg(
        F.sum(F.when(F.col("_y") == 1, F.col("_ar"))).alias("_rpos"),
        F.sum(F.when(F.col("_y") == 1, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("_y") == 0, 1).otherwise(0)).alias("n_neg"),
    )
    npos = F.col("n_pos").cast("double")
    nneg = F.col("n_neg").cast("double")
    auc = (F.col("_rpos") - npos * (npos + 1) / 2) / (npos * nneg)
    return agg.select(
        *g,
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0), F.round(auc, 6)
        ).alias("auc"),
    )


def js_divergence(
    ref: DataFrame,
    cur: DataFrame,
    bucket_col: str,
) -> DataFrame:
    """Jensen-Shannon divergence between two bucketed distributions:
    JSD = ½Σ p·ln(p/m) + ½Σ q·ln(q/m) with m = (p+q)/2 — the
    symmetric, bounded (≤ ln 2) complement to ``psi_drift``: PSI blows
    up on vanishing buckets (hence its smoothing knob); JSD needs no
    smoothing because a bucket absent from one side contributes the
    finite ½·q·ln 2.

    Exact integer bucket counts; probabilities and the log expression
    are one mirrored final double computation. Both inputs aggregate
    to #buckets rows before the tiny full-outer join — two map-side-
    combined scans, no row-level shuffle. Returns one row
    (n_ref, n_cur, n_buckets, jsd) rounded to 6.
    """
    r = ref.groupBy(F.col(bucket_col).alias("_b")).agg(
        F.count(F.lit(1)).alias("_nr")
    )
    c = cur.groupBy(F.col(bucket_col).alias("_b")).agg(
        F.count(F.lit(1)).alias("_nc")
    )
    tr = ref.count()
    tc = cur.count()
    j = r.join(c, "_b", "full").select(
        F.coalesce("_nr", F.lit(0)).alias("_nr"),
        F.coalesce("_nc", F.lit(0)).alias("_nc"),
    )
    p = F.col("_nr").cast("double") / F.lit(float(tr))
    q = F.col("_nc").cast("double") / F.lit(float(tc))
    m = (p + q) / 2
    term = (
        F.when(F.col("_nr") > 0, p * F.log(p / m) / 2).otherwise(F.lit(0.0))
        + F.when(F.col("_nc") > 0, q * F.log(q / m) / 2).otherwise(F.lit(0.0))
    )
    return j.agg(
        F.lit(tr).alias("n_ref"),
        F.lit(tc).alias("n_cur"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.sum(term), 6).alias("jsd"),
    )


def cuped_lift(
    df: DataFrame,
    variant_col: str,
    metric_col: str,
    covariate_col: str,
    metric_is_cents: bool = True,
    covariate_is_cents: bool = True,
    wide: bool = True,
) -> DataFrame:
    """Experiment readout with CUPED variance reduction (Deng et al.,
    WSDM'13): per variant, the adjusted metric mean
    ȳ_adj = ȳ − θ(x̄ − x̄_pool), with θ = cov(x, y)/var(x) estimated
    on the POOLED population from its pre-experiment covariate — the
    standard trick that removes covariate noise from the lift estimate
    without biasing it (E[x] is variant-independent under proper
    randomization).

    Everything reduces to exact integer co-moments (global n, Σx, Σy,
    Σxx, Σxy + per-variant n, Σx, Σy) — ONE scan, two map-side-
    combined aggregates, and one mirrored final double expression, so
    the readout is bit-stable at any parallelism. θ is NULL-guarded on
    zero covariate variance (adjusted mean falls back to the raw
    mean). Returns one row per variant: (variant, n_units, mean_raw,
    mean_adjusted, theta) rounded to 6.
    """
    x = (
        _cents(F.col(covariate_col))
        if covariate_is_cents
        else F.col(covariate_col).cast("long")
    )
    y = (
        _cents(F.col(metric_col))
        if metric_is_cents
        else F.col(metric_col).cast("long")
    )
    g = df.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(_acc(x, wide)).alias("_sx"),
        F.sum(_acc(y, wide)).alias("_sy"),
        F.sum(_acc(x * x, wide)).alias("_sxx"),
        F.sum(_acc(x * y, wide)).alias("_sxy"),
    )
    per = df.groupBy(F.col(variant_col).alias("variant")).agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum(_acc(x, wide)).alias("_vx"),
        F.sum(_acc(y, wide)).alias("_vy"),
    )
    n = F.col("_n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, sxy = F.col("_sxx").cast("double"), F.col("_sxy").cast("double")
    varx = n * sxx - sx * sx
    theta = F.when(varx > 0, (n * sxy - sx * sy) / varx)
    vn = F.col("n_units").cast("double")
    y_div = 100.0 if metric_is_cents else 1.0
    # θ carries units y-int per x-int, so the adjustment happens in
    # integer units and ONLY the final y value is rendered (/100 for a
    # cents metric)
    mean_raw_i = F.col("_vy").cast("double") / vn
    mean_x_i = F.col("_vx").cast("double") / vn
    pool_x_i = sx / n
    adj_i = mean_raw_i - F.coalesce(theta, F.lit(0.0)) * (
        mean_x_i - pool_x_i
    )
    return per.crossJoin(F.broadcast(g)).select(
        "variant",
        "n_units",
        F.round(mean_raw_i / y_div, 6).alias("mean_raw"),
        F.round(adj_i / y_div, 6).alias("mean_adjusted"),
        F.round(theta, 6).alias("theta"),
    )


def spearman_by(
    df: DataFrame,
    group_cols,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Spearman rank correlation — Pearson on AVERAGE ranks
    (ties share their tie-class mean rank, the textbook-exact
    treatment, not the no-ties shortcut formula). The monotone-
    association complement to ``corr_exact``: immune to outliers and
    to any monotone rescaling of either column.

    Exactness: average ranks are multiples of ½, so DOUBLED ranks are
    integers and the five co-moments are exact integer sums — the same
    order-independent discipline as ``corr_exact``, with one mirrored
    final double expression (the doubling cancels in the normalized
    ratio). NULL on degenerate (constant) columns. Returns (group...,
    n_rows, spearman_rho) rounded to 6.

    SCALE SHAPE: per-group tie-averaged ranks depend only on the
    per-group VALUE HISTOGRAM — doubled rank of value v in group g is
    2·(#values < v in g) + t_v + 1. The raw frame collapses to joint
    (group, x, y) cells in one map-combined aggregate; each axis's
    exclusive count prefix comes from ``grouped_prefix_sum`` (range-
    partitioned on (group, value), so a hot group SPANS partitions
    instead of serializing one task — the former
    ``row_number().over(Window.partitionBy(g).orderBy(v))`` form put
    each group's whole sort on a single core); ranks join back to the
    joint cells on (group, value) and the five co-moments are
    cell-count-weighted exact integer sums — bit-identical to the
    per-row formulation at any parallelism."""
    from .windows import grouped_prefix_sum

    g = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    joint = df.groupBy(
        *[F.col(c) for c in g],
        F.col(x_col).alias("_xv"),
        F.col(y_col).alias("_yv"),
    ).agg(F.count(F.lit(1)).alias("_c"))

    def ranks2(value_alias, out_alias):
        hist = joint.groupBy(*g, value_alias).agg(F.sum("_c").alias("_t"))
        pref = grouped_prefix_sum(hist, g, value_alias, "_t", alias="_pref")
        return pref.select(
            *[F.col(k).alias(f"_g_{i}") for i, k in enumerate(g)],
            F.col(value_alias).alias("_jv"),
            (2 * F.col("_pref") + F.col("_t") + 1).alias(out_alias),
        )

    def nsjoin(left, rank_tab, value_alias):
        # null-safe: NULL values and NULL group keys are real rank
        # classes (window partitioning treated them as groups)
        cond = F.col(value_alias).eqNullSafe(F.col("_jv"))
        for i, k in enumerate(g):
            cond = cond & F.col(k).eqNullSafe(F.col(f"_g_{i}"))
        return left.join(rank_tab, cond).drop(
            "_jv", *[f"_g_{i}" for i in range(len(g))]
        )

    ranked = nsjoin(joint, ranks2("_xv", "_rx"), "_xv")
    ranked = nsjoin(ranked, ranks2("_yv", "_ry"), "_yv")
    rx, ry, cnt = F.col("_rx"), F.col("_ry"), F.col("_c")

    def wsum(term):
        return F.sum(cnt.cast("decimal(38,0)") * term)

    m = ranked.groupBy(*g).agg(
        F.sum(cnt).alias("_n"),
        wsum(rx).alias("_sx"),
        wsum(ry).alias("_sy"),
        wsum(rx * rx).alias("_sxx"),
        wsum(ry * ry).alias("_syy"),
        wsum(rx * ry).alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return m.select(
        *g,
        F.col("_n").alias("n_rows"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round((n * sxy - sx * sy) / F.sqrt(vx * vy), 6),
        ).alias("spearman_rho"),
    )


def welch_ttest(
    df: DataFrame,
    variant_col: str,
    metric_col: str,
    metric_is_cents: bool = True,
    wide: bool = True,
) -> DataFrame:
    """Two-sample Welch's t-test between exactly two variants: t and
    Welch-Satterthwaite df from per-variant exact integer moments —
    the parametric A/B significance readout, one scan, bit-stable at
    any parallelism (the test statistic is one mirrored double
    expression over order-independent sums).

    Expects exactly two variant values (the smaller sorts first as
    variant_a). Sample variances use n−1; groups with n<2 or zero
    variance on both sides yield NULL t. Returns one row: (variant_a,
    variant_b, n_a, n_b, mean_a, mean_b, t_stat, df) rounded to 6.
    """
    y = (
        _cents(F.col(metric_col))
        if metric_is_cents
        else F.col(metric_col).cast("long")
    )
    m = (
        df.groupBy(F.col(variant_col).alias("_v"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(_acc(y, wide)).alias("_s1"),
            F.sum(_acc(y * y, wide)).alias("_s2"),
        )
    )
    a = m.orderBy("_v").limit(1).select(
        F.col("_v").alias("variant_a"),
        F.col("_n").alias("n_a"),
        F.col("_s1").alias("_s1a"),
        F.col("_s2").alias("_s2a"),
    )
    b = m.orderBy(F.col("_v").desc()).limit(1).select(
        F.col("_v").alias("variant_b"),
        F.col("_n").alias("n_b"),
        F.col("_s1").alias("_s1b"),
        F.col("_s2").alias("_s2b"),
    )
    # documented two-variant precondition: with 3+ variants the
    # min/max-variant selection silently drops the middle ones, so the
    # stats are gated NULL unless exactly 2 variants exist (lazy-safe:
    # the count is a one-row aggregate folded into the expression)
    nv = m.agg(F.count(F.lit(1)).alias("_nv"))
    j = a.crossJoin(b).crossJoin(nv)
    div = 100.0 if metric_is_cents else 1.0

    def stats(n, s1, s2):
        nn = F.col(n).cast("double")
        m_ = F.col(s1).cast("double") / nn
        var = (F.col(s2).cast("double") - nn * m_ * m_) / (nn - 1)
        return m_, var

    ma, va = stats("n_a", "_s1a", "_s2a")
    mb, vb = stats("n_b", "_s1b", "_s2b")
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    dof = se2 * se2 / (
        (va / na) * (va / na) / (na - 1)
        + (vb / nb) * (vb / nb) / (nb - 1)
    )
    ok = (
        (F.col("_nv") == 2)
        & (F.col("n_a") >= 2)
        & (F.col("n_b") >= 2)
        & (se2 > 0)
    )
    return j.select(
        "variant_a",
        "variant_b",
        "n_a",
        "n_b",
        F.round(ma / div, 6).alias("mean_a"),
        F.round(mb / div, 6).alias("mean_b"),
        F.when(ok, F.round(t, 6)).alias("t_stat"),
        F.when(ok, F.round(dof, 6)).alias("df"),
    )


def rank_sum_test(
    df: DataFrame,
    variant_col: str,
    metric_col: str,
) -> DataFrame:
    """Mann-Whitney/Wilcoxon rank-sum z between exactly two variants,
    WITH the tie correction — the nonparametric A/B test that needs no
    distributional assumption and shrugs off outliers (the companion
    to ``welch_ttest``; ``auc_by`` reports the same U as an effect
    size).

    U from average ranks (integer-exact via the tie-class machinery),
    σ² = n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1))) over exact tie
    counts, z = (U − n_a·n_b/2)/σ — one mirrored final expression.
    NULL z when every value ties (σ = 0). Returns (variant_a,
    variant_b, n_a, n_b, u_stat, z_stat) rounded to 6.

    SCALE SHAPE: tie-averaged ranks depend only on the VALUE
    HISTOGRAM, never on individual rows — the tie class at value v has
    doubled average rank 2·(#values < v) + t_v + 1 (an exact integer).
    So the raw frame collapses to per-(variant, value) cells in one
    map-combined aggregate, the exclusive count prefix comes from the
    two-phase distributed ``global_prefix_sum`` over the histogram
    (one row per DISTINCT value), and rank sums are Σ cell·rank —
    there is NO global single-partition sort window anywhere in the
    plan (the former ``row_number().over(Window.orderBy(...))`` form
    moved every row to one task; see test_plans.py's no-single-
    partition-WindowExec pin). Doubled ranks keep everything integer-
    exact: Σ c·(2·pref + t + 1) fits a long to ~3·10⁹ rows, and the
    halved double is a sum of half-integers — bit-identical to the
    per-row formulation at any parallelism."""
    from .windows import global_prefix_sum

    cells = df.groupBy(
        F.col(variant_col).alias("_v"), F.col(metric_col).alias("_m")
    ).agg(F.count(F.lit(1)).alias("_c"))
    hist = cells.groupBy("_m").agg(F.sum("_c").alias("_t"))
    pref = global_prefix_sum(hist, "_m", "_t", alias="_pref")
    ranked = cells.join(pref, "_m").select(
        "_v",
        "_c",
        (2 * F.col("_pref") + F.col("_t") + 1).alias("_ar2"),
    )
    ties = hist.agg(
        F.sum(
            F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
        ).alias("_tie3")
    )
    per = ranked.groupBy("_v").agg(
        F.sum("_c").alias("_n"),
        (F.sum(F.col("_c") * F.col("_ar2")).cast("double") / 2).alias(
            "_rsum"
        ),
    )
    a = per.orderBy("_v").limit(1).select(
        F.col("_v").alias("variant_a"),
        F.col("_n").alias("n_a"),
        F.col("_rsum").alias("_ra"),
    )
    b = per.orderBy(F.col("_v").desc()).limit(1).select(
        F.col("_v").alias("variant_b"), F.col("_n").alias("n_b")
    )
    # documented two-variant precondition (see welch_ttest): with 3+
    # variants the ranks and tie correction would silently cover ALL
    # rows while U covers only the extreme variants — gate the stats
    # NULL unless exactly 2 variants exist
    nv = per.agg(F.count(F.lit(1)).alias("_nv"))
    j = a.crossJoin(b).crossJoin(ties).crossJoin(nv)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = na + nb
    u = F.col("_ra") - na * (na + 1) / 2
    var = na * nb / 12 * (
        (n + 1) - F.col("_tie3").cast("double") / (n * (n - 1))
    )
    z = (u - na * nb / 2) / F.sqrt(var)
    two = F.col("_nv") == 2
    return j.select(
        "variant_a",
        "variant_b",
        "n_a",
        "n_b",
        F.when(two, F.round(u, 6)).alias("u_stat"),
        F.when(two & (var > 0), F.round(z, 6)).alias("z_stat"),
    )


def bh_adjust(
    df: DataFrame,
    p_col: str,
    key_cols=(),
) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment over a frame of p-values (one
    row per hypothesis): adj_p_i = min_{j ≥ i} (p_(j) · n / j), capped
    at 1 — the multiple-testing control every metric sweep needs
    before declaring winners.

    Rank by (p, key) for a total order, compute p·n/rank, then the
    suffix-min via a backwards-unbounded window — two windows over one
    global sort (the hypothesis frame is #tests rows, tiny by
    construction; this is a post-aggregation operator, never applied
    to raw data). Returns key cols + (p_value, adj_p) rounded to 9.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w_rank = Window.orderBy(F.col(p_col), *[F.col(k) for k in keys])
    n = df.count()
    ranked = df.select(
        *keys,
        F.col(p_col).alias("p_value"),
        F.row_number().over(w_rank).alias("_rk"),
    )
    stepped = ranked.select(
        *keys,
        "p_value",
        "_rk",
        (F.col("p_value") * F.lit(float(n)) / F.col("_rk")).alias("_step"),
    )
    w_suffix = Window.orderBy("_rk").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    return stepped.select(
        *keys,
        "p_value",
        F.round(
            F.least(F.min("_step").over(w_suffix), F.lit(1.0)), 9
        ).alias("adj_p"),
    )


def _weighted_strict_inversions(xs, ys, ws) -> int:
    """Σ w_i·w_j over pairs of cells with x_i < x_j AND y_i > y_j
    (both strict) — the discordant-pair count when each cell carries
    the multiplicity of a distinct (x, y) value. Lexsort by (x, y)
    ascending, then count weighted strict inversions of the y sequence
    with a vectorized merge pass (``np.searchsorted`` per level —
    O(n log² n), no Python-level element loop). Pairs with equal x sit
    y-ascending after the lexsort so they contribute nothing; pairs
    with equal y fail the strict comparison. Pure integer arithmetic —
    exact."""
    import numpy as np

    order = np.lexsort((ys, xs))
    y = np.asarray(ys, dtype="int64")[order]
    w = np.asarray(ws, dtype="int64")[order]

    def rec(a, wt):
        n = len(a)
        if n < 2:
            return 0, a, wt
        m = n // 2
        c1, la, lw = rec(a[:m], wt[:m])
        c2, ra, rw = rec(a[m:], wt[m:])
        # for each right element: total left weight strictly above it
        pos = np.searchsorted(la, ra, side="right")
        lpref = np.concatenate(([0], np.cumsum(lw)))
        cross = int((rw * (lpref[-1] - lpref[pos])).sum())
        mo = np.argsort(np.concatenate((la, ra)), kind="stable")
        merged = np.concatenate((la, ra))[mo]
        mw = np.concatenate((lw, rw))[mo]
        return c1 + c2 + cross, merged, mw

    return rec(y, w)[0]


def kendall_tau_by(
    df: DataFrame,
    group_cols,
    x_col: str,
    y_col: str,
    num_buckets: int = 16,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-group Kendall's τ-b — the third rank-association measure
    (with ``corr_exact`` and ``spearman_by``), with full tie
    correction: τ_b = (C − D)/√((n₀−n₁)(n₀−n₂)).

    C − D has no SQL-aggregate form (it is a pairwise order statistic),
    but it DOES distribute — this is a two-phase bucketed
    decomposition, not a one-task-per-group Arrow batch (a 100× hot
    group must not land on a single core):

    1. bucketize x and y with ``width_bucket`` over per-group min/max
       (pure codegen, broadcast-joined bounds; equal values always
       share a bucket, so cross-bucket inequalities are strict);
    2. the discordant-pair count D then splits exactly into
         D = Σ_grid  n_i·n_j          (xb_i < xb_j, yb_i > yb_j —
                                       a product of bucket-cell counts,
                                       one map-combined aggregate +
                                       a ≤B²-cells-per-group self-join)
           + Σ_xb  inv(rows in xb)    (same x-bucket)
           + Σ_yb  inv(rows in yb) − Σ_(xb,yb) inv(rows in cell)
                                      (same y-bucket, different xb)
       where inv(·) is a vectorized Knight merge count
       (``_weighted_strict_inversions``). The inv terms run as TWO
       ``applyInPandas`` passes keyed on (group, bucket) — the
       per-(xb, yb)-cell term is a sub-partition of the x-bucket task
       and rides along in it — so the hottest group spreads over
       num_buckets tasks, each holding ~1/num_buckets of its rows;
    3. n₀ and the tie terms are exact run-length counts folded into
       the same passes (x never spans x-buckets, y never spans
       y-buckets; joint ties come from (x, y) run boundaries, never a
       packed x·2³²+y key — no overflow/collision at any magnitude);
    4. C − D = n₀ − ties_x − ties_y + ties_xy − 2D, τ-b in one final
       expression over one row per group.

    The whole operator is 2 full-data shuffles (the two bucket-keyed
    Arrow passes) + 1 map-combined cell aggregate. ``width_bucket``
    bounds assume value ranges are not pathologically skewed WITHIN a
    group; balance only affects parallelism, never correctness.
    Inputs must be integer-valued. Exact integer arithmetic
    end-to-end, hash-checked against an O(n²) relational oracle (the
    oracle pays the quadratic pair join; the engine doesn't). NULL τ
    on degenerate (all-tied) columns. With ``weight_col``, each row
    counts as w duplicate observations (the pre-aggregated-cells
    form — feed groupBy(x, y).count() output and get bit-identical
    results to the raw rows at a fraction of the shuffle volume; the
    Knight kernel and every tie/grid term are weight-aware). Returns
    (group..., n_rows, tau_b) rounded to 6."""
    import numpy as np
    import pandas as pd

    g = [group_cols] if isinstance(group_cols, str) else list(group_cols)

    w_expr = (
        F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    )
    base = df.select(*g, F.col(x_col).cast("long").alias("_x"),
                     F.col(y_col).cast("long").alias("_y"),
                     w_expr.alias("_w"))
    bounds = base.groupBy(*g).agg(
        F.min("_x").alias("_x0"), F.max("_x").alias("_x1"),
        F.min("_y").alias("_y0"), F.max("_y").alias("_y1"),
    )
    bucketed = (
        base.join(F.broadcast(bounds), g)
        .select(
            *g, "_x", "_y", "_w",
            F.width_bucket("_x", "_x0", F.col("_x1") + 1,
                           F.lit(num_buckets)).alias("xb"),
            F.width_bucket("_y", "_y0", F.col("_y1") + 1,
                           F.lit(num_buckets)).alias("yb"),
        )
    )
    bucketed = bucketed.localCheckpoint(eager=False)

    # grid term: cross-bucket strict dominance is a pure product of
    # bucket-cell counts (≤ num_buckets² cells per group)
    grid = bucketed.groupBy(*g, "xb", "yb").agg(
        F.sum("_w").alias("gw")
    )
    lo = grid.select(*g, F.col("xb").alias("xb1"),
                     F.col("yb").alias("yb1"), F.col("gw").alias("gw1"))
    hi = grid.select(*g, F.col("xb").alias("xb2"),
                     F.col("yb").alias("yb2"), F.col("gw").alias("gw2"))
    d_grid = (
        lo.join(hi, g)
        .where((F.col("xb1") < F.col("xb2")) & (F.col("yb1") > F.col("yb2")))
        .groupBy(*g)
        .agg(F.sum(F.col("gw1") * F.col("gw2")).alias("d_grid"))
    )

    g_schema = [f"{c} {t}" for c, t in df.select(*g).dtypes]

    def _run_tie_pairs(starts, w):
        # Σ c(c−1)/2 where c = weighted run size, runs delimited by
        # `starts` bools over the sorted sequence
        idx = np.flatnonzero(starts)
        c = np.add.reduceat(w, idx)
        return int((c * (c - 1) // 2).sum())

    def xb_pass(pdf: pd.DataFrame) -> pd.DataFrame:
        # x values never span x-buckets, so the x-marginal and joint
        # tie terms (and the group size) partition cleanly across
        # x-bucket tasks and ride along with the inversion counts —
        # no separate tie-aggregation shuffles. Same for the per-
        # (xb, yb)-cell inversion term: a sub-partition of this task.
        x = pdf["_x"].values
        y = pdf["_y"].values
        w = pdf["_w"].values.astype("int64")
        inv = _weighted_strict_inversions(x, y, w)
        cell_inv = 0
        for _, sub in pdf.groupby("yb", sort=False):
            if len(sub) > 1:
                cell_inv += _weighted_strict_inversions(
                    sub["_x"].values, sub["_y"].values,
                    sub["_w"].values.astype("int64"),
                )
        order = np.lexsort((y, x))
        xs, ys, ws = x[order], y[order], w[order]
        x_starts = np.concatenate(([True], xs[1:] != xs[:-1]))
        xy_starts = x_starts.copy()
        xy_starts[1:] |= ys[1:] != ys[:-1]
        tx = _run_tie_pairs(x_starts, ws)
        txy = _run_tie_pairs(xy_starts, ws)
        n_part = int(w.sum())
        return pd.DataFrame(
            [[*pdf.iloc[0][g].tolist(), inv, cell_inv, tx, txy, n_part]],
            columns=[*g, "inv", "cell_inv", "tx", "txy", "n_part"],
        )

    def yb_pass(pdf: pd.DataFrame) -> pd.DataFrame:
        y = pdf["_y"].values
        w = pdf["_w"].values.astype("int64")
        inv = _weighted_strict_inversions(pdf["_x"].values, y, w)
        order = np.argsort(y, kind="stable")
        ys, ws = y[order], w[order]
        ty = _run_tie_pairs(
            np.concatenate(([True], ys[1:] != ys[:-1])), ws
        )
        return pd.DataFrame(
            [[*pdf.iloc[0][g].tolist(), inv, ty]],
            columns=[*g, "inv", "ty"],
        )

    d_x_side = (
        bucketed.groupBy(*g, "xb")
        .applyInPandas(
            xb_pass,
            ", ".join(g_schema + ["inv long", "cell_inv long", "tx long",
                                  "txy long", "n_part long"]),
        )
        .groupBy(*g)
        .agg(F.sum("inv").alias("d_xb"),
             F.sum("cell_inv").alias("d_cell"),
             F.sum("tx").alias("tx"),
             F.sum("txy").alias("txy"),
             F.sum("n_part").alias("n_rows"))
    )
    d_y_side = (
        bucketed.groupBy(*g, "yb")
        .applyInPandas(yb_pass, ", ".join(g_schema + ["inv long",
                                                      "ty long"]))
        .groupBy(*g)
        .agg(F.sum("inv").alias("d_yb"), F.sum("ty").alias("ty"))
    )

    joined = (
        d_x_side.join(d_y_side, g)
        .join(d_grid, g, "left")
        .na.fill(0, ["d_grid"])
    )
    # integer division, not double `/`: n(n−1) exceeds 2^53 past ~134M
    # weighted rows per group and the double round-trip would silently
    # break the exact-integer-end-to-end contract (ADVICE r3)
    tot = F.expr("n_rows * (n_rows - 1) DIV 2")
    d = (
        F.col("d_grid") + F.col("d_xb") + F.col("d_yb") - F.col("d_cell")
    )
    ncd = tot - F.col("tx") - F.col("ty") + F.col("txy") - F.lit(2) * d
    denom2 = (tot - F.col("tx")) * (tot - F.col("ty"))
    return joined.select(
        *g,
        "n_rows",
        F.when(
            denom2 > 0,
            F.round(ncd / F.sqrt(denom2.cast("double")), 6),
        ).alias("tau_b"),
    )



def theil_sen_by(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Theil-Sen robust trend over the daily series: slope =
    median of all pairwise day-to-day slopes, intercept = median of
    (y − slope·day) — the estimator that shrugs off the outliers OLS
    (``regression_by``) chases, with a 29.3% breakdown point.

    Scale shape: the raw table collapses to one integer-cents row per
    (key, day) first (map-combined), so the quadratic pair join runs
    over CALENDAR-bounded series — #days² pairs per key, independent
    of corpus row count; a year of data is ~66k pairs per key no
    matter how many events back each day. Medians are the k-th
    smallest value (k = ⌈n/2⌉, the lower median) picked by window
    rank — tie order cannot change the selected VALUE, so the result
    is engine- and partition-stable. Slopes are exact-cents
    differences divided once; both medians round to 6.
    Returns (key, n_days, slope, intercept)."""
    daily = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.floor(
                F.unix_timestamp(F.date_trunc("day", F.col(ts_col)))
                / F.lit(86400)
            ).cast("long").alias("d"),
        )
        .agg(
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias("c")
        )
    )
    daily = daily.localCheckpoint(eager=False)
    a = daily.select("key", F.col("d").alias("d1"), F.col("c").alias("c1"))
    b = daily.select("key", F.col("d").alias("d2"), F.col("c").alias("c2"))
    slopes = (
        a.join(b, "key")
        .where(F.col("d1") < F.col("d2"))
        .select(
            "key",
            (
                (F.col("c2") - F.col("c1")).cast("double")
                / F.lit(100.0)
                / (F.col("d2") - F.col("d1")).cast("double")
            ).alias("s"),
        )
    )
    w_s = Window.partitionBy("key").orderBy("s")
    med_slope = (
        slopes.withColumn("_rk", F.row_number().over(w_s))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("key")))
        .where(F.col("_rk") == F.ceil(F.col("_n") / 2))
        .select("key", F.col("s").alias("slope"))
    )
    resid = daily.join(F.broadcast(med_slope), "key").select(
        "key",
        "slope",
        (
            F.col("c").cast("double") / F.lit(100.0)
            - F.col("slope") * F.col("d").cast("double")
        ).alias("r"),
    )
    w_r = Window.partitionBy("key").orderBy("r")
    return (
        resid.withColumn("_rk", F.row_number().over(w_r))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("key")))
        .where(F.col("_rk") == F.ceil(F.col("_n") / 2))
        .select(
            "key",
            F.col("_n").alias("n_days"),
            F.round("slope", 6).alias("slope"),
            F.round("r", 6).alias("intercept"),
        )
    )


def mann_kendall_by(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Mann-Kendall trend test over the daily series — the
    standard nonparametric "is there a monotone trend?" significance
    readout that pairs with ``theil_sen_by``'s magnitude (MK tells you
    whether, TS tells you how much).

    S = Σ_{i<j} sign(x_j − x_i) over the time-ordered daily values,
    Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18 with the tie
    correction over value tie-runs, z = (S − sign(S)) / √Var (the
    continuity-corrected normal approximation; z = 0 when S = 0).

    Same scale shape as Theil-Sen: integer-cents daily collapse first,
    so the pair join is calendar-bounded per key; S and the tie terms
    are exact integers (map-combined aggregates), and z is one
    mirrored double expression. NULL z when Var = 0 (all values
    tied). Returns (key, n_days, s_stat, z) rounded to 6."""
    daily = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.date_trunc("day", F.col(ts_col)).alias("day"),
        )
        .agg(
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias("c")
        )
    )
    daily = daily.localCheckpoint(eager=False)
    a = daily.select("key", F.col("day").alias("d1"), F.col("c").alias("c1"))
    b = daily.select("key", F.col("day").alias("d2"), F.col("c").alias("c2"))
    s = (
        a.join(b, "key")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("key")
        .agg(
            F.sum(F.signum(F.col("c2") - F.col("c1")).cast("long")).alias(
                "s_stat"
            )
        )
    )
    ties = (
        daily.groupBy("key", "c")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("key")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term"),
            F.sum("t").alias("n_days"),
        )
    )
    n = F.col("n_days").cast("double")
    var_s = (
        n * (n - 1) * (2 * n + 5) - F.col("tie_term").cast("double")
    ) / F.lit(18.0)
    z = F.when(
        F.col("s_stat") > 0,
        (F.col("s_stat") - 1).cast("double") / F.sqrt(var_s),
    ).when(
        F.col("s_stat") < 0,
        (F.col("s_stat") + 1).cast("double") / F.sqrt(var_s),
    ).otherwise(F.lit(0.0))
    return s.join(ties, "key").select(
        "key",
        "n_days",
        "s_stat",
        F.when(var_s > 0, F.round(z, 6)).alias("z"),
    )


def gini_by(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Gini coefficient over integer cents — the concentration
    readout (revenue inequality, corpus source imbalance) that
    ``key_skew_profile`` approximates with a top-n cut: G = (2·Σ i·x₍ᵢ₎
    − (n+1)·Σx) / (n·Σx) over ascending-sorted values, 1-indexed.

    Σ i·x₍ᵢ₎ is tie-proof (permuting equal values cannot change it),
    so the row_number sort key needs no tiebreak column; all evidence
    (Σx, Σ i·x, n) is exact integers from one windowed pass + one
    map-combined aggregate, and G is a single mirrored double
    expression. One shuffle on the key. NULL G when Σx = 0.
    Returns (key, n_rows, gini) rounded to 6."""
    c = F.round(F.col(value_col) * 100).cast("long")
    w = Window.partitionBy("key").orderBy("c")
    ranked = (
        df.select(F.col(key_col).alias("key"), c.alias("c"))
        .withColumn("_i", F.row_number().over(w))
    )
    agg = ranked.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("c").alias("_sx"),
        F.sum(F.col("_i") * F.col("c")).alias("_six"),
    )
    n = F.col("n_rows").cast("double")
    sx = F.col("_sx").cast("double")
    gini = (
        (2.0 * F.col("_six").cast("double") - (n + 1) * sx) / (n * sx)
    )
    return agg.select(
        "key",
        "n_rows",
        F.when(F.col("_sx") != 0, F.round(gini, 6)).alias("gini"),
    )


def entropy_by(
    df: DataFrame,
    key_col: str,
    cat_col: str,
) -> DataFrame:
    """Per-key Shannon entropy (nats) of a categorical distribution —
    the diversity readout for corpus mixes and label balance:
    H = ln(n) − (1/n)·Σ c·ln(c) over exact integer category counts,
    one map-combined aggregate tree and one mirrored double
    expression. Also reports the normalized H/ln(k) (NULL when only
    one category). Returns (key, n_rows, n_categories, entropy,
    entropy_norm) rounded to 6."""
    counts = df.groupBy(
        F.col(key_col).alias("key"), F.col(cat_col).alias("_cat")
    ).agg(F.count(F.lit(1)).alias("_c"))
    agg = counts.groupBy("key").agg(
        F.sum("_c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_categories"),
        F.sum(
            F.col("_c").cast("double") * F.log(F.col("_c").cast("double"))
        ).alias("_clogc"),
    )
    n = F.col("n_rows").cast("double")
    h = F.log(n) - F.col("_clogc") / n
    return agg.select(
        "key",
        "n_rows",
        "n_categories",
        F.round(h, 6).alias("entropy"),
        F.when(
            F.col("n_categories") > 1,
            F.round(h / F.log(F.col("n_categories").cast("double")), 6),
        ).alias("entropy_norm"),
    )


def trimmed_mean_by(
    df: DataFrame,
    key_col: str,
    value_col: str,
    trim_frac: float = 0.05,
) -> DataFrame:
    """Per-key symmetric trimmed mean — the robust location aggregate
    every metric pipeline reaches for when ``winsorize_by`` (which
    clamps) isn't wanted: drop the lowest and highest ⌊n·frac⌋
    values, average the rest.

    Exactness: rank by (value, then rank-stability is irrelevant —
    equal values are interchangeable in both the cut and the sum),
    k = floor(n·frac) computed from exact integers, the kept sum is
    an exact integer-cents aggregate, and the mean divides once —
    bit-stable at any parallelism and mirrored verbatim by the
    oracle. One shuffle on the key. Returns (key, n_rows, n_trimmed,
    trimmed_mean) rounded to 6; NULL mean if the trim empties the
    key."""
    c = F.round(F.col(value_col) * 100).cast("long")
    w = Window.partitionBy("key").orderBy("c")
    wk = Window.partitionBy("key")
    ranked = (
        df.select(F.col(key_col).alias("key"), c.alias("c"))
        .withColumn("_i", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wk))
        .withColumn(
            "_k", F.floor(F.col("_n") * F.lit(trim_frac)).cast("long")
        )
    )
    kept = (F.col("_i") > F.col("_k")) & (
        F.col("_i") <= F.col("_n") - F.col("_k")
    )
    return (
        ranked.groupBy("key")
        .agg(
            F.max("_n").alias("n_rows"),
            (F.lit(2) * F.max("_k")).alias("n_trimmed"),
            F.sum(F.when(kept, F.col("c"))).alias("_s"),
            F.sum(kept.cast("long")).alias("_m"),
        )
        .select(
            "key",
            "n_rows",
            "n_trimmed",
            F.when(
                F.col("_m") > 0,
                F.round(
                    F.col("_s").cast("double")
                    / F.col("_m").cast("double")
                    / 100.0,
                    6,
                ),
            ).alias("trimmed_mean"),
        )
    )


def ks_test(
    df: DataFrame,
    variant_col: str,
    metric_col: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between exactly two variants:
    D = max_x |F_a(x) − F_b(x)| — the distribution-shape complement to
    ``rank_sum_test`` (which only sees location): detects variance and
    shape shifts a rank test misses. Also reports the KS z-scale
    statistic D·√(n_a·n_b/(n_a+n_b)) and the location achieving D.

    INTEGER-EXACT: the empirical CDFs step only at distinct values, so
    D_int = max over the VALUE HISTOGRAM of
    |cum_a·n_b − cum_b·n_a| is a pure integer max (exact to n_a·n_b ~
    9·10¹⁸) and D = D_int/(n_a·n_b) is one final division — order-
    independent, engine-identical, any parallelism.

    SCALE SHAPE: one map-combined histogram aggregate, then BOTH
    variants' cumulative counts from a single multi-column
    ``global_prefix_sum`` pass (one shuffle over #distinct-value rows,
    no single-task window), then bounded one-row reductions. The raw
    frame is touched once. Two-variant gate as in ``welch_ttest``.
    Returns (variant_a, variant_b, n_a, n_b, d_stat, d_location,
    ks_z) rounded to 6."""
    from .windows import global_prefix_sum

    cells = df.groupBy(
        F.col(variant_col).alias("_v"), F.col(metric_col).alias("_m")
    ).agg(F.count(F.lit(1)).alias("_c"))
    per = cells.groupBy("_v").agg(F.sum("_c").alias("_n"))
    a = per.orderBy("_v").limit(1).select(
        F.col("_v").alias("variant_a"), F.col("_n").alias("n_a")
    )
    b = per.orderBy(F.col("_v").desc()).limit(1).select(
        F.col("_v").alias("variant_b"), F.col("_n").alias("n_b")
    )
    nv = per.agg(F.count(F.lit(1)).alias("_nv"))
    names = a.crossJoin(b).crossJoin(nv)
    hist = (
        cells.crossJoin(F.broadcast(names.select("variant_a", "variant_b")))
        .groupBy("_m")
        .agg(
            F.sum(
                F.when(F.col("_v") == F.col("variant_a"), F.col("_c"))
                .otherwise(F.lit(0))
            ).alias("_ca"),
            F.sum(
                F.when(F.col("_v") == F.col("variant_b"), F.col("_c"))
                .otherwise(F.lit(0))
            ).alias("_cb"),
        )
    )
    pref = global_prefix_sum(hist, "_m", ["_ca", "_cb"], ["_pa", "_pb"])
    scored = pref.crossJoin(F.broadcast(names.select("n_a", "n_b")))
    diff = F.abs(
        (F.col("_pa") + F.col("_ca")) * F.col("n_b")
        - (F.col("_pb") + F.col("_cb")) * F.col("n_a")
    )
    dmax = scored.select(diff.alias("_d"), "_m").agg(
        F.max("_d").alias("_dint")
    )
    loc = (
        scored.select(diff.alias("_d"), "_m")
        .crossJoin(F.broadcast(dmax))
        .filter(F.col("_d") == F.col("_dint"))
        .agg(F.min("_m").alias("d_location"))
    )
    j = names.crossJoin(dmax).crossJoin(loc)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    d = F.col("_dint").cast("double") / (na * nb)
    z = d * F.sqrt(na * nb / (na + nb))
    two = F.col("_nv") == 2
    return j.select(
        "variant_a",
        "variant_b",
        "n_a",
        "n_b",
        F.when(two, F.round(d, 6)).alias("d_stat"),
        F.when(two, F.col("d_location")).alias("d_location"),
        F.when(two, F.round(z, 6)).alias("ks_z"),
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns, plus
    both marginal entropies and the normalized MI
    (MI/√(H_x·H_y)) — the feature-selection / redundancy screen that
    ``chi_square_assoc`` approximates linearly; MI captures ANY
    dependence. One row out: (n, n_x, n_y, mi_nats, h_x, h_y, nmi).

    Exactness discipline (same as ``chi_square_assoc``): each cell's
    contribution p·ln(p/(p_x·p_y)) is an explicitly sequenced float
    expression mirrored in the oracle, rounded onto a 10⁻⁹ lattice and
    summed as exact integer nano-units — order-free at any
    parallelism. NULL nmi when either marginal entropy is 0.

    SCALE SHAPE: the contingency table is one groupBy(x, y) — at most
    |X|·|Y| rows; margins are aggregates of THAT table, never a second
    corpus scan; scalar totals ride along as broadcast one-row
    frames."""
    obs = (
        df.select(
            F.col(x_col).cast("string").alias("_x"),
            F.col(y_col).cast("string").alias("_y"),
        )
        .filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
        .groupBy("_x", "_y")
        .agg(F.count(F.lit(1)).alias("_o"))
        .localCheckpoint(eager=False)
    )
    rx = obs.groupBy("_x").agg(F.sum("_o").alias("_rx"))
    cy = obs.groupBy("_y").agg(F.sum("_o").alias("_cy"))
    tot = obs.agg(
        F.sum("_o").alias("_n"),
        F.count_distinct("_x").alias("_nx"),
        F.count_distinct("_y").alias("_ny"),
    )
    n = F.col("_n").cast("double")
    mi_term = (
        (F.col("_o").cast("double") / n)
        * F.log(
            F.col("_o").cast("double") * n
            / (F.col("_rx").cast("double") * F.col("_cy"))
        )
    )
    nano = lambda c: F.round(c * F.lit(1e9), 0).cast("long")  # noqa: E731
    mi = (
        obs.join(F.broadcast(rx), "_x")
        .join(F.broadcast(cy), "_y")
        .crossJoin(F.broadcast(tot))
        .select(nano(mi_term).alias("_mt"), "_n", "_nx", "_ny")
        .groupBy("_n", "_nx", "_ny")
        .agg(F.sum("_mt").alias("_mi_nano"))
    )
    hx_term = -(F.col("_rx").cast("double") / n) * F.log(
        F.col("_rx").cast("double") / n
    )
    hy_term = -(F.col("_cy").cast("double") / n) * F.log(
        F.col("_cy").cast("double") / n
    )
    hx = (
        rx.crossJoin(F.broadcast(tot.select("_n")))
        .select(nano(hx_term).alias("_ht"))
        .agg(F.sum("_ht").alias("_hx_nano"))
    )
    hy = (
        cy.crossJoin(F.broadcast(tot.select("_n")))
        .select(nano(hy_term).alias("_ht"))
        .agg(F.sum("_ht").alias("_hy_nano"))
    )
    j = mi.crossJoin(hx).crossJoin(hy)
    mi_d = F.col("_mi_nano") / F.lit(1e9)
    hx_d = F.col("_hx_nano") / F.lit(1e9)
    hy_d = F.col("_hy_nano") / F.lit(1e9)
    return j.select(
        F.col("_n").alias("n"),
        F.col("_nx").alias("n_x"),
        F.col("_ny").alias("n_y"),
        F.round(mi_d, 6).alias("mi_nats"),
        F.round(hx_d, 6).alias("h_x"),
        F.round(hy_d, 6).alias("h_y"),
        F.when(
            (F.col("_hx_nano") > 0) & (F.col("_hy_nano") > 0),
            F.round(mi_d / F.sqrt(hx_d * hy_d), 6),
        ).alias("nmi"),
    )


def pr_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Precision-recall AUC by the step rule at distinct-score
    thresholds (ties collapse into one threshold — the deterministic,
    engine-portable convention): AP = Σ_t (ΔR_t)·P_t with thresholds
    descending, P from cumulative counts. The right headline metric
    when positives are rare and ROC-AUC (``auc_by``) looks deceptively
    good.

    SCALE SHAPE: the raw frame collapses to the SCORE HISTOGRAM
    (pos, tot per distinct score) in one map-combined aggregate; both
    cumulative counts come from a single multi-column
    ``global_prefix_sum`` over descending score (one shuffle over
    #distinct-score rows, no single-task window). Per-threshold terms
    are rounded onto a 10⁻⁹ lattice and summed as exact integer
    nano-units — order-free. Returns one row (n, n_pos, pr_auc);
    NULL pr_auc when no positives."""
    from .windows import global_prefix_sum

    hist = (
        df.select(
            F.col(score_col).alias("_s"),
            F.col(label_col).cast("long").alias("_y"),
        )
        .groupBy("_s")
        .agg(F.sum("_y").alias("_pos"), F.count(F.lit(1)).alias("_tot"))
        .withColumn("_negs", -F.col("_s"))
    )
    pref = global_prefix_sum(
        hist, "_negs", ["_pos", "_tot"], ["_ppos", "_ptot"]
    )
    tot = hist.agg(
        F.sum("_tot").alias("_n"), F.sum("_pos").alias("_npos")
    )
    cum_pos = (F.col("_ppos") + F.col("_pos")).cast("double")
    cum_tot = (F.col("_ptot") + F.col("_tot")).cast("double")
    # ANSI-safe: with zero positives the quotient is never consumed
    # (pr_auc is gated NULL), but the division still must not throw
    term = F.when(
        F.col("_npos") > 0,
        (F.col("_pos").cast("double") / F.col("_npos"))
        * (cum_pos / cum_tot),
    ).otherwise(F.lit(0.0))
    nano = F.round(term * F.lit(1e9), 0).cast("long")
    agg = (
        pref.crossJoin(F.broadcast(tot))
        .select(nano.alias("_t"), "_n", "_npos")
        .groupBy("_n", "_npos")
        .agg(F.sum("_t").alias("_ap_nano"))
    )
    return agg.select(
        F.col("_n").alias("n"),
        F.col("_npos").alias("n_pos"),
        F.when(
            F.col("_npos") > 0,
            F.round(F.col("_ap_nano") / F.lit(1e9), 6),
        ).alias("pr_auc"),
    )


# Poisson(1) CDF thresholds on the md5 8-hex-digit lattice
# (floor(P(X<=k) * 16^8) for k = 0..6; residual mass -> weight 7).
# Pinned so the Spark operator and any SQL oracle derive the IDENTICAL
# replica weights from the identical hash bytes.
POISSON1_HEX_THRESHOLDS = (
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797",
    "ff1025f5", "ffd90f3b", "fffa8b71",
)


def bootstrap_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    n_replicas: int = 64,
    alpha: float = 0.05,
    salt: str = "",
) -> DataFrame:
    """Percentile bootstrap confidence interval for the mean, with
    DETERMINISTIC Poisson resampling: replica b gives row i the weight
    w = Poisson(1)-inverse-CDF(u) where u is the md5(salt ∥ b ∥ id)
    hex prefix — the standard Poisson bootstrap (each bootstrap draw's
    multinomial row count converges to independent Poisson(1) at
    scale), made reproducible on any engine because the "randomness"
    is a pure per-(row, replica) hash expression against the pinned
    ``POISSON1_HEX_THRESHOLDS`` lattice (the ``hash_split`` idiom).

    SCALE SHAPE: one ×B narrow explode (id, cents, b — the documented
    cost of any bootstrap), map-side-combined exact integer sums per
    replica → B rows, percentile_disc over the B replica means (B
    rows, driver-trivial). No per-row Python, no rand() partition-
    order dependence anywhere. Groups with zero total weight (only
    possible on tiny inputs) drop from the percentile. Returns one
    row (n, n_replicas, mean, ci_lo, ci_hi) rounded to 6; the CI is
    the (α/2, 1−α/2) percentile-disc pair of replica means."""
    cents = _cents(F.col(value_col))
    base = df.select(
        F.col(id_col).cast("string").alias("_id"), cents.alias("_c")
    )
    rep = base.select(
        "_id", "_c",
        F.explode(F.sequence(F.lit(0), F.lit(n_replicas - 1))).alias("_b"),
    )
    prefix = F.substring(
        F.md5(
            F.concat(
                F.lit(salt), F.col("_b").cast("string"), F.lit(":"),
                F.col("_id"),
            )
        ),
        1,
        8,
    )
    w = sum(
        (prefix >= F.lit(t)).cast("long")
        for t in POISSON1_HEX_THRESHOLDS
    )
    per = rep.select("_b", "_c", w.alias("_w")).groupBy("_b").agg(
        F.sum(F.col("_w") * F.col("_c")).alias("_s"),
        F.sum("_w").alias("_m"),
    )
    means = per.filter(F.col("_m") > 0).select(
        (F.col("_s").cast("double") / F.col("_m") / 100.0).alias("_mb")
    )
    lo, hi = alpha / 2, 1 - alpha / 2
    ci = means.agg(
        F.expr(
            f"percentile_disc({lo}) WITHIN GROUP (ORDER BY _mb)"
        ).alias("_lo"),
        F.expr(
            f"percentile_disc({hi}) WITHIN GROUP (ORDER BY _mb)"
        ).alias("_hi"),
    )
    full = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("_c").alias("_sc")
    )
    return full.crossJoin(ci).select(
        "n",
        F.lit(n_replicas).alias("n_replicas"),
        F.round(F.col("_sc").cast("double") / F.col("n") / 100.0, 6).alias(
            "mean"
        ),
        F.round(F.col("_lo"), 6).alias("ci_lo"),
        F.round(F.col("_hi"), 6).alias("ci_hi"),
    )


def pr_auc_by(
    df: DataFrame,
    group_cols,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Per-group precision-recall AUC — the grouped sibling of
    ``pr_auc`` (same step rule at distinct-score thresholds, ties
    collapsed), for per-slice model evaluation (per language, per
    source, per segment).

    SCALE SHAPE: per-(group, score) histogram in one map-combined
    aggregate, then BOTH cumulative counts from one multi-column
    ``grouped_prefix_sum`` pass (range-partitioned on (group, -score):
    a hot group's threshold scan SPANS partitions — no per-group
    single-task sort window). Per-threshold terms on the 1e-9 lattice
    summed as exact integer nano-units. Returns (group..., n, n_pos,
    pr_auc) — NULL pr_auc for groups with no positives."""
    from .windows import grouped_prefix_sum

    g = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    hist = (
        df.select(
            *g,
            F.col(score_col).alias("_s"),
            F.col(label_col).cast("long").alias("_y"),
        )
        .groupBy(*g, "_s")
        .agg(F.sum("_y").alias("_pos"), F.count(F.lit(1)).alias("_tot"))
        .withColumn("_negs", -F.col("_s"))
    )
    pref = grouped_prefix_sum(
        hist, g, "_negs", ["_pos", "_tot"], ["_ppos", "_ptot"]
    )
    tot = hist.groupBy(*g).agg(
        F.sum("_tot").alias("_n"), F.sum("_pos").alias("_npos")
    )
    joined = pref.join(F.broadcast(tot), g)
    cum_pos = (F.col("_ppos") + F.col("_pos")).cast("double")
    cum_tot = (F.col("_ptot") + F.col("_tot")).cast("double")
    term = F.when(
        F.col("_npos") > 0,
        (F.col("_pos").cast("double") / F.col("_npos"))
        * (cum_pos / cum_tot),
    ).otherwise(F.lit(0.0))
    nano = F.round(term * F.lit(1e9), 0).cast("long")
    agg = (
        joined.select(*g, nano.alias("_t"), "_n", "_npos")
        .groupBy(*g, "_n", "_npos")
        .agg(F.sum("_t").alias("_ap_nano"))
    )
    return agg.select(
        *g,
        F.col("_n").alias("n"),
        F.col("_npos").alias("n_pos"),
        F.when(
            F.col("_npos") > 0,
            F.round(F.col("_ap_nano") / F.lit(1e9), 6),
        ).alias("pr_auc"),
    )


def ks_test_by(
    df: DataFrame,
    group_cols,
    variant_col: str,
    metric_col: str,
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov D — the grouped sibling
    of ``ks_test`` (same integer-exact histogram max), for per-slice
    distribution-shift screens. Variant labels are global min/max of
    ``variant_col`` (the two-arm contract); groups where both arms are
    present get D and KS z, one-armed groups get NULLs.

    SCALE SHAPE: per-(group, value) two-arm histogram, both cumulative
    counts from one multi-column ``grouped_prefix_sum`` (hot groups
    span partitions), integer max per group. Returns (group...,
    variant_a, variant_b, n_a, n_b, d_stat, ks_z) rounded to 6."""
    from .windows import grouped_prefix_sum

    g = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    base = df.select(
        *g,
        F.col(variant_col).alias("_v"),
        F.col(metric_col).alias("_m"),
    )
    arms = base.select("_v").distinct().agg(
        F.min("_v").alias("variant_a"),
        F.max("_v").alias("variant_b"),
        F.count(F.lit(1)).alias("_nv"),
    )
    hist = (
        base.crossJoin(F.broadcast(arms))
        .groupBy(*g, "_m")
        .agg(
            F.sum(
                F.when(F.col("_v") == F.col("variant_a"), 1).otherwise(0)
            ).alias("_ca"),
            F.sum(
                F.when(F.col("_v") == F.col("variant_b"), 1).otherwise(0)
            ).alias("_cb"),
        )
    )
    pref = grouped_prefix_sum(
        hist, g, "_m", ["_ca", "_cb"], ["_pa", "_pb"]
    )
    per = hist.groupBy(*g).agg(
        F.sum("_ca").alias("n_a"), F.sum("_cb").alias("n_b")
    )
    joined = pref.join(F.broadcast(per), g)
    diff = F.abs(
        (F.col("_pa") + F.col("_ca")) * F.col("n_b")
        - (F.col("_pb") + F.col("_cb")) * F.col("n_a")
    )
    agg = (
        joined.select(*g, diff.alias("_d"), "n_a", "n_b")
        .groupBy(*g, "n_a", "n_b")
        .agg(F.max("_d").alias("_dint"))
        .crossJoin(F.broadcast(arms))
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ok = (F.col("_nv") == 2) & (F.col("n_a") > 0) & (F.col("n_b") > 0)
    d = F.when(ok, F.col("_dint").cast("double") / (na * nb))
    z = d * F.sqrt(na * nb / (na + nb))
    return agg.select(
        *g,
        "variant_a",
        "variant_b",
        "n_a",
        "n_b",
        F.round(d, 6).alias("d_stat"),
        F.round(z, 6).alias("ks_z"),
    )


def _kll_quantile_bounds(df, cols, value_col, pcts, aliases, k):
    """One mergeable per-group KLL sketch, several quantile reads.

    Integral value columns use the bigint sketch (the estimate is a
    real data value, returned in the input's own dtype); everything
    else goes through the double sketch. The sketch state is O(k log n)
    per group REGARDLESS of group size — the property the exact
    ``percentile_disc`` arm lacks (its per-group sort buffer grows with
    the group), making this the 100 TB arm of winsorize/robust-scale.
    """
    vtype = df.schema[value_col].dataType
    integral = vtype.simpleString() in (
        "tinyint", "smallint", "int", "bigint",
    )
    if integral:
        agg_fn = F.kll_sketch_agg_bigint
        get_fn = F.kll_sketch_get_quantile_bigint
        v = F.col(value_col).cast("long")
    else:
        agg_fn = F.kll_sketch_agg_double
        get_fn = F.kll_sketch_get_quantile_double
        v = F.col(value_col).cast("double")
    sk = df.groupBy(*cols).agg(agg_fn(v, F.lit(k)).alias("_kll"))
    reads = [
        get_fn(F.col("_kll"), F.lit(float(p))).cast(vtype).alias(a)
        for p, a in zip(pcts, aliases)
    ]
    return sk.select(*cols, *reads)


def winsorize_by_approx(
    df: DataFrame,
    group_cols,
    value_col: str,
    lower_pct: float = 0.05,
    upper_pct: float = 0.95,
    k: int = 200,
) -> DataFrame:
    """Approximate arm of ``winsorize_by``: clip bounds read off a
    mergeable per-group KLL sketch instead of exact percentile_disc.

    Same output contract (input + value_winsorized + was_clipped) and
    the same one-aggregate + broadcast-join + projection shape, but
    the aggregate carries O(k log n) sketch state per group instead of
    a full per-group sort — the documented scale path for million-row
    groups (``robust_scale_by`` docstring). KLL's guarantee is on RANK
    error (~1.7% two-sided at k=200), so the bounds land within
    ±ε of the requested percentiles' ranks; the clipped value is
    always a real data value of the input's own dtype."""
    cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    bounds = _kll_quantile_bounds(
        df, cols, value_col, [lower_pct, upper_pct], ["_lo", "_hi"], k
    )
    v = F.col(value_col)
    return (
        df.join(F.broadcast(bounds), cols)
        .select(
            "*",
            F.least(F.greatest(v, F.col("_lo")), F.col("_hi")).alias(
                "value_winsorized"
            ),
            ((v < F.col("_lo")) | (v > F.col("_hi"))).alias("was_clipped"),
        )
        .drop("_lo", "_hi")
    )


def robust_scale_by_approx(
    df: DataFrame,
    group_cols,
    value_col: str,
    clip_lower: float = 0.05,
    clip_upper: float = 0.95,
    k: int = 200,
) -> DataFrame:
    """Approximate arm of ``robust_scale_by``: all five order
    statistics (clip lo/hi, q1, median, q3) are reads off ONE
    mergeable per-group KLL sketch — one aggregate with bounded state,
    one broadcast join, projection clip+scale. Groups with zero
    estimated IQR yield NULL ``value_scaled`` (same contract as the
    exact arm)."""
    cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    bounds = _kll_quantile_bounds(
        df,
        cols,
        value_col,
        [clip_lower, clip_upper, 0.25, 0.5, 0.75],
        ["_lo", "_hi", "_q1", "_med", "_q3"],
        k,
    )
    v = F.col(value_col)
    clipped = F.least(F.greatest(v, F.col("_lo")), F.col("_hi"))
    iqr = F.col("_q3") - F.col("_q1")
    return (
        df.join(F.broadcast(bounds), cols)
        .select(
            "*",
            clipped.alias("value_winsorized"),
            ((v < F.col("_lo")) | (v > F.col("_hi"))).alias("was_clipped"),
            F.when(
                iqr != 0,
                F.round((clipped - F.col("_med")) / iqr, 6),
            ).alias("value_scaled"),
        )
        .drop("_lo", "_hi", "_q1", "_med", "_q3")
    )


def _fit_cells(df: DataFrame, cols):
    """Collapse identical fit rows to (pattern, ``_w`` count) cells —
    the r10 optimization shared by the whole GLM family (guide §1.2
    step 1: remove passes; §2.3: aggregate before you shuffle).

    Complete cases only (R's ``na.omit``): rows with a null/NaN in any
    of ``cols`` are dropped first, so every consumer — gradient,
    information, meat — sees the same rows.

    BIT-EXACT by construction: every per-row nano-lattice term the
    scoring aggregates sum is a pure function of the referenced
    columns, so rows with identical ``cols`` contribute IDENTICAL
    rounded longs and Σ_rows round(expr·1e9) = Σ_cells _w·round(
    expr·1e9) — the same exact-long total in any order.

    Cost/benefit: ONE map-side-combined aggregate + count job up
    front (the count also materializes the lazy checkpoint, so every
    scoring iteration reads the tiny pinned frame instead of
    re-scanning the cohort). When the cohort does NOT collapse
    (more distinct patterns than the one driver-collect cap in
    driverfit.py — e.g. a continuous covariate at production scale),
    falls back to the raw projection with ``_w`` = 1: the only waste
    is the one probe pass, and every iteration scans the projection.

    Returns ``(src, w, pdf)`` — the frame to aggregate over, its
    ``_w`` weight column to multiply each rounded-long term by, and
    (r10 driver-solve fast path, driverfit.py) the COLLECTED cells as
    a pandas frame when the collapse is bounded and fully finite, else
    ``None``. ``driverfit.fold`` runs a fit's numpy kernel on ``pdf``
    when it is not None, else over the batches of ``src``."""
    proj = df.select(*cols).dropna()
    cells = (
        proj.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("_w"))
        .localCheckpoint(eager=False)
    )
    pdf = collect_bounded(cells)
    if pdf is None:
        proj = proj.withColumn("_w", F.lit(1).cast("long"))
        return proj, F.col("_w"), None
    # ±inf keys stay in Spark: the other consumers' driver twins do not
    # reproduce their lattice semantics
    return cells, F.col("_w"), pdf if cells_clean(pdf, cols) else None


def _glm_fit(
    fit, df, feature_cols, y_col, offset_col, iters, return_se, srcw,
    link,
):
    """Fisher scoring shared by ``glm_poisson`` and ``glm_logistic``,
    with ``link`` the numpy kernel: ``link(η)`` returns per-cell arrays
    (mean, weight) for g_j = Σ(y − mean)x_j and I_jk = Σ weight·x_j·x_k
    (x₀ ≡ 1). Each iteration is one ``driverfit.fold`` of the kernel
    over ``_fit_cells``' (src, w, pdf): every term·1e9 is rounded to an
    exact int64 point, times the cell count ``_w``, and summed without
    wrapping (a term outside int64 raises ``"<fit>: lattice
    overflow"``). The driver solves the (p+1)×(p+1) system and rounds β
    to 9 dp per iteration; the SEs come from the information matrix of
    the penultimate iterate."""
    import numpy as np

    iters = int(iters)
    if iters < 1:
        raise ValueError(f"{fit}: iters must be >= 1")
    feats = list(feature_cols)
    p = len(feats)
    if srcw is None:
        srcw = _fit_cells(
            df,
            list(
                dict.fromkeys(
                    feats + [y_col] + ([offset_col] if offset_col else [])
                )
            ),
        )
    src, _, pdf = srcw

    def moments(beta, b):
        w = b["_w"].to_numpy().astype(np.int64)
        xs = [1.0] + [b[c].to_numpy().astype(np.float64) for c in feats]
        eta = (
            b[offset_col].to_numpy().astype(np.float64)
            if offset_col
            else np.zeros(len(b))
        ) + beta[0]
        for j in range(p):
            eta = eta + beta[j + 1] * xs[j + 1]
        mean, weight = link(eta)
        r = b[y_col].to_numpy().astype(np.float64) - mean
        return [exact_sum(fit, r * x * 1e9, w) for x in xs] + [
            exact_sum(fit, weight * xs[j] * xs[k] * 1e9, w)
            for j in range(p + 1)
            for k in range(j, p + 1)
        ]

    upper = [(j, k) for j in range(p + 1) for k in range(j, p + 1)]
    beta = [0.0] * (p + 1)
    for _ in range(iters):
        tot = fold(src, pdf, functools.partial(moments, beta))
        if not tot:
            raise ValueError(f"{fit}: empty input")
        tot = [v / 1e9 for v in tot]
        info = np.zeros((p + 1, p + 1))
        for (j, k), v in zip(upper, tot[p + 1:]):
            info[j, k] = info[k, j] = v
        step = np.linalg.solve(info, np.array(tot[: p + 1]))
        beta = [round(b + s, 9) for b, s in zip(beta, step)]
    if return_se:
        cov = np.linalg.inv(info)
        return beta, [
            round(float(np.sqrt(cov[j, j])), 9) for j in range(p + 1)
        ]
    return beta


def glm_poisson(
    df: DataFrame,
    feature_cols,
    y_col: str,
    offset_col: str | None = None,
    iters: int = 8,
    return_se: bool = False,
    _srcw=None,
):
    """Distributed Poisson GLM with log link and optional exposure
    offset — the rates regression (deaths ~ covariates + ln(person-
    time)) that complements the family's OLS/ridge (``ols2_by``),
    logistic (``llm/inference.py::logistic_train``) and quantile
    (``quantile_regression``) members, and the registry workhorse for
    incidence/mortality modelling: y_i ~ Poisson(exp(β₀ + β·x_i +
    offset_i)). Returns [β₀, β_1, ..., β_p].

    Fisher scoring (≡ Newton-Raphson for the canonical log link) on
    complete cases: each iteration folds its numpy link kernel over
    the weighted cells (``_glm_fit``; on the driver when the cells are
    bounded, else per Arrow batch in Spark) into the p+1 gradient
    components g_j = Σ(y−μ)x_j and the (p+1)(p+2)/2
    information cells I_jk = Σ μ·x_j·x_k, every per-row term rounded
    onto the 1e-9 nano-lattice and summed as exact integers — so the
    fit is BIT-IDENTICAL under any partitioning (the
    cox_ph/logistic_train contract); the driver solves the
    (p+1)×(p+1) system and rounds β to 9 dp per iteration.

    With ``return_se=True`` the Wald SEs come from the information
    matrix of the PENULTIMATE iterate (the one that produced the
    final β) — the cox_ph convention; at convergence the two
    matrices agree to well past the reported 9 dp. Requires
    ``iters >= 1``."""
    import numpy as np

    def link(eta):  # the _glm_fit kernel: mean = weight = e^η
        mu = np.exp(eta)
        return mu, mu

    return _glm_fit(
        "glm_poisson", df, feature_cols, y_col, offset_col, iters,
        return_se, _srcw, link,
    )


def glm_logistic(
    df: DataFrame,
    feature_cols,
    y_col: str,
    iters: int = 8,
    return_se: bool = False,
    _srcw=None,
):
    """Distributed logistic regression by IRLS / Fisher scoring —
    the Newton-converging sibling of ``llm/inference.py::
    logistic_train`` (plain gradient descent, ~100 passes at a tuned
    lr): g_j = Σ(y−p)x_j, I_jk = Σ p(1−p)x_j x_k with p = σ(β₀+β·x),
    one fold of its link kernel per iteration (the
    ``glm_poisson`` mechanism), quadratic convergence in ~6-8 passes
    with NO learning rate to tune. Returns [β₀, β_1, ..., β_p],
    bit-identical under any partitioning (the glm_poisson/cox_ph
    exactness contract).

    With ``return_se=True`` the Wald SEs come from the information
    matrix of the PENULTIMATE iterate (the one that produced the
    final β) — the cox_ph convention; at convergence the two
    matrices agree to well past the reported 9 dp. Requires
    ``iters >= 1``."""
    import numpy as np

    def link(eta):  # the _glm_fit kernel: p = σ(η), weight p(1−p)
        prob = 1.0 / (1.0 + np.exp(-eta))
        return prob, prob * (1.0 - prob)

    return _glm_fit(
        "glm_logistic", df, feature_cols, y_col, None, iters, return_se,
        _srcw, link,
    )


def diff_in_diff(
    df: DataFrame,
    treated_col: str,
    post_col: str,
    value_col: str,
) -> DataFrame:
    """Classic 2×2 difference-in-differences: the workhorse
    quasi-experimental readout when a feature launches for one group
    mid-stream and randomization wasn't available —

        DiD = (ȳ_treated,post − ȳ_treated,pre)
            − (ȳ_control,post − ȳ_control,pre)

    identifying the treatment effect under parallel trends. The SE is
    the four-cell Welch form √(Σ_c s²_c/n_c) (cells independent), and
    t = DiD/SE.

    Exactness: cell sums ride the integer-cents lattice
    (sum of round(y·100) longs) and cell sum-of-squares the micro
    lattice, so every published number is an order-independent
    integer fold divided once at the end — bit-exact vs the SQL
    mirror. ONE map-side-combinable aggregate over the four cells;
    the 2×2 combination is a broadcast-sized pivot.

    Returns one row: n_/mean_ per cell (control_pre, control_post,
    treated_pre, treated_post), did_effect, se, t_stat.

    An EMPTY cell fails fast (VERDICT r05 advice): a mislabeled
    treated/post column would otherwise surface as silent NULL
    means/se/t_stat (n=0 division yields NULL in Spark); instead the
    job raises naming the empty cell(s).
    """
    t = F.col(treated_col).cast("int")
    p = F.col(post_col).cast("int")
    y = F.col(value_col).cast("double")
    cents = F.round(y * 100, 0).cast("long")
    sq_micro = F.round(y * y * F.lit(1000000.0), 0).cast("long")
    cells = df.groupBy(t.alias("_t"), p.alias("_p")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(cents).alias("_s"),
        F.sum(sq_micro).alias("_q"),
    )
    # fold the four cells wide in one pass (deterministic keys)
    wide = cells.agg(
        *[
            agg
            for tt in (0, 1)
            for pp in (0, 1)
            for agg in (
                F.sum(
                    F.when((F.col("_t") == tt) & (F.col("_p") == pp),
                           F.col("_n")).otherwise(F.lit(0))
                ).alias(f"n_{tt}{pp}"),
                F.sum(
                    F.when((F.col("_t") == tt) & (F.col("_p") == pp),
                           F.col("_s")).otherwise(F.lit(0))
                ).alias(f"s_{tt}{pp}"),
                F.sum(
                    F.when((F.col("_t") == tt) & (F.col("_p") == pp),
                           F.col("_q")).otherwise(F.lit(0))
                ).alias(f"q_{tt}{pp}"),
            )
        ]
    )

    # n==0 / n==1 cells are when-guarded so ANSI divide-by-zero can't
    # pre-empt the named empty-cell raise below
    def mean(tt, pp):
        n = F.col(f"n_{tt}{pp}")
        return F.when(n > 0, F.col(f"s_{tt}{pp}") / 100.0 / n)

    def var(tt, pp):
        n = F.col(f"n_{tt}{pp}")
        m = mean(tt, pp)
        return F.when(
            n > 1,
            (F.col(f"q_{tt}{pp}") / 1000000.0 - n * m * m) / (n - 1),
        )

    did = (mean(1, 1) - mean(1, 0)) - (mean(0, 1) - mean(0, 0))
    se = F.sqrt(
        sum(var(tt, pp) / F.col(f"n_{tt}{pp}")
            for tt in (0, 1) for pp in (0, 1))
    )
    out = [F.col(f"n_{tt}{pp}").alias(
        f"n_{'treated' if tt else 'control'}_{'post' if pp else 'pre'}")
        for tt in (0, 1) for pp in (0, 1)]
    out += [F.round(mean(tt, pp), 6).alias(
        f"mean_{'treated' if tt else 'control'}_{'post' if pp else 'pre'}")
        for tt in (0, 1) for pp in (0, 1)]
    empties = F.concat_ws(
        ",",
        *[
            F.when(
                F.col(f"n_{tt}{pp}") == 0,
                F.lit(
                    f"{'treated' if tt else 'control'}_"
                    f"{'post' if pp else 'pre'}"
                ),
            )
            for tt in (0, 1)
            for pp in (0, 1)
        ],
    )
    all_cells = functools.reduce(
        lambda a, b: a & b,
        [
            F.col(f"n_{tt}{pp}") > 0
            for tt in (0, 1)
            for pp in (0, 1)
        ],
    )
    guarded_did = F.when(all_cells, F.round(did, 6)).otherwise(
        F.raise_error(
            F.concat(
                F.lit("diff_in_diff: empty cell(s): "), empties
            )
        ).cast("double")
    )
    return wide.select(
        *out,
        guarded_did.alias("did_effect"),
        F.round(se, 6).alias("se"),
        F.round(did / se, 6).alias("t_stat"),
    )


def msprt_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tau: float = 1.0,
    alpha: float = 0.05,
) -> DataFrame:
    """Two-sample mixture sequential probability ratio test (mSPRT,
    Johari et al. 2017 — the "always-valid p-value" behind modern
    experimentation platforms): unlike the fixed-horizon t-test, the
    decision Λ > 1/α keeps its type-I guarantee under CONTINUOUS
    monitoring, so peeking at a running experiment is safe. With a
    N(0, τ²) mixing prior over the effect and per-arm variance σ²
    estimated from the data,

        Λ_n = √(2σ̄²/(2σ̄² + n τ²)) ·
              exp( n² τ² (x̄ − ȳ)² / (4σ̄² (2σ̄² + n τ²)) )

    (n = min(n_a, n_b), σ̄² = pooled variance). Reported on the log
    scale (log_lambda) so huge evidence doesn't overflow; rejected ⇔
    log Λ > ln(1/α).

    Exactness: all five moments per arm fold on the cents/micro
    lattices in ONE map-side aggregate; the statistic is a closed
    form of those integers — bit-exact vs the SQL mirror, and the
    same one-scan shape at any data size.

    Returns one row: n_a, n_b, mean_a, mean_b, pooled_var,
    log_lambda, rejected.
    """
    gvals = [
        r[0]
        for r in df.select(group_col).distinct().orderBy(group_col).collect()
    ]
    if len(gvals) != 2:
        raise ValueError(f"msprt needs exactly 2 groups, got {gvals}")
    a = (F.col(group_col) == F.lit(gvals[0])).cast("long")
    b = F.lit(1) - a
    y = F.col(value_col).cast("double")
    cents = F.round(y * 100, 0).cast("long")
    sq = F.round(y * y * F.lit(1000000.0), 0).cast("long")
    w = df.agg(
        F.sum(a).alias("n_a"),
        F.sum(b).alias("n_b"),
        F.sum(a * cents).alias("s_a"),
        F.sum(b * cents).alias("s_b"),
        F.sum(a * sq).alias("q_a"),
        F.sum(b * sq).alias("q_b"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    ma = F.col("s_a") / 100.0 / na
    mb = F.col("s_b") / 100.0 / nb
    va = (F.col("q_a") / 1000000.0 - na * ma * ma) / (na - 1)
    vb = (F.col("q_b") / 1000000.0 - nb * mb * mb) / (nb - 1)
    pooled = ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)
    n = F.least(na, nb).cast("double")
    t2 = F.lit(float(tau) * float(tau))
    d = ma - mb
    denom = F.lit(2.0) * pooled + n * t2
    log_lam = (
        F.lit(0.5) * F.log(F.lit(2.0) * pooled / denom)
        + n * n * t2 * d * d / (F.lit(4.0) * pooled * denom)
    )
    import math

    thresh = math.log(1.0 / float(alpha))
    return w.select(
        "n_a",
        "n_b",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(pooled, 6).alias("pooled_var"),
        F.round(log_lam, 6).alias("log_lambda"),
        (log_lam > thresh).alias("rejected"),
    )


def poisson_dispersion(
    df: DataFrame,
    feature_cols,
    beta,
    y_col: str,
    offset_col: str | None = None,
) -> DataFrame:
    """Quasi-Poisson overdispersion diagnostic at a fitted β: the
    Pearson dispersion φ̂ = Σ(y−μ)²/μ / (n − p). Poisson regression
    assumes Var = μ; real count data usually has Var = φμ with φ > 1,
    in which case every Poisson SE must be inflated by √φ (the
    quasi-Poisson correction) or the model swapped for negative
    binomial. Registries check this before publishing any rate model.

    One nano-lattice aggregate (per-row Pearson terms rounded before
    summing — partitioning-exact); returns one row: n, p_params,
    pearson_chi2, dispersion, overdispersed (φ > 1.5, the usual
    rule-of-thumb flag)."""
    feats = list(feature_cols)
    p = len(feats) + 1
    if len(beta) != p:
        raise ValueError("beta must include the intercept")
    nano = F.lit(1000000000.0)
    y = F.col(y_col).cast("double")
    off = F.col(offset_col).cast("double") if offset_col else F.lit(0.0)
    eta = off + F.lit(float(beta[0]))
    for j, c in enumerate(feats):
        eta = eta + F.lit(float(beta[j + 1])) * F.col(c).cast("double")
    mu = F.exp(eta)
    term = (y - mu) * (y - mu) / mu
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(term * nano, 0).cast("long")).alias("_chi"),
    )
    chi2 = F.col("_chi") / nano
    disp = chi2 / (F.col("n") - p)
    return agg.select(
        "n",
        F.lit(p).alias("p_params"),
        F.round(chi2, 6).alias("pearson_chi2"),
        F.round(disp, 6).alias("dispersion"),
        (disp > 1.5).alias("overdispersed"),
    )


def glm_poisson_robust_se(
    df: DataFrame,
    feature_cols,
    y_col: str,
    offset_col: str | None = None,
    iters: int = 8,
):
    """Poisson GLM with HETEROSKEDASTICITY-ROBUST (sandwich / HC0)
    standard errors — the modified-Poisson workhorse of modern
    epidemiology (Zou 2004: Poisson + robust SE estimates relative
    risks from binary outcomes without logistic's odds-ratio
    distortion; also the honest SE under any overdispersion):

        Cov(β̂) = I⁻¹ B I⁻¹,   B = Σ (y_i − μ_i)² x_i x_iᵀ

    Fit = ``glm_poisson`` exactly (β bit-identical, pinned); the meat
    matrix B costs ONE extra nano-lattice hash aggregate at the final
    iterate. Returns (β, robust_se)."""
    import numpy as np

    feats = list(feature_cols)
    # r10: one weighted-cell collapse shared by the fit AND the meat
    # pass (bit-exact — see _fit_cells)
    srcw = _fit_cells(
        df,
        list(
            dict.fromkeys(
                feats + [y_col] + ([offset_col] if offset_col else [])
            )
        ),
    )
    src, w, _pdfc = srcw
    beta = glm_poisson(
        df, feature_cols, y_col, offset_col=offset_col, iters=iters,
        _srcw=srcw,
    )
    p = len(feats)
    nano = F.lit(1000000000.0)
    y = F.col(y_col).cast("double")
    off = F.col(offset_col).cast("double") if offset_col else F.lit(0.0)
    eta = off + F.lit(beta[0])
    for j, c in enumerate(feats):
        eta = eta + F.lit(beta[j + 1]) * F.col(c).cast("double")
    mu = F.exp(eta)
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in feats]
    resid2 = (y - mu) * (y - mu)
    aggs = []
    for j in range(p + 1):
        for k in range(j, p + 1):
            aggs.append(
                F.sum(
                    F.round(mu * xs[j] * xs[k] * nano, 0).cast("long") * w
                ).alias(f"i{j}_{k}")
            )
            aggs.append(
                F.sum(
                    F.round(resid2 * xs[j] * xs[k] * nano, 0).cast(
                        "long"
                    )
                    * w
                ).alias(f"b{j}_{k}")
            )
    row = src.agg(*aggs).collect()[0]
    info = np.zeros((p + 1, p + 1))
    meat = np.zeros((p + 1, p + 1))
    for j in range(p + 1):
        for k in range(j, p + 1):
            info[j, k] = info[k, j] = row[f"i{j}_{k}"] / 1e9
            meat[j, k] = meat[k, j] = row[f"b{j}_{k}"] / 1e9
    bread = np.linalg.inv(info)
    cov = bread @ meat @ bread
    se = [round(float(np.sqrt(cov[j, j])), 9) for j in range(p + 1)]
    return beta, se


def glm_negative_binomial(
    df: DataFrame,
    feature_cols,
    y_col: str,
    offset_col: str | None = None,
    theta: float | None = None,
    iters: int = 8,
):
    """Negative-binomial (NB2) regression — the overdispersed-count
    model registries reach for when ``glm_poisson_dispersion`` flags
    Var(y) > E(y): y ~ NB(μ, θ) with Var = μ + μ²/θ, log link.

    Given θ, Fisher scoring is EXACTLY the Poisson machinery with
    per-row weight w = μ/(1 + μ/θ): g_j = Σ (y−μ)/(1+μ/θ)·x_j,
    I_jk = Σ w·x_j·x_k — one nano-lattice hash aggregate per
    iteration, bit-identical under any partitioning (the glm_poisson
    contract). θ = ∞ reduces every weight to the Poisson's (pinned:
    huge θ reproduces glm_poisson to 6 dp).

    ``theta=None`` estimates θ by method of moments from an initial
    Poisson fit (Var = μ + μ²/θ ⇒ θ̂ = Σμ̂² / Σ((y−μ̂)² − μ̂), one
    extra aggregate, clamped to [0.05, 1e6]) before the NB scoring
    passes — the standard two-stage estimator. Returns
    ([β₀, β…], θ_used)."""
    import numpy as np

    iters = int(iters)
    if iters < 1:
        raise ValueError("glm_negative_binomial: iters must be >= 1")
    feats = list(feature_cols)
    p = len(feats)
    nano = F.lit(1000000000.0)
    y = F.col(y_col).cast("double")
    off = F.col(offset_col).cast("double") if offset_col else F.lit(0.0)
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in feats]

    # r10: one weighted-cell collapse shared by the Poisson start, the
    # moment pass and every NB scoring iteration (bit-exact — see
    # _fit_cells)
    src, w, _pdfc = _fit_cells(
        df,
        list(
            dict.fromkeys(
                feats + [y_col] + ([offset_col] if offset_col else [])
            )
        ),
    )

    if theta is None:
        b0 = glm_poisson(
            df, feats, y_col, offset_col=offset_col, iters=iters,
            _srcw=(src, w, _pdfc),
        )
        eta0 = off + F.lit(b0[0])
        for j, c in enumerate(feats):
            eta0 = eta0 + F.lit(b0[j + 1]) * F.col(c).cast("double")
        mu0 = F.exp(eta0)
        r = src.agg(
            F.sum(
                F.round(mu0 * mu0 * nano, 0).cast("long") * w
            ).alias("m2"),
            F.sum(
                F.round(
                    ((y - mu0) * (y - mu0) - mu0) * nano, 0
                ).cast("long")
                * w
            ).alias("vx"),
        ).collect()[0]
        excess = r["vx"] / 1e9
        theta = (r["m2"] / 1e9) / excess if excess > 0 else 1e6
        theta = float(min(max(theta, 0.05), 1e6))

    beta = [0.0] * (p + 1)
    inv_theta = 1.0 / float(theta)
    for _ in range(iters):
        eta = off + F.lit(beta[0])
        for j, c in enumerate(feats):
            eta = eta + F.lit(beta[j + 1]) * F.col(c).cast("double")
        mu = F.exp(eta)
        denom = F.lit(1.0) + mu * F.lit(inv_theta)
        wnb = mu / denom
        aggs = []
        for j in range(p + 1):
            aggs.append(
                F.sum(
                    F.round((y - mu) / denom * xs[j] * nano, 0).cast(
                        "long"
                    )
                    * w
                ).alias(f"g{j}")
            )
        for j in range(p + 1):
            for k in range(j, p + 1):
                aggs.append(
                    F.sum(
                        F.round(wnb * xs[j] * xs[k] * nano, 0).cast(
                            "long"
                        )
                        * w
                    ).alias(f"i{j}_{k}")
                )
        row = src.agg(*aggs).collect()[0]
        g = np.array([row[f"g{j}"] / 1e9 for j in range(p + 1)])
        info = np.zeros((p + 1, p + 1))
        for j in range(p + 1):
            for k in range(j, p + 1):
                info[j, k] = info[k, j] = row[f"i{j}_{k}"] / 1e9
        step = np.linalg.solve(info, g)
        beta = [round(b + s, 9) for b, s in zip(beta, step)]
    return beta, float(theta)


def mantel_haenszel(
    df: DataFrame,
    stratum_cols,
    exposed_col: str,
    case_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio AND risk ratio over
    stratified 2×2 tables — the classic confounder adjustment when a
    model is overkill (the ``stratified_logrank_test`` philosophy for
    binary outcomes). Per stratum k with cells a (exposed cases),
    b (exposed non-cases), c (unexposed cases), d (unexposed
    non-cases), n = a+b+c+d:

        OR_MH = Σ a_k d_k / n_k  ÷  Σ b_k c_k / n_k
        RR_MH = Σ a_k (c_k+d_k)/n_k  ÷  Σ c_k (a_k+b_k)/n_k

    with the Robins-Breslow-Greenland variance for ln OR_MH and the
    Greenland-Robins variance for ln RR_MH — the textbook estimators
    behind every published adjusted OR/RR [95% CI].

    Scale shape: ONE hash aggregate to per-stratum cells (exact
    integer counts), then one micro-lattice fold over the stratum
    table (strata-count-sized). Every published number is an
    order-independent integer sum divided once at the end —
    hash-adjudicates bit-exact against the SQL mirror.

    Returns one row: n_strata, n_subjects, or_mh, or_lower, or_upper,
    rr_mh, rr_lower, rr_upper (6 dp; CI NULL when a numerator or
    denominator sum is zero).
    """
    s = [stratum_cols] if isinstance(stratum_cols, str) else list(
        stratum_cols
    )
    ex = F.col(exposed_col).cast("long")
    ca = F.col(case_col).cast("long")
    cells = df.groupBy(*s).agg(
        F.sum(ex * ca).alias("a"),
        F.sum(ex * (1 - ca)).alias("b"),
        F.sum((1 - ex) * ca).alias("c"),
        F.sum((1 - ex) * (1 - ca)).alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    n = (a + b + c + d).cast("double")
    micro = F.lit(1000000.0)

    def m(x):
        return F.round(x * micro, 0).cast("long")

    folded = cells.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(a + b + c + d).alias("n_subjects"),
        F.sum(m(a * d / n)).alias("_r"),
        F.sum(m(b * c / n)).alias("_s"),
        F.sum(m((a + d) / n * (a * d / n))).alias("_pr"),
        F.sum(
            m((a + d) / n * (b * c / n) + (b + c) / n * (a * d / n))
        ).alias("_psqr"),
        F.sum(m((b + c) / n * (b * c / n))).alias("_qs"),
        F.sum(m(a * (c + d) / n)).alias("_rr_num"),
        F.sum(m(c * (a + b) / n)).alias("_rr_den"),
        F.sum(
            m(
                ((a + c) * (a + b) * (c + d) / (n * n) - a * c / n)
            )
        ).alias("_rr_v"),
    )
    r = F.col("_r") / micro
    sx = F.col("_s") / micro
    or_mh = r / sx
    var_or = (
        (F.col("_pr") / micro) / (F.lit(2.0) * r * r)
        + (F.col("_psqr") / micro) / (F.lit(2.0) * r * sx)
        + (F.col("_qs") / micro) / (F.lit(2.0) * sx * sx)
    )
    rr_num = F.col("_rr_num") / micro
    rr_den = F.col("_rr_den") / micro
    rr_mh = rr_num / rr_den
    var_rr = (F.col("_rr_v") / micro) / (rr_num * rr_den)
    zlit = F.lit(float(z))
    ok_or = (F.col("_r") > 0) & (F.col("_s") > 0)
    ok_rr = (F.col("_rr_num") > 0) & (F.col("_rr_den") > 0)
    return folded.select(
        "n_strata",
        F.col("n_subjects").cast("long").alias("n_subjects"),
        F.when(ok_or, F.round(or_mh, 6)).alias("or_mh"),
        F.when(
            ok_or,
            F.round(or_mh * F.exp(-zlit * F.sqrt(var_or)), 6),
        ).alias("or_lower"),
        F.when(
            ok_or,
            F.round(or_mh * F.exp(zlit * F.sqrt(var_or)), 6),
        ).alias("or_upper"),
        F.when(ok_rr, F.round(rr_mh, 6)).alias("rr_mh"),
        F.when(
            ok_rr,
            F.round(rr_mh * F.exp(-zlit * F.sqrt(var_rr)), 6),
        ).alias("rr_lower"),
        F.when(
            ok_rr,
            F.round(rr_mh * F.exp(zlit * F.sqrt(var_rr)), 6),
        ).alias("rr_upper"),
    )


def breslow_day(
    df: DataFrame,
    stratum_cols,
    exposed_col: str,
    case_col: str,
) -> DataFrame:
    """Breslow-Day test of ODDS-RATIO HOMOGENEITY across strata with
    the Tarone correction — the published companion to
    ``mantel_haenszel``: MH assumes one common OR; this is the check.
    Per stratum with margins n1 = a+b (exposed), n0 = c+d, m1 = a+c
    (cases), the fitted cell ã under the common OR ψ̂ = OR_MH solves

        (ψ−1)ã² − [ψ(n1+m1) + (n0−m1)]ã + ψ·n1·m1 = 0
        (valid root: max(0, m1−n0) < ã < min(n1, m1))

    Var(a) = [1/ã + 1/(n1−ã) + 1/(m1−ã) + 1/(n0−m1+ã)]⁻¹, and
    X² = Σ (a−ã)²/Var − Tarone's (Σ(a−ã))²/ΣVar, df = K−1.

    Scale shape: ψ̂ comes from ``mantel_haenszel``'s one-row fold
    broadcast back onto the stratum cells; the quadratic root and
    variance are per-stratum closed-form JVM expressions; one final
    micro-lattice fold. Nothing iterative, nothing driver-side.

    Zero-margin strata (no exposed, no unexposed, no cases, or no
    controls) carry no information about OR homogeneity and are
    EXCLUDED, matching standard software: ``n_strata`` counts only
    informative strata and ``df = n_strata - 1`` is decremented
    accordingly. A degenerate MH odds ratio (zero/infinite) or a
    boundary fitted cell raises a named error rather than emitting
    NaN-poisoned sums.

    Returns one row: n_strata (informative only), or_mh,
    bd_chi_square (Tarone-corrected), df.
    """
    s = [stratum_cols] if isinstance(stratum_cols, str) else list(
        stratum_cols
    )
    ex = F.col(exposed_col).cast("long")
    ca = F.col(case_col).cast("long")
    cells = df.groupBy(*s).agg(
        F.sum(ex * ca).alias("a"),
        F.sum(ex * (1 - ca)).alias("b"),
        F.sum((1 - ex) * ca).alias("c"),
        F.sum((1 - ex) * (1 - ca)).alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    n = (a + b + c + d).cast("double")
    micro = F.lit(1000000.0)

    def m(x):
        return F.round(x * micro, 0).cast("long")

    # psi comes from ALL strata (zero-margin strata contribute 0 to
    # both R and S sums, so this matches mantel_haenszel on the full
    # data); a degenerate overall psi (S == 0 -> Inf, R == 0 -> 0,
    # 0/0 -> NaN) cannot support the homogeneity quadratic — named
    # error, not silent NaN propagation (ADVICE r06).
    # guard the division itself (ANSI mode errors on x/0 before any
    # downstream check could fire): NULL marks the degenerate fold
    psi_raw = F.when(
        (F.col("_s") > 0) & (F.col("_r") > 0),
        (F.col("_r") / micro) / (F.col("_s") / micro),
    )
    psi_fold = cells.agg(
        F.sum(m(a * d / n)).alias("_r"),
        F.sum(m(b * c / n)).alias("_s"),
    ).select(
        F.when(
            psi_raw.isNull()
            | F.isnan(psi_raw)
            | (psi_raw <= 0)
            | (psi_raw == F.lit(float("inf"))),
            F.raise_error(
                F.lit(
                    "breslow_day: MH odds ratio is degenerate "
                    "(zero or infinite) — homogeneity undefined"
                )
            ).cast("double"),
        )
        .otherwise(psi_raw)
        .alias("_psi")
    )
    # zero-margin strata (no exposed, no unexposed, no cases, or no
    # controls) carry no information about OR homogeneity — standard
    # software excludes them. Drop BEFORE the fold so they neither
    # poison var_a with a 1/0 NaN (silently skipped by F.sum after
    # the long cast) nor inflate df (ADVICE r06).
    n1 = (a + b).cast("double")
    n0 = (c + d).cast("double")
    m1 = (a + c).cast("double")
    m0 = (b + d).cast("double")
    cells = cells.filter((n1 > 0) & (n0 > 0) & (m1 > 0) & (m0 > 0))
    cells = cells.crossJoin(F.broadcast(psi_fold))
    psi = F.col("_psi")
    # quadratic (psi-1) t^2 - [psi(n1+m1) + (n0-m1)] t + psi n1 m1 = 0
    qa = psi - F.lit(1.0)
    qb = -(psi * (n1 + m1) + (n0 - m1))
    qc = psi * n1 * m1
    disc = F.sqrt(F.greatest(qb * qb - F.lit(4.0) * qa * qc, F.lit(0.0)))
    root_quad = (-qb - disc) / (F.lit(2.0) * qa)
    # psi == 1 degenerates to linear: t = -qc/qb = n1 m1 / (n1+m1+n0-m1)
    root_lin = -qc / qb
    a_root = F.when(F.abs(qa) < 1e-12, root_lin).otherwise(root_quad)
    # valid root is strictly interior: max(0, m1-n0) < a_fit <
    # min(n1, m1). With positive margins and finite psi this holds
    # mathematically; a floating-point boundary hit would zero a
    # var_a term — fail fast with a named error instead.
    lo = F.greatest(F.lit(0.0), m1 - n0)
    hi = F.least(n1, m1)
    a_fit = F.when(
        (a_root <= lo) | (a_root >= hi),
        F.raise_error(
            F.lit(
                "breslow_day: fitted cell count hit its boundary in "
                "an informative stratum — variance undefined"
            )
        ).cast("double"),
    ).otherwise(a_root)
    var_a = F.lit(1.0) / (
        F.lit(1.0) / a_fit
        + F.lit(1.0) / (n1 - a_fit)
        + F.lit(1.0) / (m1 - a_fit)
        + F.lit(1.0) / (n0 - m1 + a_fit)
    )
    dev = a.cast("double") - a_fit
    folded = cells.agg(
        F.count(F.lit(1)).alias("n_strata"),
        (F.sum(m(dev * dev / var_a)) / micro).alias("_x2"),
        (F.sum(m(dev)) / micro).alias("_sdev"),
        (F.sum(m(var_a)) / micro).alias("_svar"),
        F.max(psi).alias("_psi_out"),
    )
    return folded.select(
        "n_strata",
        F.round(F.col("_psi_out"), 6).alias("or_mh"),
        F.round(
            F.col("_x2")
            - F.col("_sdev") * F.col("_sdev") / F.col("_svar"),
            6,
        ).alias("bd_chi_square"),
        (F.col("n_strata") - 1).cast("long").alias("df"),
    )


def cochran_armitage(
    df: DataFrame,
    group_score_col: str,
    case_col: str,
) -> DataFrame:
    """Cochran-Armitage trend test for proportions across ORDERED
    groups (dose-response: does the case rate rise with exposure
    level?). With group scores s_g, cases r_g, totals n_g, N, R:

        T  = Σ s_g (r_g − n_g·R/N)
        V  = (R/N)(1 − R/N) [Σ s_g² n_g − (Σ s_g n_g)²/N]
        Z  = T/√V,  χ² = Z² (1 df)

    One exact-integer cell aggregate (r_g, n_g per score) + one
    mirrored micro-lattice fold — hash-exact vs the SQL twin.
    Returns one row: n_groups, n_subjects, n_cases, t_stat,
    variance, z, chi_square.
    """
    sc = F.col(group_score_col).cast("double")
    ca = F.col(case_col).cast("long")
    cells = df.groupBy(sc.alias("_s")).agg(
        F.sum(ca).alias("_r"),
        F.count(F.lit(1)).alias("_n"),
    )
    micro = F.lit(1000000.0)

    def m(x):
        return F.round(x * micro, 0).cast("long")

    folded = cells.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("_n").alias("_nn"),
        F.sum("_r").alias("_rr"),
        F.sum(m(F.col("_s") * F.col("_r"))).alias("_sr"),
        F.sum(m(F.col("_s") * F.col("_n"))).alias("_sn"),
        F.sum(m(F.col("_s") * F.col("_s") * F.col("_n"))).alias("_ssn"),
    )
    nn = F.col("_nn").cast("double")
    rr = F.col("_rr").cast("double")
    p = rr / nn
    t = F.col("_sr") / micro - p * (F.col("_sn") / micro)
    v = (
        p
        * (F.lit(1.0) - p)
        * (
            F.col("_ssn") / micro
            - (F.col("_sn") / micro) * (F.col("_sn") / micro) / nn
        )
    )
    z = t / F.sqrt(v)
    return folded.select(
        "n_groups",
        F.col("_nn").cast("long").alias("n_subjects"),
        F.col("_rr").cast("long").alias("n_cases"),
        F.round(t, 6).alias("t_stat"),
        F.round(v, 6).alias("variance"),
        F.round(z, 6).alias("z"),
        F.round(z * z, 6).alias("chi_square"),
    )


def cuzick_trend(
    df: DataFrame,
    score_col: str,
    metric_col: str,
) -> DataFrame:
    """Cuzick's nonparametric test for TREND across ordered groups
    (Cuzick 1985) — the rank analog of ``cochran_armitage`` for a
    continuous outcome, and the ordered-alternative sharpening of
    ``kruskal_wallis``: T = Σ l_{g(s)}·rank(s) with midranks,

        E(T) = (N+1)/2 · Σ l_i n_i
        Var(T) = (N+1)/12 · (N Σ l_i² n_i − (Σ l_i n_i)²) · C_tie
        C_tie = 1 − Σ(t³−t)/(N³−N),   z = (T − E)/√Var

    ``score_col`` is the ordered group score (dose level) and must be
    INTEGER-VALUED (cast to long — fractional scores would break the
    exact-lattice sums; rescale upstream as for ``anova_oneway``).

    SCALE SHAPE: the kruskal_wallis skeleton exactly — midranks
    depend only on the value histogram, so the frame collapses to
    per-(score, value) cells in one map-combined aggregate, the
    exclusive count prefix rides ``global_prefix_sum`` over DISTINCT
    values, and 2T = Σ c·l·(2·pref + t + 1) stays an EXACT long sum
    (half-integer ranks doubled). No sort window over raw rows.

    Returns one row: k_groups, n_total, t_rank_sum, e_t, variance,
    z (6 dp; z NULL when the variance is degenerate — one group or
    all values tied).
    """
    from .windows import global_prefix_sum

    sc = F.col(score_col).cast("long")
    cells = df.groupBy(
        sc.alias("_l"), F.col(metric_col).alias("_m")
    ).agg(F.count(F.lit(1)).alias("_c"))
    hist = cells.groupBy("_m").agg(F.sum("_c").alias("_t"))
    pref = global_prefix_sum(hist, "_m", "_t", alias="_pref")
    ranked = cells.join(pref, "_m").select(
        "_l", "_c",
        (2 * F.col("_pref") + F.col("_t") + 1).alias("_ar2"),
    )
    ties = hist.agg(
        F.sum(
            F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
        ).alias("_tie3")
    )
    agg = ranked.agg(
        F.countDistinct("_l").alias("k_groups"),
        F.sum("_c").alias("n_total"),
        F.sum(F.col("_c") * F.col("_l")).alias("_ln"),
        F.sum(F.col("_c") * F.col("_l") * F.col("_l")).alias("_lln"),
        F.sum(F.col("_c") * F.col("_l") * F.col("_ar2")).alias("_t2"),
    ).crossJoin(F.broadcast(ties))
    n = F.col("n_total").cast("double")
    t_stat = F.col("_t2").cast("double") / 2
    e_t = (n + 1) / 2 * F.col("_ln").cast("double")
    ctie = F.lit(1.0) - F.col("_tie3").cast("double") / (n * n * n - n)
    var = (
        (n + 1) / 12
        * (
            n * F.col("_lln").cast("double")
            - F.col("_ln").cast("double")
            * F.col("_ln").cast("double")
        )
        * ctie
    )
    ok = (F.col("n_total") > 1) & (var > 0)
    return agg.select(
        "k_groups",
        "n_total",
        F.round(t_stat, 6).alias("t_rank_sum"),
        F.round(e_t, 6).alias("e_t"),
        F.when(ok, F.round(var, 6)).alias("variance"),
        F.when(ok, F.round((t_stat - e_t) / F.sqrt(var), 6)).alias(
            "z"
        ),
    )


def mcnemar_test(
    df: DataFrame,
    first_col: str,
    second_col: str,
    correction: bool = True,
) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes (pre/post, two
    raters, matched case-control exposure) — the paired complement
    to ``chi_square_test`` (which assumes independent samples and is
    WRONG on paired data): only the discordant pairs carry
    information,

        χ² = (|b − c| − 1)² / (b + c)   (continuity-corrected;
             ``correction=False`` gives the asymptotic (b−c)²/(b+c))
        OR = b/c,  CI = exp(ln(b/c) ± 1.96·√(1/b + 1/c))

    with b = #(1,0) and c = #(0,1) pairs. The conditional-logistic
    estimate on 1:1 matched pairs equals ln(OR) exactly
    (``conditional_logistic``'s pinned identity) — this is its
    closed-form scalar twin.

    ONE map-side-combined aggregate over the pair frame; zero
    discordant pairs in either direction leave the OR columns NULL
    (the test statistic is still defined when b + c > 0; all-
    concordant data returns NULL everywhere rather than 0/0).

    Returns one row: n_pairs, n_both, n_neither, b_first_only,
    c_second_only, chi_square, or_discordant, or_lower, or_upper
    (6 dp).
    """
    a = F.col(first_col).cast("long")
    bcol = F.col(second_col).cast("long")
    agg = df.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(a * bcol).alias("n_both"),
        F.sum((1 - a) * (1 - bcol)).alias("n_neither"),
        F.sum(a * (1 - bcol)).alias("b_first_only"),
        F.sum((1 - a) * bcol).alias("c_second_only"),
    )
    b = F.col("b_first_only").cast("double")
    c = F.col("c_second_only").cast("double")
    diff = F.abs(b - c)
    num = (
        (diff - 1) * (diff - 1) if correction else (b - c) * (b - c)
    )
    chi = F.when(b + c > 0, F.round(num / (b + c), 6))
    ok = (b > 0) & (c > 0)
    lnor = F.log(b / c)
    half = F.lit(1.96) * F.sqrt(1 / b + 1 / c)
    return agg.select(
        "n_pairs",
        "n_both",
        "n_neither",
        "b_first_only",
        "c_second_only",
        chi.alias("chi_square"),
        F.when(ok, F.round(b / c, 6)).alias("or_discordant"),
        F.when(ok, F.round(F.exp(lnor - half), 6)).alias("or_lower"),
        F.when(ok, F.round(F.exp(lnor + half), 6)).alias("or_upper"),
    )


def glm_logistic_firth(
    df: DataFrame,
    feature_cols,
    y_col: str,
    iters: int = 8,
    return_se: bool = False,
):
    """Firth bias-reduced logistic regression (Firth 1993; Heinze &
    Schemper 2002) — the rare-event / separation-robust sibling of
    ``glm_logistic``: the score is penalized by the Jeffreys prior,

        U*_j = Σ (y − p + h·(½ − p)) x_j,   h_i = w_i·x_iᵀ I⁻¹ x_i,

    so a finite estimate exists even under complete separation,
    where the plain MLE diverges (a zero cell in a rare-event
    registry table is the canonical case). On a SATURATED model with
    one binary covariate the fit has the Haldane closed form — add ½
    to each 2×2 cell: β₁ = ln((a+½)(d+½)/((b+½)(c+½))) — which is
    the bit-level pin used by the oracle (verified to 1e-6 at 8
    iterations even with a zero cell).

    Scale shape: TWO map-side-combined nano-lattice hash aggregates
    per Newton iteration — pass 1 fuses the score g and information
    I (the ``glm_logistic`` lattice), the driver inverts the
    (p+1)×(p+1) I, and pass 2 folds the hat-correction
    Σ h(½−p)x_j with I⁻¹ entries broadcast as literals (h expands to
    a quadratic form with (p+1)² literal coefficients — pure JVM
    expression). Driver work is O(p³) only; both passes are
    order-independent long sums, so β is bit-identical under any
    partitioning. β updates round to 9 dp per iteration (house
    bit-stability lattice).

    ``return_se=True`` adds Wald SEs from I⁻¹ of the final
    iteration's information (the ``glm_logistic`` penultimate-
    iterate convention).
    """
    import numpy as np

    iters = int(iters)
    if iters < 1:
        raise ValueError("glm_logistic_firth: iters must be >= 1")
    feats = list(feature_cols)
    p = len(feats)
    beta = [0.0] * (p + 1)
    nano = F.lit(1000000000.0)
    y = F.col(y_col).cast("double")
    # r10: weighted-cell collapse shared by both per-iteration passes
    # (bit-exact — see _fit_cells)
    src, w, _pdfc = _fit_cells(df, list(dict.fromkeys(feats + [y_col])))
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in feats]
    inv = None
    for _ in range(iters):
        eta = F.lit(beta[0])
        for j, c in enumerate(feats):
            eta = eta + F.lit(beta[j + 1]) * F.col(c).cast("double")
        prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        wgt = prob * (F.lit(1.0) - prob)
        aggs = []
        for j in range(p + 1):
            aggs.append(
                F.sum(
                    F.round((y - prob) * xs[j] * nano, 0).cast("long")
                    * w
                ).alias(f"g{j}")
            )
        for j in range(p + 1):
            for k in range(j, p + 1):
                aggs.append(
                    F.sum(
                        F.round(wgt * xs[j] * xs[k] * nano, 0).cast(
                            "long"
                        )
                        * w
                    ).alias(f"i{j}_{k}")
                )
        row = src.agg(*aggs).collect()[0]
        g = np.array([row[f"g{j}"] / 1e9 for j in range(p + 1)])
        info = np.zeros((p + 1, p + 1))
        for j in range(p + 1):
            for k in range(j, p + 1):
                info[j, k] = info[k, j] = row[f"i{j}_{k}"] / 1e9
        inv = np.linalg.inv(info)
        # pass 2: hat-corrected score with I^{-1} broadcast as literals
        quad = F.lit(0.0)
        for a in range(p + 1):
            for b in range(p + 1):
                quad = quad + F.lit(float(inv[a, b])) * xs[a] * xs[b]
        h = wgt * quad
        corr_aggs = [
            F.sum(
                F.round(
                    h * (F.lit(0.5) - prob) * xs[j] * nano, 0
                ).cast("long")
                * w
            ).alias(f"c{j}")
            for j in range(p + 1)
        ]
        crow = src.agg(*corr_aggs).collect()[0]
        cvec = np.array(
            [crow[f"c{j}"] / 1e9 for j in range(p + 1)]
        )
        step = inv @ (g + cvec)
        beta = [round(b + s, 9) for b, s in zip(beta, step)]
    if return_se:
        return beta, [
            round(float(np.sqrt(inv[j, j])), 9) for j in range(p + 1)
        ]
    return beta


def zero_inflated_poisson(
    df: DataFrame,
    value_col: str,
    iters: int = 15,
) -> DataFrame:
    """Zero-inflated Poisson fit (Lambert 1992) — the count model
    for registry tables with excess zeros (screening rounds with no
    detections, districts with no cases): a structural-zero mass π
    mixed with Poisson(λ),

        P(0) = π + (1−π)e^{−λ},   P(k) = (1−π)·Pois(k; λ).

    The intercept-only EM collapses to THREE sufficient statistics —
    n, n₀ = #zeros, Σy — so the ENTIRE fit is ONE map-side-combined
    aggregate followed by driver-side scalar EM (w₀ ← π/(π+(1−π)e^{−λ}),
    π ← n₀w₀/n, λ ← Σy/(n − n₀w₀)), each update rounded to 9 dp; the
    estimate is DEFINED as the ``iters``-iteration value from
    π₀ = max(0, (n₀ − n·e^{−ȳ})/n) (the excess-zero moment start),
    λ₀ = ȳ. Zero data passes per iteration — the cheapest iterative
    fit in the engine. No excess zeros drives π to ~0 with λ → ȳ
    (the plain-Poisson reduction). ``value_col`` must be integer
    counts (exact long sums); all-zero data raises a named error
    (λ unidentified).

    Returns one row: n, n_zero, sum_y, pi_zero, lambda_pois,
    p_zero_fitted (6 dp).
    """
    import math

    iters = int(iters)
    if iters < 1:
        raise ValueError("zero_inflated_poisson: iters must be >= 1")
    y = F.col(value_col).cast("long")
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((y == 0).cast("long")).alias("n_zero"),
        F.sum(y).alias("sum_y"),
    )
    row = agg.collect()[0]
    n, n0, sy = int(row.n), int(row.n_zero), int(row.sum_y)
    if sy == 0:
        raise ValueError(
            "zero_inflated_poisson: all-zero data — lambda is "
            "unidentified"
        )
    ybar = sy / n
    pi = round(max(0.0, (n0 - n * math.exp(-ybar)) / n), 9)
    lam = round(ybar, 9)
    for _ in range(iters):
        p0 = math.exp(-lam)
        w0 = pi / (pi + (1.0 - pi) * p0) if n0 > 0 else 0.0
        sw = n0 * w0
        pi = round(sw / n, 9)
        lam = round(sy / (n - sw), 9)
    return agg.select(
        "n",
        "n_zero",
        "sum_y",
        F.round(F.lit(pi), 6).alias("pi_zero"),
        F.round(F.lit(lam), 6).alias("lambda_pois"),
        F.round(
            F.lit(pi) + (1.0 - F.lit(pi)) * F.exp(F.lit(-lam)), 6
        ).alias("p_zero_fitted"),
    )


def gee_logistic_exchangeable(
    df: DataFrame,
    cluster_col: str,
    feature_cols,
    y_col: str,
    iters: int = 8,
    return_se: bool = False,
):
    """GEE logistic regression with EXCHANGEABLE working correlation
    (Liang & Zeger 1986) — the population-averaged model for
    clustered binary outcomes (patients within hospitals, repeated
    screens within subjects) where ``glm_logistic``'s independence
    assumption understates the SEs. Sherman-Morrison collapses the
    working-correlation inverse, so every cluster's contribution to
    the estimating equations reduces to CLUSTER-LEVEL sums:

        D'V⁻¹e |_c = [Σsxr − fac·(Σsx)(Σr)]/(1−α),
        D'V⁻¹D |_c = [Σwxx' − fac·(Σsx)(Σsx)']/(1−α),
        fac = α/(1−α+αm),   s=√w, r=(y−μ)/s,

    and α itself is the moment estimate from within-cluster residual
    products, ((Σr)²−Σr²)/2 per cluster. Scale shape per Fisher
    iteration: ONE data-sized cluster collapse (a map-side-combined
    groupBy producing (p+1)(p+6)/2 nano-lattice sums per cluster,
    checkpointed), then TWO cluster-frame aggregates (the α moment
    fold, then the α-weighted β fold + the sandwich meat Σg_c g_c')
    — cluster count bounds the intermediate, never raw rows; driver
    work is O(p³). Per-cluster terms micro-round before the global
    long sums, so the fit is bit-identical under any partitioning.

    The estimate is the ``iters``-iteration Fisher value from β = 0,
    α = 0 (updates rounded to 9 dp). Under independent data α̂ ≈ 0
    and the fit matches ``glm_logistic`` (pinned); ``return_se``
    adds the ROBUST sandwich SEs √diag(A⁻¹BA⁻¹) — the reason to
    reach for GEE at all.

    Returns (beta, alpha) or (beta, alpha, se_robust).
    """
    import numpy as np

    iters = int(iters)
    if iters < 1:
        raise ValueError(
            "gee_logistic_exchangeable: iters must be >= 1"
        )
    feats = list(feature_cols)
    p = len(feats) + 1
    nano = F.lit(1000000000.0)
    y = F.col(y_col).cast("double")
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in feats]
    # r10: collapse identical (cluster, x-pattern, y) rows ONCE —
    # every per-cluster term below is a pure function of that tuple,
    # so the per-iteration cluster collapse aggregates the tiny
    # pinned cell frame instead of re-scanning the cohort (bit-exact
    # — see _fit_cells; m and n_tot become exact Σ_w)
    src, cw, _pdfc = _fit_cells(
        df, list(dict.fromkeys([cluster_col] + feats + [y_col]))
    )

    # r11 driver-solve fast path (driverfit.py): bounded collected
    # cells -> the whole Fisher/alpha loop runs on the driver, numpy
    # twin transliterated term-for-term from the distributed fold
    # below (same per-cell nano roundings, exact int64 cluster sums,
    # same float op order in the cluster-level terms and the alpha
    # moment) — bit-identical, pinned in tests/test_driverfit.py.
    if _pdfc is not None:
        import pandas as pd

        wn = _pdfc["_w"].to_numpy().astype(np.int64)
        yn = _pdfc[y_col].to_numpy().astype(np.float64)
        xn = [np.ones(len(wn))] + [
            _pdfc[c].to_numpy().astype(np.float64) for c in feats
        ]
        codes, _uniq = pd.factorize(
            _pdfc[cluster_col], use_na_sentinel=False
        )
        ncl = int(codes.max()) + 1 if len(codes) else 0
        n_tot = int(wn.sum())

        def by_cl(v):
            # exact per-cluster int64 sums (Spark's long groupBy sums)
            acc = np.zeros(ncl, dtype=np.int64)
            np.add.at(acc, codes, v)
            return acc

        m_cl = by_cl(wn)
        m_f = m_cl.astype(np.float64)
        npairs = int((m_cl * (m_cl - 1) // 2).sum())
        beta = [0.0] * p
        alpha = 0.0
        a_mat = None
        b_mat = None
        for _ in range(iters):
            eta = np.zeros(len(wn)) + beta[0]
            for j, _c in enumerate(feats):
                eta = eta + beta[j + 1] * xn[j + 1]
            mu = 1.0 / (1.0 + np.exp(-eta))
            wq = mu * (1.0 - mu)
            sq = np.sqrt(wq)
            r = (yn - mu) / sq
            sr = by_cl(
                round_half_up(r * 1e9).astype(np.int64) * wn
            )
            r2 = by_cl(
                round_half_up(r * r * 1e9).astype(np.int64) * wn
            )
            sx = [
                by_cl(
                    round_half_up(sq * xn[j] * 1e9).astype(np.int64)
                    * wn
                )
                for j in range(p)
            ]
            sxr = [
                by_cl(
                    round_half_up(sq * r * xn[j] * 1e9).astype(
                        np.int64
                    )
                    * wn
                )
                for j in range(p)
            ]
            wxx = {
                (j, k): by_cl(
                    round_half_up(wq * xn[j] * xn[k] * 1e9).astype(
                        np.int64
                    )
                    * wn
                )
                for j in range(p)
                for k in range(j, p)
            }
            # alpha moment fold
            srd = sr / 1e9
            pair_nano = int(
                round_half_up(
                    (srd * srd - r2 / 1e9) / 2.0 * 1e9
                )
                .astype(np.int64)
                .sum()
            )
            r2_tot = int(r2.sum())
            phi = (r2_tot / 1e9) / (n_tot - p)
            denom = npairs - p
            alpha = round(
                ((pair_nano / 1e9) / denom) / phi
                if denom > 0
                else 0.0,
                9,
            )
            alpha = min(max(alpha, 0.0), 0.95)
            # beta fold with alpha scalar
            fac = alpha / (1.0 - alpha + alpha * m_f)
            one_m_a = 1.0 - alpha
            gexprs = [
                (sxr[j] / 1e9 - fac * (sx[j] / 1e9) * srd) / one_m_a
                for j in range(p)
            ]
            gvec = np.array(
                [
                    round_half_up(gexprs[j] * 1e9)
                    .astype(np.int64)
                    .sum()
                    / 1e9
                    for j in range(p)
                ]
            )
            a_mat = np.zeros((p, p))
            b_mat = np.zeros((p, p))
            for j in range(p):
                for k in range(j, p):
                    a_jk = (
                        wxx[(j, k)] / 1e9
                        - fac * (sx[j] / 1e9) * (sx[k] / 1e9)
                    ) / one_m_a
                    a_mat[j, k] = a_mat[k, j] = (
                        round_half_up(a_jk * 1e9)
                        .astype(np.int64)
                        .sum()
                        / 1e9
                    )
                    b_mat[j, k] = b_mat[k, j] = (
                        round_half_up(gexprs[j] * gexprs[k] * 1e9)
                        .astype(np.int64)
                        .sum()
                        / 1e9
                    )
            step = np.linalg.solve(a_mat, gvec)
            beta = [round(b + st, 9) for b, st in zip(beta, step)]
        if return_se:
            ainv = np.linalg.inv(a_mat)
            cov = ainv @ b_mat @ ainv
            return beta, alpha, [
                round(float(np.sqrt(cov[j, j])), 9) for j in range(p)
            ]
        return beta, alpha

    n_tot = src.agg(F.sum(cw)).collect()[0][0]
    beta = [0.0] * p
    alpha = 0.0
    a_mat = None
    b_mat = None
    for _ in range(iters):
        eta = F.lit(beta[0])
        for j, c in enumerate(feats):
            eta = eta + F.lit(beta[j + 1]) * F.col(c).cast("double")
        mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        w = mu * (F.lit(1.0) - mu)
        s = F.sqrt(w)
        r = (y - mu) / s
        aggs = [
            F.sum(cw).alias("m"),
            F.sum(F.round(r * nano, 0).cast("long") * cw).alias("sr"),
            F.sum(F.round(r * r * nano, 0).cast("long") * cw).alias(
                "r2"
            ),
        ]
        for j in range(p):
            aggs.append(
                F.sum(F.round(s * xs[j] * nano, 0).cast("long") * cw)
                .alias(f"sx{j}")
            )
            aggs.append(
                F.sum(
                    F.round(s * r * xs[j] * nano, 0).cast("long") * cw
                )
                .alias(f"sxr{j}")
            )
        for j in range(p):
            for k in range(j, p):
                aggs.append(
                    F.sum(
                        F.round(w * xs[j] * xs[k] * nano, 0)
                        .cast("long")
                        * cw
                    ).alias(f"wxx{j}_{k}")
                )
        cf = src.groupBy(F.col(cluster_col).alias("_cl")).agg(*aggs)
        cf = cf.localCheckpoint(eager=False)
        # alpha moment fold
        srd = F.col("sr") / nano
        pair = F.round(
            (srd * srd - F.col("r2") / nano) / F.lit(2.0) * nano, 0
        ).cast("long")
        arow = cf.agg(
            F.sum(pair).alias("pair_nano"),
            F.sum(
                (F.col("m") * (F.col("m") - 1) / 2).cast("long")
            ).alias("npairs"),
            F.sum("r2").alias("r2_tot"),
        ).collect()[0]
        phi = (arow.r2_tot / 1e9) / (n_tot - p)
        denom = arow.npairs - p
        alpha = round(
            ((arow.pair_nano / 1e9) / denom) / phi if denom > 0 else 0.0,
            9,
        )
        alpha = min(max(alpha, 0.0), 0.95)
        # beta fold with alpha literal
        al = F.lit(alpha)
        fac = al / (F.lit(1.0) - al + al * F.col("m"))
        one_m_a = F.lit(1.0 - alpha)
        gexprs = []
        for j in range(p):
            gexprs.append(
                (
                    F.col(f"sxr{j}") / nano
                    - fac * (F.col(f"sx{j}") / nano) * srd
                )
                / one_m_a
            )
        baggs = []
        for j in range(p):
            baggs.append(
                F.sum(F.round(gexprs[j] * nano, 0).cast("long"))
                .alias(f"g{j}")
            )
        for j in range(p):
            for k in range(j, p):
                a_jk = (
                    F.col(f"wxx{j}_{k}") / nano
                    - fac
                    * (F.col(f"sx{j}") / nano)
                    * (F.col(f"sx{k}") / nano)
                ) / one_m_a
                baggs.append(
                    F.sum(F.round(a_jk * nano, 0).cast("long"))
                    .alias(f"a{j}_{k}")
                )
                baggs.append(
                    F.sum(
                        F.round(gexprs[j] * gexprs[k] * nano, 0)
                        .cast("long")
                    ).alias(f"b{j}_{k}")
                )
        brow = cf.agg(*baggs).collect()[0]
        gvec = np.array([brow[f"g{j}"] / 1e9 for j in range(p)])
        a_mat = np.zeros((p, p))
        b_mat = np.zeros((p, p))
        for j in range(p):
            for k in range(j, p):
                a_mat[j, k] = a_mat[k, j] = brow[f"a{j}_{k}"] / 1e9
                b_mat[j, k] = b_mat[k, j] = brow[f"b{j}_{k}"] / 1e9
        step = np.linalg.solve(a_mat, gvec)
        beta = [round(b + st, 9) for b, st in zip(beta, step)]
    if return_se:
        ainv = np.linalg.inv(a_mat)
        cov = ainv @ b_mat @ ainv
        return beta, alpha, [
            round(float(np.sqrt(cov[j, j])), 9) for j in range(p)
        ]
    return beta, alpha


def meta_analysis_dl(
    df: DataFrame,
    estimate_col: str,
    se_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Inverse-variance meta-analysis with the DerSimonian-Laird
    random-effects model (DerSimonian & Laird 1986) — how a registry
    network pools per-region estimates (log-HRs, log-SIRs) carrying
    their own SEs:

        fixed  = Σwy/Σw,  w = 1/se²
        Q      = Σw·y² − (Σwy)²/Σw          (heterogeneity)
        τ²     = max(0, (Q − (k−1)) / (Σw − Σw²/Σw))
        random = Σw*y/Σw*,  w* = 1/(se² + τ²)
        I²     = max(0, (Q − (k−1))/Q)

    with Wald CIs from 1/√Σw and 1/√Σw*. τ² = 0 collapses random to
    fixed exactly (pinned). Zero/negative SEs raise in the plan.

    Scale shape: TWO map-side-combined aggregates (the w-moments,
    then the w*-moments once τ² is known — τ² rounds to 9 dp on the
    driver); per-study terms micro-round before the long sums, so
    the pool is order-independent. Study count k is the frame — this
    scales to millions of pooled units without a window anywhere.

    Returns one row: k, fixed, fixed_se, fixed_lower, fixed_upper,
    q_stat, tau2, i2, random, random_se, random_lower, random_upper
    (6 dp).
    """
    def _micro(x):
        return F.round(x * F.lit(1000000.0), 0).cast("long")

    y = F.col(estimate_col).cast("double")
    se = F.col(se_col).cast("double")
    guard = F.when(
        se <= 0,
        F.raise_error(
            F.lit("meta_analysis_dl: se must be positive")
        ).cast("double"),
    ).otherwise(se)
    w = F.lit(1.0) / (guard * guard)
    m = df.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(_micro(w)).alias("sw"),
        F.sum(_micro(w * y)).alias("swy"),
        F.sum(_micro(w * y * y)).alias("swy2"),
        F.sum(_micro(w * w)).alias("sw2"),
    ).collect()[0]
    k = int(m.k)
    sw, swy, swy2, sw2 = (
        m.sw / 1e6, m.swy / 1e6, m.swy2 / 1e6, m.sw2 / 1e6
    )
    q_stat = swy2 - swy * swy / sw
    denom = sw - sw2 / sw
    tau2 = round(
        max(0.0, (q_stat - (k - 1)) / denom) if denom > 0 else 0.0, 9
    )
    wr = F.lit(1.0) / (guard * guard + F.lit(tau2))
    m2 = df.agg(
        F.sum(_micro(wr)).alias("swr"),
        F.sum(_micro(wr * y)).alias("swry"),
    ).collect()[0]
    swr, swry = m2.swr / 1e6, m2.swry / 1e6
    import math

    fixed = swy / sw
    fse = 1.0 / math.sqrt(sw)
    rand = swry / swr
    rse = 1.0 / math.sqrt(swr)
    i2 = max(0.0, (q_stat - (k - 1)) / q_stat) if q_stat > 0 else 0.0
    row = [
        (
            k,
            round(fixed, 6),
            round(fse, 6),
            round(fixed - z * fse, 6),
            round(fixed + z * fse, 6),
            round(q_stat, 6),
            round(tau2, 6),
            round(i2, 6),
            round(rand, 6),
            round(rse, 6),
            round(rand - z * rse, 6),
            round(rand + z * rse, 6),
        )
    ]
    return df.sparkSession.createDataFrame(
        row,
        "k long, fixed double, fixed_se double, fixed_lower double, "
        "fixed_upper double, q_stat double, tau2 double, i2 double, "
        "random double, random_se double, random_lower double, "
        "random_upper double",
    )


def _sorted_levels(pdf):
    """Distinct ``_y`` values with per-level total counts in Spark
    ``orderBy`` order. Python ``sorted`` equals Spark's ordering here:
    numerics trivially, strings because UTF-8 byte order (Spark's
    string sort) preserves code-point order (a designed property of
    UTF-8), booleans False < True."""
    agg = {}
    for v, n in zip(pdf["_y"].tolist(), pdf["_n"].tolist()):
        agg[v] = agg.get(v, 0) + int(n)
    levels = sorted(agg)
    return levels, [agg[v] for v in levels]


def _ordinal_driver_fit(pdf, feats, iters, return_se, max_levels):
    """numpy twin of the ``ordinal_logistic`` Newton loop over
    collected cells — transliterated term-for-term from the
    distributed fold (same pick/when semantics, same nano roundings,
    exact int64 sums, same float op order), so every cutpoint, slope
    and SE is bit-identical (pinned in tests/test_driverfit.py)."""
    import math

    import numpy as np

    p = len(feats)
    levels, counts = _sorted_levels(pdf)
    if len(levels) > max_levels:
        raise ValueError(
            f"ordinal_logistic: {len(levels)} levels exceeds "
            f"max_levels={max_levels}"
        )
    if len(levels) < 2:
        raise ValueError("ordinal_logistic: need >= 2 outcome levels")
    jj = len(levels)
    total = sum(counts)
    cum = 0
    alphas = []
    for m in counts[:-1]:
        cum += m
        pr = cum / total
        alphas.append(round(math.log(pr / (1.0 - pr)), 9))
    theta = alphas + [0.0] * p
    q = len(theta)

    nn = pdf["_n"].to_numpy().astype(np.int64)
    nf = nn.astype(np.float64)
    xv = [
        pdf[f"_x{j}"].to_numpy().astype(np.float64) for j in range(p)
    ]
    lvl_pos = {v: i for i, v in enumerate(levels, start=1)}
    li = np.array([lvl_pos[v] for v in pdf["_y"].tolist()])
    C = len(nn)
    rows = np.arange(C)

    info = None
    for _ in range(iters):
        eta = np.zeros(C)
        for m in range(p):
            eta = eta + theta[jj - 1 + m] * xv[m]
        gam = np.zeros((jj + 1, C))
        for j in range(1, jj):
            gam[j] = 1.0 / (1.0 + np.exp(-(theta[j - 1] - eta)))
        gam[jj] = 1.0
        phi = np.zeros((jj + 1, C))
        for j in range(1, jj):
            phi[j] = gam[j] * (1.0 - gam[j])
        dphi = np.zeros((jj + 1, C))
        for j in range(1, jj):
            dphi[j] = phi[j] * (1.0 - 2 * gam[j])
        gy = gam[li, rows]
        gym1 = gam[li - 1, rows]
        phy = phi[li, rows]
        phym1 = phi[li - 1, rows]
        dphy = dphi[li, rows]
        dphym1 = dphi[li - 1, rows]
        py = gy - gym1

        ty, tym1 = [], []
        for c in range(1, jj):
            ty.append((li == c).astype(np.float64))
            tym1.append((li == c + 1).astype(np.float64))
        for m in range(p):
            ty.append(-xv[m])
            tym1.append(-xv[m])
        u = [phy * ty[k] - phym1 * tym1[k] for k in range(q)]

        g = np.array(
            [
                round_half_up(u[k] / py * nf * 1e9)
                .astype(np.int64)
                .sum()
                / 1e9
                for k in range(q)
            ]
        )
        hess = np.zeros((q, q))
        for k in range(q):
            for l in range(k, q):
                d2 = dphy * ty[k] * ty[l] - dphym1 * tym1[k] * tym1[l]
                h = d2 / py - u[k] * u[l] / (py * py)
                hess[k, l] = hess[l, k] = (
                    round_half_up(h * nf * 1e9).astype(np.int64).sum()
                    / 1e9
                )
        info = -hess
        step = np.clip(np.linalg.solve(info, g), -1.0, 1.0)
        theta = [round(t + s, 9) for t, s in zip(theta, step)]

    alphas = theta[: jj - 1]
    betas = theta[jj - 1:]
    if return_se:
        cov = np.linalg.inv(info)
        se = [round(float(np.sqrt(cov[k, k])), 9) for k in range(q)]
        return levels, alphas, betas, se
    return levels, alphas, betas


def ordinal_logistic(
    df: DataFrame,
    feature_cols,
    y_col: str,
    iters: int = 8,
    return_se: bool = False,
    max_levels: int = 20,
):
    """Proportional-odds ordinal logistic regression (McCullagh 1980
    — R ``MASS::polr``, the cancer-registry model for ordered stage /
    grade / deprivation-quintile outcomes): cumulative logits share
    one slope vector,

        P(Y <= j | x) = sigma(alpha_j - x*beta),  j = 1..J-1,

    so exp(beta_m) is ONE odds ratio across every split of the ordered
    scale. Newton-Raphson on the exact multinomial log-likelihood
    ln(gamma_y - gamma_{y-1}) with the analytic observed Hessian:
    per-cell terms need only the TWO adjacent cumulative probs
    (gamma_0 = 0, gamma_J = 1), their logistic derivatives
    phi = gamma(1-gamma) and phi' = phi(1-2*gamma), picked by a
    ``when`` chain on the cell's category — all JVM expressions.

    Subjects collapse ONCE to (x-pattern, level) cells with counts;
    each iteration is ONE map-side-combined nano-lattice aggregate
    over the cell frame (the glm_poisson/cox_ph exactness contract —
    bit-identical under any partitioning). Categories are the sorted
    distinct ``y_col`` values (at most ``max_levels``, else a named
    error); cutpoints initialize at the marginal cumulative logits
    (same pre-pass that finds the levels), beta at 0 — the polr
    convention that starts inside the ordered region.

    Returns (levels, alphas, betas) — or (levels, alphas, betas, se)
    with ``return_se``, se over (alphas..., betas...) from the
    penultimate iterate's -H — where levels are the sorted category
    values, alphas the J-1 cutpoints, betas the shared slopes.
    """
    import math

    import numpy as np

    iters = int(iters)
    if iters < 1:
        raise ValueError("ordinal_logistic: iters must be >= 1")
    feats = list(feature_cols)
    p = len(feats)
    nano = F.lit(1000000000.0)

    cells = df.groupBy(
        *[F.col(c).cast("double").alias(f"_x{j}") for j, c in
          enumerate(feats)],
        F.col(y_col).alias("_y"),
    ).agg(F.count(F.lit(1)).alias("_n"))
    cells = cells.localCheckpoint(eager=False)

    # r11 driver-solve fast path (driverfit.py): bounded collected
    # (x-pattern, level) cells -> levels/marginals AND the whole
    # Newton loop run on the driver (numpy twin of the fold below,
    # same nano roundings / float op order, exact int64 sums) —
    # bit-identical, pinned in tests/test_driverfit.py. UTF-8 byte
    # order (Spark's string orderBy) equals code-point order, so the
    # driver-sorted levels match the distributed orderBy exactly.
    # Null/non-finite features and null levels fall back: the
    # distributed when-chains null-skip such cells, the twin would
    # mis-group them.
    _pdfc = collect_bounded(cells, [f"_x{j}" for j in range(p)], ["_y"])
    if _pdfc is not None:
        return _ordinal_driver_fit(
            _pdfc, feats, iters, return_se, max_levels
        )

    marg = (
        cells.groupBy("_y").agg(F.sum("_n").alias("_m"))
        .orderBy("_y")
        .collect()
    )
    if len(marg) > max_levels:
        raise ValueError(
            f"ordinal_logistic: {len(marg)} levels exceeds "
            f"max_levels={max_levels}"
        )
    if len(marg) < 2:
        raise ValueError("ordinal_logistic: need >= 2 outcome levels")
    levels = [r["_y"] for r in marg]
    counts = [r["_m"] for r in marg]
    jj = len(levels)
    total = sum(counts)
    cum = 0
    alphas = []
    for m in counts[:-1]:
        cum += m
        pr = cum / total
        alphas.append(round(math.log(pr / (1.0 - pr)), 9))
    theta = alphas + [0.0] * p  # (J-1 cutpoints, then betas)
    q = len(theta)

    lvl_idx = F.lit(None).cast("int")
    for i, v in enumerate(levels, start=1):
        lvl_idx = F.when(F.col("_y") == F.lit(v), F.lit(i)).otherwise(
            lvl_idx
        )

    info = None
    for _ in range(iters):
        eta = F.lit(0.0)
        for m in range(p):
            eta = eta + F.lit(theta[jj - 1 + m]) * F.col(f"_x{m}")
        gam = [F.lit(0.0)] + [
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(F.lit(theta[j - 1]) - eta)))
            for j in range(1, jj)
        ] + [F.lit(1.0)]

        def pick(vals):
            # vals[i] for the row's 1-based level index i
            e = F.lit(None).cast("double")
            for i in range(1, jj + 1):
                e = F.when(F.col("_li") == i, vals[i]).otherwise(e)
            return e

        cc = cells.withColumn("_li", lvl_idx)
        gy = pick(gam)
        gym1 = pick([F.lit(0.0)] + gam[:-1])
        phi = [g * (F.lit(1.0) - g) for g in gam]
        phi[0] = F.lit(0.0)
        phi[jj] = F.lit(0.0)
        phy = pick(phi)
        phym1 = pick([F.lit(0.0)] + phi[:-1])
        dphi = [
            ph * (F.lit(1.0) - 2 * g) for ph, g in zip(phi, gam)
        ]
        dphi[0] = F.lit(0.0)
        dphi[jj] = F.lit(0.0)
        dphy = pick(dphi)
        dphym1 = pick([F.lit(0.0)] + dphi[:-1])
        py = gy - gym1

        # t_k at j=y and j=y-1 per parameter k
        ty, tym1 = [], []
        for c in range(1, jj):  # cutpoint alpha_c
            ty.append((F.col("_li") == c).cast("double"))
            tym1.append((F.col("_li") == c + 1).cast("double"))
        for m in range(p):  # slope beta_m
            ty.append(-F.col(f"_x{m}"))
            tym1.append(-F.col(f"_x{m}"))
        u = [phy * ty[k] - phym1 * tym1[k] for k in range(q)]

        nf = F.col("_n").cast("double")
        aggs = []
        for k in range(q):
            aggs.append(
                F.sum(
                    F.round(u[k] / py * nf * nano, 0).cast("long")
                ).alias(f"g{k}")
            )
        for k in range(q):
            for l in range(k, q):
                d2 = dphy * ty[k] * ty[l] - dphym1 * tym1[k] * tym1[l]
                h = d2 / py - u[k] * u[l] / (py * py)
                aggs.append(
                    F.sum(
                        F.round(h * nf * nano, 0).cast("long")
                    ).alias(f"h{k}_{l}")
                )
        row = cc.agg(*aggs).collect()[0]
        g = np.array([row[f"g{k}"] / 1e9 for k in range(q)])
        hess = np.zeros((q, q))
        for k in range(q):
            for l in range(k, q):
                hess[k, l] = hess[l, k] = row[f"h{k}_{l}"] / 1e9
        info = -hess
        step = np.clip(np.linalg.solve(info, g), -1.0, 1.0)
        theta = [round(t + s, 9) for t, s in zip(theta, step)]

    alphas = theta[: jj - 1]
    betas = theta[jj - 1:]
    if return_se:
        cov = np.linalg.inv(info)
        se = [round(float(np.sqrt(cov[k, k])), 9) for k in range(q)]
        return levels, alphas, betas, se
    return levels, alphas, betas


def tmle_ate(
    df: DataFrame,
    feature_cols,
    treat_col: str,
    y_col: str,
    iters: int = 8,
    g_bounds: tuple = (0.025, 0.975),
):
    """Targeted maximum likelihood estimation of the average
    treatment effect for a binary outcome (van der Laan & Rubin
    2006; the TMLE everyone means) — the DOUBLY-ROBUST, plug-in
    companion to ``operators/survival.py::aipw_survival_contrast``:
    consistent if EITHER the outcome model OR the propensity is
    right, and unlike plain AIPW the estimate always lands inside
    [0, 1] because the correction happens on the logit scale:

      1. initial outcome model  Q̂(a, x) = σ(β₀ + β_a a + β·x)
         (``glm_logistic`` on [treat] + features);
      2. propensity            ĝ(x) = σ(γ₀ + γ·x), clipped to
         ``g_bounds`` (positivity guard — the standard 2.5% trim);
      3. fluctuation: one logistic sub-model with the CLEVER
         COVARIATES H₁ = a/ĝ, H₀ = (1−a)/(1−ĝ) and offset
         logit Q̂ — a 2-parameter Newton (ε₁, ε₀) whose score being
         zero is EXACTLY the EIF equation TMLE exists to solve;
      4. plug-in ATE = mean_i[σ(logit Q̂(1,x) + ε₁/ĝ)
                             − σ(logit Q̂(0,x) + ε₀/(1−ĝ))];
      5. influence-curve SE: IC = (H₁−H₀)(y − Q*_a) + Q*₁ − Q*₀
         − ATE, SE = √(Σ IC²/n)/√n, Wald 95% CI.

    Every stage is aggregates of per-row closed forms on the nano
    lattice — the two GLMs are ``glm_logistic`` passes, the
    fluctuation is one 5-scalar aggregate per Newton step, the
    plug-in and IC folds are one aggregate each; everything is
    bit-identical under any partitioning (the glm contract). r10:
    all stages share ONE ``_fit_cells`` weighted collapse (terms are
    pure functions of (treat, x, y); falls back to raw rows past the
    pattern bound), and the two independent initial fits run in
    parallel driver threads.

    Returns (ate, se, ci_lo, ci_hi, eps) with eps = [ε₁, ε₀], all
    driver floats rounded to 9 dp.
    """
    import numpy as np

    lo_b, hi_b = float(g_bounds[0]), float(g_bounds[1])
    if not (0.0 < lo_b < hi_b < 1.0):
        raise ValueError("tmle_ate: g_bounds must satisfy 0<lo<hi<1")
    feats = list(feature_cols)
    nano = F.lit(1000000000.0)

    # r10: ONE weighted-cell collapse shared by both GLM stages, the
    # fluctuation loop and the plug-in/IC folds — every per-row term
    # below is a pure function of (treat, x, y), so the collapsed
    # frame is bit-exact (see _fit_cells) — and the two INDEPENDENT
    # initial fits run in two driver threads so their tiny
    # per-iteration jobs overlap instead of serializing (guide §2.6;
    # results are unchanged: each fit is a deterministic lattice
    # computation on its own).
    from concurrent.futures import ThreadPoolExecutor

    srcw = _fit_cells(
        df, list(dict.fromkeys([treat_col] + feats + [y_col]))
    )
    src, cw, _pdfc = srcw
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_q = pool.submit(
            glm_logistic, df, [treat_col] + feats, y_col,
            iters=iters, _srcw=srcw,
        )
        f_g = pool.submit(
            glm_logistic, df, feats, treat_col, iters=iters,
            _srcw=srcw,
        )
        beta_q = f_q.result()
        beta_g = f_g.result()

    a = F.col(treat_col).cast("double")
    y = F.col(y_col).cast("double")

    def lin(b, with_a):
        e = F.lit(b[0]) + (F.lit(b[1]) * a if with_a else F.lit(0.0))
        off = 2 if with_a else 1
        for j, c in enumerate(feats):
            e = e + F.lit(b[off + j]) * F.col(c).cast("double")
        return e

    logit_q = lin(beta_q, True)
    logit_q1 = (
        F.lit(beta_q[0] + beta_q[1])
        + sum(
            (F.lit(beta_q[2 + j]) * F.col(c).cast("double")
             for j, c in enumerate(feats)),
            F.lit(0.0),
        )
    )
    logit_q0 = lin([beta_q[0]] + beta_q[2:], False)
    gx = F.lit(1.0) / (F.lit(1.0) + F.exp(-lin(beta_g, False)))
    gx = F.least(F.greatest(gx, F.lit(lo_b)), F.lit(hi_b))
    h1 = a / gx
    h0 = (F.lit(1.0) - a) / (F.lit(1.0) - gx)

    eps = [0.0, 0.0]
    for _ in range(iters):
        et = logit_q + F.lit(eps[0]) * h1 + F.lit(eps[1]) * h0
        pr = F.lit(1.0) / (F.lit(1.0) + F.exp(-et))
        w = pr * (F.lit(1.0) - pr)
        row = src.agg(
            F.sum(
                F.round((y - pr) * h1 * nano, 0).cast("long") * cw
            ).alias("g1"),
            F.sum(
                F.round((y - pr) * h0 * nano, 0).cast("long") * cw
            ).alias("g0"),
            F.sum(
                F.round(w * h1 * h1 * nano, 0).cast("long") * cw
            ).alias("i11"),
            F.sum(
                F.round(w * h1 * h0 * nano, 0).cast("long") * cw
            ).alias("i10"),
            F.sum(
                F.round(w * h0 * h0 * nano, 0).cast("long") * cw
            ).alias("i00"),
        ).collect()[0]
        gv = np.array([row["g1"] / 1e9, row["g0"] / 1e9])
        iv = np.array(
            [
                [row["i11"] / 1e9, row["i10"] / 1e9],
                [row["i10"] / 1e9, row["i00"] / 1e9],
            ]
        )
        step = np.linalg.solve(iv, gv)
        eps = [round(e + s, 9) for e, s in zip(eps, step)]

    q1s = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-(logit_q1 + F.lit(eps[0]) / gx))
    )
    q0s = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(logit_q0 + F.lit(eps[1]) / (F.lit(1.0) - gx)))
    )
    r1 = src.agg(
        F.sum(
            F.round((q1s - q0s) * nano, 0).cast("long") * cw
        ).alias("s"),
        F.sum(cw).alias("n"),
    ).collect()[0]
    n = r1["n"]
    ate = round(r1["s"] / 1e9 / n, 9)

    qas = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(logit_q + F.lit(eps[0]) * h1 + F.lit(eps[1]) * h0))
    )
    ic = (h1 - h0) * (y - qas) + q1s - q0s - F.lit(ate)
    r2 = src.agg(
        F.sum(F.round(ic * ic * nano, 0).cast("long") * cw).alias("s2")
    ).collect()[0]
    se = round(float(np.sqrt(r2["s2"] / 1e9 / n) / np.sqrt(n)), 9)
    z = 1.959963984540054
    return (
        ate,
        se,
        round(ate - z * se, 9),
        round(ate + z * se, 9),
        eps,
    )


def fisher_exact(
    df: DataFrame,
    group_cols,
    exposure_col: str,
    case_col: str,
    max_support: int = 10000,
) -> DataFrame:
    """Fisher's exact test for 2x2 tables per group (the conditional
    hypergeometric test; two-sided by the point-probability rule R's
    ``fisher.test`` uses, with its 1e-7 relative tolerance) — the
    small-cell companion to ``chi_square_by``/``mcnemar_test`` every
    registry needs when suppressed counts make the chi-square
    approximation dishonest.

    Conditional on the margins (r1, r2, c1), A = exposed cases has
    support k in [max(0, c1-r2), min(r1, c1)] and pmf proportional to
    C(r1,k)*C(r2,c1-k). No lgamma exists JVM-side, so the log-pmf
    comes from the TELESCOPING ratio

        ln P(k+1) - ln P(k) = ln[(r1-k)(c1-k)] - ln[(k+1)(r2-c1+k+1)]

    materialized as one explode(sequence) over the support and an
    exclusive ``grouped_prefix_sum`` (nano-lattice longs, so the
    whole test is bit-identical under any partitioning). p =
    sum of exp-normalized pmf over {k : lnP(k) <= lnP(a) + ln(1+1e-7)},
    every exp term pico-rounded before the exact long sum.

    Fisher's exact test is a SMALL-COUNT procedure: a support wider
    than ``max_support`` (min margin beyond ~1e4, where the test is
    numerically indistinguishable from chi-square) raises a named
    in-plan error rather than exploding rows — the ``max_x_patterns``
    convention.

    Scale shape: one map-side aggregate to four long counts per
    group, one grid-bounded explode (support rows), one grouped
    prefix pass, two per-group folds. Returns (group, a, b, c, d,
    odds_ratio, p_point, p_two_sided), 6 dp for the OR, 9 dp for the
    p-values.
    """
    from .windows import grouped_prefix_sum

    g = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    ex = F.col(exposure_col).cast("int")
    cs = F.col(case_col).cast("int")
    tab = df.groupBy(*g).agg(
        F.sum(ex * cs).cast("long").alias("_a"),
        F.sum(ex * (1 - cs)).cast("long").alias("_b"),
        F.sum((1 - ex) * cs).cast("long").alias("_c"),
        F.sum((1 - ex) * (1 - cs)).cast("long").alias("_d"),
    )
    r1 = F.col("_a") + F.col("_b")
    r2 = F.col("_c") + F.col("_d")
    c1 = F.col("_a") + F.col("_c")
    kmin = F.greatest(F.lit(0).cast("long"), c1 - r2)
    kmax = F.least(r1, c1)
    size = kmax - kmin + 1
    tab = tab.withColumn(
        "_kmin",
        F.when(
            size > max_support,
            F.raise_error(
                F.concat(
                    F.lit(
                        "fisher_exact: support exceeds max_support="
                    ),
                    F.lit(str(max_support)),
                    F.lit(" (use chi_square_by at these counts)"),
                )
            ).cast("long"),
        ).otherwise(kmin),
    ).withColumn("_kmax", kmax)
    nano = F.lit(1000000000.0)
    sup = tab.withColumn(
        "_k", F.explode(F.sequence(F.col("_kmin"), F.col("_kmax")))
    )
    kk = F.col("_k").cast("double")
    r1d = r1.cast("double")
    r2d = r2.cast("double")
    c1d = c1.cast("double")
    # log step ln P(k+1) - ln P(k), attached to row k (0 on the last
    # row, never consumed by the EXCLUSIVE prefix)
    step = (
        F.log(r1d - kk)
        + F.log(c1d - kk)
        - F.log(kk + 1)
        - F.log(r2d - c1d + kk + 1)
    )
    sup = sup.withColumn(
        "_step",
        F.when(
            F.col("_k") < F.col("_kmax"),
            F.round(step * nano, 0).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    sup = grouped_prefix_sum(sup, g, "_k", ["_step"], ["_lw"])
    stats = sup.groupBy(*g).agg(F.max("_lw").alias("_lwmax"))
    pt = sup.filter(F.col("_k") == F.col("_a")).select(
        *g, F.col("_lw").alias("_lwa")
    )
    sup = sup.join(F.broadcast(stats), g).join(F.broadcast(pt), g)
    pico = F.lit(1000000000000.0)
    term = F.round(
        F.exp((F.col("_lw") - F.col("_lwmax")) / nano) * pico, 0
    ).cast("long")
    tol = int(round(__import__("math").log1p(1e-7) * 1e9))
    agg = sup.groupBy(*g).agg(
        F.sum(term).alias("_tot"),
        F.sum(
            F.when(
                F.col("_lw") <= F.col("_lwa") + F.lit(tol), term
            ).otherwise(F.lit(0).cast("long"))
        ).alias("_le"),
        F.sum(
            F.when(F.col("_k") == F.col("_a"), term).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("_pt"),
        F.first("_a").alias("_a"),
        F.first("_b").alias("_b"),
        F.first("_c").alias("_c"),
        F.first("_d").alias("_d"),
    )
    orx = (
        F.col("_a").cast("double") * F.col("_d")
        / (F.col("_b").cast("double") * F.col("_c"))
    )
    return agg.select(
        *g,
        F.col("_a").alias("a"),
        F.col("_b").alias("b"),
        F.col("_c").alias("c"),
        F.col("_d").alias("d"),
        F.when(
            (F.col("_b") > 0) & (F.col("_c") > 0), F.round(orx, 6)
        ).alias("odds_ratio"),
        F.round(F.col("_pt") / F.col("_tot"), 9).alias("p_point"),
        F.round(F.col("_le") / F.col("_tot"), 9).alias("p_two_sided"),
    )


def psm_att(
    df: DataFrame,
    feature_cols,
    treat_col: str,
    y_col: str,
    iters: int = 8,
    caliper: float | None = None,
):
    """Propensity-score matching estimate of the ATT (Rosenbaum &
    Rubin 1983): 1-nearest-neighbor matching WITH replacement on the
    logistic propensity, the registry's 'find each exposed patient a
    statistical twin' design — the matching counterpart to the
    weighting (``ipw``/``tmle_ate``) members of the causal family.

    EXACT global 1-NN without any quadratic candidate join: treated
    and control rows union onto the score axis and TWO
    ``global_last_carry`` passes (ascending and descending propensity)
    hand every treated row its nearest control at-or-below and
    at-or-above; the closer wins (ties toward the preceding control —
    the ``asof_join`` <= convention; controls sort before treated at
    equal scores so an exact-score twin always matches). Controls
    first collapse to DISTINCT-score cells carrying the exact-lattice
    mean outcome: all controls at a score are interchangeable twins,
    so the cell mean is the natural matched outcome, the control
    frame shrinks, and equal-score control ties (which would need an
    arbitrary partitioning-dependent tie-break) cannot exist.
    ``caliper`` (propensity units) drops treated rows whose nearest
    control is farther than the cap, the standard caliper-matching
    guard against off-support matches.

    ATT = mean(y_treated − y_matched); SE is the matched-PAIRS
    approximation sd(d_i)/√n (documented understatement: it ignores
    control reuse — Abadie-Imbens corrections need the reuse counts;
    the direction is conservative DOWN, so the CI is a lower bound on
    uncertainty, flagged in the returned column name se_paired).

    Scale shape: one glm_logistic fit (nano-lattice aggregates), one
    union + two range-partitioned carry passes + one id-keyed join of
    the two fills, one final fold — no per-pattern frame, no
    quadratic bucket join, bit-identical under any partitioning.
    Returns one row: (n_treated, n_matched, att, se_paired, ci_lo,
    ci_hi), 9 dp.
    """
    import numpy as np

    from .windows import global_last_carry

    feats = list(feature_cols)
    if caliper is not None and caliper <= 0:
        raise ValueError("psm_att: caliper must be positive")
    beta = glm_logistic(df, feats, treat_col, iters=iters)
    eta = F.lit(beta[0])
    for j, c in enumerate(feats):
        eta = eta + F.lit(beta[j + 1]) * F.col(c).cast("double")
    ps = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))

    base = df.select(
        ps.alias("_ps"),
        F.col(treat_col).cast("int").alias("_a"),
        F.col(y_col).cast("double").alias("_y"),
    )
    # controls collapse to DISTINCT-score cells with the exact-lattice
    # mean outcome: all controls at a score are interchangeable twins,
    # so the cell mean is the matched outcome — this both shrinks the
    # control frame and makes score ties impossible (the determinism
    # contract needs no arbitrary tie-break among equal-score controls)
    ctrl = (
        base.filter(F.col("_a") == 0)
        .groupBy("_ps")
        .agg(
            (
                F.sum(
                    F.round(F.col("_y") * F.lit(1000000.0), 0).cast(
                        "long"
                    )
                )
                / F.lit(1000000.0)
                / F.count(F.lit(1))
            ).alias("_cy")
        )
    )
    treated = base.filter(F.col("_a") == 1).select(
        "_ps",
        "_y",
        F.monotonically_increasing_id().alias("_id"),
    ).localCheckpoint(eager=True)
    frame = treated.select(
        "_ps",
        F.lit(1).alias("_a"),
        "_y",
        "_id",
        F.lit(None).cast("double").alias("_cps"),
        F.lit(None).cast("double").alias("_cy"),
        (-F.col("_ps")).alias("_nps"),
    ).unionByName(
        ctrl.select(
            F.col("_ps"),
            F.lit(0).alias("_a"),
            F.lit(None).cast("double").alias("_y"),
            F.lit(-1).cast("long").alias("_id"),
            F.col("_ps").alias("_cps"),
            F.col("_cy"),
            (-F.col("_ps")).alias("_nps"),
        )
    )
    fwd = global_last_carry(
        frame, ["_ps", "_a", "_id"], ["_cps", "_cy"],
        ["_pps", "_py"],
    ).filter(F.col("_a") == 1).select("_id", "_pps", "_py")
    bwd = global_last_carry(
        frame, ["_nps", "_a", "_id"], ["_cps", "_cy"],
        ["_nxps", "_ny"],
    ).filter(F.col("_a") == 1).select(
        "_id", "_nxps", "_ny", "_ps", "_y"
    )
    t = bwd.join(fwd, "_id")
    d_prev = F.col("_ps") - F.col("_pps")
    d_next = F.col("_nxps") - F.col("_ps")
    use_prev = F.col("_pps").isNotNull() & (
        F.col("_nxps").isNull() | (d_prev <= d_next)
    )
    dist = F.when(use_prev, d_prev).otherwise(d_next)
    ym = F.when(use_prev, F.col("_py")).otherwise(F.col("_ny"))
    matched = (F.col("_pps").isNotNull() | F.col("_nxps").isNotNull())
    if caliper is not None:
        matched = matched & (dist <= F.lit(float(caliper)))
    nano = F.lit(1000000000.0)
    dd = F.col("_y") - ym
    row = t.agg(
        F.count(F.lit(1)).alias("n_treated"),
        F.sum(matched.cast("long")).alias("n_matched"),
        F.sum(
            F.when(matched, F.round(dd * nano, 0).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("_sd"),
        F.sum(
            F.when(matched, F.round(dd * dd * nano, 0).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("_sd2"),
    ).collect()[0]
    n = row["n_matched"]
    spark = df.sparkSession
    if not n:
        return spark.createDataFrame(
            [(row["n_treated"], 0, None, None, None, None)],
            "n_treated long, n_matched long, att double, "
            "se_paired double, ci_lo double, ci_hi double",
        )
    att = row["_sd"] / 1e9 / n
    var = max(row["_sd2"] / 1e9 / n - att * att, 0.0) / max(n - 1, 1)
    se = float(np.sqrt(var))
    z = 1.959963984540054
    return spark.createDataFrame(
        [
            (
                row["n_treated"],
                n,
                round(att, 9),
                round(se, 9),
                round(att - z * se, 9),
                round(att + z * se, 9),
            )
        ],
        "n_treated long, n_matched long, att double, "
        "se_paired double, ci_lo double, ci_hi double",
    )


def _multinomial_driver_fit(pdf, feats, iters, return_se, max_levels):
    """numpy twin of the ``multinomial_logistic`` Newton loop over
    collected cells — transliterated term-for-term from the
    distributed fold (same softmax op order, same nano roundings,
    exact int64 sums), bit-identical (pinned in
    tests/test_driverfit.py)."""
    import numpy as np

    p = len(feats)
    levels, _counts = _sorted_levels(pdf)
    if len(levels) > max_levels:
        raise ValueError(
            f"multinomial_logistic: {len(levels)} levels exceeds "
            f"max_levels={max_levels}"
        )
    if len(levels) < 2:
        raise ValueError(
            "multinomial_logistic: need >= 2 outcome levels"
        )
    jj = len(levels)
    nb = jj - 1
    q = nb * (p + 1)
    theta = [0.0] * q

    nn = pdf["_n"].to_numpy().astype(np.int64)
    nf = nn.astype(np.float64)
    C = len(nn)
    xv = [np.ones(C)] + [
        pdf[f"_x{j}"].to_numpy().astype(np.float64) for j in range(p)
    ]
    yvals = pdf["_y"].tolist()

    info = None
    for _ in range(iters):
        etas = []
        for j in range(nb):
            e = np.zeros(C) + theta[j * (p + 1)]
            for m in range(p):
                e = e + theta[j * (p + 1) + 1 + m] * xv[m + 1]
            etas.append(e)
        denom = 1.0
        for e in etas:
            denom = denom + np.exp(e)
        probs = [np.exp(e) / denom for e in etas]
        g = []
        for j in range(nb):
            ind = np.array(
                [1.0 if v == levels[j] else 0.0 for v in yvals]
            )
            for m in range(p + 1):
                g.append(
                    round_half_up(
                        (ind - probs[j]) * xv[m] * nf * 1e9
                    )
                    .astype(np.int64)
                    .sum()
                    / 1e9
                )
        g = np.array(g)
        info = np.zeros((q, q))
        for j in range(nb):
            for m in range(p + 1):
                a_ix = j * (p + 1) + m
                for k in range(j, nb):
                    for l in range(p + 1):
                        if k == j and l < m:
                            continue
                        b_ix = k * (p + 1) + l
                        pp = (
                            probs[j] * (1.0 - probs[j])
                            if j == k
                            else -probs[j] * probs[k]
                        )
                        v = (
                            round_half_up(
                                pp * xv[m] * xv[l] * nf * 1e9
                            )
                            .astype(np.int64)
                            .sum()
                            / 1e9
                        )
                        info[a_ix, b_ix] = info[b_ix, a_ix] = v
        step = np.clip(np.linalg.solve(info, g), -2.0, 2.0)
        theta = [round(t + s, 9) for t, s in zip(theta, step)]

    betas = [
        theta[j * (p + 1):(j + 1) * (p + 1)] for j in range(nb)
    ]
    if return_se:
        cov = np.linalg.inv(info)
        se = [
            [
                round(
                    float(np.sqrt(cov[j * (p + 1) + m,
                                      j * (p + 1) + m])),
                    9,
                )
                for m in range(p + 1)
            ]
            for j in range(nb)
        ]
        return levels, betas, se
    return levels, betas


def multinomial_logistic(
    df: DataFrame,
    feature_cols,
    y_col: str,
    iters: int = 8,
    return_se: bool = False,
    max_levels: int = 12,
):
    """Baseline-category multinomial logistic regression (the
    softmax / polytomous logit — R ``nnet::multinom``): for J
    UNORDERED outcome categories with the LAST sorted level as
    baseline,

        P(Y = j | x) = exp(eta_j) / (1 + sum_k exp(eta_k)),
        eta_j = beta_j0 + beta_j . x   (j = 1..J-1, eta_J = 0),

    the nominal-outcome sibling of ``ordinal_logistic`` (which
    spends far fewer parameters when the scale is ordered — the
    classic trade the registries navigate for histology vs stage).
    Newton-Raphson on the exact multinomial log-likelihood with the
    full analytic Hessian:

        g_{jm}      = sum ([y=j] - p_j) x_m
        H_{jm,kl}   = -sum p_j([j=k] - p_k) x_m x_l

    Subjects collapse ONCE to (x-pattern, level) cells; each
    iteration is ONE map-side-combined nano-lattice aggregate over
    the cell frame — (J-1)(p+1) parameters, (q)(q+1)/2 Hessian
    cells, all JVM expressions, bit-identical under any partitioning
    (the glm contract). Levels are the sorted distinct ``y_col``
    values (``max_levels`` guard — the Hessian is q^2 driver-side).

    Returns (levels, betas) — or (levels, betas, se) — where betas
    is a list of J-1 coefficient vectors [b_j0, b_j1..b_jp] aligned
    to levels[:-1] (the baseline is levels[-1]).
    """
    import numpy as np

    iters = int(iters)
    if iters < 1:
        raise ValueError("multinomial_logistic: iters must be >= 1")
    feats = list(feature_cols)
    p = len(feats)
    nano = F.lit(1000000000.0)

    cells = df.groupBy(
        *[F.col(c).cast("double").alias(f"_x{j}") for j, c in
          enumerate(feats)],
        F.col(y_col).alias("_y"),
    ).agg(F.count(F.lit(1)).alias("_n"))
    cells = cells.localCheckpoint(eager=False)

    # r11 driver-solve fast path (driverfit.py): bounded collected
    # (x-pattern, level) cells -> levels AND the whole Newton loop run
    # on the driver (numpy twin of the fold below) — bit-identical,
    # pinned in tests/test_driverfit.py.
    _pdfc = collect_bounded(cells, [f"_x{j}" for j in range(p)], ["_y"])
    if _pdfc is not None:
        return _multinomial_driver_fit(
            _pdfc, feats, iters, return_se, max_levels
        )

    marg = (
        cells.groupBy("_y").agg(F.sum("_n").alias("_m"))
        .orderBy("_y")
        .collect()
    )
    if len(marg) > max_levels:
        raise ValueError(
            f"multinomial_logistic: {len(marg)} levels exceeds "
            f"max_levels={max_levels}"
        )
    if len(marg) < 2:
        raise ValueError(
            "multinomial_logistic: need >= 2 outcome levels"
        )
    levels = [r["_y"] for r in marg]
    jj = len(levels)
    nb = jj - 1  # non-baseline categories
    q = nb * (p + 1)
    theta = [0.0] * q  # [b_10..b_1p, b_20..b_2p, ...]

    info = None
    xs = [F.lit(1.0)] + [F.col(f"_x{m}") for m in range(p)]
    for _ in range(iters):
        etas = []
        for j in range(nb):
            e = F.lit(theta[j * (p + 1)])
            for m in range(p):
                e = e + F.lit(theta[j * (p + 1) + 1 + m]) * F.col(
                    f"_x{m}"
                )
            etas.append(e)
        denom = F.lit(1.0)
        for e in etas:
            denom = denom + F.exp(e)
        probs = [F.exp(e) / denom for e in etas]
        nf = F.col("_n").cast("double")
        aggs = []
        for j in range(nb):
            ind = (F.col("_y") == F.lit(levels[j])).cast("double")
            for m in range(p + 1):
                aggs.append(
                    F.sum(
                        F.round(
                            (ind - probs[j]) * xs[m] * nf * nano, 0
                        ).cast("long")
                    ).alias(f"g{j}_{m}")
                )
        for j in range(nb):
            for m in range(p + 1):
                for k in range(j, nb):
                    for l in range(p + 1):
                        if k == j and l < m:
                            continue
                        pp = (
                            probs[j] * (F.lit(1.0) - probs[j])
                            if j == k
                            else -probs[j] * probs[k]
                        )
                        aggs.append(
                            F.sum(
                                F.round(
                                    pp * xs[m] * xs[l] * nf * nano, 0
                                ).cast("long")
                            ).alias(f"h{j}_{m}_{k}_{l}")
                        )
        row = cells.agg(*aggs).collect()[0]
        g = np.array(
            [
                row[f"g{j}_{m}"] / 1e9
                for j in range(nb)
                for m in range(p + 1)
            ]
        )
        info = np.zeros((q, q))
        for j in range(nb):
            for m in range(p + 1):
                a_ix = j * (p + 1) + m
                for k in range(j, nb):
                    for l in range(p + 1):
                        if k == j and l < m:
                            continue
                        b_ix = k * (p + 1) + l
                        v = row[f"h{j}_{m}_{k}_{l}"] / 1e9
                        info[a_ix, b_ix] = info[b_ix, a_ix] = v
        step = np.clip(np.linalg.solve(info, g), -2.0, 2.0)
        theta = [round(t + s, 9) for t, s in zip(theta, step)]

    betas = [
        theta[j * (p + 1):(j + 1) * (p + 1)] for j in range(nb)
    ]
    if return_se:
        cov = np.linalg.inv(info)
        se = [
            [
                round(
                    float(np.sqrt(cov[j * (p + 1) + m,
                                      j * (p + 1) + m])),
                    9,
                )
                for m in range(p + 1)
            ]
            for j in range(nb)
        ]
        return levels, betas, se
    return levels, betas


def wilcoxon_signed_rank(
    df: DataFrame,
    value_a_col: str,
    value_b_col: str,
) -> DataFrame:
    """Wilcoxon SIGNED-RANK test for paired measurements — the
    paired companion to ``rank_sum_test`` (Mann-Whitney is for two
    independent groups; this is pre/post on the SAME subject, the
    registry's before/after-pathway-change comparison): rank the
    nonzero |d_i| = |b − a| with tie-averaged ranks, sum the ranks of
    the positive differences,

        W⁺,  μ = n(n+1)/4,
        σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48   (tie correction),
        z = (W⁺ − μ)/σ,

    zero differences dropped (the standard Wilcoxon convention —
    reported as n_pairs vs n_nonzero). NULL z when every |d| ties to
    one class (σ = 0).

    SCALE SHAPE: the rank_sum_test histogram idiom — tie-averaged
    ranks depend only on the |d| VALUE HISTOGRAM, so the pairs frame
    collapses to per-(|d|, sign) cells, the exclusive prefix runs
    over the distinct-|d| axis via ``global_prefix_sum``, and W⁺ is
    Σ c·rank on exact doubled-integer ranks. No global sort window
    anywhere. Returns one row: (n_pairs, n_nonzero, w_plus, z_stat),
    6 dp.
    """
    from .windows import global_prefix_sum

    d = F.col(value_b_col).cast("double") - F.col(
        value_a_col
    ).cast("double")
    base = df.select(d.alias("_d"))
    n_pairs = base.count()
    nz = base.filter(F.col("_d") != 0)
    cells = nz.groupBy(
        F.abs(F.col("_d")).alias("_ad"),
        (F.col("_d") > 0).cast("int").alias("_pos"),
    ).agg(F.count(F.lit(1)).alias("_c"))
    hist = cells.groupBy("_ad").agg(F.sum("_c").alias("_t"))
    pref = global_prefix_sum(hist, "_ad", "_t", alias="_pref")
    ranked = cells.join(pref, "_ad").select(
        "_pos",
        "_c",
        (2 * F.col("_pref") + F.col("_t") + 1).alias("_ar2"),
    )
    stats = ranked.agg(
        F.sum("_c").alias("_n"),
        (
            F.sum(
                F.when(
                    F.col("_pos") == 1, F.col("_c") * F.col("_ar2")
                ).otherwise(F.lit(0))
            ).cast("double")
            / 2
        ).alias("_wp"),
    )
    ties = hist.agg(
        F.sum(
            F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
        ).alias("_tie3")
    )
    out = stats.crossJoin(F.broadcast(ties))
    n = F.col("_n").cast("double")
    mu = n * (n + 1) / 4
    var = n * (n + 1) * (2 * n + 1) / 24 - F.col("_tie3") / 48.0
    return out.select(
        F.lit(n_pairs).cast("long").alias("n_pairs"),
        F.col("_n").alias("n_nonzero"),
        F.round(F.col("_wp"), 6).alias("w_plus"),
        F.when(
            var > 0,
            F.round((F.col("_wp") - mu) / F.sqrt(var), 6),
        ).alias("z_stat"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman test — the nonparametric repeated-measures ANOVA
    (k treatments ranked WITHIN each of n blocks; the multi-variant
    paired sibling of ``wilcoxon_signed_rank``, e.g. k scoring
    models over the same document panel): with tie-averaged
    within-block ranks R_j summed per treatment,

        Q = [12/(n·k(k+1))]·Σ_j R_j² − 3n(k+1),
        Q_corr = Q / (1 − ΣT_b / (n·k(k³−k))),
        T_b = Σ_ties (t³ − t) within block b,

    χ²(k−1) under H₀. Each (block, treatment) must hold exactly ONE
    observation AND every block must contain every treatment (named
    in-plan errors otherwise — Friedman is a complete-block design;
    the completeness identity n_cells = n_blocks·k catches a block
    missing a treatment, which would otherwise rank over fewer than k
    rows while the formula uses the global k, ADVICE r09). NULL
    statistic when ties degenerate the correction to 0.

    SCALE SHAPE: ranks come from per-(block, value) tie cells and an
    exclusive keyed-window prefix over each block's value axis — a
    block spans exactly k rows, so the windows are bounded by design
    (never corpus-sized); the treatment rank sums and the
    tie-correction fold are two map-side aggregates. Returns one
    row: (n_blocks, k_treatments, q_stat, q_stat_tie_corrected,
    df), 6 dp.
    """
    b = F.col(block_col)
    tr = F.col(treatment_col)
    v = F.col(value_col).cast("double")
    base = df.select(b.alias("_b"), tr.alias("_tr"), v.alias("_v"))
    dup = base.groupBy("_b", "_tr").agg(
        F.count(F.lit(1)).alias("_c")
    )
    guard = dup.select(
        F.when(
            F.col("_c") != 1,
            F.raise_error(
                F.concat(
                    F.lit(
                        "friedman_test: needs exactly one value per "
                        "(block, treatment); got "
                    ),
                    F.col("_c").cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.col("_c")).alias("_ok")
    ).agg(F.sum("_ok").alias("_n_cells"))

    cells = base.groupBy("_b", "_v").agg(F.count(F.lit(1)).alias("_t"))
    w = (
        Window.partitionBy("_b")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cells = cells.withColumn(
        "_pref", F.coalesce(F.sum("_t").over(w), F.lit(0))
    ).withColumn("_ar2", 2 * F.col("_pref") + F.col("_t") + 1)
    ranked = base.join(cells, ["_b", "_v"]).select(
        "_tr", "_b", (F.col("_ar2").cast("double") / 2).alias("_r")
    )
    per_tr = ranked.groupBy("_tr").agg(F.sum("_r").alias("_rsum"))
    shape = base.agg(
        F.countDistinct("_b").alias("_nb"),
        F.countDistinct("_tr").alias("_k"),
    )
    tie = cells.agg(
        F.sum(
            F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
        ).alias("_tie3")
    )
    rs = per_tr.agg(
        F.sum(F.col("_rsum") * F.col("_rsum")).alias("_r2")
    )
    out = (
        shape.crossJoin(F.broadcast(rs))
        .crossJoin(F.broadcast(tie))
        .crossJoin(F.broadcast(guard))
    )
    nb = F.col("_nb").cast("double")
    k = F.col("_k").cast("double")
    q = (
        F.lit(12.0) / (nb * k * (k + 1)) * F.col("_r2")
        - 3 * nb * (k + 1)
    )
    corr = F.lit(1.0) - F.col("_tie3") / (nb * k * (k * k * k - k))
    return out.select(
        F.col("_nb").alias("n_blocks"),
        F.col("_k").alias("k_treatments"),
        F.round(q, 6).alias("q_stat"),
        F.when(corr > 0, F.round(q / corr, 6)).alias(
            "q_stat_tie_corrected"
        ),
        # 0·guard threads BOTH design checks into a published column
        # so Catalyst cannot prune the raises away: _n_cells raises
        # upstream on any duplicated (block, treatment) cell, and the
        # complete-block identity n_cells == n_blocks·k catches a
        # block MISSING a treatment (ADVICE r09)
        (
            F.col("_k")
            - 1
            + 0
            * F.when(
                F.col("_n_cells") == F.col("_nb") * F.col("_k"),
                F.col("_n_cells"),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "friedman_test: incomplete block design — "
                            "got "
                        ),
                        F.col("_n_cells").cast("string"),
                        F.lit(" (block, treatment) cells, expected "),
                        (F.col("_nb") * F.col("_k")).cast("string"),
                        F.lit(
                            " (every block must hold every treatment)"
                        ),
                    )
                ).cast("long")
            )
        )
        .cast("long")
        .alias("df"),
    )


def bayes_ab_beta(
    df: DataFrame,
    group_cols,
    variant_col: str,
    case_col: str,
    max_terms: int = 10000,
) -> DataFrame:
    """EXACT Bayesian A/B probability P(p_B > p_A | data) under
    independent Beta(1,1)-prior binomials (the closed form every
    Bayesian A/B dashboard quotes; Cook/Miller's finite sum) — the
    decision-layer companion to ``msprt_two_sample``:

        P = Σ_{i=0}^{α_B−1} B(α_A+i, β_A+β_B)
                           / [(β_B+i)·B(1+i, β_B)·B(α_A, β_A)]

    with α = successes+1, β = failures+1. No lgamma exists JVM-side,
    so the sum runs on telescoping ratios (the ``fisher_exact``
    idiom): ln T₀ = Σ_{j<β_B} ln[(β_A+j)/(α_A+β_A+j)] is ONE
    ``aggregate(sequence(...))`` of nano-rounded longs, and
    ln T_{i+1} − ln T_i = ln[(α_A+i)(β_B+i)] −
    ln[(α_A+β_A+β_B+i)(1+i)] accumulates via ``grouped_prefix_sum``
    over an exploded support — every distributed sum an exact long
    sum, bit-identical under any partitioning.

    Exactness is a SMALL-COUNT luxury: a variant with more than
    ``max_terms`` successes+1 or failures+1 raises a named in-plan
    error (at those counts the posterior comparison is numerically a
    Gaussian and P is 0/1 to machine precision — use stats_welch).
    Variant labels order lexically: A = min label, B = max label
    (the rank_sum_test convention); exactly two variants per group
    (named error otherwise).

    Scale shape: one map-side (group, variant) collapse, one bounded
    explode + grouped prefix, two bounded folds. Returns one row per
    group: (group…, s_a, n_a, s_b, n_b, prob_b_beats_a), 9 dp.
    """
    from .windows import grouped_prefix_sum

    g = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    per = df.groupBy(*g, F.col(variant_col).alias("_v")).agg(
        F.sum(F.col(case_col).cast("long")).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    shape = per.groupBy(*g).agg(
        F.count(F.lit(1)).alias("_nv"),
        F.min("_v").alias("_va"),
        F.max("_v").alias("_vb"),
        F.min(F.struct("_v", "_s", "_n")).alias("_pa"),
        F.max(F.struct("_v", "_s", "_n")).alias("_pb"),
    )
    shape = shape.withColumn(
        "_nv",
        F.when(
            F.col("_nv") != 2,
            F.raise_error(
                F.lit("bayes_ab_beta: needs exactly two variants")
            ).cast("long"),
        ).otherwise(F.col("_nv")),
    )
    sa = F.col("_pa._s")
    na = F.col("_pa._n")
    sb = F.col("_pb._s")
    nb = F.col("_pb._n")
    wide = shape.select(
        *g,
        F.col("_nv").alias("_nvg"),
        sa.alias("_sa"),
        na.alias("_na"),
        sb.alias("_sb"),
        nb.alias("_nb"),
        (sa + 1).alias("_aa"),
        (na - sa + 1).alias("_ba"),
        (sb + 1).alias("_ab"),
        (nb - sb + 1).alias("_bb"),
    )
    too_big = (F.col("_ab") > max_terms) | (F.col("_bb") > max_terms)
    wide = wide.withColumn(
        "_ab",
        F.when(
            too_big,
            F.raise_error(
                F.lit(
                    f"bayes_ab_beta: counts exceed max_terms="
                    f"{max_terms} (use stats_welch at this scale)"
                )
            ).cast("long"),
        ).otherwise(F.col("_ab")),
    )
    nano = F.lit(1000000000.0)
    aa = F.col("_aa").cast("double")
    ba = F.col("_ba").cast("double")
    bb = F.col("_bb").cast("double")
    lnt0 = F.aggregate(
        F.sequence(F.lit(0).cast("long"), F.col("_bb") - 1),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.round(
            (F.log(ba + j.cast("double"))
             - F.log(aa + ba + j.cast("double"))) * nano,
            0,
        ).cast("long"),
    )
    wide = wide.withColumn("_lnt0", lnt0).localCheckpoint(eager=False)
    sup = wide.withColumn(
        "_i",
        F.explode(F.sequence(F.lit(0).cast("long"),
                             F.col("_ab") - 1)),
    )
    ii = F.col("_i").cast("double")
    step = (
        F.log(aa + ii)
        + F.log(bb + ii)
        - F.log(aa + ba + bb + ii)
        - F.log(ii + 1)
    )
    sup = sup.withColumn(
        "_step",
        F.when(
            F.col("_i") < F.col("_ab") - 1,
            F.round(step * nano, 0).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    sup = grouped_prefix_sum(sup, g, "_i", ["_step"], ["_acc"])
    pico = F.lit(1000000000000.0)
    term = F.round(
        F.exp((F.col("_lnt0") + F.col("_acc")) / nano) * pico, 0
    ).cast("long")
    out = sup.groupBy(*g).agg(
        F.sum(term).alias("_p"),
        F.first("_sa").alias("_sa"),
        F.first("_na").alias("_na"),
        F.first("_sb").alias("_sb"),
        F.first("_nb").alias("_nb"),
        F.first("_nvg").alias("_nvg2"),
    )
    return out.select(
        *g,
        F.col("_sa").alias("s_a"),
        F.col("_na").alias("n_a"),
        F.col("_sb").alias("s_b"),
        F.col("_nb").alias("n_b"),
        F.round(
            F.least(
                F.col("_p") / pico
                + 0 * F.col("_nvg2").cast("double"),
                F.lit(1.0),
            ),
            9,
        ).alias("prob_b_beats_a"),
    )


def tost_equivalence(
    df: DataFrame,
    variant_col: str,
    metric_col: str,
    margin: float,
    metric_is_cents: bool = True,
    z_crit: float = 1.6448536269514722,
) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987's two one-sided tests —
    the A/B question significance tests cannot answer: 'is B the
    SAME as A within ±margin?', the do-no-harm launch gate): with
    the Welch mean difference d = mean_b − mean_a and its SE,

        t_lower = (d + margin)/SE   must exceed  +z_crit,
        t_upper = (d − margin)/SE   must fall below −z_crit,

    both at one-sided α = 0.05 (``z_crit`` = Φ⁻¹(0.95), the
    large-sample normal reference — honest at A/B sample sizes,
    documented; equivalence at level α needs BOTH, which is why TOST
    is operationally a 90% CI inside ±margin). Same exact-integer
    moment machinery as ``welch_ttest`` (one scan, two one-row
    folds); same two-variant gate and NULL conventions; margin must
    be positive (named error). Returns one row: (variant_a,
    variant_b, n_a, n_b, mean_diff, se_diff, t_lower, t_upper,
    equivalent), 6 dp.
    """
    if margin <= 0:
        raise ValueError("tost_equivalence: margin must be > 0")
    y = (
        _cents(F.col(metric_col))
        if metric_is_cents
        else F.col(metric_col).cast("long")
    )
    m = df.groupBy(F.col(variant_col).alias("_v")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(_acc(y, True)).alias("_s1"),
        F.sum(_acc(y * y, True)).alias("_s2"),
    )
    a = m.orderBy("_v").limit(1).select(
        F.col("_v").alias("variant_a"),
        F.col("_n").alias("n_a"),
        F.col("_s1").alias("_s1a"),
        F.col("_s2").alias("_s2a"),
    )
    b = m.orderBy(F.col("_v").desc()).limit(1).select(
        F.col("_v").alias("variant_b"),
        F.col("_n").alias("n_b"),
        F.col("_s1").alias("_s1b"),
        F.col("_s2").alias("_s2b"),
    )
    nv = m.agg(F.count(F.lit(1)).alias("_nv"))
    j = a.crossJoin(b).crossJoin(nv)
    div = 100.0 if metric_is_cents else 1.0

    def stats(n, s1, s2):
        nn = F.col(n).cast("double")
        m_ = F.col(s1).cast("double") / nn
        var = (F.col(s2).cast("double") - nn * m_ * m_) / (nn - 1)
        return m_, var

    ma, va = stats("n_a", "_s1a", "_s2a")
    mb, vb = stats("n_b", "_s1b", "_s2b")
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    d = (mb - ma) / F.lit(div)
    se = F.sqrt(va / na + vb / nb) / F.lit(div)
    t_lo = (d + F.lit(float(margin))) / se
    t_hi = (d - F.lit(float(margin))) / se
    ok = (
        (F.col("_nv") == 2)
        & (F.col("n_a") >= 2)
        & (F.col("n_b") >= 2)
        & (va / na + vb / nb > 0)
    )
    zc = F.lit(float(z_crit))
    return j.select(
        "variant_a",
        "variant_b",
        "n_a",
        "n_b",
        F.round(d, 6).alias("mean_diff"),
        F.when(ok, F.round(se, 6)).alias("se_diff"),
        F.when(ok, F.round(t_lo, 6)).alias("t_lower"),
        F.when(ok, F.round(t_hi, 6)).alias("t_upper"),
        F.when(ok, (t_lo > zc) & (t_hi < -zc)).alias("equivalent"),
    )


def qini_coefficient(
    df: DataFrame,
    score_col: str,
    treat_col: str,
    y_col: str,
) -> DataFrame:
    """Qini coefficient for UPLIFT models (Radcliffe 2007 — the
    treatment-effect analogue of AUC/Gini: rank customers by a
    model's predicted uplift, then measure how much incremental
    outcome the ranking concentrates into the top of the list vs
    targeting at random):

        U(k) = Yt(k) − Yc(k)·Nt(k)/Nc(k)      (incremental gains
               among the top-k by score, control arm rescaled),
        Qini = ∫ U d(fraction targeted) − U(N)/2   (area between
               the incremental-gains curve and the random line).

    Curve points sit at DISTINCT-score boundaries (ties enter
    together — the rank_sum_test histogram discipline, no arbitrary
    within-tie order), the area is trapezoidal between consecutive
    points from (0,0), and Nc(k)=0 prefixes fall back to Yt(k)
    (standard Qini convention for all-treated heads). Positive =
    the model ranks true responders first; 0 ≈ random; negative =
    anti-ranking.

    Scale shape: one map-side (score) cell collapse, ONE
    multi-column ``global_prefix_sum`` over the descending-score
    axis (4 columns in one pass), one micro-lattice trapezoid fold.
    Returns one row: (n, n_treated, n_control, u_total,
    qini_area, qini_random, qini_coefficient), 6 dp.
    """
    from .windows import global_prefix_sum

    t = F.col(treat_col).cast("long")
    yv = F.col(y_col).cast("double")
    cells = df.groupBy(
        (-F.col(score_col).cast("double")).alias("_ns")
    ).agg(
        F.sum(t).alias("_nt"),
        F.sum(1 - t).alias("_nc"),
        F.sum(
            F.round(t * yv * F.lit(1000000.0), 0).cast("long")
        ).alias("_yt"),
        F.sum(
            F.round((1 - t) * yv * F.lit(1000000.0), 0).cast("long")
        ).alias("_yc"),
    )
    pre = global_prefix_sum(
        cells,
        "_ns",
        ["_nt", "_nc", "_yt", "_yc"],
        ["_pnt", "_pnc", "_pyt", "_pyc"],
    )
    # inclusive cumulatives at each distinct-score boundary
    cnt = F.col("_pnt") + F.col("_nt")
    cnc = F.col("_pnc") + F.col("_nc")
    cyt = (F.col("_pyt") + F.col("_yt")) / F.lit(1000000.0)
    cyc = (F.col("_pyc") + F.col("_yc")) / F.lit(1000000.0)
    u = F.when(
        cnc > 0, cyt - cyc * (cnt.cast("double") / cnc)
    ).otherwise(cyt)
    # previous boundary's U via the same prefixes (exclusive)
    pnt = F.col("_pnt")
    pnc = F.col("_pnc")
    pyt = F.col("_pyt") / F.lit(1000000.0)
    pyc = F.col("_pyc") / F.lit(1000000.0)
    u_prev = F.when(
        pnc > 0, pyt - pyc * (pnt.cast("double") / pnc)
    ).otherwise(pyt)
    seg = F.col("_nt") + F.col("_nc")
    trap = F.round(
        (u_prev + u)
        / 2
        * seg.cast("double")
        * F.lit(1000000.0),
        0,
    ).cast("long")
    agg = pre.agg(
        F.sum(seg).alias("_n"),
        F.sum("_nt").alias("_tn"),
        F.sum("_nc").alias("_cn"),
        F.sum(trap).alias("_area"),
        F.sum("_yt").alias("_syt"),
        F.sum("_yc").alias("_syc"),
    )
    n = F.col("_n").cast("double")
    u_tot = F.when(
        F.col("_cn") > 0,
        F.col("_syt") / F.lit(1000000.0)
        - F.col("_syc")
        / F.lit(1000000.0)
        * (F.col("_tn").cast("double") / F.col("_cn")),
    ).otherwise(F.col("_syt") / F.lit(1000000.0))
    area = F.col("_area") / F.lit(1000000.0) / n
    rand = u_tot / 2
    return agg.select(
        F.col("_n").alias("n"),
        F.col("_tn").alias("n_treated"),
        F.col("_cn").alias("n_control"),
        F.round(u_tot, 6).alias("u_total"),
        F.round(area, 6).alias("qini_area"),
        F.round(rand, 6).alias("qini_random"),
        F.round(area - rand, 6).alias("qini_coefficient"),
    )


def cronbach_alpha(
    df: DataFrame,
    item_cols,
) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient (Cronbach
    1951) — the reliability check behind every multi-item instrument
    a registry ingests (QoL scales, deprivation indices, symptom
    scores):

        α = k/(k−1) · (1 − Σᵢ var(itemᵢ) / var(Σᵢ itemᵢ)),

    sample variances (n−1). Item values ride the micro lattice
    (round(x·1e6) longs) so every distributed moment is an exact
    integer sum — n, Σ and Σ² per item plus the row-total moments
    all come from ONE map-side-combined aggregate, and α is a single
    mirrored double expression over them: bit-identical under any
    partitioning. Zero total variance (all respondents identical)
    returns NULL α; fewer than two items or two rows raise named
    errors. Returns one row: (n, k, sum_item_var, total_var, alpha),
    6 dp.
    """
    items = list(item_cols)
    k = len(items)
    if k < 2:
        raise ValueError("cronbach_alpha: need >= 2 item_cols")
    micro = F.lit(1000000.0)
    ys = [
        F.round(F.col(c).cast("double") * micro, 0).cast("long")
        for c in items
    ]
    tot = ys[0]
    for y in ys[1:]:
        tot = tot + y
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, y in enumerate(ys):
        aggs.append(F.sum(y).alias(f"_s{i}"))
        aggs.append(
            F.sum(y.cast("decimal(38,0)") * y).alias(f"_q{i}")
        )
    aggs.append(F.sum(tot).alias("_st"))
    aggs.append(
        F.sum(tot.cast("decimal(38,0)") * tot).alias("_qt")
    )
    agg = df.agg(*aggs)
    n = F.col("_n").cast("double")
    nn_ok = F.when(
        F.col("_n") < 2,
        F.raise_error(
            F.lit("cronbach_alpha: need >= 2 rows")
        ).cast("double"),
    ).otherwise(n)

    def var(s, q):
        m = F.col(s).cast("double") / nn_ok
        return (F.col(q).cast("double") - nn_ok * m * m) / (nn_ok - 1)

    item_var = var("_s0", "_q0")
    for i in range(1, k):
        item_var = item_var + var(f"_s{i}", f"_q{i}")
    tot_var = var("_st", "_qt")
    alpha = (
        F.lit(float(k))
        / F.lit(float(k - 1))
        * (F.lit(1.0) - item_var / tot_var)
    )
    mic2 = F.lit(1000000000000.0)
    return agg.select(
        F.col("_n").alias("n"),
        F.lit(k).cast("long").alias("k"),
        F.round(item_var / mic2, 6).alias("sum_item_var"),
        F.round(tot_var / mic2, 6).alias("total_var"),
        F.when(tot_var > 0, F.round(alpha, 6)).alias("alpha"),
    )


def mi_rubin_glm(
    df: DataFrame,
    key_col: str,
    feature_cols,
    y_col: str,
    family: str = "logistic",
    m: int = 5,
    seed: int = 7,
    iters: int = 8,
) -> DataFrame:
    """Multiple imputation with RUBIN'S RULES over the exact GLM
    family (Rubin 1987; Barnard & Rubin 1999 small-sample df) — the
    missing-data story cancer registries need (stage, deprivation and
    comorbidity fields are missing-heavy, and complete-case analysis
    both wastes power and biases toward the well-recorded):

      1. m DETERMINISTIC-SEED imputations: each missing feature value
         is drawn from N(mean_j, sd_j) of the column's OBSERVED values
         via an Irwin-Hall(12) normal (Σ of 12 md5-hash uniforms − 6 —
         JVM-side, bit-reproducible: the draw is a pure function of
         (seed, row key, feature, imputation, summand), never of
         partitioning or execution order).
      2. each completed dataset gets the full distributed fit
         (``glm_logistic`` / ``glm_poisson`` with Wald SEs — the exact
         nano-lattice IRLS, so every β̂_i is bit-deterministic).
      3. Rubin pooling per coefficient: q̄ = mean β̂_i, within
         W = mean SE_i², between B = Σ(β̂_i − q̄)²/(m−1), total
         T = W + (1 + 1/m)B, SE = √T; relative increase in variance
         riv = (1+1/m)B/W; Barnard-Rubin adjusted df
         ν = [ν_old⁻¹ + ν̂_obs⁻¹]⁻¹ with ν_old = (m−1)/λ²,
         ν̂_obs = ν_com(ν_com+1)(1−λ)/(ν_com+3), ν_com = n − (p+1),
         λ = (1+1/m)B/T; fraction of missing information
         fmi = (riv + 2/(ν+3))/(riv + 1).

    With NO missing values every imputation is the identity, so B = 0
    and the pooled estimates are BIT-EQUAL to the single fit (the
    pooled SE is √(mean of m identical SE²) — equal to the single-fit
    SE to float round-trip; pinned in tests), λ = 0 and ν collapses to
    its complete-data limit ν̂_obs.

    Named errors: unknown family; m < 2; NULL in ``y_col`` (impute
    features, not outcomes — a NULL y row must be handled upstream);
    a feature column with ZERO observed values (nothing to impute
    from). ``key_col`` must uniquely identify rows — it seeds the
    draws; duplicate keys would correlate imputations, not corrupt
    determinism.

    Scale shape: ONE exact micro-lattice moment pass for the observed
    means/sds + the y-null/all-missing guards, then m × iters
    single-row GLM aggregates (the glm_* contract — data never leaves
    the executors; imputation is a per-row JVM expression, no shuffle
    added). The pooling arithmetic is a driver fold over m ≤ dozens of
    (p+1)-vectors. Returns one row per coefficient: (term, estimate,
    se, statistic, df_adj, riv, fmi).
    """
    import math

    if family not in ("logistic", "poisson"):
        raise ValueError(
            f"mi_rubin_glm: unknown family {family!r} "
            "(logistic | poisson)"
        )
    m = int(m)
    if m < 2:
        raise ValueError("mi_rubin_glm: m must be >= 2")
    feats = list(feature_cols)
    p = len(feats)

    aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col(y_col).isNull().cast("long")).alias("_ynull"),
    ]
    for j, c in enumerate(feats):
        x = F.col(c).cast("double")
        aggs.append(F.sum(x.isNotNull().cast("long")).alias(f"_n{j}"))
        aggs.append(
            F.sum(
                F.when(
                    x.isNotNull(),
                    F.round(x * 1000000.0, 0).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias(f"_s{j}")
        )
        aggs.append(
            F.sum(
                F.when(
                    x.isNotNull(),
                    F.round(x * x * 1000000.0, 0).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias(f"_q{j}")
        )
    stat = df.agg(*aggs).collect()[0]
    n_rows = int(stat["_n"])
    if int(stat["_ynull"]) > 0:
        raise ValueError(
            "mi_rubin_glm: NULL values in the outcome column — MI here "
            "imputes features only; filter or impute y upstream"
        )
    mean_sd = []
    for j, c in enumerate(feats):
        nj = int(stat[f"_n{j}"])
        if nj == 0:
            raise ValueError(
                f"mi_rubin_glm: feature {c!r} has zero observed values "
                "— nothing to impute from"
            )
        mu = stat[f"_s{j}"] / 1e6 / nj
        var = (
            (stat[f"_q{j}"] / 1e6 - nj * mu * mu) / (nj - 1)
            if nj > 1
            else 0.0
        )
        mean_sd.append((round(mu, 9), round(math.sqrt(max(var, 0.0)), 9)))

    key = F.col(key_col).cast("string")

    def unif(j, i, k):
        h = F.md5(
            F.concat_ws(
                ":", F.lit(str(int(seed))), key, F.lit(str(j)),
                F.lit(str(i)), F.lit(str(k)),
            )
        )
        return (
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            / F.lit(4294967296.0)
        )

    fit = glm_logistic if family == "logistic" else glm_poisson

    # r10: the m imputation fits are fully INDEPENDENT deterministic
    # lattice computations (each β̂_i depends only on (seed, i) and the
    # data) — run them in driver threads so their small per-iteration
    # jobs overlap instead of serializing m × iters collect barriers
    # (guide §2.6); pool.map preserves order, so the pooled fold is
    # unchanged.
    def _one_imputation(i):
        cols = [F.col(key_col), F.col(y_col)]
        for j, c in enumerate(feats):
            mu, sd = mean_sd[j]
            z = sum(unif(j, i, k) for k in range(12)) - F.lit(6.0)
            cols.append(
                F.coalesce(
                    F.col(c).cast("double"),
                    F.round(F.lit(mu) + F.lit(sd) * z, 9),
                ).alias(c)
            )
        imp = df.select(*cols)
        return fit(imp, feats, y_col, iters=iters, return_se=True)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(m, 4)) as pool:
        results = list(pool.map(_one_imputation, range(m)))
    betas = [b for b, _ in results]
    ses = [s for _, s in results]

    terms = ["intercept"] + feats
    nu_com = n_rows - (p + 1)
    rows = []
    for j, term in enumerate(terms):
        bs = [betas[i][j] for i in range(m)]
        qbar = sum(bs) / m
        w = sum(ses[i][j] ** 2 for i in range(m)) / m
        b_var = sum((b - qbar) ** 2 for b in bs) / (m - 1)
        t_var = w + (1.0 + 1.0 / m) * b_var
        se = math.sqrt(t_var)
        riv = (1.0 + 1.0 / m) * b_var / w if w > 0 else 0.0
        lam = (1.0 + 1.0 / m) * b_var / t_var if t_var > 0 else 0.0
        nu_obs = (
            nu_com * (nu_com + 1.0) * (1.0 - lam) / (nu_com + 3.0)
            if nu_com > 0
            else 0.0
        )
        if lam > 0 and nu_obs > 0:
            nu_old = (m - 1.0) / (lam * lam)
            df_adj = 1.0 / (1.0 / nu_old + 1.0 / nu_obs)
        else:
            df_adj = nu_obs
        fmi = (
            (riv + 2.0 / (df_adj + 3.0)) / (riv + 1.0)
            if df_adj > 0
            else None
        )
        rows.append(
            (
                term,
                round(float(qbar), 9),
                round(float(se), 9),
                round(float(qbar / se), 6) if se > 0 else None,
                round(float(df_adj), 4),
                round(float(riv), 6),
                round(float(fmi), 6) if fmi is not None else None,
            )
        )
    return df.sparkSession.createDataFrame(
        rows,
        "term string, estimate double, se double, statistic double, "
        "df_adj double, riv double, fmi double",
    )


def _exact_percentile(vals, freq, tau):
    """numpy twin of Spark's ``percentile(col, tau, freq)`` aggregate
    (exact Percentile, NOT approx): sorted value/frequency pairs,
    position = τ·(N−1), and the two-key interpolation
    (higher−pos)·lowerKey + (pos−lower)·higherKey — transliterated
    from Percentile.getPercentile so the driver value is
    bit-identical."""
    import numpy as np

    order = np.argsort(vals, kind="stable")
    v = vals[order]
    f = freq[order]
    total = int(f.sum())
    position = tau * (total - 1)
    lower = int(np.floor(position))
    higher = int(np.ceil(position))
    cum = np.cumsum(f)
    lower_ix = int(np.searchsorted(cum, lower + 1, side="left"))
    higher_ix = int(np.searchsorted(cum, higher + 1, side="left"))
    lower_key = float(v[lower_ix])
    higher_key = float(v[higher_ix])
    if lower == higher or lower_key == higher_key:
        return lower_key
    return (higher - position) * lower_key + (
        position - lower
    ) * higher_key


def _quantile_driver_fit(df, pdf, feats, y_col, tau, iters, eps):
    """numpy twin of the ``quantile_regression`` MM loop over
    collected (x, y) cells — same micro roundings, exact int64 sums,
    same float op order as the distributed fold (pinned in
    tests/test_driverfit.py)."""
    import math

    import numpy as np

    p = len(feats)
    wn = pdf["_w"].to_numpy().astype(np.int64)
    yv = pdf[y_col].to_numpy().astype(np.float64)
    xv = [np.ones(len(wn))] + [
        pdf[c].to_numpy().astype(np.float64) for c in feats
    ]
    n_rows = int(wn.sum())
    if n_rows == 0:
        raise ValueError("quantile_regression: empty input")
    svec = np.array(
        [
            (
                round_half_up(xv[j] * 1e6).astype(np.int64) * wn
            ).sum()
            / 1e6
            for j in range(p + 1)
        ]
    )
    q_null = _exact_percentile(yv, wn, tau)

    def rho(resid):
        return resid * (tau - (resid < 0).astype(np.float64))

    beta = [0.0] * (p + 1)
    for _ in range(iters):
        eta = np.zeros(len(wn)) + beta[0]
        for j in range(p):
            eta = eta + beta[j + 1] * xv[j + 1]
        d = np.abs(yv - eta) + float(eps)
        b = np.array(
            [
                (
                    round_half_up(xv[j] * yv / d * 1e6).astype(
                        np.int64
                    )
                    * wn
                ).sum()
                / 1e6
                for j in range(p + 1)
            ]
        ) + (2.0 * tau - 1.0) * svec
        A = np.zeros((p + 1, p + 1))
        for j in range(p + 1):
            for k in range(j, p + 1):
                A[j, k] = A[k, j] = (
                    round_half_up(xv[j] * xv[k] / d * 1e6).astype(
                        np.int64
                    )
                    * wn
                ).sum() / 1e6
        beta = [round(float(v), 9) for v in np.linalg.solve(A, b)]

    eta = np.zeros(len(wn)) + beta[0]
    for j in range(p):
        eta = eta + beta[j + 1] * xv[j + 1]
    obj = float(
        (
            round_half_up(rho(yv - eta) * 1e6).astype(np.int64) * wn
        ).sum()
        / 1e6
    )
    null_obj = float(
        (
            round_half_up(rho(yv - q_null) * 1e6).astype(np.int64)
            * wn
        ).sum()
        / 1e6
    )
    pr2 = round(1.0 - obj / null_obj, 9) if null_obj > 0 else None
    if pr2 is not None and math.isnan(pr2):
        pr2 = None
    terms = ["intercept"] + feats
    return df.sparkSession.createDataFrame(
        [
            (t, beta[j], tau, pr2, n_rows)
            for j, t in enumerate(terms)
        ],
        "term string, estimate double, tau double, pseudo_r2 double, "
        "n_rows long",
    )


def quantile_regression(
    df: DataFrame,
    feature_cols,
    y_col: str,
    tau: float = 0.5,
    iters: int = 15,
    eps: float = 1e-3,
    _srcw=None,
) -> DataFrame:
    """Distributed QUANTILE regression (Koenker-Bassett check loss) by
    the Hunter-Lange MM algorithm — the conditional-quantile story the
    GLM family can't tell (median regression shrugs off the outliers
    OLS chases; τ = 0.1/0.9 fits trace the envelope of heteroscedastic
    registry outcomes like length-of-stay and spend):

        minimize Σ ρ_τ(y − β₀ − β·x),  ρ_τ(u) = u·(τ − 1{u<0})

    Each MM step majorizes ρ_τ by a quadratic at the current residual
    (Hunter & Lange 2000): with d_i = |r_i| + ε the update solves the
    (p+1)×(p+1) system  [Σ x x'/d] β = Σ x y/d + (2τ−1) Σ x  — ONE
    micro-lattice hash aggregate per iteration (the glm_* contract:
    per-row terms rounded to exact longs, so β is bit-identical under
    any partitioning), driver-side solve, β rounded to 9 dp. ε is an
    absolute residual floor (Hunter-Lange's perturbation): it bounds
    the row weight at 1/ε, keeping the micro-lattice sums inside long
    range; smaller ε sharpens the kink at slower convergence.

    Returns one row per term — (term, estimate, tau, pseudo_r2,
    n_rows) — with Koenker-Machado pseudo-R¹(τ) = 1 − Σρ_τ(resid) /
    Σρ_τ(y − q̂_τ(y)) against the exact unconditional τ-quantile
    (NULL when the null loss is 0: a constant y column). No SE column
    by design: the check-loss sandwich needs a density estimate at
    the quantile — ``bootstrap_ci`` composes over this operator when
    uncertainty is needed (documented trade, not an omission).

    Named errors: tau outside (0, 1); iters < 1; empty input.
    """
    import math

    import numpy as np

    tau = float(tau)
    if not 0.0 < tau < 1.0:
        raise ValueError(
            f"quantile_regression: tau must be in (0, 1), got {tau}"
        )
    iters = int(iters)
    if iters < 1:
        raise ValueError("quantile_regression: iters must be >= 1")
    feats = list(feature_cols)
    p = len(feats)
    micro = F.lit(1000000.0)
    y = F.col(y_col).cast("double")
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in feats]

    # r11: collapse identical (x, y) rows to weighted cells once (the
    # _fit_cells GLM-family pattern) — every per-row micro-lattice term
    # below is a pure function of (x, y), so Σ_rows round = Σ_cells
    # w·round, and percentile(y, τ, w) with the frequency argument
    # accumulates the identical counts map as the per-row form.
    # The collect is bounded by the one driver cap the whole fit family
    # shares (driverfit.py): a near-continuous y makes (x, y) cells
    # approach the row count, and the MM twin is a flat per-cell fold,
    # so the transfer size is what bounds it. ``_srcw`` (r11, the
    # glm_poisson pattern) lets a caller fitting SEVERAL τ over the
    # same cohort collapse and collect the identical cells once.
    if _srcw is not None:
        src, cw, _pdfc = _srcw
    else:
        src, cw, _pdfc = _fit_cells(
            df, list(dict.fromkeys(feats + [y_col]))
        )

    # driver-solve fast path (driverfit.py): bounded collected cells ->
    # the base moments, the exact percentile, the whole MM loop and the
    # loss fold run on the driver — numpy twin transliterated from the
    # fold below, bit-identical (pinned in tests/test_driverfit.py).
    if _pdfc is not None:
        return _quantile_driver_fit(
            df, _pdfc, feats, y_col, tau, iters, eps
        )

    base = src.agg(
        F.sum(cw).alias("_n"),
        *[
            F.sum(F.round(xs[j] * micro, 0).cast("long") * cw).alias(
                f"s{j}"
            )
            for j in range(p + 1)
        ],
        F.percentile(F.col(y_col), F.lit(tau), cw).alias("_q"),
    ).collect()[0]
    n_rows = int(base["_n"])
    if n_rows == 0:
        raise ValueError("quantile_regression: empty input")
    svec = np.array([base[f"s{j}"] / 1e6 for j in range(p + 1)])
    q_null = float(base["_q"])

    def rho(resid):
        return resid * (
            F.lit(tau) - (resid < 0).cast("double")
        )

    beta = [0.0] * (p + 1)
    for _ in range(iters):
        eta = F.lit(beta[0])
        for j, c in enumerate(feats):
            eta = eta + F.lit(beta[j + 1]) * F.col(c).cast("double")
        d = F.abs(y - eta) + F.lit(float(eps))
        aggs = [
            F.sum(
                F.round(xs[j] * y / d * micro, 0).cast("long") * cw
            ).alias(f"b{j}")
            for j in range(p + 1)
        ]
        for j in range(p + 1):
            for k in range(j, p + 1):
                aggs.append(
                    F.sum(
                        F.round(xs[j] * xs[k] / d * micro, 0).cast(
                            "long"
                        )
                        * cw
                    ).alias(f"a{j}_{k}")
                )
        row = src.agg(*aggs).collect()[0]
        A = np.zeros((p + 1, p + 1))
        for j in range(p + 1):
            for k in range(j, p + 1):
                A[j, k] = A[k, j] = row[f"a{j}_{k}"] / 1e6
        b = np.array(
            [row[f"b{j}"] / 1e6 for j in range(p + 1)]
        ) + (2.0 * tau - 1.0) * svec
        beta = [round(float(v), 9) for v in np.linalg.solve(A, b)]

    eta = F.lit(beta[0])
    for j, c in enumerate(feats):
        eta = eta + F.lit(beta[j + 1]) * F.col(c).cast("double")
    loss = src.agg(
        F.sum(
            F.round(rho(y - eta) * micro, 0).cast("long") * cw
        ).alias("_o"),
        F.sum(
            F.round(rho(y - F.lit(q_null)) * micro, 0).cast("long") * cw
        ).alias("_0"),
    ).collect()[0]
    obj, null_obj = loss["_o"] / 1e6, loss["_0"] / 1e6
    pr2 = (
        round(1.0 - obj / null_obj, 9)
        if null_obj > 0
        else None
    )
    if pr2 is not None and math.isnan(pr2):
        pr2 = None
    terms = ["intercept"] + feats
    return df.sparkSession.createDataFrame(
        [
            (t, beta[j], tau, pr2, n_rows)
            for j, t in enumerate(terms)
        ],
        "term string, estimate double, tau double, pseudo_r2 double, "
        "n_rows long",
    )


def cochran_q(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Cochran's Q test (1950) — the BINARY repeated-measures k-sample
    test: the special case of ``friedman_test`` for 0/1 outcomes
    (k raters / screening rules / care pathways judged on the same
    block panel), where within-block ranking degenerates and the
    statistic collapses to closed form over integer margins:

        Q = k(k−1)·Σ_j (C_j − N/k)² / (k·N − Σ_i R_i²)

    with C_j the per-treatment success totals, R_i the per-block
    success totals, N = ΣC_j = ΣR_i; χ²(k−1) under H₀. For k = 2 it
    is algebraically McNemar's chi-square without continuity
    correction (pinned in tests).

    Same complete-block contract as Friedman (ADVICE r09 class):
    exactly ONE observation per (block, treatment) AND every block
    holds every treatment — both named in-plan errors via the
    n_cells = n_blocks·k completeness identity. Values outside {0,1}
    raise. Blocks with no discordance anywhere (k·N = ΣR_i²,
    denominator 0 — every block constant) publish a NULL statistic,
    the repo's degenerate-variance convention.

    SCALE SHAPE: three hash aggregates over (block, treatment) cells
    — the duplicate/completeness guard, per-treatment totals
    (k rows), per-block totals collapsed map-side to ΣR_i² — then
    one-row broadcast crossJoins. All margins are exact longs; Q is
    one deterministic double expression. Returns one row:
    (n_blocks, k_treatments, n_success, q_stat, df), 6 dp.
    """
    b = F.col(block_col)
    tr = F.col(treatment_col)
    v = F.col(value_col).cast("long")
    chk = F.when(
        ~v.isin(0, 1),
        F.raise_error("cochran_q: value must be 0 or 1").cast("long"),
    ).otherwise(v)
    base = df.select(b.alias("_b"), tr.alias("_tr"), chk.alias("_v"))
    dup = base.groupBy("_b", "_tr").agg(F.count(F.lit(1)).alias("_c"))
    guard = dup.select(
        F.when(
            F.col("_c") != 1,
            F.raise_error(
                F.concat(
                    F.lit(
                        "cochran_q: needs exactly one value per "
                        "(block, treatment); got "
                    ),
                    F.col("_c").cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.col("_c")).alias("_ok")
    ).agg(F.sum("_ok").alias("_n_cells"))
    shape = base.agg(
        F.countDistinct("_b").alias("_nb"),
        F.countDistinct("_tr").alias("_k"),
        F.sum("_v").alias("_nn"),
    )
    per_tr = base.groupBy("_tr").agg(F.sum("_v").alias("_cj"))
    cj2 = per_tr.agg(
        F.sum(F.col("_cj") * F.col("_cj")).alias("_c2")
    )
    per_b = base.groupBy("_b").agg(F.sum("_v").alias("_ri"))
    ri2 = per_b.agg(F.sum(F.col("_ri") * F.col("_ri")).alias("_r2"))
    out = (
        shape.crossJoin(F.broadcast(guard))
        .crossJoin(F.broadcast(cj2))
        .crossJoin(F.broadcast(ri2))
    )
    # Σ_j (C_j − N/k)² = ΣC_j² − N²/k  (exact margins, one double op)
    num = (
        F.col("_k").cast("double")
        * (F.col("_k") - 1)
        * (
            F.col("_c2").cast("double")
            - F.col("_nn").cast("double")
            * F.col("_nn")
            / F.col("_k")
        )
    )
    den = (
        F.col("_k").cast("double") * F.col("_nn") - F.col("_r2")
    )
    return out.select(
        F.col("_nb").alias("n_blocks"),
        F.col("_k").alias("k_treatments"),
        F.col("_nn").alias("n_success"),
        F.when(den > 0, F.round(num / den, 6)).alias("q_stat"),
        # 0·guard threads the complete-block identity into a published
        # column so Catalyst cannot prune the raise (the friedman_test
        # idiom): _n_cells raises upstream on duplicated cells, and
        # n_cells == n_blocks·k catches a block missing a treatment
        (
            F.col("_k")
            - 1
            + 0
            * F.when(
                F.col("_n_cells") == F.col("_nb") * F.col("_k"),
                F.col("_n_cells"),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "cochran_q: incomplete block design — got "
                        ),
                        F.col("_n_cells").cast("string"),
                        F.lit(" (block, treatment) cells, expected "),
                        (F.col("_nb") * F.col("_k")).cast("string"),
                        F.lit(
                            " (every block must hold every treatment)"
                        ),
                    )
                ).cast("long")
            )
        )
        .cast("long")
        .alias("df"),
    )


def e_value_rr(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
) -> DataFrame:
    """VanderWeele-Ding E-value (2017) — the sensitivity-analysis
    companion to every observational risk ratio this engine fits: the
    minimum strength of association (on the RR scale) an unmeasured
    confounder would need with BOTH exposure and outcome to fully
    explain away the observed association,

        E = RR* + sqrt(RR*·(RR*−1)),   RR* = max(RR, 1/RR)

    plus the same transform applied to the confidence limit CLOSER to
    the null (1 exactly when the CI crosses 1 — no confounding needed
    beyond sampling noise). RR and its Wald CI come from the 2×2
    margins: RR = [a/(a+b)] / [c/(c+d)], se(ln RR) = sqrt(1/a −
    1/(a+b) + 1/c − 1/(c+d)).

    Degenerate margins (an empty exposure arm, or zero outcome events
    in either arm — RR 0/∞/undefined) publish NULL effect and E-value
    columns over the exact integer cells, the repo's
    degenerate-variance convention (the counts still publish, so the
    caller sees WHICH margin died).

    SCALE SHAPE: ONE hash aggregate folds the cohort to four longs;
    everything after is one-row arithmetic. Returns one row:
    (n_exposed_outcome, n_exposed_clear, n_unexposed_outcome,
    n_unexposed_clear, rr, rr_lower, rr_upper, e_value, e_value_ci),
    6 dp.
    """
    ex = F.col(exposure_col).cast("long")
    oc = F.col(outcome_col).cast("long")
    chk = F.when(
        ~ex.isin(0, 1) | ~oc.isin(0, 1),
        F.raise_error(
            "e_value_rr: exposure and outcome must be 0 or 1"
        ).cast("long"),
    ).otherwise(ex)
    agg = df.select(chk.alias("_e"), oc.alias("_o")).agg(
        F.sum((F.col("_e") * F.col("_o"))).alias("_a"),
        F.sum(F.col("_e") * (1 - F.col("_o"))).alias("_b"),
        F.sum((1 - F.col("_e")) * F.col("_o")).alias("_c"),
        F.sum((1 - F.col("_e")) * (1 - F.col("_o"))).alias("_d"),
    )
    a = F.col("_a").cast("double")
    bb = F.col("_b").cast("double")
    c = F.col("_c").cast("double")
    d = F.col("_d").cast("double")
    ok = (
        (F.col("_a") > 0)
        & (F.col("_c") > 0)
        & (F.col("_a") + F.col("_b") > 0)
        & (F.col("_c") + F.col("_d") > 0)
    )
    rr = (a / (a + bb)) / (c / (c + d))
    se = F.sqrt(
        1 / a - 1 / (a + bb) + 1 / c - 1 / (c + d)
    )
    lo = F.exp(F.log(rr) - 1.96 * se)
    hi = F.exp(F.log(rr) + 1.96 * se)

    def _ev(x):
        xs = F.when(x < 1, 1 / x).otherwise(x)
        return xs + F.sqrt(xs * (xs - F.lit(1.0)))

    # CI limit closer to the null, on the same side as the point RR
    ev_ci = F.when(
        (lo <= 1) & (hi >= 1), F.lit(1.0)
    ).otherwise(F.when(rr >= 1, _ev(lo)).otherwise(_ev(hi)))
    return agg.select(
        F.col("_a").alias("n_exposed_outcome"),
        F.col("_b").alias("n_exposed_clear"),
        F.col("_c").alias("n_unexposed_outcome"),
        F.col("_d").alias("n_unexposed_clear"),
        F.when(ok, F.round(rr, 6)).alias("rr"),
        F.when(ok, F.round(lo, 6)).alias("rr_lower"),
        F.when(ok, F.round(hi, 6)).alias("rr_upper"),
        F.when(ok, F.round(_ev(rr), 6)).alias("e_value"),
        F.when(ok, F.round(ev_ci, 6)).alias("e_value_ci"),
    )
