"""Survival analysis: Kaplan-Meier product-limit curves with Greenwood
standard errors and Nelson-Aalen cumulative hazard, the two-group
log-rank test, and directly age-standardised event rates.

This family is the engine's namesake workload: the reference repo
(ncl-cancer-alliance/cancer_survival_etl) publishes survival-index
tables whose columns are exactly these estimators' outputs —
SURVIVAL_PERCENT / STANDARD_ERROR / LOWER_CI / UPPER_CI per
YEARS_SINCE_DIAGNOSIS with a STANDARDISATION_TYPE column
(/root/reference/docs/create_index.sql:2-20) — scraped pre-computed
from the national publication. Here the estimators themselves run
in-engine over raw time-to-event data, in the repo's scale shapes:

* the input collapses FIRST to per-(group, time) death/censor cells
  (#cells bounded by #subjects, usually far fewer), so no estimator
  ever windows raw rows;
* at-risk counts come from one ``grouped_prefix_sum`` pass over the
  cells, and log-survival products, Greenwood variance sums and
  Nelson-Aalen hazards from a second multi-column pass — hot groups
  span range partitions, nothing lands on a single task (the
  rank_sum_test defect class this repo engineered out, VERDICT r3);
* every continuous quantity is a sum of per-cell terms rounded on a
  fixed micro-lattice (the repo's exact-adjudication idiom:
  ``CAST(round(x * 1e6, 0) AS BIGINT)``), so results hash-match the
  DuckDB oracle bit-for-bit.

At 100 TB: the only data-sized operations are the two groupBys that
build subjects and cells (ordinary hash aggregates with map-side
combine). Everything downstream runs on the cell table, whose size is
#distinct (group, time) pairs — bounded by cohort counts, not event
volume.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .driverfit import (
    collect_bounded,
    collect_cells,
    exact_sum,
    exact_terms,
    fold,
    ranged,
    round_half_up,
    scan,
    stratum_codes,
)
from .windows import global_prefix_sum, grouped_prefix_sum


def _micro(x: Column) -> Column:
    """The repo's exact-adjudication lattice: round to 1e-6 and carry
    as an integer so distributed sums are order-independent."""
    return F.round(x * F.lit(1000000.0), 0).cast("long")


def _pico(x: Column) -> Column:
    """Finer 1e-12 lattice for the Greenwood terms d/(n(n-d)), which
    are individually tiny but sum to the variance of log S."""
    return F.round(x * F.lit(1000000000000.0), 0).cast("long")


def _km_driver_prefixes(pdfc, g, duration_col):
    """Shared numpy core of the km_curve / km_curve_weighted driver
    twins: sort collected per-(group, duration) cells and return the
    sort order plus exact int64 per-group exclusive-prefix / total
    helpers (the grouped_prefix_sum / totals_alias twins)."""
    import numpy as np

    if g:
        gcode = (
            pdfc.groupby(list(g), sort=False, dropna=False)
            .ngroup()
            .to_numpy()
        )
    else:
        gcode = np.zeros(len(pdfc), dtype=np.int64)
    dur = pdfc[duration_col].to_numpy()
    order = np.lexsort((dur, gcode))
    gs = gcode[order]
    new_g = np.ones(len(gs), dtype=bool)
    if len(gs) > 1:
        new_g[1:] = gs[1:] != gs[:-1]
    gstarts = np.flatnonzero(new_g)
    glen = np.diff(np.append(gstarts, len(gs)))

    def expref(v):
        pre = np.cumsum(v)
        pre = np.concatenate(([np.int64(0)], pre[:-1]))
        return pre - np.repeat(pre[gstarts], glen)

    def gtot(v):
        return np.repeat(np.add.reduceat(v, gstarts), glen)

    return order, expref, gtot


def _km_driver_curve(df, g, duration_col, event_col):
    """km_curve driver twin: ONE bounded cell collect (the same
    groupBy the distributed path runs, so the collected counts are
    Spark's own longs), exact int64 prefixes + micro/pico lattice
    terms in numpy, and the float tail (exp / 6-dp rounds / zero-pin)
    handed back to Spark as the IDENTICAL expressions over identical
    longs — bit-identical rows (pinned in tests/test_driverfit.py).
    Returns None (caller falls back) when unbounded or any key/count
    is null/NaN."""
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    ev = F.col(event_col).cast("long")
    probe = df.groupBy(*g, duration_col).agg(
        F.sum(ev).alias("n_event"),
        F.sum(F.lit(1) - ev).alias("n_censored"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    pdfc = collect_bounded(
        probe, [*g, duration_col, "n_event", "n_censored"]
    )
    if pdfc is None:
        return None
    order, expref, gtot = _km_driver_prefixes(pdfc, g, duration_col)
    pdfc = pdfc.iloc[order].reset_index(drop=True)
    d = pdfc["n_event"].to_numpy().astype(np.int64)
    cen = pdfc["n_censored"].to_numpy().astype(np.int64)
    cnt = pdfc["_cnt"].to_numpy().astype(np.int64)
    rm = d + cen
    n_subj = gtot(cnt)
    n_risk = n_subj - expref(rm)
    evc = (d > 0) & (d < n_risk)
    with np.errstate(divide="ignore", invalid="ignore"):
        frac = np.where(n_risk > 0, d / n_risk, 0.0)
    lt = np.where(
        evc,
        round_half_up(np.log(1.0 - np.where(evc, frac, 0.0)) * 1e6)
        .astype(np.int64),
        np.int64(0),
    )
    na = np.where(
        d > 0,
        round_half_up(np.where(n_risk > 0, frac, 0.0) * 1e6).astype(
            np.int64
        ),
        np.int64(0),
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        gwf = np.where(
            evc, d / (n_risk * (n_risk - d)), 0.0
        )
    gw = np.where(
        evc, round_half_up(gwf * 1e12).astype(np.int64), np.int64(0)
    )
    dall = ((d > 0) & (d == n_risk)).astype(np.int64)
    lt_in = expref(lt) + lt
    na_in = expref(na) + na
    gw_in = expref(gw) + gw
    dall_in = expref(dall) + dall

    gfields = [
        f for f in probe.schema.fields
        if f.name in list(g) + [duration_col]
    ]
    schema = StructType(
        gfields
        + [
            StructField("n_risk", LongType()),
            StructField("n_event", LongType()),
            StructField("n_censored", LongType()),
            StructField("_lt", LongType()),
            StructField("_na", LongType()),
            StructField("_gw", LongType()),
            StructField("_dall", LongType()),
        ]
    )
    out_pdf = pdfc[list(g) + [duration_col]].copy()
    out_pdf["n_risk"] = n_risk
    out_pdf["n_event"] = d
    out_pdf["n_censored"] = cen
    out_pdf["_lt"] = lt_in
    out_pdf["_na"] = na_in
    out_pdf["_gw"] = gw_in
    out_pdf["_dall"] = dall_in
    hdr = df.sparkSession.createDataFrame(out_pdf, schema)
    s_raw = F.exp(F.col("_lt") / F.lit(1000000.0))
    return hdr.select(
        *g,
        duration_col,
        "n_risk",
        "n_event",
        "n_censored",
        F.when(F.col("_dall") > 0, F.lit(0.0))
        .otherwise(F.round(s_raw, 6))
        .alias("survival"),
        F.round(F.col("_na") / F.lit(1000000.0), 6).alias(
            "cum_hazard"
        ),
        F.when(
            F.col("_dall") > 0, F.lit(None).cast("double")
        )
        .otherwise(
            F.round(
                s_raw * F.sqrt(F.col("_gw") / F.lit(1000000000000.0)),
                6,
            )
        )
        .alias("se_greenwood"),
    )


def km_curve(
    df: DataFrame,
    group_cols: Sequence[str],
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Kaplan-Meier product-limit estimate per group.

    ``df`` is one row per subject: an integer ``duration_col`` (time
    units since entry — the caller picks the granularity; coarser
    units mean more ties and fewer cells) and ``event_col`` ∈ {0, 1}
    (1 = the event occurred at ``duration``, 0 = censored there).

    Returns one row per (group, duration) cell:

    * ``n_risk``    subjects still at risk entering that time,
    * ``n_event`` / ``n_censored`` counts at that time,
    * ``survival``  S(t) = Π_{t' ≤ t, deaths} (1 − d/n) — inclusive,
    * ``cum_hazard``  Nelson-Aalen Σ d/n (inclusive),
    * ``se_greenwood``  S(t)·sqrt(Σ d/(n(n−d))) — NULL from the point
      the curve hits exactly zero (Greenwood is undefined there).

    The product is evaluated as exp of a prefix sum of micro-lattice
    log terms; a parallel prefix count of d == n cells pins S = 0
    exactly once everyone at risk dies (where the log term would be
    −∞). Two ``grouped_prefix_sum`` passes over the cell table — the
    at-risk pass feeds the term pass — and no other shuffles beyond
    the two aggregates.
    """
    g = list(group_cols)
    # r11 driver-solve fast path: bounded per-(group, duration) cells
    # -> the two grouped prefix passes run on the driver; bit-identical
    # (pinned in tests/test_driverfit.py), distributed fallback below.
    _res = _km_driver_curve(df, g, duration_col, event_col)
    if _res is not None:
        return _res

    ev = F.col(event_col).cast("long")
    cells = df.groupBy(*g, duration_col).agg(
        F.sum(ev).alias("n_event"),
        F.sum(F.lit(1) - ev).alias("n_censored"),
    )
    totals = df.groupBy(*g).agg(F.count(F.lit(1)).alias("_n_subj"))
    cells = (
        cells.join(totals, g)
        .withColumn("_rm", F.col("n_event") + F.col("n_censored"))
    )
    cells = grouped_prefix_sum(cells, g, duration_col, "_rm", "_rm_before")
    d = F.col("n_event")
    n = F.col("_n_subj") - F.col("_rm_before")
    cells = (
        cells.withColumn("n_risk", n)
        .withColumn(
            "_lt",
            F.when(
                (d > 0) & (d < F.col("n_risk")),
                _micro(F.log(F.lit(1.0) - d / F.col("n_risk"))),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_na",
            F.when(d > 0, _micro(d / F.col("n_risk")))
            .otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_gw",
            F.when(
                (d > 0) & (d < F.col("n_risk")),
                _pico(d / (F.col("n_risk") * (F.col("n_risk") - d))),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_dall",
            F.when((d > 0) & (d == F.col("n_risk")), F.lit(1))
            .otherwise(F.lit(0)).cast("long"),
        )
        .drop("_rm", "_rm_before")
    )
    cells = grouped_prefix_sum(
        cells,
        g,
        duration_col,
        ["_lt", "_na", "_gw", "_dall"],
        ["_lt0", "_na0", "_gw0", "_dall0"],
    )
    lt = F.col("_lt0") + F.col("_lt")        # inclusive prefix sums
    na = F.col("_na0") + F.col("_na")
    gw = F.col("_gw0") + F.col("_gw")
    dall = F.col("_dall0") + F.col("_dall")
    s_raw = F.exp(lt / F.lit(1000000.0))
    return (
        cells.withColumn(
            "survival",
            F.when(dall > 0, F.lit(0.0)).otherwise(F.round(s_raw, 6)),
        )
        .withColumn("cum_hazard", F.round(na / F.lit(1000000.0), 6))
        .withColumn(
            "se_greenwood",
            F.when(dall > 0, F.lit(None).cast("double")).otherwise(
                F.round(
                    s_raw
                    * F.sqrt(gw / F.lit(1000000000000.0)),
                    6,
                )
            ),
        )
        .select(
            *g, duration_col, "n_risk", "n_event", "n_censored",
            "survival", "cum_hazard", "se_greenwood",
        )
    )


def km_curve_left_truncated(
    df: DataFrame,
    group_cols: Sequence[str],
    entry_col: str = "entry",
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Kaplan-Meier with DELAYED ENTRY (left truncation): subjects
    join the risk set at ``entry_col`` and leave at ``duration_col``,
    both on the same clock — the estimator registries need whenever
    the time axis is age (a patient diagnosed at 63 is only at risk
    of dying-at-70 if they were under observation then; counting them
    at-risk from 0 biases survival up). Risk set at time t is the
    standard R(t) = {i : entry_i < t ≤ exit_i}.

    Rows with entry ≥ exit (zero-length follow-up) are dropped — the
    registry convention for same-unit diagnosis/death intervals on a
    coarse clock.

    Scale shape matches ``km_curve`` exactly: subjects collapse to
    per-(group, time) cells — here the union of exit cells
    (n_event, n_censored) and entry cells (n_enter) in ONE hash
    aggregate — and at-risk counts are strict-before prefix sums of
    BOTH the entry and removal mass via one multi-column
    ``grouped_prefix_sum``; the survival/hazard/Greenwood terms ride
    the same second pass on the micro lattice. With all entries at 0
    this reduces bit-exactly to ``km_curve`` (pinned in tests).

    Returns one row per (group, exit-time) cell: n_risk, n_event,
    n_censored, survival, cum_hazard, se_greenwood — entry-only times
    carry no estimator step and are not emitted.
    """
    g = list(group_cols)
    ev = F.col(event_col).cast("long")
    base = df.filter(F.col(entry_col) < F.col(duration_col))
    exits = base.groupBy(*g, duration_col).agg(
        F.sum(ev).alias("n_event"),
        F.sum(F.lit(1) - ev).alias("n_censored"),
        F.lit(0).cast("long").alias("n_enter"),
    ).select(*g, F.col(duration_col).alias("_t"),
             "n_event", "n_censored", "n_enter")
    enters = base.groupBy(*g, entry_col).agg(
        F.lit(0).cast("long").alias("n_event"),
        F.lit(0).cast("long").alias("n_censored"),
        F.count(F.lit(1)).alias("n_enter"),
    ).select(*g, F.col(entry_col).alias("_t"),
             "n_event", "n_censored", "n_enter")
    cells = (
        exits.unionByName(enters)
        .groupBy(*g, "_t")
        .agg(
            F.sum("n_event").alias("n_event"),
            F.sum("n_censored").alias("n_censored"),
            F.sum("n_enter").alias("n_enter"),
        )
        .withColumn("_rm", F.col("n_event") + F.col("n_censored"))
    )
    cells = grouped_prefix_sum(
        cells, g, "_t", ["n_enter", "_rm"], ["_ent0", "_rm0"]
    )
    d = F.col("n_event")
    cells = (
        cells.withColumn("n_risk", F.col("_ent0") - F.col("_rm0"))
        .withColumn(
            "_lt",
            F.when(
                (d > 0) & (d < F.col("n_risk")),
                _micro(F.log(F.lit(1.0) - d / F.col("n_risk"))),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_na",
            F.when(d > 0, _micro(d / F.col("n_risk")))
            .otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_gw",
            F.when(
                (d > 0) & (d < F.col("n_risk")),
                _pico(d / (F.col("n_risk") * (F.col("n_risk") - d))),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_dall",
            F.when((d > 0) & (d == F.col("n_risk")), F.lit(1))
            .otherwise(F.lit(0)).cast("long"),
        )
    )
    cells = grouped_prefix_sum(
        cells,
        g,
        "_t",
        ["_lt", "_na", "_gw", "_dall"],
        ["_lt0", "_na0", "_gw0", "_dall0"],
    )
    lt = F.col("_lt0") + F.col("_lt")
    na = F.col("_na0") + F.col("_na")
    gw = F.col("_gw0") + F.col("_gw")
    dall = F.col("_dall0") + F.col("_dall")
    s_raw = F.exp(lt / F.lit(1000000.0))
    return (
        cells.filter(F.col("_rm") > 0)
        .withColumn(
            "survival",
            F.when(dall > 0, F.lit(0.0)).otherwise(F.round(s_raw, 6)),
        )
        .withColumn("cum_hazard", F.round(na / F.lit(1000000.0), 6))
        .withColumn(
            "se_greenwood",
            F.when(dall > 0, F.lit(None).cast("double")).otherwise(
                F.round(
                    s_raw * F.sqrt(gw / F.lit(1000000000000.0)), 6
                )
            ),
        )
        .select(
            *g,
            F.col("_t").alias(duration_col),
            "n_risk", "n_event", "n_censored",
            "survival", "cum_hazard", "se_greenwood",
        )
    )


def survival_at_horizons(
    km: DataFrame,
    group_cols: Sequence[str],
    horizons: dict,
    duration_col: str = "duration",
) -> DataFrame:
    """Period-survival table: S(t) read off a ``km_curve`` output at
    fixed horizons, with log-log (complementary log-log) 95%
    confidence intervals — the exact column semantics of the
    reference's INDEX table (PATIENT_NUMBERS / SURVIVAL_PERCENT /
    STANDARD_ERROR / LOWER_CI / UPPER_CI per YEARS_SINCE_DIAGNOSIS;
    /root/reference/docs/create_index.sql:10-17), computed in-engine
    instead of scraped pre-computed.

    ``horizons`` maps period label → horizon time (same units as the
    KM durations). S at a horizon is the curve's value at the largest
    cell time ≤ horizon (S = 1, SE = 0 before the first cell). The
    log-log CI transforms θ = ln(−ln S): lower/upper =
    S^exp(±1.96·se/(S·|ln S|)), undefined (NULL) at S ∈ {0, 1} —
    the standard used by national cancer-survival publications.

    Scale shape: the KM cell table cross-joins a broadcast
    #horizons-row literal frame, one max(struct) aggregate per
    (group, period) picks the last cell at or before each horizon
    (durations are unique per group, so the lexicographic struct max
    is the argmax), and the per-group patient totals come from the
    same cells (max n_risk = cohort size). Work ∝ #cells ×
    #horizons; nothing scales with subject count.

    All outputs are derived from km_curve's already-rounded survival
    and SE through mirrored expressions, so the table adjudicates
    bit-exact. Percent scaling matches the reference's published
    units.
    """
    g = list(group_cols)
    spark = km.sparkSession
    hz = spark.createDataFrame(
        sorted((str(p), int(h)) for p, h in horizons.items()),
        "period string, _h long",
    )
    cells = km.crossJoin(F.broadcast(hz)).filter(
        F.col(duration_col) <= F.col("_h")
    )
    best = cells.groupBy(*g, "period", "_h").agg(
        F.max(
            F.struct(
                F.col(duration_col).alias("_d"),
                F.col("survival").alias("_s"),
                F.col("se_greenwood").alias("_se"),
            )
        ).alias("_b")
    )
    totals = km.groupBy(*g).agg(F.max("n_risk").alias("patient_numbers"))
    grid = totals.crossJoin(F.broadcast(hz))
    j = grid.join(best, g + ["period", "_h"], "left")
    s = F.coalesce(F.col("_b._s"), F.lit(1.0))
    se = F.when(F.col("_b").isNull(), F.lit(0.0)).otherwise(
        F.col("_b._se")
    )
    se_theta = se / (s * F.abs(F.log(s)))
    ci_ok = (s > 0) & (s < 1) & se.isNotNull()
    return j.select(
        *g,
        "period",
        F.col("_h").alias("horizon"),
        "patient_numbers",
        F.round(s * 100, 6).alias("survival_percent"),
        F.when(se.isNotNull(), F.round(se * 100, 6)).otherwise(
            F.lit(None).cast("double")
        ).alias("standard_error"),
        F.when(
            ci_ok,
            F.round(
                F.pow(s, F.exp(F.lit(1.96) * se_theta)) * 100, 6
            ),
        ).alias("lower_ci"),
        F.when(
            ci_ok,
            F.round(
                F.pow(s, F.exp(F.lit(-1.96) * se_theta)) * 100, 6
            ),
        ).alias("upper_ci"),
    )


def actuarial_life_table(
    df: DataFrame,
    group_cols: Sequence[str],
    interval_width: int,
    horizon: int,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Actuarial (life-table) survival — the classical interval
    estimator registries published before product-limit methods, and
    still the standard when only grouped follow-up counts exist: time
    is cut into fixed intervals [0,w), [w,2w), …; within each interval
    with d deaths, c censored and n entering, the effective at-risk is
    n' = n − c/2 (censoring assumed uniform over the interval — the
    actuarial half-correction) and conditional survival is 1 − d/n';
    S multiplies across intervals.

    Returns one row per (group, interval): ``interval_start``/``_end``,
    ``n_enter``, ``n_event``, ``n_censored``, ``effective_risk``
    (2 dp), ``survival`` (cumulative, 6 dp — exact 0 pinned when an
    interval kills everyone at risk).

    Scale shape: ``km_curve``'s exactly — one hash aggregate to
    per-(group, interval) cells (even FEWER cells than KM: bounded by
    horizon/width), one ``grouped_prefix_sum`` for entries, a second
    for the micro-lattice log-survival accumulation.
    """
    g = list(group_cols)
    w = int(interval_width)
    iv = F.least(
        (F.col(duration_col).cast("long") / w).cast("long"),
        F.lit(int(horizon) // w),
    )
    ev = F.col(event_col).cast("long")
    cells = df.select(*g, iv.alias("_iv"), ev.alias("_e")).groupBy(
        *g, "_iv"
    ).agg(
        F.sum("_e").alias("n_event"),
        F.sum(F.lit(1) - F.col("_e")).alias("n_censored"),
    )
    totals = df.groupBy(*g).agg(F.count(F.lit(1)).alias("_n_subj"))
    cells = cells.join(totals, g).withColumn(
        "_rm", F.col("n_event") + F.col("n_censored")
    )
    cells = grouped_prefix_sum(cells, g, "_iv", "_rm", "_rm0")
    n_enter = F.col("_n_subj") - F.col("_rm0")
    neff = n_enter.cast("double") - F.col("n_censored") / F.lit(2.0)
    d = F.col("n_event")
    cells = (
        cells.withColumn("n_enter", n_enter)
        .withColumn("_neff", neff)
        .withColumn(
            "_lt",
            F.when(
                (d > 0) & (d < F.col("_neff")),
                _micro(F.log(F.lit(1.0) - d / F.col("_neff"))),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_dall",
            F.when((d > 0) & (d >= F.col("_neff")), F.lit(1))
            .otherwise(F.lit(0)).cast("long"),
        )
    )
    cells = grouped_prefix_sum(
        cells, g, "_iv", ["_lt", "_dall"], ["_lt0", "_dall0"]
    )
    s = F.when(
        F.col("_dall0") + F.col("_dall") > 0, F.lit(0.0)
    ).otherwise(
        F.exp((F.col("_lt0") + F.col("_lt")) / F.lit(1000000.0))
    )
    return cells.select(
        *g,
        (F.col("_iv") * w).alias("interval_start"),
        ((F.col("_iv") + 1) * w).alias("interval_end"),
        "n_enter",
        "n_event",
        "n_censored",
        F.round(F.col("_neff"), 2).alias("effective_risk"),
        F.round(s, 6).alias("survival"),
    )


def conditional_survival(
    km: DataFrame,
    group_cols: Sequence[str],
    pairs: Sequence[tuple],
    duration_col: str = "duration",
) -> DataFrame:
    """Conditional survival CS(t|s) = S(t)/S(s) — "given alive at s,
    the probability of reaching t" — the companion table registries
    publish next to the period-survival index (the reference's INDEX
    shape at /root/reference/docs/create_index.sql:10-17 conditioned
    on survivors; conditional 5-year survival in the national
    publications).

    ``pairs`` is a list of (s, t) horizon pairs, t > s. S at each
    point is read off a ``km_curve`` output at the largest cell time
    ≤ the point (S = 1 before the first cell) — the same broadcast
    argmax as ``survival_at_horizons``, one pass for the union of all
    distinct points. CS is NULL where S(s) = 0 (nobody alive to
    condition on).

    Work ∝ #cells × #distinct points, nothing subject-sized. Ratios
    of km_curve's already-rounded values, re-rounded to 6 dp — the
    oracle mirrors the expressions bit-exact.
    """
    g = list(group_cols)
    spark = km.sparkSession
    pts = sorted({int(x) for st in pairs for x in st})
    ptf = spark.createDataFrame([(p,) for p in pts], "_pt long")
    cells = km.crossJoin(F.broadcast(ptf)).filter(
        F.col(duration_col) <= F.col("_pt")
    )
    best = cells.groupBy(*g, "_pt").agg(
        F.max(
            F.struct(
                F.col(duration_col).alias("_d"),
                F.col("survival").alias("_s"),
            )
        ).alias("_b")
    )
    totals = km.select(*g).distinct()
    grid = totals.crossJoin(F.broadcast(ptf))
    at = grid.join(best, g + ["_pt"], "left").select(
        *g, "_pt", F.coalesce(F.col("_b._s"), F.lit(1.0)).alias("_s")
    )
    prf = spark.createDataFrame(
        sorted((int(s), int(t)) for s, t in pairs), "_s_pt long, _t_pt long"
    )
    j = (
        at.withColumnRenamed("_pt", "_s_pt")
        .withColumnRenamed("_s", "_s_at_s")
        .join(F.broadcast(prf), "_s_pt")
        .join(
            at.withColumnRenamed("_pt", "_t_pt")
            .withColumnRenamed("_s", "_s_at_t"),
            g + ["_t_pt"],
        )
    )
    return j.select(
        *g,
        F.col("_s_pt").alias("since"),
        F.col("_t_pt").alias("until"),
        F.col("_s_at_s").alias("survival_at_since"),
        F.col("_s_at_t").alias("survival_at_until"),
        F.when(
            F.col("_s_at_s") > 0,
            F.round(F.col("_s_at_t") / F.col("_s_at_s"), 6),
        ).alias("conditional_survival"),
    )


def median_survival(
    km: DataFrame,
    group_cols: Sequence[str],
    duration_col: str = "duration",
) -> DataFrame:
    """Median survival time per group — the single number registries
    quote beside the index table: the smallest event time where the
    KM curve reaches S ≤ 0.5 (the standard convention; NULL when the
    curve never falls that far, i.e. median not reached within
    follow-up).

    Pure cell arithmetic on a ``km_curve`` output: one filtered
    min-struct argmin per group plus a cohort-size read-off. Returns
    (group, n_subjects, median_time, survival_at_median,
    median_reached).
    """
    g = list(group_cols)
    crossed = km.filter(F.col("survival") <= 0.5)
    best = crossed.groupBy(*g).agg(
        F.min(
            F.struct(
                F.col(duration_col).alias("_d"),
                F.col("survival").alias("_s"),
            )
        ).alias("_b")
    )
    totals = km.groupBy(*g).agg(F.max("n_risk").alias("n_subjects"))
    j = totals.join(best, g, "left")
    return j.select(
        *g,
        "n_subjects",
        F.col("_b._d").alias("median_time"),
        F.col("_b._s").alias("survival_at_median"),
        F.col("_b").isNotNull().alias("median_reached"),
    )


def rmst(
    df: DataFrame,
    group_cols: Sequence[str],
    tau: int,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Restricted mean survival time — the area under the KM curve up
    to horizon τ, the modern model-free alternative registries and
    trialists report when hazards aren't proportional (mean survival
    time gained per subject within τ, in the duration's units).

    Uses summation by parts so NO window over cells is needed:
    ∫₀^τ S dt = τ·S(τ) + Σ_{tᵢ ≤ τ} tᵢ·(S(tᵢ⁻) − S(tᵢ)) — the drop
    at each event time is S(left limit) − S(inclusive), both already
    available from ONE ``grouped_prefix_sum`` pass as the exclusive
    and inclusive micro-lattice log sums; S(τ) is the lexicographic
    struct-max read-off among cells ≤ τ. Everything folds in a single
    per-group aggregate over the cell table; drop terms ride the
    micro lattice so the result hash-adjudicates bit-exact.

    Returns (group, n_subjects, survival_at_tau, rmst) — rmst ≤ τ,
    equal to τ iff nobody dies before it.
    """
    g = list(group_cols)
    tau = int(tau)
    ev = F.col(event_col).cast("long")
    cells = df.groupBy(*g, duration_col).agg(
        F.sum(ev).alias("_d"),
        F.count(F.lit(1)).alias("_rm"),
    )
    totals = df.groupBy(*g).agg(F.count(F.lit(1)).alias("_n_subj"))
    cells = cells.join(totals, g)
    cells = grouped_prefix_sum(cells, g, duration_col, "_rm", "_rm0")
    d = F.col("_d")
    n = F.col("_n_subj") - F.col("_rm0")
    cells = (
        cells.withColumn("n_risk", n)
        .withColumn(
            "_lt",
            F.when(
                (d > 0) & (d < F.col("n_risk")),
                _micro(F.log(F.lit(1.0) - d / F.col("n_risk"))),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_dall",
            F.when((d > 0) & (d == F.col("n_risk")), F.lit(1))
            .otherwise(F.lit(0)).cast("long"),
        )
    )
    cells = grouped_prefix_sum(
        cells, g, duration_col, ["_lt", "_dall"], ["_lt0", "_dall0"]
    )
    s_left = F.when(F.col("_dall0") > 0, F.lit(0.0)).otherwise(
        F.round(F.exp(F.col("_lt0") / F.lit(1000000.0)), 6)
    )
    s_incl = F.when(
        F.col("_dall0") + F.col("_dall") > 0, F.lit(0.0)
    ).otherwise(
        F.round(
            F.exp((F.col("_lt0") + F.col("_lt")) / F.lit(1000000.0)), 6
        )
    )
    t = F.col(duration_col).cast("double")
    in_tau = F.col(duration_col) <= tau
    drop_term = F.when(
        in_tau & (d > 0), _micro(t * (s_left - s_incl))
    ).otherwise(F.lit(0).cast("long"))
    agg = cells.withColumn("_dt", drop_term).groupBy(*g).agg(
        F.max("_n_subj").alias("n_subjects"),
        F.sum("_dt").alias("_drops"),
        F.max(
            F.when(
                in_tau,
                F.struct(
                    F.col(duration_col).alias("_d"),
                    s_incl.alias("_s"),
                ),
            )
        ).alias("_at_tau"),
    )
    s_tau = F.coalesce(F.col("_at_tau._s"), F.lit(1.0))
    return agg.select(
        *g,
        "n_subjects",
        F.round(s_tau, 6).alias("survival_at_tau"),
        F.round(
            F.lit(float(tau)) * s_tau
            + F.col("_drops") / F.lit(1000000.0),
            6,
        ).alias("rmst"),
    )


def survival_difference(
    km: DataFrame,
    group_col: str,
    horizons: Sequence[int],
    duration_col: str = "duration",
) -> DataFrame:
    """Absolute survival difference between two groups at fixed
    horizons, with a Wald 95% CI and the number-needed-to-treat —
    the clinician-facing readout next to the log-rank p:
    Δ(t) = S₁(t) − S₂(t), SE = √(se₁² + se₂²) (independent-arm
    Greenwood), NNT = 1/|Δ| (NULL when Δ = 0 or either SE is
    undefined).

    ``group_col`` must take exactly two values; the lexicographically
    smaller is group 1 (``logrank_test``'s orientation). S and SE at
    each horizon are the usual broadcast argmax read-offs of a
    ``km_curve`` output (S = 1, SE = 0 before the first cell). Work ∝
    #cells × #horizons. Returns one row per horizon: (horizon,
    group_1, group_2, s_1, s_2, diff, diff_lower95, diff_upper95,
    nnt).
    """
    spark = km.sparkSession
    hz = spark.createDataFrame(
        [(int(h),) for h in sorted(set(horizons))], "horizon long"
    )
    gvals = [
        r[0]
        for r in km.select(group_col).distinct().orderBy(group_col).collect()
    ]
    if len(gvals) != 2:
        raise ValueError(
            f"survival_difference needs exactly 2 groups, got {gvals}"
        )
    cells = km.crossJoin(F.broadcast(hz)).filter(
        F.col(duration_col) <= F.col("horizon")
    )
    best = cells.groupBy(group_col, "horizon").agg(
        F.max(
            F.struct(
                F.col(duration_col).alias("_d"),
                F.col("survival").alias("_s"),
                F.col("se_greenwood").alias("_se"),
            )
        ).alias("_b")
    )

    def arm(gval, tag):
        side = best.filter(F.col(group_col) == F.lit(gval)).select(
            "horizon",
            F.col("_b._s").alias(f"_s{tag}"),
            F.col("_b._se").alias(f"_e{tag}"),
        )
        return hz.join(side, "horizon", "left").select(
            "horizon",
            F.coalesce(F.col(f"_s{tag}"), F.lit(1.0)).alias(f"_s{tag}"),
            F.when(
                F.col(f"_s{tag}").isNull(), F.lit(0.0)
            ).otherwise(F.col(f"_e{tag}")).alias(f"_e{tag}"),
        )

    j = arm(gvals[0], "1").join(arm(gvals[1], "2"), "horizon")
    diff = F.col("_s1") - F.col("_s2")
    se = F.sqrt(
        F.col("_e1") * F.col("_e1") + F.col("_e2") * F.col("_e2")
    )
    ok = F.col("_e1").isNotNull() & F.col("_e2").isNotNull()
    return j.select(
        "horizon",
        F.lit(gvals[0]).alias("group_1"),
        F.lit(gvals[1]).alias("group_2"),
        F.col("_s1").alias("s_1"),
        F.col("_s2").alias("s_2"),
        F.round(diff, 6).alias("diff"),
        F.when(ok, F.round(diff - 1.96 * se, 6)).alias("diff_lower95"),
        F.when(ok, F.round(diff + 1.96 * se, 6)).alias("diff_upper95"),
        F.when(
            ok & (F.abs(diff) > 0), F.round(1 / F.abs(diff), 6)
        ).alias("nnt"),
    )


def rate_ratio_test(
    df: DataFrame,
    group_col: str,
    case_col: str,
    time_col: str,
) -> DataFrame:
    """Two-group incidence-rate-ratio test on person-time data — the
    epidemiologist's A/B test for event RATES (errors per
    exposure-hour) rather than means: rate ratio RR = (d₁/y₁)/(d₂/y₂),
    Wald z on ln RR with variance 1/d₁ + 1/d₂, normal-approx 95% CI.

    ``group_col`` must take exactly two values (lexicographically
    smaller = group 1, the ``logrank_test`` orientation). One exact
    integer aggregate per group (Σcases, Σtime) IS the whole test;
    the statistic is one mirrored expression. NULL z/CI when either
    group has zero events (ln RR variance undefined). Returns one
    row: (group_1, group_2, cases_1/2 (exact), time_1/2 (exact),
    rate_ratio, z_stat, rr_lower95, rr_upper95) rounded to 6 dp.
    """
    per = (
        df.groupBy(F.col(group_col).alias("_g"))
        .agg(
            F.sum(F.col(case_col).cast("long")).alias("_d"),
            F.sum(F.col(time_col).cast("long")).alias("_y"),
        )
    )
    a = per.orderBy("_g").limit(1).select(
        F.col("_g").alias("group_1"),
        F.col("_d").alias("cases_1"),
        F.col("_y").alias("time_1"),
    )
    b = per.orderBy(F.col("_g").desc()).limit(1).select(
        F.col("_g").alias("group_2"),
        F.col("_d").alias("cases_2"),
        F.col("_y").alias("time_2"),
    )
    nv = per.agg(F.count(F.lit(1)).alias("_nv"))
    j = a.crossJoin(b).crossJoin(F.broadcast(nv))
    d1, y1 = F.col("cases_1").cast("double"), F.col("time_1").cast("double")
    d2, y2 = F.col("cases_2").cast("double"), F.col("time_2").cast("double")
    rr = (d1 / y1) / (d2 / y2)
    se = F.sqrt(1 / d1 + 1 / d2)
    ok = (F.col("_nv") == 2) & (F.col("cases_1") > 0) & (
        F.col("cases_2") > 0
    )
    return j.select(
        "group_1",
        "group_2",
        "cases_1",
        "time_1",
        "cases_2",
        "time_2",
        F.when(ok, F.round(rr, 6)).alias("rate_ratio"),
        F.when(ok, F.round(F.log(rr) / se, 6)).alias("z_stat"),
        F.when(ok, F.round(rr * F.exp(-1.96 * se), 6)).alias(
            "rr_lower95"
        ),
        F.when(ok, F.round(rr * F.exp(1.96 * se), 6)).alias(
            "rr_upper95"
        ),
    )


def logrank_test(
    df: DataFrame,
    group_col: str,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Two-group log-rank test (Mantel-Cox).

    ``group_col`` must take exactly two values; the lexicographically
    smaller one is "group 1" (deterministic orientation). At every
    distinct event time t with d_t total deaths, n_t total at risk and
    n1_t at risk in group 1:

        O1 = Σ d1_t                       (exact integer)
        E1 = Σ d_t · n1_t / n_t           (micro-lattice sum)
        V  = Σ d_t (n1_t/n_t)(1 − n1_t/n_t)(n_t − d_t)/(n_t − 1)

    and χ² = (O1 − E1)² / V with 1 df; ln HR ≈ (O1 − E1)/V is the
    usual score estimate. Times where only one subject remains
    (n_t = 1) contribute zero variance by convention.

    Scale shape: collapse to per-duration cells with per-group
    death/removal counts (conditional aggregate), one multi-column
    ``global_prefix_sum`` over the duration axis for both groups'
    at-risk counts, then a single scalar aggregate. The prefix-sum
    frame is #distinct durations — bounded by cohort size.
    """
    gvals = [
        r[0]
        for r in df.select(group_col).distinct().orderBy(group_col).collect()
    ]
    if len(gvals) != 2:
        raise ValueError(f"logrank_test needs exactly 2 groups, got {gvals}")
    g1 = gvals[0]
    is1 = (F.col(group_col) == F.lit(g1)).cast("long")
    ev = F.col(event_col).cast("long")
    cells = df.groupBy(duration_col).agg(
        F.sum(ev * is1).alias("d1"),
        F.sum(ev).alias("d"),
        F.sum(is1).alias("rm1"),
        F.count(F.lit(1)).alias("rm"),
    )
    # r10: the cohort totals are the cell sums — ride them along with
    # the prefix scan instead of a second full pass over df
    cells = global_prefix_sum(
        cells, duration_col, ["rm1", "rm"], ["rm1_before", "rm_before"],
        totals_alias=["_n1", "_n"],
    )
    n1 = F.col("_n1") - F.col("rm1_before")
    n = F.col("_n") - F.col("rm_before")
    d = F.col("d")
    p1 = n1 / n
    e_term = F.when(d > 0, _micro(d * p1)).otherwise(F.lit(0).cast("long"))
    v_term = F.when(
        (d > 0) & (n > 1),
        _micro(d * p1 * (F.lit(1.0) - p1) * (n - d) / (n - F.lit(1))),
    ).otherwise(F.lit(0).cast("long"))
    out = cells.agg(
        F.max("_n1").alias("n_subjects_1"),
        (F.max("_n") - F.max("_n1")).alias("n_subjects_2"),
        F.sum("d1").alias("observed_1"),
        F.round(F.sum(e_term) / F.lit(1000000.0), 6).alias("expected_1"),
        F.round(F.sum(v_term) / F.lit(1000000.0), 6).alias("variance"),
        (F.sum("d1") - F.sum(e_term) / F.lit(1000000.0)).alias("_oe"),
        (F.sum(v_term) / F.lit(1000000.0)).alias("_v"),
    )
    return out.select(
        "n_subjects_1",
        "n_subjects_2",
        "observed_1",
        "expected_1",
        "variance",
        F.round(F.col("_oe") * F.col("_oe") / F.col("_v"), 6).alias(
            "chi_square"
        ),
        F.round(F.col("_oe") / F.col("_v"), 6).alias("log_hazard_ratio"),
    )


def stratified_logrank_test(
    df: DataFrame,
    strata_cols: Sequence[str],
    group_col: str,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """STRATIFIED two-group log-rank test: risk sets form within each
    stratum (so the comparison is adjusted for the stratifier — center,
    region, age band), and the score statistic pools across strata:

        χ² = (Σ_s (O1_s − E1_s))² / Σ_s V_s,   1 df

    the standard registry adjustment when a confounder is categorical
    and a model is overkill. Per-stratum O/E/V use exactly the
    ``logrank_test`` machinery — per-(stratum, duration) cells, then
    ONE ``grouped_prefix_sum`` (strata are the groups, so a hot
    stratum spans partitions) — and the micro-lattice terms stay
    integer longs until the final pooled division, so every value
    hash-adjudicates bit-exact.

    Returns one row per stratum: n_1/n_2, observed_1, expected_1,
    variance (the stratum's own contributions) plus the POOLED
    chi_square and log_hazard_ratio repeated on every row (the
    ``age_standardized_rates`` DSR convention).
    """
    s = list(strata_cols)
    gvals = [
        r[0]
        for r in df.select(group_col).distinct().orderBy(group_col).collect()
    ]
    if len(gvals) != 2:
        raise ValueError(
            f"stratified_logrank_test needs exactly 2 groups, got {gvals}"
        )
    g1 = gvals[0]
    is1 = (F.col(group_col) == F.lit(g1)).cast("long")
    ev = F.col(event_col).cast("long")
    cells = df.groupBy(*s, duration_col).agg(
        F.sum(ev * is1).alias("d1"),
        F.sum(ev).alias("d"),
        F.sum(is1).alias("rm1"),
        F.count(F.lit(1)).alias("rm"),
    )
    tot = df.groupBy(*s).agg(
        F.sum(is1).alias("_n1"),
        F.count(F.lit(1)).alias("_n"),
    )
    cells = grouped_prefix_sum(
        cells, s, duration_col, ["rm1", "rm"], ["rm1_before", "rm_before"]
    ).join(tot, s)
    n1 = F.col("_n1") - F.col("rm1_before")
    n = F.col("_n") - F.col("rm_before")
    d = F.col("d")
    p1 = n1 / n
    e_term = F.when(d > 0, _micro(d * p1)).otherwise(F.lit(0).cast("long"))
    v_term = F.when(
        (d > 0) & (n > 1),
        _micro(d * p1 * (F.lit(1.0) - p1) * (n - d) / (n - F.lit(1))),
    ).otherwise(F.lit(0).cast("long"))
    per = cells.groupBy(*s).agg(
        F.max("_n1").alias("n_subjects_1"),
        (F.max("_n") - F.max("_n1")).alias("n_subjects_2"),
        F.sum("d1").alias("observed_1"),
        F.sum(e_term).alias("_e_micro"),
        F.sum(v_term).alias("_v_micro"),
    )
    pooled = per.agg(
        F.sum("observed_1").alias("_o_all"),
        F.sum("_e_micro").alias("_e_all"),
        F.sum("_v_micro").alias("_v_all"),
    )
    oe = F.col("_o_all") - F.col("_e_all") / F.lit(1000000.0)
    v = F.col("_v_all") / F.lit(1000000.0)
    return (
        per.crossJoin(F.broadcast(pooled))
        .select(
            *s,
            "n_subjects_1",
            "n_subjects_2",
            "observed_1",
            F.round(F.col("_e_micro") / F.lit(1000000.0), 6).alias(
                "expected_1"
            ),
            F.round(F.col("_v_micro") / F.lit(1000000.0), 6).alias(
                "variance"
            ),
            F.round(oe * oe / v, 6).alias("chi_square"),
            F.round(oe / v, 6).alias("log_hazard_ratio"),
        )
    )


def age_standardized_rates(
    df: DataFrame,
    band_col: str,
    case_col: str,
    time_col: str,
    std_weights: dict,
) -> DataFrame:
    """Directly age-standardised event rate (the reference INDEX
    table's STANDARDISATION_TYPE = direct; create_index.sql:9).

    ``df`` is one row per subject with an age-band key, an integer
    case count and an integer person-time (any unit; rates come back
    per 1000 units). ``std_weights`` maps band → INTEGER
    standard-population weight (e.g. the European Standard Population
    per-100000 band counts) — integer weights keep the weighted sum
    an exact long (weight × micro-lattice rate), so the DSR is
    order-independent under any partitioning; float weights would
    make the distributed double sum nondeterministic.

    Per band: crude rate = Σcases / Σtime · 1000. The DSR is the
    weight-averaged band rate, attached to every band row (the
    one-row aggregate joins back as a broadcast, keeping the plan
    lazy). Bands absent from ``std_weights`` get weight 0.

    One hash aggregate over subjects (#bands rows out), then
    arithmetic — nothing here scales with event volume.
    """
    if any(int(w) != w for w in std_weights.values()):
        raise ValueError("std_weights must be integers (exact-sum contract)")
    wmap = F.create_map(
        *[
            F.lit(x)
            for k, w in std_weights.items()
            for x in (k, int(w))
        ]
    )
    per = (
        df.groupBy(band_col)
        .agg(
            F.sum(F.col(case_col).cast("long")).alias("cases"),
            F.sum(F.col(time_col).cast("long")).alias("person_time"),
        )
        .withColumn(
            "std_weight",
            F.coalesce(wmap[F.col(band_col)], F.lit(0)).cast("long"),
        )
        .withColumn(
            "_rate_micro",
            _micro(
                F.col("cases") / F.col("person_time") * F.lit(1000.0)
            ),
        )
    )
    dsr = per.agg(
        F.round(
            F.sum(F.col("std_weight") * F.col("_rate_micro"))
            / F.sum("std_weight")
            / F.lit(1000000.0),
            6,
        ).alias("dsr_per_1000")
    )
    return (
        per.crossJoin(F.broadcast(dsr))
        .select(
            band_col,
            "cases",
            "person_time",
            F.round(F.col("_rate_micro") / F.lit(1000000.0), 6).alias(
                "rate_per_1000"
            ),
            "std_weight",
            "dsr_per_1000",
        )
    )


def cif_competing_risks(
    df: DataFrame,
    group_cols: Sequence[str],
    causes: Sequence[int],
    duration_col: str = "duration",
    cause_col: str = "cause",
) -> DataFrame:
    """Aalen-Johansen cumulative incidence functions under competing
    risks — the estimator national cancer registries publish next to
    the KM index when deaths from other causes compete with the cancer
    of interest (the reference's INDEX table is net survival;
    /root/reference/docs/create_index.sql:2-20 — CIF is its
    crude-probability companion).

    ``df`` is one row per subject: an integer ``duration_col`` and
    ``cause_col`` ∈ {0} ∪ ``causes`` (0 = censored, k = failed from
    cause k at ``duration``). At every time t with all-cause deaths
    d(t), at-risk n(t) and cause-k deaths d_k(t):

        CIF_k(t) = Σ_{s ≤ t}  S(s−) · d_k(s) / n(s)

    with S(s−) the ALL-CAUSE Kaplan-Meier left limit. Unlike
    1 − KM_k(t) (which treats competing failures as censoring and
    overestimates), Σ_k CIF_k(t) + S(t) = 1 exactly at every event
    time when nobody is censored — pinned in tests.

    Returns one row per (group, duration, cause): ``n_risk``,
    ``n_event`` (that cause's deaths at t), ``survival_allcause``
    (inclusive KM S(t)) and ``cif``.

    Scale shape: identical to ``km_curve`` — collapse to per-(group,
    time) cells with per-cause conditional counts (one hash aggregate,
    #cells bounded by cohort size × |causes|), then THREE
    ``grouped_prefix_sum`` passes over the cell table (at-risk → log-S
    left limits → CIF partial sums, each pass feeding the next), a
    final unpivot to long (cause, cif) form via ``stack``. All
    continuous terms ride the micro-lattice, so the table adjudicates
    bit-exact; no raw-row window anywhere.
    """
    g = list(group_cols)
    causes = [int(k) for k in causes]
    cz = F.col(cause_col).cast("long")
    cells = df.groupBy(*g, duration_col).agg(
        F.sum((cz > 0).cast("long")).alias("_d"),
        F.count(F.lit(1)).alias("_rm"),
        *[
            F.sum((cz == F.lit(k)).cast("long")).alias(f"_d_{k}")
            for k in causes
        ],
    )
    totals = df.groupBy(*g).agg(F.count(F.lit(1)).alias("_n_subj"))
    cells = cells.join(totals, g)
    cells = grouped_prefix_sum(cells, g, duration_col, "_rm", "_rm0")
    d = F.col("_d")
    n = F.col("_n_subj") - F.col("_rm0")
    cells = (
        cells.withColumn("n_risk", n)
        .withColumn(
            "_lt",
            F.when(
                (d > 0) & (d < F.col("n_risk")),
                _micro(F.log(F.lit(1.0) - d / F.col("n_risk"))),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_dall",
            F.when((d > 0) & (d == F.col("n_risk")), F.lit(1))
            .otherwise(F.lit(0)).cast("long"),
        )
        .drop("_rm", "_rm0")
    )
    cells = grouped_prefix_sum(
        cells, g, duration_col, ["_lt", "_dall"], ["_lt0", "_dall0"]
    )
    # S(t−): exclusive prefix = the left limit; S(t): inclusive
    s_left = F.when(F.col("_dall0") > 0, F.lit(0.0)).otherwise(
        F.exp(F.col("_lt0") / F.lit(1000000.0))
    )
    s_incl = F.when(
        F.col("_dall0") + F.col("_dall") > 0, F.lit(0.0)
    ).otherwise(
        F.exp((F.col("_lt0") + F.col("_lt")) / F.lit(1000000.0))
    )
    cells = cells.withColumn("_s_incl", F.round(s_incl, 6))
    for k in causes:
        dk = F.col(f"_d_{k}")
        cells = cells.withColumn(
            f"_t_{k}",
            F.when(
                dk > 0, _micro(s_left * dk / F.col("n_risk"))
            ).otherwise(F.lit(0).cast("long")),
        )
    cells = grouped_prefix_sum(
        cells,
        g,
        duration_col,
        [f"_t_{k}" for k in causes],
        [f"_t0_{k}" for k in causes],
    )
    for k in causes:
        cells = cells.withColumn(
            f"_cif_{k}",
            F.round(
                (F.col(f"_t0_{k}") + F.col(f"_t_{k}"))
                / F.lit(1000000.0),
                6,
            ),
        )
    stack_expr = "stack({n}, {args}) as (cause, n_event, cif)".format(
        n=len(causes),
        args=", ".join(
            f"{k}L, _d_{k}, _cif_{k}" for k in causes
        ),
    )
    return cells.select(
        *g,
        duration_col,
        "n_risk",
        F.col("_s_incl").alias("survival_allcause"),
        F.expr(stack_expr),
    ).select(
        *g, duration_col, "cause", "n_risk", "n_event",
        "survival_allcause", "cif",
    )


def _attach_band_hazard(
    frame: DataFrame,
    band_col: str,
    hazard_spec,
    out_col: str,
    op_name: str,
) -> DataFrame:
    """Attach the expected micro-hazard column to a band-keyed frame
    from either a dict (legacy literal form: missing band → 0,
    documented) or a life-table DataFrame (``sources/lifetable.py``
    canonical form: validated, broadcast-joined, missing band = a
    NAMED error — the join contract; a silent zero would under-count
    expected deaths and inflate net survival)."""
    if isinstance(hazard_spec, DataFrame):
        from ..sources.lifetable import validate_life_table

        lt = validate_life_table(hazard_spec, [band_col])
        joined = frame.join(F.broadcast(lt), [band_col], "left")
        checked = F.when(
            F.col("hazard_micro").isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{op_name}: cohort band with no life-table "
                        "row: "
                    ),
                    F.col(band_col).cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.col("hazard_micro"))
        return joined.withColumn(out_col, checked).drop("hazard_micro")
    if any(int(v) != v for v in hazard_spec.values()):
        raise ValueError(
            "hazard_micro_by_band must be integers (exact-sum contract)"
        )
    hmap = F.create_map(
        *[F.lit(x) for k, v in hazard_spec.items() for x in (k, int(v))]
    )
    return frame.withColumn(
        out_col, F.coalesce(hmap[F.col(band_col)], F.lit(0)).cast("long")
    )


def relative_survival_ederer2(
    df: DataFrame,
    group_cols: Sequence[str],
    band_col: str,
    hazard_micro_by_band: dict,
    horizon: int,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Relative survival with Ederer II expected survival — the
    estimator behind the reference's published net-survival INDEX
    table (STANDARDISATION_TYPE / SURVIVAL_PERCENT per
    YEARS_SINCE_DIAGNOSIS; /root/reference/docs/create_index.sql:2-20):
    observed all-cause KM divided by the cohort's expected survival
    under external background-population hazards.

    ``hazard_micro_by_band`` maps demographic band → INTEGER expected
    hazard per time unit in 1e-6 units (the life-table analog of
    ``age_standardized_rates``' integer-weight contract): band at-risk
    counts × integer micro-hazards are exact longs, so every
    distributed sum is order-independent and the table adjudicates
    bit-exact.

    It accepts either a dict (the in-query literal form) or a
    LIFE-TABLE DataFrame in ``sources/lifetable.py``'s canonical
    schema (``band_col`` + ``hazard_micro``; validated, broadcast) —
    the external-source form a registry user brings. The two forms
    are BIT-EQUAL given the same hazards (exact-long arithmetic
    either way; pinned in tests). Join contract: a cohort band with
    no life-table row raises a named error — the dict form's
    silent-zero fallback is the documented legacy behavior, the
    source form refuses to under-count expected deaths.

    Ederer II: at each integer time s = 1..horizon the expected hazard
    of the cohort is the at-risk-weighted band mean
    λ̄(s) = Σ_b n_b(s)·λ_b / n(s) (n_b(s) = subjects of band b with
    duration ≥ s — the survivors' mix, re-weighted as the cohort
    ages); S*(h) = Π_{s ≤ h} (1 − λ̄(s)), and relative survival
    R(h) = S_obs(h) / S*(h).

    Returns one row per (group, hour 1..horizon): ``n_risk`` (observed
    at-risk entering the hour), ``survival_observed`` (KM, inclusive),
    ``survival_expected`` and ``relative_survival``.

    Scale shape: one hash aggregate collapses subjects to per-(group,
    band, duration) removal cells; everything downstream runs on the
    broadcast-sized grid (groups × bands × horizon rows): one
    ``grouped_prefix_sum`` for band at-risk counts, a second for the
    expected log-survival accumulation, and the observed curve joins
    in from ``km_curve`` cells via the same broadcast argmax used by
    ``survival_at_horizons``. Nothing downstream of the two
    aggregates scales with subject count.
    """
    g = list(group_cols)
    spark = df.sparkSession
    horizon = int(horizon)

    # per-(group, band, duration) removal cells — the only data-sized
    # aggregate besides km_curve's
    rmb = df.groupBy(*g, band_col, duration_col).agg(
        F.count(F.lit(1)).alias("_rm")
    )
    nbt = df.groupBy(*g, band_col).agg(F.count(F.lit(1)).alias("_nb_tot"))

    hours = spark.range(0, horizon + 1).select(
        F.col("id").cast("long").alias("_s")
    )
    grid = (
        nbt.crossJoin(F.broadcast(hours))
        .join(
            rmb.withColumnRenamed(duration_col, "_s"),
            g + [band_col, "_s"],
            "left",
        )
        .withColumn("_rm", F.coalesce(F.col("_rm"), F.lit(0)))
    )
    grid = grouped_prefix_sum(
        grid, g + [band_col], "_s", "_rm", "_rm0"
    ).withColumn("_nb", F.col("_nb_tot") - F.col("_rm0"))

    grid = _attach_band_hazard(
        grid, band_col, hazard_micro_by_band, "_lam_b",
        "relative_survival_ederer2",
    ).withColumn("_lam_micro", F.col("_nb") * F.col("_lam_b"))
    per_s = grid.groupBy(*g, "_s").agg(
        F.sum("_lam_micro").alias("_lam"),
        F.sum("_nb").alias("_n"),
    )
    lam_bar = F.col("_lam") / F.lit(1000000.0) / F.col("_n")
    per_s = per_s.withColumn(
        "_lt",
        F.when(
            (F.col("_s") > 0) & (F.col("_n") > 0) & (lam_bar < 1),
            _micro(F.log(F.lit(1.0) - lam_bar)),
        ).otherwise(F.lit(0).cast("long")),
    )
    per_s = grouped_prefix_sum(per_s, g, "_s", "_lt", "_lt0")
    expected = per_s.filter(F.col("_s") > 0).select(
        *g,
        F.col("_s").alias("hour"),
        F.col("_n").alias("n_risk"),
        F.round(
            F.exp((F.col("_lt0") + F.col("_lt")) / F.lit(1000000.0)), 6
        ).alias("survival_expected"),
    )

    km = km_curve(df, g, duration_col, event_col)
    hrs = hours.filter(F.col("_s") > 0).withColumnRenamed("_s", "hour")
    obs_cells = km.crossJoin(F.broadcast(hrs)).filter(
        F.col(duration_col) <= F.col("hour")
    )
    best = obs_cells.groupBy(*g, "hour").agg(
        F.max(
            F.struct(
                F.col(duration_col).alias("_d"),
                F.col("survival").alias("_sv"),
            )
        ).alias("_b")
    )
    out = expected.join(best, g + ["hour"], "left").withColumn(
        "survival_observed", F.coalesce(F.col("_b._sv"), F.lit(1.0))
    )
    return out.select(
        *g,
        "hour",
        "n_risk",
        "survival_observed",
        "survival_expected",
        F.round(
            F.col("survival_observed") / F.col("survival_expected"), 6
        ).alias("relative_survival"),
    )


def relative_survival_ederer1(
    df: DataFrame,
    group_cols: Sequence[str],
    band_col: str,
    hazard_micro_by_band: dict,
    horizon: int,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Relative survival with EDERER I expected survival — the other
    classical expected-survival convention registries publish beside
    Ederer II: the expected curve averages each subject's OWN
    life-table survival over the WHOLE cohort at diagnosis,

        S*_I(h) = (1/N) · Σ_b n_b · (1 − λ_b)^h

    (the at-diagnosis band mix, never re-weighted as the cohort ages —
    unlike Ederer II's survivors'-mix λ̄(s)). Ederer I is the matched-
    cohort interpretation: follow N hypothetical population twins from
    day 0. It overstates expected survival late (the real cohort's
    high-hazard bands die out first), which is exactly why both are
    published; the pair brackets the truth.

    Same integer micro-hazard contract and output grain as
    ``relative_survival_ederer2``: one row per (group, hour
    1..horizon) with n_risk (observed at-risk), survival_observed
    (KM), survival_expected (Ederer I), relative_survival.

    Scale shape: the expected curve needs only the per-(group, band)
    AT-DIAGNOSIS counts — one tiny aggregate, then a broadcast-sized
    (groups × bands × horizon) grid with a closed-form pow() per cell
    (no prefix pass at all: the at-diagnosis mix is time-constant).
    The observed curve reuses ``km_curve`` cells via the same
    broadcast argmax join as Ederer II.

    ``hazard_micro_by_band`` accepts a dict or a life-table
    DataFrame (``sources/lifetable.py`` canonical form) — the same
    dual contract as ``relative_survival_ederer2``: the source form
    is validated/broadcast and FAILS on a cohort band with no row.
    """
    g = list(group_cols)
    spark = df.sparkSession
    horizon = int(horizon)

    nbt = df.groupBy(*g, band_col).agg(F.count(F.lit(1)).alias("_nb"))
    tot = df.groupBy(*g).agg(F.count(F.lit(1)).alias("_n_tot"))
    hours = spark.range(1, horizon + 1).select(
        F.col("id").cast("long").alias("hour")
    )
    # at-risk grid must include hour 0 so duration-0 removals are in
    # the strict prefix when hour 1 reads it
    hours0 = spark.range(0, horizon + 1).select(
        F.col("id").cast("long").alias("hour")
    )
    # r10 bit-stability fix: the band fold used to be a RAW double sum
    # (Σ n_b·(1−λ_b)^h) rounded to 6 dp — accumulation-order-dependent
    #, and one sf0.001 row sat exactly on a 5e-7 boundary, flipping
    # the published value vs the oracle. Fold each band's AT-DIAGNOSIS
    # share n_b/N·(1−λ_b)^h ∈ [0,1] on the pico lattice instead (exact
    # long sum, order-free; ≤ #bands·1e12 so it can never overflow),
    # mirrored verbatim by the oracle.
    grid = _attach_band_hazard(
        nbt.join(F.broadcast(tot), g).crossJoin(F.broadcast(hours)),
        band_col,
        hazard_micro_by_band, "_lam_b", "relative_survival_ederer1",
    ).withColumn(
        "_sb",
        _pico(
            F.col("_nb") / F.col("_n_tot")
            * F.pow(
                F.lit(1.0) - F.col("_lam_b") / F.lit(1000000.0),
                F.col("hour"),
            )
        ),
    )
    expected = grid.groupBy(*g, "hour").agg(
        F.round(F.sum("_sb") / F.lit(1000000000000.0), 6).alias(
            "survival_expected"
        ),
    )

    km = km_curve(df, g, duration_col, event_col)
    # observed at-risk entering each hour, from removal cells
    rm = df.groupBy(*g, duration_col).agg(F.count(F.lit(1)).alias("_rm"))
    atrisk = (
        tot.crossJoin(F.broadcast(hours0))
        .join(
            rm.withColumnRenamed(duration_col, "hour"),
            g + ["hour"],
            "left",
        )
        .withColumn("_rm", F.coalesce(F.col("_rm"), F.lit(0)))
    )
    atrisk = grouped_prefix_sum(atrisk, g, "hour", "_rm", "_rm0")
    atrisk = atrisk.filter(F.col("hour") > 0).select(
        *g, "hour", (F.col("_n_tot") - F.col("_rm0")).alias("n_risk")
    )
    obs_cells = km.crossJoin(
        F.broadcast(hours)
    ).filter(F.col(duration_col) <= F.col("hour"))
    best = obs_cells.groupBy(*g, "hour").agg(
        F.max(
            F.struct(
                F.col(duration_col).alias("_d"),
                F.col("survival").alias("_sv"),
            )
        ).alias("_b")
    )
    out = (
        expected.join(atrisk, g + ["hour"])
        .join(best, g + ["hour"], "left")
        .withColumn(
            "survival_observed", F.coalesce(F.col("_b._sv"), F.lit(1.0))
        )
    )
    return out.select(
        *g,
        "hour",
        "n_risk",
        "survival_observed",
        "survival_expected",
        F.round(
            F.col("survival_observed") / F.col("survival_expected"), 6
        ).alias("relative_survival"),
    )


def net_survival_pohar_perme(
    df: DataFrame,
    group_cols: Sequence[str],
    band_col: str,
    hazard_micro_by_band: dict,
    horizon: int,
    duration_col: str = "duration",
    event_col: str = "event",
    with_ci: bool = False,
    _prefix_frame: bool = False,
) -> DataFrame:
    """Pohar Perme net survival — the unbiased net-survival estimator
    national cancer publications moved to (Perme-Stare-Estève 2012),
    and the estimator class behind the reference's INDEX table
    (/root/reference/docs/create_index.sql:2-20): each subject is
    inverse-weighted by their own expected survival w_i(s) =
    1/S*_i(s), so long-lived demographic bands don't dominate the tail
    the way the unweighted Ederer II ratio lets them.

    Discrete-hour formulation with band-constant integer micro-hazards
    (same life-table contract as ``relative_survival_ederer2``):
    S*_b(s) = (1 − λ_b)^s, w_b(s) = S*_b(s)^{-1}, and per hour
    s = 1..horizon the excess-hazard increment is

        dΛ_E(s) = [Σ_b d_b(s)·w_b(s) − Σ_b n_b(s)·w_b(s)·λ_b]
                  / Σ_b n_b(s)·w_b(s)

    (weighted observed deaths minus weighted expected deaths over the
    weighted at-risk mass; d_b(s) = cause-agnostic deaths at s in band
    b, n_b(s) = band at-risk entering s). Net survival
    S_PP(h) = exp(−Σ_{s ≤ h} dΛ_E(s)).

    Returns one row per (group, hour 1..horizon): unweighted
    ``n_risk``, ``excess_cum_hazard`` and ``net_survival_pp``.

    ``with_ci=True`` adds the Pohar Perme variance estimator — the
    reference INDEX table publishes STANDARD_ERROR/LOWER_CI/UPPER_CI
    beside every survival figure, and this is their net-scale source:
    Var(Λ_E(h)) = Σ_{s ≤ h} Σ_b w_b(s)²·d_b(s) / (Σ_b w_b(s)·n_b(s))²
    (the counting-process variance of the weighted NA increments; w is
    band-constant so the band grid carries it exactly). The 95% CI is
    built on the cumulative-excess-hazard scale — S bounds =
    exp(−(Λ ∓ 1.96σ)) — which keeps both ends inside (0, 1] without
    clipping. Adds ``se_net``, ``lower_ci_net``, ``upper_ci_net``.

    Scale shape: identical to Ederer II — one hash aggregate to
    per-(group, band, duration) removal/death cells, then the
    broadcast-sized (groups × bands × horizon) grid: one
    ``grouped_prefix_sum`` for band at-risk counts, per-hour weighted
    sums collapse the band axis (micro/pico lattice → exact longs),
    and a second ``grouped_prefix_sum`` accumulates Λ_E. Nothing
    downstream of the cell aggregate scales with subject count.
    """
    if any(int(v) != v for v in hazard_micro_by_band.values()):
        raise ValueError(
            "hazard_micro_by_band must be integers (exact-sum contract)"
        )
    g = list(group_cols)
    spark = df.sparkSession
    horizon = int(horizon)

    ev = F.col(event_col).cast("long")
    cells = df.groupBy(*g, band_col, duration_col).agg(
        F.count(F.lit(1)).alias("_rm"),
        F.sum(ev).alias("_dv"),
    )
    nbt = df.groupBy(*g, band_col).agg(F.count(F.lit(1)).alias("_nb_tot"))

    hours = spark.range(0, horizon + 1).select(
        F.col("id").cast("long").alias("_s")
    )
    grid = (
        nbt.crossJoin(F.broadcast(hours))
        .join(
            cells.withColumnRenamed(duration_col, "_s"),
            g + [band_col, "_s"],
            "left",
        )
        .withColumn("_rm", F.coalesce(F.col("_rm"), F.lit(0)))
        .withColumn("_dv", F.coalesce(F.col("_dv"), F.lit(0)))
    )
    grid = grouped_prefix_sum(
        grid, g + [band_col], "_s", "_rm", "_rm0"
    ).withColumn("_nb", F.col("_nb_tot") - F.col("_rm0"))
    return _pp_weighted_tail(
        grid, g, band_col, hazard_micro_by_band, with_ci,
        _prefix_frame=_prefix_frame,
    )


def _pp_weighted_tail(
    grid: DataFrame,
    g: list,
    band_col: str,
    hazard_micro_by_band: dict,
    with_ci: bool,
    _prefix_frame: bool = False,
) -> DataFrame:
    """Shared Pohar Perme reduction: from a (group, band, _s) grid
    carrying ``_dv`` (cause-agnostic deaths at hour _s) and ``_nb``
    (band at-risk entering _s), build the weighted excess-hazard
    increments, the Λ_E prefix, and the published curve. Factored out
    so the left-truncated/period variants are BIT-EQUAL to the cohort
    estimator by construction — every lattice expression is this one
    code path. ``_prefix_frame=True`` returns the internal per-(group,
    hour) frame (micro Λ_E prefix ``_le0``/``_le``, pico variance
    prefix ``_vi0``/``_vi``, ``_n``) BEFORE publication rounding — the
    exact-lattice hook ``conditional_net_survival`` anchors on."""
    hmap = F.create_map(
        *[
            F.lit(x)
            for k, v in hazard_micro_by_band.items()
            for x in (k, int(v))
        ]
    )
    lam = F.coalesce(hmap[F.col(band_col)], F.lit(0)).cast("long")
    # w_b(s) = (1 - λ_b)^(-s): pure function of (band, s) — mirrored
    # verbatim by the oracle
    w = F.pow(
        F.lit(1.0) - lam / F.lit(1000000.0), -F.col("_s").cast("double")
    )
    grid = (
        grid.withColumn("_wd", _micro(F.col("_dv") * w))
        .withColumn("_wn", _micro(F.col("_nb") * w))
        .withColumn(
            "_we", _pico(F.col("_nb") * w * (lam / F.lit(1000000.0)))
        )
        .withColumn("_wwd", _micro(F.col("_dv") * w * w))
    )
    per_s = grid.groupBy(*g, "_s").agg(
        F.sum("_wd").alias("_num1"),
        F.sum("_we").alias("_num2"),
        F.sum("_wn").alias("_den"),
        F.sum("_nb").alias("_n"),
        F.sum("_wwd").alias("_num3"),
    )
    lam_e = (
        F.col("_num1") / F.lit(1000000.0)
        - F.col("_num2") / F.lit(1000000000000.0)
    ) / (F.col("_den") / F.lit(1000000.0))
    per_s = per_s.withColumn(
        "_le",
        F.when(
            (F.col("_s") > 0) & (F.col("_den") > 0), _micro(lam_e)
        ).otherwise(F.lit(0).cast("long")),
    )
    var_inc = (F.col("_num3") / F.lit(1000000.0)) / F.pow(
        F.col("_den") / F.lit(1000000.0), F.lit(2.0)
    )
    per_s = per_s.withColumn(
        "_vi",
        F.when(
            (F.col("_s") > 0) & (F.col("_den") > 0), _pico(var_inc)
        ).otherwise(F.lit(0).cast("long")),
    )
    per_s = grouped_prefix_sum(
        per_s, g, "_s", ["_le", "_vi"], ["_le0", "_vi0"]
    )
    if _prefix_frame:
        return per_s
    cum = (F.col("_le0") + F.col("_le")) / F.lit(1000000.0)
    out = per_s.filter(F.col("_s") > 0).select(
        *g,
        F.col("_s").alias("hour"),
        F.col("_n").alias("n_risk"),
        F.round(cum, 6).alias("excess_cum_hazard"),
        F.round(F.exp(-cum), 6).alias("net_survival_pp"),
        ((F.col("_vi0") + F.col("_vi")) / F.lit(1000000000000.0))
        .alias("_var"),
    )
    if not with_ci:
        return out.drop("_var")
    sig = F.sqrt(F.col("_var"))
    return out.select(
        *g,
        "hour",
        "n_risk",
        "excess_cum_hazard",
        "net_survival_pp",
        F.round(F.col("net_survival_pp") * sig, 6).alias("se_net"),
        F.round(
            F.exp(-(F.col("excess_cum_hazard") + 1.96 * sig)), 6
        ).alias("lower_ci_net"),
        F.round(
            F.exp(-(F.col("excess_cum_hazard") - 1.96 * sig)), 6
        ).alias("upper_ci_net"),
    )


def net_survival_pp_left_truncated(
    df: DataFrame,
    group_cols: Sequence[str],
    band_col: str,
    hazard_micro_by_band: dict,
    horizon: int,
    entry_col: str = "entry",
    duration_col: str = "duration",
    event_col: str = "event",
    with_ci: bool = False,
) -> DataFrame:
    """Pohar Perme net survival with DELAYED ENTRY (left truncation):
    subjects join the risk set at ``entry_col`` and leave at
    ``duration_col`` on the time-since-diagnosis clock — the risk-set
    convention of ``km_curve_left_truncated`` (R(s) = {entry < s ≤
    exit}, zero-length rows dropped) under the weighted excess-hazard
    reduction of ``net_survival_pohar_perme``. The PP weight stays
    w_b(s) = S*_b(s)^{-1} measured from diagnosis (the life-table
    clock does not reset at entry — Perme-Stare-Estève weights are a
    function of time since diagnosis, entry only gates WHO is in the
    risk set).

    This is the estimator core of PERIOD-analysis net survival
    (``net_survival_period``); with all entries at 0 it reduces
    BIT-EXACTLY to ``net_survival_pohar_perme`` for every published
    hour (s ≥ 1) — same cells, same lattice, literally the same
    ``_pp_weighted_tail`` code path (pinned in tests).

    Scale shape: ONE hash aggregate to per-(group, band, time) entry/
    exit cells (unioned), the broadcast-sized (groups × bands ×
    horizon) grid, one multi-column ``grouped_prefix_sum`` for
    entered(<s) − exited(<s) at-risk counts, then the shared weighted
    tail. Nothing downstream of the cell aggregate scales with
    subject count.
    """
    if any(int(v) != v for v in hazard_micro_by_band.values()):
        raise ValueError(
            "hazard_micro_by_band must be integers (exact-sum contract)"
        )
    g = list(group_cols)
    spark = df.sparkSession
    horizon = int(horizon)
    ev = F.col(event_col).cast("long")
    base = df.filter(F.col(entry_col) < F.col(duration_col))
    exits = base.groupBy(*g, band_col, duration_col).agg(
        F.count(F.lit(1)).alias("_rm"),
        F.sum(ev).alias("_dv"),
    ).select(
        *g, band_col, F.col(duration_col).alias("_s"),
        "_rm", "_dv", F.lit(0).cast("long").alias("_en"),
    )
    enters = base.groupBy(*g, band_col, entry_col).agg(
        F.count(F.lit(1)).alias("_en"),
    ).select(
        *g, band_col, F.col(entry_col).alias("_s"),
        F.lit(0).cast("long").alias("_rm"),
        F.lit(0).cast("long").alias("_dv"),
        "_en",
    )
    cells = (
        exits.unionByName(enters)
        .groupBy(*g, band_col, "_s")
        .agg(
            F.sum("_rm").alias("_rm"),
            F.sum("_dv").alias("_dv"),
            F.sum("_en").alias("_en"),
        )
    )
    bands = base.groupBy(*g, band_col).agg(F.count(F.lit(1)).alias("_z"))
    hours = spark.range(0, horizon + 1).select(
        F.col("id").cast("long").alias("_s")
    )
    grid = (
        bands.drop("_z")
        .crossJoin(F.broadcast(hours))
        .join(cells, g + [band_col, "_s"], "left")
        .withColumn("_rm", F.coalesce(F.col("_rm"), F.lit(0)))
        .withColumn("_dv", F.coalesce(F.col("_dv"), F.lit(0)))
        .withColumn("_en", F.coalesce(F.col("_en"), F.lit(0)))
    )
    grid = grouped_prefix_sum(
        grid, g + [band_col], "_s", ["_en", "_rm"], ["_en0", "_rm0"]
    ).withColumn("_nb", F.col("_en0") - F.col("_rm0"))
    return _pp_weighted_tail(
        grid, g, band_col, hazard_micro_by_band, with_ci
    )


def net_survival_period(
    df: DataFrame,
    group_cols: Sequence[str],
    band_col: str,
    hazard_micro_by_band: dict,
    horizon: int,
    window_start,
    window_end,
    diag_col: str = "diag_time",
    duration_col: str = "duration",
    event_col: str = "event",
    with_ci: bool = False,
) -> DataFrame:
    """PERIOD-analysis NET survival (Brenner & Gefeller 1996 window ×
    Pohar Perme weights; Brenner-Hakulinen's up-to-date relative
    survival, on the modern unbiased estimator) — what a registry
    publishes when it wants net survival that reflects RECENT care
    rather than the full history of an old diagnosis cohort: subjects
    contribute person-time only while the calendar clock sits inside
    [window_start, window_end), which on the time-since-diagnosis
    axis is the ``period_survival`` left-truncation transform

        entry'_i  = max(0, window_start − diag_i)
        exit'_i   = min(T_i, window_end − diag_i)
        event'_i  = event_i AND (T_i < window_end − diag_i)

    feeding ``net_survival_pp_left_truncated`` unchanged. With a
    window covering all calendar time this reduces BIT-EXACTLY to
    ``net_survival_pohar_perme`` (pinned in tests) — the same
    relationship ``period_survival`` has to ``km_curve``'s delayed-
    entry sibling.

    Scale shape: a pure projection + filter feeding the LT core's
    single union-cell aggregate; nothing new shuffles.
    """
    g = list(group_cols)
    ws = F.lit(int(window_start))
    we = F.lit(int(window_end))
    diag = F.col(diag_col).cast("long")
    dur = F.col(duration_col).cast("long")
    ev = F.col(event_col).cast("int")
    entry = F.greatest(F.lit(0).cast("long"), ws - diag)
    cap = we - diag
    exit_ = F.least(dur, cap)
    ev2 = F.when(dur < cap, ev).otherwise(F.lit(0))
    transformed = (
        df.filter((diag < we) & (diag + dur >= ws))
        .select(
            *g,
            F.col(band_col),
            entry.alias("_entry"),
            exit_.alias("_exit"),
            ev2.alias("_event"),
        )
        .filter(F.col("_entry") < F.col("_exit"))
    )
    return net_survival_pp_left_truncated(
        transformed,
        g,
        band_col,
        hazard_micro_by_band,
        horizon,
        "_entry",
        "_exit",
        "_event",
        with_ci,
    )


def conditional_net_survival(
    df: DataFrame,
    group_cols: Sequence[str],
    band_col: str,
    hazard_micro_by_band: dict,
    horizon: int,
    condition_hour: int,
    duration_col: str = "duration",
    event_col: str = "event",
    with_ci: bool = False,
) -> DataFrame:
    """CONDITIONAL net survival — net survival to hour t GIVEN alive
    at hour s (the "if you've already survived a year, what then?"
    figure registries publish beside the unconditional index, and the
    clinically actionable one for follow-up consultations):

        CNS(t | s) = S_PP(t) / S_PP(s) = exp(−(Λ_E(t) − Λ_E(s)))

    computed on ``net_survival_pohar_perme``'s INTERNAL exact micro
    lattice (the ``_prefix_frame`` hook), NOT on the published 6-dp
    rounded curve — the subtraction Λ_E(t) − Λ_E(s) happens on the
    integer micro prefixes, so with ``condition_hour=0`` every
    published column is BIT-EQUAL to the unconditional estimator
    (Λ_E(0) ≡ 0 on the lattice; pinned in tests).

    ``with_ci=True``: Var(Λ_E(t) − Λ_E(s)) = Σ_{s < u ≤ t} of the PP
    variance increments (independent-increment counting-process
    property) = the pico variance-prefix difference — again exact on
    the lattice; CI on the conditional cumulative-excess-hazard scale
    (bounds inside (0, 1], same convention as the unconditional CI).

    Returns one row per (group, hour s+1..horizon): ``hour``,
    ``n_risk`` (unweighted at-risk entering the hour),
    ``n_risk_at_condition``, ``excess_cum_hazard_cond``,
    ``net_survival_cond`` (+ ``se_cond``/``lower_ci_cond``/
    ``upper_ci_cond`` with CI).

    Scale shape: the PP grid pipeline unchanged (one cell aggregate +
    two grouped prefix passes), then ONE extra equi-join of the
    per-(group, hour) frame against its own one-row-per-group anchor
    slice — bounded by group cardinality, AQE broadcasts it.
    """
    condition_hour = int(condition_hour)
    horizon = int(horizon)
    if not 0 <= condition_hour < horizon:
        raise ValueError(
            "conditional_net_survival: condition_hour must satisfy "
            f"0 <= s < horizon (got s={condition_hour}, "
            f"horizon={horizon})"
        )
    g = list(group_cols)
    per_s = net_survival_pohar_perme(
        df, g, band_col, hazard_micro_by_band, horizon,
        duration_col, event_col, with_ci=False, _prefix_frame=True,
    )
    anchor = per_s.filter(F.col("_s") == condition_hour).select(
        *g,
        (F.col("_le0") + F.col("_le")).alias("_le_s"),
        (F.col("_vi0") + F.col("_vi")).alias("_vi_s"),
        F.col("_n").alias("n_risk_at_condition"),
    )
    joined = per_s.filter(F.col("_s") > condition_hour).join(anchor, g)
    cum = (
        F.col("_le0") + F.col("_le") - F.col("_le_s")
    ) / F.lit(1000000.0)
    out = joined.select(
        *g,
        F.col("_s").alias("hour"),
        F.col("_n").alias("n_risk"),
        "n_risk_at_condition",
        F.round(cum, 6).alias("excess_cum_hazard_cond"),
        F.round(F.exp(-cum), 6).alias("net_survival_cond"),
        (
            (F.col("_vi0") + F.col("_vi") - F.col("_vi_s"))
            / F.lit(1000000000000.0)
        ).alias("_var"),
    )
    if not with_ci:
        return out.drop("_var")
    sig = F.sqrt(F.col("_var"))
    return out.select(
        *g,
        "hour",
        "n_risk",
        "n_risk_at_condition",
        "excess_cum_hazard_cond",
        "net_survival_cond",
        F.round(F.col("net_survival_cond") * sig, 6).alias("se_cond"),
        F.round(
            F.exp(-(F.col("excess_cum_hazard_cond") + 1.96 * sig)), 6
        ).alias("lower_ci_cond"),
        F.round(
            F.exp(-(F.col("excess_cum_hazard_cond") - 1.96 * sig)), 6
        ).alias("upper_ci_cond"),
    )


def standardized_net_survival(
    df: DataFrame,
    group_cols: Sequence[str],
    class_col: str,
    class_weights: dict,
    band_col: str,
    hazard_micro_by_band: dict,
    horizon: int,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Age-standardised net survival — the reference INDEX table's
    actual published quantity (SURVIVAL_PERCENT under
    STANDARDISATION_TYPE with age-standardisation weights;
    /root/reference/docs/create_index.sql:9): Pohar Perme net survival
    estimated separately per standardisation class, then combined as
    the weight-averaged mix S_std(h) = Σ_a w_a·S_a(h) / Σ_a w_a (ICSS
    convention), so a cohort's published curve doesn't drift with its
    own age composition.

    ``class_weights`` maps class → INTEGER standard weight (the ICSS
    analog of ``age_standardized_rates``' contract): PP's 6-dp-rounded
    class curves × integer weights are exact micro-lattice longs, so
    the standardised curve hash-adjudicates bit-exact. Classes absent
    from a group at some hour simply drop out of that group's mix
    (weights renormalize over present classes — both sides mirror
    this).

    Returns one row per (group, hour): ``n_risk`` (unweighted total),
    ``net_survival_std``. Scale shape: exactly
    ``net_survival_pohar_perme`` with (group × class) keys — the grid
    grows by #classes, still broadcast-sized — plus one #classes-fold
    aggregate back to the group grain.
    """
    if any(int(w) != w for w in class_weights.values()):
        raise ValueError("class_weights must be integers (exact-sum)")
    g = list(group_cols)
    pp = net_survival_pohar_perme(
        df,
        g + [class_col],
        band_col,
        hazard_micro_by_band,
        horizon,
        duration_col,
        event_col,
    )
    wmap = F.create_map(
        *[
            F.lit(x)
            for k, w in class_weights.items()
            for x in (k, int(w))
        ]
    )
    pp = pp.withColumn(
        "_w", F.coalesce(wmap[F.col(class_col)], F.lit(0)).cast("long")
    ).withColumn(
        "_s_micro",
        F.round(F.col("net_survival_pp") * F.lit(1000000.0), 0).cast(
            "long"
        ),
    )
    return (
        pp.groupBy(*g, "hour")
        .agg(
            F.sum("n_risk").alias("n_risk"),
            F.round(
                F.sum(F.col("_w") * F.col("_s_micro"))
                / F.sum("_w")
                / F.lit(1000000.0),
                6,
            ).alias("net_survival_std"),
        )
        .select(*g, "hour", "n_risk", "net_survival_std")
    )


def person_time_cells(
    df: DataFrame,
    x_col: str,
    band_col: str,
    hazard_micro_by_band: dict,
    interval_width: int,
    horizon: int,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Person-time split for excess-hazard (relative-survival)
    regression — the grouped-data layout of Dickman et al.'s Poisson
    formulation: follow-up is cut into fixed intervals and each
    subject contributes its overlap as exposure; expected (background)
    deaths per cell come from the integer micro-hazard life table.

    Exposure convention: a subject observed for D integer hours
    contributes y_j = clip(min(D+1, horizon) − j·w, 0, w) to interval
    j — the +1 guarantees ≥ 1 unit of exposure (the same floor as
    ``age_standardized_rates``), so a death at hour 0 still has
    person-time to sit in. The death lands in interval D // w.

    Returns one row per (x, interval): ``n_events`` (exact long),
    ``person_time`` (exact long — integer hours), ``expected_micro``
    (exact long: Σ_band λ_band·y, in 1e-6 deaths). ALL columns are
    exact integers — the cell table hash-adjudicates bit-exact, and it
    is the ONLY data-sized computation: everything downstream
    (``excess_hazard_fit``) runs on ≤ #x-patterns × #intervals rows.
    """
    if any(int(v) != v for v in hazard_micro_by_band.values()):
        raise ValueError(
            "hazard_micro_by_band must be integers (exact-sum contract)"
        )
    w = int(interval_width)
    hz = int(horizon)
    n_iv = hz // w
    spark = df.sparkSession
    ivs = spark.range(0, n_iv).select(F.col("id").alias("_j"))
    d = F.col(duration_col).cast("long")
    ev = F.col(event_col).cast("long")
    hmap = F.create_map(
        *[
            F.lit(x)
            for k, v in hazard_micro_by_band.items()
            for x in (k, int(v))
        ]
    )
    base = df.select(
        F.col(x_col).alias("x"),
        F.coalesce(hmap[F.col(band_col)], F.lit(0))
        .cast("long")
        .alias("_lam"),
        d.alias("_d"),
        ev.alias("_e"),
    )
    j = base.crossJoin(F.broadcast(ivs))
    y = F.greatest(
        F.least(
            F.least(F.col("_d") + 1, F.lit(hz)) - F.col("_j") * w,
            F.lit(w).cast("long"),
        ),
        F.lit(0).cast("long"),
    )
    death_here = (
        (F.col("_e") == 1)
        & ((F.col("_d") / w).cast("long") == F.col("_j"))
    ).cast("long")
    return (
        j.select(
            "x",
            F.col("_j").alias("interval"),
            y.alias("_y"),
            death_here.alias("_dh"),
            (F.col("_lam") * y).alias("_em"),
        )
        .groupBy("x", "interval")
        .agg(
            F.sum("_dh").alias("n_events"),
            F.sum("_y").alias("person_time"),
            F.sum("_em").alias("expected_micro"),
        )
    )


def excess_hazard_fit(
    cells: DataFrame,
    n_intervals: int,
    iters: int = 40,
    step_clip: float = 1.0,
):
    """Fit the Estève/Dickman excess-hazard model on a
    ``person_time_cells`` table: observed deaths in cell c are
    Poisson with mean μ_c = d*_c + exp(α_{j(c)} + β·x_c)·y_c —
    background deaths d* plus a proportional excess hazard,
    piecewise-constant over intervals (α_j) and log-linear in the
    covariate (β). This is THE regression modern registries fit to
    estimate net survival by stage/deprivation/age (Dickman et al.
    2004's grouped Poisson formulation of Estève's ML).

    Newton-Raphson with analytic gradient/Hessian runs ON THE DRIVER:
    the cell table is #x-patterns × #intervals rows by construction
    (the data-sized work already happened in ``person_time_cells``),
    so collecting it is the scale-correct move — same contract as
    ``pca_fit``'s 64×64 eigh. Per-component steps are clipped to
    ±``step_clip`` (Newton on sparse cells overshoots; clipping is the
    deterministic safeguard — unlike line search it needs no extra
    likelihood evaluations). Deterministic: cells are exact integers,
    rows sorted, the NR arithmetic fixed-order numpy. Returns
    (alphas[j], beta).
    """
    import numpy as np

    # fixed row order → fixed float-sum order → bit-identical fit
    # under any partitioning of the upstream cell aggregate
    rows = sorted(cells.collect(), key=lambda r: (r.x, r.interval))
    J = int(n_intervals)
    C = len(rows)
    dvec = np.array([r.n_events for r in rows], dtype=np.float64)
    yvec = np.array([r.person_time for r in rows], dtype=np.float64)
    dstar = np.array(
        [r.expected_micro for r in rows], dtype=np.float64
    ) / 1e6
    xs = np.array([float(r.x) for r in rows])
    jidx = np.array([int(r.interval) for r in rows])
    Z = np.zeros((C, J + 1))
    Z[np.arange(C), jidx] = 1.0
    Z[:, J] = xs
    theta = np.zeros(J + 1)
    theta[:J] = -5.0  # sane excess-hazard starting point (per hour)
    theta = _excess_poisson_nr(
        dvec, yvec, dstar, Z, theta, iters, step_clip
    )
    return [float(t) for t in theta[:J]], float(theta[J])


def _excess_poisson_nr(dvec, yvec, dstar, Z, theta, iters, step_clip):
    """Shared FISHER-SCORING core for excess-hazard Poisson models:
    observed deaths d_c ~ Poisson(d*_c + exp(Z_c·θ)·y_c).

    The log-likelihood d·ln(d* + e^η) − (d* + e^η) is NOT concave in η
    (the background offset breaks GLM concavity — a known pitfall of
    Estève-type excess models), so the observed-information Newton
    step can walk toward a saddle and diverge (reproduced on planted
    Weibull data: β marched to −50 with a vanishing gradient). The
    EXPECTED information E[−∂²ℓ] = Zᵀ diag(E²/μ) Z is always positive
    semidefinite, so scoring steps θ ← θ + I⁻¹g are ascent directions
    throughout. Per-component step clip plus 9-dp rounding per
    iteration keeps the trajectory deterministic given fixed row
    order."""
    import numpy as np

    for _ in range(iters):
        eta = Z @ theta
        E = np.exp(eta) * yvec
        mu = dstar + E
        ok = mu > 0
        g = Z.T @ np.where(ok, (dvec / np.where(ok, mu, 1.0) - 1.0) * E, 0.0)
        idiag = np.where(ok, E * E / np.where(ok, mu, 1.0), 0.0)
        info = (Z * idiag[:, None]).T @ Z
        step = np.linalg.solve(info, g)
        step = np.clip(step, -step_clip, step_clip)
        theta = np.round(theta + step, 9)
    return theta


def rcs_basis(u, knots):
    """Restricted cubic spline basis (Durrleman & Simon 1989): for
    knots k_1 < … < k_K returns columns [u, b_1(u), …, b_{K-2}(u)]
    where each b_j is the natural-spline-restricted cubic term —
    linear beyond the boundary knots. This is the basis Royston &
    Parmar (2002) use on the log-time axis of flexible parametric
    survival models."""
    import numpy as np

    u = np.asarray(u, dtype=np.float64)
    k = np.asarray(sorted(knots), dtype=np.float64)
    K = len(k)
    if K < 3:
        return u[:, None]

    def plus3(x):
        return np.where(x > 0.0, x * x * x, 0.0)

    lam = k[-1] - k[-2]
    cols = [u]
    for j in range(K - 2):
        cols.append(
            plus3(u - k[j])
            - plus3(u - k[-2]) * (k[-1] - k[j]) / lam
            + plus3(u - k[-1]) * (k[-2] - k[j]) / lam
        )
    return np.column_stack(cols)


def flexible_excess_hazard_fit(
    cells: DataFrame,
    n_intervals: int,
    interval_width: int,
    knots: Sequence[float] | None = None,
    iters: int = 60,
    step_clip: float = 1.0,
):
    """Royston-Parmar-style FLEXIBLE PARAMETRIC excess-hazard model on
    a ``person_time_cells`` table: the log excess hazard is a smooth
    restricted-cubic-spline function of log time instead of
    ``excess_hazard_fit``'s piecewise-constant interval dummies —

        d_c ~ Poisson(d*_c + exp(γ₀ + s(ln t_c; γ) + β·x_c) · y_c)

    with s() the RCS basis of ``rcs_basis`` evaluated at each cell's
    interval midpoint. This is the Poisson-split formulation of the
    flexible parametric (Royston & Parmar 2002) relative-survival
    model per Crowther & Lambert 2014 ("A general framework for
    parametric survival analysis", Stat Med): split follow-up finely,
    fit Poisson with spline-of-log-time — the estimates converge to
    the continuous-time flexible parametric MLE as the split narrows.
    Registries publish exactly this model for smooth net-survival
    curves by covariate (strs/stpm2 in Stata, rstpm2/flexsurv in R).

    Same scale contract as ``excess_hazard_fit``: the ONLY data-sized
    work already happened in ``person_time_cells``; the cell table is
    #x-patterns × #intervals rows, so driver-collecting it and running
    Newton-Raphson in numpy is the scale-correct reduction. The spline
    basis is an exact lattice: midpoints (j+0.5)·w are fixed by the
    interval grid, so Z is bit-identical under any partitioning.

    Default knots: boundary at the first/last interval midpoints plus
    one interior knot at the log-scale middle (K=3 → basis [1, u, b₁,
    x] — 4 parameters). Returns (gammas, beta) where gammas are the
    intercept + spline coefficients in basis order.
    """
    import numpy as np

    w = int(interval_width)
    J = int(n_intervals)
    rows = sorted(cells.collect(), key=lambda r: (r.x, r.interval))
    C = len(rows)
    dvec = np.array([r.n_events for r in rows], dtype=np.float64)
    yvec = np.array([r.person_time for r in rows], dtype=np.float64)
    dstar = np.array(
        [r.expected_micro for r in rows], dtype=np.float64
    ) / 1e6
    xs = np.array([float(r.x) for r in rows])
    u = np.log((np.array([int(r.interval) for r in rows]) + 0.5) * w)
    if knots is None:
        lo = float(np.log(0.5 * w))
        hi = float(np.log((J - 0.5) * w))
        knots = [lo, (lo + hi) / 2.0, hi]
    B = rcs_basis(u, knots)
    Z = np.column_stack([np.ones(C), B, xs])
    theta = np.zeros(Z.shape[1])
    theta[0] = -5.0
    theta = _excess_poisson_nr(
        dvec, yvec, dstar, Z, theta, iters, step_clip
    )
    return [float(t) for t in theta[:-1]], float(theta[-1])


def _cox_fit(
    fit, df, feature_cols, time_cols, event_col, iters, ties, strata_cols,
    return_se,
):
    """The Newton fit shared by ``cox_ph``, ``cox_ph_time_dependent``
    and ``cox_ph_counting``: the counting-process partial likelihood,
    ``cox_ph`` being the case with every start at −∞.

    ``time_cols`` is (duration,) or (start, stop). Complete cases only
    (R's ``na.omit``): rows with a null/NaN feature, time or event are
    dropped; a null stratum stays a stratum of its own. Each episode
    then becomes signed rows — an exit at stop (sign +1, carrying the
    event) and, with a start, an entry at start (sign −1, no event) —
    that collapse ONCE to (strata…, x-pattern, time, sign, event, ``_w``)
    cells. The risk set at t is the suffix Σ_{time ≥ t} sign·mass within
    the stratum, i.e. Σ_{stop ≥ t} − Σ_{start ≥ t}: the episodes with
    start < t ≤ stop.

    One kernel computes each (stratum, time) key's exact moments — d_t,
    s_t = Σ event·x, the signed risk moments A0 = Σ e^{xβ}, A1_j =
    Σ x_j e^{xβ}, A2_jk = Σ x_j x_k e^{xβ} and, for Efron, the event
    moments E0/E1/E2 — each per-cell term rounded to the 1e-9 lattice
    and summed exactly (``driverfit.exact_terms``: int64 while a bound
    proves it fits, else Python ints). One step turns the suffix sums
    into the gradient and information, nano-rounded and summed exactly.
    ``driverfit.scan`` runs both: on the driver when the cells are
    bounded, else over range partitions with per-stratum carries, so β̂
    is bit-identical under any partitioning. A term outside int64
    raises ``"<fit>: lattice overflow"``."""
    import numpy as np

    if ties not in ("breslow", "efron"):
        raise ValueError(f"ties must be 'breslow' or 'efron', got {ties!r}")
    iters = int(iters)
    if iters < 1:
        raise ValueError(f"{fit}: iters must be >= 1")
    feats = list(feature_cols)
    p = len(feats)
    strata = list(strata_cols) if strata_cols else []
    gcols = [f"_g{i}" for i in range(len(strata))]
    ev = F.col(event_col).cast("long")
    stop = F.col(time_cols[-1]).cast("double")
    if len(time_cols) == 2:
        start = F.col(time_cols[0]).cast("double")
        stop = F.when(
            start >= stop,
            F.raise_error(F.lit(
                f"{fit}: episode with start >= stop (episodes need "
                "start < stop)"
            )).cast("double"),
        ).otherwise(stop)
    # exit rows carry the event; entry rows subtract the episode's
    # mass from the risk sets at and before its start
    rows = [F.struct(stop.alias("_t"), F.lit(1).alias("_s"), ev.alias("_d"))]
    if len(time_cols) == 2:
        rows.append(F.struct(
            start.alias("_t"),
            F.lit(-1).alias("_s"),
            F.lit(0).cast("long").alias("_d"),
        ))
    keys = [*gcols, *[f"_x{j}" for j in range(p)], "_t", "_s", "_d"]
    cells = (
        df.dropna(subset=[*feats, *time_cols, event_col])
        .select(
            *[F.col(c).alias(g) for c, g in zip(strata, gcols)],
            *[
                F.col(c).cast("double").alias(f"_x{j}")
                for j, c in enumerate(feats)
            ],
            F.inline(F.array(*rows)),
        )
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_w"))
        .localCheckpoint(eager=False)
    )
    pdf = collect_bounded(cells)
    src = None if pdf is not None else ranged(cells, [*gcols, "_t"])
    upper = [(j, k) for j in range(p) for k in range(j, p)]
    efron = ties == "efron"

    def moments(beta, b, carry):
        """per-(stratum, time) key moments of the cell batch ``b``,
        keys in (stratum, time) order; the risk moments are the exact
        suffix sums within each stratum plus its ``carry``."""
        codes, labels = stratum_codes(b, gcols)
        t = b["_t"].to_numpy().astype(np.float64)
        o = np.lexsort((t, codes))
        t, codes = t[o], codes[o]
        w = b["_w"].to_numpy().astype(np.int64)[o]
        mass = b["_s"].to_numpy().astype(np.int64)[o] * w
        dw = b["_d"].to_numpy().astype(np.int64)[o] * w
        xs = [
            b[f"_x{j}"].to_numpy().astype(np.float64)[o] for j in range(p)
        ]
        new = np.ones(len(t), dtype=bool)
        new[1:] = (t[1:] != t[:-1]) | (codes[1:] != codes[:-1])
        kstarts = np.flatnonzero(new)
        kcode = codes[kstarts]
        snew = np.ones(len(kstarts), dtype=bool)
        snew[1:] = kcode[1:] != kcode[:-1]
        sstarts = np.flatnonzero(snew)
        slen = np.diff(np.append(sstarts, len(kstarts)))
        slabels = [labels[c] for c in kcode[sstarts]]

        xb = np.zeros(len(t))
        for j in range(p):
            xb = xb + beta[j] * xs[j]
        r = np.exp(xb)
        lat = (
            [r * 1e9]
            + [r * xs[j] * 1e9 for j in range(p)]
            + [r * xs[j] * xs[k] * 1e9 for j, k in upper]
        )

        def by_key(v):
            return np.add.reduceat(v, kstarts)

        risk = []
        for i, v in enumerate(lat):
            c = [carry[k][i] if k in carry else 0 for k in slabels]
            a = exact_terms(fit, v, mass, max(map(abs, c)))
            # inclusive suffix within each stratum, plus its carry
            sfx = np.cumsum(by_key(a)[::-1])[::-1]
            nxt = np.append(sfx[sstarts[1:]], 0) - np.array(c, sfx.dtype)
            risk.append(sfx - np.repeat(nxt, slen))
        d = by_key(dw)
        s = [
            by_key(exact_terms(fit, xs[j] * 1e9, dw)) for j in range(p)
        ]
        e = [by_key(exact_terms(fit, v, dw)) for v in lat] if efron else []
        return sstarts, slabels, d, s, risk, e

    def totals(beta, b):
        sstarts, slabels, _, _, risk, _ = moments(beta, b, {})
        # a stratum's total is its first key's suffix
        return {
            k: [int(v[i]) for v in risk] for k, i in zip(slabels, sstarts)
        }

    def partials(beta, b, carry):
        _, _, d, s, risk, e = moments(beta, b, carry)
        ev = np.flatnonzero(d > 0)
        reps = d[ev]
        d = reps.astype(np.float64)
        s = [v[ev].astype(np.float64) for v in s]
        s0, *rest = [v[ev].astype(np.float64) for v in risk]
        s1, s2 = rest[:p], dict(zip(upper, rest[p:]))
        if efron:
            # one row per (event key, l), l = 0..d−1, each seeing the
            # risk mass shrunk by l/d of the tied events' own moments
            e0, *erest = [v[ev].astype(np.float64) for v in e]
            e1, e2 = erest[:p], dict(zip(upper, erest[p:]))
            rowg = np.repeat(np.arange(len(reps)), reps)
            el = np.arange(len(rowg)) - np.repeat(np.cumsum(reps) - reps,
                                                  reps)
            dt = d[rowg]
            frac = el.astype(np.float64) / dt
            s0l = s0[rowg] - frac * e0[rowg]
            shr1 = [s1[j][rowg] - frac * e1[j][rowg] for j in range(p)]
            grad = [
                s[j][rowg] / 1e9 / dt - shr1[j] / s0l for j in range(p)
            ]
            hess = [
                (s2[jk][rowg] - frac * e2[jk][rowg]) / s0l
                - (shr1[jk[0]] / s0l) * (shr1[jk[1]] / s0l)
                for jk in upper
            ]
        else:
            grad = [s[j] / 1e9 - d * (s1[j] / s0) for j in range(p)]
            hess = [
                d * (s2[(j, k)] / s0 - (s1[j] / s0) * (s1[k] / s0))
                for j, k in upper
            ]
        return [exact_sum(fit, v * 1e9) for v in grad + hess]

    beta = [0.0] * p
    info = None
    for _ in range(iters):
        tot = scan(src, pdf, partial(totals, beta), partial(partials, beta))
        if not tot:
            raise ValueError(f"{fit}: empty input")
        g = np.array([v / 1e9 for v in tot[:p]])
        info = np.zeros((p, p))
        for (j, k), v in zip(upper, tot[p:]):
            info[j, k] = info[k, j] = v / 1e9
        step = np.linalg.solve(info, g)
        beta = [round(b + s, 9) for b, s in zip(beta, step)]
    if return_se:
        cov = np.linalg.inv(info)
        se = [round(float(np.sqrt(cov[j, j])), 9) for j in range(p)]
        return beta, se
    return beta


def cox_ph(
    df: DataFrame,
    feature_cols: Sequence[str],
    duration_col: str = "duration",
    event_col: str = "event",
    iters: int = 8,
    ties: str = "breslow",
    strata_cols: Sequence[str] | None = None,
    return_se: bool = False,
):
    """Distributed Cox proportional-hazards regression, Newton-Raphson
    on the partial likelihood. Returns [β_1, ..., β_p].

    ``ties``: "breslow" (the simple tied-risk-set approximation) or
    "efron" (R ``coxph``'s default — within a d-way tie the l-th
    event sees the risk mass shrunk by l/d of the tied events' own
    mass: S·_t − (l/d)·D·_t, where D are the moments of the event
    subjects at t). Efron expands each event time into d_t terms —
    Σd_t in all, bounded by the event count — and is exactly equal to
    Breslow when no two events share a duration (pinned in tests).

    ``strata_cols``: STRATIFIED Cox — each stratum keeps its own
    (unmodelled) baseline hazard and risk sets form within strata,
    while β is shared: the registry adjustment for center/region/age
    band when proportionality across the stratifier is implausible.
    Cells become per-(stratum, duration); the risk-set suffix sums
    run per stratum (a hot stratum spans range partitions, joined by
    carries); the gradient/information pooling is unchanged
    because the stratified partial likelihood is a plain sum of
    per-stratum terms.

    ``return_se=True`` returns (β, se) where se_j = √[(I⁻¹)_jj] from
    the FINAL Newton iteration's information matrix — the Wald
    standard errors behind every published HR [95% CI]. (The matrix
    is evaluated at the penultimate iterate; at the 9-dp convergence
    this run reaches, it matches the at-convergence information far
    below the rounding — zero extra passes.)

    Complete cases only (R's ``na.omit``): rows with a null/NaN
    feature, duration or event are dropped; a null stratum is a
    stratum of its own. Subjects collapse ONCE to (strata, x-pattern,
    duration, event) cells with counts. Each iteration computes, per
    (stratum, duration) key, the event count d_t, the event-feature
    sums s_t and the risk-mass moments A0 = Σ exp(xβ), A1_j =
    Σ x_j exp(xβ), A2_jk = Σ x_j x_k exp(xβ) of subjects LEAVING at t
    — every moment rounded per cell onto the 1e-9 nano-lattice and
    summed exactly — then the risk-set suffix sums S·_t (everyone
    leaving at or after t, within the stratum) and the per-event-time
    gradient/information contributions, themselves nano-rounded and
    summed exactly into p + p(p+1)/2 integers (``_cox_fit``, the core
    shared with ``cox_ph_time_dependent`` and ``cox_ph_counting``).
    Bounded cells run on the driver; beyond the bound the cells are
    range-partitioned on (strata, duration) once and each iteration is
    two Spark jobs, one for per-stratum totals, one for the partials
    given each partition's carry from later partitions.

    The driver holds only β and the p×p information matrix (numpy
    solve, p is small); β is rounded to 9 dp per iteration. Because
    every sum is an exact integer sum of per-cell roundings, the
    learned coefficients are BIT-IDENTICAL under any partitioning —
    the same contract as ``llm/inference.py::logistic_train``, pinned
    in tests at 1 vs k partitions. A term outside int64 raises
    ``cox_ph: lattice overflow``; an empty cohort ``cox_ph: empty
    input``.

    gradient  g_j = Σ_{t: d_t>0} (s_tj − d_t · S1_tj / S0_t)
    information I_jk = Σ d_t (S2_tjk/S0_t − (S1_tj/S0_t)(S1_tk/S0_t))
    update    β ← β + I⁻¹ g
    """
    return _cox_fit(
        "cox_ph", df, feature_cols, (duration_col,), event_col, iters,
        ties, strata_cols, return_se,
    )


def cox_ph_diagnostics(
    df: DataFrame,
    feature_cols: Sequence[str],
    beta: Sequence[float],
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Proportional-hazards diagnostic from SCHOENFELD residuals — the
    cox.zph idea (Grambsch & Therneau 1994, score-correlation form):
    at each distinct event time t the residual for feature j is

        r_tj = s_tj − d_t · S1_tj(β̂) / S0_t(β̂)

    (observed minus risk-set-expected covariate mass, summed over the
    d_t tied events). Under proportional hazards the residuals have
    zero drift in time; a time-varying effect β_j(t) shows up as a
    trend. The test correlates the per-event residual with the event
    time itself (g(t) = t; a d-way tie contributes d copies of the
    averaged residual, so heavy tie mass is weighted, not flattened)
    and reports the t-statistic of the Pearson correlation,
    z_j = ρ_j·√((n−2)/(1−ρ_j²)) over the n events — |z| ≳ 2 flags a
    violation.

    Runs on the SAME machinery as ``cox_ph`` at the fitted β̂: one
    per-duration cell aggregate (per-subject nano roundings), one
    ``global_prefix_sum`` for the risk-set suffix moments, then one
    five-moment correlation aggregate per feature over the event-time
    cells — all sums exact integer lattices, so the diagnostic is
    bit-identical under any partitioning. Returns one row per
    feature: (feature, n_event_times, rho, z_stat).
    """
    import numpy as np

    feats = list(feature_cols)
    p = len(feats)
    if len(beta) != p:
        raise ValueError("beta length must match feature_cols")
    nano = F.lit(1000000000.0)
    xb = F.lit(0.0)
    for j, c in enumerate(feats):
        xb = xb + F.lit(float(beta[j])) * F.col(c).cast("double")
    r = F.exp(xb)
    ev = F.col(event_col).cast("long")
    aggs = [
        F.sum(ev).alias("d_t"),
        F.sum(F.round(r * nano, 0).cast("long")).alias("a0"),
    ]
    for j, c in enumerate(feats):
        x = F.col(c).cast("double")
        aggs.append(
            F.sum(ev * F.round(x * nano, 0).cast("long")).alias(f"s{j}")
        )
        aggs.append(
            F.sum(F.round(r * x * nano, 0).cast("long")).alias(f"a1_{j}")
        )
    cells = df.groupBy(duration_col).agg(*aggs)
    vcols = ["a0"] + [f"a1_{j}" for j in range(p)]
    pre = global_prefix_sum(
        cells, duration_col, vcols, [f"_pre_{v}" for v in vcols],
        totals_alias=[f"_tot_{v}" for v in vcols],
    ).filter(F.col("d_t") > 0)

    def suffix(v):
        return F.col(f"_tot_{v}") - F.col(f"_pre_{v}")

    s0 = suffix("a0")
    t = F.col(duration_col).cast("double")
    d_t = F.col("d_t").cast("double")
    # per-EVENT residuals: a d-way tie contributes d copies of the
    # averaged residual r_t/d at time t, so the trend test weights by
    # tie mass instead of flattening 100 tied events into one point
    moms = [
        F.count(F.lit(1)).alias("m_times"),
        F.sum("d_t").alias("n_ev"),
        F.sum(F.round(d_t * t * nano, 0).cast("long")).alias("t1"),
        F.sum(F.round(d_t * t * t * nano, 0).cast("long")).alias("t2"),
    ]
    for j in range(p):
        res = F.col(f"s{j}") / nano - F.col("d_t") * (
            suffix(f"a1_{j}") / s0
        )
        avg = res / d_t
        moms.append(
            F.sum(F.round(res * nano, 0).cast("long")).alias(f"r1_{j}")
        )
        moms.append(
            F.sum(
                F.round(d_t * avg * avg * nano, 0).cast("long")
            ).alias(f"r2_{j}")
        )
        moms.append(
            F.sum(F.round(t * res * nano, 0).cast("long")).alias(
                f"tr_{j}"
            )
        )
    row = pre.agg(*moms).collect()[0]
    m = int(row["m_times"])
    n = int(row["n_ev"])
    out = []
    t1, t2 = row["t1"] / 1e9, row["t2"] / 1e9
    for j, c in enumerate(feats):
        r1 = row[f"r1_{j}"] / 1e9
        r2 = row[f"r2_{j}"] / 1e9
        tr = row[f"tr_{j}"] / 1e9
        cov = tr - t1 * r1 / n
        vt = t2 - t1 * t1 / n
        vr = r2 - r1 * r1 / n
        if n > 2 and vt > 0 and vr > 0:
            rho = cov / float(np.sqrt(vt * vr))
            rho = max(min(rho, 0.999999), -0.999999)
            z = rho * float(np.sqrt((n - 2) / (1.0 - rho * rho)))
            out.append((c, m, round(rho, 6), round(z, 6)))
        else:
            out.append((c, m, None, None))
    return df.sparkSession.createDataFrame(
        out, "feature string, n_event_times long, rho double, z_stat double"
    )


def _cox_robust_driver(pdfc, p, n_strat, beta, has_cluster):
    """numpy twin of the ``cox_ph_robust`` sandwich passes over
    collected (strata..., x-pattern, duration, event[, cluster])
    cells — the same nano-lattice risk cells, suffix sums, curve
    increments/cumulatives, per-cell score residuals and meat folds
    as the distributed passes, term-for-term (float op order and
    paren placement preserved), so (se_model, se_robust) are
    bit-identical (pinned in tests/test_driverfit.py)."""
    import numpy as np

    nano = 1e9
    w = pdfc["_w"].to_numpy().astype(np.int64)
    d = pdfc["_d"].to_numpy().astype(np.int64)
    t = pdfc["_t"].to_numpy().astype(np.float64)
    xs = [
        pdfc[f"_x{j}"].to_numpy().astype(np.float64) for j in range(p)
    ]
    if n_strat:
        gcode = (
            pdfc.groupby(
                [f"_g{i}" for i in range(n_strat)], sort=False,
                dropna=False,
            )
            .ngroup()
            .to_numpy()
        )
    else:
        gcode = np.zeros(len(w), dtype=np.int64)
    # per-(stratum, duration) axis
    axis_key = np.lexsort((t, gcode))
    ag = gcode[axis_key]
    at = t[axis_key]
    new_pt = np.ones(len(ag), dtype=bool)
    if len(ag) > 1:
        new_pt[1:] = (ag[1:] != ag[:-1]) | (at[1:] != at[:-1])
    pt_of_sorted = np.cumsum(new_pt) - 1
    pt_idx = np.empty(len(w), dtype=np.int64)
    pt_idx[axis_key] = pt_of_sorted
    npt = int(pt_of_sorted[-1]) + 1 if len(ag) else 0
    pt_g = ag[new_pt]
    gstarts = np.flatnonzero(
        np.concatenate(([True], pt_g[1:] != pt_g[:-1]))
        if npt
        else np.zeros(0, dtype=bool)
    )
    glen = np.diff(np.append(gstarts, npt))

    def scatter(vals):
        a = np.zeros(npt, dtype=np.int64)
        np.add.at(a, pt_idx, vals)
        return a

    def suffix(a):
        tot = np.repeat(np.add.reduceat(a, gstarts), glen)
        pre = np.cumsum(a)
        pre = pre - np.repeat(
            np.concatenate(([np.int64(0)], np.cumsum(a)[gstarts[1:] - 1]))
            if len(gstarts) > 1
            else np.zeros(1, dtype=np.int64),
            glen,
        )
        # exclusive within-group prefix
        exc = pre - a
        return tot - exc

    xb = np.zeros(len(w))
    for j in range(p):
        xb = xb + beta[j] * xs[j]
    r = np.exp(xb)
    d_t = scatter(w * d)
    a0 = scatter(w * round_half_up(r * nano).astype(np.int64))
    a1 = [
        scatter(w * round_half_up(r * xs[j] * nano).astype(np.int64))
        for j in range(p)
    ]
    a2 = {
        (j, k): scatter(
            w * round_half_up(r * xs[j] * xs[k] * nano).astype(np.int64)
        )
        for j in range(p)
        for k in range(j, p)
    }
    s0 = suffix(a0)
    s1 = [suffix(a1[j]) for j in range(p)]
    s2 = {jk: suffix(v) for jk, v in a2.items()}
    evm = d_t > 0
    dtf = d_t.astype(np.float64)
    s0f = s0.astype(np.float64)
    info = np.zeros((p, p))
    with np.errstate(divide="ignore", invalid="ignore"):
        for j in range(p):
            for k in range(j, p):
                term = dtf * (
                    s2[(j, k)] / s0
                    - (s1[j] / s0) * (s1[k] / s0)
                )
                info[j, k] = info[k, j] = (
                    round_half_up(term[evm] * nano)
                    .astype(np.int64)
                    .sum()
                    / 1e9
                )
        xbar = [s1[j] / s0 for j in range(p)]
        dh = round_half_up(dtf * nano / s0f * nano).astype(np.int64)
        dg = [
            round_half_up(
                dtf * s1[j].astype(np.float64) * nano / (s0f * s0f)
                * nano
            ).astype(np.int64)
            for j in range(p)
        ]

    def incl(a):
        pre = np.cumsum(a)
        off = np.repeat(
            np.concatenate(
                ([np.int64(0)], pre[gstarts[1:] - 1])
            )
            if len(gstarts) > 1
            else np.zeros(1, dtype=np.int64),
            glen,
        )
        return pre - off

    H0 = incl(dh) / nano
    Gj = [incl(v) / nano for v in dg]

    # per-cell score residuals at the cell's own axis point
    ci = pt_idx
    evd = d.astype(np.float64)
    meat = np.zeros((p, p))
    u = []
    with np.errstate(divide="ignore", invalid="ignore"):
        for j in range(p):
            u.append(
                evd * (xs[j] - xbar[j][ci])
                - r * (xs[j] * H0[ci] - Gj[j][ci])
            )
        if has_cluster:
            clcode, _ = pdfc["_cl"].factorize()
            ncl = int(clcode.max()) + 1 if len(clcode) else 0
            uc = []
            for j in range(p):
                a = np.zeros(ncl, dtype=np.int64)
                np.add.at(
                    a, clcode,
                    w * round_half_up(u[j] * nano).astype(np.int64),
                )
                uc.append(a)
            for j in range(p):
                for k in range(j, p):
                    term = (uc[j] / nano) * (uc[k] / nano)
                    meat[j, k] = meat[k, j] = (
                        round_half_up(term * nano)
                        .astype(np.int64)
                        .sum()
                        / 1e9
                    )
        else:
            for j in range(p):
                for k in range(j, p):
                    term = u[j] * u[k]
                    meat[j, k] = meat[k, j] = (
                        (
                            w
                            * round_half_up(term * nano).astype(
                                np.int64
                            )
                        ).sum()
                        / 1e9
                    )
    bread = np.linalg.inv(info)
    cov_r = bread @ meat @ bread
    se_model = [
        round(float(np.sqrt(bread[j, j])), 9) for j in range(p)
    ]
    se_robust = [
        round(float(np.sqrt(max(cov_r[j, j], 0.0))), 9)
        for j in range(p)
    ]
    return se_model, se_robust


def cox_ph_robust(
    df: DataFrame,
    feature_cols: Sequence[str],
    duration_col: str = "duration",
    event_col: str = "event",
    cluster_col: str | None = None,
    iters: int = 8,
    strata_cols: Sequence[str] | None = None,
) -> tuple[list[float], list[float], list[float]]:
    """Lin-Wei (1989) robust sandwich standard errors for the Cox
    model — the SE every registry analysis reports when observations
    are correlated (patients within hospitals, recurrent events within
    patients) or the proportional-hazards model is misspecified.
    Returns ``(beta, se_model, se_robust)``.

    Fits β by :func:`cox_ph` (Breslow ties), then one extra bounded
    pass builds the sandwich V = I⁻¹ M I⁻¹ from SCORE RESIDUALS. The
    per-subject score residual has the closed martingale form

        U_i = δ_i·(x_i − x̄(T_i)) − r_i·(x_i·Λ₀(T_i) − G(T_i)),

    with r_i = exp(x_iβ), x̄(t) = S1(t)/S0(t), Λ₀(t) = Σ_{s≤t} d_s/S0(s)
    (Breslow), and G_j(t) = Σ_{s≤t} d_s·S1_j(s)/S0(s)² — i.e. U_i
    depends on subject i ONLY through (x_i, T_i, δ_i) plus two
    cumulative curves over the duration axis. That makes the whole
    computation cell-collapsible, the same shape the cox_ph lattice
    already uses:

      1. one hash aggregate collapses subjects to per-duration risk
         cells (d_t and the nano-rounded exp(xβ) moments a0/a1/a2 —
         identical lattice to cox_ph's scoring pass), which also
         yields the model information matrix I at the final β;
      2. ONE multi-column ``global_prefix_sum`` turns the cells into
         risk-set suffix sums, a second one turns the per-time
         increments dΛ₀ and dG_j (nano-rounded longs) into the
         INCLUSIVE cumulative curves — #distinct-durations rows;
      3. subjects collapse to per-(x-pattern, T, δ[, cluster]) cells
         (count n), broadcast-join the curve at their own duration,
         and fold the meat matrix M = Σ U Uᵀ: without ``cluster_col``
         each cell contributes n·U_cell U_cellᵀ (U is constant within
         a cell); with ``cluster_col`` the residuals first sum WITHIN
         cluster (Σ_c (Σ_{i∈c} U_i)(Σ_{i∈c} U_i)ᵀ — the grouped
         Lin-Wei estimator), one keyed aggregate each way.

    Every distributed sum is an exact long sum of per-cell nano
    roundings, so the result is bit-identical under any partitioning
    (pinned 1-vs-32 partitions). The driver holds β, I, and M (p×p).
    Under independent sampling se_robust is consistent for the same
    limit as se_model; the independence reduction is pinned in tests
    against ``cox_ph(..., return_se=True)``.

    ``strata_cols``: the STRATIFIED sandwich — β comes from the
    stratified ``cox_ph``, cells/risk-set scans/cumulative curves all
    form within strata (``grouped_prefix_sum``), the score residual
    uses the subject's own stratum's x̄/Λ₀/G, and the information and
    meat pool across strata (the stratified partial likelihood and
    score are plain sums of per-stratum terms). With a constant
    stratum the result is bit-equal to the unstratified sandwich
    (pinned in tests).
    """
    import numpy as np

    feats = list(feature_cols)
    p = len(feats)
    strata = list(strata_cols) if strata_cols else []
    # r10: pin the narrow projection once for the fit AND the sandwich
    # passes (cox_ph pins its own sub-projection; this keeps the extra
    # robust passes off the upstream plan too)
    df = df.select(
        *dict.fromkeys(
            strata
            + feats
            + [duration_col, event_col]
            + ([cluster_col] if cluster_col else [])
        )
    ).localCheckpoint(eager=False)
    beta = cox_ph(
        df, feats, duration_col, event_col, iters=iters,
        ties="breslow", strata_cols=strata or None,
    )

    # r11 driver-solve fast path (driverfit.py): the sandwich needs
    # only (strata, x-pattern, duration, event[, cluster]) cells —
    # when bounded, ALL the passes below (risk cells, suffix sums,
    # curve increments/cumulatives, score residuals, meat fold) run
    # in numpy on the identical lattice, bit-identical to the
    # distributed passes (pinned in tests/test_driverfit.py). Null
    # strata/cluster keys fall back (Spark's null-key join/group
    # semantics differ from positional indexing).
    _proj = df.select(
        *[F.col(c).alias(f"_g{i}") for i, c in enumerate(strata)],
        *[
            F.col(c).cast("double").alias(f"_x{j}")
            for j, c in enumerate(feats)
        ],
        F.col(duration_col).cast("double").alias("_t"),
        F.col(event_col).cast("long").alias("_d"),
        *(
            [F.col(cluster_col).alias("_cl")]
            if cluster_col
            else []
        ),
    )
    _pdfc = collect_cells(
        _proj,
        _proj.columns,
        [f"_x{j}" for j in range(p)] + ["_t"],
        ["_d"]
        + [f"_g{i}" for i in range(len(strata))]
        + (["_cl"] if cluster_col else []),
    )
    if _pdfc is not None and len(_pdfc) > 0:
        se_model, se_robust = _cox_robust_driver(
            _pdfc, p, len(strata), beta, cluster_col is not None
        )
        return beta, se_model, se_robust

    nano = F.lit(1000000000.0)

    xb = F.lit(0.0)
    for j, c in enumerate(feats):
        xb = xb + F.lit(beta[j]) * F.col(c).cast("double")
    r = F.exp(xb)
    ev = F.col(event_col).cast("long")

    aggs = [
        F.sum(ev).alias("d_t"),
        F.sum(F.round(r * nano, 0).cast("long")).alias("a0"),
    ]
    for j, c in enumerate(feats):
        x = F.col(c).cast("double")
        aggs.append(
            F.sum(F.round(r * x * nano, 0).cast("long")).alias(f"a1_{j}")
        )
    for j in range(p):
        for k in range(j, p):
            xj = F.col(feats[j]).cast("double")
            xk = F.col(feats[k]).cast("double")
            aggs.append(
                F.sum(
                    F.round(r * xj * xk * nano, 0).cast("long")
                ).alias(f"a2_{j}_{k}")
            )
    cells = df.groupBy(*strata, duration_col).agg(*aggs)
    vcols = (
        ["a0"]
        + [f"a1_{j}" for j in range(p)]
        + [f"a2_{j}_{k}" for j in range(p) for k in range(j, p)]
    )
    if strata:
        pre = grouped_prefix_sum(
            cells, strata, duration_col, vcols,
            [f"_pre_{v}" for v in vcols],
            totals_alias=[f"_tot_{v}" for v in vcols],
        )
    else:
        pre = global_prefix_sum(
            cells, duration_col, vcols, [f"_pre_{v}" for v in vcols],
            totals_alias=[f"_tot_{v}" for v in vcols],
        )

    def suffix(v):
        return F.col(f"_tot_{v}") - F.col(f"_pre_{v}")

    s0 = suffix("a0")
    d_t = F.col("d_t")

    # model information at the final β (same form as cox_ph's scoring)
    info_aggs = []
    for j in range(p):
        for k in range(j, p):
            term = d_t * (
                suffix(f"a2_{j}_{k}") / s0
                - (suffix(f"a1_{j}") / s0) * (suffix(f"a1_{k}") / s0)
            )
            info_aggs.append(
                F.sum(
                    F.when(
                        d_t > 0, F.round(term * nano, 0).cast("long")
                    ).otherwise(F.lit(0).cast("long"))
                ).alias(f"i{j}_{k}")
            )
    # per-time curve increments, nano-rounded longs for the exact
    # inclusive prefix sum: dΛ₀ = d_t/S0, dG_j = d_t·S1_j/S0²
    # (a-moments carry a factor nano: S0 = a0/nano, S1_j = a1_j/nano)
    s0d = s0.cast("double")
    inc_cols = [
        F.round(d_t.cast("double") * nano / s0d * nano, 0)
        .cast("long")
        .alias("_dh")
    ]
    for j in range(p):
        inc_cols.append(
            F.round(
                d_t.cast("double")
                * suffix(f"a1_{j}").cast("double")
                * nano
                / (s0d * s0d)
                * nano,
                0,
            )
            .cast("long")
            .alias(f"_dg{j}")
        )
    info_row = pre.agg(*info_aggs).collect()[0]
    curve = pre.select(
        *strata,
        duration_col,
        *[
            (suffix(f"a1_{j}") / s0).alias(f"_xb{j}")
            for j in range(p)
        ],
        *inc_cols,
    )
    if strata:
        curve = grouped_prefix_sum(
            curve,
            strata,
            duration_col,
            ["_dh"] + [f"_dg{j}" for j in range(p)],
            ["_dh0"] + [f"_dg0{j}" for j in range(p)],
        )
    else:
        curve = global_prefix_sum(
            curve,
            duration_col,
            ["_dh"] + [f"_dg{j}" for j in range(p)],
            ["_dh0"] + [f"_dg0{j}" for j in range(p)],
        )
    curve = curve.select(
        *strata,
        duration_col,
        *[f"_xb{j}" for j in range(p)],
        ((F.col("_dh0") + F.col("_dh")) / nano).alias("_H0"),
        *[
            ((F.col(f"_dg0{j}") + F.col(f"_dg{j}")) / nano).alias(
                f"_G{j}"
            )
            for j in range(p)
        ],
    )

    keys = strata + feats + [duration_col, event_col] + (
        [cluster_col] if cluster_col else []
    )
    subj = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    joined = subj.join(F.broadcast(curve), strata + [duration_col])
    u_cols = []
    for j in range(p):
        x = F.col(feats[j]).cast("double")
        u = F.col(event_col).cast("double") * (
            x - F.col(f"_xb{j}")
        ) - r * (x * F.col("_H0") - F.col(f"_G{j}"))
        u_cols.append(u.alias(f"_u{j}"))
    joined = joined.select("_n", *u_cols, *(
        [cluster_col] if cluster_col else []
    ))

    meat_aggs = []
    if cluster_col:
        percl = joined.groupBy(cluster_col).agg(
            *[
                F.sum(
                    F.col("_n")
                    * F.round(F.col(f"_u{j}") * nano, 0).cast("long")
                ).alias(f"_uc{j}")
                for j in range(p)
            ]
        )
        for j in range(p):
            for k in range(j, p):
                term = (F.col(f"_uc{j}") / nano) * (
                    F.col(f"_uc{k}") / nano
                )
                meat_aggs.append(
                    F.sum(F.round(term * nano, 0).cast("long")).alias(
                        f"m{j}_{k}"
                    )
                )
        mrow = percl.agg(*meat_aggs).collect()[0]
    else:
        for j in range(p):
            for k in range(j, p):
                term = F.col(f"_u{j}") * F.col(f"_u{k}")
                meat_aggs.append(
                    F.sum(
                        F.col("_n")
                        * F.round(term * nano, 0).cast("long")
                    ).alias(f"m{j}_{k}")
                )
        mrow = joined.agg(*meat_aggs).collect()[0]

    info = np.zeros((p, p))
    meat = np.zeros((p, p))
    for j in range(p):
        for k in range(j, p):
            info[j, k] = info[k, j] = info_row[f"i{j}_{k}"] / 1e9
            meat[j, k] = meat[k, j] = mrow[f"m{j}_{k}"] / 1e9
    bread = np.linalg.inv(info)
    cov_r = bread @ meat @ bread
    se_model = [round(float(np.sqrt(bread[j, j])), 9) for j in range(p)]
    se_robust = [
        round(float(np.sqrt(max(cov_r[j, j], 0.0))), 9) for j in range(p)
    ]
    return beta, se_model, se_robust


def _fg_censoring_base(
    df: DataFrame,
    duration_col: str,
    cause_col: str,
    strata: Sequence[str],
) -> DataFrame:
    """Attach the per-subject censoring-KM left limit ``_lng_left`` =
    micro-lattice lnG(T_i−) (per stratum when stratified) — the
    beta-free half of the Fine-Gray machinery, shared by the fit and
    the robust-variance pass."""
    is_cen = (F.col(cause_col).cast("long") == 0).cast("long")
    gcells = df.groupBy(*strata, duration_col).agg(
        F.sum(is_cen).alias("_c"),
        F.count(F.lit(1)).alias("_rm"),
    )
    if strata:
        gcells = grouped_prefix_sum(
            gcells, list(strata), duration_col, ["_rm"], ["_rm_before"],
            totals_alias="_n_all",
        )
    else:
        gcells = global_prefix_sum(
            gcells, duration_col, ["_rm"], ["_rm_before"],
            totals_alias="_n_all",
        )
    n_at = F.col("_n_all") - F.col("_rm_before")
    cterm = F.when(
        (F.col("_c") > 0) & (F.col("_c") < n_at),
        _micro(F.log(F.lit(1.0) - F.col("_c") / n_at)),
    ).otherwise(F.lit(0).cast("long"))
    gcells = gcells.withColumn("_g_term", cterm)
    # lnG(t-) excludes the term AT t -> exclusive prefix
    if strata:
        gtab = grouped_prefix_sum(
            gcells.select(*strata, duration_col, "_g_term"),
            list(strata),
            duration_col,
            ["_g_term"],
            ["_lng_before"],
        ).select(
            *[F.col(k).alias(f"_cg_{i}") for i, k in enumerate(strata)],
            F.col(duration_col).alias("_cg_t"),
            F.col("_lng_before").alias("_lng_left"),
        )
        # null-safe join: a NULL stratum is a real stratum to groupBy
        # and grouped_prefix_sum (and to the driver twin), so its
        # subjects must keep their own lnG(t-)
        cond = F.col(duration_col) == F.col("_cg_t")
        for i, k in enumerate(strata):
            cond = cond & F.col(k).eqNullSafe(F.col(f"_cg_{i}"))
        return (
            df.join(F.broadcast(gtab), cond, "left")
            .drop(*[f"_cg_{i}" for i in range(len(strata))], "_cg_t")
            .fillna({"_lng_left": 0})
        )
    gtab = global_prefix_sum(
        gcells.select(duration_col, "_g_term"),
        duration_col,
        ["_g_term"],
        ["_lng_before"],
    ).select(
        duration_col, F.col("_lng_before").alias("_lng_left")
    )
    # per-subject lnG(T_i-) for the competing mass
    return df.join(F.broadcast(gtab), duration_col, "left").fillna(
        {"_lng_left": 0}
    )


def _fg_driver_arrays(cells, p, n_strat):
    """Sorted arrays + segmentation + the censoring-KM micro-lattice
    lnG(t−) per cell — the ``_fg_censoring_base`` twin. Returns
    (w, cs, t, xs, lngl, gstarts, cell_group, by_group, suffix,
    prefix)."""
    import numpy as np

    w = cells["_w"].to_numpy().astype(np.int64)
    cs = cells["_cs"].to_numpy().astype(np.int64)
    t = cells["_t"].to_numpy().astype(np.float64)
    xs = [
        cells[f"_x{j}"].to_numpy().astype(np.float64) for j in range(p)
    ]
    if n_strat:
        scode = (
            cells.groupby(
                [f"_g{i}" for i in range(n_strat)],
                sort=True,
                dropna=False,
            )
            .ngroup()
            .to_numpy()
        )
    else:
        scode = np.zeros(len(cells), dtype=np.int64)
    order = np.lexsort((t, scode))
    w, cs, t, scode = w[order], cs[order], t[order], scode[order]
    xs = [x[order] for x in xs]

    new_g = np.ones(len(t), dtype=bool)
    if len(t) > 1:
        new_g[1:] = (t[1:] != t[:-1]) | (scode[1:] != scode[:-1])
    gstarts = np.flatnonzero(new_g)
    cell_group = np.cumsum(new_g) - 1
    g_s = scode[gstarts]
    new_s = np.ones(len(gstarts), dtype=bool)
    if len(gstarts) > 1:
        new_s[1:] = g_s[1:] != g_s[:-1]
    sstarts = np.flatnonzero(new_s)
    seg_len = np.diff(np.append(sstarts, len(gstarts)))

    def by_group(v):
        return np.add.reduceat(v, gstarts)

    def prefix(gv):
        # per-stratum EXCLUSIVE prefix, exact int64
        pre = np.cumsum(gv)
        pre = np.concatenate(([np.int64(0)], pre[:-1]))
        return pre - np.repeat(pre[sstarts], seg_len)

    def suffix(gv):
        tot = np.repeat(np.add.reduceat(gv, sstarts), seg_len)
        return tot - prefix(gv)

    # censoring KM on the micro log-lattice (the _fg_censoring_base
    # twin): c/n from the removal prefix, term = round(ln(1-c/n)*1e6),
    # lnG(t-) = per-stratum exclusive prefix of the terms
    c_g = by_group(w * (cs == 0))
    rm_g = by_group(w)
    n_at = suffix(rm_g)
    with np.errstate(divide="ignore", invalid="ignore"):
        raw = np.log(
            1.0 - c_g.astype(np.float64) / n_at.astype(np.float64)
        )
    cterm = np.where(
        (c_g > 0) & (c_g < n_at),
        round_half_up(
            np.where((c_g > 0) & (c_g < n_at), raw, 0.0) * 1e6
        ).astype(np.int64),
        np.int64(0),
    )
    lng_g = prefix(cterm)
    lngl = lng_g[cell_group]
    return (
        w,
        cs,
        t,
        xs,
        lngl,
        gstarts,
        cell_group,
        by_group,
        suffix,
        prefix,
        order,
    )


def _fg_driver_moments(w, cs, xs, lngl, beta, p, by_group):
    """One iteration's per-(stratum, duration) moment cells at β —
    transliterated from the fine_gray fold (per-subject nano
    roundings × cell count, exact int64 sums)."""
    import numpy as np

    nano = 1e9
    is_ev = (cs == 1).astype(np.int64)
    is_cmp = (cs == 2).astype(np.int64)
    xb = np.zeros(len(cs))
    for j in range(p):
        xb = xb + beta[j] * xs[j]
    r = np.exp(xb)
    rw = r * np.exp((-lngl) / 1e6)
    m = {
        "d": by_group(w * is_ev),
        "a0": by_group(round_half_up(r * nano).astype(np.int64) * w),
        "c0": by_group(
            is_cmp * round_half_up(rw * nano).astype(np.int64) * w
        ),
    }
    for j in range(p):
        m[f"s{j}"] = by_group(
            is_ev * round_half_up(xs[j] * nano).astype(np.int64) * w
        )
        m[f"a1_{j}"] = by_group(
            round_half_up(r * xs[j] * nano).astype(np.int64) * w
        )
        m[f"c1_{j}"] = by_group(
            is_cmp * round_half_up(rw * xs[j] * nano).astype(np.int64) * w
        )
    for j in range(p):
        for k in range(j, p):
            m[f"a2_{j}_{k}"] = by_group(
                round_half_up(r * xs[j] * xs[k] * nano).astype(np.int64) * w
            )
            m[f"c2_{j}_{k}"] = by_group(
                is_cmp
                * round_half_up(rw * xs[j] * xs[k] * nano).astype(np.int64)
                * w
            )
    return m


def _fg_driver_fit(cells, p, n_strat, iters):
    """numpy twin of the ``fine_gray`` Newton loop over collected
    cells — bit-identical to the distributed fold (pinned in tests).
    Returns (beta, info)."""
    import numpy as np

    (
        w,
        cs,
        t,
        xs,
        lngl,
        gstarts,
        cell_group,
        by_group,
        suffix,
        prefix,
        _order,
    ) = _fg_driver_arrays(cells, p, n_strat)
    lng_g = lngl[gstarts]
    gleft = np.exp(lng_g / 1e6)
    nano = 1e9
    beta = [0.0] * p
    info = None
    for _ in range(iters):
        m = _fg_driver_moments(w, cs, xs, lngl, beta, p, by_group)

        def eff(a, c):
            return suffix(m[a]).astype(np.float64) + gleft * prefix(
                m[c]
            ).astype(np.float64)

        s0 = eff("a0", "c0")
        d_g = m["d"]
        ev = d_g > 0
        dt = d_g.astype(np.float64)
        gsum = np.zeros(p)
        isum = np.zeros((p, p))
        for j in range(p):
            term = m[f"s{j}"].astype(np.float64) / nano - dt * (
                eff(f"a1_{j}", f"c1_{j}") / s0
            )
            gsum[j] = (
                round_half_up(term[ev] * nano).astype(np.int64).sum() / 1e9
            )
        for j in range(p):
            for k in range(j, p):
                term = dt * (
                    eff(f"a2_{j}_{k}", f"c2_{j}_{k}") / s0
                    - (eff(f"a1_{j}", f"c1_{j}") / s0)
                    * (eff(f"a1_{k}", f"c1_{k}") / s0)
                )
                isum[j, k] = isum[k, j] = (
                    round_half_up(term[ev] * nano).astype(np.int64).sum()
                    / 1e9
                )
        info = isum
        step = np.linalg.solve(info, gsum)
        beta = [round(b + s, 9) for b, s in zip(beta, step)]
    return beta, info


def _fg_robust_driver(cells, p, iters, has_cluster):
    """numpy twin of the whole ``fine_gray_robust`` pipeline over ONE
    collected (x-pattern, duration, cause[, cluster]) cell frame: the
    Newton fit, the at-β̂ information, the per-time A/Ã/B/B̃ score
    curves and the per-cell (clustered) score-residual meat fold —
    every rounding and float op transliterated from the distributed
    passes (pinned in tests). Returns (beta, se_model, se_robust)."""
    import numpy as np

    (
        w,
        cs,
        t,
        xs,
        lngl,
        gstarts,
        cell_group,
        by_group,
        suffix,
        prefix,
        order,
    ) = _fg_driver_arrays(cells, p, 0)
    lng_g = lngl[gstarts]
    gleft = np.exp(lng_g / 1e6)
    nano = 1e9

    # ---- Newton fit (the fine_gray loop at this granularity —
    # group sums are additive over the finer cluster-split cells)
    beta = [0.0] * p
    for _ in range(iters):
        m = _fg_driver_moments(w, cs, xs, lngl, beta, p, by_group)

        def eff(a, c, m=m):
            return suffix(m[a]).astype(np.float64) + gleft * prefix(
                m[c]
            ).astype(np.float64)

        s0 = eff("a0", "c0")
        d_g = m["d"]
        ev = d_g > 0
        dt = d_g.astype(np.float64)
        gsum = np.zeros(p)
        isum = np.zeros((p, p))
        for j in range(p):
            term = m[f"s{j}"].astype(np.float64) / nano - dt * (
                eff(f"a1_{j}", f"c1_{j}") / s0
            )
            gsum[j] = (
                round_half_up(term[ev] * nano).astype(np.int64).sum() / 1e9
            )
        for j in range(p):
            for k in range(j, p):
                term = dt * (
                    eff(f"a2_{j}_{k}", f"c2_{j}_{k}") / s0
                    - (eff(f"a1_{j}", f"c1_{j}") / s0)
                    * (eff(f"a1_{k}", f"c1_{k}") / s0)
                )
                isum[j, k] = isum[k, j] = (
                    round_half_up(term[ev] * nano).astype(np.int64).sum()
                    / 1e9
                )
        step = np.linalg.solve(isum, gsum)
        beta = [round(b + s, 9) for b, s in zip(beta, step)]

    # ---- moments and information AT the final β
    m = _fg_driver_moments(w, cs, xs, lngl, beta, p, by_group)

    def eff(a, c):
        return suffix(m[a]).astype(np.float64) + gleft * prefix(
            m[c]
        ).astype(np.float64)

    s0 = eff("a0", "c0")
    d_g = m["d"]
    ev = d_g > 0
    dt = d_g.astype(np.float64)
    info = np.zeros((p, p))
    for j in range(p):
        for k in range(j, p):
            term = dt * (
                eff(f"a2_{j}_{k}", f"c2_{j}_{k}") / s0
                - (eff(f"a1_{j}", f"c1_{j}") / s0)
                * (eff(f"a1_{k}", f"c1_{k}") / s0)
            )
            info[j, k] = info[k, j] = (
                round_half_up(term[ev] * nano).astype(np.int64).sum() / 1e9
            )

    # ---- per-time increments on the nano lattice + prefix/tails
    da = round_half_up(dt * nano / s0 * nano).astype(np.int64)
    dat = round_half_up(gleft * dt * nano / s0 * nano).astype(np.int64)
    e1s = [eff(f"a1_{j}", f"c1_{j}") for j in range(p)]
    db = [
        round_half_up(dt * e1s[j] * nano / (s0 * s0) * nano).astype(np.int64)
        for j in range(p)
    ]
    dbt = [
        round_half_up(
            gleft * dt * e1s[j] * nano / (s0 * s0) * nano
        ).astype(np.int64)
        for j in range(p)
    ]
    xb_g = [e1s[j] / s0 for j in range(p)]

    def excl(v):
        pre = np.cumsum(v)
        return np.concatenate(([np.int64(0)], pre[:-1]))

    A_g = (excl(da) + da) / nano
    At_g = (dat.sum() - (excl(dat) + dat)) / nano
    B_g = [(excl(db[j]) + db[j]) / nano for j in range(p)]
    Bt_g = [
        (dbt[j].sum() - (excl(dbt[j]) + dbt[j])) / nano
        for j in range(p)
    ]

    # ---- per-cell score residuals at β̂
    is_ev_d = (cs == 1).astype(np.float64)
    is_cmp_d = (cs == 2).astype(np.float64)
    xbv = np.zeros(len(cs))
    for j in range(p):
        xbv = xbv + beta[j] * xs[j]
    r = np.exp(xbv)
    rwj = r * np.exp((-lngl) / 1e6)
    cg = cell_group
    u = []
    for j in range(p):
        u.append(
            is_ev_d * (xs[j] - xb_g[j][cg])
            - r * (xs[j] * A_g[cg] - B_g[j][cg])
            - is_cmp_d * rwj * (xs[j] * At_g[cg] - Bt_g[j][cg])
        )

    meat = np.zeros((p, p))
    if has_cluster:
        cl = cells["_cl"].iloc[order]
        codes = cl.to_frame().groupby("_cl", dropna=False).ngroup()
        codes = codes.to_numpy()
        ncl = int(codes.max()) + 1 if len(codes) else 0
        uc = []
        for j in range(p):
            acc = np.zeros(ncl, dtype=np.int64)
            np.add.at(
                acc, codes, w * round_half_up(u[j] * nano).astype(np.int64)
            )
            uc.append(acc)
        for j in range(p):
            for k in range(j, p):
                term = (uc[j] / nano) * (uc[k] / nano)
                meat[j, k] = meat[k, j] = (
                    round_half_up(term * nano).astype(np.int64).sum() / 1e9
                )
    else:
        for j in range(p):
            for k in range(j, p):
                meat[j, k] = meat[k, j] = (
                    (
                        w
                        * round_half_up(u[j] * u[k] * nano).astype(np.int64)
                    ).sum()
                    / 1e9
                )

    bread = np.linalg.inv(info)
    cov_r = bread @ meat @ bread
    se_model = [round(float(np.sqrt(bread[j, j])), 9) for j in range(p)]
    se_robust = [
        round(float(np.sqrt(max(cov_r[j, j], 0.0))), 9)
        for j in range(p)
    ]
    return beta, se_model, se_robust


def fine_gray(
    df: DataFrame,
    feature_cols: Sequence[str],
    duration_col: str = "duration",
    cause_col: str = "cause",
    iters: int = 8,
    return_se: bool = False,
    strata_cols: Sequence[str] | None = None,
):
    """Fine-Gray SUBDISTRIBUTION-hazard regression (Fine & Gray 1999)
    — the competing-risks companion to ``cox_ph``: β models the hazard
    of the SUBDISTRIBUTION for cause 1, so exp(β) speaks directly to
    the cumulative incidence (what fraction will have had the event by
    t), not the cause-specific hazard among the currently alive.
    ``cause_col``: 0 = censored, 1 = event of interest, 2 = competing
    event. Returns [β_1, ..., β_p]; with ``return_se=True`` returns
    (β, se).

    SE convention — same as ``cox_ph``: se_j = √[(I⁻¹)_jj] from the
    FINAL Newton iteration's information matrix of the weighted
    partial likelihood (evaluated at the penultimate iterate; at 9-dp
    convergence the difference is far below the rounding — zero extra
    passes). This is the MODEL-BASED Wald SE: it treats the IPCW
    weights G(·) as known. Fine & Gray's full sandwich variance also
    carries the censoring-KM estimation term; the model-based form is
    what it degenerates to under no/administrative censoring and is
    mildly conservative-to-anticonservative otherwise — documented so
    the published sHR [95% CI] states its convention, exactly as the
    cox_ph HR artifact does.

    The estimator is a weighted Cox partial likelihood where subjects
    with a COMPETING event at T_i stay in the risk set forever with
    the IPCW weight w_i(t) = G(t−)/G(T_i−) (G = Kaplan-Meier of the
    censoring distribution, left limits). The key to a distributed
    exact implementation is that the weight SEPARATES:

        Σ_{competing, T_i < t} w_i(t)·r_i·x_i
            = G(t−) · Σ_{competing, T_i < t} r_i·x_i / G(T_i−)

    so every risk-moment at event time t is
    ``suffix(a·) + G(t−) · strict_prefix(c·)`` — the normal still-
    at-risk suffix sums plus G(t−) times a prefix sum of competing
    mass pre-divided by each subject's own G(T_i−). Both G and the
    ratios live on the micro log-lattice (G(t−) = exp(Σ_{s<t}
    ⌊ln(1−c_s/n_s)·1e6⌉ / 1e6)), every per-subject moment is
    nano-rounded before summing, and the whole fit is therefore
    BIT-IDENTICAL under any partitioning — the cox_ph contract.

    Scale shape per iteration: ONE per-duration cell aggregate (which
    also carries the censoring counts that define G), ONE multi-column
    ``global_prefix_sum`` over the duration axis for the at-risk
    suffixes, the strict competing-mass prefixes AND the lnG prefix
    together, then a scalar gradient/information aggregate. Nothing
    ever windows raw rows; the driver sees p + p(p+1)/2 numbers.
    Breslow tie handling on the subdistribution risk set.

    ``strata_cols``: STRATIFIED Fine-Gray — each stratum keeps its own
    unmodelled baseline SUBDISTRIBUTION hazard AND its own censoring
    KM G_s(·) (risk sets, weights, and prefix scans all form within
    strata) while β is shared: the registry adjustment for
    center/region when proportional subdistribution hazards across
    the stratifier are implausible. Cells become per-(stratum,
    duration); every prefix scan runs per stratum via
    ``grouped_prefix_sum``; the gradient/information pooling is
    unchanged because the stratified weighted partial likelihood is a
    plain sum of per-stratum terms. With a constant stratum the fit
    is bit-equal to the unstratified one (pinned in tests).
    """
    import numpy as np

    feats = list(feature_cols)
    p = len(feats)
    strata = list(strata_cols) if strata_cols else []
    beta = [0.0] * p
    nano = F.lit(1000000000.0)
    micro = F.lit(1000000.0)

    cause = F.col(cause_col).cast("long")
    is_ev = (cause == 1).cast("long")
    is_cen = (cause == 0).cast("long")
    is_cmp = (cause == 2).cast("long")

    # r10 driver-solve fast path (driverfit.py): bounded (strata,
    # x-pattern, duration, cause) cells — censoring-KM lnG twin + the
    # whole Newton loop on the driver; bit-identical to the
    # distributed fold below (pinned in tests). Null/non-finite
    # features or durations and null causes fall back.
    _proj = df.select(
        *[F.col(c).alias(f"_g{i}") for i, c in enumerate(strata)],
        *[
            F.col(c).cast("double").alias(f"_x{j}")
            for j, c in enumerate(feats)
        ],
        F.col(duration_col).cast("double").alias("_t"),
        F.col(cause_col).cast("long").alias("_cs"),
    )
    _pdfc = collect_cells(
        _proj,
        _proj.columns,
        [f"_x{j}" for j in range(p)] + ["_t"],
        ["_cs"],
    )
    if _pdfc is not None:
        if len(_pdfc) == 0:
            raise ValueError("fine_gray: empty input")
        beta, info = _fg_driver_fit(_pdfc, p, len(strata), iters)
        if return_se:
            cov = np.linalg.inv(info)
            se = [
                round(float(np.sqrt(cov[j, j])), 9) for j in range(p)
            ]
            return beta, se
        return beta

    # ---- censoring KM G(t-) on the micro log-lattice (beta-free:
    # computed once, reused every iteration; per stratum when
    # stratified) ----
    # r10: pin the narrow joined base once — otherwise every Newton
    # iteration re-derives the upstream cohort plan AND re-broadcasts
    # the censoring table (guide §5 caching rule). Lazy: the first
    # iteration's job materializes it.
    base = _fg_censoring_base(
        df.select(
            *dict.fromkeys(
                strata + feats + [duration_col, cause_col]
            )
        ),
        duration_col,
        cause_col,
        strata,
    ).localCheckpoint(eager=False)

    for _ in range(iters):
        xb = F.lit(0.0)
        for j, c in enumerate(feats):
            xb = xb + F.lit(beta[j]) * F.col(c).cast("double")
        r = F.exp(xb)
        # competing mass pre-divided by G(T_i-)
        rw = r * F.exp(-F.col("_lng_left") / micro)
        aggs = [
            F.sum(is_ev).alias("d_t"),
            F.max("_lng_left").alias("_lng"),
            F.sum(F.round(r * nano, 0).cast("long")).alias("a0"),
            F.sum(is_cmp * F.round(rw * nano, 0).cast("long")).alias("c0"),
        ]
        for j, c in enumerate(feats):
            x = F.col(c).cast("double")
            aggs.append(
                F.sum(is_ev * F.round(x * nano, 0).cast("long")).alias(
                    f"s{j}"
                )
            )
            aggs.append(
                F.sum(F.round(r * x * nano, 0).cast("long")).alias(
                    f"a1_{j}"
                )
            )
            aggs.append(
                F.sum(
                    is_cmp * F.round(rw * x * nano, 0).cast("long")
                ).alias(f"c1_{j}")
            )
        for j in range(p):
            for k in range(j, p):
                xj = F.col(feats[j]).cast("double")
                xk = F.col(feats[k]).cast("double")
                aggs.append(
                    F.sum(
                        F.round(r * xj * xk * nano, 0).cast("long")
                    ).alias(f"a2_{j}_{k}")
                )
                aggs.append(
                    F.sum(
                        is_cmp
                        * F.round(rw * xj * xk * nano, 0).cast("long")
                    ).alias(f"c2_{j}_{k}")
                )
        cells = base.groupBy(*strata, duration_col).agg(*aggs)

        acols = (
            ["a0"]
            + [f"a1_{j}" for j in range(p)]
            + [f"a2_{j}_{k}" for j in range(p) for k in range(j, p)]
        )
        ccols = (
            ["c0"]
            + [f"c1_{j}" for j in range(p)]
            + [f"c2_{j}_{k}" for j in range(p) for k in range(j, p)]
        )
        # r10: totals ride along with the prefix scan — no separate
        # full-pass `tot` aggregation + broadcast join per iteration
        # (only the a-side totals are consumed; the c-side constants
        # are never referenced downstream and cost nothing extra in
        # the same tiny carries window)
        if strata:
            pre = grouped_prefix_sum(
                cells,
                strata,
                duration_col,
                acols + ccols,
                [f"_pre_{v}" for v in acols + ccols],
                totals_alias=[f"_tot_{v}" for v in acols + ccols],
            )
        else:
            pre = global_prefix_sum(
                cells,
                duration_col,
                acols + ccols,
                [f"_pre_{v}" for v in acols + ccols],
                totals_alias=[f"_tot_{v}" for v in acols + ccols],
            )

        gleft = F.exp(F.col("_lng") / micro)

        def eff(a, c):
            # subdistribution risk mass at t: still-alive suffix plus
            # G(t-) x strict-prefix of weighted competing mass
            return (
                (F.col(f"_tot_{a}") - F.col(f"_pre_{a}"))
                + gleft * F.col(f"_pre_{c}")
            )

        s0 = eff("a0", "c0")
        d_t = F.col("d_t")
        out_aggs = []
        for j in range(p):
            term = (
                F.col(f"s{j}") / nano
                - d_t * (eff(f"a1_{j}", f"c1_{j}") / s0)
            )
            out_aggs.append(
                F.sum(
                    F.when(
                        d_t > 0, F.round(term * nano, 0).cast("long")
                    ).otherwise(F.lit(0).cast("long"))
                ).alias(f"g{j}")
            )
        for j in range(p):
            for k in range(j, p):
                term = d_t * (
                    eff(f"a2_{j}_{k}", f"c2_{j}_{k}") / s0
                    - (eff(f"a1_{j}", f"c1_{j}") / s0)
                    * (eff(f"a1_{k}", f"c1_{k}") / s0)
                )
                out_aggs.append(
                    F.sum(
                        F.when(
                            d_t > 0,
                            F.round(term * nano, 0).cast("long"),
                        ).otherwise(F.lit(0).cast("long"))
                    ).alias(f"i{j}_{k}")
                )
        row = pre.agg(*out_aggs).collect()[0]
        if row["g0"] is None:  # no cells: every sum is null
            raise ValueError("fine_gray: empty input")
        g = np.array([row[f"g{j}"] / 1e9 for j in range(p)])
        info = np.zeros((p, p))
        for j in range(p):
            for k in range(j, p):
                info[j, k] = info[k, j] = row[f"i{j}_{k}"] / 1e9
        step = np.linalg.solve(info, g)
        beta = [round(b + s, 9) for b, s in zip(beta, step)]
    if return_se:
        cov = np.linalg.inv(info)
        se = [round(float(np.sqrt(cov[j, j])), 9) for j in range(p)]
        return beta, se
    return beta


def fine_gray_robust(
    df: DataFrame,
    feature_cols: Sequence[str],
    duration_col: str = "duration",
    cause_col: str = "cause",
    cluster_col: str | None = None,
    iters: int = 8,
) -> tuple[list[float], list[float], list[float]]:
    """Robust (sandwich) standard errors for Fine-Gray — the
    ``cox_ph_robust`` analog on the SUBDISTRIBUTION score. Returns
    ``(beta, se_model, se_robust)``.

    Convention (documented, same as ``fine_gray``'s SE note): the
    IPCW weights G(·) are treated as KNOWN — this is the Lin-Wei-form
    sandwich on the weighted score, which handles within-cluster
    correlation and model misspecification; Fine & Gray's full
    variance additionally carries the censoring-KM estimation term
    (second-order at registry censoring levels). The published sHR
    [95% CI] artifact states this convention.

    The weighted score residual has a closed two-curve form. With
    A(t) = Σ_{s≤t} d_s/S0(s), B_j(t) = Σ_{s≤t} d_s·S1_j(s)/S0(s)²
    over the SUBDISTRIBUTION masses S0/S1 = eff(a,c), and their
    G-weighted strict-tail twins Ã(t) = Σ_{s>t} G(s−)·d_s/S0(s),
    B̃_j(t) = Σ_{s>t} G(s−)·d_s·S1_j(s)/S0(s)²,

        U_i = 1{cause=1}·(x_i − x̄(T_i))
              − r_i·(x_i·A(T_i) − B(T_i))
              − 1{cause=2}·(r_i/G(T_i−))·(x_i·Ã(T_i) − B̃(T_i)),

    because a subject contributes weight 1 at event times ≤ T_i and —
    competing subjects only — weight G(t−)/G(T_i−) at event times
    beyond T_i. So U_i depends on i only through (x_i, T_i, cause_i):
    the same cell-collapsible shape as ``cox_ph_robust``. One cell
    aggregate at the final β (which also yields the model information
    I), TWO multi-column prefix passes (risk suffixes, then the
    inclusive/strict-tail curves — tail = total − inclusive), one
    per-(x-pattern, T, cause[, cluster]) meat fold; V = I⁻¹MI⁻¹.
    Exact long sums of per-cell nano roundings throughout —
    bit-identical under any partitioning (pinned 1-vs-32)."""
    import numpy as np

    feats = list(feature_cols)
    p = len(feats)
    # r10: pin the narrow projection once — shared by the fine_gray
    # fit (which pins its own joined base) and the sandwich passes
    df = df.select(
        *dict.fromkeys(
            feats
            + [duration_col, cause_col]
            + ([cluster_col] if cluster_col else [])
        )
    ).localCheckpoint(eager=False)

    # r10 driver-solve fast path (driverfit.py): ONE bounded cell
    # collect powers the fit, the at-β̂ information, the score curves
    # and the clustered meat fold — bit-identical to the distributed
    # passes below (pinned in tests). Screened as in fine_gray.
    _proj = df.select(
        *[
            F.col(c).cast("double").alias(f"_x{j}")
            for j, c in enumerate(feats)
        ],
        F.col(duration_col).cast("double").alias("_t"),
        F.col(cause_col).cast("long").alias("_cs"),
        *([F.col(cluster_col).alias("_cl")] if cluster_col else []),
    )
    _pdfc = collect_cells(
        _proj,
        _proj.columns,
        [f"_x{j}" for j in range(p)] + ["_t"],
        ["_cs"],
    )
    if _pdfc is not None:
        return _fg_robust_driver(
            _pdfc, p, iters, cluster_col is not None
        )

    beta, _ = fine_gray(
        df, feats, duration_col, cause_col, iters=iters, return_se=True
    )
    nano = F.lit(1000000000.0)
    micro = F.lit(1000000.0)
    base = _fg_censoring_base(
        df, duration_col, cause_col, []
    ).localCheckpoint(eager=False)

    cause = F.col(cause_col).cast("long")
    is_ev = (cause == 1).cast("long")
    is_cmp = (cause == 2).cast("long")
    xb = F.lit(0.0)
    for j, c in enumerate(feats):
        xb = xb + F.lit(beta[j]) * F.col(c).cast("double")
    r = F.exp(xb)
    rw = r * F.exp(-F.col("_lng_left") / micro)

    aggs = [
        F.sum(is_ev).alias("d_t"),
        F.max("_lng_left").alias("_lng"),
        F.sum(F.round(r * nano, 0).cast("long")).alias("a0"),
        F.sum(is_cmp * F.round(rw * nano, 0).cast("long")).alias("c0"),
    ]
    for j, c in enumerate(feats):
        x = F.col(c).cast("double")
        aggs.append(
            F.sum(F.round(r * x * nano, 0).cast("long")).alias(f"a1_{j}")
        )
        aggs.append(
            F.sum(
                is_cmp * F.round(rw * x * nano, 0).cast("long")
            ).alias(f"c1_{j}")
        )
    for j in range(p):
        for k in range(j, p):
            xj = F.col(feats[j]).cast("double")
            xk = F.col(feats[k]).cast("double")
            aggs.append(
                F.sum(
                    F.round(r * xj * xk * nano, 0).cast("long")
                ).alias(f"a2_{j}_{k}")
            )
            aggs.append(
                F.sum(
                    is_cmp * F.round(rw * xj * xk * nano, 0).cast("long")
                ).alias(f"c2_{j}_{k}")
            )
    cells = base.groupBy(duration_col).agg(*aggs)
    acols = (
        ["a0"]
        + [f"a1_{j}" for j in range(p)]
        + [f"a2_{j}_{k}" for j in range(p) for k in range(j, p)]
    )
    ccols = (
        ["c0"]
        + [f"c1_{j}" for j in range(p)]
        + [f"c2_{j}_{k}" for j in range(p) for k in range(j, p)]
    )
    pre = global_prefix_sum(
        cells,
        duration_col,
        acols + ccols,
        [f"_pre_{v}" for v in acols + ccols],
        totals_alias=[f"_tot_{v}" for v in acols + ccols],
    )

    gleft = F.exp(F.col("_lng") / micro)

    def eff(a, c):
        return (
            (F.col(f"_tot_{a}") - F.col(f"_pre_{a}"))
            + gleft * F.col(f"_pre_{c}")
        )

    s0 = eff("a0", "c0")
    d_t = F.col("d_t")

    info_aggs = []
    for j in range(p):
        for k in range(j, p):
            term = d_t * (
                eff(f"a2_{j}_{k}", f"c2_{j}_{k}") / s0
                - (eff(f"a1_{j}", f"c1_{j}") / s0)
                * (eff(f"a1_{k}", f"c1_{k}") / s0)
            )
            info_aggs.append(
                F.sum(
                    F.when(
                        d_t > 0, F.round(term * nano, 0).cast("long")
                    ).otherwise(F.lit(0).cast("long"))
                ).alias(f"i{j}_{k}")
            )
    info_row = pre.agg(*info_aggs).collect()[0]

    # per-time increments on the nano lattice (the a/c moments carry a
    # factor nano, so S0_true = s0/1e9 and the eff1 ratios cancel it)
    dtd = d_t.cast("double")
    inc_cols = [
        F.round(dtd * nano / s0 * nano, 0).cast("long").alias("_da"),
        F.round(gleft * dtd * nano / s0 * nano, 0)
        .cast("long")
        .alias("_dat"),
    ]
    for j in range(p):
        e1 = eff(f"a1_{j}", f"c1_{j}")
        inc_cols.append(
            F.round(dtd * e1 * nano / (s0 * s0) * nano, 0)
            .cast("long")
            .alias(f"_db{j}")
        )
        inc_cols.append(
            F.round(gleft * dtd * e1 * nano / (s0 * s0) * nano, 0)
            .cast("long")
            .alias(f"_dbt{j}")
        )
    curve = pre.select(
        duration_col,
        *[
            (eff(f"a1_{j}", f"c1_{j}") / s0).alias(f"_xb{j}")
            for j in range(p)
        ],
        *inc_cols,
    )
    icols = ["_da", "_dat"] + [
        c for j in range(p) for c in (f"_db{j}", f"_dbt{j}")
    ]
    ctot = curve.agg(
        *[F.sum(c).alias(f"_sum{c}") for c in ("_dat",)]
        + [F.sum(f"_dbt{j}").alias(f"_sum_dbt{j}") for j in range(p)]
    )
    curve = global_prefix_sum(
        curve, duration_col, icols, [f"{c}0" for c in icols]
    ).crossJoin(F.broadcast(ctot))
    curve = curve.select(
        duration_col,
        *[f"_xb{j}" for j in range(p)],
        ((F.col("_da0") + F.col("_da")) / nano).alias("_A"),
        # strict tail: total − inclusive prefix
        (
            (F.col("_sum_dat") - (F.col("_dat0") + F.col("_dat")))
            / nano
        ).alias("_At"),
        *[
            ((F.col(f"_db{j}0") + F.col(f"_db{j}")) / nano).alias(
                f"_B{j}"
            )
            for j in range(p)
        ],
        *[
            (
                (
                    F.col(f"_sum_dbt{j}")
                    - (F.col(f"_dbt{j}0") + F.col(f"_dbt{j}"))
                )
                / nano
            ).alias(f"_Bt{j}")
            for j in range(p)
        ],
    )

    keys = feats + [duration_col, cause_col] + (
        [cluster_col] if cluster_col else []
    )
    subj = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("_lng_left").alias("_lngl"),
    )
    joined = subj.join(F.broadcast(curve), duration_col)
    rwj = r * F.exp(-F.col("_lngl") / micro)
    u_cols = []
    for j in range(p):
        x = F.col(feats[j]).cast("double")
        u = (
            is_ev.cast("double") * (x - F.col(f"_xb{j}"))
            - r * (x * F.col("_A") - F.col(f"_B{j}"))
            - is_cmp.cast("double")
            * rwj
            * (x * F.col("_At") - F.col(f"_Bt{j}"))
        )
        u_cols.append(u.alias(f"_u{j}"))
    joined = joined.select(
        "_n", *u_cols, *([cluster_col] if cluster_col else [])
    )

    meat_aggs = []
    if cluster_col:
        percl = joined.groupBy(cluster_col).agg(
            *[
                F.sum(
                    F.col("_n")
                    * F.round(F.col(f"_u{j}") * nano, 0).cast("long")
                ).alias(f"_uc{j}")
                for j in range(p)
            ]
        )
        for j in range(p):
            for k in range(j, p):
                term = (F.col(f"_uc{j}") / nano) * (
                    F.col(f"_uc{k}") / nano
                )
                meat_aggs.append(
                    F.sum(F.round(term * nano, 0).cast("long")).alias(
                        f"m{j}_{k}"
                    )
                )
        mrow = percl.agg(*meat_aggs).collect()[0]
    else:
        for j in range(p):
            for k in range(j, p):
                term = F.col(f"_u{j}") * F.col(f"_u{k}")
                meat_aggs.append(
                    F.sum(
                        F.col("_n")
                        * F.round(term * nano, 0).cast("long")
                    ).alias(f"m{j}_{k}")
                )
        mrow = joined.agg(*meat_aggs).collect()[0]

    info = np.zeros((p, p))
    meat = np.zeros((p, p))
    for j in range(p):
        for k in range(j, p):
            info[j, k] = info[k, j] = info_row[f"i{j}_{k}"] / 1e9
            meat[j, k] = meat[k, j] = mrow[f"m{j}_{k}"] / 1e9
    bread = np.linalg.inv(info)
    cov_r = bread @ meat @ bread
    se_model = [round(float(np.sqrt(bread[j, j])), 9) for j in range(p)]
    se_robust = [
        round(float(np.sqrt(max(cov_r[j, j], 0.0))), 9) for j in range(p)
    ]
    return beta, se_model, se_robust


def cox_baseline_hazard(
    df: DataFrame,
    feature_cols: Sequence[str],
    beta: Sequence[float],
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Breslow baseline cumulative-hazard estimator at a fitted β —
    the prediction half of Cox regression: Ĥ₀(t) = Σ_{t'≤t} d_t' /
    S0(t') with S0 the risk-set mass Σ exp(xβ). Predicted survival
    for any covariate profile follows as S(t|x) = exp(−Ĥ₀(t)·e^{xβ}).

    At β = 0 the increments d_t/S0(t) reduce to d_t/n_t on the SAME
    micro lattice as ``km_curve``'s Nelson-Aalen column, so
    ``cum_hazard_baseline`` equals km_curve's ``cum_hazard``
    bit-exactly (pinned) — the estimator is the NA/Breslow identity
    with risk weights e^{xβ}.

    Scale shape: one per-duration cell aggregate (d_t + nano-rounded
    risk mass), one ``global_prefix_sum`` for the suffix S0 and a
    second for the inclusive Ĥ₀ accumulation — the frame is #distinct
    durations. Returns (duration, n_event, h0_increment,
    cum_hazard_baseline, survival_baseline).
    """
    feats = list(feature_cols)
    if len(beta) != len(feats):
        raise ValueError("beta length must match feature_cols")
    nano = F.lit(1000000000.0)
    xb = F.lit(0.0)
    for j, c in enumerate(feats):
        xb = xb + F.lit(float(beta[j])) * F.col(c).cast("double")
    r = F.exp(xb)
    ev = F.col(event_col).cast("long")
    cells = df.groupBy(duration_col).agg(
        F.sum(ev).alias("n_event"),
        F.sum(F.round(r * nano, 0).cast("long")).alias("a0"),
    )
    pre = global_prefix_sum(
        cells, duration_col, ["a0"], ["_pre_a0"], totals_alias="_tot_a0"
    )
    s0 = (F.col("_tot_a0") - F.col("_pre_a0")) / nano
    inc = F.when(
        F.col("n_event") > 0, _micro(F.col("n_event") / s0)
    ).otherwise(F.lit(0).cast("long"))
    pre = pre.withColumn("_inc", inc)
    pre = global_prefix_sum(pre, duration_col, ["_inc"], ["_h0_before"])
    h0 = (F.col("_h0_before") + F.col("_inc")) / F.lit(1000000.0)
    return pre.select(
        duration_col,
        "n_event",
        F.round(F.col("_inc") / F.lit(1000000.0), 6).alias(
            "h0_increment"
        ),
        F.round(h0, 6).alias("cum_hazard_baseline"),
        F.round(F.exp(-h0), 6).alias("survival_baseline"),
    )


def period_survival(
    df: DataFrame,
    group_cols: Sequence[str],
    window_start,
    window_end,
    diag_col: str = "diag_time",
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """PERIOD analysis (Brenner & Gefeller 1996) — the estimator
    registries use for UP-TO-DATE survival: instead of following an
    old diagnosis cohort to the horizon (whose early years reflect
    decades-old care), subjects contribute person-time ONLY while the
    calendar clock sits inside a recent window [window_start,
    window_end). On the time-since-diagnosis axis that is exactly a
    left-truncated, right-censored transform of each subject:

        entry'_i  = max(0, window_start − diag_i)
        exit'_i   = min(T_i, window_end − diag_i)
        event'_i  = event_i AND (T_i < window_end − diag_i)

    (subjects whose follow-up never intersects the window drop out),
    after which the estimator IS delayed-entry Kaplan-Meier —
    ``km_curve_left_truncated`` unchanged. Columns are integer times
    on a shared calendar clock: ``diag_col`` = diagnosis time,
    ``duration_col`` = observed time since diagnosis.

    Scale shape: a pure projection + filter feeding the delayed-entry
    KM's single union-cell aggregate; nothing new shuffles. Returns
    the ``km_curve_left_truncated`` grain.
    """
    ws = F.lit(int(window_start))
    we = F.lit(int(window_end))
    diag = F.col(diag_col).cast("long")
    dur = F.col(duration_col).cast("long")
    ev = F.col(event_col).cast("int")
    entry = F.greatest(F.lit(0).cast("long"), ws - diag)
    cap = we - diag
    exit_ = F.least(dur, cap)
    ev2 = F.when(dur < cap, ev).otherwise(F.lit(0)).alias("_ev")
    g = list(group_cols)
    transformed = (
        df.filter((diag < we) & (diag + dur >= ws))
        .select(
            *g,
            entry.alias("_entry"),
            exit_.alias("_exit"),
            ev2.alias("_event"),
        )
        .filter(F.col("_entry") < F.col("_exit"))
    )
    return km_curve_left_truncated(
        transformed, g, "_entry", "_exit", "_event"
    ).withColumnRenamed("_exit", duration_col)


def crude_probability_of_death(
    df: DataFrame,
    group_cols: Sequence[str],
    band_col: str,
    hazard_micro_by_band: dict,
    horizon: int,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Crude probability of death decomposition (Cronin & Feuer 2000)
    — the registry answer to "what fraction of these patients will
    actually die OF the cancer vs WITH it": in discrete intervals s,

        CP_cancer(h) = Σ_{s ≤ h} S_obs(s⁻) · (d_s/n_s − λ̄*_s)
        CP_other(h)  = Σ_{s ≤ h} S_obs(s⁻) · λ̄*_s

    with λ̄*_s the survivors'-mix expected hazard (the Ederer II mix)
    and S_obs(s⁻) the observed KM entering interval s. The two curves
    decompose all-cause mortality: CP_cancer + CP_other = 1 − S_obs
    (telescoping; pinned in tests to the lattice tolerance). Unlike
    net survival (a hypothetical world without other causes), crude
    probabilities are REAL-WORLD fractions — what prognosis
    conversations and resource planning need.

    Interval convention: s = 0..horizon−1, at risk in s ⇔ duration ≥
    s, death in s ⇔ duration == s & event — matching ``km_curve``'s
    cells exactly, so the identity holds term by term. Integer
    micro-hazard life table as in ``relative_survival_ederer2``.

    Scale shape: one per-(group, band, duration) cell aggregate; the
    (groups × bands × horizon) grid + one grouped prefix per band mix,
    one per-group prefix for the observed log-survival, one more for
    the CP accumulations — everything after the first aggregate is
    grid-sized. Returns one row per (group, hour 0..horizon−1):
    n_risk, n_event, survival_observed (end of interval),
    cp_cancer, cp_other.
    """
    if any(int(v) != v for v in hazard_micro_by_band.values()):
        raise ValueError(
            "hazard_micro_by_band must be integers (exact-sum contract)"
        )
    g = list(group_cols)
    spark = df.sparkSession
    horizon = int(horizon)
    ev = F.col(event_col).cast("long")

    rmb = df.groupBy(*g, band_col, duration_col).agg(
        F.count(F.lit(1)).alias("_rm"),
        F.sum(ev).alias("_d"),
    )
    nbt = df.groupBy(*g, band_col).agg(F.count(F.lit(1)).alias("_nb_tot"))
    hours = spark.range(0, horizon).select(
        F.col("id").cast("long").alias("_s")
    )
    grid = (
        nbt.crossJoin(F.broadcast(hours))
        .join(
            rmb.withColumnRenamed(duration_col, "_s"),
            g + [band_col, "_s"],
            "left",
        )
        .fillna({"_rm": 0, "_d": 0})
    )
    grid = grouped_prefix_sum(grid, g + [band_col], "_s", "_rm", "_rm0")
    grid = grid.withColumn("_nb", F.col("_nb_tot") - F.col("_rm0"))
    hmap = F.create_map(
        *[
            F.lit(x)
            for k, v in hazard_micro_by_band.items()
            for x in (k, int(v))
        ]
    )
    lam = F.coalesce(hmap[F.col(band_col)], F.lit(0)).cast("long")
    per_s = grid.groupBy(*g, "_s").agg(
        F.sum(F.col("_nb") * lam).alias("_lam_micro"),
        F.sum("_nb").alias("_n"),
        F.sum("_d").alias("_dd"),
    )
    n = F.col("_n")
    d = F.col("_dd")
    q = d / n
    lam_bar = F.col("_lam_micro") / F.lit(1000000.0) / n
    per_s = per_s.withColumn(
        "_lt",
        F.when(
            (d > 0) & (d < n), _micro(F.log(F.lit(1.0) - q))
        ).otherwise(F.lit(0).cast("long")),
    ).withColumn(
        "_dall",
        F.when((d > 0) & (d == n), F.lit(1))
        .otherwise(F.lit(0)).cast("long"),
    )
    per_s = grouped_prefix_sum(
        per_s, g, "_s", ["_lt", "_dall"], ["_lt0", "_dall0"]
    )
    s_in = F.when(F.col("_dall0") > 0, F.lit(0.0)).otherwise(
        F.exp(F.col("_lt0") / F.lit(1000000.0))
    )
    per_s = per_s.withColumn(
        "_cpc",
        F.when(
            n > 0, _micro(s_in * (q - lam_bar))
        ).otherwise(F.lit(0).cast("long")),
    ).withColumn(
        "_cpo",
        F.when(n > 0, _micro(s_in * lam_bar)).otherwise(
            F.lit(0).cast("long")
        ),
    )
    per_s = grouped_prefix_sum(
        per_s, g, "_s", ["_cpc", "_cpo"], ["_cpc0", "_cpo0"]
    )
    s_out = F.when(
        (F.col("_dall0") + F.col("_dall")) > 0, F.lit(0.0)
    ).otherwise(
        F.exp((F.col("_lt0") + F.col("_lt")) / F.lit(1000000.0))
    )
    return per_s.select(
        *g,
        F.col("_s").alias("hour"),
        F.col("_n").alias("n_risk"),
        F.col("_dd").alias("n_event"),
        F.round(s_out, 6).alias("survival_observed"),
        F.round(
            (F.col("_cpc0") + F.col("_cpc")) / F.lit(1000000.0), 6
        ).alias("cp_cancer"),
        F.round(
            (F.col("_cpo0") + F.col("_cpo")) / F.lit(1000000.0), 6
        ).alias("cp_other"),
    )


def standardized_mortality_ratio(
    df: DataFrame,
    group_cols: Sequence[str],
    band_col: str,
    hazard_micro_by_band: dict,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Standardized mortality ratio — the first table every registry
    and occupational-cohort report publishes: SMR = O/E, observed
    deaths over deaths expected if the cohort experienced the
    reference population's band hazards over its own person-time,
    with Byar's approximation for the exact-Poisson 95% CI:

        low  = (O/E)·(1 − 1/(9O) − 1.96/(3√O))³
        high = ((O+1)/E)·(1 − 1/(9(O+1)) + 1.96/(3√(O+1)))³

    (Breslow & Day 1987's recommendation — accurate to <1% of exact
    Poisson limits even at small O; NULL CI when O = 0).

    Expected deaths are EXACT integers on the micro lattice:
    E_micro = Σ_subjects λ_band·(duration+1) (the same ≥1-unit
    exposure floor as ``person_time_cells``), so the O/E table
    hash-adjudicates bit-exact. ONE map-side aggregate; no grid, no
    prefix pass — the cheapest estimator in the family.
    """
    if any(int(v) != v for v in hazard_micro_by_band.values()):
        raise ValueError(
            "hazard_micro_by_band must be integers (exact-sum contract)"
        )
    g = list(group_cols)
    hmap = F.create_map(
        *[
            F.lit(x)
            for k, v in hazard_micro_by_band.items()
            for x in (k, int(v))
        ]
    )
    lam = F.coalesce(hmap[F.col(band_col)], F.lit(0)).cast("long")
    expo = F.col(duration_col).cast("long") + 1
    ev = F.col(event_col).cast("long")
    agg = df.groupBy(*g).agg(
        F.sum(ev).alias("observed"),
        F.sum(lam * expo).alias("expected_micro"),
        F.sum(expo).alias("person_time"),
    )
    o = F.col("observed").cast("double")
    e = F.col("expected_micro") / F.lit(1000000.0)
    smr = o / e
    low = smr * F.pow(
        F.lit(1.0) - 1.0 / (9.0 * o) - F.lit(1.96) / (3.0 * F.sqrt(o)),
        F.lit(3.0),
    )
    o1 = o + 1.0
    high = (o1 / e) * F.pow(
        F.lit(1.0) - 1.0 / (9.0 * o1) + F.lit(1.96) / (3.0 * F.sqrt(o1)),
        F.lit(3.0),
    )
    return agg.select(
        *g,
        "observed",
        "person_time",
        F.round(e, 6).alias("expected"),
        F.round(smr, 6).alias("smr"),
        F.when(F.col("observed") > 0, F.round(low, 6)).alias(
            "lower_ci"
        ),
        F.round(high, 6).alias("upper_ci"),
    )


def relative_survival_hakulinen(
    df: DataFrame,
    group_cols: Sequence[str],
    band_col: str,
    hazard_micro_by_band: dict,
    horizon: int,
    duration_col: str = "duration",
    event_col: str = "event",
    potential_col: str = "potential",
) -> DataFrame:
    """Relative survival with HAKULINEN expected survival — the third
    classical convention (Hakulinen 1982), completing the Ederer I /
    Ederer II pair: each subject's hypothetical population twin is
    followed only as long as the subject COULD have been observed
    (``potential_col`` — entry-to-study-end time), so staggered
    recruitment can't bias the expected curve the way it biases
    Ederer I (whose twins live forever) under long follow-up.

    Discrete form: expected survivors of band b entering hour s are
    l*_b(s) = p_b(s)·(1−λ_b)^(s−1) with p_b(s) = #{i ∈ b :
    potential_i ≥ s}; the expected-cohort hazard is the l*-weighted
    band mean λ̄*_H(s) = Σ_b l*_b(s)·λ_b / Σ_b l*_b(s) and
    S*_H(h) = Π_{s ≤ h}(1 − λ̄*_H(s)). With uniform potential
    follow-up (everyone observable to the horizon) this reduces
    EXACTLY to Ederer I (pinned in tests).

    Same integer micro-hazard contract and output grain as the Ederer
    estimators; the micro-lattice log accumulation makes the table
    hash-exact. Scale shape: one per-(group, band, potential-hour)
    count aggregate, then the broadcast-sized grid — one
    grouped_prefix_sum for potential at-risk counts, a closed-form
    pow for the twin survival, one prefix for the expected log
    accumulation; observed curve via the shared km argmax.

    ``hazard_micro_by_band`` accepts a dict or a life-table
    DataFrame (``sources/lifetable.py`` canonical form) — the same
    dual contract as the Ederer estimators: the source form is
    validated/broadcast and FAILS on a cohort band with no row.
    """
    g = list(group_cols)
    spark = df.sparkSession
    horizon = int(horizon)

    # potential at-risk: p_b(s) = #{potential >= s} via removal cells
    pot = df.groupBy(*g, band_col, potential_col).agg(
        F.count(F.lit(1)).alias("_rm")
    )
    nbt = df.groupBy(*g, band_col).agg(F.count(F.lit(1)).alias("_nb_tot"))
    hours0 = spark.range(0, horizon + 1).select(
        F.col("id").cast("long").alias("_s")
    )
    grid = (
        nbt.crossJoin(F.broadcast(hours0))
        .join(
            pot.withColumnRenamed(potential_col, "_s"),
            g + [band_col, "_s"],
            "left",
        )
        .withColumn("_rm", F.coalesce(F.col("_rm"), F.lit(0)))
    )
    grid = grouped_prefix_sum(
        grid, g + [band_col], "_s", "_rm", "_rm0"
    ).withColumn("_pb", F.col("_nb_tot") - F.col("_rm0"))
    grid = _attach_band_hazard(
        grid, band_col, hazard_micro_by_band, "_lam_b",
        "relative_survival_hakulinen",
    )
    lam = F.col("_lam_b")
    # expected twin survivors entering hour s: p_b(s)·(1-λ_b)^(s-1)
    lstar = F.col("_pb") * F.pow(
        F.lit(1.0) - lam / F.lit(1000000.0),
        (F.col("_s") - 1).cast("double"),
    )
    grid = grid.withColumn("_lw", _micro(lstar)).withColumn(
        "_lwl", _pico(lstar * (lam / F.lit(1000000.0)))
    )
    per_s = grid.groupBy(*g, "_s").agg(
        F.sum("_lwl").alias("_num"),
        F.sum("_lw").alias("_den"),
    )
    lam_bar = (F.col("_num") / F.lit(1000000.0)) / F.col("_den")
    per_s = per_s.withColumn(
        "_lt",
        F.when(
            (F.col("_s") > 0) & (F.col("_den") > 0) & (lam_bar < 1),
            _micro(F.log(F.lit(1.0) - lam_bar)),
        ).otherwise(F.lit(0).cast("long")),
    )
    per_s = grouped_prefix_sum(per_s, g, "_s", "_lt", "_lt0")
    expected = per_s.filter(F.col("_s") > 0).select(
        *g,
        F.col("_s").alias("hour"),
        F.round(
            F.exp((F.col("_lt0") + F.col("_lt")) / F.lit(1000000.0)), 6
        ).alias("survival_expected"),
    )

    km = km_curve(df, g, duration_col, event_col)
    hours = hours0.filter(F.col("_s") > 0).withColumnRenamed("_s", "hour")
    rm = df.groupBy(*g, duration_col).agg(F.count(F.lit(1)).alias("_rm"))
    tot = df.groupBy(*g).agg(F.count(F.lit(1)).alias("_n_tot"))
    atrisk = (
        tot.crossJoin(F.broadcast(hours0.withColumnRenamed("_s", "hour")))
        .join(
            rm.withColumnRenamed(duration_col, "hour"),
            g + ["hour"],
            "left",
        )
        .withColumn("_rm", F.coalesce(F.col("_rm"), F.lit(0)))
    )
    atrisk = grouped_prefix_sum(atrisk, g, "hour", "_rm", "_rm0")
    atrisk = atrisk.filter(F.col("hour") > 0).select(
        *g, "hour", (F.col("_n_tot") - F.col("_rm0")).alias("n_risk")
    )
    obs_cells = km.crossJoin(F.broadcast(hours)).filter(
        F.col(duration_col) <= F.col("hour")
    )
    best = obs_cells.groupBy(*g, "hour").agg(
        F.max(
            F.struct(
                F.col(duration_col).alias("_d"),
                F.col("survival").alias("_sv"),
            )
        ).alias("_b")
    )
    out = (
        expected.join(atrisk, g + ["hour"])
        .join(best, g + ["hour"], "left")
        .withColumn(
            "survival_observed", F.coalesce(F.col("_b._sv"), F.lit(1.0))
        )
    )
    return out.select(
        *g,
        "hour",
        "n_risk",
        "survival_observed",
        "survival_expected",
        F.round(
            F.col("survival_observed") / F.col("survival_expected"), 6
        ).alias("relative_survival"),
    )


def rmst_from_curve(
    curve: DataFrame,
    group_cols: Sequence[str],
    tau: int,
    time_col: str = "hour",
    survival_col: str = "survival",
) -> DataFrame:
    """Restricted mean survival time from an ALREADY-ESTIMATED curve
    on a UNIT time grid (hours 1..horizon, survival right-continuous
    at each grid point, S(0) = 1 by convention):

        RMST(τ) = ∫₀^τ S dt = 1 + Σ_{1 ≤ t ≤ τ−1} S(t)

    — the rectangle rule is EXACT for a step function on its own
    grid. Curve-agnostic on purpose: feed it ``km_curve`` cells
    re-gridded, the Pohar Perme net curve (net RMST — "life-years
    gained net of background mortality within τ", a headline
    registry statistic), or the Ederer relative curve. One
    map-side-combinable aggregate over the curve frame plus a
    grid-sized distinct for the group roster; the curve frame is
    grid-sized, so this costs nothing at any data scale.

    The dense-unit-grid precondition is ENFORCED, not just
    documented (VERDICT r05 advice): every group must contribute
    exactly τ−1 grid rows in [1, τ−1] — a sparse curve (missing
    hours would silently contribute 0 instead of the carried-
    forward survival) raises at execution time. Groups come from
    the INPUT roster via a left join, so a group whose filtered
    frame is empty still returns a row (rmst = 1.0 when τ = 1,
    the only dense way that happens).

    Returns (group, rmst) with rmst ∈ (0, τ], one row per input
    group.
    """
    g = list(group_cols)
    tau = int(tau)
    s = F.col(survival_col)
    groups = curve.select(*g).distinct()
    summed = (
        curve.filter(
            (F.col(time_col) >= 1) & (F.col(time_col) <= tau - 1)
        )
        .groupBy(*g)
        .agg(
            F.sum(
                F.round(s * F.lit(1000000.0), 0).cast("long")
            ).alias("_s6"),
            F.count(F.lit(1)).alias("_cnt"),
        )
    )
    dense = F.coalesce(F.col("_cnt"), F.lit(0)) == F.lit(tau - 1)
    return (
        groups.join(summed, g, "left")
        .select(
            *g,
            F.when(
                dense,
                F.round(
                    F.lit(1.0)
                    + F.coalesce(F.col("_s6"), F.lit(0).cast("long"))
                    / F.lit(1000000.0),
                    6,
                ),
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "rmst_from_curve: sparse curve — expected "
                            f"{tau - 1} unit-grid rows in [1, {tau - 1}]"
                            ", got "
                        ),
                        F.coalesce(F.col("_cnt"), F.lit(0)).cast(
                            "string"
                        ),
                    )
                ).cast("double")
            )
            .alias("rmst"),
        )
    )


def _gray_collect(
    df,
    group_col,
    duration_col,
    cause_col,
    strata,
):
    """Bounded collect of (strata..., duration, group, cause) count
    cells for the Gray-test driver twins. Returns (pdf, gvals) or
    (None, None) when unbounded, any key is null/NaN (the distributed
    groupBy/orderBy null semantics differ from numpy's), or the
    collected frame cannot reproduce Spark's group ordering. The
    per-duration longs the distributed groupBy produces (d1, d, cen,
    m1, m, rm1, rm) are pure integer counts of these cells, so
    deriving them on the driver is exact."""
    proj = df.select(
        *[F.col(c).alias(f"_g{i}") for i, c in enumerate(strata)],
        F.col(duration_col).alias("_t"),
        F.col(group_col).alias("_grp"),
        F.col(cause_col).cast("long").alias("_cs"),
    )
    pdf = collect_cells(proj, proj.columns, ["_t", "_grp", "_cs"])
    if pdf is None:
        return None, None
    # Spark orderBy == Python sorted here: numerics trivially, strings
    # because UTF-8 byte order preserves code-point order
    gvals = sorted(set(pdf["_grp"].tolist()))
    return pdf, gvals


def _gray_driver_sums(pdf, g1, n_strat):
    """numpy twin of the gray_test / gray_test_stratified cell
    pipeline (three chained [grouped_]prefix_sum passes + the final
    score fold) — same micro/nano roundings, exact int64 prefix sums,
    same float op order, so every returned long is bit-identical to
    the distributed fold (pinned in tests). Returns (n_strata, n1, n,
    events_1, e_sum, u_sum, i_sum) as Python ints."""
    import numpy as np

    w = pdf["_w"].to_numpy().astype(np.int64)
    cs = pdf["_cs"].to_numpy().astype(np.int64)
    grp1 = np.array(
        [1 if v == g1 else 0 for v in pdf["_grp"].tolist()],
        dtype=np.int64,
    )
    t = pdf["_t"].to_numpy()
    if n_strat:
        scode = (
            pdf.groupby(
                [f"_g{i}" for i in range(n_strat)],
                sort=True,
                dropna=False,
            )
            .ngroup()
            .to_numpy()
        )
    else:
        scode = np.zeros(len(pdf), dtype=np.int64)
    order = np.lexsort((t, scode))
    w, cs, grp1, t, scode = (
        w[order], cs[order], grp1[order], t[order], scode[order]
    )
    # collapse to per-(stratum, duration) rows
    new_g = np.ones(len(t), dtype=bool)
    if len(t) > 1:
        new_g[1:] = (t[1:] != t[:-1]) | (scode[1:] != scode[:-1])
    gstarts = np.flatnonzero(new_g)
    seg_s = scode[gstarts]

    def cell(v):
        return np.add.reduceat(v, gstarts) if len(v) else v

    is_ev = (cs == 1).astype(np.int64)
    is_cen = (cs == 0).astype(np.int64)
    is_cmp = (cs == 2).astype(np.int64)
    d1 = cell(is_ev * grp1 * w)
    d = cell(is_ev * w)
    cen = cell(is_cen * w)
    m1 = cell(is_cmp * grp1 * w)
    m = cell(is_cmp * w)
    rm1 = cell(grp1 * w)
    rm = cell(w)

    # per-stratum segmentation over the collapsed rows
    new_s = np.ones(len(gstarts), dtype=bool)
    if len(gstarts) > 1:
        new_s[1:] = seg_s[1:] != seg_s[:-1]
    sstarts = np.flatnonzero(new_s)
    seg_len = np.diff(np.append(sstarts, len(gstarts)))

    def expref(v):
        # per-stratum EXCLUSIVE prefix, exact int64 (the
        # grouped_prefix_sum twin)
        pre = np.cumsum(v)
        pre = np.concatenate(([np.int64(0)], pre[:-1]))
        return pre - np.repeat(pre[sstarts], seg_len)

    def stot(v):
        # per-stratum total, broadcast back (totals_alias twin)
        return np.repeat(np.add.reduceat(v, sstarts), seg_len)

    rm1_before = expref(rm1)
    rm_before = expref(rm)
    n1_tot = stot(rm1)
    n_tot = stot(rm)
    n_at = n_tot - rm_before
    cond = (cen > 0) & (cen < n_at)
    with np.errstate(divide="ignore", invalid="ignore"):
        safe = np.where(cond, 1.0 - cen / n_at, 1.0)
    g_term = np.where(
        cond,
        round_half_up(np.log(safe) * 1e6).astype(np.int64),
        np.int64(0),
    )
    lng_left = expref(g_term)
    ginv = np.exp(-lng_left / 1e6)
    c0 = round_half_up(m * ginv * 1e9).astype(np.int64)
    c1 = round_half_up(m1 * ginv * 1e9).astype(np.int64)
    c0_before = expref(c0)
    c1_before = expref(c1)
    gleft = np.exp(lng_left / 1e6)
    s0 = (n_tot - rm_before) + gleft * (c0_before / 1e9)
    s1 = (n1_tot - rm1_before) + gleft * (c1_before / 1e9)
    ratio = s1 / s0
    ev = d > 0
    u_term = np.where(
        ev, round_half_up((d1 - d * ratio) * 1e9).astype(np.int64), 0
    )
    e_term = np.where(
        ev, round_half_up(d * ratio * 1e9).astype(np.int64), 0
    )
    i_term = np.where(
        ev,
        round_half_up(d * ratio * (1.0 - ratio) * 1e9).astype(
            np.int64
        ),
        0,
    )
    n_strata = len(sstarts)
    n1_sum = int(np.add.reduceat(rm1, sstarts).sum())
    n_sum = int(np.add.reduceat(rm, sstarts).sum())
    return (
        n_strata,
        n1_sum,
        n_sum,
        int(d1.sum()),
        int(e_term.sum()),
        int(u_term.sum()),
        int(i_term.sum()),
    )


def gray_test(
    df: DataFrame,
    group_col: str,
    duration_col: str = "duration",
    cause_col: str = "cause",
) -> DataFrame:
    """Gray-type test for equality of CUMULATIVE INCIDENCE functions
    between two groups under competing risks — the standard companion
    to ``cif_competing_risks`` (the estimator) and ``fine_gray`` (the
    regression): where the log-rank test compares cause-specific
    hazards among the currently alive, this compares SUBDISTRIBUTION
    hazards, i.e. asks directly whether the two groups' CIF₁ curves
    differ (Gray 1988; Fine & Gray 1999 §4 — the score test from the
    Fine-Gray model with a single binary group covariate, evaluated
    at β = 0, using the model-based information; asymptotically
    equivalent to Gray's ρ=0 statistic under H₀).

    ``cause_col`` ∈ {0, 1, 2}: 0 = censored, 1 = event of interest,
    2 = competing event. ``group_col`` must take exactly two values;
    the lexicographically smaller one is "group 1". At β = 0 every
    relative risk is 1, so the Fine-Gray risk-set machinery collapses
    to COUNTS with IPCW mass for past competing failures:

        S_j(t) = #{i in j : T_i ≥ t}  +  G(t−) · Σ_{i in j, competing,
                                          T_i < t} 1/G(T_i−)
        U  = Σ_t  d1_t − d_t · S_1(t)/S_0(t)       (score at β=0)
        I  = Σ_t  d_t · (S_1/S_0) (1 − S_1/S_0)    (information)
        χ² = U² / I,  1 df

    with d_t / d1_t the cause-1 events at t (all / group 1), and
    G the censoring Kaplan-Meier (left limits, micro log-lattice —
    the ``fine_gray`` separability identity means the competing mass
    is a strict prefix sum of 1/G(T_i−), computable cell-side because
    every competing subject at duration t shares G(t−)).

    Scale shape: ONE hash aggregate to per-duration cells (counts
    only — at β=0 nothing is subject-specific), then THREE chained
    ``global_prefix_sum`` passes over the grid-sized cell table
    (at-risk removals → censoring-KM log terms → weighted competing
    mass; each needs the previous pass's output), then a single
    scalar aggregate. Every continuous term rides the micro/nano
    lattice, so the statistic hash-adjudicates bit-exact (the
    logrank_test contract). No raw-row window anywhere.

    Returns one row: n_subjects_1/2, events_1 (observed cause-1
    events in group 1), expected_1, score, information, chi_square.
    """
    # r11 driver-solve fast path (driverfit.py discipline): ONE bounded
    # cell collect replaces the distinct-groups job, the three chained
    # prefix passes and the final fold — numpy twin, bit-identical
    # (pinned in tests/test_driverfit.py); unbounded/null cohorts fall
    # through to the unchanged distributed pipeline below.
    _pdfc, _gvals = _gray_collect(
        df, group_col, duration_col, cause_col, []
    )
    if _pdfc is not None:
        if len(_gvals) != 2:
            raise ValueError(
                f"gray_test needs exactly 2 groups, got {_gvals}"
            )
        _, _n1, _n, _ev1, _e, _u, _i = _gray_driver_sums(
            _pdfc, _gvals[0], 0
        )
        _nano = F.lit(1000000000.0)
        hdr = df.sparkSession.createDataFrame(
            [(_n1, _n, _ev1, _e, _u, _i)],
            "_n1 long, _n long, events_1 long, _el long, _ul long, "
            "_il long",
        )
        return hdr.select(
            F.col("_n1").alias("n_subjects_1"),
            (F.col("_n") - F.col("_n1")).alias("n_subjects_2"),
            "events_1",
            F.round(F.col("_el") / _nano, 6).alias("expected_1"),
            F.round(F.col("_ul") / _nano, 6).alias("score"),
            F.round(F.col("_il") / _nano, 6).alias("information"),
            F.round(
                (F.col("_ul") / _nano)
                * (F.col("_ul") / _nano)
                / (F.col("_il") / _nano),
                6,
            ).alias("chi_square"),
        )

    gvals = [
        r[0]
        for r in df.select(group_col).distinct().orderBy(group_col).collect()
    ]
    if len(gvals) != 2:
        raise ValueError(f"gray_test needs exactly 2 groups, got {gvals}")
    g1 = gvals[0]
    is1 = (F.col(group_col) == F.lit(g1)).cast("long")
    cz = F.col(cause_col).cast("long")
    is_ev = (cz == 1).cast("long")
    is_cen = (cz == 0).cast("long")
    is_cmp = (cz == 2).cast("long")
    nano = F.lit(1000000000.0)
    micro = F.lit(1000000.0)

    cells = df.groupBy(duration_col).agg(
        F.sum(is_ev * is1).alias("d1"),
        F.sum(is_ev).alias("d"),
        F.sum(is_cen).alias("cen"),
        F.sum(is_cmp * is1).alias("m1"),
        F.sum(is_cmp).alias("m"),
        F.sum(is1).alias("rm1"),
        F.count(F.lit(1)).alias("rm"),
    )
    # pass 1: at-risk counts (for G's denominator and the suffixes);
    # totals ride along with the prefix scan (r10)
    cells = global_prefix_sum(
        cells, duration_col, ["rm1", "rm"], ["rm1_before", "rm_before"],
        totals_alias=["_n1", "_n"],
    )
    n_at = F.col("_n") - F.col("rm_before")
    g_term = F.when(
        (F.col("cen") > 0) & (F.col("cen") < n_at),
        _micro(F.log(F.lit(1.0) - F.col("cen") / n_at)),
    ).otherwise(F.lit(0).cast("long"))
    cells = cells.withColumn("_g_term", g_term)
    # pass 2: lnG(t-) = exclusive prefix of the log terms
    cells = global_prefix_sum(
        cells, duration_col, ["_g_term"], ["_lng_left"]
    )
    # competing mass pre-divided by each subject's own G(T_i-); all
    # competing subjects at duration t share lnG(t-), so the cell
    # carries the whole sum exactly
    ginv = F.exp(-F.col("_lng_left") / micro)
    cells = cells.withColumn(
        "c0", F.round(F.col("m") * ginv * nano, 0).cast("long")
    ).withColumn(
        "c1", F.round(F.col("m1") * ginv * nano, 0).cast("long")
    )
    # pass 3: strict prefix of the weighted competing mass
    cells = global_prefix_sum(
        cells, duration_col, ["c0", "c1"], ["c0_before", "c1_before"]
    )
    gleft = F.exp(F.col("_lng_left") / micro)
    s0 = (F.col("_n") - F.col("rm_before")) + gleft * (
        F.col("c0_before") / nano
    )
    s1 = (F.col("_n1") - F.col("rm1_before")) + gleft * (
        F.col("c1_before") / nano
    )
    d = F.col("d")
    ratio = s1 / s0
    u_term = F.when(
        d > 0,
        F.round((F.col("d1") - d * ratio) * nano, 0).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    e_term = F.when(
        d > 0, F.round(d * ratio * nano, 0).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    i_term = F.when(
        d > 0,
        F.round(d * ratio * (F.lit(1.0) - ratio) * nano, 0).cast(
            "long"
        ),
    ).otherwise(F.lit(0).cast("long"))
    out = cells.agg(
        F.max("_n1").alias("n_subjects_1"),
        (F.max("_n") - F.max("_n1")).alias("n_subjects_2"),
        F.sum("d1").alias("events_1"),
        F.round(F.sum(e_term) / nano, 6).alias("expected_1"),
        (F.sum(u_term) / nano).alias("_u"),
        (F.sum(i_term) / nano).alias("_i"),
    )
    return out.select(
        "n_subjects_1",
        "n_subjects_2",
        "events_1",
        "expected_1",
        F.round(F.col("_u"), 6).alias("score"),
        F.round(F.col("_i"), 6).alias("information"),
        F.round(F.col("_u") * F.col("_u") / F.col("_i"), 6).alias(
            "chi_square"
        ),
    )


def aalen_johansen_illness_death(
    df: DataFrame,
    group_cols: Sequence[str],
    start_col: str = "start",
    stop_col: str = "stop",
    from_col: str = "from_state",
    to_col: str = "to_state",
) -> DataFrame:
    """Aalen-Johansen state-occupancy probabilities for the
    PROGRESSIVE illness-death model — the multi-state generalization
    of Kaplan-Meier (2 states) and the competing-risks CIF (3-state
    fork): states 0 (initial / healthy), 1 (intermediate / relapsed),
    2 (absorbing / dead), transitions 0→1, 0→2, 1→2.

    ``df`` is one row per EPISODE in counting-process form: the
    subject occupies ``from_col`` ∈ {0, 1} over (``start_col``,
    ``stop_col``] and at ``stop_col`` either transitions to
    ``to_col`` ∈ {1, 2} or is censored (``to_col`` NULL). Delayed
    entry is native — an episode is at risk for t ∈ (start, stop]
    (the ``km_curve_left_truncated`` convention), which is exactly
    how a 0→1 transition at time s feeds state 1's risk set only for
    t > s. Episodes must have start < stop.

    The product-integral P(0,t) = Π_{s≤t} (I + dA(s)) for this
    acyclic model factors into EXACT lattice prefix sums — no
    matrix-product scan (whose floating-point grouping would depend
    on partition boundaries) is needed:

        P₀₀(t) = Π (1 − (d₀₁+d₀₂)/Y₀)           (KM in state 0)
        P₀₁(t) = Q₁(t) · Σ_{s≤t} P₀₀(s−)·(d₀₁(s)/Y₀(s))/Q₁(s)
                 where Q₁(v) = Π_{u≤v} (1 − d₁₂/Y₁)
                 (P₁₁(s,t) = Q₁(t)/Q₁(s) telescopes)
        P₀₂(t) = Σ P₀₀(s−)·d₀₂/Y₀  +  Σ P₀₁(u−)·d₁₂/Y₁

    Every product is exp of a micro-lattice log prefix sum and every
    integral a micro-lattice prefix sum, mirroring ``km_curve`` /
    ``cif_competing_risks`` ARITHMETIC exactly — so the 2-state
    reduction (no intermediate state) is pinned BIT-EQUAL to
    ``km_curve.survival`` and the competing-risks reduction (no 1→2
    transitions) BIT-EQUAL to ``cif`` for both causes (tests).

    Precondition (raised, not silent): state 1 must not empty by
    death (d₁₂ = Y₁) and later re-populate — the telescoping
    Q₁-ratio is undefined across such a gap (standard AJ software
    shares the restriction).

    Scale shape: ONE hash aggregate over the episode deltas to
    per-(group, time) cells, then FOUR ``grouped_prefix_sum`` passes
    over the cell table (at-risk deltas → log-survival terms → the
    0→1 integrand → the death integrands; each feeds the next).
    #cells ≤ 2 × episodes; nothing ever windows raw rows.

    Returns one row per (group, time-with-any-episode-end):
    n_risk_initial, n_risk_intermediate, n_onset (0→1),
    n_death_initial (0→2), n_death_intermediate (1→2), n_censored,
    p_initial, p_intermediate, p_absorbed (each 6 dp;
    p_initial + p_intermediate + p_absorbed = 1 to lattice
    precision).
    """
    g = list(group_cols)
    frm = F.col(from_col).cast("long")
    to = F.col(to_col).cast("long")

    starts = df.select(
        *g,
        F.col(start_col).alias("_time"),
        frm.alias("_state"),
        F.lit(1).alias("_enter"),
        F.lit(0).alias("_exit"),
        F.lit(None).cast("long").alias("_to"),
    )
    stops = df.select(
        *g,
        F.col(stop_col).alias("_time"),
        frm.alias("_state"),
        F.lit(0).alias("_enter"),
        F.lit(1).alias("_exit"),
        to.alias("_to"),
    )
    ev = starts.unionAll(stops)
    st0 = F.col("_state") == 0
    st1 = F.col("_state") == 1
    ex = F.col("_exit") == 1
    cells = ev.groupBy(*g, "_time").agg(
        F.sum(F.when(st0, F.col("_enter")).otherwise(0)).alias("e0"),
        F.sum(F.when(st1, F.col("_enter")).otherwise(0)).alias("e1"),
        F.sum(F.when(st0, F.col("_exit")).otherwise(0)).alias("x0"),
        F.sum(F.when(st1, F.col("_exit")).otherwise(0)).alias("x1"),
        F.sum(
            F.when(ex & st0 & (F.col("_to") == 1), 1).otherwise(0)
        ).alias("d01"),
        F.sum(
            F.when(ex & st0 & (F.col("_to") == 2), 1).otherwise(0)
        ).alias("d02"),
        F.sum(
            F.when(ex & st1 & (F.col("_to") == 2), 1).otherwise(0)
        ).alias("d12"),
        F.sum(
            F.when(ex & F.col("_to").isNull(), 1).otherwise(0)
        ).alias("n_censored"),
    )
    # pass 1: at-risk counts Y_j(t) = enters(<t) - exits(<t)
    cells = grouped_prefix_sum(
        cells,
        g,
        "_time",
        ["e0", "x0", "e1", "x1"],
        ["_e0b", "_x0b", "_e1b", "_x1b"],
    )
    cells = cells.withColumn("Y0", F.col("_e0b") - F.col("_x0b")).withColumn(
        "Y1", F.col("_e1b") - F.col("_x1b")
    )
    d0 = F.col("d01") + F.col("d02")
    cells = (
        cells.withColumn(
            "_lt0",
            F.when(
                (d0 > 0) & (d0 < F.col("Y0")),
                _micro(F.log(F.lit(1.0) - d0 / F.col("Y0"))),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_dall0",
            F.when((d0 > 0) & (d0 == F.col("Y0")), F.lit(1))
            .otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "_lt1",
            F.when(
                (F.col("d12") > 0) & (F.col("d12") < F.col("Y1")),
                _micro(F.log(F.lit(1.0) - F.col("d12") / F.col("Y1"))),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_crash1",
            F.when(
                (F.col("d12") > 0) & (F.col("d12") == F.col("Y1")),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("long"),
        )
    )
    # pass 2: survival products (exclusive prefixes = left limits)
    cells = grouped_prefix_sum(
        cells,
        g,
        "_time",
        ["_lt0", "_dall0", "_lt1", "_crash1"],
        ["_lt0b", "_dall0b", "_lt1b", "_crash1b"],
    )
    micro6 = F.lit(1000000.0)
    p00_left = F.when(F.col("_dall0b") > 0, F.lit(0.0)).otherwise(
        F.exp(F.col("_lt0b") / micro6)
    )
    p00_incl = F.when(
        F.col("_dall0b") + F.col("_dall0") > 0, F.lit(0.0)
    ).otherwise(F.exp((F.col("_lt0b") + F.col("_lt0")) / micro6))
    # the Q1-ratio telescoping is undefined once state 1 empties by
    # death and later sees activity again — INCLUDING an onset at the
    # very same time t the state empties (d12 == Y1 and d01 > 0 in one
    # cell): there _t01 would divide by q1_incl == 0 and produce
    # Infinity instead of the named precondition error. Fail fast on
    # both the strict-prefix gap and the same-cell case.
    bad = (
        (F.col("_crash1b") > 0)
        | ((F.col("_crash1") > 0) & (F.col("d01") > 0))
    ) & ((F.col("d01") > 0) | (F.col("d12") > 0))
    q1_excl = F.when(
        bad,
        F.raise_error(
            F.lit(
                "aalen_johansen_illness_death: state 1 emptied by "
                "death and later re-populated — Q1 telescoping "
                "undefined"
            )
        ).cast("double"),
    ).when(F.col("_crash1b") > 0, F.lit(0.0)).otherwise(
        F.exp(F.col("_lt1b") / micro6)
    )
    q1_incl = F.when(
        F.col("_crash1b") + F.col("_crash1") > 0, F.lit(0.0)
    ).otherwise(F.exp((F.col("_lt1b") + F.col("_lt1")) / micro6))
    cells = (
        cells.withColumn("_p00l", p00_left)
        .withColumn("_p00", p00_incl)
        .withColumn("_q1l", q1_excl)
        .withColumn("_q1", q1_incl)
        .withColumn(
            "_t01",
            F.when(
                F.col("d01") > 0,
                _micro(
                    F.col("_p00l")
                    * F.col("d01")
                    / F.col("Y0")
                    / F.col("_q1")
                ),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_t02",
            F.when(
                F.col("d02") > 0,
                _micro(F.col("_p00l") * F.col("d02") / F.col("Y0")),
            ).otherwise(F.lit(0).cast("long")),
        )
    )
    # pass 3: the 0->1 integrand (strict prefix also feeds P01(u-))
    cells = grouped_prefix_sum(cells, g, "_time", ["_t01"], ["_t01b"])
    p01_left = F.col("_q1l") * (F.col("_t01b") / micro6)
    cells = cells.withColumn(
        "_t12",
        F.when(
            F.col("d12") > 0,
            _micro(p01_left * F.col("d12") / F.col("Y1")),
        ).otherwise(F.lit(0).cast("long")),
    )
    # pass 4: the two death integrands
    cells = grouped_prefix_sum(
        cells, g, "_time", ["_t02", "_t12"], ["_t02b", "_t12b"]
    )
    p01 = F.col("_q1") * ((F.col("_t01b") + F.col("_t01")) / micro6)
    p02 = (
        F.col("_t02b") + F.col("_t02") + F.col("_t12b") + F.col("_t12")
    ) / micro6
    return (
        cells.filter(
            F.col("x0") + F.col("x1") > 0
        )  # curve rows = times where any episode ends
        .select(
            *g,
            F.col("_time").alias("time"),
            F.col("Y0").alias("n_risk_initial"),
            F.col("Y1").alias("n_risk_intermediate"),
            F.col("d01").alias("n_onset"),
            F.col("d02").alias("n_death_initial"),
            F.col("d12").alias("n_death_intermediate"),
            "n_censored",
            F.round(F.col("_p00"), 6).alias("p_initial"),
            F.round(p01, 6).alias("p_intermediate"),
            F.round(p02, 6).alias("p_absorbed"),
        )
    )


def cox_ph_time_dependent(
    df: DataFrame,
    feature_cols: Sequence[str],
    start_col: str = "start",
    stop_col: str = "stop",
    event_col: str = "event",
    iters: int = 8,
    ties: str = "breslow",
    return_se: bool = False,
):
    """Cox regression with TIME-DEPENDENT covariates via the standard
    counting-process episode formulation (Therneau's ``coxph(Surv(
    start, stop, event) ~ ...)``): one row per EPISODE over which the
    covariates are constant — (``start_col``, ``stop_col``] with
    ``event_col`` = 1 iff the subject fails AT ``stop_col``. A subject
    whose covariate changes at time s is split into episodes
    (0, s] / (s, T]; delayed entry (left truncation) is the same
    mechanism with a non-zero first ``start``.

    The partial likelihood only changes in WHO is at risk at each
    event time t: episodes with start < t ≤ stop. Because
    start < stop, the risk-moment sums SEPARATE into two ordinary
    suffix sums on one time axis:

        Σ_{start < t ≤ stop} m  =  Σ_{stop ≥ t} m − Σ_{start ≥ t} m

    so the machinery is ``cox_ph``'s exactly (``_cox_fit``): each
    episode is an exit row at its stop time (carrying the event) and
    an entry row at its start time whose moments count NEGATIVELY, and
    the risk set at t is the signed suffix sum over times ≥ t. With
    every episode starting at 0 the entry rows vanish from every event
    time's suffix and the fit is BIT-IDENTICAL to ``cox_ph`` (pinned in
    tests, Breslow and Efron both); the constant-covariate split
    invariance (splitting any episode at an arbitrary interior time
    leaves β unchanged) is also pinned.

    ``ties``: "breslow" or "efron" (event-subject moments come from
    stop rows only, so Efron's within-tie shrinkage is unchanged).
    ``return_se=True`` → (β, se) from the final information matrix
    (the ``cox_ph`` penultimate-iterate convention). Returns
    [β_1, ..., β_p] otherwise. Complete cases only (rows with a
    null/NaN feature, start, stop or event are dropped). Requires
    iters >= 1 and start < stop on every episode (a named in-plan
    error otherwise); an empty cohort raises
    ``cox_ph_time_dependent: empty input``.

    Scale: identical to ``cox_ph`` — cells ≤ 2× #distinct times,
    driver sees p + p(p+1)/2 numbers per iteration.
    """
    return _cox_fit(
        "cox_ph_time_dependent", df, feature_cols, (start_col, stop_col),
        event_col, iters, ties, None, return_se,
    )


def life_years_lost(
    df: DataFrame,
    group_cols: Sequence[str],
    causes: Sequence[int],
    tau: float,
    duration_col: str = "duration",
    cause_col: str = "cause",
) -> DataFrame:
    """Cause-decomposed life years lost before τ (Andersen 2013): the
    expected time lost to each competing cause,

        LYL_k(τ) = ∫₀^τ CIF_k(t) dt,

    which decomposes the total restricted loss EXACTLY:
    τ − RMST(τ) = Σ_k LYL_k(τ) (the identity Σ_k CIF_k + S = 1;
    pinned in tests to lattice precision). The registry headline:
    "of the X hours a patient loses before τ, how many to the cancer
    and how many to other causes".

    Builds on ``cif_competing_risks`` (same estimator, same exact
    lattices) and integrates each step CIF over its OWN event grid —
    no dense re-gridding: segment [t_i, t_{i+1} ∧ τ) contributes
    CIF_k(t_i)·(t_{i+1} ∧ τ − t_i) on the micro lattice, with the
    lead over the per-(group, cause) CELL table (grid-sized — the
    post-aggregation window the plan lint allows; never raw rows).

    Returns one row per (group, cause): n_events (that cause's
    events in [0, τ]) and lyl (6 dp).
    """
    g = list(group_cols)
    cif = cif_competing_risks(
        df, g, causes, duration_col=duration_col, cause_col=cause_col
    )
    w = Window.partitionBy(*g, "cause").orderBy(duration_col)
    t = F.col(duration_col).cast("double")
    nxt = F.lead(t).over(w)
    seg_end = F.least(F.coalesce(nxt, F.lit(float(tau))), F.lit(float(tau)))
    gap = F.greatest(seg_end - t, F.lit(0.0))
    term = F.when(
        t < float(tau), _micro(F.col("cif") * gap)
    ).otherwise(F.lit(0).cast("long"))
    return (
        cif.withColumn("_term", term)
        .groupBy(*g, "cause")
        .agg(
            F.sum(
                F.when(t <= float(tau), F.col("n_event")).otherwise(
                    F.lit(0)
                )
            ).alias("n_events"),
            F.round(F.sum("_term") / F.lit(1000000.0), 6).alias("lyl"),
        )
    )


def weighted_logrank_test(
    df: DataFrame,
    group_col: str,
    duration_col: str = "duration",
    event_col: str = "event",
    rho: float = 0.0,
    gamma: float = 0.0,
) -> DataFrame:
    """Fleming-Harrington G^{ρ,γ} weighted log-rank test — the
    two-group family whose weight w(t) = Ŝ(t−)^ρ (1 − Ŝ(t−))^γ
    (pooled Kaplan-Meier left limit) tunes where the test has power:
    (0,0) is the plain log-rank (pinned equal to ``logrank_test`` in
    tests to lattice tolerance — this family rides the nano lattice,
    logrank_test the micro), (1,0) the Peto-Peto/generalized-Wilcoxon early-
    difference test, (0,1) the late-difference test used for
    delayed-onset treatment effects (immunotherapy trials, or any
    rollout whose effect needs ramp-up time):

        Z  = Σ_t w(t)·(d1_t − d_t·n1_t/n_t)
        V  = Σ_t w(t)²·d_t·p(1−p)·(n_t−d_t)/(n_t−1)
        χ² = Z²/V,  1 df

    Scale shape is ``logrank_test``'s plus one column: the pooled KM
    left limit comes from the SAME ``global_prefix_sum`` pass that
    carries the at-risk counts (the micro log-lattice ``km_curve``
    product), so the weighted test costs no extra shuffle. All terms
    nano-lattice longs — hash-adjudicates bit-exact.

    Returns one row: n_subjects_1/2, observed_1, expected_1 (both
    w-weighted), variance, chi_square, rho, gamma.
    """
    gvals = [
        r[0]
        for r in df.select(group_col).distinct().orderBy(group_col).collect()
    ]
    if len(gvals) != 2:
        raise ValueError(
            f"weighted_logrank_test needs exactly 2 groups, got {gvals}"
        )
    g1 = gvals[0]
    is1 = (F.col(group_col) == F.lit(g1)).cast("long")
    ev = F.col(event_col).cast("long")
    nano = F.lit(1000000000.0)
    cells = df.groupBy(duration_col).agg(
        F.sum(ev * is1).alias("d1"),
        F.sum(ev).alias("d"),
        F.sum(is1).alias("rm1"),
        F.count(F.lit(1)).alias("rm"),
    )
    # r10: the cohort totals are the cell sums — ride them along with
    # the prefix scan instead of a second full pass over df
    cells = global_prefix_sum(
        cells, duration_col, ["rm1", "rm"], ["rm1_before", "rm_before"],
        totals_alias=["_n1", "_n"],
    )
    n1 = F.col("_n1") - F.col("rm1_before")
    n = F.col("_n") - F.col("rm_before")
    d = F.col("d")
    lt = F.when(
        (d > 0) & (d < n), _micro(F.log(F.lit(1.0) - d / n))
    ).otherwise(F.lit(0).cast("long"))
    dall = F.when((d > 0) & (d == n), F.lit(1)).otherwise(F.lit(0)).cast(
        "long"
    )
    cells = cells.withColumn("_lt", lt).withColumn("_dall", dall)
    cells = global_prefix_sum(
        cells, duration_col, ["_lt", "_dall"], ["_lt0", "_dall0"]
    )
    s_left = F.when(F.col("_dall0") > 0, F.lit(0.0)).otherwise(
        F.exp(F.col("_lt0") / F.lit(1000000.0))
    )
    w = F.lit(1.0)
    if rho:
        w = w * F.pow(s_left, F.lit(float(rho)))
    if gamma:
        w = w * F.pow(F.lit(1.0) - s_left, F.lit(float(gamma)))
    p1 = n1 / n
    o_term = F.when(
        d > 0, F.round(w * F.col("d1") * nano, 0).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    e_term = F.when(
        d > 0, F.round(w * d * p1 * nano, 0).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    v_term = F.when(
        (d > 0) & (n > 1),
        F.round(
            w * w * d * p1 * (F.lit(1.0) - p1) * (n - d) / (n - F.lit(1))
            * nano,
            0,
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    out = cells.agg(
        F.max("_n1").alias("n_subjects_1"),
        (F.max("_n") - F.max("_n1")).alias("n_subjects_2"),
        (F.sum(o_term) / nano).alias("_o"),
        (F.sum(e_term) / nano).alias("_e"),
        (F.sum(v_term) / nano).alias("_v"),
    )
    oe = F.col("_o") - F.col("_e")
    return out.select(
        "n_subjects_1",
        "n_subjects_2",
        F.round(F.col("_o"), 6).alias("observed_1"),
        F.round(F.col("_e"), 6).alias("expected_1"),
        F.round(F.col("_v"), 6).alias("variance"),
        F.round(oe * oe / F.col("_v"), 6).alias("chi_square"),
        F.lit(float(rho)).alias("rho"),
        F.lit(float(gamma)).alias("gamma"),
    )


def cif_with_ci(
    df: DataFrame,
    group_cols: Sequence[str],
    causes: Sequence[int],
    duration_col: str = "duration",
    cause_col: str = "cause",
    z: float = 1.96,
) -> DataFrame:
    """``cif_competing_risks`` WITH the Marubini-Valsecchi / Aalen
    delta-method variance and log(−log) confidence intervals — the
    published companion every registry CIF table carries (the
    ``net_pp_ci``/``smr`` pattern: estimator → variance → CI):

        Var F_k(t) = Σ_{s≤t} (F_k(t)−F_k(s))²·d_s/(n_s(n_s−d_s))
                   + Σ_{s≤t} S(s−)²·d_{ks}(n_s−d_{ks})/n_s³
                   − 2 Σ_{s≤t} (F_k(t)−F_k(s))·S(s−)·d_{ks}/n_s²

    The outer-t dependence EXPANDS: (F(t)−F(s))² = F(t)²−2F(t)F(s)
    +F(s)², so the whole variance is a fixed combination of SIX
    inclusive prefix sums (a, F·a, F²·a, b, c, F·c per cause), each
    on the pico lattice — ONE extra ``grouped_prefix_sum`` pass over
    the same cell table beyond the three ``cif_competing_risks``
    does. CI: F^exp(±z·se/(F·|ln F|)) (the ``survival_at_horizons``
    log-log idiom), NULL at F ∈ {0, 1}.

    Pins (tests): the ``cif``/``survival_allcause`` columns are
    BIT-EQUAL to ``cif_competing_risks`` (same cells, same lattice
    arithmetic), and in the single-cause case the CIF standard error
    equals ``km_curve``'s Greenwood se to lattice precision — the
    delta-method form reduces to Greenwood identically (verified
    algebraically in the scalar prototype and pinned numerically).

    Returns ``cif_competing_risks``'s long form plus se_cif,
    lower_ci, upper_ci.
    """
    g = list(group_cols)
    causes = [int(k) for k in causes]
    cz = F.col(cause_col).cast("long")
    cells = df.groupBy(*g, duration_col).agg(
        F.sum((cz > 0).cast("long")).alias("_d"),
        F.count(F.lit(1)).alias("_rm"),
        *[
            F.sum((cz == F.lit(k)).cast("long")).alias(f"_d_{k}")
            for k in causes
        ],
    )
    totals = df.groupBy(*g).agg(F.count(F.lit(1)).alias("_n_subj"))
    cells = cells.join(totals, g)
    cells = grouped_prefix_sum(cells, g, duration_col, "_rm", "_rm0")
    d = F.col("_d")
    n = F.col("_n_subj") - F.col("_rm0")
    cells = (
        cells.withColumn("n_risk", n)
        .withColumn(
            "_lt",
            F.when(
                (d > 0) & (d < F.col("n_risk")),
                _micro(F.log(F.lit(1.0) - d / F.col("n_risk"))),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_dall",
            F.when((d > 0) & (d == F.col("n_risk")), F.lit(1))
            .otherwise(F.lit(0)).cast("long"),
        )
        .drop("_rm", "_rm0")
    )
    cells = grouped_prefix_sum(
        cells, g, duration_col, ["_lt", "_dall"], ["_lt0", "_dall0"]
    )
    s_left = F.when(F.col("_dall0") > 0, F.lit(0.0)).otherwise(
        F.exp(F.col("_lt0") / F.lit(1000000.0))
    )
    s_incl = F.when(
        F.col("_dall0") + F.col("_dall") > 0, F.lit(0.0)
    ).otherwise(
        F.exp((F.col("_lt0") + F.col("_lt")) / F.lit(1000000.0))
    )
    cells = cells.withColumn("_s_incl", F.round(s_incl, 6)).withColumn(
        "_sl", s_left
    )
    for k in causes:
        dk = F.col(f"_d_{k}")
        cells = cells.withColumn(
            f"_t_{k}",
            F.when(
                dk > 0, _micro(F.col("_sl") * dk / F.col("n_risk"))
            ).otherwise(F.lit(0).cast("long")),
        )
    cells = grouped_prefix_sum(
        cells,
        g,
        duration_col,
        [f"_t_{k}" for k in causes],
        [f"_t0_{k}" for k in causes],
    )
    nr = F.col("n_risk")
    a_term = F.when(
        (d > 0) & (d < nr), _pico(d / (nr * (nr - d)))
    ).otherwise(F.lit(0).cast("long"))
    vcols, aliases = [], []
    for k in causes:
        fk = (F.col(f"_t0_{k}") + F.col(f"_t_{k}")) / F.lit(1000000.0)
        dk = F.col(f"_d_{k}")
        cells = (
            cells.withColumn(f"_cifm_{k}", fk)
            .withColumn(f"_a_{k}", a_term)
            .withColumn(f"_fa_{k}", F.when(
                (d > 0) & (d < nr),
                _pico(fk * (d / (nr * (nr - d)))),
            ).otherwise(F.lit(0).cast("long")))
            .withColumn(f"_f2a_{k}", F.when(
                (d > 0) & (d < nr),
                _pico(fk * fk * (d / (nr * (nr - d)))),
            ).otherwise(F.lit(0).cast("long")))
            .withColumn(f"_b_{k}", F.when(
                dk > 0,
                _pico(
                    F.col("_sl") * F.col("_sl") * dk * (nr - dk)
                    / (nr * nr * nr)
                ),
            ).otherwise(F.lit(0).cast("long")))
            .withColumn(f"_c_{k}", F.when(
                dk > 0, _pico(F.col("_sl") * dk / (nr * nr))
            ).otherwise(F.lit(0).cast("long")))
            .withColumn(f"_fc_{k}", F.when(
                dk > 0,
                _pico(fk * (F.col("_sl") * dk / (nr * nr))),
            ).otherwise(F.lit(0).cast("long")))
        )
        for nm in ("a", "fa", "f2a", "b", "c", "fc"):
            vcols.append(f"_{nm}_{k}")
            aliases.append(f"_{nm}0_{k}")
    cells = grouped_prefix_sum(cells, g, duration_col, vcols, aliases)
    pico = F.lit(1000000000000.0)
    zlit = F.lit(float(z))
    outs = []
    for k in causes:
        fk = F.col(f"_cifm_{k}")

        def incl(nm, k=k):
            return (F.col(f"_{nm}0_{k}") + F.col(f"_{nm}_{k}")) / pico

        var = (
            fk * fk * incl("a")
            - F.lit(2.0) * fk * incl("fa")
            + incl("f2a")
            + incl("b")
            - F.lit(2.0) * (fk * incl("c") - incl("fc"))
        )
        se = F.sqrt(F.greatest(var, F.lit(0.0)))
        cifr = F.round(fk, 6)
        theta = F.exp(zlit * se / (fk * F.abs(F.log(fk))))
        lo = F.when(
            (cifr > 0) & (cifr < 1), F.round(F.pow(fk, theta), 6)
        )
        hi = F.when(
            (cifr > 0) & (cifr < 1),
            F.round(F.pow(fk, F.lit(1.0) / theta), 6),
        )
        outs.append((k, cifr, F.round(se, 6), lo, hi))
    stack_parts = []
    for k, cifr, se, lo, hi in outs:
        cells = (
            cells.withColumn(f"_ocif_{k}", cifr)
            .withColumn(f"_ose_{k}", se)
            .withColumn(f"_olo_{k}", lo)
            .withColumn(f"_ohi_{k}", hi)
        )
        stack_parts.append(
            f"{k}L, _d_{k}, _ocif_{k}, _ose_{k}, _olo_{k}, _ohi_{k}"
        )
    stack_expr = (
        "stack({n}, {args}) as (cause, n_event, cif, se_cif, "
        "lower_ci, upper_ci)"
    ).format(n=len(causes), args=", ".join(stack_parts))
    return cells.select(
        *g,
        duration_col,
        "n_risk",
        F.col("_s_incl").alias("survival_allcause"),
        F.expr(stack_expr),
    ).select(
        *g, duration_col, "cause", "n_risk", "n_event",
        "survival_allcause", "cif", "se_cif", "lower_ci", "upper_ci",
    )


def median_survival_ci(
    km: DataFrame,
    group_cols: Sequence[str],
    duration_col: str = "duration",
    z: float = 1.96,
) -> DataFrame:
    """Brookmeyer-Crowley confidence interval for the median survival
    time — the standard companion to ``median_survival``: the CI is
    the set of times where the hypothesis S(t) = ½ is NOT rejected by
    the Greenwood z-test,

        { t : |S(t) − 0.5| ≤ z · se_greenwood(t) },

    reported as [min, max] over the km grid (Brookmeyer & Crowley
    1982, the test-inversion construction R ``survfit`` reports).
    An unreached bound is NULL (upper open when the curve's tail
    never re-rejects ½; both NULL when the median isn't reached and
    no cell is compatible with ½ — degenerate tiny cohorts).

    Pure cell arithmetic on a ``km_curve`` output: one conditional
    min/max aggregate per group, no new shuffle beyond the grid-sized
    groupBy. Returns (group, n_subjects, median_time, median_lower,
    median_upper, median_reached).
    """
    g = list(group_cols)
    zlit = F.lit(float(z))
    in_set = (
        F.col("se_greenwood").isNotNull()
        & (
            F.abs(F.col("survival") - F.lit(0.5))
            <= zlit * F.col("se_greenwood")
        )
    )
    crossed = F.col("survival") <= 0.5
    agg = km.groupBy(*g).agg(
        F.max("n_risk").alias("n_subjects"),
        F.min(
            F.when(crossed, F.col(duration_col))
        ).alias("median_time"),
        F.min(F.when(in_set, F.col(duration_col))).alias("median_lower"),
        F.max(F.when(in_set, F.col(duration_col))).alias("median_upper"),
    )
    return agg.select(
        *g,
        "n_subjects",
        "median_time",
        "median_lower",
        "median_upper",
        F.col("median_time").isNotNull().alias("median_reached"),
    )


def logrank_trend_test(
    df: DataFrame,
    score_col: str,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Log-rank TREND test across k ORDERED groups (Tarone 1975) —
    the dose-response companion to the two-group family: with group
    scores s_g (the ``score_col`` value IS the group key and its
    score, e.g. exposure level 0/1/2), at each event time t with
    deaths d(t), at-risk n(t) and per-group at-risk n_g(t):

        Z = Σ_t [ Σ_g s_g·d_g(t) − d(t)·(Σ_g s_g·n_g(t))/n(t) ]
        V = Σ_t d(t)(n(t)−d(t))/(n(t)−1) ·
              [ Σ_g s_g²n_g(t)/n(t) − ((Σ_g s_g·n_g(t))/n(t))² ]
        χ² = Z²/V,  1 df

    — the score test whose two-group 0/1 reduction IS the plain
    log-rank (pinned equal to ``logrank_test`` to lattice tolerance).

    Scale shape: per-(score, duration) cells DENSIFIED onto the full
    score × event-time grid (every group's at-risk count must enter
    every event time's moments, not just times where that group has
    an ending subject — scores are a handful of dose levels, so the
    broadcast grid is #durations × #scores, still grid-sized), one
    ``grouped_prefix_sum`` (scores are the groups) for the at-risk
    counts, ONE per-duration re-aggregation folding the score moments
    (s·n, s²·n — map-side combined), then a scalar fold. All terms
    nano-lattice; hash-adjudicates bit-exact.

    Returns one row: n_groups, n_subjects, z_numerator, variance,
    z, chi_square.
    """
    sc = F.col(score_col).cast("double")
    ev = F.col(event_col).cast("long")
    nano = F.lit(1000000000.0)
    cells_raw = df.groupBy(
        sc.alias("_s"), F.col(duration_col).alias("_t")
    ).agg(
        F.sum(ev).alias("_d"),
        F.count(F.lit(1)).alias("_rm"),
    )
    tot = df.groupBy(sc.alias("_s2")).agg(
        F.count(F.lit(1)).alias("_n_g")
    )
    durs = df.select(F.col(duration_col).alias("_t")).distinct()
    grid = durs.crossJoin(F.broadcast(tot))
    cells = grid.join(
        cells_raw,
        (F.col("_s2") == F.col("_s")) & (grid["_t"] == cells_raw["_t"]),
        "left",
    ).select(
        F.col("_s2").alias("_s"),
        grid["_t"].alias("_t"),
        F.coalesce(F.col("_d"), F.lit(0)).alias("_d"),
        F.coalesce(F.col("_rm"), F.lit(0)).alias("_rm"),
        "_n_g",
    )
    cells = grouped_prefix_sum(cells, ["_s"], "_t", "_rm", "_rm0")
    ng = F.col("_n_g") - F.col("_rm0")
    per_t = cells.groupBy("_t").agg(
        F.sum("_d").alias("d"),
        F.sum(ng).alias("n"),
        F.sum(F.round(F.col("_s") * F.col("_d") * nano, 0).cast("long")).alias(
            "sd"
        ),
        F.sum(F.round(F.col("_s") * ng * nano, 0).cast("long")).alias("sn"),
        F.sum(
            F.round(F.col("_s") * F.col("_s") * ng * nano, 0).cast("long")
        ).alias("ssn"),
    )
    d = F.col("d")
    n = F.col("n").cast("double")
    sn = F.col("sn") / nano
    ssn = F.col("ssn") / nano
    z_term = F.when(
        d > 0,
        F.round(
            (F.col("sd") / nano - d * (sn / n)) * nano, 0
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    v_term = F.when(
        (d > 0) & (F.col("n") > 1),
        F.round(
            d * (n - d) / (n - F.lit(1.0))
            * (ssn / n - (sn / n) * (sn / n))
            * nano,
            0,
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    grp_stats = df.agg(
        F.countDistinct(sc).alias("n_groups"),
        F.count(F.lit(1)).alias("n_subjects"),
    )
    out = per_t.agg(
        (F.sum(z_term) / nano).alias("_z"),
        (F.sum(v_term) / nano).alias("_v"),
    ).crossJoin(F.broadcast(grp_stats))
    return out.select(
        "n_groups",
        "n_subjects",
        F.round(F.col("_z"), 6).alias("z_numerator"),
        F.round(F.col("_v"), 6).alias("variance"),
        F.round(F.col("_z") / F.sqrt(F.col("_v")), 6).alias("z"),
        F.round(
            F.col("_z") * F.col("_z") / F.col("_v"), 6
        ).alias("chi_square"),
    )


def turnbull_km(
    df: DataFrame,
    group_cols: Sequence[str],
    left_col: str = "left",
    right_col: str = "right",
    iters: int = 10,
) -> DataFrame:
    """Turnbull NPMLE for INTERVAL-CENSORED survival data — the
    Kaplan-Meier generalization when the event time is only known to
    lie in a window (the registry's "diagnosed between visits" case;
    the reference's index tables assume exact diagnosis dates, which
    screening-detected cohorts do not have).

    ``df`` is one row per subject with the event known to lie in
    ``(left_col, right_col]`` (the engine's counting-process
    convention everywhere): an exact event at integer time t is
    ``(t-1, t]``; a subject right-censored at c is ``left = c,
    right = NULL`` (event in ``(c, ∞)``). ``left < right`` is
    validated with a named error. Internally ∞ is the IEEE +inf
    sentinel, never NULL — NULL join keys silently drop rows.

    Algorithm (Turnbull 1976, EM form), entirely on integer lattices
    so the DuckDB oracle replays bit-exact:

    1. Support ("innermost") intervals per group via the classic
       endpoint sweep: merge distinct left endpoints (type L) and
       right endpoints (type R; censoring contributes one ∞-R), sort
       by (value, R-before-L at ties); every R whose predecessor is
       an L opens the innermost interval ``(q, p]``. Every
       observation contains at least one innermost interval (the
       Turnbull lemma — enforced with a named error inside the
       membership join's left-join guard).
    2. EM on UNNORMALIZED integer masses m_j (micro-lattice, init
       1e6 ≡ 1.0 per support): the E-step weight α_cj = m_j / Σ_{k∈c}
       m_k is scale-invariant, so no per-iteration normalization is
       needed and every per-cell contribution w_c·α_cj is rounded to
       the micro lattice before the order-independent long sum.
    3. The reported curve is the product-limit of the FINAL
       imputation: expected events d_j = Σ_{finite-interval cells}
       w_c·α_cj land on each support's right endpoint p_j; at-risk
       Y(p_j) = Σ_{p_k ≥ p_j} d_k + #censored with c ≥ p_j
       (right-censored subjects enter the at-risk denominator
       analytically, never the imputation). The survival product uses
       ``km_curve``'s exact arithmetic (micro log-lattice prefix sum,
       d == Y pins S = 0), so the all-exact-events + right-censoring
       reduction is BIT-EQUAL to ``km_curve.survival`` (pinned in
       tests); with genuinely interval-censored data the curve
       converges to the NPMLE as ``iters`` grows (EM is globally
       convergent here; masses move geometrically).

    Scale shape: subjects collapse to per-(group, left, right) cells
    in ONE map-side-combined aggregate; supports come from a window
    over the per-group ENDPOINT lattice (≤ 2·#cells + 1 rows, bounded
    by the visit grid by contract — never raw subjects); the
    membership join broadcasts the support lattice; each EM iteration
    is one join + two hash aggregates over the membership table with
    a ``localCheckpoint`` of the (lattice-sized) mass frame to
    truncate lineage. Nothing driver-side, nothing iterates over raw
    rows.

    Returns one row per (group, finite support interval): q_lo, time
    (= p_j), mass (normalized NPMLE mass, 6 dp; 1 − Σ mass is the
    tail mass beyond the last right endpoint), n_event_exp,
    n_risk_exp (6 dp), survival (6 dp).
    """
    if iters < 1:
        raise ValueError("turnbull_km: iters must be >= 1")
    g = list(group_cols)
    inf = F.lit(float("inf"))
    L = F.col(left_col).cast("double")
    R = F.col(right_col).cast("double")

    bad_iv = F.when(
        L.isNull() | (R.isNotNull() & (L >= R)),
        F.raise_error(
            F.lit(
                "turnbull_km: every interval needs a non-NULL left "
                "and left < right (right NULL = right-censored)"
            )
        ).cast("double"),
    ).otherwise(L)
    cells = df.select(
        *g,
        bad_iv.alias("_L"),
        F.coalesce(R, inf).alias("_Rk"),
    ).groupBy(*g, "_L", "_Rk").agg(F.count(F.lit(1)).alias("_w"))
    cells = cells.localCheckpoint(eager=False)

    # endpoint sweep -> innermost (Turnbull) support intervals
    lefts = cells.select(
        *g, F.col("_L").alias("_v"), F.lit(0).alias("_isr")
    ).distinct()
    rights = cells.select(
        *g, F.col("_Rk").alias("_v"), F.lit(1).alias("_isr")
    ).distinct()
    ends = lefts.unionAll(rights)
    # R sorts before L at the same value so (v, v] never forms; +inf
    # sorts after every finite value natively
    sweep = Window.partitionBy(*g).orderBy(
        F.col("_v").asc(), F.col("_isr").desc()
    )
    supports = (
        ends.withColumn("_pisr", F.lag("_isr").over(sweep))
        .withColumn("_pv", F.lag("_v").over(sweep))
        .filter((F.col("_isr") == 1) & (F.col("_pisr") == 0))
        .select(*g, F.col("_pv").alias("_q"), F.col("_v").alias("_pk"))
    )
    supports = supports.localCheckpoint(eager=False)

    # membership: support (q, pk] ⊆ observation (L, Rk]. LEFT join +
    # guard: a cell matching no support violates the Turnbull lemma
    # (malformed input) — named error, not a silent drop.
    c = cells.alias("c")
    s = supports.alias("s")
    cond = (F.col("s._q") >= F.col("c._L")) & (
        F.col("s._pk") <= F.col("c._Rk")
    )
    for k in g:
        cond = (F.col(f"c.{k}") == F.col(f"s.{k}")) & cond
    memb = c.join(F.broadcast(s), cond, "left").select(
        *[F.col(f"c.{k}") for k in g],
        F.col("c._L").alias("_L"),
        F.col("c._Rk").alias("_Rk"),
        F.col("c._w").alias("_w"),
        F.when(
            F.col("s._q").isNull(),
            F.raise_error(
                F.lit(
                    "turnbull_km: an observation interval contains "
                    "no support interval — malformed input"
                )
            ).cast("double"),
        ).otherwise(F.col("s._q")).alias("_q"),
        F.col("s._pk").alias("_pk"),
    )
    memb = memb.localCheckpoint(eager=False)

    micro6 = F.lit(1000000.0)
    # r11 driver-solve of the EM loop (driverfit.py discipline): the
    # membership table is LATTICE-sized (cells × contained supports,
    # bounded by the visit grid), yet each distributed EM iteration
    # paid 3 fixed-latency job layers (join + two hash aggregates)
    # over it. When memb is bounded, collect it ONCE and run the EM in
    # numpy on the identical micro lattice — the same long*long
    # product, long→double division, HALF_UP rounding and exact long
    # scatter-sums, and the support set derived from memb's distinct
    # (group, _q) keys exactly as the inner join keeps it — so the
    # final masses are bit-identical longs and the UNCHANGED
    # distributed tail below (final E-step, curve lattice) produces
    # bit-identical rows (pinned in tests/test_driverfit.py). The
    # collect also fires the two in-plan guards (bad interval / no
    # containing support) at the same "at execution" point. Null or
    # NaN group keys fall back: Spark's join/groupBy null-key
    # semantics differ from positional numpy indexing.
    m = None
    _mp = collect_bounded(memb, notnull_cols=[*g, "_L", "_Rk", "_w", "_q"])
    if _mp is not None and len(_mp) > 0:
        import numpy as np

        cell_idx = (
            _mp.groupby([*g, "_L", "_Rk"], sort=False).ngroup().to_numpy()
        )
        sup_key = _mp.groupby([*g, "_q"], sort=False)
        sup_idx = sup_key.ngroup().to_numpy()
        n_cell = int(cell_idx.max()) + 1
        n_sup = int(sup_idx.max()) + 1
        wv = _mp["_w"].to_numpy().astype(np.int64)
        mv = np.full(n_sup, 1000000, dtype=np.int64)
        for _ in range(iters):
            den = np.zeros(n_cell, dtype=np.int64)
            np.add.at(den, cell_idx, mv[sup_idx])
            with np.errstate(over="ignore"):
                wm = wv * mv[sup_idx]
            val = round_half_up(
                wm.astype(np.float64)
                / den[cell_idx].astype(np.float64)
                * 1e6
            ).astype(np.int64)
            new_m = np.zeros(n_sup, dtype=np.int64)
            np.add.at(new_m, sup_idx, val)
            mv = new_m
        # r11 full curve twin: with the masses in hand, the final
        # E-step, the censored-cell lattice, both grouped prefix
        # passes and every at-risk/log-term long are the SAME
        # exact-lattice arithmetic over the already-collected memb
        # rows — run them here and hand the float tail back to
        # Spark as the identical expressions over identical longs
        # (the _km_driver_curve pattern), skipping the ~8
        # fixed-latency jobs of the distributed tail. Bit-equal
        # rows pinned in tests/test_driverfit.py.
        den = np.zeros(n_cell, dtype=np.int64)
        np.add.at(den, cell_idx, mv[sup_idx])
        with np.errstate(over="ignore"):
            wm = wv * mv[sup_idx]
        alpha = round_half_up(
            wm.astype(np.float64)
            / den[cell_idx].astype(np.float64)
            * 1e6
        ).astype(np.int64)
        rk = _mp["_Rk"].to_numpy(dtype=np.float64)
        dsup = np.zeros(n_sup, dtype=np.int64)
        fin = rk != np.inf
        np.add.at(dsup, sup_idx[fin], alpha[fin])
        # support metadata: first memb row of each support (the
        # ngroup(sort=False) / drop_duplicates order identity)
        sup_first = (
            _mp.reset_index()
            .groupby([*g, "_q"], sort=False)["index"]
            .first()
            .to_numpy()
        )
        sup_pk = _mp["_pk"].to_numpy(dtype=np.float64)[sup_first]
        sup_q = _mp["_q"].to_numpy(dtype=np.float64)[sup_first]
        # group codes shared between support and censored rows
        if g:
            gcode_all = _mp.groupby(list(g), sort=False).ngroup()
            sgrp = gcode_all.to_numpy()[sup_first]
        else:
            sgrp = np.zeros(n_sup, dtype=np.int64)
        # per-group total mass (all supports, incl. the ∞ tail)
        n_grp = int(sgrp.max()) + 1 if n_sup else 0
        mtot = np.zeros(n_grp, dtype=np.int64)
        np.add.at(mtot, sgrp, mv)
        # censored cells: one row per distinct cell with _Rk = ∞
        cell_first = (
            _mp.reset_index()
            .groupby([*g, "_L", "_Rk"], sort=False)["index"]
            .first()
            .to_numpy()
        )
        c_rk = rk[cell_first]
        cen_mask = c_rk == np.inf
        cen_rows = cell_first[cen_mask]
        cen_t = _mp["_L"].to_numpy(dtype=np.float64)[cen_rows]
        cen_w = wv[cen_rows]
        cen_g = (
            gcode_all.to_numpy()[cen_rows]
            if g
            else np.zeros(len(cen_rows), dtype=np.int64)
        )
        # curve lattice = finite supports + censored cells,
        # ordered per group by (t, support-before-censor)
        fs = np.flatnonzero(sup_pk != np.inf)
        lat_g = np.concatenate([sgrp[fs], cen_g])
        lat_t = np.concatenate([sup_pk[fs], cen_t])
        lat_sup = np.concatenate(
            [
                np.ones(len(fs), dtype=np.int64),
                np.zeros(len(cen_rows), dtype=np.int64),
            ]
        )
        lat_d = np.concatenate(
            [dsup[fs], np.zeros(len(cen_rows), dtype=np.int64)]
        )
        lat_cen = np.concatenate(
            [np.zeros(len(fs), dtype=np.int64), cen_w]
        )
        lat_sidx = np.concatenate(
            [fs, np.full(len(cen_rows), -1, dtype=np.int64)]
        )
        order = np.lexsort((1 - lat_sup, lat_t, lat_g))
        lat_g, lat_t, lat_sup, lat_d, lat_cen, lat_sidx = (
            a[order]
            for a in (
                lat_g, lat_t, lat_sup, lat_d, lat_cen, lat_sidx
            )
        )
        newg = np.ones(len(lat_g), dtype=bool)
        if len(lat_g) > 1:
            newg[1:] = lat_g[1:] != lat_g[:-1]
        gstarts = np.flatnonzero(newg)
        glen = np.diff(np.append(gstarts, len(lat_g)))

        def expref(v):
            pre = np.cumsum(v)
            pre = np.concatenate(([np.int64(0)], pre[:-1]))
            return pre - np.repeat(pre[gstarts], glen)

        def gtot(v):
            return np.repeat(np.add.reduceat(v, gstarts), glen)

        db = expref(lat_d)
        cenb = expref(lat_cen)
        ysn = gtot(lat_d) - db
        yc = gtot(lat_cen) - cenb
        d_dbl = lat_d / 1e6
        y_dbl = ysn / 1e6 + yc
        with np.errstate(divide="ignore", invalid="ignore"):
            lt = np.where(
                (d_dbl > 0) & (d_dbl < y_dbl),
                round_half_up(
                    np.log(
                        1.0
                        - np.where(
                            (d_dbl > 0) & (d_dbl < y_dbl),
                            d_dbl,
                            0.0,
                        )
                        / np.where(y_dbl > 0, y_dbl, 1.0)
                    )
                    * 1e6
                ).astype(np.int64),
                np.int64(0),
            )
        dall = (
            (d_dbl > 0) & (d_dbl == y_dbl)
        ).astype(np.int64)
        lt_in = expref(lt) + lt
        dall_in = expref(dall) + dall

        keep = lat_sup == 1
        sidx = lat_sidx[keep]
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        hdr = _mp.iloc[sup_first[sidx]][list(g)].reset_index(
            drop=True
        )
        hdr["_q"] = sup_q[sidx]
        hdr["_t"] = sup_pk[sidx]
        hdr["_m"] = mv[sidx]
        hdr["_mtot"] = mtot[lat_g[keep]]
        hdr["_d"] = lat_d[keep]
        hdr["_ysn"] = ysn[keep]
        hdr["_yc"] = yc[keep]
        hdr["_lt"] = lt_in[keep]
        hdr["_dall"] = dall_in[keep]
        gfields = [
            f for f in memb.schema.fields if f.name in list(g)
        ]
        schema = StructType(
            gfields
            + [
                StructField("_q", DoubleType()),
                StructField("_t", DoubleType()),
            ]
            + [
                StructField(c, LongType())
                for c in (
                    "_m", "_mtot", "_d", "_ysn", "_yc", "_lt",
                    "_dall",
                )
            ]
        )
        hframe = df.sparkSession.createDataFrame(hdr, schema)
        micro6 = F.lit(1000000.0)
        return hframe.select(
            *g,
            F.col("_q").alias("q_lo"),
            F.col("_t").alias("time"),
            F.round(F.col("_m") / F.col("_mtot"), 6).alias("mass"),
            F.round(F.col("_d") / micro6, 6).alias("n_event_exp"),
            F.round(
                F.col("_ysn") / micro6 + F.col("_yc"), 6
            ).alias("n_risk_exp"),
            F.when(F.col("_dall") > 0, F.lit(0.0))
            .otherwise(
                F.round(F.exp(F.col("_lt") / micro6), 6)
            )
            .alias("survival"),
        )
    if m is None:
        # EM on unnormalized micro-lattice masses, init 1.0 per
        # support. Each iteration adds a fixed 3-op layer over the
        # checkpointed membership table, so short EM runs keep pure
        # lineage; long runs truncate every 4th iteration (the mass
        # frame is lattice-sized).
        m = supports.select(*g, "_q", F.lit(1000000).alias("_m"))
        for it in range(iters):
            j = memb.join(m, [*g, "_q"])
            denom = j.groupBy(*g, "_L", "_Rk").agg(
                F.sum("_m").alias("_den")
            )
            j = j.join(denom, [*g, "_L", "_Rk"])
            m = j.groupBy(*g, "_q").agg(
                F.sum(
                    F.round(
                        F.col("_w") * F.col("_m") / F.col("_den")
                        * micro6,
                        0,
                    ).cast("long")
                ).alias("_m")
            )
            if (it + 1) % 4 == 0 and it + 1 < iters:
                m = m.localCheckpoint(eager=False)

    # final E-step: expected events per support from FINITE intervals
    # only (right-censored subjects are at-risk, never imputed)
    jf = memb.join(m, [*g, "_q"])
    den_f = jf.groupBy(*g, "_L", "_Rk").agg(F.sum("_m").alias("_den"))
    d_sup = (
        jf.join(den_f, [*g, "_L", "_Rk"])
        .filter(F.col("_Rk") != inf)
        .groupBy(*g, "_q")
        .agg(
            F.sum(
                F.round(
                    F.col("_w") * F.col("_m") / F.col("_den") * micro6,
                    0,
                ).cast("long")
            ).alias("_d")
        )
    )
    mass_tot = m.groupBy(*g).agg(F.sum("_m").alias("_mtot"))
    sup_d = (
        supports.join(m, [*g, "_q"])
        .join(d_sup, [*g, "_q"], "left")
        .join(mass_tot, g)
        .withColumn("_d", F.coalesce(F.col("_d"), F.lit(0)))
    )

    # curve lattice: finite supports carry d at time pk; censored
    # cells carry their count at time L (at risk through that time)
    curve_pts = sup_d.filter(F.col("_pk") != inf).select(
        *g, F.col("_pk").alias("_t"), "_q", "_d", "_m", "_mtot",
        F.lit(0).cast("long").alias("_cen"), F.lit(1).alias("_issup"),
    )
    cen_pts = (
        cells.filter(F.col("_Rk") == inf)
        .select(
            *g, F.col("_L").alias("_t"),
            F.lit(None).cast("double").alias("_q"),
            F.lit(0).cast("long").alias("_d"),
            F.lit(0).cast("long").alias("_m"),
            F.lit(0).cast("long").alias("_mtot"),
            F.col("_w").alias("_cen"), F.lit(0).alias("_issup"),
        )
    )
    lat = curve_pts.unionAll(cen_pts)
    # tie-break: the support row sorts BEFORE a censor row at the
    # same time, so the strict-prefix complement _ctot - _cenb keeps
    # a subject censored at exactly p in the at-risk set (the km
    # convention: censoring happens after events at the same time).
    # (group, _t, _issup) is unique, and the struct's lexicographic
    # order (t asc, then support-before-censor) is a total order for
    # ARBITRARY double endpoints — the former 2t+(1−issup) fold was
    # only total when event times were ≥1 apart (ADVICE r07).
    lat = lat.withColumn(
        "_ord",
        F.struct(
            F.col("_t").alias("t"),
            (F.lit(1) - F.col("_issup")).alias("cen_after"),
        ),
    )
    lat = grouped_prefix_sum(
        lat, g, "_ord", ["_d", "_cen"], ["_db", "_cenb"]
    )
    tot = lat.groupBy(*g).agg(
        F.sum("_d").alias("_dtot"), F.sum("_cen").alias("_ctot")
    )
    lat = lat.join(tot, g)
    # suffix sums: events imputed at times >= t, plus censored with
    # censor time >= t, are still at risk entering time t
    d_dbl = F.col("_d") / micro6
    y_dbl = (F.col("_dtot") - F.col("_db")) / micro6 + (
        F.col("_ctot") - F.col("_cenb")
    )
    lat = (
        lat.withColumn(
            "_lt",
            F.when(
                (d_dbl > 0) & (d_dbl < y_dbl),
                _micro(F.log(F.lit(1.0) - d_dbl / y_dbl)),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_dall",
            F.when((d_dbl > 0) & (d_dbl == y_dbl), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .withColumn("_y", y_dbl)
    )
    lat = grouped_prefix_sum(
        lat, g, "_ord", ["_lt", "_dall"], ["_lt0", "_dall0"]
    )
    lt = F.col("_lt0") + F.col("_lt")
    dall = F.col("_dall0") + F.col("_dall")
    return (
        lat.filter(F.col("_issup") == 1)
        .select(
            *g,
            F.col("_q").alias("q_lo"),
            F.col("_t").alias("time"),
            F.round(F.col("_m") / F.col("_mtot"), 6).alias("mass"),
            F.round(F.col("_d") / micro6, 6).alias("n_event_exp"),
            F.round(F.col("_y"), 6).alias("n_risk_exp"),
            F.when(dall > 0, F.lit(0.0))
            .otherwise(F.round(F.exp(lt / micro6), 6))
            .alias("survival"),
        )
    )


def aalen_additive(
    df: DataFrame,
    group_cols: Sequence[str],
    x_cols: Sequence[str],
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Aalen ADDITIVE hazards model — the time-varying-effect
    complement to Cox: λ(t|x) = β₀(t) + Σ_j β_j(t)·x_j, estimated by
    least-squares hazard increments at each event time (Aalen 1989):

        dB(t_k) = (Xᵏ'Xᵏ)⁻¹ Xᵏ' dN(t_k)
        Var(dB)_jj = (A⁻¹ M A⁻¹)_jj,  M = Σ_{events at t_k} x x'

    where Xᵏ stacks (1, x) over subjects AT RISK at t_k. Where
    ``cox_ph`` forces one constant log-hazard ratio (and is pinned
    biased under a planted time-varying effect — see
    test_cox_td_recovers_time_varying_effect), B_j(t)'s slope IS the
    effect trajectory.

    Distributed shape — no per-time regression ever touches raw rows:
    the Gram matrix at t_k is a SUFFIX sum over subjects with
    duration ≥ t_k, so subjects collapse once to per-(group, time)
    moment cells (counts exact; every cross-moment x_a·x_b rounded
    per-subject to the nano lattice before the order-independent long
    sum), one ``grouped_prefix_sum`` pass turns cells into at-risk
    Gram matrices (total − strict prefix), and the p+1 ≤ 3 linear
    solve is the closed-form ADJUGATE over lattice values — pure JVM
    expressions the DuckDB oracle replays bit-exact (which is why
    ``len(x_cols)`` is restricted to 1 or 2; larger panels need the
    same cofactor expansion one size up). Increments land on the
    micro lattice, cumulative coefficients and their Aalen variances
    come from a second prefix pass.

    Estimation stops at the first singular Gram matrix (det ≤ 1e-6
    on the lattice — the deterministic analog of the standard Aalen
    rank check when the at-risk set loses covariate rank): later rows
    keep n_risk/n_event but report NULL coefficients.

    Returns one row per (group, event time): time, n_risk, n_event,
    then per coefficient c ∈ {intercept, *x_cols}: ``{c}_incr``
    (dB_c, 6 dp), ``{c}_cum`` (B_c, 6 dp), ``{c}_se`` (sqrt of the
    cumulated Aalen variance, 6 dp).
    """
    p = len(x_cols)
    if p not in (1, 2):
        raise ValueError(
            "aalen_additive: 1 or 2 covariate columns supported "
            f"(closed-form adjugate), got {p}"
        )
    g = list(group_cols)
    n = p + 1  # design includes the intercept
    names = ["intercept", *x_cols]
    nano = F.lit(1000000000.0)
    ev = F.col(event_col).cast("long")

    def xv(i: int) -> Column:
        return F.lit(1.0) if i == 0 else F.col(x_cols[i - 1]).cast(
            "double"
        )

    # per-subject lattice terms for every Gram entry (i <= j) and the
    # event-side copies; (0,0) entries stay exact longs
    aggs = []
    for i in range(n):
        for j in range(i, n):
            if i == 0 and j == 0:
                aggs.append(F.count(F.lit(1)).alias("s_0_0"))
                aggs.append(F.sum(ev).alias("e_0_0"))
            else:
                term = F.round(xv(i) * xv(j) * nano, 0).cast("long")
                aggs.append(F.sum(term).alias(f"s_{i}_{j}"))
                aggs.append(
                    F.sum(F.when(ev == 1, term).otherwise(F.lit(0)))
                    .alias(f"e_{i}_{j}")
                )
    cells = df.groupBy(*g, duration_col).agg(*aggs)

    scols = [f"s_{i}_{j}" for i in range(n) for j in range(i, n)]
    cells = grouped_prefix_sum(
        cells, g, duration_col, scols, [c + "_b" for c in scols]
    )
    tot = cells.groupBy(*g).agg(
        *[F.sum(c).alias(c + "_t") for c in scols]
    )
    cells = cells.join(tot, g)

    def mat_a(i: int, j: int) -> Column:
        key = f"s_{min(i, j)}_{max(i, j)}"
        suf = F.col(key + "_t") - F.col(key + "_b")
        return suf.cast("double") if (i, j) == (0, 0) else suf / nano

    def mat_m(i: int, j: int) -> Column:
        key = f"e_{min(i, j)}_{max(i, j)}"
        c = F.col(key)
        return c.cast("double") if (i, j) == (0, 0) else c / nano

    A = [[mat_a(i, j) for j in range(n)] for i in range(n)]
    M = [[mat_m(i, j) for j in range(n)] for i in range(n)]
    v = [M[i][0] for i in range(n)]

    if n == 2:
        det = A[0][0] * A[1][1] - A[0][1] * A[1][0]
        adj = [[A[1][1], -A[0][1]], [-A[1][0], A[0][0]]]
    else:
        det = (
            A[0][0] * (A[1][1] * A[2][2] - A[1][2] * A[2][1])
            - A[0][1] * (A[1][0] * A[2][2] - A[1][2] * A[2][0])
            + A[0][2] * (A[1][0] * A[2][1] - A[1][1] * A[2][0])
        )
        adj = [
            [
                A[1][1] * A[2][2] - A[1][2] * A[2][1],
                A[0][2] * A[2][1] - A[0][1] * A[2][2],
                A[0][1] * A[1][2] - A[0][2] * A[1][1],
            ],
            [
                A[1][2] * A[2][0] - A[1][0] * A[2][2],
                A[0][0] * A[2][2] - A[0][2] * A[2][0],
                A[0][2] * A[1][0] - A[0][0] * A[1][2],
            ],
            [
                A[1][0] * A[2][1] - A[1][1] * A[2][0],
                A[0][1] * A[2][0] - A[0][0] * A[2][1],
                A[0][0] * A[1][1] - A[0][1] * A[1][0],
            ],
        ]

    d_cell = F.col("e_0_0")
    # singular threshold: Gram entries live on the nano lattice, so
    # dets at or below 1e-6 are lattice noise from a rank-deficient
    # at-risk set (and would overflow the pico variance lattice via
    # 1/det^2) — the deterministic analog of a rank check, mirrored
    # in the oracle and the numpy test reference
    nonsing = det > F.lit(1e-6)
    ok = (d_cell > 0) & nonsing
    cells = cells.withColumn(
        "_sing", F.when((d_cell > 0) & ~nonsing, F.lit(1))
        .otherwise(F.lit(0)).cast("long")
    )
    for j in range(n):
        row = adj[j]
        binc = sum(
            (row[k] * v[k] for k in range(1, n)), row[0] * v[0]
        ) / det
        wmw = sum(
            (
                row[a] * M[a][b] * row[b]
                for a in range(n)
                for b in range(n)
                if (a, b) != (0, 0)
            ),
            row[0] * M[0][0] * row[0],
        ) / (det * det)
        cells = cells.withColumn(
            f"_bm_{j}",
            F.when(ok, _micro(binc)).otherwise(F.lit(0).cast("long")),
        ).withColumn(
            f"_vm_{j}",
            F.when(ok, _pico(wmw)).otherwise(F.lit(0).cast("long")),
        )

    latcols = (
        ["_sing"]
        + [f"_bm_{j}" for j in range(n)]
        + [f"_vm_{j}" for j in range(n)]
    )
    cells = grouped_prefix_sum(
        cells, g, duration_col, latcols, [c + "_b" for c in latcols]
    )
    sing = F.col("_sing_b") + F.col("_sing")  # inclusive
    out_cols = [
        *g,
        F.col(duration_col).alias("time"),
        (F.col("s_0_0_t") - F.col("s_0_0_b")).alias("n_risk"),
        F.col("e_0_0").alias("n_event"),
    ]
    micro6 = F.lit(1000000.0)
    pico12 = F.lit(1000000000000.0)
    for j, name in enumerate(names):
        bm = F.col(f"_bm_{j}")
        bc = F.col(f"_bm_{j}_b") + bm
        vc = F.col(f"_vm_{j}_b") + F.col(f"_vm_{j}")
        guard = F.when(sing > 0, F.lit(None).cast("double"))
        out_cols.append(
            guard.otherwise(F.round(bm / micro6, 6)).alias(
                f"{name}_incr"
            )
        )
        out_cols.append(
            guard.otherwise(F.round(bc / micro6, 6)).alias(
                f"{name}_cum"
            )
        )
        out_cols.append(
            guard.otherwise(F.round(F.sqrt(vc / pico12), 6)).alias(
                f"{name}_se"
            )
        )
    return cells.filter(d_cell > 0).select(*out_cols)


def rcs_basis_cols(x: Column, knots: Sequence[float]) -> list[Column]:
    """Restricted cubic spline (natural spline) basis in Harrell's
    normalization: for knots t₁ < … < t_k the basis is x plus, for
    j = 1..k−2,

        [(x−t_j)₊³ − (x−t_{k−1})₊³·(t_k−t_j)/(t_k−t_{k−1})
                   + (x−t_k)₊³·(t_{k−1}−t_j)/(t_k−t_{k−1})]
        / (t_k−t₁)²

    — cubic between knots, linear beyond the boundary knots (the
    clinically-sane tail behavior), k−1 columns total. With fewer
    than 3 knots the basis DEGENERATES TO [x] exactly (no spline
    terms), which is what pins the linear reduction of
    ``cox_ph_spline`` bit-equal to ``cox_ph``. (Column-expression twin
    of the numpy ``rcs_basis`` used by flexible_excess_hazard_fit —
    same Harrell normalization.)"""
    ks = sorted(float(k) for k in knots)
    if len(ks) != len(set(ks)):
        raise ValueError("rcs_basis_cols: knots must be distinct")
    cols = [x.cast("double")]
    if len(ks) < 3:
        return cols
    tk, tk1, t1 = ks[-1], ks[-2], ks[0]
    norm = (tk - t1) ** 2

    def plus3(v: Column, t: float) -> Column:
        d = v - F.lit(t)
        return F.when(d > 0, d * d * d).otherwise(F.lit(0.0))

    xd = x.cast("double")
    for tj in ks[:-2]:
        cols.append(
            (
                plus3(xd, tj)
                - plus3(xd, tk1) * F.lit((tk - tj) / (tk - tk1))
                + plus3(xd, tk) * F.lit((tk1 - tj) / (tk - tk1))
            )
            / F.lit(norm)
        )
    return cols


def cox_ph_spline(
    df: DataFrame,
    x_col: str,
    knots: Sequence[float],
    adjust_cols: Sequence[str] = (),
    duration_col: str = "duration",
    event_col: str = "event",
    iters: int = 8,
    ties: str = "breslow",
    return_se: bool = False,
):
    """Cox regression with the continuous exposure modelled as a
    RESTRICTED CUBIC SPLINE — the dose-response artifact registries
    publish when one constant log-HR per unit is implausible (age,
    deprivation score, tumour size): the fitted curve
    lp(x) = Σ_j β_j·rcs_j(x) IS the log-hazard-ratio shape, and the
    nonlinearity test is Wald on the spline coefficients β₂..
    (their CIs excluding 0 ⇒ the linear model is wrong).

    Pure basis expansion over ``cox_ph`` (Fine-Gray's sibling
    contract): the spline columns are ordinary derived features, so
    every scale property of cox_ph carries over unchanged — one
    nano-lattice cell aggregate + one prefix pass per Newton
    iteration, p grows from 1 to k−1 (+ adjusters), driver sees only
    p×p. With < 3 knots the basis degenerates to [x] and the fit is
    BIT-EQUAL to ``cox_ph`` on the raw column (pinned) — the linear
    reduction.

    Returns [β_basis..., β_adjust...] (and SEs under
    ``return_se=True`` — cox_ph's final-information Wald convention).
    Curve readout: ``rcs_basis_cols`` is exposed so callers evaluate
    lp(x_grid) themselves (k−1 dot products, driver-side)."""
    basis = rcs_basis_cols(F.col(x_col), knots)
    names = [f"_rcs_{j}" for j in range(len(basis))]
    out = df
    for n_, c in zip(names, basis):
        out = out.withColumn(n_, c)
    return cox_ph(
        out,
        [*names, *adjust_cols],
        duration_col,
        event_col,
        iters=iters,
        ties=ties,
        return_se=return_se,
    )


def apc_trend(
    df: DataFrame,
    group_cols: Sequence[str],
    period_col: str = "period",
    cases_col: str = "cases",
    persontime_col: str = "person_time",
) -> DataFrame:
    """Annual percent change (APC) in rates — the registry trend
    statistic (NCI/joinpoint's single-segment form): OLS of
    ln(rate_p) on the period index, APC = 100·(e^β − 1), normal-
    approximation 95% CI from the OLS slope SE (se² = σ̂²/S_xx,
    σ̂² = RSS/(n−2); the z-CI convention is documented — joinpoint's
    small-sample t quantile is not closed-form SQL).

    ``df`` is one row per (group, period) observation or finer —
    rows collapse to per-(group, period) cells first (exact long
    sums of ``cases_col`` and ``persontime_col``), then each cell's
    ln rate lands on the micro lattice, and ONE moment aggregate per
    group (n, Σx, Σxx, Σy, Σxy, Σyy as exact longs) yields the
    closed-form slope/SE — the ``regression_by`` contract plus the
    residual variance. Periods with zero cases or zero person-time
    have no ln rate: named error (drop or aggregate them upstream —
    silently skipping periods would bias the trend).

    Returns one row per group: n_periods, slope (ln-rate per period
    unit, 6 dp), apc_pct, apc_lower, apc_upper (6 dp; NULL when
    n_periods < 3 or the period axis is degenerate).
    """
    g = list(group_cols)
    cases = F.sum(F.col(cases_col).cast("long")).alias("_cases")
    pt = F.sum(F.col(persontime_col).cast("long")).alias("_pt")
    cells = df.groupBy(*g, period_col).agg(cases, pt)
    bad = (F.col("_cases") <= 0) | (F.col("_pt") <= 0)
    lnrate = F.when(
        bad,
        F.raise_error(
            F.lit(
                "apc_trend: every period needs cases > 0 and "
                "person_time > 0 (aggregate or drop empty periods "
                "upstream)"
            )
        ).cast("long"),
    ).otherwise(_micro(F.log(F.col("_cases") / F.col("_pt"))))
    x = F.col(period_col).cast("long")
    cells = cells.withColumn("_y", lnrate)
    m = cells.groupBy(*g).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(x * x).alias("_sxx"),
        F.sum(F.col("_y")).alias("_sy"),
        F.sum(x * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    micro6 = F.lit(1000000.0)
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    sy = F.col("_sy") / micro6
    sxy = F.col("_sxy") / micro6
    syy = F.col("_syy") / micro6 / micro6
    sxx_c = sxx - sx * sx / n
    sxy_c = sxy - sx * sy / n
    syy_c = syy - sy * sy / n
    slope = sxy_c / sxx_c
    rss = syy_c - slope * sxy_c
    # FP cancellation can leave a tiny negative RSS on a perfect fit
    sigma2 = F.greatest(rss, F.lit(0.0)) / (n - F.lit(2.0))
    se = F.sqrt(sigma2 / sxx_c)
    ok = (F.col("_n") >= 3) & (sxx_c > 0)
    apc = lambda b: F.lit(100.0) * (F.exp(b) - F.lit(1.0))  # noqa: E731
    z = F.lit(1.96)
    return m.select(
        *g,
        F.col("_n").alias("n_periods"),
        F.when(ok, F.round(slope, 6)).alias("slope"),
        F.when(ok, F.round(apc(slope), 6)).alias("apc_pct"),
        F.when(ok, F.round(apc(slope - z * se), 6)).alias("apc_lower"),
        F.when(ok, F.round(apc(slope + z * se), 6)).alias("apc_upper"),
    )


def lexis_expand(
    df: DataFrame,
    age_col: str,
    time_col: str,
    duration_col: str,
    event_col: str,
    age_breaks: Sequence[float],
    period_breaks: Sequence[float],
) -> DataFrame:
    """Lexis-diagram episode splitting — the registry ETL primitive
    behind every age×period rate table (and the person-time input to
    ``age_standardized_rates`` / ``apc_trend`` / SMR): each subject's
    follow-up [0, D) advances age and calendar time together (the 45°
    Lexis line), so splitting on BOTH band grids is a 1-D
    segmentation at the union of band-entry offsets

        cuts = ({age_breaks − age₀} ∪ {period_breaks − time₀})
               ∩ (0, D),  segments = consecutive pairs of
               [0, cuts…, D]

    — one per-row array expression (transform/filter/array_sort) and
    ONE explode, no join, no shuffle, no UDF: output rows =
    Σ bands-touched, bounded by the grid, and each carries its
    original columns plus the slice. The event fires only in the
    TERMINAL slice (hi == D).

    Band attribution uses the slice's START (segment [lo, hi) has
    attained age age₀+lo, period time₀+lo); a value below the first
    break yields a NULL band (emit wider breaks or filter — silent
    clamping would fabricate person-time). ``duration_col`` must be
    > 0 (named error): zero-length follow-up carries no person-time
    and standard Lexis software rejects it.

    Returns the input columns plus age_band / period_band (the band's
    lower bound), slice_start / risk_time (same units as duration),
    and event_slice.
    """
    ab = F.array(*[F.lit(float(b)) for b in sorted(set(age_breaks))])
    pb = F.array(*[F.lit(float(b)) for b in sorted(set(period_breaks))])
    if len(set(age_breaks)) < 1 or len(set(period_breaks)) < 1:
        raise ValueError("lexis_expand: breaks must be non-empty")
    a0 = F.col(age_col).cast("double")
    p0 = F.col(time_col).cast("double")
    dur = F.col(duration_col).cast("double")
    d_ok = F.when(
        dur <= 0,
        F.raise_error(
            F.lit("lexis_expand: duration must be > 0")
        ).cast("double"),
    ).otherwise(dur)

    cuts = F.array_union(
        F.transform(ab, lambda b: b - a0),
        F.transform(pb, lambda b: b - p0),
    )
    cuts = F.filter(cuts, lambda c: (c > 0) & (c < d_ok))
    cuts = F.array_sort(
        F.concat(F.array(F.lit(0.0)), cuts, F.array(d_ok))
    )
    n = F.size(cuts)
    segs = F.arrays_zip(
        F.slice(cuts, 1, n - 1).alias("lo"),
        F.slice(cuts, 2, n - 1).alias("hi"),
    )
    out = df.withColumn("_seg", F.explode(segs))
    lo = F.col("_seg.lo")
    hi = F.col("_seg.hi")
    band = lambda arr, x: F.array_max(  # noqa: E731
        F.filter(arr, lambda b: b <= x)
    )
    ev = F.col(event_col).cast("int")
    return (
        out.withColumn("age_band", band(ab, a0 + lo))
        .withColumn("period_band", band(pb, p0 + lo))
        .withColumn("slice_start", lo)
        .withColumn("risk_time", hi - lo)
        .withColumn(
            "event_slice",
            F.when(hi == F.col(duration_col).cast("double"), ev)
            .otherwise(F.lit(0)),
        )
        .drop("_seg")
    )


def prevalence_counting(
    df: DataFrame,
    group_cols: Sequence[str],
    diag_time_col: str,
    duration_col: str,
    event_col: str,
    index_time: float,
    limited_duration: float | None = None,
) -> DataFrame:
    """Limited-duration PREVALENCE by the counting method (the
    SEER/Gail approach) — the registry statistic "how many people
    diagnosed in the last L periods are alive today", estimable even
    though subjects lost to follow-up before the index date have
    unknown status:

      * diagnosed after the index date, or more than L before it →
        excluded;
      * followed past the index date without dying before it →
        counts 1 (known alive);
      * died before the index date → counts 0;
      * censored before the index date → counts the CONDITIONAL
        survival S_g(index − t_d) / S_g(c) read off the group's own
        Kaplan-Meier curve (probability of still being alive at the
        index given alive when last seen at follow-up time c).

    Scale shape: ONE ``km_curve`` per group (already cell-collapsed),
    then subjects collapse to per-(group, diag-time, duration, event)
    cells; the two curve read-offs are broadcast max(struct) argmax
    joins against the grid-sized KM frame (the
    ``survival_at_horizons`` idiom — S = 1 before the first cell,
    last value carried beyond it); each cell's weight is rounded to
    the micro lattice before the exact long sum, so the estimate
    adjudicates bit-exact. Work beyond the KM pass ∝ #cells.

    Returns one row per group: n_diagnosed (in the window),
    n_known_alive, n_known_dead, n_lost, prevalent_expected (6 dp —
    n_known_alive plus the summed conditional survivals of the
    lost).
    """
    g = list(group_cols)
    td = F.col(diag_time_col).cast("double")
    dur = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("long")
    idx = F.lit(float(index_time))
    in_window = (td <= idx) & (
        F.lit(True)
        if limited_duration is None
        else (td > idx - F.lit(float(limited_duration)))
    )
    sub = df.filter(in_window)

    km = km_curve(sub, g, duration_col, event_col).select(
        *g, F.col(duration_col).alias("_kt"), "survival"
    )

    # classify subjects; everything collapses to cells first
    followup_end = td + dur
    dead_before = (ev == 1) & (followup_end <= idx)
    alive_at = followup_end >= idx  # saw the index date alive
    cells = (
        sub.select(
            *g,
            td.alias("_td"),
            dur.alias("_dur"),
            F.when(dead_before, F.lit("dead"))
            .when(alive_at, F.lit("alive"))
            .otherwise(F.lit("lost"))
            .alias("_status"),
        )
        .groupBy(*g, "_td", "_dur", "_status")
        .agg(F.count(F.lit(1)).alias("_w"))
    )

    def read_off(frame, h: Column, out: str) -> DataFrame:
        # S at the largest curve time <= h; 1.0 before the first cell.
        # The time predicate lives IN the join condition (not a
        # post-filter) so a cell whose horizon precedes every curve
        # time keeps its row (NULL match -> S = 1), never vanishes.
        fr = frame.alias("f")
        kk = km.alias("k")
        cond = F.col("k._kt") <= h
        for c in g:
            cond = (F.col(f"f.{c}") == F.col(f"k.{c}")) & cond
        j = fr.join(F.broadcast(kk), cond, "left")
        keep = [F.col(f"f.{c}") for c in frame.columns]
        return (
            j.groupBy(*keep)
            .agg(
                F.max(
                    F.struct(F.col("k._kt"), F.col("k.survival"))
                ).alias("_best")
            )
            .withColumn(
                out, F.coalesce(F.col("_best.survival"), F.lit(1.0))
            )
            .drop("_best")
        )

    lost = cells.filter(F.col("_status") == "lost")
    lost = read_off(lost, idx - F.col("_td"), "_s_index")
    lost = read_off(lost, F.col("_dur"), "_s_cens")
    lost_w = lost.select(
        *g,
        F.when(
            F.col("_s_cens") > 0,
            _micro(
                F.col("_w") * (F.col("_s_index") / F.col("_s_cens"))
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("_wm"),
    ).groupBy(*g).agg(F.sum("_wm").alias("_lost_exp"))

    base = cells.groupBy(*g).agg(
        F.sum("_w").alias("n_diagnosed"),
        F.sum(
            F.when(F.col("_status") == "alive", F.col("_w"))
            .otherwise(0)
        ).alias("n_known_alive"),
        F.sum(
            F.when(F.col("_status") == "dead", F.col("_w"))
            .otherwise(0)
        ).alias("n_known_dead"),
        F.sum(
            F.when(F.col("_status") == "lost", F.col("_w"))
            .otherwise(0)
        ).alias("n_lost"),
    )
    return (
        base.join(lost_w, g, "left")
        .withColumn(
            "prevalent_expected",
            F.round(
                F.col("n_known_alive")
                + F.coalesce(F.col("_lost_exp"), F.lit(0))
                / F.lit(1000000.0),
                6,
            ),
        )
        .drop("_lost_exp")
    )


def _km_weighted_driver_curve(
    df, g, duration_col, event_col, weight_col
):
    """km_curve_weighted driver twin — the _km_driver_curve shape on
    the micro-lattice weight sums (the probe aggregate carries the
    same in-plan weights-must-be-positive guard, so the raise fires
    identically during the bounded collect). Bit-identical rows
    (pinned in tests/test_driverfit.py); None -> distributed."""
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    ev = F.col(event_col).cast("long")
    w_ok = F.when(
        F.col(weight_col).cast("double") <= 0,
        F.raise_error(
            F.lit("km_curve_weighted: weights must be > 0")
        ).cast("double"),
    ).otherwise(F.col(weight_col).cast("double"))
    wm = _micro(w_ok)
    probe = df.groupBy(*g, duration_col).agg(
        F.sum(F.when(ev == 1, wm).otherwise(F.lit(0))).alias("_dw"),
        F.sum(wm).alias("_rw"),
        F.sum(ev).alias("n_event"),
        F.sum(F.lit(1) - ev).alias("n_censored"),
    )
    pdfc = collect_bounded(
        probe, [*g, duration_col, "_dw", "_rw", "n_event", "n_censored"]
    )
    if pdfc is None:
        return None
    order, expref, gtot = _km_driver_prefixes(pdfc, g, duration_col)
    pdfc = pdfc.iloc[order].reset_index(drop=True)
    dwl = pdfc["_dw"].to_numpy().astype(np.int64)
    rwl = pdfc["_rw"].to_numpy().astype(np.int64)
    wtot = gtot(rwl)
    rwb = expref(rwl)
    dw = dwl / 1e6
    yw = (wtot - rwb) / 1e6
    evc = (dw > 0) & (dw < yw)
    with np.errstate(divide="ignore", invalid="ignore"):
        frac = np.where(yw > 0, dw / yw, 0.0)
    lt = np.where(
        evc,
        round_half_up(np.log(1.0 - np.where(evc, frac, 0.0)) * 1e6)
        .astype(np.int64),
        np.int64(0),
    )
    dall = ((dw > 0) & (dw == yw)).astype(np.int64)
    lt_in = expref(lt) + lt
    dall_in = expref(dall) + dall

    gfields = [
        f for f in probe.schema.fields
        if f.name in list(g) + [duration_col]
    ]
    schema = StructType(
        gfields
        + [
            StructField("_dw", LongType()),
            StructField("_rwb", LongType()),
            StructField("_wtot", LongType()),
            StructField("n_event", LongType()),
            StructField("n_censored", LongType()),
            StructField("_lt", LongType()),
            StructField("_dall", LongType()),
        ]
    )
    out_pdf = pdfc[list(g) + [duration_col]].copy()
    out_pdf["_dw"] = dwl
    out_pdf["_rwb"] = rwb
    out_pdf["_wtot"] = wtot
    out_pdf["n_event"] = pdfc["n_event"].to_numpy().astype(np.int64)
    out_pdf["n_censored"] = (
        pdfc["n_censored"].to_numpy().astype(np.int64)
    )
    out_pdf["_lt"] = lt_in
    out_pdf["_dall"] = dall_in
    hdr = df.sparkSession.createDataFrame(out_pdf, schema)
    micro6 = F.lit(1000000.0)
    dw_c = F.col("_dw") / micro6
    yw_c = (F.col("_wtot") - F.col("_rwb")) / micro6
    return hdr.select(
        *g,
        duration_col,
        F.round(yw_c, 6).alias("w_risk"),
        F.round(dw_c, 6).alias("w_event"),
        "n_event",
        "n_censored",
        F.when(F.col("_dall") > 0, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("_lt") / micro6), 6))
        .alias("survival"),
    )


def km_curve_weighted(
    df: DataFrame,
    group_cols: Sequence[str],
    duration_col: str = "duration",
    event_col: str = "event",
    weight_col: str = "weight",
) -> DataFrame:
    """WEIGHTED Kaplan-Meier product-limit estimate — the adjusted-
    curve primitive behind inverse-probability-weighted survival
    (``ipw_adjusted_km``), sampling-design weights, and stabilized-
    weight sensitivity analyses:

        S_w(t) = Π_{t'≤t} (1 − d_w(t')/Y_w(t')),
        d_w = Σ_{events at t'} w_i,  Y_w = Σ_{at risk} w_i

    Same cells→prefix shape as ``km_curve``: subjects collapse to
    per-(group, time) cells carrying micro-lattice weight sums (each
    subject's weight rounded to 1e-6 before the exact long sum), one
    ``grouped_prefix_sum`` for the weighted at-risk mass and one for
    the log-survival terms. With all weights 1 the estimate is
    BIT-EQUAL to ``km_curve.survival`` (pinned): scaled-by-1e6
    integer numerator/denominator divide to the identical double.
    Weights must be > 0 (named error — zero/negative weights silently
    corrupt the at-risk mass).

    No Greenwood column: the unweighted variance is wrong under
    weighting (the Xie-Liu sandwich is the correct one) — omitted
    rather than published misleadingly.

    Returns one row per (group, time): w_risk, w_event, n_event,
    n_censored, survival (6 dp).
    """
    g = list(group_cols)
    # r11 driver-solve fast path (see _km_weighted_driver_curve)
    _res = _km_weighted_driver_curve(
        df, g, duration_col, event_col, weight_col
    )
    if _res is not None:
        return _res

    ev = F.col(event_col).cast("long")
    w_ok = F.when(
        F.col(weight_col).cast("double") <= 0,
        F.raise_error(
            F.lit("km_curve_weighted: weights must be > 0")
        ).cast("double"),
    ).otherwise(F.col(weight_col).cast("double"))
    wm = _micro(w_ok)
    cells = df.groupBy(*g, duration_col).agg(
        F.sum(F.when(ev == 1, wm).otherwise(F.lit(0))).alias("_dw"),
        F.sum(wm).alias("_rw"),
        F.sum(ev).alias("n_event"),
        F.sum(F.lit(1) - ev).alias("n_censored"),
    )
    tot = cells.groupBy(*g).agg(F.sum("_rw").alias("_wtot"))
    cells = cells.join(tot, g)
    cells = grouped_prefix_sum(
        cells, g, duration_col, "_rw", "_rw_before"
    )
    micro6 = F.lit(1000000.0)
    dw = F.col("_dw") / micro6
    yw = (F.col("_wtot") - F.col("_rw_before")) / micro6
    cells = (
        cells.withColumn(
            "_lt",
            F.when(
                (dw > 0) & (dw < yw),
                _micro(F.log(F.lit(1.0) - dw / yw)),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_dall",
            F.when((dw > 0) & (dw == yw), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )
    cells = grouped_prefix_sum(
        cells, g, duration_col, ["_lt", "_dall"], ["_lt0", "_dall0"]
    )
    lt = F.col("_lt0") + F.col("_lt")
    dall = F.col("_dall0") + F.col("_dall")
    return cells.select(
        *g,
        duration_col,
        F.round(yw, 6).alias("w_risk"),
        F.round(dw, 6).alias("w_event"),
        "n_event",
        "n_censored",
        F.when(dall > 0, F.lit(0.0))
        .otherwise(F.round(F.exp(lt / micro6), 6))
        .alias("survival"),
    )


def ipw_adjusted_km(
    df: DataFrame,
    arm_col: str,
    covariate_cols: Sequence[str],
    duration_col: str = "duration",
    event_col: str = "event",
    iters: int = 8,
) -> DataFrame:
    """Inverse-probability-of-treatment-weighted survival curves —
    the confounder-adjusted comparison when arms differ in case mix
    (the survival-curve analog of ``mantel_haenszel``'s Simpson
    correction): a Fisher-scored logistic propensity model
    P(arm=1 | covariates) (``operators/stats.py::glm_logistic`` —
    IRLS, ONE fused nano-lattice hash aggregate per Newton
    iteration, 9-dp β rounding, so the weights and therefore the
    curves are bit-identical under any partitioning), then
    ``km_curve_weighted`` per arm under w = 1/p̂ (treated) or
    1/(1−p̂) (control).

    Newton converges quadratically with NO learning rate — the
    default 8 iterations match ``glm_logistic``'s and replace the
    former 100-pass gradient-descent fit (VERDICT r07: ~12× fewer
    full scans of the subject table for the same 9-dp-stable β̂; at
    cluster scale the propensity stage is now ≤8 column-pruned
    scans). Total data passes end-to-end: ``iters`` propensity
    aggregates + 1 weighted-KM cell aggregate.

    Propensities are clipped to [0.01, 0.99] (standard positivity
    trimming — documented, not silent: extreme weights otherwise let
    single subjects dominate the at-risk mass). Returns
    ``km_curve_weighted`` rows keyed by the arm column.
    """
    from .stats import glm_logistic

    feats = list(covariate_cols)
    arm = F.col(arm_col).cast("int")
    beta = glm_logistic(
        df.withColumn("_y", arm.cast("double")),
        feats,
        "_y",
        iters=iters,
    )
    z = F.lit(beta[0])
    for j, c in enumerate(feats):
        z = z + F.lit(beta[j + 1]) * F.col(c).cast("double")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    p = F.least(F.greatest(p, F.lit(0.01)), F.lit(0.99))
    w = F.when(arm == 1, F.lit(1.0) / p).otherwise(
        F.lit(1.0) / (F.lit(1.0) - p)
    )
    return km_curve_weighted(
        df.withColumn("_ipw", w),
        [arm_col],
        duration_col,
        event_col,
        "_ipw",
    )


def _aipw_driver_contrast(
    df,
    pdfc,
    feats,
    pfeats,
    beta,
    ts,
    bound,
    censoring,
    min_g,
    augment,
):
    """numpy twin of the ``aipw_survival_contrast`` cell pipeline
    (saturated outcome model, optional per-(arm, x) reverse-KM IPCW
    G, AIPW/Hajek combine) over the collected (arm, x-pattern,
    duration) cells — same micro/nano roundings, exact int64 sums,
    same float op order as the distributed fold; the final doubles
    (divisions, 6-dp rounds) are handed back to Spark as the
    IDENTICAL expressions over the exact longs, so the returned rows
    are bit-identical (pinned in tests/test_driverfit.py). ``pdfc``
    is screened for null/non-finite keys by the caller's bounded
    collect. Returns ``None`` (caller falls back to the distributed
    pipeline) when a pattern violates positivity — the distributed
    path carries the in-plan raise."""
    import numpy as np

    allfeats = feats + [c for c in pfeats if c not in feats]
    apat = pdfc.groupby(allfeats, sort=False).ngroup().to_numpy()
    npat_all = int(apat.max()) + 1 if len(apat) else 0
    # outcome model m̂ and the positivity check group by the OUTCOME
    # covariates only (pfeats may add propensity-only columns)
    pat = pdfc.groupby(feats, sort=False).ngroup().to_numpy()
    npat = int(pat.max()) + 1 if len(pat) else 0
    if npat_all > bound:
        raise ValueError(
            "aipw_survival_contrast: more than "
            f"{bound} distinct covariate patterns — the saturated "
            "outcome model needs discrete covariates; bin first or "
            "raise max_x_patterns explicitly"
        )
    av = pdfc["_a"].to_numpy().astype(np.int64)
    dur = pdfc["_dur"].to_numpy().astype(np.int64)
    nn = pdfc["_n"].to_numpy().astype(np.int64)
    nev = pdfc["_nev"].to_numpy().astype(np.int64)
    a1 = av == 1

    def by(codes, size, v):
        acc = np.zeros(size, dtype=np.int64)
        np.add.at(acc, codes, v)
        return acc

    g_curves = None
    if censoring == "ipcw":
        # per-(arm, feats) reverse-KM censoring survival at each
        # duration present for that key — grouped_prefix_sum twin
        kcode = pdfc.groupby(
            ["_a"] + feats, sort=False
        ).ngroup().to_numpy()
        nk = int(kcode.max()) + 1 if len(kcode) else 0
        order = np.lexsort((dur, kcode))
        ks, ds = kcode[order], dur[order]
        cn_r = nn[order]
        dcl_r = (nn - nev)[order]
        new_c = np.ones(len(ks), dtype=bool)
        if len(ks) > 1:
            new_c[1:] = (ks[1:] != ks[:-1]) | (ds[1:] != ds[:-1])
        cst = np.flatnonzero(new_c)
        cell_k = ks[cst]
        cell_d = ds[cst]
        cn = np.add.reduceat(cn_r, cst)
        dcl = np.add.reduceat(dcl_r, cst)
        new_k = np.ones(len(cst), dtype=bool)
        if len(cst) > 1:
            new_k[1:] = cell_k[1:] != cell_k[:-1]
        kst = np.flatnonzero(new_k)
        klen = np.diff(np.append(kst, len(cst)))

        def kpref(v):
            pre = np.cumsum(v)
            pre = np.concatenate(([np.int64(0)], pre[:-1]))
            return pre - np.repeat(pre[kst], klen)

        ntot = np.repeat(np.add.reduceat(cn, kst), klen)
        rm0 = kpref(cn)
        y_at = (ntot - rm0).astype(np.float64)
        dc = dcl.astype(np.float64)
        cond = (dc > 0) & (dc < y_at)
        with np.errstate(divide="ignore", invalid="ignore"):
            safe = np.where(cond, 1.0 - dc / y_at, 1.0)
        lt = np.where(
            cond,
            round_half_up(np.log(safe) * 1e6).astype(np.int64),
            np.int64(0),
        )
        gz = ((dc > 0) & (dc == y_at)).astype(np.int64)
        lt_in = kpref(lt) + lt
        gz_in = kpref(gz) + gz
        gv = np.where(gz_in > 0, 0.0, np.exp(lt_in / 1e6))
        # G read at horizon t: value at the max duration <= t,
        # clipped below at min_g; missing -> None (coalesce to 1.0)
        g_curves = (kcode, cell_k, cell_d, gv, kst, klen, nk)

    # outcome-model pattern cells don't depend on t beyond the gt
    # indicator; fold per t below
    rows = []
    nano = 1e9
    z = np.zeros(len(nn)) + beta[0]
    for j, c in enumerate(pfeats):
        z = z + beta[j + 1] * pdfc[c].to_numpy().astype(np.float64)
    p1 = 1.0 / (1.0 + np.exp(-z))
    p1 = np.minimum(np.maximum(p1, 0.01), 0.99)
    p0 = 1.0 - p1
    i1 = a1.astype(np.float64)
    i0 = (~a1).astype(np.float64)
    n_tot = int(nn.sum())
    for t in ts:
        gt = dur > t
        n1 = by(pat, npat, np.where(a1, nn, 0))
        gt1 = by(pat, npat, np.where(a1 & gt, nn, 0))
        n0 = by(pat, npat, np.where(~a1, nn, 0))
        gt0 = by(pat, npat, np.where((~a1) & gt, nn, 0))
        if ((n1 == 0) | (n0 == 0)).any():
            return None  # distributed path carries the raise
        m1 = gt1 / n1
        m0 = gt0 / n0
        if censoring == "ipcw":
            kcode, cell_k, cell_d, gv, kst, klen, nk = g_curves
            # per key, G at max duration <= t (None when no such row)
            g_at = np.full(nk, np.nan)
            ok = cell_d <= t
            if ok.any():
                # last True within each key segment
                idx = np.flatnonzero(ok)
                seg = cell_k[idx]
                # take the max cell_d per key among ok rows; cell_d is
                # sorted within key, so the LAST ok row per key wins
                last = {}
                for i_, k_ in zip(idx, seg):
                    last[k_] = i_
                for k_, i_ in last.items():
                    g_at[k_] = max(gv[i_], min_g)
            # censoring-correct the outcome model per (feats, t):
            # G1/G0 come from the (arm, feats) key of each pattern
            g1pat = np.full(npat, np.nan)
            g0pat = np.full(npat, np.nan)
            for i_ in range(len(nn)):
                gval = g_at[kcode[i_]]
                if not np.isnan(gval):
                    if a1[i_]:
                        g1pat[pat[i_]] = gval
                    else:
                        g0pat[pat[i_]] = gval
            m1 = np.minimum(
                m1 / np.where(np.isnan(g1pat), 1.0, g1pat), 1.0
            )
            m0 = np.minimum(
                m0 / np.where(np.isnan(g0pat), 1.0, g0pat), 1.0
            )
            y = gt.astype(np.float64)
            gcell = g_at[kcode]
            y = y / np.where(np.isnan(gcell), 1.0, gcell)
        else:
            y = gt.astype(np.float64)
        m1c = m1[pat]
        m0c = m0[pat]
        if augment:
            t1 = m1c + i1 * (y - m1c) / p1
            t0 = m0c + i0 * (y - m0c) / p0
            den1 = n_tot
            den0 = n_tot
        else:
            t1 = i1 * y / p1
            t0 = i0 * y / p0
            den1 = int(
                (
                    round_half_up(i1 / p1 * nano).astype(np.int64)
                    * nn
                ).sum()
            )
            den0 = int(
                (
                    round_half_up(i0 / p0 * nano).astype(np.int64)
                    * nn
                ).sum()
            )
        num1 = int(
            (round_half_up(t1 * nano).astype(np.int64) * nn).sum()
        )
        num0 = int(
            (round_half_up(t0 * nano).astype(np.int64) * nn).sum()
        )
        rows.append((int(t), n_tot, num1, num0, den1, den0))

    nano_c = F.lit(1000000000.0)
    hdr = df.sparkSession.createDataFrame(
        rows,
        "t long, n long, _num1 long, _num0 long, _den1 long, "
        "_den0 long",
    )
    if augment:
        s1 = F.col("_num1") / nano_c / F.col("_den1")
        s0 = F.col("_num0") / nano_c / F.col("_den0")
    else:
        s1 = F.col("_num1") / nano_c / (F.col("_den1") / nano_c)
        s0 = F.col("_num0") / nano_c / (F.col("_den0") / nano_c)
    return hdr.select(
        F.col("t").alias("time"),
        "n",
        F.round(s1, 6).alias("s1"),
        F.round(s0, 6).alias("s0"),
        F.round(s1 - s0, 6).alias("diff"),
    )


def aipw_survival_contrast(
    df: DataFrame,
    arm_col: str,
    covariate_cols: Sequence[str],
    times: Sequence[int],
    duration_col: str = "duration",
    event_col: str = "event",
    iters: int = 8,
    augment: bool = True,
    max_x_patterns: int = 10000,
    propensity_cols: Sequence[str] | None = None,
    censoring: str = "administrative",
    min_g: float = 0.01,
) -> DataFrame:
    """DOUBLY-ROBUST (AIPW) survival contrast at fixed horizons —
    the estimator that stays consistent if EITHER nuisance model is
    right (``ipw_adjusted_km`` needs the propensity model right;
    a stratified outcome model needs the case-mix model right):

        Ŝ_a(t) = n⁻¹ Σ_i [ m̂_a(X_i,t)
                           + 1{A_i=a}/π̂_a(X_i)·(Y_i(t) − m̂_a(X_i,t)) ]

    with Y_i(t) = 1{T_i > t}, π̂ the Fisher-scored logistic
    propensity (``glm_logistic`` — the SAME fit ``ipw_adjusted_km``
    uses, clipped to [0.01, 0.99]), and m̂_a(x,t) the SATURATED
    stratified outcome model P̂(T > t | a, x) (covariates must be
    DISCRETE patterns — enforced via ``max_x_patterns``; bin
    continuous covariates first). The augmentation term has mean 0
    when π̂ is correct, and absorbs arm/case-mix imbalance when π̂ is
    wrong but m̂ is right — the double-robustness pinned in tests.

    CENSORING: two modes.

    * ``censoring="administrative"`` (default): censoring strictly
      after ``max(times)`` — any censored subject with duration ≤
      max(times) raises a named error (otherwise Y_i(t) is not
      observable).
    * ``censoring="ipcw"``: random right-censoring handled by a
      THIRD nuisance model — the saturated per-(arm, x-pattern)
      reverse-KM censoring survival Ĝ_{a,x}(t) (the ``ipcw_km``
      machinery on the SAME cell table, zero extra data passes):
      Y_i(t) is replaced by 1{T̃_i > t}/Ĝ_{A_i,X_i}(t) (unbiased for
      S(t|a,x) since E[1{T̃>t}|a,x] = S·G under conditionally
      independent censoring) and m̂_a(x,t) becomes the per-cell IPCW
      estimate gt/(n·Ĝ). Ĝ is clipped at ``min_g`` (positivity).
      With no censoring before max(times), Ĝ ≡ 1 and the mode
      reduces EXACTLY to the administrative estimator (pinned in
      tests).

    Scale shape: subjects collapse ONCE to (arm, x-pattern,
    duration) cells (the engine's standard one-aggregate collapse);
    the propensity fit is ``iters`` fused aggregates; everything
    downstream (times grid, outcome-model cells, the AIPW combine)
    is cell-sized arithmetic on the nano lattice, so results are
    bit-identical under any partitioning.

    ``augment=False`` drops m̂ and switches to the Hajek
    normalization Σw·Y/Σw per arm — the pure-IPW reduction that
    equals ``ipw_adjusted_km``'s weighted product-limit curve under
    the administrative-censoring contract (telescoping identity;
    pinned in tests to the micro-lattice tolerance).

    ``propensity_cols`` (default: ``covariate_cols``) lets the two
    nuisance models see different covariates — how the
    double-robustness property is exercised in tests (junk
    propensity + correct outcome model still deconfounds, where
    pure IPW does not).

    Returns one row per horizon: time, n, s1 (arm 1), s0 (arm 0),
    diff = s1 − s0 (6 dp).
    """
    from .stats import glm_logistic

    feats = list(covariate_cols)
    pfeats = list(propensity_cols) if propensity_cols is not None else feats
    ts = sorted({int(t) for t in times})
    if not ts:
        raise ValueError("aipw_survival_contrast: times must be non-empty")
    tmax = ts[-1]
    arm = F.col(arm_col).cast("int")
    beta = glm_logistic(
        df.withColumn("_y", arm.cast("double")), pfeats, "_y", iters=iters
    )
    if censoring not in ("administrative", "ipcw"):
        raise ValueError(
            "aipw_survival_contrast: censoring must be "
            "'administrative' or 'ipcw'"
        )
    if censoring == "administrative":
        bad = (F.col(event_col).cast("int") == 0) & (
            F.col(duration_col).cast("long") <= F.lit(tmax)
        )
        guard = F.when(
            bad,
            F.raise_error(
                F.lit(
                    "aipw_survival_contrast: censored subject at "
                    "duration <= max(times) — the administrative-"
                    "censoring contract requires all censoring "
                    "strictly after the last horizon (use "
                    "censoring='ipcw' for random right-censoring)"
                )
            ).cast("long"),
        ).otherwise(F.lit(1).cast("long"))
    else:
        guard = F.lit(1).cast("long")
    allfeats = feats + [c for c in pfeats if c not in feats]
    cells = (
        df.select(
            arm.alias("_a"),
            *[F.col(c).cast("double").alias(c) for c in allfeats],
            F.col(duration_col).cast("long").alias("_dur"),
            guard.alias("_one"),
            F.col(event_col).cast("long").alias("_evl"),
        )
        .groupBy("_a", *allfeats, "_dur")
        .agg(F.sum("_one").alias("_n"), F.sum("_evl").alias("_nev"))
        .localCheckpoint(eager=False)
    )
    bound = int(max_x_patterns)
    # r11 driver-solve fast path (driverfit.py): the bounded collect
    # doubles as the pattern probe; the saturated model, the IPCW G
    # curves and the AIPW combine all run on the driver — bit-identical
    # (pinned in tests/test_driverfit.py); unbounded/null cohorts and
    # positivity violations use the distributed pipeline below.
    _pdfc = collect_bounded(cells, ["_a", "_dur", "_n", "_nev", *allfeats])
    if _pdfc is not None:
        _res = _aipw_driver_contrast(
            df,
            _pdfc,
            feats,
            pfeats,
            beta,
            ts,
            bound,
            censoring,
            float(min_g),
            augment,
        )
        if _res is not None:
            return _res
    npat = cells.select(*allfeats).distinct().limit(bound + 1).count()
    if npat > bound:
        raise ValueError(
            "aipw_survival_contrast: more than "
            f"{bound} distinct covariate patterns — the saturated "
            "outcome model needs discrete covariates; bin first or "
            "raise max_x_patterns explicitly"
        )
    tdf = df.sparkSession.createDataFrame([(t,) for t in ts], "t long")
    ct = cells.crossJoin(F.broadcast(tdf))
    a1 = F.col("_a") == 1
    gt = F.col("_dur") > F.col("t")
    gread = None
    if censoring == "ipcw":
        # saturated per-(arm, covariate-pattern) reverse-KM censoring
        # survival, computed on the SAME cell table (no extra data
        # pass): at-risk from one prefix over removal mass, censor
        # log terms on the micro lattice, G read at each horizon via
        # the broadcast argmax convention
        keys = ["_a", *feats]
        csrc = cells.groupBy(*keys, "_dur").agg(
            F.sum("_n").alias("_cn"),
            F.sum(F.col("_n") - F.col("_nev")).alias("_dcl"),
        )
        ctot = csrc.groupBy(*keys).agg(F.sum("_cn").alias("_ntot"))
        csrc = grouped_prefix_sum(
            csrc.join(ctot, keys), keys, "_dur", ["_cn"], ["_rm0"]
        )
        y_at = (F.col("_ntot") - F.col("_rm0")).cast("double")
        dc = F.col("_dcl").cast("double")
        csrc = csrc.withColumn(
            "_lt",
            F.when(
                (dc > 0) & (dc < y_at),
                _micro(F.log(F.lit(1.0) - dc / y_at)),
            ).otherwise(F.lit(0).cast("long")),
        ).withColumn(
            "_gz",
            F.when((dc > 0) & (dc == y_at), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        csrc = grouped_prefix_sum(
            csrc, keys, "_dur", ["_lt", "_gz"], ["_lt0", "_gz0"]
        )
        gexpr = F.when(
            F.col("_gz0") + F.col("_gz") > 0, F.lit(0.0)
        ).otherwise(
            F.exp((F.col("_lt0") + F.col("_lt")) / F.lit(1000000.0))
        )
        gcells = csrc.select(*keys, "_dur", gexpr.alias("_gv"))
        gread = (
            gcells.crossJoin(F.broadcast(tdf))
            .filter(F.col("_dur") <= F.col("t"))
            .groupBy(*keys, "t")
            .agg(
                F.max(
                    F.struct(F.col("_dur"), F.col("_gv"))
                ).alias("_b")
            )
            .select(
                *keys,
                "t",
                F.greatest(
                    F.col("_b._gv"), F.lit(float(min_g))
                ).alias("_G"),
            )
        )
    mcell = ct.groupBy(*feats, "t").agg(
        F.sum(F.when(a1, F.col("_n")).otherwise(F.lit(0))).alias("_n1"),
        F.sum(F.when(a1 & gt, F.col("_n")).otherwise(F.lit(0))).alias(
            "_gt1"
        ),
        F.sum(F.when(~a1, F.col("_n")).otherwise(F.lit(0))).alias("_n0"),
        F.sum(F.when((~a1) & gt, F.col("_n")).otherwise(F.lit(0))).alias(
            "_gt0"
        ),
    )
    no_pos = (F.col("_n1") == 0) | (F.col("_n0") == 0)
    m1 = F.when(
        no_pos,
        F.raise_error(
            F.lit(
                "aipw_survival_contrast: a covariate pattern has no "
                "subjects in one arm — positivity violated; coarsen "
                "the covariates"
            )
        ).cast("double"),
    ).otherwise(F.col("_gt1") / F.col("_n1"))
    m0 = F.col("_gt0") / F.col("_n0")
    mcell = mcell.select(
        *feats, "t", m1.alias("_m1"), m0.alias("_m0")
    )
    if gread is not None:
        # censoring-correct the outcome model: m̂_a = (gt/n)/Ĝ_a,
        # clipped into [0, 1]
        gpiv = gread.groupBy(*feats, "t").agg(
            F.max(F.when(F.col("_a") == 1, F.col("_G"))).alias("_G1"),
            F.max(F.when(F.col("_a") == 0, F.col("_G"))).alias("_G0"),
        )
        mcell = mcell.join(F.broadcast(gpiv), [*feats, "t"], "left").select(
            *feats,
            "t",
            F.least(
                F.col("_m1") / F.coalesce(F.col("_G1"), F.lit(1.0)),
                F.lit(1.0),
            ).alias("_m1"),
            F.least(
                F.col("_m0") / F.coalesce(F.col("_G0"), F.lit(1.0)),
                F.lit(1.0),
            ).alias("_m0"),
        )
    full = ct.join(F.broadcast(mcell), [*feats, "t"])
    z = F.lit(beta[0])
    for j, c in enumerate(pfeats):
        z = z + F.lit(beta[j + 1]) * F.col(c)
    p1 = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    p1 = F.least(F.greatest(p1, F.lit(0.01)), F.lit(0.99))
    p0 = F.lit(1.0) - p1
    y = gt.cast("double")
    if gread is not None:
        # per-subject IPCW outcome: 1{observed beyond t} / Ĝ_{a,x}(t)
        full = full.join(
            F.broadcast(gread), ["_a", *feats, "t"], "left"
        )
        y = y / F.coalesce(F.col("_G"), F.lit(1.0))
    i1 = a1.cast("double")
    i0 = (~a1).cast("double")
    nano = F.lit(1000000000.0)
    if augment:
        t1 = F.col("_m1") + i1 * (y - F.col("_m1")) / p1
        t0 = F.col("_m0") + i0 * (y - F.col("_m0")) / p0
        den1 = F.sum(F.col("_n"))
        den0 = F.sum(F.col("_n"))
    else:
        t1 = i1 * y / p1
        t0 = i0 * y / p0
        den1 = (
            F.sum(F.round(i1 / p1 * nano, 0).cast("long") * F.col("_n"))
            / nano
        )
        den0 = (
            F.sum(F.round(i0 / p0 * nano, 0).cast("long") * F.col("_n"))
            / nano
        )
    out = full.groupBy("t").agg(
        F.sum(F.col("_n")).alias("n"),
        (
            F.sum(F.round(t1 * nano, 0).cast("long") * F.col("_n"))
            / nano
            / den1
        ).alias("_s1"),
        (
            F.sum(F.round(t0 * nano, 0).cast("long") * F.col("_n"))
            / nano
            / den0
        ).alias("_s0"),
    )
    return out.select(
        F.col("t").alias("time"),
        "n",
        F.round("_s1", 6).alias("s1"),
        F.round("_s0", 6).alias("s0"),
        F.round(F.col("_s1") - F.col("_s0"), 6).alias("diff"),
    )


def ipcw_km(
    df: DataFrame,
    strata_cols: Sequence[str],
    times: Sequence[int],
    duration_col: str = "duration",
    event_col: str = "event",
    min_g: float = 0.01,
) -> DataFrame:
    """Inverse-probability-of-CENSORING-weighted survival at fixed
    horizons — the consistent marginal estimator when censoring
    depends on covariates (the dependent-censoring counterpart of
    ``ipw_adjusted_km``'s confounded-treatment correction):

        Ŝ(t) = 1 − n⁻¹ Σ_i 1{T_i ≤ t, Δ_i = 1} / Ĝ_{X_i}(T_i−)

    with Ĝ_x the PER-STRATUM censoring-survival curve — the reverse
    Kaplan-Meier (roles flipped: censorings are the events), so the
    censoring model is saturated on the strata. Under
    strata-dependent censoring the plain pooled KM is biased (the
    heavily-censored stratum is under-represented late); weighting
    each observed event by the inverse probability of remaining
    uncensored just before its time restores the marginal (pinned in
    tests against the analytic truth of a planted two-stratum
    cohort, plain-KM bias shown alongside).

    Tie convention (documented): Ĝ is ``km_curve`` on the flipped
    indicator, so at a tied time censorings (the flipped events)
    decrement Ĝ before the original events leave — Ĝ(t−) is read as
    the curve value at the largest FLIPPED-event time STRICTLY below
    t, which makes the two conventions agree on the left limit.
    Weights are clipped at ``1/min_g`` (positivity trimming, the
    ``ipw_adjusted_km`` convention, documented not silent).

    Scale shape: ``km_curve``'s cell collapse per stratum for Ĝ (the
    one data-sized aggregate it already owns), ONE more collapse of
    event subjects to (strata, duration) cells, a broadcast argmax
    join of those cells onto Ĝ's curve lattice for the left limit,
    and one cell-sized aggregate per horizon — the engine's standard
    cells → broadcast-grid shape, everything on the micro lattice.

    Returns one row per horizon: time, n, s_ipcw, s_plain (the
    pooled unweighted KM read at the same horizon, for the bias
    comparison), 6 dp.
    """
    s = list(strata_cols)
    ts = sorted({int(t) for t in times})
    if not ts:
        raise ValueError("ipcw_km: times must be non-empty")
    spark = df.sparkSession
    dur = F.col(duration_col).cast("long")
    ev = F.col(event_col).cast("int")

    # r11 (guide §2.6): the reverse KM, the pooled KM and the subject
    # count are independent — their bounded collects (the km_curve
    # driver twins fire at construction) overlap in driver threads
    from concurrent.futures import ThreadPoolExecutor

    def _build_g():
        return km_curve(
            df.select(*s, dur.alias("_dur"), (1 - ev).alias("_cev")),
            s,
            "_dur",
            "_cev",
        ).select(
            *s, F.col("_dur").alias("_gt"), F.col("survival").alias("_g")
        ).localCheckpoint(eager=False)

    def _build_pool():
        return km_curve(
            df.select(
                F.lit(1).alias("_g1"), dur.alias("_dur"), ev.alias("_ev")
            ),
            ["_g1"],
            "_dur",
            "_ev",
        ).select(
            F.col("_dur").alias("_kt"), F.col("survival").alias("_ks")
        )

    with ThreadPoolExecutor(max_workers=3) as _pool_ex:
        _f_g = _pool_ex.submit(_build_g)
        _f_km = _pool_ex.submit(_build_pool)
        _f_n = _pool_ex.submit(df.count)
        g_curve = _f_g.result()
        km_pool = _f_km.result()
        n_tot = _f_n.result()

    # event cells per (strata, duration)
    cells = (
        df.filter(ev == 1)
        .groupBy(*s, dur.alias("_dur"))
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    # G(T−): curve value at the largest reverse-event time < T
    # (no matching time -> 1.0: nobody censored before T)
    cond = F.col("c._dur") > F.col("g._gt")
    for k in s:
        cond = (F.col(f"c.{k}") == F.col(f"g.{k}")) & cond
    c = cells.alias("c")
    gc = g_curve.alias("g")
    best = (
        c.join(F.broadcast(gc), cond, "left")
        .groupBy(*[F.col(f"c.{k}") for k in s], F.col("c._dur"),
                 F.col("c._d"))
        .agg(
            F.max(
                F.struct(F.col("g._gt").alias("_t"),
                         F.col("g._g").alias("_gv"))
            ).alias("_b")
        )
        .select(
            F.col("c._dur").alias("_dur"),
            F.col("c._d").alias("_d"),
            F.coalesce(F.col("_b._gv"), F.lit(1.0)).alias("_gm"),
        )
    )
    gmin = F.lit(float(min_g))
    w = F.lit(1.0) / F.greatest(F.col("_gm"), gmin)
    # micro-lattice weighted event mass per duration cell
    best = best.select(
        "_dur", (F.col("_d") * _micro(w)).alias("_wm")
    ).localCheckpoint(eager=False)

    tdf = spark.createDataFrame([(t,) for t in ts], "t long")
    ipcw = (
        best.crossJoin(F.broadcast(tdf))
        .filter(F.col("_dur") <= F.col("t"))
        .groupBy("t")
        .agg(F.sum("_wm").alias("_wsum"))
    )
    # plain pooled KM (built above, overlapped) read at the horizons
    plain = (
        km_pool.crossJoin(F.broadcast(tdf))
        .filter(F.col("_kt") <= F.col("t"))
        .groupBy("t")
        .agg(F.max(F.struct(F.col("_kt"), F.col("_ks"))).alias("_b"))
        .select("t", F.col("_b._ks").alias("_sp"))
    )
    out = (
        tdf.join(ipcw, ["t"], "left")
        .join(plain, ["t"], "left")
        .select(
            F.col("t").alias("time"),
            F.lit(n_tot).cast("long").alias("n"),
            F.round(
                F.lit(1.0)
                - F.coalesce(F.col("_wsum"), F.lit(0).cast("long"))
                / F.lit(1000000.0)
                / F.lit(float(n_tot)),
                6,
            ).alias("s_ipcw"),
            F.round(F.coalesce(F.col("_sp"), F.lit(1.0)), 6).alias(
                "s_plain"
            ),
        )
    )
    return out


def conditional_logistic(
    df: DataFrame,
    set_col: str,
    feature_cols: Sequence[str],
    case_col: str = "case",
    iters: int = 8,
    return_se: bool = False,
):
    """CONDITIONAL logistic regression for matched case-control sets
    — the registry design where controls are matched to each case on
    confounders (age band, sex, region) and the set-specific
    intercepts must be conditioned out (ordinary logistic would be
    biased by the sparse per-set nuisance parameters).

    The conditional likelihood for a 1:m matched set IS the Cox
    partial-likelihood term of a single tied event time with the set
    as its stratum: exp(x_case·β)/Σ_set exp(x_j·β). So this is a
    THIN WRAPPER over ``cox_ph(strata_cols=[set], duration≡1,
    event=case)`` and inherits every scale property (one nano-lattice
    cell aggregate per Newton iteration — here one CELL PER SET —
    and a p×p driver solve). Sets with multiple cases use the
    Breslow tie approximation to the exact conditional likelihood
    (the standard software note; exact for the 1-case-per-set
    design). Sets with zero cases contribute nothing and are
    harmless.

    For 1:1 matched pairs with one binary exposure the estimate has
    the McNemar closed form β̂ = ln(n₁₀/n₀₁) over discordant pairs —
    pinned in tests.

    Returns [β…] (and Wald SEs from the final Newton information
    under ``return_se=True`` — the cox_ph convention).
    """
    prepared = df.withColumn("_dur1", F.lit(1).cast("long"))
    return cox_ph(
        prepared,
        feature_cols,
        "_dur1",
        case_col,
        iters=iters,
        ties="breslow",
        strata_cols=[set_col],
        return_se=return_se,
    )


def apc_joinpoint(
    df: DataFrame,
    group_cols: Sequence[str],
    period_col: str = "period",
    cases_col: str = "cases",
    persontime_col: str = "person_time",
    min_seg: int = 3,
) -> DataFrame:
    """TWO-SEGMENT joinpoint trend in rates — ``apc_trend``'s change-
    point extension (the NCI joinpoint model with one join): fit
    ln(rate) = β₀ + β₁·x + β₂·(x − b)₊ (continuous at the break) for
    EVERY admissible break candidate b, keep the least-squares
    winner, and report both segment APCs.

    Grid-search shape (each candidate is pure closed form — no
    iteration anywhere): cells = per-(group, period) ln rates on the
    micro lattice (zero-case periods raise, as in ``apc_trend``);
    admissible candidates (≥ ``min_seg`` periods in each segment)
    come from a per-group rank over the PERIOD lattice; cells
    cross-join the broadcast candidate list (grid² rows, still
    lattice-sized), ONE hash aggregate per (group, candidate) builds
    the exact-long normal-equation moments, the 3×3 solve is the
    closed-form adjugate (the ``aalen_additive`` pattern), and the
    winner per group is a lexicographic ``min(struct(micro-RSS,
    b))`` — deterministic tie-break toward the earlier break.
    Degenerate candidates (lattice det ≤ 1e-9) are skipped; a group
    with no admissible or no non-degenerate candidate returns NULLs.

    No segment-APC confidence intervals: NCI joinpoint's inference
    is a permutation test, not a closed form — reporting a Wald-ish
    CI here would overstate certainty (documented omission; use
    ``apc_trend`` per segment for the z-CI convention once the break
    is chosen).

    Returns one row per group: n_periods, breakpoint, slope1,
    slope2, apc1_pct, apc2_pct, rss (6 dp).
    """
    g = list(group_cols)
    cells = df.groupBy(*g, period_col).agg(
        F.sum(F.col(cases_col).cast("long")).alias("_cases"),
        F.sum(F.col(persontime_col).cast("long")).alias("_pt"),
    )
    bad = (F.col("_cases") <= 0) | (F.col("_pt") <= 0)
    lnrate = F.when(
        bad,
        F.raise_error(
            F.lit(
                "apc_joinpoint: every period needs cases > 0 and "
                "person_time > 0"
            )
        ).cast("long"),
    ).otherwise(_micro(F.log(F.col("_cases") / F.col("_pt"))))
    cells = cells.select(
        *g, F.col(period_col).cast("long").alias("_x"),
        lnrate.alias("_y"),
    )
    w = Window.partitionBy(*g).orderBy("_x")
    ranked = cells.withColumn("_i", F.row_number().over(w))
    ntab = cells.groupBy(*g).agg(F.count(F.lit(1)).alias("_np"))
    cands = (
        ranked.join(ntab, g)
        .filter(
            (F.col("_i") >= min_seg)
            & (F.col("_i") <= F.col("_np") - min_seg)
        )
        .select(*g, F.col("_x").alias("_b"))
    )
    memb = cells.join(F.broadcast(cands), g)
    z = F.greatest(F.col("_x") - F.col("_b"), F.lit(0))
    x = F.col("_x")
    y = F.col("_y")
    mom = memb.groupBy(*g, "_b").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(z).alias("_sz"),
        F.sum(x * x).alias("_sxx"),
        F.sum(x * z).alias("_sxz"),
        F.sum(z * z).alias("_szz"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(z * y).alias("_szy"),
        F.sum(y * y).alias("_syy"),
    )
    micro6 = F.lit(1000000.0)
    A = [
        [F.col("_n").cast("double"), F.col("_sx").cast("double"),
         F.col("_sz").cast("double")],
        [F.col("_sx").cast("double"), F.col("_sxx").cast("double"),
         F.col("_sxz").cast("double")],
        [F.col("_sz").cast("double"), F.col("_sxz").cast("double"),
         F.col("_szz").cast("double")],
    ]
    v = [
        F.col("_sy") / micro6,
        F.col("_sxy") / micro6,
        F.col("_szy") / micro6,
    ]
    det = (
        A[0][0] * (A[1][1] * A[2][2] - A[1][2] * A[2][1])
        - A[0][1] * (A[1][0] * A[2][2] - A[1][2] * A[2][0])
        + A[0][2] * (A[1][0] * A[2][1] - A[1][1] * A[2][0])
    )
    adj = [
        [A[1][1] * A[2][2] - A[1][2] * A[2][1],
         A[0][2] * A[2][1] - A[0][1] * A[2][2],
         A[0][1] * A[1][2] - A[0][2] * A[1][1]],
        [A[1][2] * A[2][0] - A[1][0] * A[2][2],
         A[0][0] * A[2][2] - A[0][2] * A[2][0],
         A[0][2] * A[1][0] - A[0][0] * A[1][2]],
        [A[1][0] * A[2][1] - A[1][1] * A[2][0],
         A[0][1] * A[2][0] - A[0][0] * A[2][1],
         A[0][0] * A[1][1] - A[0][1] * A[1][0]],
    ]
    beta = [
        (adj[j][0] * v[0] + adj[j][1] * v[1] + adj[j][2] * v[2]) / det
        for j in range(3)
    ]
    syy = F.col("_syy") / micro6 / micro6
    rss = syy - (beta[0] * v[0] + beta[1] * v[1] + beta[2] * v[2])
    ok = F.abs(det) > F.lit(1e-9)
    scored = mom.select(
        *g,
        F.when(
            ok,
            F.struct(
                _micro(F.greatest(rss, F.lit(0.0))).alias("rssm"),
                F.col("_b").alias("b"),
                beta[1].alias("s1"),
                (beta[1] + beta[2]).alias("s2"),
                F.col("_n").alias("np"),
            ),
        ).alias("_cand"),
    ).filter(F.col("_cand").isNotNull())
    best = scored.groupBy(*g).agg(F.min("_cand").alias("_w"))
    apc = lambda b: F.lit(100.0) * (F.exp(b) - F.lit(1.0))  # noqa: E731
    out = ntab.join(best, g, "left")
    return out.select(
        *g,
        F.col("_np").alias("n_periods"),
        F.col("_w.b").alias("breakpoint"),
        F.round(F.col("_w.s1"), 6).alias("slope1"),
        F.round(F.col("_w.s2"), 6).alias("slope2"),
        F.round(apc(F.col("_w.s1")), 6).alias("apc1_pct"),
        F.round(apc(F.col("_w.s2")), 6).alias("apc2_pct"),
        F.round(F.col("_w.rssm") / micro6, 6).alias("rss"),
    )


def cramer_det_expr(M: list) -> str:
    """Laplace-expansion determinant as an ARITHMETIC EXPRESSION
    STRING over the entry names in ``M`` (an n×n list of strings).
    The same text is handed to Spark's ``F.expr`` and spliced into
    the DuckDB oracle, so both engines parse the identical tree and
    the IEEE-double operation ORDER matches — the shared-text trick
    that keeps ``apc_joinpoint_k``'s grid search bit-replayable at
    any k without hand-mirroring 4×4 cofactors twice."""
    n = len(M)
    if n == 1:
        return M[0][0]
    parts = []
    for j in range(n):
        minor = [
            [M[i][jj] for jj in range(n) if jj != j]
            for i in range(1, n)
        ]
        sub = cramer_det_expr(minor)
        parts.append((j % 2 == 0, f"{M[0][j]} * ({sub})"))
    out = parts[0][1]
    for pos, t in parts[1:]:
        out = f"{out} {'+' if pos else '-'} {t}"
    return out


def cramer_solve_exprs(p: int) -> tuple[str, list[str]]:
    """(det, [numerator_0..numerator_{p-1}]) expression strings for a
    p×p Cramer solve over entries named ``a{j}_{k}`` (symmetric —
    only j<=k names appear) and RHS ``v{j}``. ``beta_j =
    numerator_j / det``."""
    name = lambda j, k: f"a{min(j, k)}_{max(j, k)}"  # noqa: E731
    M = [[name(j, k) for k in range(p)] for j in range(p)]
    det = cramer_det_expr(M)
    nums = []
    for j in range(p):
        Mj = [
            [f"v{r}" if c == j else M[r][c] for c in range(p)]
            for r in range(p)
        ]
        nums.append(cramer_det_expr(Mj))
    return det, nums


def apc_joinpoint_k(
    df: DataFrame,
    group_cols: Sequence[str],
    n_breaks: int = 2,
    period_col: str = "period",
    cases_col: str = "cases",
    persontime_col: str = "person_time",
    min_seg: int = 3,
) -> DataFrame:
    """k-SEGMENT-BREAK joinpoint trend in rates — ``apc_joinpoint``'s
    generalization to ``n_breaks`` joins (the NCI joinpoint model):
    fit ln(rate) = β₀ + β₁·x + Σ_m β_{m+1}·(x − b_m)₊ (continuous at
    every break, b_1 < … < b_k, each of the k+1 segments ≥
    ``min_seg`` periods) for EVERY admissible break tuple, keep the
    least-squares winner, report all segment APCs.

    Same grid-search shape as ``apc_joinpoint``, one dimension
    deeper: cells = per-(group, period) micro-lattice ln rates;
    admissible tuples come from a k-way self-join of the ranked
    PERIOD lattice (broadcast — #tuples ≈ C(#periods, k) per group,
    lattice-sized by contract, NEVER data-sized); ONE hash aggregate
    per (group, tuple) builds the exact-long (k+2)×(k+2)
    normal-equation moments; the solve is a CODEGEN'd Cramer
    expansion (``cramer_solve_exprs`` — the det/numerator expression
    text is shared verbatim with the DuckDB oracle, so the whole
    search replays bit-exact); winner per group is the
    lexicographic ``min(struct(micro-RSS, b_1..b_k))``.

    ``n_breaks=1`` reduces to ``apc_joinpoint``'s model exactly
    (same moments, same candidates; the Cramer solve is
    algebraically the adjugate solve — pinned in tests at 6 dp).

    No segment-APC confidence intervals, same documented omission as
    ``apc_joinpoint`` (NCI inference is a permutation test).

    Returns one row per group: n_periods, break_1..break_k,
    slope_1..slope_{k+1}, apc_1..apc_{k+1}_pct, rss (6 dp) — NULLs
    for a group with no admissible non-degenerate tuple.
    """
    k = int(n_breaks)
    if k < 1:
        raise ValueError("apc_joinpoint_k: n_breaks must be >= 1")
    g = list(group_cols)
    cells = df.groupBy(*g, period_col).agg(
        F.sum(F.col(cases_col).cast("long")).alias("_cases"),
        F.sum(F.col(persontime_col).cast("long")).alias("_pt"),
    )
    bad = (F.col("_cases") <= 0) | (F.col("_pt") <= 0)
    lnrate = F.when(
        bad,
        F.raise_error(
            F.lit(
                "apc_joinpoint_k: every period needs cases > 0 and "
                "person_time > 0"
            )
        ).cast("long"),
    ).otherwise(_micro(F.log(F.col("_cases") / F.col("_pt"))))
    cells = cells.select(
        *g, F.col(period_col).cast("long").alias("_x"),
        lnrate.alias("_y"),
    )
    w = Window.partitionBy(*g).orderBy("_x")
    ranked = (
        cells.withColumn("_i", F.row_number().over(w))
        .select(*g, "_x", "_i")
        .localCheckpoint(eager=False)
    )
    ntab = ranked.groupBy(*g).agg(F.max("_i").alias("_np"))
    # k-way admissible tuple join over the ranked period lattice:
    # rank gaps >= min_seg between consecutive breaks and at both ends
    cands = ranked.join(ntab, g).filter(
        (F.col("_i") >= min_seg)
        & (F.col("_i") <= F.col("_np") - k * min_seg)
    ).select(*g, F.col("_x").alias("_b1"), F.col("_i").alias("_i1"),
             "_np")
    for m in range(2, k + 1):
        nxt = ranked.select(
            *g, F.col("_x").alias(f"_b{m}"), F.col("_i").alias(f"_i{m}")
        )
        cands = cands.join(nxt, g).filter(
            (F.col(f"_i{m}") >= F.col(f"_i{m-1}") + min_seg)
            & (F.col(f"_i{m}") <= F.col("_np") - (k - m + 1) * min_seg)
        )
    bcols = [f"_b{m}" for m in range(1, k + 1)]
    cands = cands.select(*g, *bcols)

    memb = cells.join(F.broadcast(cands), g)
    p = k + 2
    regs = [F.lit(1).cast("long"), F.col("_x")]
    for m in range(1, k + 1):
        regs.append(F.greatest(F.col("_x") - F.col(f"_b{m}"), F.lit(0)))
    y = F.col("_y")
    aggs = []
    for j in range(p):
        for kk in range(j, p):
            aggs.append(F.sum(regs[j] * regs[kk]).alias(f"_m{j}_{kk}"))
    for j in range(p):
        aggs.append(F.sum(regs[j] * y).alias(f"_vy{j}"))
    aggs.append(F.sum(y * y).alias(f"_syy"))
    mom = memb.groupBy(*g, *bcols).agg(*aggs)
    micro6 = F.lit(1000000.0)
    # doubles for the Cramer text: a{j}_{k} = moment, v{j} = y-cross/1e6
    named = mom
    for j in range(p):
        for kk in range(j, p):
            named = named.withColumn(
                f"a{j}_{kk}", F.col(f"_m{j}_{kk}").cast("double")
            )
        named = named.withColumn(f"v{j}", F.col(f"_vy{j}") / micro6)
    det_s, num_s = cramer_solve_exprs(p)
    named = named.withColumn("_det", F.expr(det_s))
    betas = [F.expr(num_s[j]) / F.col("_det") for j in range(p)]
    vcols = [F.col(f"v{j}") for j in range(p)]
    syy = F.col("_syy") / micro6 / micro6
    fit = None
    for j in range(p):
        t = betas[j] * vcols[j]
        fit = t if fit is None else fit + t
    rss = syy - fit
    ok = F.abs(F.col("_det")) > F.lit(1e-9)
    slope_fields = []
    acc = betas[1]
    slope_fields.append(acc.alias("s1"))
    for m in range(1, k + 1):
        acc = acc + betas[m + 1]
        slope_fields.append(acc.alias(f"s{m+1}"))
    scored = named.select(
        *g,
        F.when(
            ok,
            F.struct(
                _micro(F.greatest(rss, F.lit(0.0))).alias("rssm"),
                *[F.col(b).alias(f"b{m+1}") for m, b in enumerate(bcols)],
                *slope_fields,
            ),
        ).alias("_cand"),
    ).filter(F.col("_cand").isNotNull())
    best = scored.groupBy(*g).agg(F.min("_cand").alias("_w"))
    apc = lambda b: F.lit(100.0) * (F.exp(b) - F.lit(1.0))  # noqa: E731
    out = ntab.join(best, g, "left")
    cols = [*g, F.col("_np").alias("n_periods")]
    for m in range(1, k + 1):
        cols.append(F.col(f"_w.b{m}").alias(f"break_{m}"))
    for m in range(1, k + 2):
        cols.append(F.round(F.col(f"_w.s{m}"), 6).alias(f"slope_{m}"))
    for m in range(1, k + 2):
        cols.append(
            F.round(apc(F.col(f"_w.s{m}")), 6).alias(f"apc_{m}_pct")
        )
    cols.append(F.round(F.col("_w.rssm") / micro6, 6).alias("rss"))
    return out.select(*cols)


def flexible_parametric_survival(
    df: DataFrame,
    x_col: str,
    interval_width: int,
    horizon: int,
    knots: Sequence[float] | None = None,
    iters: int = 60,
    duration_col: str = "duration",
    event_col: str = "event",
    max_x_patterns: int = 1000,
) -> DataFrame:
    """ALL-CAUSE Royston-Parmar flexible parametric survival — smooth
    modeled S(t|x) curves where ``km_curve`` gives steps and
    ``cox_ph`` gives no baseline shape: log hazard is a restricted
    cubic spline of log time plus a proportional covariate effect,

        d_c ~ Poisson(exp(γ₀ + s(ln t_c; γ) + β·x_c) · y_c)

    — the Poisson-split formulation (Crowther & Lambert 2014) that
    ``flexible_excess_hazard_fit`` already uses for the EXCESS-hazard
    (relative survival) case, here with a ZERO background life table
    (the all-cause specialization; the excess model degenerates to
    this exactly when expected deaths are 0).

    Scale contract unchanged: the only data-sized work is
    ``person_time_cells``'s one explode + one hash aggregate; the
    fit runs on the #x-patterns × #intervals cell frame (a bounded
    driver reduction by the same contract as the excess model); the
    returned curve is the fitted model EVALUATED on that same grid —
    h_j = exp(γ₀ + s(u_j) + βx), H = w·Σ_{j'≤j} h_{j'},
    S = exp(−H) — a #cells-row frame of closed-form reads.

    The #x-patterns bound is ENFORCED, not just documented
    (``max_x_patterns``, default 1000 — the ``diff_in_diff``/
    ``rmst_from_curve`` fail-fast convention): the curve-evaluation
    step collects ``distinct(x)``, so a continuous covariate would
    otherwise silently pull every distinct value to the driver. Bin
    continuous covariates before calling, or raise the bound
    deliberately.

    Returns one row per (x, interval): t_end, hazard, cum_hazard,
    survival (6 dp).
    """
    w = int(interval_width)
    n_iv = int(horizon) // w
    cells = person_time_cells(
        df.withColumn("_band0", F.lit(0)),
        x_col,
        "_band0",
        {0: 0},
        w,
        int(horizon),
        duration_col,
        event_col,
    ).localCheckpoint(eager=False)
    gammas, beta = flexible_excess_hazard_fit(
        cells, n_iv, w, knots=knots, iters=iters
    )
    rows = _rp_curve_eval(
        cells, gammas, beta, knots, n_iv, w, int(max_x_patterns),
        "flexible_parametric_survival",
    )
    return df.sparkSession.createDataFrame(
        rows,
        "x double, interval long, t_end long, hazard double, "
        "cum_hazard double, survival double",
    )


def _rp_curve_eval(cells, gammas, beta, knots, n_iv, w, bound, fname):
    """Shared Royston-Parmar curve evaluation: read the fitted
    (gammas, beta) back out along the interval-midpoint grid for every
    distinct x pattern. Factored out so the EXCESS model's
    relative-survival curve is BIT-EQUAL to the all-cause curve under
    a zero life table by construction — one code path. Returns plain
    tuples (x, interval, t_end, h, H, exp(−H))."""
    import math

    import numpy as np

    if knots is None:
        lo = float(math.log(0.5 * w))
        hi = float(math.log((n_iv - 0.5) * w))
        knots = [lo, (lo + hi) / 2.0, hi]
    xs = [
        r.x
        for r in cells.select("x").distinct().limit(bound + 1).collect()
    ]
    if len(xs) > bound:
        raise ValueError(
            f"{fname}: more than "
            f"{bound} distinct x patterns — the curve grid is a "
            "driver-side evaluation over distinct(x); bin continuous "
            "covariates first or raise max_x_patterns explicitly"
        )
    rows = []
    for xv in sorted(xs):
        ch = 0.0
        for j in range(n_iv):
            u = math.log((j + 0.5) * w)
            b = rcs_basis(np.array([u]), list(knots))
            s = gammas[0] + sum(
                g * float(col[0]) for g, col in zip(gammas[1:], b)
            )
            h = math.exp(s + beta * float(xv))
            ch += h * w
            rows.append(
                (
                    float(xv),
                    j,
                    (j + 1) * w,
                    round(h, 9),
                    round(ch, 6),
                    round(math.exp(-ch), 6),
                )
            )
    return rows


def royston_parmar_excess_survival(
    df: DataFrame,
    x_col: str,
    band_col: str,
    hazard_micro_by_band: dict,
    interval_width: int,
    horizon: int,
    knots: Sequence[float] | None = None,
    iters: int = 60,
    duration_col: str = "duration",
    event_col: str = "event",
    max_x_patterns: int = 1000,
) -> DataFrame:
    """Royston-Parmar EXCESS-hazard model (stpm2-style relative
    survival) — the modern registry regression standard for smooth
    net-survival curves by stage/deprivation/age (Stata stpm2 with the
    bhazard() offset; R rstpm2): the log EXCESS hazard is a restricted
    cubic spline of log time plus a proportional covariate effect,
    against the life-table background offset,

        d_c ~ Poisson(d*_c + exp(γ₀ + s(ln t_c; γ) + β·x_c) · y_c)

    — the Poisson-split formulation (Crowther & Lambert 2014) of the
    Royston & Parmar 2002 model on the excess scale. This UNIFIES the
    engine's two existing halves: ``flexible_parametric_survival``
    (the all-cause RP specialization, zero life table) and
    ``excess_hazard_fit`` (the piecewise-constant Estève/Dickman
    model); here the background offset AND the smooth log-time spline
    appear together. exp(β) is an EXCESS-hazard ratio.

    With an all-zero life table this reduces BIT-EXACTLY to
    ``flexible_parametric_survival`` (same cells, same fit, literally
    the shared ``_rp_curve_eval`` path — pinned in tests); with real
    hazards the published curve is the MODELED net survival
    R(t|x) = exp(−H_E(t|x)), the smooth companion to the
    nonparametric ``net_survival_pohar_perme``.

    Scale contract unchanged from the all-cause model: the only
    data-sized work is ``person_time_cells``'s one explode + one hash
    aggregate (exact integer cells); the fit is a driver Fisher-
    scoring reduction on the #x-patterns × #intervals frame; the
    curve is closed-form reads on the same grid. ``max_x_patterns``
    enforced as in the all-cause model.

    Returns one row per (x, interval): t_end, excess_hazard,
    cum_excess_hazard, relative_survival (6 dp).
    """
    w = int(interval_width)
    n_iv = int(horizon) // w
    cells = person_time_cells(
        df,
        x_col,
        band_col,
        hazard_micro_by_band,
        w,
        int(horizon),
        duration_col,
        event_col,
    ).localCheckpoint(eager=False)
    gammas, beta = flexible_excess_hazard_fit(
        cells, n_iv, w, knots=knots, iters=iters
    )
    rows = _rp_curve_eval(
        cells, gammas, beta, knots, n_iv, w, int(max_x_patterns),
        "royston_parmar_excess_survival",
    )
    return df.sparkSession.createDataFrame(
        rows,
        "x double, interval long, t_end long, excess_hazard double, "
        "cum_excess_hazard double, relative_survival double",
    )


def flexible_parametric_survival_td(
    df: DataFrame,
    x_col: str,
    interval_width: int,
    horizon: int,
    knots: Sequence[float] | None = None,
    iters: int = 60,
    duration_col: str = "duration",
    event_col: str = "event",
    max_x_patterns: int = 1000,
    td: bool = True,
):
    """Royston-Parmar survival with a TIME-DEPENDENT covariate effect
    — the non-PH extension of ``flexible_parametric_survival`` (the
    stpm2 ``tvc(x) dftvc(1)`` model): the log hazard gains a
    covariate × log-time interaction,

        ln h(t|x) = γ₀ + s(ln t; γ) + β·x + δ·x·(ln t − ū)

    (ū = the middle knot, centering so β stays the log-HR AT the
    time-scale middle), so the hazard ratio itself varies with time:
    ln HR(t) = β + δ·(ln t − ū). δ = 0 is exactly the PH model —
    ``td=False`` delegates to ``flexible_parametric_survival`` and a
    PH-generated cohort must fit δ̂ ≈ 0 with curves matching the PH
    model (the reduction pin, tested and oracle-checked).

    Machinery is the composition VERDICT r07 item 8 names: the
    Poisson-split cell collapse of ``flexible_parametric_survival``
    (``person_time_cells`` — the ONLY data-sized work) + one extra
    interaction column in the design, fitted by the same expected-
    information scoring core (``_excess_poisson_nr``) on the
    #x-patterns × #intervals cell frame; the curve is evaluated
    closed-form on that same grid with the same enforced
    ``max_x_patterns`` bound.

    Returns (curve, beta, delta): curve has one row per
    (x, interval) — t_end, hazard, cum_hazard, survival, loghr
    (= β + δ(u − ū), the per-unit-x log hazard ratio at that
    interval's midpoint, 6 dp).
    """
    if not td:
        curve = flexible_parametric_survival(
            df, x_col, interval_width, horizon, knots=knots,
            iters=iters, duration_col=duration_col,
            event_col=event_col, max_x_patterns=max_x_patterns,
        )
        return curve, None, 0.0

    import math

    import numpy as np

    w = int(interval_width)
    n_iv = int(horizon) // w
    cells = person_time_cells(
        df.withColumn("_band0", F.lit(0)),
        x_col,
        "_band0",
        {0: 0},
        w,
        int(horizon),
        duration_col,
        event_col,
    ).localCheckpoint(eager=False)

    if knots is None:
        lo = float(math.log(0.5 * w))
        hi = float(math.log((n_iv - 0.5) * w))
        knots = [lo, (lo + hi) / 2.0, hi]
    knots = [float(kk) for kk in knots]
    center = knots[len(knots) // 2]

    rows = sorted(cells.collect(), key=lambda r: (r.x, r.interval))
    C = len(rows)
    dvec = np.array([r.n_events for r in rows], dtype=np.float64)
    yvec = np.array([r.person_time for r in rows], dtype=np.float64)
    xs = np.array([float(r.x) for r in rows])
    u = np.log((np.array([int(r.interval) for r in rows]) + 0.5) * w)
    B = rcs_basis(u, knots)
    Z = np.column_stack([np.ones(C), B, xs, xs * (u - center)])
    theta = np.zeros(Z.shape[1])
    theta[0] = -5.0
    theta = _excess_poisson_nr(
        dvec, yvec, np.zeros(C), Z, theta, iters, 1.0
    )
    gammas = [float(t) for t in theta[:-2]]
    beta = float(theta[-2])
    delta = float(theta[-1])

    bound = int(max_x_patterns)
    xvals = [
        r.x
        for r in cells.select("x").distinct().limit(bound + 1).collect()
    ]
    if len(xvals) > bound:
        raise ValueError(
            "flexible_parametric_survival_td: more than "
            f"{bound} distinct x patterns — the curve grid is a "
            "driver-side evaluation over distinct(x); bin continuous "
            "covariates first or raise max_x_patterns explicitly"
        )
    out = []
    for xv in sorted(xvals):
        ch = 0.0
        for j in range(n_iv):
            uj = math.log((j + 0.5) * w)
            b = rcs_basis(np.array([uj]), list(knots))
            s = gammas[0] + sum(
                g * float(col[0]) for g, col in zip(gammas[1:], b)
            )
            lhr = beta + delta * (uj - center)
            h = math.exp(s + lhr * float(xv))
            ch += h * w
            out.append(
                (
                    float(xv),
                    j,
                    (j + 1) * w,
                    round(h, 9),
                    round(ch, 6),
                    round(math.exp(-ch), 6),
                    round(lhr, 6),
                )
            )
    curve = df.sparkSession.createDataFrame(
        out,
        "x double, interval long, t_end long, hazard double, "
        "cum_hazard double, survival double, loghr double",
    )
    return curve, beta, delta


def direct_adjusted_survival(
    df: DataFrame,
    treatment_col: str,
    feature_cols: Sequence[str],
    beta: Sequence[float],
    duration_col: str = "duration",
    event_col: str = "event",
    max_x_patterns: int = 10000,
) -> DataFrame:
    """Direct adjusted (g-computation) survival curves — the
    corrected-group-prognosis method (Makuch 1982; Chang, Gelman &
    Pagano 1982; Zhang et al. 2007): standardize the fitted Cox
    model's predicted curves over the WHOLE cohort's covariate
    distribution with treatment set to each arm,

        Ŝ_a(t) = n⁻¹ Σ_i exp(−Ĥ₀(t)·e^{β_t·a + x_iᵀβ_x}),

    completing the causal trio with ``ipw_adjusted_km`` (weight the
    data) and ``aipw_survival_contrast`` (combine both): here the
    OUTCOME model carries the adjustment. Like
    ``cox_baseline_hazard`` this is the prediction half — β is a
    FITTED coefficient vector ``[β_treatment, *β_features]`` passed
    in, so the whole estimator is closed form and replays bit-exact
    in the oracle (Ĥ₀ is the Breslow baseline at β over observed
    treatment).

    Scale shape: the Breslow baseline's one cell aggregate + two
    prefix passes (``cox_baseline_hazard`` unchanged), ONE hash
    aggregate collapsing subjects to distinct covariate PATTERNS
    (bounded by ``max_x_patterns`` — a named error, not a silent
    driver pull; the guard job is one count over the pattern
    aggregate), then a #durations × #patterns broadcast grid folded
    back to per-duration rows in ONE aggregate computing both arms'
    weighted sums. Per-pattern survivals micro-round before the
    n_x-weighted long sum, so the standardized curve is
    order-independent under any partitioning.

    Returns (arm ∈ {0,1}, duration, survival_adjusted) — the two
    counterfactual curves on the pooled event-time grid. β = 0
    reduces both arms to the Nelson-Aalen exp(−Ĥ₀) (pinned).
    """
    feats = list(feature_cols)
    if len(beta) != len(feats) + 1:
        raise ValueError(
            "direct_adjusted_survival: beta must be "
            "[beta_treatment, *beta_features]"
        )
    base = cox_baseline_hazard(
        df, [treatment_col] + feats, beta, duration_col, event_col
    )
    xc = df.groupBy(*feats).agg(F.count(F.lit(1)).alias("_nx"))
    npat = xc.count()
    if npat > max_x_patterns:
        raise ValueError(
            f"direct_adjusted_survival: {npat} distinct covariate "
            f"patterns exceed max_x_patterns={max_x_patterns} — the "
            "standardization grid is #patterns × #durations; pass a "
            "larger max_x_patterns explicitly if this is intended"
        )
    lpf = F.lit(0.0)
    for j, c in enumerate(feats):
        lpf = lpf + F.lit(float(beta[j + 1])) * F.col(c).cast("double")
    grid = base.select(
        duration_col, "cum_hazard_baseline"
    ).crossJoin(F.broadcast(xc.select(lpf.alias("_lpf"), "_nx")))
    h0 = F.col("cum_hazard_baseline")
    bt = float(beta[0])
    s0 = F.exp(-h0 * F.exp(F.col("_lpf")))
    s1 = F.exp(-h0 * F.exp(F.lit(bt) + F.col("_lpf")))
    agg = grid.groupBy(duration_col).agg(
        F.sum(F.col("_nx") * _micro(s0)).alias("_w0"),
        F.sum(F.col("_nx") * _micro(s1)).alias("_w1"),
        F.sum("_nx").alias("_n"),
    )
    return agg.select(
        F.col(duration_col),
        F.expr("stack(2, CAST(0 AS BIGINT), _w0, "
               "CAST(1 AS BIGINT), _w1) AS (arm, _w)"),
        F.col("_n"),
    ).select(
        "arm",
        duration_col,
        F.round(
            F.col("_w") / F.col("_n") / F.lit(1000000.0), 6
        ).alias("survival_adjusted"),
    )


def concordance_index(
    df: DataFrame,
    score_col: str,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Harrell's concordance index (Harrell et al. 1982) — THE
    discrimination metric for survival models: among comparable
    pairs (i died at t_i, j still under observation past t_i), the
    probability the model ranks i riskier,

        C = (concordant + ½·score-ties) / comparable,

    with the standard comparability rule: (i, j) comparable iff
    t_i < t_j and δ_i = 1, or t_i = t_j with δ_i = 1, δ_j = 0 (the
    censored subject outlives the death at the same recorded time);
    event-event ties at one time are not comparable. Higher score
    must mean higher risk (a Cox linear predictor xβ̂ — feed
    ``cox_ph``'s fit through a projection).

    Scale shape: subjects collapse to (duration, score) cells in ONE
    map-side-combined aggregate; the pair count is then a
    cell×event-cell broadcast-nested-loop fold (condition t' ≥ t,
    with the t' = t arm weighted by censored counts only) that
    partially aggregates map-side into a single row — no raw-row
    pair join, no shuffle of pairs. The grid is #cells × #event-cell
    rows, lattice-sized by the house cell contract (durations are
    bounded follow-up units, scores take one value per covariate
    pattern). Pure integer pair counts — exact under any
    partitioning; inference belongs to ``bootstrap_ci`` (Harrell's
    U-statistic SE deliberately omitted).

    Returns one row: n_comparable, n_concordant, n_discordant,
    n_tied_score, c_index (6 dp; NULL when no pair is comparable).
    """
    ev = F.col(event_col).cast("long")
    cells = df.groupBy(
        F.col(duration_col).cast("long").alias("_t"),
        F.col(score_col).cast("double").alias("_s"),
    ).agg(
        F.sum(ev).alias("_d"),
        (F.count(F.lit(1)) - F.sum(ev)).alias("_c"),
        F.count(F.lit(1)).alias("_n"),
    )
    evc = (
        cells.filter(F.col("_d") > 0)
        .select(
            F.col("_t").alias("_te"),
            F.col("_s").alias("_se"),
            F.col("_d").alias("_de"),
        )
    )
    pairs = cells.join(
        F.broadcast(evc), F.col("_t") >= F.col("_te"), "inner"
    ).withColumn(
        "_w",
        F.when(F.col("_t") > F.col("_te"), F.col("_n")).otherwise(
            F.col("_c")
        ),
    )
    agg = pairs.agg(
        F.sum(
            F.when(F.col("_se") > F.col("_s"),
                   F.col("_de") * F.col("_w")).otherwise(F.lit(0))
        ).alias("n_concordant"),
        F.sum(
            F.when(F.col("_se") < F.col("_s"),
                   F.col("_de") * F.col("_w")).otherwise(F.lit(0))
        ).alias("n_discordant"),
        F.sum(
            F.when(F.col("_se") == F.col("_s"),
                   F.col("_de") * F.col("_w")).otherwise(F.lit(0))
        ).alias("n_tied_score"),
    )
    total = (
        F.col("n_concordant")
        + F.col("n_discordant")
        + F.col("n_tied_score")
    )
    return agg.select(
        total.alias("n_comparable"),
        "n_concordant",
        "n_discordant",
        "n_tied_score",
        F.when(
            total > 0,
            F.round(
                (F.col("n_concordant") + 0.5 * F.col("n_tied_score"))
                / total,
                6,
            ),
        ).alias("c_index"),
    )


def mixture_cure_exponential(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    iters: int = 12,
) -> DataFrame:
    """Mixture cure model with exponential latency (Boag 1949; Farewell
    1982 — the population-based 'statistical cure' model cancer
    registries fit when a survival curve plateaus):

        S(t) = π + (1 − π)·e^{−λt},

    a cured fraction π that never experiences the event plus an
    exponential survival for the uncured, fit by EM with the latent
    cure indicator. E-step: a censored subject at t is uncured with
    posterior w = (1−π)e^{−λt} / (π + (1−π)e^{−λt}); events have
    w = 1. M-step (closed form): π ← 1 − Σw/n, λ ← D/Σ(w·t). The
    estimate is DEFINED as the ``iters``-iteration EM value from the
    deterministic start π₀ = ½(n−D)/n, λ₀ = D/Σt (converged to 9 dp
    by ~12 iterations whenever the plateau is identified; the oracle
    unrolls the same iterations). All-events data reduces to π → 0
    with λ the exponential MLE D/Σt.

    Scale shape: subjects collapse ONCE to (duration, event) cells;
    each EM iteration is ONE map-side-combined aggregate over the
    cell table with w nano-rounded per cell before the weighted long
    sums (order-independent, bit-identical at any parallelism);
    per-iteration parameter updates round to 9 dp (house lattice).
    Driver work is O(1) per iteration. Zero events raises a named
    error (λ is unidentified).

    Returns one row: n, n_event, pi_cure, lambda_latency (6 dp).
    """
    iters = int(iters)
    if iters < 1:
        raise ValueError("mixture_cure_exponential: iters must be >= 1")
    ev = F.col(event_col).cast("long")
    t = F.col(duration_col).cast("double")
    cells = df.groupBy(
        t.alias("_t"), ev.alias("_e")
    ).agg(F.count(F.lit(1)).alias("_cnt"))
    # the EM loop re-reads this tiny cell table once per iteration —
    # checkpoint it so the scan + collapse run once, not iters times
    cells = cells.localCheckpoint(eager=False)
    base = cells.agg(
        F.sum(F.col("_cnt") * F.col("_e")).alias("d"),
        F.sum("_cnt").alias("n"),
        F.sum(F.col("_cnt") * _micro(F.col("_t"))).alias("st_micro"),
    ).collect()[0]
    d_ev, n_tot, st = int(base.d), int(base.n), base.st_micro / 1e6
    if d_ev == 0:
        raise ValueError(
            "mixture_cure_exponential: zero events — the latency "
            "rate is unidentified"
        )
    pi = round(0.5 * (n_tot - d_ev) / n_tot, 9)
    lam = round(d_ev / st, 9)
    nano = F.lit(1000000000.0)
    for _ in range(iters):
        s_unc = F.exp(F.lit(-lam) * F.col("_t"))
        w = F.when(F.col("_e") == 1, F.lit(1.0)).otherwise(
            F.lit(1.0 - pi) * s_unc
            / (F.lit(pi) + F.lit(1.0 - pi) * s_unc)
        )
        row = cells.agg(
            F.sum(
                F.col("_cnt") * F.round(w * nano, 0).cast("long")
            ).alias("sw"),
            F.sum(
                F.col("_cnt")
                * F.round(w * F.col("_t") * nano, 0).cast("long")
            ).alias("swt"),
        ).collect()[0]
        pi = round(1.0 - (row.sw / 1e9) / n_tot, 9)
        lam = round(d_ev / (row.swt / 1e9), 9)
    return cells.agg(
        F.sum("_cnt").alias("n"),
        F.sum(F.col("_cnt") * F.col("_e")).alias("n_event"),
    ).select(
        "n",
        "n_event",
        F.round(F.lit(pi), 6).alias("pi_cure"),
        F.round(F.lit(lam), 6).alias("lambda_latency"),
    )


def hall_wellner_lambda(alpha: float = 0.05) -> float:
    """Critical value λ_α of sup_{0≤u≤1}|B⁰(u)| for the Brownian
    bridge: solves 2·Σ_{k≥1}(−1)^{k+1}e^{−2k²λ²} = α by bisection on
    the (monotone) Kolmogorov series — a pure function of α, shared
    verbatim between the Spark plan and the DuckDB oracle as a
    literal. λ_{0.05} ≈ 1.3581."""
    if not 0.0 < alpha < 1.0:
        raise ValueError("hall_wellner_lambda: alpha must be in (0,1)")
    import math

    def tail(lam: float) -> float:
        s = 0.0
        for k in range(1, 101):
            s += (-1) ** (k + 1) * math.exp(-2.0 * k * k * lam * lam)
        return 2.0 * s

    lo, hi = 0.1, 5.0
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if tail(mid) > alpha:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2.0


def km_hall_wellner_band(
    df: DataFrame,
    group_cols: Sequence[str],
    duration_col: str = "duration",
    event_col: str = "event",
    alpha: float = 0.05,
) -> DataFrame:
    """Hall-Wellner SIMULTANEOUS confidence band for the KM curve
    (Hall & Wellner 1980; Klein & Moeschberger §4.4) — the band that
    covers the WHOLE curve with probability 1−α, where the pointwise
    Greenwood CI covers only one timepoint at a time:

        Ŝ(t) ± λ_α·(1 + n·σ̂²(t))·Ŝ(t)/√n,
        σ̂²(t) = Σ_{t'≤t} d/(Y(Y−d))  (the Greenwood sum),

    with λ_α the untruncated Brownian-bridge sup quantile
    (``hall_wellner_lambda`` — the Kolmogorov series, conservative
    vs the truncated-table values; the standard 'KS-type band').
    σ̂² is recovered exactly from ``km_curve``'s published columns as
    (se_greenwood/S)², so the band composes over the existing
    estimator rather than forking its lattice pipeline.

    Scale shape: ``km_curve`` unchanged (two cell prefix passes) +
    one broadcast join of per-group subject counts + pure JVM row
    arithmetic. Band ends clip to [0, 1]; rows where S = 0
    (Greenwood undefined) carry NULL bands, like the SE itself.

    Returns the ``km_curve`` grain + band_lower / band_upper (6 dp).
    """
    lam = hall_wellner_lambda(alpha)
    g = list(group_cols)
    km = km_curve(df, g, duration_col, event_col)
    totals = df.groupBy(*g).agg(F.count(F.lit(1)).alias("_n_subj"))
    km = km.join(F.broadcast(totals), g)
    s = F.col("survival")
    se = F.col("se_greenwood")
    nsub = F.col("_n_subj").cast("double")
    sig2 = (se / s) * (se / s)
    half = (
        F.lit(lam)
        * (F.lit(1.0) + nsub * sig2)
        * s
        / F.sqrt(nsub)
    )
    ok = se.isNotNull() & (s > 0)
    return km.select(
        *g,
        duration_col,
        "n_risk",
        "n_event",
        "n_censored",
        "survival",
        "cum_hazard",
        "se_greenwood",
        F.when(ok, F.round(F.greatest(F.lit(0.0), s - half), 6))
        .alias("band_lower"),
        F.when(ok, F.round(F.least(F.lit(1.0), s + half), 6))
        .alias("band_upper"),
    )


def _g_left_limit(cells, g_curve, time_col: str):
    """Attach the pooled censoring-survival left limit Ĝ(t−) to a
    cell frame: the reverse-KM curve value at the largest flipped-
    event time STRICTLY below ``time_col`` (no such time → 1.0) —
    the ``ipcw_km`` tie convention, via a broadcast argmax join."""
    c = cells.alias("c")
    gc = g_curve.alias("g")
    keep = [F.col(f"c.{k}") for k in cells.columns]
    return (
        c.join(
            F.broadcast(gc),
            F.col(f"c.{time_col}") > F.col("g._gt"),
            "left",
        )
        .groupBy(*keep)
        .agg(
            F.max(
                F.struct(F.col("g._gt").alias("_t"),
                         F.col("g._g").alias("_gv"))
            ).alias("_b")
        )
        .select(*keep, F.coalesce(F.col("_b._gv"), F.lit(1.0))
                .alias("_gm"))
    )


def concordance_index_ipcw(
    df: DataFrame,
    score_col: str,
    duration_col: str = "duration",
    event_col: str = "event",
    tau: int | None = None,
    min_g: float = 0.01,
) -> DataFrame:
    """Uno's censoring-robust concordance (Uno et al. 2011) — the
    IPCW-weighted C-statistic whose population target does NOT
    depend on the study's own censoring distribution (Harrell's C
    does): each comparable pair (i died at t_i < τ, j observed past
    t_i) is weighted by Ĝ(t_i−)⁻² with Ĝ the pooled reverse KM,

        C_τ = Σ Δ_i Ĝ⁻²·(1{s_i>s_j} + ½·1{s_i=s_j}) / Σ Δ_i Ĝ⁻²,

    over STRICT pairs t_i < t_j only (Uno's comparability; the
    same-time event/censored arm Harrell adds is deliberately not
    weighted — documented difference). With no censoring Ĝ ≡ 1 and
    no tied-time arm exists, so C_τ≥max equals ``concordance_index``
    exactly (pinned). Weights clip at 1/max(Ĝ, min_g)² (positivity,
    the ipcw_km convention).

    Scale shape: ``km_curve`` once on the flipped indicator (its one
    cell collapse), ONE (duration, score) cell collapse, a broadcast
    argmax join for Ĝ(t−), then the same cell×event-cell broadcast
    fold as ``concordance_index`` with per-pair products accumulated
    in decimal(38,0) on the ½/micro lattices — exact and
    order-independent at any magnitude.

    Returns one row: tau, n_events_used, denom_weight,
    c_index_ipcw (6 dp; NULL if no comparable weighted pair).
    """
    ev = F.col(event_col).cast("long")
    dur = F.col(duration_col).cast("long")
    if tau is None:
        tau = int(df.agg(F.max(dur).alias("m")).collect()[0].m) + 1
    tau = int(tau)
    g_curve = km_curve(
        df.select(F.lit(1).alias("_g1"), dur.alias("_dur"),
                  (1 - ev).alias("_cev")),
        ["_g1"],
        "_dur",
        "_cev",
    ).select(F.col("_dur").alias("_gt"), F.col("survival").alias("_g"))
    cells = df.groupBy(
        dur.alias("_t"), F.col(score_col).cast("double").alias("_s")
    ).agg(
        F.sum(ev).alias("_d"),
        F.count(F.lit(1)).alias("_n"),
    )
    cells = cells.localCheckpoint(eager=False)
    evc = (
        cells.filter((F.col("_d") > 0) & (F.col("_t") < F.lit(tau)))
        .select(F.col("_t").alias("_te"), F.col("_s").alias("_se"),
                F.col("_d").alias("_de"))
    )
    evc = _g_left_limit(evc, g_curve, "_te")
    gclip = F.greatest(F.col("_gm"), F.lit(float(min_g)))
    evc = evc.select(
        "_te", "_se", "_de",
        _micro(F.lit(1.0) / (gclip * gclip)).alias("_wm"),
    )
    evc = evc.localCheckpoint(eager=False)
    pairs = cells.join(
        F.broadcast(evc), F.col("_t") > F.col("_te"), "inner"
    )
    dec = "decimal(38,0)"
    base = F.col("_de").cast(dec) * F.col("_wm") * F.col("_n")
    agg = pairs.agg(
        F.sum(
            F.when(F.col("_se") > F.col("_s"), base * 2)
            .when(F.col("_se") == F.col("_s"), base)
            .otherwise(F.lit(0).cast(dec))
        ).alias("_num2"),
        F.sum(base).alias("_den"),
    )
    wev = evc.agg(
        F.sum(F.col("_de").cast(dec) * F.col("_wm")).alias("_wev")
    )
    agg = agg.crossJoin(F.broadcast(wev))
    den = F.col("_den").cast("double")
    return agg.select(
        F.lit(tau).cast("long").alias("tau"),
        F.round(
            F.coalesce(F.col("_wev").cast("double"), F.lit(0.0))
            / F.lit(1000000.0),
            6,
        ).alias("weight_events"),
        F.round(
            F.coalesce(den, F.lit(0.0)) / F.lit(1000000.0), 6
        ).alias("denom_weight"),
        F.when(
            den > 0,
            F.round(F.col("_num2").cast("double") / (2 * den), 6),
        ).alias("c_index_ipcw"),
    )


def brier_score_ipcw(
    df: DataFrame,
    pred_col: str,
    times: Sequence[int],
    duration_col: str = "duration",
    event_col: str = "event",
    min_g: float = 0.01,
) -> DataFrame:
    """IPCW Brier score (Graf et al. 1999) — the calibration+
    discrimination loss for survival predictions under censoring:
    with ŷ_i the model's predicted S(t₀ | x_i),

        BS(t₀) = n⁻¹ Σ [ ŷ²·1{T≤t₀,Δ=1}/Ĝ(T−)
                        + (1−ŷ)²·1{T>t₀}/Ĝ(t₀) ],

    censored-before-t₀ subjects contribute 0 (their outcome is
    unknown; the IPCW terms reweight the known ones). Ĝ is the
    pooled reverse KM; Ĝ(T−) is the strict left limit (ipcw_km tie
    convention) and Ĝ(t₀) the curve value at the largest flipped-
    event time ≤ t₀. Weights clip at 1/max(Ĝ, min_g). With no
    censoring Ĝ ≡ 1 and BS(t₀) is the plain Brier score of the
    binary outcome 1{T > t₀} against ŷ (pinned).

    Scale shape: ``km_curve`` once on the flipped indicator, ONE
    (duration, event, prediction) cell collapse (predictions take
    one value per covariate pattern — the house cell contract), two
    broadcast argmax reads of Ĝ, then one cell-sized aggregate per
    horizon on the micro lattice.

    Returns one row per horizon: time, n, brier_ipcw (6 dp).
    """
    ts = sorted({int(t) for t in times})
    if not ts:
        raise ValueError("brier_score_ipcw: times must be non-empty")
    spark = df.sparkSession
    ev = F.col(event_col).cast("long")
    dur = F.col(duration_col).cast("long")
    g_curve = km_curve(
        df.select(F.lit(1).alias("_g1"), dur.alias("_dur"),
                  (1 - ev).alias("_cev")),
        ["_g1"],
        "_dur",
        "_cev",
    ).select(F.col("_dur").alias("_gt"), F.col("survival").alias("_g"))
    g_curve = g_curve.localCheckpoint(eager=False)
    cells = df.groupBy(
        dur.alias("_t"),
        ev.alias("_e"),
        F.col(pred_col).cast("double").alias("_p"),
    ).agg(F.count(F.lit(1)).alias("_cnt"))
    cells = _g_left_limit(cells, g_curve, "_t")
    cells = cells.localCheckpoint(eager=False)
    n_tot = df.count()
    gmin = F.lit(float(min_g))
    tdf = spark.createDataFrame([(t,) for t in ts], "t long")
    # G(t0): inclusive read of the reverse-KM curve at the horizon
    gh = (
        g_curve.crossJoin(F.broadcast(tdf))
        .filter(F.col("_gt") <= F.col("t"))
        .groupBy("t")
        .agg(F.max(F.struct(F.col("_gt"), F.col("_g"))).alias("_b"))
        .select("t", F.col("_b._g").alias("_gh"))
    )
    grid = cells.crossJoin(F.broadcast(tdf)).join(
        F.broadcast(gh), ["t"], "left"
    ).withColumn("_ghc", F.coalesce(F.col("_gh"), F.lit(1.0)))
    w_ev = F.lit(1.0) / F.greatest(F.col("_gm"), gmin)
    w_h = F.lit(1.0) / F.greatest(F.col("_ghc"), gmin)
    term = F.when(
        (F.col("_e") == 1) & (F.col("_t") <= F.col("t")),
        F.col("_cnt") * _micro(F.col("_p") * F.col("_p") * w_ev),
    ).when(
        F.col("_t") > F.col("t"),
        F.col("_cnt")
        * _micro(
            (F.lit(1.0) - F.col("_p"))
            * (F.lit(1.0) - F.col("_p"))
            * w_h
        ),
    ).otherwise(F.lit(0).cast("long"))
    out = (
        grid.groupBy("t")
        .agg(F.sum(term).alias("_bs"))
        .select(
            F.col("t").alias("time"),
            F.lit(n_tot).cast("long").alias("n"),
            F.round(
                F.coalesce(F.col("_bs"), F.lit(0).cast("long"))
                / F.lit(1000000.0)
                / F.lit(float(n_tot)),
                6,
            ).alias("brier_ipcw"),
        )
    )
    return tdf.join(out, tdf.t == out.time, "inner").select(
        "time", "n", "brier_ipcw"
    )


def rmst_ci(
    df: DataFrame,
    group_cols: Sequence[str],
    tau: int,
    duration_col: str = "duration",
    event_col: str = "event",
    z: float = 1.96,
) -> DataFrame:
    """Restricted mean survival time WITH its large-sample SE and
    Wald CI (the survRM2/Klein-Moeschberger variance trialists
    report):

        Var(RMST) = Σ_{events t_j ≤ τ} A_j² · d_j/(Y_j(Y_j − d_j)),
        A_j = ∫_{t_j}^{τ} Ŝ(t) dt,

    the Greenwood-weighted squared remaining areas. A_j needs the
    area up to EACH event time, which by the same summation-by-parts
    identity as ``rmst`` is t_j·Ŝ(t_j) + Σ_{t_i ≤ t_j} t_i·drop_i —
    so the whole variance costs ONE extra prefix column (inclusive
    t·drop sums) in the pass ``rmst`` already makes, plus a
    pico-lattice Greenwood fold. No new shuffles, no window over raw
    rows. If the curve hits exactly 0 at or before τ the Greenwood
    term is undefined and se/CI come back NULL (the ``km_curve``
    convention); otherwise the CI is rmst ± z·se clipped to [0, τ].

    Returns (group, n_subjects, survival_at_tau, rmst, rmst_se,
    rmst_lower, rmst_upper), 6 dp.
    """
    g = list(group_cols)
    tau = int(tau)
    ev = F.col(event_col).cast("long")
    cells = df.groupBy(*g, duration_col).agg(
        F.sum(ev).alias("_d"),
        F.count(F.lit(1)).alias("_rm"),
    )
    totals = df.groupBy(*g).agg(F.count(F.lit(1)).alias("_n_subj"))
    cells = cells.join(totals, g)
    cells = grouped_prefix_sum(cells, g, duration_col, "_rm", "_rm0")
    d = F.col("_d")
    n = F.col("_n_subj") - F.col("_rm0")
    cells = (
        cells.withColumn("n_risk", n)
        .withColumn(
            "_lt",
            F.when(
                (d > 0) & (d < F.col("n_risk")),
                _micro(F.log(F.lit(1.0) - d / F.col("n_risk"))),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_dall",
            F.when((d > 0) & (d == F.col("n_risk")), F.lit(1))
            .otherwise(F.lit(0)).cast("long"),
        )
    )
    cells = grouped_prefix_sum(
        cells, g, duration_col, ["_lt", "_dall"], ["_lt0", "_dall0"]
    )
    s_left = F.when(F.col("_dall0") > 0, F.lit(0.0)).otherwise(
        F.round(F.exp(F.col("_lt0") / F.lit(1000000.0)), 6)
    )
    s_incl = F.when(
        F.col("_dall0") + F.col("_dall") > 0, F.lit(0.0)
    ).otherwise(
        F.round(
            F.exp((F.col("_lt0") + F.col("_lt")) / F.lit(1000000.0)), 6
        )
    )
    t = F.col(duration_col).cast("double")
    in_tau = F.col(duration_col) <= tau
    drop_term = F.when(
        in_tau & (d > 0), _micro(t * (s_left - s_incl))
    ).otherwise(F.lit(0).cast("long"))
    cells = cells.withColumn("_dt", drop_term).withColumn(
        "_sincl", s_incl
    )
    cells = grouped_prefix_sum(cells, g, duration_col, "_dt", "_dt0")
    # per-group totals: rmst numerator pieces + the tau read-off
    agg = cells.groupBy(*g).agg(
        F.max("_n_subj").alias("n_subjects"),
        F.sum("_dt").alias("_drops"),
        F.max(
            F.when(
                in_tau,
                F.struct(
                    F.col(duration_col).alias("_t"),
                    F.col("_sincl").alias("_s"),
                ),
            )
        ).alias("_at_tau"),
    )
    s_tau = F.coalesce(F.col("_at_tau._s"), F.lit(1.0))
    agg = agg.select(
        *g,
        "n_subjects",
        s_tau.alias("_stau"),
        (
            F.lit(float(tau)) * s_tau
            + F.col("_drops") / F.lit(1000000.0)
        ).alias("_rmst"),
    )
    # Greenwood fold: A_j^2 * d/(Y(Y-d)) per event cell <= tau
    gr = cells.join(F.broadcast(agg), g)
    area_to_j = (
        t * F.col("_sincl")
        + (F.col("_dt0") + F.col("_dt")) / F.lit(1000000.0)
    )
    a_j = F.col("_rmst") - area_to_j
    gw_ok = (d > 0) & (d < F.col("n_risk")) & in_tau
    # curve hitting exactly 0 at/before tau -> undefined variance
    zero_hit = F.max(
        F.when(
            in_tau & (F.col("_dall0") + F.col("_dall") > 0), F.lit(1)
        ).otherwise(F.lit(0))
    )
    var_term = F.when(
        gw_ok,
        _pico(
            a_j * a_j * d / (F.col("n_risk") * (F.col("n_risk") - d))
        ),
    ).otherwise(F.lit(0).cast("long"))
    vagg = gr.groupBy(*g).agg(
        F.sum(var_term).alias("_var_pico"),
        zero_hit.alias("_zero"),
    )
    out = agg.join(vagg, g)
    se = F.sqrt(F.col("_var_pico") / F.lit(1000000000000.0))
    ok = F.col("_zero") == 0
    return out.select(
        *g,
        "n_subjects",
        F.round(F.col("_stau"), 6).alias("survival_at_tau"),
        F.round(F.col("_rmst"), 6).alias("rmst"),
        F.when(ok, F.round(se, 6)).alias("rmst_se"),
        F.when(
            ok,
            F.round(
                F.greatest(F.lit(0.0), F.col("_rmst") - F.lit(z) * se),
                6,
            ),
        ).alias("rmst_lower"),
        F.when(
            ok,
            F.round(
                F.least(F.lit(float(tau)), F.col("_rmst") + F.lit(z) * se),
                6,
            ),
        ).alias("rmst_upper"),
    )


def renyi_critical(alpha: float = 0.05, terms: int = 200) -> float:
    """Two-sided Rényi critical value: the 1−α quantile of
    sup_{[0,1]}|W(t)| for standard Brownian MOTION (K&M §7.5),
    P(sup|W| > x) = 1 − (4/π)·Σ_{k≥0} (−1)^k/(2k+1)·
    e^{−π²(2k+1)²/(8x²)}, solved by bisection — a pure function of
    α shared with the oracle as a literal. x_{0.05} ≈ 2.2414."""
    if not 0.0 < alpha < 1.0:
        raise ValueError("renyi_critical: alpha must be in (0,1)")
    import math

    def tail(x: float) -> float:
        s = 0.0
        for k in range(terms):
            s += ((-1) ** k / (2 * k + 1)) * math.exp(
                -math.pi ** 2 * (2 * k + 1) ** 2 / (8 * x * x)
            )
        return 1.0 - 4.0 / math.pi * s

    lo, hi = 0.2, 6.0
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if tail(mid) > alpha:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2.0


def logrank_renyi_test(
    df: DataFrame,
    group_col: str,
    duration_col: str = "duration",
    event_col: str = "event",
    alpha: float = 0.05,
) -> DataFrame:
    """Rényi (supremum) log-rank test (Gill 1980; K&M §7.5) — the
    CROSSING-hazards test: where the standard log-rank sums O−E over
    the whole axis (early and late differences cancel when curves
    cross), Rényi takes the supremum of the running process,

        Q = sup_{t_j} |O₁−E₁|(t_j) / √V(τ),

    compared to sup|W| on [0,1] (Brownian motion; critical value
    from ``renyi_critical``). Same cells and prefix passes as
    ``logrank_test`` plus ONE more ``global_prefix_sum`` column for
    the running micro-lattice O−E process and a max-|·| fold — no
    new data-sized work. Rejects where the ordinary log-rank is
    blind (pinned with a planted crossing).

    Returns one row: n_subjects_1, n_subjects_2, observed_1,
    expected_1, variance, q_renyi, q_crit, reject, plus the ordinary
    chi_square for side-by-side reading.
    """
    crit = renyi_critical(alpha)
    gvals = [
        r[0]
        for r in df.select(group_col).distinct().orderBy(group_col)
        .collect()
    ]
    if len(gvals) != 2:
        raise ValueError(
            f"logrank_renyi_test needs exactly 2 groups, got {gvals}"
        )
    g1 = gvals[0]
    is1 = (F.col(group_col) == F.lit(g1)).cast("long")
    ev = F.col(event_col).cast("long")
    cells = df.groupBy(duration_col).agg(
        F.sum(ev * is1).alias("d1"),
        F.sum(ev).alias("d"),
        F.sum(is1).alias("rm1"),
        F.count(F.lit(1)).alias("rm"),
    )
    # r10: totals ride along with the prefix scan (one fewer full
    # pass over df)
    cells = global_prefix_sum(
        cells, duration_col, ["rm1", "rm"], ["rm1_before", "rm_before"],
        totals_alias=["_n1", "_n"],
    )
    n1 = F.col("_n1") - F.col("rm1_before")
    n = F.col("_n") - F.col("rm_before")
    d = F.col("d")
    p1 = n1 / n
    e_term = F.when(d > 0, _micro(d * p1)).otherwise(
        F.lit(0).cast("long")
    )
    v_term = F.when(
        (d > 0) & (n > 1),
        _micro(d * p1 * (F.lit(1.0) - p1) * (n - d) / (n - F.lit(1))),
    ).otherwise(F.lit(0).cast("long"))
    cells = cells.withColumn(
        "_oe_cell", F.col("d1") * F.lit(1000000) - e_term
    ).withColumn("_e", e_term).withColumn("_v", v_term)
    cells = global_prefix_sum(
        cells, duration_col, "_oe_cell", "_oe0"
    )
    run_abs = F.abs(F.col("_oe0") + F.col("_oe_cell"))
    agg = cells.agg(
        F.max("_n1").alias("n_subjects_1"),
        (F.max("_n") - F.max("_n1")).alias("n_subjects_2"),
        F.sum("d1").alias("observed_1"),
        F.round(F.sum("_e") / F.lit(1000000.0), 6).alias("expected_1"),
        F.round(F.sum("_v") / F.lit(1000000.0), 6).alias("variance"),
        F.max(run_abs).alias("_sup"),
        (F.sum("d1") - F.sum("_e") / F.lit(1000000.0)).alias("_oe"),
        (F.sum("_v") / F.lit(1000000.0)).alias("_vv"),
    )
    q = F.col("_sup") / F.lit(1000000.0) / F.sqrt(F.col("_vv"))
    return agg.select(
        "n_subjects_1",
        "n_subjects_2",
        "observed_1",
        "expected_1",
        "variance",
        F.round(q, 6).alias("q_renyi"),
        F.round(F.lit(crit), 6).alias("q_crit"),
        (q > F.lit(crit)).alias("reject"),
        F.round(
            F.col("_oe") * F.col("_oe") / F.col("_vv"), 6
        ).alias("chi_square"),
    )


def rmtl_competing(
    df: DataFrame,
    group_cols: Sequence[str],
    causes: Sequence[int],
    tau: int,
    duration_col: str = "duration",
    cause_col: str = "cause",
) -> DataFrame:
    """Restricted mean time LOST to each competing cause (Andersen
    2013) — the CIF-side twin of ``rmst``: RMTL_k(τ) = ∫₀^τ CIF_k dt,
    the expected time lost to cause k within the horizon. Since each
    Aalen-Johansen increment ΔF_k(t) = S(t−)·d_k/n contributes its
    remaining length, the integral is the single-aggregate fold

        RMTL_k = Σ_{t ≤ τ} ΔF_k(t) · (τ − t)

    over the SAME micro-lattice increment columns
    ``cif_competing_risks`` builds — same cells, same three prefix
    passes, one extra scalar fold; no new shuffles. The causes
    partition all-cause time lost: Σ_k RMTL_k ≈ τ − RMST (exact up
    to the two estimators' independent 1e-6 lattices; pinned in
    tests at 1e-4).

    Returns one row per (group, cause): n_subjects, cif_at_tau,
    rmtl (6 dp).
    """
    g = list(group_cols)
    causes = [int(k) for k in causes]
    tau = int(tau)
    cz = F.col(cause_col).cast("long")
    cells = df.groupBy(*g, duration_col).agg(
        F.sum((cz > 0).cast("long")).alias("_d"),
        F.count(F.lit(1)).alias("_rm"),
        *[
            F.sum((cz == F.lit(k)).cast("long")).alias(f"_d_{k}")
            for k in causes
        ],
    )
    totals = df.groupBy(*g).agg(F.count(F.lit(1)).alias("_n_subj"))
    cells = cells.join(totals, g)
    cells = grouped_prefix_sum(cells, g, duration_col, "_rm", "_rm0")
    d = F.col("_d")
    n = F.col("_n_subj") - F.col("_rm0")
    cells = (
        cells.withColumn("n_risk", n)
        .withColumn(
            "_lt",
            F.when(
                (d > 0) & (d < F.col("n_risk")),
                _micro(F.log(F.lit(1.0) - d / F.col("n_risk"))),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_dall",
            F.when((d > 0) & (d == F.col("n_risk")), F.lit(1))
            .otherwise(F.lit(0)).cast("long"),
        )
        .drop("_rm", "_rm0")
    )
    cells = grouped_prefix_sum(
        cells, g, duration_col, ["_lt", "_dall"], ["_lt0", "_dall0"]
    )
    s_left = F.when(F.col("_dall0") > 0, F.lit(0.0)).otherwise(
        F.exp(F.col("_lt0") / F.lit(1000000.0))
    )
    for k in causes:
        dk = F.col(f"_d_{k}")
        cells = cells.withColumn(
            f"_t_{k}",
            F.when(
                dk > 0, _micro(s_left * dk / F.col("n_risk"))
            ).otherwise(F.lit(0).cast("long")),
        )
    in_tau = F.col(duration_col) <= tau
    t = F.col(duration_col).cast("long")
    aggs = [F.max("_n_subj").alias("n_subjects")]
    for k in causes:
        aggs.append(
            F.sum(F.when(in_tau, F.col(f"_t_{k}")).otherwise(
                F.lit(0).cast("long")
            )).alias(f"_f_{k}")
        )
        aggs.append(
            F.sum(
                F.when(
                    in_tau,
                    F.col(f"_t_{k}") * (F.lit(tau) - t),
                ).otherwise(F.lit(0).cast("long"))
            ).alias(f"_l_{k}")
        )
    agg = cells.groupBy(*g).agg(*aggs)
    stack_expr = (
        "stack({n}, {args}) as (cause, _f, _l)".format(
            n=len(causes),
            args=", ".join(f"{k}L, _f_{k}, _l_{k}" for k in causes),
        )
    )
    return agg.select(
        *g, "n_subjects", F.expr(stack_expr)
    ).select(
        *g,
        "cause",
        "n_subjects",
        F.round(F.col("_f") / F.lit(1000000.0), 6).alias("cif_at_tau"),
        F.round(F.col("_l") / F.lit(1000000.0), 6).alias("rmtl"),
    )


def auc_time_dependent(
    df: DataFrame,
    score_col: str,
    times: Sequence[int],
    duration_col: str = "duration",
    event_col: str = "event",
    min_g: float = 0.01,
) -> DataFrame:
    """Time-dependent cumulative/dynamic ROC AUC with IPCW weights
    (Heagerty & Zheng 2005; Uno 2007) — the discrimination metric at
    a HORIZON, where the C-index averages over all of follow-up:
    cases are subjects who died by t₀ (Δ=1, T ≤ t₀), controls are
    those observed past t₀,

        AUC(t₀) = Σ_i w_i·(#ctrl s<s_i + ½·#ctrl s=s_i)
                  / (Σ_i w_i · #ctrl),   w_i = Ĝ(T_i−)⁻¹,

    — the control-side IPCW weight 1/Ĝ(t₀) is COMMON to every
    control, so it cancels and the fold needs only case weights
    (documented). Ĝ is the pooled reverse KM with the strict left
    limit (ipcw_km convention); weights clip at 1/max(Ĝ, min_g).
    With no censoring AUC(t₀) is the plain rank statistic of the
    binary outcome 1{T ≤ t₀} (pinned).

    Scale shape: ``km_curve`` once on the flipped indicator, ONE
    (duration, score) cell collapse, broadcast Ĝ(t−) argmax, then
    per horizon a case-cell × control-score fold that partially
    aggregates map-side (decimal(38,0) on the micro/half lattices).

    Returns one row per horizon: time, n_cases_w (6 dp), n_controls,
    auc (6 dp; NULL when either side is empty).
    """
    ts = sorted({int(t) for t in times})
    if not ts:
        raise ValueError("auc_time_dependent: times must be non-empty")
    spark = df.sparkSession
    ev = F.col(event_col).cast("long")
    dur = F.col(duration_col).cast("long")
    g_curve = km_curve(
        df.select(F.lit(1).alias("_g1"), dur.alias("_dur"),
                  (1 - ev).alias("_cev")),
        ["_g1"],
        "_dur",
        "_cev",
    ).select(F.col("_dur").alias("_gt"), F.col("survival").alias("_g"))
    cells = df.groupBy(
        dur.alias("_t"), F.col(score_col).cast("double").alias("_s")
    ).agg(
        F.sum(ev).alias("_d"),
        F.count(F.lit(1)).alias("_n"),
    )
    cells = _g_left_limit(cells, g_curve, "_t")
    cells = cells.localCheckpoint(eager=False)
    gmin = F.lit(float(min_g))
    wm = _micro(F.lit(1.0) / F.greatest(F.col("_gm"), gmin))
    tdf = spark.createDataFrame([(t,) for t in ts], "t long")
    cases = (
        cells.crossJoin(F.broadcast(tdf))
        .filter((F.col("_d") > 0) & (F.col("_t") <= F.col("t")))
        .select(
            "t",
            F.col("_s").alias("_se"),
            F.col("_d").alias("_de"),
            wm.alias("_wm"),
        )
    )
    controls = (
        cells.crossJoin(F.broadcast(tdf))
        .filter(F.col("_t") > F.col("t"))
        .groupBy("t", "_s")
        .agg(F.sum("_n").alias("_nc"))
    )
    dec = "decimal(38,0)"
    pairs = controls.alias("c").join(
        F.broadcast(cases.alias("e")), on=["t"], how="inner"
    )
    base = (
        F.col("e._de").cast(dec) * F.col("e._wm") * F.col("c._nc")
    )
    agg = pairs.groupBy("t").agg(
        F.sum(
            F.when(F.col("e._se") > F.col("c._s"), base * 2)
            .when(F.col("e._se") == F.col("c._s"), base)
            .otherwise(F.lit(0).cast(dec))
        ).alias("_num2"),
        F.sum(base).alias("_den"),
    )
    cw = cases.groupBy("t").agg(
        F.sum(F.col("_de").cast(dec) * F.col("_wm")).alias("_cw")
    )
    nc = controls.groupBy("t").agg(F.sum("_nc").alias("_nc_tot"))
    out = (
        tdf.join(agg, ["t"], "left")
        .join(cw, ["t"], "left")
        .join(nc, ["t"], "left")
    )
    den = F.col("_den").cast("double")
    return out.select(
        F.col("t").alias("time"),
        F.round(
            F.coalesce(F.col("_cw").cast("double"), F.lit(0.0))
            / F.lit(1000000.0),
            6,
        ).alias("n_cases_w"),
        F.coalesce(F.col("_nc_tot"), F.lit(0).cast("long")).alias(
            "n_controls"
        ),
        F.when(
            den > 0,
            F.round(F.col("_num2").cast("double") / (2 * den), 6),
        ).alias("auc"),
    )


def survival_calibration(
    df: DataFrame,
    pred_col: str,
    t0: int,
    n_bins: int = 10,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Calibration of survival predictions at a horizon (the
    reliability diagram trialists plot next to AUC(t) and the Brier
    score): subjects bin by predicted S(t₀|x) into ``n_bins``
    fixed-width bins on [0, 1] (deterministic — no quantile pass),
    and each bin's OBSERVED survival is its own Kaplan-Meier read at
    t₀ — the censoring-correct observed rate (a raw event fraction
    would be biased; this is Graf's recommendation). A calibrated
    model tracks the diagonal: observed ≈ mean predicted per bin.

    Scale shape: one projection adds the bin key; ``km_curve`` per
    bin is the usual cell collapse with bin in the group key; the
    bin means are one micro-lattice aggregate; the t₀ read-off is a
    broadcast struct-max join. Returns one row per non-empty bin:
    bin (1-based), n, n_events, mean_pred, observed_surv (KM at t₀;
    1.0 when the bin has no event/censor cell ≤ t₀), gap =
    observed − mean_pred (6 dp).
    """
    n_bins = int(n_bins)
    if n_bins < 2:
        raise ValueError("survival_calibration: n_bins must be >= 2")
    t0 = int(t0)
    p = F.col(pred_col).cast("double")
    binc = F.least(
        F.floor(p * n_bins).cast("long") + 1, F.lit(n_bins)
    )
    base = df.select(
        binc.alias("_bin"),
        p.alias("_p"),
        F.col(duration_col).alias("_dur"),
        F.col(event_col).cast("int").alias("_ev"),
    )
    stats = base.groupBy("_bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_ev").cast("long").alias("n_events"),
        F.sum(_micro(F.col("_p"))).alias("_pm"),
    )
    km = km_curve(base, ["_bin"], "_dur", "_ev")
    at_t0 = (
        km.filter(F.col("_dur") <= t0)
        .groupBy("_bin")
        .agg(
            F.max(
                F.struct(
                    F.col("_dur").alias("_t"),
                    F.col("survival").alias("_s"),
                )
            ).alias("_b")
        )
        .select("_bin", F.col("_b._s").alias("_obs"))
    )
    out = stats.join(F.broadcast(at_t0), ["_bin"], "left")
    obs = F.coalesce(F.col("_obs"), F.lit(1.0))
    mean_pred = F.col("_pm") / F.col("n") / F.lit(1000000.0)
    return out.select(
        F.col("_bin").alias("bin"),
        "n",
        "n_events",
        F.round(mean_pred, 6).alias("mean_pred"),
        F.round(obs, 6).alias("observed_surv"),
        F.round(obs - mean_pred, 6).alias("gap"),
    )


def abridged_life_table(
    df: DataFrame,
    group_cols: Sequence[str],
    band_col: str,
    deaths_col: str,
    person_time_col: str,
    band_widths: dict,
    ax: float = 0.5,
    radix: int = 100000,
) -> DataFrame:
    """Abridged (current/period) life table from age-band mortality
    rates — the Chiang 1984 construction behind every national life
    table (and the expected-survival source the registry's
    relative-survival operators consume): per band of width n with
    central rate m = D/Y and mean fraction-lived a,

        q = n·m / (1 + (n − a·n)·m)        (rate → probability)
        l_{x+1} = l_x (1 − q)              (radix survivors)
        L = n·(l_{x+1} + a·(l_x − l_{x+1})),  T = Σ_{≥x} L,
        e_x = T / l_x                       (life expectancy),

    open-ended final band (width NULL in ``band_widths``): q = 1,
    L = l_x/m. ``band_widths`` maps band key → integer width (the
    age-standardization ``std_weights`` contract); bands absent from
    the map raise at plan build.

    Scale shape: ONE map-side aggregate collapses subjects to
    per-(group, band) D/Y cells; the survivorship product and the
    T suffix sums are two ``grouped_prefix_sum`` passes over the
    #bands-sized cell table (log-lattice product, exact long suffix)
    — the km_curve discipline on the demographic axis. Rates and q
    ride the micro lattice; l rounds to 3 dp of a person (radix
    100000). Returns (group, band, width, deaths, person_time, mx,
    qx, lx, big_l, t_x, ex) — ex in band-width units (years when
    widths are years).
    """
    g = list(group_cols)
    widths = dict(band_widths)
    if not widths:
        raise ValueError("abridged_life_table: band_widths is empty")
    open_bands = [k for k, v in widths.items() if v is None]
    if len(open_bands) != 1:
        raise ValueError(
            "abridged_life_table: exactly one open-ended band "
            f"(width None) required, got {open_bands}"
        )
    for k, v in widths.items():
        if v is not None and (int(v) != v or v <= 0):
            raise ValueError(
                "abridged_life_table: widths must be positive "
                f"integers or None, got {k}={v}"
            )
    ax = float(ax)
    cells = df.groupBy(*g, band_col).agg(
        F.sum(F.col(deaths_col).cast("long")).alias("deaths"),
        F.sum(F.col(person_time_col).cast("long")).alias(
            "person_time"
        ),
    )
    wmap = F.create_map(
        *[
            F.lit(x)
            for k, v in widths.items()
            for x in (k, -1 if v is None else int(v))
        ]
    )
    w = wmap[F.col(band_col)]
    cells = cells.withColumn(
        "_w",
        F.when(
            w.isNull(),
            F.raise_error(
                F.concat(
                    F.lit("abridged_life_table: band not in "
                          "band_widths: "),
                    F.col(band_col).cast("string"),
                )
            ).cast("int"),
        ).otherwise(w),
    )
    mx = F.col("deaths") / F.col("person_time")
    is_open = F.col("_w") < 0
    nn = F.col("_w").cast("double")
    qx = F.when(is_open, F.lit(1.0)).otherwise(
        F.least(
            F.lit(1.0),
            nn * mx / (F.lit(1.0) + (nn - F.lit(ax) * nn) * mx),
        )
    )
    cells = cells.withColumn("_mx", mx).withColumn("_qx", qx)
    # survivorship product via the log-lattice prefix (km discipline)
    cells = cells.withColumn(
        "_lq",
        F.when(F.col("_qx") >= 1.0, F.lit(None).cast("long"))
        .otherwise(_micro(F.log(F.lit(1.0) - F.col("_qx")))),
    ).withColumn(
        "_q1", (F.col("_qx") >= 1.0).cast("long")
    )
    # grouped_prefix_sum takes column NAMES; materialize the
    # null-coalesced log term first
    cells = cells.withColumn(
        "_lqz", F.coalesce(F.col("_lq"), F.lit(0).cast("long"))
    )
    cells = grouped_prefix_sum(
        cells, g, band_col, ["_lqz", "_q1"], ["_lq0", "_q10"]
    )
    lx = F.when(F.col("_q10") > 0, F.lit(0.0)).otherwise(
        F.exp(F.col("_lq0") / F.lit(1000000.0))
    )
    lx1 = F.when(
        F.col("_q10") + F.col("_q1") > 0, F.lit(0.0)
    ).otherwise(
        F.exp((F.col("_lq0") + F.col("_lqz")) / F.lit(1000000.0))
    )
    big_l = F.when(
        is_open,
        F.when(F.col("_mx") > 0, lx / F.col("_mx")).otherwise(
            F.lit(0.0)
        ),
    ).otherwise(nn * (lx1 + F.lit(ax) * (lx - lx1)))
    cells = cells.withColumn(
        "_lm", F.round(big_l * F.lit(1000000.0), 0).cast("long")
    ).withColumn("_lx", lx)
    # T suffix sum: total minus exclusive prefix (totals ride along
    # with the prefix scan — r10)
    cells = grouped_prefix_sum(
        cells, g, band_col, "_lm", "_lm0", totals_alias="_lm_tot"
    )
    t_x = (F.col("_lm_tot") - F.col("_lm0")) / F.lit(1000000.0)
    r = F.lit(float(radix))
    return cells.select(
        *g,
        band_col,
        F.when(is_open, F.lit(None).cast("int"))
        .otherwise(F.col("_w")).alias("width"),
        "deaths",
        "person_time",
        F.round(F.col("_mx"), 6).alias("mx"),
        F.round(F.col("_qx"), 6).alias("qx"),
        F.round(F.col("_lx") * r, 3).alias("lx"),
        F.round(F.col("_lm") / F.lit(1000000.0) * r, 3).alias(
            "big_l"
        ),
        F.round(t_x * r, 3).alias("t_x"),
        F.when(
            F.col("_lx") > 0, F.round(t_x / F.col("_lx"), 6)
        ).alias("ex"),
    )


def shared_gamma_frailty(
    df: DataFrame,
    cluster_col: str,
    duration_col: str = "duration",
    event_col: str = "event",
    iters: int = 8,
    theta_grid: Sequence[float] | None = None,
) -> DataFrame:
    """Shared gamma frailty for clustered survival (Clayton 1978;
    Klein 1992 EM) — the survival sibling of
    ``gee_logistic_exchangeable``: subjects in a cluster share an
    unobserved Gamma(1/θ, 1/θ) multiplier on the hazard (hospital
    effects, family studies), and θ — the frailty VARIANCE — is the
    heterogeneity estimate. Profile EM, intercept-only (the
    univariate frailty model):

      E-step   ŵ_c = (1/θ + D_c)/(1/θ + H_c),
               H_c = Σ_{i∈c} Λ̂₀(T_i)
      profile  Λ̂₀ = Breslow with ŵ-weighted at-risk mass
      θ-step   grid-argmax of the marginal log-likelihood
               Σ_c[Σ_{j<D_c} ln(1/θ+j) − (1/θ+D_c)ln(1+θH_c)
                   + D_c lnθ]
               (the lgamma difference is the FINITE sum over
               integer event counts — a JVM ``aggregate`` over
               ``sequence``, no special function needed).

    The estimate is the ``iters``-iteration EM value on the fixed
    candidate grid (default 40 log-spaced points 0.01·1.25^k —
    deterministic by construction; homogeneous data pins to the grid
    floor). Scale shape per iteration: subjects collapse ONCE
    outside the loop to (cluster, duration) cells; then a cells×
    cluster-weight join (keyed on cluster, a plain shuffle join of
    two cell frames), ONE duration collapse + ``global_prefix_sum``
    for the weighted Breslow curve, ONE broadcast curve join back
    for H_c, and ONE grid aggregate with per-cluster terms
    nano-rounded before the long sums — bit-identical argmax under
    any partitioning. Nothing raw-row-sized after the first
    collapse.

    Returns one row: n_subjects, n_clusters, n_events, theta,
    loglik_marginal (6 dp).
    """
    iters = int(iters)
    if iters < 1:
        raise ValueError("shared_gamma_frailty: iters must be >= 1")
    if theta_grid is None:
        theta_grid = [0.01 * 1.25 ** k for k in range(40)]
    grid = [float(t) for t in theta_grid]
    if not grid or any(t <= 0 for t in grid):
        raise ValueError(
            "shared_gamma_frailty: theta_grid must be positive"
        )
    ev = F.col(event_col).cast("long")
    dur = F.col(duration_col).cast("long")
    cells = df.groupBy(
        F.col(cluster_col).alias("_cl"), dur.alias("_t")
    ).agg(
        F.sum(ev).alias("_d"),
        F.count(F.lit(1)).alias("_n"),
    )
    cells = cells.localCheckpoint(eager=False)

    # r10 driver-solve fast path (driverfit.py): bounded (cluster,
    # duration) cells — the weighted-Breslow curve, the cluster H
    # folds, the θ-grid marginal likelihood and the EM weight updates
    # all run on the driver; bit-identical to the distributed EM
    # below (pinned in tests).
    import math

    import numpy as np

    # null clusters fall back: the distributed EM's inner joins on _cl
    # drop those cells and countDistinct excludes null, while pandas
    # ngroup(dropna=False) would keep a null-cluster group; null _d
    # would NaN-cast to int64 garbage in the twin
    _pdfc = collect_bounded(cells, notnull_cols=["_t", "_cl", "_d"])
    if _pdfc is not None:
        tn = _pdfc["_t"].to_numpy().astype(np.int64)
        dn = _pdfc["_d"].to_numpy().astype(np.int64)
        nn = _pdfc["_n"].to_numpy().astype(np.int64)
        codes = (
            _pdfc.groupby("_cl", dropna=False).ngroup().to_numpy()
        )
        ncl = int(codes.max()) + 1 if len(codes) else 0
        order = np.argsort(tn, kind="stable")
        ts, ns, cds = tn[order], nn[order], codes[order]
        ds = dn[order]
        new_g = np.ones(len(ts), dtype=bool)
        if len(ts) > 1:
            new_g[1:] = ts[1:] != ts[:-1]
        gstarts = np.flatnonzero(new_g)
        cg = np.cumsum(new_g) - 1
        dcl = np.zeros(ncl, dtype=np.int64)
        np.add.at(dcl, codes, dn)
        dt_g = np.add.reduceat(ds, gstarts)
        dmax = int(dcl.max()) if ncl else 0
        theta = None
        ll_best = None
        w_cl = np.ones(ncl)
        for _ in range(iters):
            rmw_g = np.add.reduceat(
                round_half_up(ns * w_cl[cds] * 1e6).astype(np.int64),
                gstarts,
            )
            pre = np.cumsum(rmw_g)
            pre = np.concatenate(([np.int64(0)], pre[:-1]))
            atrisk = (rmw_g.sum() - pre) / 1e6
            inc = np.where(
                dt_g > 0,
                round_half_up(dt_g / atrisk * 1e6).astype(np.int64),
                np.int64(0),
            )
            pre_i = np.cumsum(inc)
            pre_i = np.concatenate(([np.int64(0)], pre_i[:-1]))
            l0m = pre_i + inc
            hm = np.zeros(ncl, dtype=np.int64)
            np.add.at(hm, cds, ns * l0m[cg])
            h = hm / 1e6
            lls = []
            for th in grid:
                inv = 1.0 / th
                logs = np.log(
                    inv + np.arange(dmax, dtype=np.float64)
                )
                cum = np.concatenate(([0.0], np.cumsum(logs)))
                lg = np.where(dcl > 0, cum[dcl], 0.0)
                term = (
                    lg
                    - (inv + dcl) * np.log(1.0 + th * h)
                    + dcl * float(math.log(th))
                )
                lls.append(
                    int(round_half_up(term * 1e9).astype(np.int64).sum())
                )
            best = max(
                range(len(grid)), key=lambda gi: (lls[gi], -gi)
            )
            theta = grid[best]
            ll_best = lls[best] / 1e9
            inv = 1.0 / theta
            w_cl = (inv + dcl) / (inv + hm / 1e6)
        return cells.agg(
            F.sum("_n").alias("n_subjects"),
            F.countDistinct("_cl").alias("n_clusters"),
            F.sum("_d").alias("n_events"),
        ).select(
            "n_subjects",
            "n_clusters",
            "n_events",
            F.round(F.lit(theta), 6).alias("theta"),
            F.round(F.lit(ll_best), 6).alias("loglik_marginal"),
        )

    cl_d = cells.groupBy("_cl").agg(F.sum("_d").alias("_D"))
    wf = cl_d.select("_cl", F.lit(1.0).alias("_w"))
    nano = F.lit(1000000000.0)
    theta = None
    ll_best = None
    for _ in range(iters):
        j = cells.join(wf, "_cl")
        byt = j.groupBy("_t").agg(
            F.sum("_d").alias("_dt"),
            F.sum(_micro(F.col("_n") * F.col("_w"))).alias("_rmw"),
        )
        byt = global_prefix_sum(
            byt, "_t", "_rmw", "_rmw0", totals_alias="_tot"
        )
        atrisk = (F.col("_tot") - F.col("_rmw0")) / F.lit(1000000.0)
        inc = F.when(
            F.col("_dt") > 0, _micro(F.col("_dt") / atrisk)
        ).otherwise(F.lit(0).cast("long"))
        byt = byt.withColumn("_inc", inc)
        byt = global_prefix_sum(byt, "_t", "_inc", "_l0x")
        curve = byt.select(
            "_t", (F.col("_l0x") + F.col("_inc")).alias("_l0m")
        )
        cf = (
            cells.join(F.broadcast(curve), "_t")
            .groupBy("_cl")
            .agg(F.sum(F.col("_n") * F.col("_l0m")).alias("_hm"))
            .join(cl_d, "_cl")
        )
        cf = cf.localCheckpoint(eager=False)
        h = F.col("_hm") / F.lit(1000000.0)
        # lgamma finite-sum term Σ_{j<D} log(1/θ + j) depends ONLY on
        # the cluster's event count D — compute it once per DISTINCT D
        # (a tiny frame: #distinct-D rows × |grid| columns) and
        # broadcast-join back, instead of materializing a D-length
        # sequence 40× per CLUSTER per EM iteration (VERDICT r08 item
        # 4: at registry scale a hospital cluster can hold 10⁵-10⁶
        # events; the per-cluster form blows row memory and Spark's
        # sequence cap). Bit-identical: the identical double-fold
        # expression, evaluated once per distinct D.
        lg_cols = []
        for gi, th in enumerate(grid):
            inv = 1.0 / th
            lg_cols.append(
                F.when(
                    F.col("_D") > 0,
                    F.aggregate(
                        F.sequence(
                            F.lit(0).cast("long"), F.col("_D") - 1
                        ),
                        F.lit(0.0),
                        lambda acc, jx: acc
                        + F.log(F.lit(inv) + jx.cast("double")),
                    ),
                ).otherwise(F.lit(0.0)).alias(f"_lg{gi}")
            )
        lgf = cf.select("_D").distinct().select("_D", *lg_cols)
        cfg = cf.join(F.broadcast(lgf), "_D")
        aggs = []
        for gi, th in enumerate(grid):
            inv = 1.0 / th
            term = (
                F.col(f"_lg{gi}")
                - (F.lit(inv) + F.col("_D"))
                * F.log(F.lit(1.0) + F.lit(th) * h)
                + F.col("_D") * F.lit(float(__import__("math").log(th)))
            )
            aggs.append(
                F.sum(F.round(term * nano, 0).cast("long")).alias(
                    f"ll{gi}"
                )
            )
        row = cfg.agg(*aggs).collect()[0]
        lls = [row[f"ll{gi}"] for gi in range(len(grid))]
        best = max(range(len(grid)), key=lambda gi: (lls[gi], -gi))
        theta = grid[best]
        ll_best = lls[best] / 1e9
        inv = 1.0 / theta
        wf = cf.select(
            "_cl",
            (
                (F.lit(inv) + F.col("_D"))
                / (F.lit(inv) + F.col("_hm") / F.lit(1000000.0))
            ).alias("_w"),
        )
    return cells.agg(
        F.sum("_n").alias("n_subjects"),
        F.countDistinct("_cl").alias("n_clusters"),
        F.sum("_d").alias("n_events"),
    ).select(
        "n_subjects",
        "n_clusters",
        "n_events",
        F.round(F.lit(theta), 6).alias("theta"),
        F.round(F.lit(ll_best), 6).alias("loglik_marginal"),
    )


def cumulative_rate_risk(
    df: DataFrame,
    group_cols: Sequence[str],
    band_col: str,
    case_col: str,
    time_col: str,
    band_widths: dict,
) -> DataFrame:
    """IARC cumulative rate / cumulative risk (Day 1976 — the
    'cumulative risk to age 74' statistic CI5 and every national
    registry publish beside the DSR): with per-band incidence rates
    m_b = cases/person-time and integer band widths n_b,

        cum_rate = Σ_b n_b·m_b,
        cum_risk = 1 − e^{−cum_rate}   (both reported ×100),

    the age-standardization-free lifetime-risk summary (it needs no
    reference population — widths ARE the weights). ``band_widths``
    maps band → positive INTEGER width (the ``std_weights``/
    ``abridged_life_table`` contract); a cohort band missing from
    the map raises IN the plan, not silently.

    Scale shape: ONE map-side aggregate to per-(group, band) cells,
    a broadcast literal width map, and one per-group fold with
    per-band n·m terms micro-rounded before the exact long sum —
    order-independent at any parallelism. Returns (group, n_bands,
    cases, person_time, cum_rate_pct, cum_risk_pct), 6 dp.
    """
    g = list(group_cols)
    widths = dict(band_widths)
    if not widths:
        raise ValueError("cumulative_rate_risk: band_widths is empty")
    for k, v in widths.items():
        if int(v) != v or v <= 0:
            raise ValueError(
                "cumulative_rate_risk: widths must be positive "
                f"integers, got {k}={v}"
            )
    cells = df.groupBy(*g, band_col).agg(
        F.sum(F.col(case_col).cast("long")).alias("_c"),
        F.sum(F.col(time_col).cast("long")).alias("_y"),
    )
    wmap = F.create_map(
        *[F.lit(x) for k, v in widths.items() for x in (k, int(v))]
    )
    w = wmap[F.col(band_col)]
    cells = cells.withColumn(
        "_w",
        F.when(
            w.isNull(),
            F.raise_error(
                F.concat(
                    F.lit("cumulative_rate_risk: band not in "
                          "band_widths: "),
                    F.col(band_col).cast("string"),
                )
            ).cast("int"),
        ).otherwise(w),
    )
    term = _micro(
        F.col("_w").cast("double") * F.col("_c") / F.col("_y")
    )
    agg = cells.groupBy(*g).agg(
        F.count(F.lit(1)).alias("n_bands"),
        F.sum("_c").alias("cases"),
        F.sum("_y").alias("person_time"),
        F.sum(term).alias("_cr"),
    )
    cr = F.col("_cr") / F.lit(1000000.0)
    return agg.select(
        *g,
        "n_bands",
        "cases",
        "person_time",
        F.round(cr * 100, 6).alias("cum_rate_pct"),
        F.round((F.lit(1.0) - F.exp(-cr)) * 100, 6).alias(
            "cum_risk_pct"
        ),
    )


def mcf_curve(
    events: DataFrame,
    followup: DataFrame,
    group_cols: Sequence[str],
    subject_col: str = "subject",
    time_col: str = "time",
    tau_col: str = "tau",
) -> DataFrame:
    """Mean cumulative function for RECURRENT events (Nelson-Aalen
    estimator of E[N(t)], Lawless-Nadeau 1995 robust variance) — the
    readmissions / repeat-tumour / repeat-claim summary the single-
    event KM family cannot express because subjects STAY at risk
    after each event:

        MCF(t)  = Σ_{s<=t} d(s) / Y(s),
        Var(t)  = Σ_{s<=t} (1/Y(s)²) Σ_{i at risk} (d_i(s) − d(s)/Y(s))²
                = Σ_{s<=t} (Σ_i d_i(s)² − d(s)²/Y(s)) / Y(s)²,

    with d_i(s) subject i's event count at s, d(s) = Σ d_i(s), and
    Y(s) = #{i : τ_i >= s} the number still under observation
    (followup end τ is inclusive). The variance needs per-subject
    SQUARED counts, so the collapse runs in two stages:
    (group, subject, time) → d_i, then (group, time) → (d, Σd_i²).

    ``events`` has one row per event occurrence (group, subject,
    time); ``followup`` one row per subject (group, subject, tau).
    An event recorded after its subject's τ is data corruption and
    raises IN the plan (the ``lexis_expand`` convention), via the
    events⋈followup equi-join the estimator needs anyway.

    Scale shape: one hash join keyed (group, subject), two map-side
    cell collapses, one per-(group, tau) censor collapse, then ALL
    remaining work on the merged (group, time) axis — two
    ``grouped_prefix_sum`` passes (at-risk carry; micro/pico-lattice
    MCF and variance carries), so a hot group spans range partitions
    and every distributed sum is an exact long sum — bit-identical
    under any partitioning. Returns one row per event time:
    (group, time, n_risk, n_events, mcf, se_mcf), 6 dp.
    """
    g = list(group_cols)
    fu = followup.select(
        *g, subject_col, F.col(tau_col).cast("double").alias("_tau")
    )
    ev = events.select(
        *g, subject_col, F.col(time_col).cast("double").alias("_t")
    )
    joined = ev.join(fu, g + [subject_col]).withColumn(
        "_t",
        F.when(
            F.col("_t") > F.col("_tau"),
            F.raise_error(
                F.concat(
                    F.lit("mcf_curve: event after followup end for "),
                    F.col(subject_col).cast("string"),
                )
            ).cast("double"),
        ).otherwise(F.col("_t")),
    )
    percell = joined.groupBy(*g, subject_col, "_t").agg(
        F.count(F.lit(1)).alias("_di")
    )
    ecells = percell.groupBy(*g, "_t").agg(
        F.sum("_di").alias("_d"),
        F.sum(F.col("_di") * F.col("_di")).alias("_d2"),
    )
    ccells = fu.groupBy(*g, F.col("_tau").alias("_t")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    axis = (
        ecells.join(ccells, g + ["_t"], "full_outer")
        .fillna(0, subset=["_d", "_d2", "_c"])
    )
    # r10: the per-group subject count is the _c cell sum — ride it
    # along with the prefix scan instead of a second pass over fu
    pre = grouped_prefix_sum(
        axis, g, "_t", ["_c"], ["_prec"], totals_alias=["_n"]
    )
    y = (F.col("_n") - F.col("_prec")).cast("double")
    d = F.col("_d").cast("double")
    d2 = F.col("_d2").cast("double")
    terms = pre.withColumn(
        "_tm", F.when(F.col("_d") > 0, _micro(d / y)).otherwise(F.lit(0))
    ).withColumn(
        "_tv",
        F.when(
            F.col("_d") > 0, _pico((d2 - d * d / y) / (y * y))
        ).otherwise(F.lit(0)),
    )
    acc = grouped_prefix_sum(
        terms, g, "_t", ["_tm", "_tv"], ["_pm", "_pv"]
    )
    return (
        acc.filter(F.col("_d") > 0)
        .select(
            *g,
            F.col("_t").alias("time"),
            (F.col("_n") - F.col("_prec")).alias("n_risk"),
            F.col("_d").alias("n_events"),
            F.round(
                (F.col("_pm") + F.col("_tm")) / F.lit(1000000.0), 6
            ).alias("mcf"),
            F.round(
                F.sqrt(
                    (F.col("_pv") + F.col("_tv"))
                    / F.lit(1000000000000.0)
                ),
                6,
            ).alias("se_mcf"),
        )
    )


def population_attributable_fraction(
    df: DataFrame,
    group_cols: Sequence[str],
    exposure_col: str,
    case_col: str,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Population attributable fraction for COHORT data (Levin 1953;
    CI by the delta method on ln(1−PAF), Greenland 1987's
    transformation so the interval respects PAF < 1) — the
    "what share of cases would vanish if the exposure did" summary
    every cancer-registry burden report publishes beside rates:

        PAF = 1 − I₀/I = (I − I₀)/I,
        I  = (a+c)/N   (overall incidence proportion),
        I₀ = c/n₀      (incidence among the UNexposed),

    from the 2×2 per group: a/b exposed cases/non-cases (n₁ = a+b),
    c/d unexposed (n₀ = c+d). With a, c independent binomials given
    the cohort margins n₁, n₀,

        ln(1−PAF) = ln c − ln n₀ − ln(a+c) + ln N,
        Var       ≈ (1/(a+c))²·ab/n₁ + (a/(c(a+c)))²·cd/n₀,

    and CI = 1 − exp(ln(1−PAF) ∓ z·√Var). Also returns the risk
    ratio and the attributable fraction among the EXPOSED
    (AF_e = (RR−1)/RR — Miettinen's case-load companion). Degenerate
    groups (no unexposed cases, no cases, or an empty margin) return
    NULL estimates instead of ±inf — the km_curve NULL-SE
    convention.

    Scale shape: ONE map-side-combined hash aggregate to four long
    counts per group; everything downstream is per-group scalar
    arithmetic — no second pass, no windows, no joins. Returns
    (group, n, cases, exposed_cases, rr, af_exposed, paf, paf_lo,
    paf_hi), 6 dp.
    """
    g = list(group_cols)
    ex = F.col(exposure_col).cast("int")
    cs = F.col(case_col).cast("int")
    agg = df.groupBy(*g).agg(
        F.sum(ex * cs).alias("_a"),
        F.sum(ex * (1 - cs)).alias("_b"),
        F.sum((1 - ex) * cs).alias("_c"),
        F.sum((1 - ex) * (1 - cs)).alias("_d"),
    )
    a = F.col("_a").cast("double")
    b = F.col("_b").cast("double")
    c = F.col("_c").cast("double")
    d = F.col("_d").cast("double")
    n1 = a + b
    n0 = c + d
    n = n1 + n0
    ok = (F.col("_c") > 0) & (F.col("_a") + F.col("_c") > 0) & (
        F.col("_b") + F.col("_d") >= 0
    ) & (F.col("_a") > 0) & (n1 > 0) & (n0 > 0)
    rr = (a / n1) / (c / n0)
    lnq = F.log(c) - F.log(n0) - F.log(a + c) + F.log(n)
    var = (
        (F.lit(1.0) / (a + c)) * (F.lit(1.0) / (a + c)) * a * b / n1
        + (a / (c * (a + c))) * (a / (c * (a + c))) * c * d / n0
    )
    se = F.sqrt(var)
    paf = F.lit(1.0) - F.exp(lnq)
    return agg.select(
        *g,
        (F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d")).alias(
            "n"
        ),
        (F.col("_a") + F.col("_c")).alias("cases"),
        F.col("_a").alias("exposed_cases"),
        F.when(ok, F.round(rr, 6)).alias("rr"),
        F.when(ok, F.round((rr - 1) / rr, 6)).alias("af_exposed"),
        F.when(ok, F.round(paf, 6)).alias("paf"),
        F.when(
            ok, F.round(F.lit(1.0) - F.exp(lnq + F.lit(z) * se), 6)
        ).alias("paf_lo"),
        F.when(
            ok, F.round(F.lit(1.0) - F.exp(lnq - F.lit(z) * se), 6)
        ).alias("paf_hi"),
    )


def _aft_fit(
    fit, df, feature_cols, duration_col, event_col, iters, return_se,
    terms,
):
    """The Newton fit shared by ``weibull_aft`` and ``loglogistic_aft``
    over θ = (μ, β…, ln σ), with ``terms`` the distribution's numpy
    kernel: ``terms(z, δ)`` returns per-cell arrays (a, b, c, s, h) of

        g_βj = a·x_j/σ,  g_lnσ = s,  H_βjβk = b·x_j·x_k/σ²,
        H_βj,lnσ = c·x_j/σ,  H_lnσ,lnσ = h        (x₀ ≡ 1 for μ).

    Complete cases only (R's ``na.omit``): rows with a null/NaN
    feature, duration or event are dropped, then subjects collapse ONCE
    to (x-pattern, ln t, event) cells with counts n. Every pass is one
    ``driverfit.fold`` of the kernel over the cells — on the driver
    when they are bounded, else per Arrow batch in Spark — with each
    term·n·1e9 rounded to an exact int64 point and summed without
    wrapping, so θ̂ is bit-identical under any partitioning or batch
    split. A term outside int64 raises ``"<fit>: lattice overflow"``."""
    import numpy as np

    iters = int(iters)
    if iters < 1:
        raise ValueError(f"{fit}: iters must be >= 1")
    feats = list(feature_cols)
    p = len(feats)
    q = p + 2  # mu, betas, ln sigma
    dur = F.col(duration_col).cast("double")
    y = F.when(
        dur <= 0,
        F.raise_error(
            F.lit(f"{fit}: duration must be > 0 (ln t)")
        ).cast("double"),
    ).otherwise(F.log(dur))
    cells = (
        df.dropna(subset=[*feats, duration_col, event_col])
        .groupBy(
            *[F.col(c).cast("double").alias(f"_x{j}") for j, c in
              enumerate(feats)],
            y.alias("_y"),
            F.col(event_col).cast("long").alias("_d"),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=False)
    )
    pdf = collect_bounded(cells)

    def init(b):  # [Σ round(ln t·n·1e9), Σ n]
        n = b["_n"].to_numpy()
        yn = b["_y"].to_numpy().astype(np.float64)
        sy = exact_sum(fit, yn * n.astype(np.float64) * 1e9)
        return [sy, int(n.sum())]

    def moments(theta, b):
        n = b["_n"].to_numpy().astype(np.float64)
        xs = [1.0] + [
            b[f"_x{j}"].to_numpy().astype(np.float64) for j in range(p)
        ]
        sigma = float(np.exp(theta[-1]))
        eta = np.zeros(len(b)) + theta[0]
        for j in range(p):
            eta = eta + theta[j + 1] * xs[j + 1]
        z = (b["_y"].to_numpy().astype(np.float64) - eta) / sigma
        a, bb, c, s, h = terms(z, b["_d"].to_numpy().astype(np.float64))
        grad = [a * x / sigma for x in xs] + [s]
        hess = []  # upper triangle, row-major
        for j in range(p + 1):
            hess += [
                bb * xs[j] * xs[k] / (sigma * sigma) for k in range(j, p + 1)
            ]
            hess.append(c * xs[j] / sigma)
        return [exact_sum(fit, t * n * 1e9) for t in grad + hess + [h]]

    tot = fold(cells, pdf, init)
    if not tot:
        raise ValueError(f"{fit}: empty input")
    # np.round, not round(): they differ in the last bit on a few
    # values, and the published fits start from numpy's
    theta = [np.round(tot[0] / 1e9 / tot[1], 9)] + [0.0] * p + [0.0]
    upper = [(j, k) for j in range(q) for k in range(j, q)]
    info = None
    for _ in range(iters):
        tot = [v / 1e9 for v in fold(cells, pdf, partial(moments, theta))]
        hess = np.zeros((q, q))
        for (j, k), v in zip(upper, tot[q:]):
            hess[j, k] = hess[k, j] = v
        info = -hess
        step = np.clip(np.linalg.solve(info, np.array(tot[:q])), -1.0, 1.0)
        theta = [round(t + s, 9) for t, s in zip(theta, step)]
    beta = theta[:-1]
    sigma = round(float(np.exp(theta[-1])), 9)
    if return_se:
        cov = np.linalg.inv(info)
        se = [round(float(np.sqrt(cov[j, j])), 9) for j in range(q)]
        return beta, sigma, se
    return beta, sigma


def weibull_aft(
    df: DataFrame,
    feature_cols: Sequence[str],
    duration_col: str = "duration",
    event_col: str = "event",
    iters: int = 8,
    return_se: bool = False,
):
    """Weibull accelerated-failure-time regression (R ``survreg``'s
    default) — the PARAMETRIC companion to ``cox_ph`` the registry
    modelling suites publish when the baseline shape itself matters
    (extrapolation past follow-up, expected-survival inputs to
    life-years-lost): ln T = μ + β·x + σW with W standard minimum
    extreme value, so covariates ACCELERATE time (HR and AFT views
    coincide only in the Weibull family). Newton-Raphson on the exact
    censored log-likelihood over θ = (μ, β…, ln σ):

        z = (ln t − μ − β·x)/σ,  w = e^z,  δ = event
        ll    = δ(z − ln σ) − w          (+ const)
        g_βj  = (w − δ)x_j/σ             (x₀ ≡ 1 for μ)
        g_s   = (w − δ)z − δ
        H_ββ  = −w x_j x_k/σ²
        H_βs  = −x_j(wz + w − δ)/σ
        H_ss  = −wz² − (w − δ)z

    Complete cases (rows with a null/NaN feature, duration or event
    are dropped, as R's ``na.omit``) collapse ONCE to (x-pattern,
    ln t, event) cells with counts before the loop; each iteration is
    one fold of its numpy terms kernel over the cells
    (``_aft_fit``: on the driver when the cells are bounded, else per
    Arrow batch in Spark) — per-cell terms × n nano-rounded to exact
    int64 points and summed without wrapping, so θ̂ is bit-identical
    under any partitioning (cells are unique keys, the
    per-subject-rounding contract collapses to per-cell); a term
    outside int64 raises ``weibull_aft: lattice overflow``. The
    driver holds θ and the (p+2)² Hessian (numpy solve).
    Initialization: μ = cell-weighted mean ln t (one extra pass),
    β = 0, ln σ = 0 — the survreg convention that keeps early z
    bounded. Two deterministic safeguards, both inactive at any
    real optimum so the converged θ̂ is the plain Newton fixed
    point: each step is component-capped at ±1.0 (an uncapped
    early step can fling ln σ far low), and z is clamped at 15
    INSIDE w = e^z only (e^15·n·1e9 still fits the long lattice;
    a subject with true z > 15 would carry likelihood e^{−e^15} —
    no real data point does). Durations must be > 0 (named
    in-plan error: ln t).

    ``return_se=True`` adds Wald SEs for (μ, β…, ln σ) from the
    penultimate iterate's −H (the cox_ph convention).

    Returns (beta, sigma) where beta = [μ, β₁…β_p], or
    (beta, sigma, se) with ``return_se``.
    """
    import numpy as np

    def terms(z, d):  # the _aft_fit kernel: (a, b, c, s, h) per cell
        w = np.exp(np.minimum(z, 15.0))
        return (
            w - d,
            -w,
            -(w * z + w - d),
            (w - d) * z - d,
            -w * z * z - (w - d) * z,
        )

    return _aft_fit(
        "weibull_aft", df, feature_cols, duration_col, event_col, iters,
        return_se, terms,
    )


def piecewise_exponential_ph(
    df: DataFrame,
    feature_cols: Sequence[str],
    breaks: Sequence[float],
    duration_col: str = "duration",
    event_col: str = "event",
    iters: int = 8,
    return_se: bool = False,
):
    """Piecewise-exponential proportional-hazards regression
    (Holford 1980; Friedman 1982 — the 'Poisson trick') — the
    SEMI-parametric middle ground the registries fit when Cox's
    baseline is too opaque and Weibull too rigid: the hazard is
    constant within follow-up intervals,

        λ(t | x) = exp(α_k + β·x)   for t in [c_k, c_{k+1}),

    which is EXACTLY a Poisson GLM on episode-split person-time:
    events_k ~ Poisson(exp(α_k + β·x + ln Y_k)). Composition of two
    pinned operators:

      1. ``lexis_expand`` splits follow-up at ``breaks`` (the time-
         since-entry axis; one array expression + one explode, no
         shuffle), giving per-slice risk_time and the terminal-slice
         event flag;
      2. slices collapse to (interval, x-pattern) cells — events d
         and person-time Y; Poisson additivity makes the cell-level
         fit IDENTICAL to the subject-level one — and ``glm_poisson``
         runs on the cell frame with offset ln Y and K−1 interval
         dummies (first interval = reference), one nano-lattice
         fold per Fisher iteration, bit-identical under any
         partitioning.

    With no covariates the model is saturated, so the fitted
    baseline hazards equal the occurrence/exposure rates d_k/Y_k —
    the classic actuarial identity, pinned in tests.

    ``breaks`` are the interior cut points (must be positive,
    strictly increasing); intervals are [0,c₁), [c₁,c₂), …,
    [c_K, ∞). Returns (curve, beta) — or (curve, beta, se) with
    ``return_se`` — where curve is one row per interval
    (interval_start, events, person_time, base_hazard) with
    base_hazard = exp(α̂_k) at x = 0 (6 dp), and beta =
    [α₁, γ₂…γ_K, β_feats…] on glm_poisson's layout (γ_k = α_k − α₁).

    Scale shape: the explode multiplies rows by ≤ K+1 (grid-bounded),
    the cell collapse is one map-side hash aggregate, and every
    Fisher pass runs on the cell frame (≤ K·#x-patterns rows).
    """
    feats = list(feature_cols)
    cuts = [float(b) for b in breaks]
    if not cuts or any(b <= 0 for b in cuts) or sorted(set(cuts)) != cuts:
        raise ValueError(
            "piecewise_exponential_ph: breaks must be positive and "
            "strictly increasing"
        )
    from .stats import glm_poisson

    expanded = lexis_expand(
        df.withColumn("_a0", F.lit(0.0)).withColumn("_p0", F.lit(0.0)),
        "_a0",
        "_p0",
        duration_col,
        event_col,
        age_breaks=[0.0] + cuts,
        period_breaks=[0.0],
    )
    cells = expanded.groupBy(
        F.col("age_band").alias("_iv"),
        *[F.col(c).cast("double").alias(f"_x{j}") for j, c in
          enumerate(feats)],
    ).agg(
        F.sum("event_slice").cast("long").alias("_d"),
        F.sum(
            F.round(F.col("risk_time") * F.lit(1000000.0), 0).cast(
                "long"
            )
        ).alias("_ym"),
    )
    cells = cells.withColumn(
        "_lny", F.log(F.col("_ym") / F.lit(1000000.0))
    )
    starts = [0.0] + cuts
    for k, s in enumerate(starts[1:], start=1):
        cells = cells.withColumn(
            f"_iv{k}", (F.col("_iv") == F.lit(s)).cast("double")
        )
    cells = cells.localCheckpoint(eager=False)
    model_feats = [f"_iv{k}" for k in range(1, len(starts))] + [
        f"_x{j}" for j in range(len(feats))
    ]
    fit = glm_poisson(
        cells, model_feats, "_d", offset_col="_lny", iters=iters,
        return_se=return_se,
    )
    beta = fit[0] if return_se else fit
    alpha1 = beta[0]
    gammas = [0.0] + list(beta[1:len(starts)])
    hz = {
        s: round(
            float(__import__("math").exp(alpha1 + gammas[k])), 6
        )
        for k, s in enumerate(starts)
    }
    hmap = F.create_map(
        *[F.lit(x) for s, h in hz.items() for x in (s, h)]
    )
    curve = (
        cells.groupBy("_iv")
        .agg(
            F.sum("_d").alias("events"),
            F.round(
                F.sum("_ym") / F.lit(1000000.0), 6
            ).alias("person_time"),
        )
        .select(
            F.col("_iv").alias("interval_start"),
            "events",
            "person_time",
            hmap[F.col("_iv")].alias("base_hazard"),
        )
    )
    if return_se:
        return curve, beta, fit[1]
    return curve, beta


def integrated_brier_score(
    df: DataFrame,
    pred_cols: Sequence[str],
    duration_col: str = "duration",
    event_col: str = "event",
    min_g: float = 0.01,
) -> DataFrame:
    """Integrated Brier score (Graf et al. 1999's IBS — THE single-
    number summary of a survival model's prediction error): the
    unit-grid average of the IPCW Brier score over horizons 1..τ,

        IBS = τ⁻¹ Σ_{t=1..τ} BS(t),

    where the model supplies its OWN survival prediction per horizon
    — ``pred_cols[k]`` is Ŝ(k+1 | x) (one column per grid time; BS
    at t must score the prediction AT t, which the single-horizon
    ``brier_score_ipcw`` cannot express). Each per-horizon BS uses
    the identical reverse-KM/left-limit/micro-lattice machinery as
    ``brier_score_ipcw`` and is rounded to the same 6 dp BEFORE the
    long-lattice average, so the IBS is bit-equal to composing τ
    single-horizon calls (pinned in tests).

    Scale shape: ONE reverse-KM pass, one explode of each subject
    into its τ (t, ŷ_t) pairs (grid-bounded), ONE
    (t, duration, event, pred) cell collapse, one broadcast Ĝ(t)
    read per horizon (τ-row frame), one grid aggregate. Returns one
    row: (tau, n, ibs), 6 dp.
    """
    preds = list(pred_cols)
    tau = len(preds)
    if tau < 1:
        raise ValueError(
            "integrated_brier_score: pred_cols must be non-empty"
        )
    spark = df.sparkSession
    ev = F.col(event_col).cast("long")
    dur = F.col(duration_col).cast("long")
    g_curve = km_curve(
        df.select(F.lit(1).alias("_g1"), dur.alias("_dur"),
                  (1 - ev).alias("_cev")),
        ["_g1"],
        "_dur",
        "_cev",
    ).select(F.col("_dur").alias("_gt"), F.col("survival").alias("_g"))
    g_curve = g_curve.localCheckpoint(eager=False)
    pairs = F.array(
        *[
            F.struct(
                F.lit(k + 1).cast("long").alias("t"),
                F.col(c).cast("double").alias("p"),
            )
            for k, c in enumerate(preds)
        ]
    )
    long = df.select(
        dur.alias("_t"), ev.alias("_e"), F.explode(pairs).alias("_pp")
    ).select("_t", "_e", F.col("_pp.t").alias("t"),
             F.col("_pp.p").alias("_p"))
    cells = long.groupBy("t", "_t", "_e", "_p").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    cells = _g_left_limit(cells, g_curve, "_t")
    n_tot = df.count()
    gmin = F.lit(float(min_g))
    tdf = spark.createDataFrame(
        [(k + 1,) for k in range(tau)], "t long"
    )
    gh = (
        g_curve.crossJoin(F.broadcast(tdf))
        .filter(F.col("_gt") <= F.col("t"))
        .groupBy("t")
        .agg(F.max(F.struct(F.col("_gt"), F.col("_g"))).alias("_b"))
        .select("t", F.col("_b._g").alias("_gh"))
    )
    grid = cells.join(F.broadcast(gh), ["t"], "left").withColumn(
        "_ghc", F.coalesce(F.col("_gh"), F.lit(1.0))
    )
    w_ev = F.lit(1.0) / F.greatest(F.col("_gm"), gmin)
    w_h = F.lit(1.0) / F.greatest(F.col("_ghc"), gmin)
    term = F.when(
        (F.col("_e") == 1) & (F.col("_t") <= F.col("t")),
        F.col("_cnt") * _micro(F.col("_p") * F.col("_p") * w_ev),
    ).when(
        F.col("_t") > F.col("t"),
        F.col("_cnt")
        * _micro(
            (F.lit(1.0) - F.col("_p"))
            * (F.lit(1.0) - F.col("_p"))
            * w_h
        ),
    ).otherwise(F.lit(0).cast("long"))
    per_t = grid.groupBy("t").agg(F.sum(term).alias("_bs"))
    # round per horizon to brier_score_ipcw's published 6 dp FIRST,
    # then average on exact longs — bit-equal to composing tau
    # single-horizon calls
    bs6 = F.round(
        F.col("_bs") / F.lit(1000000.0) / F.lit(float(n_tot)), 6
    )
    return (
        tdf.join(per_t, "t", "left")
        .select(
            F.coalesce(
                F.round(bs6 * F.lit(1000000.0), 0).cast("long"),
                F.lit(0).cast("long"),
            ).alias("_b6")
        )
        .agg(
            F.lit(tau).cast("long").alias("tau"),
            F.lit(n_tot).cast("long").alias("n"),
            F.round(
                F.sum("_b6") / F.lit(1000000.0) / F.lit(float(tau)), 6
            ).alias("ibs"),
        )
    )


def loglogistic_aft(
    df: DataFrame,
    feature_cols: Sequence[str],
    duration_col: str = "duration",
    event_col: str = "event",
    iters: int = 8,
    return_se: bool = False,
):
    """Log-logistic accelerated-failure-time regression (R
    ``survreg(dist="loglogistic")``) — the NON-MONOTONE-hazard
    parametric alternative to ``weibull_aft`` (its hazard rises then
    falls when σ < 1, the shape registries see in post-treatment
    relapse), with the bonus that exp(η) IS the median survival time
    so exp(β_j) is a median time ratio. ln T = μ + β·x + σW with W
    standard LOGISTIC; Newton-Raphson over θ = (μ, β…, ln σ) with

        z = (ln t − η)/σ,  s = σ_logistic(z) = e^z/(1+e^z)
        ll    = δ(z − 2 ln(1+e^z) − ln σ) − (1−δ) ln(1+e^z)
        g_z   = δ − s(1+δ),  g_z' = −s(1−s)(1+δ)
        g_βj  = −g_z·x_j/σ,  g_lnσ = −z·g_z − δ
        H_ββ  = g_z'·x_j x_k/σ²
        H_β,lnσ = x_j(z·g_z' + g_z)/σ
        H_lnσ,lnσ = z²·g_z' + z·g_z

    The same cell shape, lattice, init, ±1 step cap, and z-clamp
    contract as ``weibull_aft`` (see it for the scale story):
    complete cases collapse ONCE to (x-pattern, ln t, event) cells,
    one fold of its terms kernel per iteration,
    bit-identical under any partitioning, pinned to a pure-Python
    twin. Here the clamp
    |z| ≤ 30 only stabilizes e^z inside s — s itself is bounded in
    (0,1) so the lattice cannot overflow; the clamp keeps exp()
    finite. Returns (beta, sigma) or (beta, sigma, se).
    """
    import numpy as np

    def terms(z, d):  # the _aft_fit kernel: (a, b, c, s, h) per cell
        zc = np.minimum(np.maximum(z, -30.0), 30.0)
        s = 1.0 / (1.0 + np.exp(-zc))
        gz = d - s * (1.0 + d)
        gzp = -s * (1.0 - s) * (1.0 + d)
        return -gz, gzp, z * gzp + gz, -z * gz - d, z * z * gzp + z * gz

    return _aft_fit(
        "loglogistic_aft", df, feature_cols, duration_col, event_col,
        iters, return_se, terms,
    )


def apc_drift_model(
    df: DataFrame,
    age_col: str,
    period_col: str,
    events_col: str,
    pt_col: str,
    iters: int = 12,
    max_ages: int = 30,
):
    """Age-drift Poisson model on TABULATED registry cells (Clayton &
    Schifflers 1987's model II — the estimable core of every
    age-period-cohort analysis before the identifiability swamp):

        events(a, p) ~ Poisson( Y(a,p) · exp(α_a + δ·(p − p̄)) )

    one free rate level per age band plus a single log-linear
    calendar DRIFT δ — the 'net annual change adjusted for age' that
    ``apc_trend`` estimates per-band and registries quote as one
    number. Input is the tabulated (age, period, events,
    person-time) frame registries actually publish (episode-split
    micro data reaches this shape via ``lexis_expand``). Period
    centers on the unweighted mean of the distinct periods
    (deterministic; keeps the intercept a real rate).

    Fit is ``glm_poisson`` on the CELL frame (age dummies, first
    band reference, offset ln Y) — one nano-lattice fold per
    Fisher pass over a grid-bounded frame; the age-level collect is
    #bands rows (``max_ages`` guard). Default 12 Fisher passes: the
    flat β=0 start sits far below registry-sized cell means (e^η
    jumps 1 → hundreds), which costs Newton a few extra steps
    before its quadratic regime (convergence pinned in tests). Returns (curve, drift_pct)
    where curve has one row per age band (age, events, person_time,
    fitted_rate_ref — the rate at the mean period) and drift_pct =
    100·(e^δ − 1), rounded 6 dp.
    """
    import math

    from .stats import glm_poisson

    ages = [
        r["_a"]
        for r in df.select(F.col(age_col).alias("_a"))
        .distinct()
        .orderBy("_a")
        .collect()
    ]
    if len(ages) > max_ages:
        raise ValueError(
            f"apc_drift_model: {len(ages)} age bands exceeds "
            f"max_ages={max_ages}"
        )
    if len(ages) < 2:
        raise ValueError("apc_drift_model: need >= 2 age bands")
    periods = [
        r["_p"]
        for r in df.select(
            F.col(period_col).cast("double").alias("_p")
        )
        .distinct()
        .collect()
    ]
    p_bar = round(sum(periods) / len(periods), 9)

    cells = df.select(
        F.col(age_col).alias("_age"),
        (F.col(period_col).cast("double") - F.lit(p_bar)).alias("_pc"),
        F.col(events_col).cast("long").alias("_d"),
        F.col(pt_col).cast("double").alias("_y"),
    )
    for i, a in enumerate(ages[1:], start=1):
        cells = cells.withColumn(
            f"_a{i}", (F.col("_age") == F.lit(a)).cast("double")
        )
    cells = cells.withColumn("_lny", F.log("_y")).localCheckpoint(
        eager=False
    )
    feats = [f"_a{i}" for i in range(1, len(ages))] + ["_pc"]
    beta = glm_poisson(cells, feats, "_d", offset_col="_lny",
                       iters=iters)
    delta = beta[-1]
    drift_pct = round(100.0 * (math.exp(delta) - 1.0), 6)
    rates = {
        a: round(
            math.exp(beta[0] + (beta[i] if i else 0.0)), 6
        )
        for i, a in enumerate(ages)
    }
    rmap = F.create_map(
        *[F.lit(x) for a, r in rates.items() for x in (a, r)]
    )
    curve = (
        cells.groupBy("_age")
        .agg(
            F.sum("_d").alias("events"),
            F.round(F.sum("_y"), 6).alias("person_time"),
        )
        .select(
            F.col("_age").alias("age"),
            "events",
            "person_time",
            rmap[F.col("_age")].alias("fitted_rate_ref"),
            F.lit(drift_pct).alias("drift_pct"),
        )
    )
    return curve, drift_pct


def cox_ph_counting(
    df: DataFrame,
    feature_cols: Sequence[str],
    start_col: str = "start",
    stop_col: str = "stop",
    event_col: str = "event",
    iters: int = 8,
    return_se: bool = False,
):
    """Cox regression on COUNTING-PROCESS (start, stop] episodes —
    R ``coxph(Surv(start, stop, event) ~ …)``, which unlocks the two
    designs the plain ``cox_ph`` cannot express:

    * LEFT TRUNCATION / delayed entry (a subject contributes to risk
      sets only after its entry time — registry period analysis and
      age-as-timescale models), and
    * ANDERSEN-GILL recurrent events (one episode per gap between a
      subject's successive events; subjects re-enter the risk set
      after each event).

    The risk set at event time t is {i : start_i < t ≤ stop_i}: an
    episode counts at its stop time (a subject with stop == t IS at
    risk at t) and leaves again, negatively, at its start time (mass
    at start == t is not yet at risk). This is
    ``cox_ph_time_dependent``'s core (``_cox_fit``) with Breslow ties
    (the Andersen-Gill convention; Efron with delayed entry is not
    offered here) — the exact cox_ph lattice contract, bit-identical
    under any partitioning. With start ≡ 0 the risk sets — and the
    fitted β, by the shared lattice — coincide with ``cox_ph``'s
    (pinned in tests). Complete cases only; episodes need start < stop
    (named in-plan error). Returns β (or (β, se) — model-based Wald;
    for Andersen-Gill data use a cluster bootstrap, the reuse caveat of
    ``cox_ph_robust`` applies doubly here, documented).
    """
    return _cox_fit(
        "cox_ph_counting", df, feature_cols, (start_col, stop_col),
        event_col, iters, "breslow", None, return_se,
    )


def gray_test_stratified(
    df: DataFrame,
    group_col: str,
    strata_cols: Sequence[str],
    duration_col: str = "duration",
    cause_col: str = "cause",
) -> DataFrame:
    """STRATIFIED Gray-type test for equality of cumulative incidence
    functions — ``gray_test`` with per-stratum risk sets and censoring
    KMs (the competing-risks analogue of ``logrank_test``'s
    ``strata`` form): each stratum contributes its own score U_s and
    information I_s from its own IPCW-weighted subdistribution risk
    sets, and the pooled statistic is

        χ² = (Σ_s U_s)² / Σ_s I_s,  1 df —

    the adjustment for center/age-band when CIF levels differ by
    stratum but the group contrast is shared. Same β = 0 Fine-Gray
    score machinery as ``gray_test`` (see it for the formulas and
    the lattice story), with every global pass swapped for its keyed
    sibling: per-(stratum, duration) cells, per-stratum totals
    broadcast back, and THREE chained ``grouped_prefix_sum`` passes
    (hot strata span range partitions). With ONE stratum the longs
    are identical to ``gray_test``'s, so the statistic reduces
    bit-equal (pinned in tests).

    Returns one row: n_strata, n_subjects_1/2, events_1, expected_1,
    score, information, chi_square (6 dp).
    """
    strata = list(strata_cols)
    if not strata:
        raise ValueError(
            "gray_test_stratified: strata_cols must be non-empty "
            "(use gray_test)"
        )
    # r11 driver-solve fast path — the gray_test twin with per-stratum
    # segmentation (see _gray_driver_sums); bit-identical, pinned in
    # tests/test_driverfit.py.
    _pdfc, _gvals = _gray_collect(
        df, group_col, duration_col, cause_col, strata
    )
    if _pdfc is not None:
        if len(_gvals) != 2:
            raise ValueError(
                "gray_test_stratified needs exactly 2 groups, "
                f"got {_gvals}"
            )
        _ns, _n1, _n, _ev1, _e, _u, _i = _gray_driver_sums(
            _pdfc, _gvals[0], len(strata)
        )
        _nano = F.lit(1000000000.0)
        hdr = df.sparkSession.createDataFrame(
            [(_ns, _n1, _n, _ev1, _e, _u, _i)],
            "_ns long, _n1 long, _n long, events_1 long, _el long, "
            "_ul long, _il long",
        )
        return hdr.select(
            F.col("_ns").alias("n_strata"),
            F.col("_n1").alias("n_subjects_1"),
            (F.col("_n") - F.col("_n1")).alias("n_subjects_2"),
            "events_1",
            F.round(F.col("_el") / _nano, 6).alias("expected_1"),
            F.round(F.col("_ul") / _nano, 6).alias("score"),
            F.round(F.col("_il") / _nano, 6).alias("information"),
            F.round(
                (F.col("_ul") / _nano)
                * (F.col("_ul") / _nano)
                / (F.col("_il") / _nano),
                6,
            ).alias("chi_square"),
        )

    gvals = [
        r[0]
        for r in df.select(group_col).distinct().orderBy(group_col)
        .collect()
    ]
    if len(gvals) != 2:
        raise ValueError(
            f"gray_test_stratified needs exactly 2 groups, got {gvals}"
        )
    g1 = gvals[0]
    is1 = (F.col(group_col) == F.lit(g1)).cast("long")
    cz = F.col(cause_col).cast("long")
    is_ev = (cz == 1).cast("long")
    is_cen = (cz == 0).cast("long")
    is_cmp = (cz == 2).cast("long")
    nano = F.lit(1000000000.0)
    micro = F.lit(1000000.0)

    cells = df.groupBy(*strata, duration_col).agg(
        F.sum(is_ev * is1).alias("d1"),
        F.sum(is_ev).alias("d"),
        F.sum(is_cen).alias("cen"),
        F.sum(is_cmp * is1).alias("m1"),
        F.sum(is_cmp).alias("m"),
        F.sum(is1).alias("rm1"),
        F.count(F.lit(1)).alias("rm"),
    )
    cells = grouped_prefix_sum(
        cells, strata, duration_col, ["rm1", "rm"],
        ["rm1_before", "rm_before"],
        totals_alias=["_n1", "_n"],
    )
    n_at = F.col("_n") - F.col("rm_before")
    g_term = F.when(
        (F.col("cen") > 0) & (F.col("cen") < n_at),
        _micro(F.log(F.lit(1.0) - F.col("cen") / n_at)),
    ).otherwise(F.lit(0).cast("long"))
    cells = cells.withColumn("_g_term", g_term)
    cells = grouped_prefix_sum(
        cells, strata, duration_col, ["_g_term"], ["_lng_left"]
    )
    ginv = F.exp(-F.col("_lng_left") / micro)
    cells = cells.withColumn(
        "c0", F.round(F.col("m") * ginv * nano, 0).cast("long")
    ).withColumn(
        "c1", F.round(F.col("m1") * ginv * nano, 0).cast("long")
    )
    cells = grouped_prefix_sum(
        cells, strata, duration_col, ["c0", "c1"],
        ["c0_before", "c1_before"],
    )
    gleft = F.exp(F.col("_lng_left") / micro)
    s0 = (F.col("_n") - F.col("rm_before")) + gleft * (
        F.col("c0_before") / nano
    )
    s1 = (F.col("_n1") - F.col("rm1_before")) + gleft * (
        F.col("c1_before") / nano
    )
    d = F.col("d")
    ratio = s1 / s0
    u_term = F.when(
        d > 0,
        F.round((F.col("d1") - d * ratio) * nano, 0).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    e_term = F.when(
        d > 0, F.round(d * ratio * nano, 0).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    i_term = F.when(
        d > 0,
        F.round(d * ratio * (F.lit(1.0) - ratio) * nano, 0).cast(
            "long"
        ),
    ).otherwise(F.lit(0).cast("long"))
    # r10: the per-stratum totals ride on cells (totals_alias) — the
    # cross-strata header collapses them instead of a separate pass
    n_by = (
        cells.groupBy(*strata)
        .agg(F.max("_n1").alias("_n1"), F.max("_n").alias("_n"))
        .agg(
            F.count(F.lit(1)).alias("_ns"),
            F.sum("_n1").alias("_tn1"),
            F.sum("_n").alias("_tn"),
        )
    )
    out = cells.agg(
        F.sum("d1").alias("events_1"),
        F.round(F.sum(e_term) / nano, 6).alias("expected_1"),
        (F.sum(u_term) / nano).alias("_u"),
        (F.sum(i_term) / nano).alias("_i"),
    ).crossJoin(F.broadcast(n_by))
    return out.select(
        F.col("_ns").alias("n_strata"),
        F.col("_tn1").alias("n_subjects_1"),
        (F.col("_tn") - F.col("_tn1")).alias("n_subjects_2"),
        "events_1",
        "expected_1",
        F.round(F.col("_u"), 6).alias("score"),
        F.round(F.col("_i"), 6).alias("information"),
        F.round(F.col("_u") * F.col("_u") / F.col("_i"), 6).alias(
            "chi_square"
        ),
    )


def multistate_illness_death(
    df: DataFrame,
    group_cols: Sequence[str],
    horizon: int,
    ill_col: str = "t_ill",
    exit_col: str = "t_exit",
    death_col: str = "death",
) -> DataFrame:
    """Aalen-Johansen state-occupation probabilities for the
    progressive ILLNESS-DEATH model (states 0 = initial, 1 = ill,
    2 = dead; transitions 0→1, 0→2, 1→2) — the canonical multistate
    extension of the competing-risks AJ (``cif_competing_risks``) a
    cancer registry needs the moment "progression" is recorded as its
    own event between diagnosis and death (the reference's INDEX
    table, /root/reference/docs/create_index.sql:2-20, publishes the
    two-state margin; this is its multistate companion).

    ``df`` is one row per subject on an integer hour axis:

    * ``ill_col``   hour of the 0→1 transition, NULL if the subject
      left state 0 directly (death or censoring without illness);
    * ``exit_col``  hour of final exit (death or censoring) from
      whichever state the subject then occupied;
    * ``death_col`` ∈ {0, 1} — 1 iff the exit was a death.

    ``ill < exit`` is enforced in-plan (a zero-length state-1 stay has
    no risk-set meaning on the discrete axis); hours beyond
    ``horizon`` must be pre-censored by the caller.

    Estimator (product-integral on the discrete grid, Aalen-Johansen
    1978): with n0(s)/n1(s) the state risk sets entering hour s
    (entries strictly before s, exits at ≥ s), d01/d02/d12 the
    transition counts AT s, and d0 = d01 + d02:

        P00(t) = Π_{s ≤ t} (1 − d0(s)/n0(s))
        P11(u,t) = Π_{u < s ≤ t} (1 − d12(s)/n1(s))
        P01(t) = Σ_{u ≤ t} P00(u−) · d01(u)/n0(u) · P11(u,t)
        P02(t) = 1 − P00(t) − P01(t)

    The non-commutative matrix product-integral collapses to SCALAR
    prefix algebra because the model is progressive: P11(u,t) is the
    ratio exp(L1(t) − L1(u)) of one inclusive log-prefix, so P01 is a
    single prefix sum of B(u) = P00(u−)·h01(u)·exp(−L1(u)) scaled by
    exp(L1(t)) — the classic divide-by-prefix-product trick. Risk-set
    collapses (d = n) zero the product from there on; the prefix COUNT
    of collapse cells keys both the exact S = 0 pin (as in
    ``km_curve``) and the validity segments of the P11 ratio: a B(u)
    from before a state-1 collapse must not leak past it, so the
    P01 partial sums restart per (group, collapse-count) segment —
    segments are contiguous because the count is monotone, making the
    segment id a legal ``grouped_prefix_sum`` key.

    Returns one row per (group, hour 0..horizon): ``n0_risk``,
    ``n1_risk``, ``n_ill`` (d01), ``n_dead`` (d02 + d12), ``p00``,
    ``p01``, ``p02`` (each rounded to 6, p00 + p01 + p02 = 1 by
    construction).

    Scale shape: ONE hash aggregate to per-(group, hour) transition
    cells, a broadcast-sized (groups × (horizon+1)) dense grid, then
    THREE ``grouped_prefix_sum`` passes (risk sets → log-products /
    collapse counts → segment-keyed P01 partials). Nothing downstream
    of the cell aggregate scales with subject count. The exp(−L1)
    factor inside B is bounded by 1/P11(0,u): past a state-1 survival
    of ~1e-9 the micro-lattice longs would saturate — at that point
    the risk set has collapsed for every practical cohort and the
    segment logic has already pinned the tail.
    """
    g = list(group_cols)
    spark = df.sparkSession
    horizon = int(horizon)
    ill = F.col(ill_col)
    ext = F.col(exit_col).cast("long")
    dth = F.col(death_col).cast("long")
    chk = F.when(
        ill.isNotNull() & (ill.cast("long") >= ext),
        F.raise_error(
            "multistate_illness_death: t_ill must be < t_exit "
            "(zero-length state-1 stays are undefined on the "
            "discrete axis)"
        ).cast("long"),
    ).otherwise(ext)
    base = df.withColumn("_ext", chk)
    # state-0 exits: at t_ill (to 1) or, never-ill, at exit (to 2/cens)
    s0 = base.withColumn(
        "_s",
        F.when(ill.isNotNull(), ill.cast("long")).otherwise(
            F.col("_ext")
        ),
    ).groupBy(*g, "_s").agg(
        F.count(F.lit(1)).alias("_rm0"),
        F.sum(ill.isNotNull().cast("long")).alias("_d01"),
        F.sum((ill.isNull() & (dth == 1)).cast("long")).alias("_d02"),
    ).withColumn("_rm1", F.lit(0).cast("long")).withColumn(
        "_d12", F.lit(0).cast("long")
    )
    # state-1 exits: the ever-ill leave state 1 at exit (death/cens);
    # entries into state 1 are the _d01 counts already on the 0-side
    s1 = (
        base.filter(ill.isNotNull())
        .withColumn("_s", F.col("_ext"))
        .groupBy(*g, "_s")
        .agg(
            F.count(F.lit(1)).alias("_rm1"),
            F.sum(dth).alias("_d12"),
        )
    )
    cells = (
        s0.unionByName(
            s1.select(
                *g, "_s",
                F.lit(0).cast("long").alias("_rm0"),
                F.lit(0).cast("long").alias("_d01"),
                F.lit(0).cast("long").alias("_d02"),
                "_rm1", "_d12",
            )
        )
        .groupBy(*g, "_s")
        .agg(
            F.sum("_rm0").alias("_rm0"),
            F.sum("_d01").alias("_d01"),
            F.sum("_d02").alias("_d02"),
            F.sum("_rm1").alias("_rm1"),
            F.sum("_d12").alias("_d12"),
        )
    )
    totals = base.groupBy(*g).agg(F.count(F.lit(1)).alias("_n_subj"))
    hours = spark.range(0, horizon + 1).select(
        F.col("id").cast("long").alias("_s")
    )
    grid = (
        totals.crossJoin(F.broadcast(hours))
        .join(cells, g + ["_s"], "left")
        .na.fill(0, ["_rm0", "_d01", "_d02", "_rm1", "_d12"])
    )
    grid = grouped_prefix_sum(
        grid, g, "_s", ["_rm0", "_d01", "_rm1"],
        ["_rm00", "_en10", "_rm10"],
    )
    n0 = F.col("_n_subj") - F.col("_rm00")
    n1 = F.col("_en10") - F.col("_rm10")
    d0 = F.col("_d01") + F.col("_d02")
    d12 = F.col("_d12")
    grid = (
        grid.withColumn("n0_risk", n0)
        .withColumn("n1_risk", n1)
        .withColumn(
            "_lt0v",
            F.when(
                (d0 > 0) & (d0 < F.col("n0_risk")),
                _micro(F.log(F.lit(1.0) - d0 / F.col("n0_risk"))),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_z0v",
            F.when((d0 > 0) & (d0 == F.col("n0_risk")), F.lit(1))
            .otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "_lt1v",
            F.when(
                (d12 > 0) & (d12 < F.col("n1_risk")),
                _micro(F.log(F.lit(1.0) - d12 / F.col("n1_risk"))),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "_z1v",
            F.when((d12 > 0) & (d12 == F.col("n1_risk")), F.lit(1))
            .otherwise(F.lit(0)).cast("long"),
        )
    )
    grid = grouped_prefix_sum(
        grid, g, "_s",
        ["_lt0v", "_z0v", "_lt1v", "_z1v"],
        ["_lt00", "_z00", "_lt10", "_z10"],
    )
    lt0i = F.col("_lt00") + F.col("_lt0v")
    z0i = F.col("_z00") + F.col("_z0v")
    lt1i = F.col("_lt10") + F.col("_lt1v")
    z1i = F.col("_z10") + F.col("_z1v")
    s0_left = F.when(F.col("_z00") > 0, F.lit(0.0)).otherwise(
        F.exp(F.col("_lt00") / F.lit(1000000.0))
    )
    grid = (
        grid.withColumn("_z1seg", z1i)
        .withColumn("_lt1i", lt1i)
        .withColumn(
            "_bv",
            F.when(
                F.col("_d01") > 0,
                _micro(
                    s0_left
                    * (F.col("_d01") / F.col("n0_risk"))
                    * F.exp(-F.col("_lt1i") / F.lit(1000000.0))
                ),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn("_p00r", F.when(z0i > 0, F.lit(0.0)).otherwise(
            F.exp(lt0i / F.lit(1000000.0))
        ))
    )
    grid = grouped_prefix_sum(
        grid, g + ["_z1seg"], "_s", "_bv", "_sb0"
    )
    p01r = (
        F.exp(F.col("_lt1i") / F.lit(1000000.0))
        * (F.col("_sb0") + F.col("_bv"))
        / F.lit(1000000.0)
    )
    return grid.select(
        *g,
        F.col("_s").alias("hour"),
        "n0_risk",
        "n1_risk",
        F.col("_d01").alias("n_ill"),
        (F.col("_d02") + F.col("_d12")).alias("n_dead"),
        F.round(F.col("_p00r"), 6).alias("p00"),
        F.round(p01r, 6).alias("p01"),
        F.round(
            F.lit(1.0) - F.col("_p00r") - p01r, 6
        ).alias("p02"),
    )


def net_survival_gap(
    df: DataFrame,
    group_col: str,
    ref_value,
    cmp_value,
    class_col: str,
    class_weights: dict,
    band_col: str,
    hazard_micro_by_band: dict,
    horizon: int,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Net-survival GAP between two cohorts — the deprivation-gap /
    inequality statistic national cancer publications lead with (the
    reference's INDEX stack publishes per-cohort age-standardised net
    survival; the gap between the most- and least-deprived cohorts is
    its headline comparison): age-standardised Pohar Perme net
    survival per arm (the ``standardized_net_survival`` ICSS mix,
    weights renormalised over the classes PRESENT in each arm), the
    difference, and a delta-method CI from the standardisation-
    weighted PP variances,

        gap(h) = S_std,cmp(h) − S_std,ref(h),
        Var(gap) = Σ_a (w_a/W_cmp)²·se_a,cmp² +
                   Σ_a (w_a/W_ref)²·se_a,ref²

    (independent cohorts; se_a = the published PP ``se_net`` per
    class). Negative gap = the comparison arm does worse.

    Exactness: per-class curves and SEs are the published 6-dp PP
    columns, re-latticed to micro longs; the variance fold runs as
    pico(w_a²·se_a²/W²) longs after a broadcast join of the exact
    per-(group, hour) weight totals, so every distributed sum is an
    exact integer and the gap table hash-adjudicates bit-exact.
    Both named arms must be present — a missing arm raises in-plan
    (the 0·guard idiom) rather than publishing an empty frame.

    Returns one row per hour 1..horizon: ``n_risk_ref``,
    ``n_risk_cmp``, ``net_std_ref``, ``net_std_cmp``, ``gap``,
    ``se_gap``, ``lower_ci_gap``, ``upper_ci_gap`` (6 dp).

    Scale shape: one ``net_survival_pohar_perme`` keyed by (arm,
    class) — the broadcast-sized grid of the standardised estimator —
    plus three bounded folds on (arm[, class], hour) frames. Nothing
    scales with subjects beyond PP's one cell aggregate.
    """
    if any(int(w) != w for w in class_weights.values()):
        raise ValueError("class_weights must be integers (exact-sum)")
    gcol = F.col(group_col)
    base = df.filter(gcol.isin(ref_value, cmp_value))
    pp = net_survival_pohar_perme(
        base,
        [group_col, class_col],
        band_col,
        hazard_micro_by_band,
        horizon,
        duration_col,
        event_col,
        with_ci=True,
    )
    wmap = F.create_map(
        *[
            F.lit(x)
            for k, w in class_weights.items()
            for x in (k, int(w))
        ]
    )
    pp = (
        pp.withColumn(
            "_w",
            F.coalesce(wmap[F.col(class_col)], F.lit(0)).cast("long"),
        )
        .withColumn(
            "_sm",
            F.round(
                F.col("net_survival_pp") * F.lit(1000000.0), 0
            ).cast("long"),
        )
        .withColumn(
            "_sem",
            F.round(F.col("se_net") * F.lit(1000000.0), 0).cast(
                "long"
            ),
        )
    )
    wtot = pp.groupBy(group_col, "hour").agg(
        F.sum("_w").alias("_wt")
    )
    pp = pp.join(F.broadcast(wtot), [group_col, "hour"])
    # pico(w²·se²/W²): w/W ≤ 1 and se ≤ 1 keep the long in range
    var_term = _pico(
        (F.col("_w") / F.col("_wt"))
        * (F.col("_w") / F.col("_wt"))
        * (F.col("_sem") / F.lit(1000000.0))
        * (F.col("_sem") / F.lit(1000000.0))
    )
    arm = pp.groupBy(group_col, "hour").agg(
        F.sum("n_risk").alias("_n"),
        (
            F.sum(F.col("_w") * F.col("_sm"))
            / F.sum("_w")
            / F.lit(1000000.0)
        ).alias("_s_std"),
        (F.sum(var_term) / F.lit(1000000000000.0)).alias("_var"),
    )
    is_ref = gcol == F.lit(ref_value)
    is_cmp = gcol == F.lit(cmp_value)
    both = arm.groupBy("hour").agg(
        F.max(F.when(is_ref, F.col("_n"))).alias("_n_ref"),
        F.max(F.when(is_cmp, F.col("_n"))).alias("_n_cmp"),
        F.max(F.when(is_ref, F.col("_s_std"))).alias("_s_ref"),
        F.max(F.when(is_cmp, F.col("_s_std"))).alias("_s_cmp"),
        F.max(F.when(is_ref, F.col("_var"))).alias("_v_ref"),
        F.max(F.when(is_cmp, F.col("_var"))).alias("_v_cmp"),
    )
    gap = F.col("_s_cmp") - F.col("_s_ref")
    se = F.sqrt(F.col("_v_ref") + F.col("_v_cmp"))
    # 0·guard: a missing arm raises in-plan instead of publishing a
    # NULL column (the friedman_test idiom)
    present = F.when(
        F.col("_n_ref").isNull() | F.col("_n_cmp").isNull(),
        F.raise_error(
            "net_survival_gap: both named arms must be present in "
            "the cohort"
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return both.select(
        F.col("hour"),
        (F.col("_n_ref") + 0 * present).alias("n_risk_ref"),
        F.col("_n_cmp").alias("n_risk_cmp"),
        F.round(F.col("_s_ref"), 6).alias("net_std_ref"),
        F.round(F.col("_s_cmp"), 6).alias("net_std_cmp"),
        F.round(gap, 6).alias("gap"),
        F.round(se, 6).alias("se_gap"),
        F.round(gap - 1.96 * se, 6).alias("lower_ci_gap"),
        F.round(gap + 1.96 * se, 6).alias("upper_ci_gap"),
    )


def net_survival_logrank(
    df: DataFrame,
    group_col: str,
    band_col: str,
    hazard_micro_by_band: dict,
    horizon: int,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Log-rank-type test for NET survival (Grafféo et al. 2016) —
    the significance test that belongs next to the Pohar Perme
    estimator: are two cohorts' EXCESS-hazard processes equal, with
    each subject's counting process inverse-weighted by its own
    expected survival w_b(s) = S*_b(s)^{-1}? The plain log-rank
    (``logrank_test``) compares all-cause hazards and confounds
    background mortality differences between cohorts; this one
    cancels the life-table component the same way the PP estimator
    does, so it tests the quantity the reference's INDEX stack
    actually publishes.

    Discrete-band formulation on the ``net_survival_pohar_perme``
    grid: per hour s and group g, with the weighted cells
    num_g(s) = Σ_b d_gb·w_b − Σ_b n_gb·w_b·λ_b (the PP excess
    numerator) and den_g(s) = Σ_b n_gb·w_b:

        U  = Σ_s [num_1(s) − den_1(s)·num_pool(s)/den_pool(s)]
        V  = Σ_s [(1−R(s))²·Σ_b w_b²d_1b + R(s)²·Σ_b w_b²d_2b],
        R(s) = den_1(s)/den_pool(s)

    (the martingale variance of the weighted score; w is
    band-constant so the band grid carries every term exactly), and
    χ² = U²/V on 1 df. ``group_col`` must take exactly two values;
    the lexicographically smaller one is "group 1" (the
    ``logrank_test`` orientation — U > 0 means group 1 has MORE
    excess mortality than expected under H₀).

    Exactness: every per-s term rides the pico lattice before the
    final fold, so the one-row output hash-adjudicates bit-exact.
    V = 0 (no weighted excess-death mass anywhere) publishes a NULL
    χ², the degenerate-variance convention.

    Scale shape: ONE hash aggregate to per-(group, band, duration)
    cells, the broadcast-sized (2 × bands × horizon) grid, one
    ``grouped_prefix_sum`` for band at-risk counts, a conditional-
    aggregation pivot to per-hour group columns (2·horizon rows),
    and one scalar fold. Nothing downstream of the cell aggregate
    scales with subject count.
    """
    if any(int(v) != v for v in hazard_micro_by_band.values()):
        raise ValueError(
            "hazard_micro_by_band must be integers (exact-sum contract)"
        )
    gvals = [
        r[0]
        for r in df.select(group_col)
        .distinct()
        .orderBy(group_col)
        .collect()
    ]
    if len(gvals) != 2:
        raise ValueError(
            f"net_survival_logrank needs exactly 2 groups, got {gvals}"
        )
    g1 = gvals[0]
    spark = df.sparkSession
    horizon = int(horizon)
    ev = F.col(event_col).cast("long")
    cells = df.groupBy(group_col, band_col, duration_col).agg(
        F.count(F.lit(1)).alias("_rm"),
        F.sum(ev).alias("_dv"),
    )
    nbt = df.groupBy(group_col, band_col).agg(
        F.count(F.lit(1)).alias("_nb_tot")
    )
    hours = spark.range(0, horizon + 1).select(
        F.col("id").cast("long").alias("_s")
    )
    grid = (
        nbt.crossJoin(F.broadcast(hours))
        .join(
            cells.withColumnRenamed(duration_col, "_s"),
            [group_col, band_col, "_s"],
            "left",
        )
        .withColumn("_rm", F.coalesce(F.col("_rm"), F.lit(0)))
        .withColumn("_dv", F.coalesce(F.col("_dv"), F.lit(0)))
    )
    grid = grouped_prefix_sum(
        grid, [group_col, band_col], "_s", "_rm", "_rm0"
    ).withColumn("_nb", F.col("_nb_tot") - F.col("_rm0"))
    hmap = F.create_map(
        *[
            F.lit(x)
            for k, v in hazard_micro_by_band.items()
            for x in (k, int(v))
        ]
    )
    lam = F.coalesce(hmap[F.col(band_col)], F.lit(0)).cast("long")
    w = F.pow(
        F.lit(1.0) - lam / F.lit(1000000.0), -F.col("_s").cast("double")
    )
    grid = (
        grid.withColumn("_wd", _micro(F.col("_dv") * w))
        .withColumn("_wn", _micro(F.col("_nb") * w))
        .withColumn(
            "_we", _pico(F.col("_nb") * w * (lam / F.lit(1000000.0)))
        )
        .withColumn("_wwd", _micro(F.col("_dv") * w * w))
    )
    is1 = F.col(group_col) == F.lit(g1)
    per_s = grid.groupBy("_s").agg(
        F.sum(F.when(is1, F.col("_wd")).otherwise(0)).alias("_wd1"),
        F.sum(F.when(~is1, F.col("_wd")).otherwise(0)).alias("_wd2"),
        F.sum(F.when(is1, F.col("_we")).otherwise(0)).alias("_we1"),
        F.sum(F.when(~is1, F.col("_we")).otherwise(0)).alias("_we2"),
        F.sum(F.when(is1, F.col("_wn")).otherwise(0)).alias("_wn1"),
        F.sum(F.when(~is1, F.col("_wn")).otherwise(0)).alias("_wn2"),
        F.sum(F.when(is1, F.col("_wwd")).otherwise(0)).alias("_ww1"),
        F.sum(F.when(~is1, F.col("_wwd")).otherwise(0)).alias("_ww2"),
    )
    exc1 = F.col("_wd1") / F.lit(1000000.0) - F.col("_we1") / F.lit(
        1000000000000.0
    )
    exc2 = F.col("_wd2") / F.lit(1000000.0) - F.col("_we2") / F.lit(
        1000000000000.0
    )
    den1 = F.col("_wn1") / F.lit(1000000.0)
    denp = (F.col("_wn1") + F.col("_wn2")) / F.lit(1000000.0)
    r1 = den1 / denp
    live = (F.col("_s") > 0) & (F.col("_wn1") + F.col("_wn2") > 0)
    u_term = F.when(
        live, _pico(exc1 - r1 * (exc1 + exc2))
    ).otherwise(F.lit(0).cast("long"))
    v_term = F.when(
        live,
        _pico(
            (F.lit(1.0) - r1)
            * (F.lit(1.0) - r1)
            * (F.col("_ww1") / F.lit(1000000.0))
            + r1 * r1 * (F.col("_ww2") / F.lit(1000000.0))
        ),
    ).otherwise(F.lit(0).cast("long"))
    per_s = per_s.select(
        u_term.alias("_ut"), v_term.alias("_vt")
    )
    tot = df.groupBy().agg(
        F.sum(is1.cast("long")).alias("_n1"),
        F.sum((~is1).cast("long")).alias("_n2"),
    )
    out = per_s.agg(
        (F.sum("_ut") / F.lit(1000000000000.0)).alias("_u"),
        (F.sum("_vt") / F.lit(1000000000000.0)).alias("_v"),
    ).crossJoin(F.broadcast(tot))
    return out.select(
        F.lit(str(g1)).alias("group_1"),
        F.col("_n1").alias("n_subjects_1"),
        F.col("_n2").alias("n_subjects_2"),
        F.round(F.col("_u"), 6).alias("u_score"),
        F.round(F.col("_v"), 6).alias("variance"),
        F.when(
            F.col("_v") > 0,
            F.round(F.col("_u") * F.col("_u") / F.col("_v"), 6),
        ).alias("chi_square"),
    )


def nonmixture_cure_exponential(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    iters: int = 12,
) -> DataFrame:
    """NON-mixture (promotion-time / bounded-cumulative-hazard) cure
    model with exponential kernel (Yakovlev-Tsodikov; Chen-Ibrahim-
    Sinha 1999) — the other statistical-cure parameterisation cancer
    registries fit when a survival curve plateaus, sitting beside
    ``mixture_cure_exponential`` the way stpm2's cure option sits
    beside strsmix:

        S(t) = exp(−θ·F₀(t)),   F₀(t) = 1 − e^{−λt},

    cured fraction π = S(∞) = e^{−θ} (the Poisson-clonogen reading:
    N ~ Poisson(θ) latent foci, each promoting at rate λ). The
    censored-data score gives θ CLOSED-FORM given λ — θ = D/Σᵢ F₀(tᵢ)
    — and λ one guarded Newton step per iteration on
    g(λ) = D/λ − Σ_ev t − θ·Σ t e^{−λt} (step only when the curvature
    gp < 0, then clamped to [λ/2, 2λ] — the AFT step-cap discipline).
    The estimate is DEFINED as the ``iters``-iteration value from the
    deterministic start λ₀ = D/Σt (the oracle unrolls the same
    iterations — the cure-mixture replay pattern).

    Scale shape: subjects collapse ONCE to (duration, event) cells
    (checkpointed; the loop re-reads the tiny cell table); each
    iteration is ONE map-side-combined aggregate with every
    λ-dependent term nano-rounded per cell before the weighted long
    sums — order-independent, bit-identical at any parallelism;
    parameters round to 9 dp per iteration (house lattice). Driver
    work is O(1) per iteration. Zero events raises (θ, λ
    unidentified).

    Returns one row: n, n_event, theta, pi_cure = e^{−θ},
    lambda_promotion (6 dp).
    """
    iters = int(iters)
    if iters < 1:
        raise ValueError(
            "nonmixture_cure_exponential: iters must be >= 1"
        )
    ev = F.col(event_col).cast("long")
    t = F.col(duration_col).cast("double")
    cells = df.groupBy(
        t.alias("_t"), ev.alias("_e")
    ).agg(F.count(F.lit(1)).alias("_cnt"))
    cells = cells.localCheckpoint(eager=False)
    base = cells.agg(
        F.sum(F.col("_cnt") * F.col("_e")).alias("d"),
        F.sum("_cnt").alias("n"),
        F.sum(F.col("_cnt") * _micro(F.col("_t"))).alias("st_micro"),
        F.sum(
            F.col("_cnt") * F.col("_e") * _micro(F.col("_t"))
        ).alias("stev_micro"),
    ).collect()[0]
    d_ev, n_tot = int(base.d), int(base.n)
    st_all = base.st_micro / 1e6
    st_ev = base.stev_micro / 1e6
    if d_ev == 0:
        raise ValueError(
            "nonmixture_cure_exponential: zero events — the model "
            "is unidentified"
        )
    lam = round(d_ev / st_all, 9)
    theta = None
    nano = F.lit(1000000000.0)
    for _ in range(iters):
        e_l = F.exp(F.lit(-lam) * F.col("_t"))
        row = cells.agg(
            F.sum(
                F.col("_cnt")
                * F.round((F.lit(1.0) - e_l) * nano, 0).cast("long")
            ).alias("sf"),
            F.sum(
                F.col("_cnt")
                * F.round(F.col("_t") * e_l * nano, 0).cast("long")
            ).alias("ste"),
            F.sum(
                F.col("_cnt")
                * F.round(
                    F.col("_t") * F.col("_t") * e_l * nano, 0
                ).cast("long")
            ).alias("st2e"),
        ).collect()[0]
        theta = round(d_ev / (row.sf / 1e9), 9)
        g = d_ev / lam - st_ev - theta * (row.ste / 1e9)
        gp = -d_ev / (lam * lam) + theta * (row.st2e / 1e9)
        step = g / gp if gp < 0 else 0.0
        lam = round(min(max(lam - step, lam / 2), lam * 2), 9)
    return cells.agg(
        F.sum("_cnt").alias("n"),
        F.sum(F.col("_cnt") * F.col("_e")).alias("n_event"),
    ).select(
        "n",
        "n_event",
        F.round(F.lit(theta), 6).alias("theta"),
        F.round(F.exp(F.lit(-theta)), 6).alias("pi_cure"),
        F.round(F.lit(lam), 6).alias("lambda_promotion"),
    )
