"""Driver-solve fast path (r10, operators/driverfit.py): the bounded-
cell driver Newton loops must be BIT-IDENTICAL to the distributed
folds they replace — same nano-lattice roundings, same exact long
sums, same float op order. Each test runs the same fit through both
paths (the distributed one forced by the ``distributed`` fixture,
which sets the one driver-collect cap to 0) and asserts exact equality
of every returned number."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

import cancer_survival_etl_spark.llm.inference as inf
import cancer_survival_etl_spark.operators.graph as gr
import cancer_survival_etl_spark.operators.stats as st
import cancer_survival_etl_spark.operators.survival as sv


@contextmanager
def _arrow_batches(spark, n):
    """Cap every Arrow batch at ``n`` records, so a ``driverfit.fold``
    over the cells runs its kernel on many batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _cox_cohort(spark):
    # ties (1-dp durations), two features, a 3-level stratifier
    return spark.range(6000).select(
        ((F.col("id") % 7) / 7.0).alias("x1"),
        ((F.col("id") * 3 % 5) / 5.0).alias("x2"),
        (F.col("id") % 3).cast("string").alias("st"),
        F.greatest(
            F.round(
                -F.log((F.col("id") % 997 + 1) / 998.0)
                / F.exp(
                    0.8 * ((F.col("id") % 7) / 7.0)
                    - 0.4 * ((F.col("id") * 3 % 5) / 5.0)
                ),
                1,
            ),
            F.lit(0.1),
        ).alias("duration"),
        (F.col("id") % 4 > 0).cast("int").alias("event"),
    )


@pytest.mark.parametrize(
    "kw",
    [
        {"ties": "breslow"},
        {"ties": "efron"},
        {"ties": "breslow", "strata_cols": ["st"]},
        {"ties": "efron", "strata_cols": ["st"]},
    ],
)
def test_cox_driver_path_bit_equal(spark, distributed, kw):
    d = _cox_cohort(spark)
    fast = sv.cox_ph(d, ["x1", "x2"], iters=4, return_se=True, **kw)
    with distributed():
        slow = sv.cox_ph(d, ["x1", "x2"], iters=4, return_se=True, **kw)
    assert fast == slow


def test_glm_driver_paths_bit_equal(spark, distributed):
    d = spark.range(8000).select(
        ((F.col("id") % 8) / 8.0).alias("x"),
        F.greatest(
            F.round(F.exp(1.0 + 0.5 * ((F.col("id") % 8) / 8.0)), 0)
            + (F.col("id") % 3 - 1),
            F.lit(0.0),
        ).alias("y"),
        F.log((F.col("id") % 7 + 1) / 3.0).alias("lny"),
        (F.col("id") % 5 < 2).cast("int").alias("yb"),
    )
    fast_p = st.glm_poisson(d, ["x"], "y", iters=5, return_se=True)
    fast_o = st.glm_poisson(d, ["x"], "y", offset_col="lny", iters=5)
    fast_l = st.glm_logistic(d, ["x"], "yb", iters=5, return_se=True)

    with distributed():
        slow_p = st.glm_poisson(d, ["x"], "y", iters=5, return_se=True)
        slow_o = st.glm_poisson(d, ["x"], "y", offset_col="lny", iters=5)
        slow_l = st.glm_logistic(d, ["x"], "yb", iters=5, return_se=True)
    assert slow_p == fast_p
    assert slow_o == fast_o
    assert slow_l == fast_l
    # 1 batch == k batches: the fold's integer partials are associative
    # (two iterations: every tiny Arrow batch costs a pandas frame)
    one_o = st.glm_poisson(
        d, ["x"], "y", offset_col="lny", iters=2, return_se=True
    )
    one_l = st.glm_logistic(d, ["x"], "yb", iters=2, return_se=True)
    dk = d.repartition(5)
    with distributed(), _arrow_batches(spark, 7):
        k_o = st.glm_poisson(
            dk, ["x"], "y", offset_col="lny", iters=2, return_se=True
        )
        k_l = st.glm_logistic(dk, ["x"], "yb", iters=2, return_se=True)
    assert k_o == one_o
    assert k_l == one_l


def _fg_cohort(spark):
    return spark.range(5000).select(
        ((F.col("id") % 6) / 6.0).alias("x1"),
        (F.col("id") % 2).cast("string").alias("st"),
        (F.col("id") % 40).cast("string").alias("cl"),
        F.greatest(
            F.round(
                -F.log((F.col("id") % 991 + 1) / 992.0)
                / F.exp(0.7 * ((F.col("id") % 6) / 6.0)),
                1,
            ),
            F.lit(0.1),
        ).alias("tt"),
        (F.col("id") % 10).alias("m"),
    ).select(
        "x1",
        "st",
        "cl",
        F.least(F.col("tt"), F.lit(3.0)).alias("duration"),
        F.when(F.col("tt") >= 3.0, 0)
        .otherwise(F.when(F.col("m") < 3, 2).otherwise(1))
        .alias("cause"),
    )


def test_fine_gray_driver_paths_bit_equal(spark, distributed):
    d = _fg_cohort(spark)
    fast_u = sv.fine_gray(d, ["x1"], iters=4, return_se=True)
    fast_s = sv.fine_gray(
        d, ["x1"], iters=4, return_se=True, strata_cols=["st"]
    )
    fast_r = sv.fine_gray_robust(d, ["x1"], cluster_col="cl", iters=4)
    fast_r0 = sv.fine_gray_robust(d, ["x1"], iters=4)
    with distributed():
        slow_u = sv.fine_gray(d, ["x1"], iters=4, return_se=True)
        slow_s = sv.fine_gray(
            d, ["x1"], iters=4, return_se=True, strata_cols=["st"]
        )
        slow_r = sv.fine_gray_robust(d, ["x1"], cluster_col="cl", iters=4)
        slow_r0 = sv.fine_gray_robust(d, ["x1"], iters=4)
    assert slow_u == fast_u
    assert slow_s == fast_s
    assert slow_r == fast_r
    assert slow_r0 == fast_r0


def test_cox_counting_driver_path_bit_equal(spark, distributed):
    d = spark.range(6000).select(
        ((F.col("id") % 6) / 6.0).alias("x1"),
        F.round((F.col("id") % 30) / 10.0, 1).alias("start"),
        (
            F.greatest(
                F.round(
                    -F.log((F.col("id") % 991 + 1) / 992.0)
                    / F.exp(0.5 * ((F.col("id") % 6) / 6.0)),
                    1,
                )
                + F.lit(0.1),
                F.lit(0.2),
            )
        ).alias("gap"),
    ).select(
        "x1",
        "start",
        (F.col("start") + F.col("gap")).alias("stop"),
        (F.col("gap") < 2.0).cast("int").alias("event"),
    )
    fast = sv.cox_ph_counting(d, ["x1"], iters=4, return_se=True)
    with distributed():
        slow = sv.cox_ph_counting(d, ["x1"], iters=4, return_se=True)
    assert slow == fast


def test_frailty_driver_path_bit_equal(spark, distributed):
    d = spark.range(6000).select(
        (F.col("id") % 150).cast("string").alias("cl"),
        F.greatest(
            F.round(
                -F.log((F.col("id") % 991 + 1) / 992.0)
                * (1.0 + ((F.col("id") % 150) % 5) / 5.0)
                * 10,
                0,
            ).cast("long"),
            F.lit(1),
        ).alias("duration"),
        (F.col("id") % 4 > 0).cast("int").alias("event"),
    )
    fast = sv.shared_gamma_frailty(d, "cl", iters=3).collect()
    with distributed():
        slow = sv.shared_gamma_frailty(d, "cl", iters=3).collect()
    assert slow == fast


def test_cc_kcore_driver_paths_bit_equal(spark, distributed):
    # chains, a clique, isolated singletons from the nodes frame
    edges = spark.range(400).select(
        F.col("id").alias("id_a"),
        F.when(F.col("id") % 7 == 0, F.col("id") + 13)
        .otherwise(F.col("id") + 1)
        .alias("id_b"),
    )
    nodes = spark.range(500).select(F.col("id").alias("id_a"))
    fast = sorted(
        tuple(r)
        for r in gr.connected_components(
            edges, nodes=nodes
        ).collect()
    )
    fast_k = sorted(
        tuple(r) for r in gr.k_core(edges, 3).collect()
    )
    with distributed():
        slow = sorted(
            tuple(r)
            for r in gr.connected_components(edges, nodes=nodes).collect()
        )
        slow_k = sorted(tuple(r) for r in gr.k_core(edges, 3).collect())
    assert fast == slow
    assert fast_k == slow_k


def test_gee_driver_path_bit_equal(spark, distributed):
    d = spark.range(5000).select(
        (F.col("id") % 120).alias("cl"),
        ((F.col("id") % 5) / 5.0).alias("x"),
        (
            (F.col("id") * 7 % 1000) / 1000.0
            < 1.0
            / (
                1.0
                + F.exp(
                    -(
                        F.lit(-0.5)
                        + 1.1 * ((F.col("id") % 5) / 5.0)
                        + ((F.col("id") % 120) % 7 - 3.0) / 2.0
                    )
                )
            )
        ).cast("int").alias("y"),
    )
    fast = st.gee_logistic_exchangeable(
        d, "cl", ["x"], "y", iters=4, return_se=True
    )
    with distributed():
        slow = st.gee_logistic_exchangeable(
            d, "cl", ["x"], "y", iters=4, return_se=True
        )
    assert slow == fast


def test_ordinal_multinomial_driver_paths_bit_equal(spark, distributed):
    d = spark.range(4000).select(
        ((F.col("id") % 4) / 4.0).alias("x"),
        F.when(F.col("id") % 7 < 2, F.lit("s1"))
        .when(F.col("id") % 7 < 5, F.lit("s2"))
        .otherwise(F.lit("s3"))
        .alias("y"),
    )
    fast_o = st.ordinal_logistic(d, ["x"], "y", iters=4, return_se=True)
    fast_m = st.multinomial_logistic(
        d, ["x"], "y", iters=4, return_se=True
    )
    with distributed():
        slow_o = st.ordinal_logistic(d, ["x"], "y", iters=4, return_se=True)
        slow_m = st.multinomial_logistic(
            d, ["x"], "y", iters=4, return_se=True
        )
    assert slow_o == fast_o
    assert slow_m == fast_m


def test_quantile_driver_path_bit_equal(spark, distributed):
    d = spark.range(4000).select(
        ((F.col("id") % 50) / 50.0 * 4.0).alias("x"),
        F.round(
            2.0
            + 3.0 * ((F.col("id") % 50) / 50.0 * 4.0)
            + ((F.col("id") * 13 % 997) / 997.0 - 0.5)
            * (1.0 + 2.0 * ((F.col("id") % 50) / 50.0 * 4.0)),
            6,
        ).alias("y"),
    )
    fast = [
        tuple(r)
        for r in st.quantile_regression(
            d, ["x"], "y", 0.7, iters=6
        ).collect()
    ]
    with distributed():
        slow = [
            tuple(r)
            for r in st.quantile_regression(
                d, ["x"], "y", 0.7, iters=6
            ).collect()
        ]
    assert fast == slow


def test_gray_driver_paths_bit_equal(spark, distributed):
    d = spark.range(5000).select(
        F.when(F.col("id") % 2 == 0, F.lit("H")).otherwise(F.lit("L"))
        .alias("strat"),
        F.when(F.col("id") % 3 == 0, F.lit("A")).otherwise(F.lit("B"))
        .alias("grp"),
        (
            F.floor(
                -F.log((F.col("id") % 991 + 1) / 992.0) * 8
            )
            + 1
        ).cast("double").alias("duration"),
        F.when(F.col("id") % 5 == 0, F.lit(0))
        .when(F.col("id") % 5 < 3, F.lit(1))
        .otherwise(F.lit(2))
        .alias("cause"),
    )
    fast_u = sv.gray_test(d, "grp").collect()
    fast_s = sv.gray_test_stratified(d, "grp", ["strat"]).collect()
    with distributed():
        slow_u = sv.gray_test(d, "grp").collect()
        slow_s = sv.gray_test_stratified(d, "grp", ["strat"]).collect()
    assert slow_u == fast_u
    assert slow_s == fast_s


def test_km_driver_paths_bit_equal(spark, distributed):
    d = spark.range(5000).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        (
            F.floor(-F.log((F.col("id") % 991 + 1) / 992.0) * 12) + 1
        ).cast("long").alias("duration"),
        (F.col("id") % 4 > 0).cast("int").alias("event"),
        (1.0 + (F.col("id") % 7) / 7.0).alias("w"),
    )
    fast = sorted(
        tuple(r)
        for r in sv.km_curve(d, ["grp"], "duration", "event").collect()
    )
    fast_w = sorted(
        tuple(r)
        for r in sv.km_curve_weighted(
            d, ["grp"], "duration", "event", "w"
        ).collect()
    )
    with distributed():
        slow = sorted(
            tuple(r)
            for r in sv.km_curve(d, ["grp"], "duration", "event").collect()
        )
        slow_w = sorted(
            tuple(r)
            for r in sv.km_curve_weighted(
                d, ["grp"], "duration", "event", "w"
            ).collect()
        )
    assert fast == slow
    assert fast_w == slow_w


def test_aipw_driver_paths_bit_equal(spark, distributed):
    d = spark.range(4000).select(
        ((F.col("id") % 2)).cast("double").alias("x"),
        (F.col("id") % 3 == 0).cast("int").alias("arm"),
        F.least(
            F.floor(
                -F.log((F.col("id") % 997 + 1) / 998.0)
                * (10 + 5 * (F.col("id") % 2))
            )
            + 1,
            F.lit(30),
        ).cast("long").alias("duration"),
    ).select(
        "x",
        "arm",
        "duration",
        (F.col("duration") < 30).cast("int").alias("event"),
    )
    fast_a = sv.aipw_survival_contrast(d, "arm", ["x"], [5, 15]).collect()
    fast_h = sv.aipw_survival_contrast(
        d, "arm", ["x"], [5, 15], augment=False
    ).collect()
    fast_i = sv.aipw_survival_contrast(
        d, "arm", ["x"], [5, 15], censoring="ipcw"
    ).collect()
    with distributed():
        slow_a = sv.aipw_survival_contrast(d, "arm", ["x"], [5, 15]).collect()
        slow_h = sv.aipw_survival_contrast(
            d, "arm", ["x"], [5, 15], augment=False
        ).collect()
        slow_i = sv.aipw_survival_contrast(
            d, "arm", ["x"], [5, 15], censoring="ipcw"
        ).collect()
    assert slow_a == fast_a
    assert slow_h == fast_h
    assert slow_i == fast_i


def test_cox_driver_path_half_lattice_ties(spark, distributed):
    # ADVICE r10: features k/1024 put x*1e9 exactly on half-lattice
    # points (1e9 = 2^9·5^9), where np.rint (half-even) diverges from
    # Spark's F.round (HALF_UP). The twin must round half-up.
    d = spark.range(4000).select(
        ((F.col("id") % 9) / 1024.0).alias("x1"),
        F.greatest(
            F.round(
                -F.log((F.col("id") % 997 + 1) / 998.0)
                / F.exp(200.0 * ((F.col("id") % 9) / 1024.0)),
                1,
            ),
            F.lit(0.1),
        ).alias("duration"),
        (F.col("id") % 4 > 0).cast("int").alias("event"),
    )
    fast = sv.cox_ph(d, ["x1"], iters=4, return_se=True)
    with distributed():
        slow = sv.cox_ph(d, ["x1"], iters=4, return_se=True)
    assert fast == slow


def test_null_screens_force_distributed_fallback(spark, distributed):
    # nulls in features/duration/event must force the distributed
    # fold (which null-skips) — the numpy twin would garbage-cast
    # NaN to INT64_MIN and split NaN durations into per-row groups
    d = spark.range(3000).select(
        F.when(F.col("id") % 17 == 0, None)
        .otherwise((F.col("id") % 7) / 7.0)
        .alias("x1"),
        F.when(F.col("id") % 23 == 0, None)
        .otherwise(
            F.greatest(
                F.round(
                    -F.log((F.col("id") % 997 + 1) / 998.0), 1
                ),
                F.lit(0.1),
            )
        )
        .alias("duration"),
        F.when(F.col("id") % 31 == 0, None)
        .otherwise((F.col("id") % 4 > 0).cast("int"))
        .alias("event"),
    )
    fast = sv.cox_ph(d, ["x1"], iters=3, return_se=True)
    with distributed():
        slow = sv.cox_ph(d, ["x1"], iters=3, return_se=True)
    assert fast == slow


def test_frailty_null_cluster_forces_fallback(spark, distributed):
    # null cluster ids: the distributed EM's inner joins drop those
    # cells and countDistinct excludes null — the driver twin must
    # not keep a null-cluster group
    d = spark.range(3000).select(
        F.when(F.col("id") % 13 == 0, None)
        .otherwise((F.col("id") % 80).cast("string"))
        .alias("cl"),
        F.greatest(
            F.round(
                -F.log((F.col("id") % 991 + 1) / 992.0) * 10, 0
            ).cast("long"),
            F.lit(1),
        ).alias("duration"),
        (F.col("id") % 4 > 0).cast("int").alias("event"),
    )
    fast = sv.shared_gamma_frailty(d, "cl", iters=2).collect()
    with distributed():
        slow = sv.shared_gamma_frailty(d, "cl", iters=2).collect()
    assert slow == fast


def test_aft_driver_paths_bit_equal(spark, distributed):
    d = spark.range(6000).select(
        (F.col("id") % 2).cast("double").alias("x"),
        F.greatest(
            F.round(
                F.exp(1.5 - 0.6 * (F.col("id") % 2))
                * F.pow(
                    -F.log((F.col("id") % 997 + 1) / 998.0), F.lit(0.7)
                ),
                2,
            ),
            F.lit(0.01),
        ).alias("tt"),
    ).select(
        "x",
        F.least(F.col("tt"), F.lit(15.0)).alias("duration"),
        (F.col("tt") < 15).cast("int").alias("event"),
    )
    fast_w = sv.weibull_aft(d, ["x"], iters=6, return_se=True)
    fast_l = sv.loglogistic_aft(d, ["x"], iters=6, return_se=True)
    with distributed():
        slow_w = sv.weibull_aft(d, ["x"], iters=6, return_se=True)
        slow_l = sv.loglogistic_aft(d, ["x"], iters=6, return_se=True)
    assert slow_w == fast_w
    assert slow_l == fast_l
    # 1 batch == k batches: the fold's integer partials are associative
    # (two iterations: every tiny Arrow batch costs a pandas frame)
    one_w = sv.weibull_aft(d, ["x"], iters=2, return_se=True)
    one_l = sv.loglogistic_aft(d, ["x"], iters=2, return_se=True)
    dk = d.repartition(5)
    with distributed(), _arrow_batches(spark, 7):
        k_w = sv.weibull_aft(dk, ["x"], iters=2, return_se=True)
        k_l = sv.loglogistic_aft(dk, ["x"], iters=2, return_se=True)
    assert k_w == one_w
    assert k_l == one_l


def _td_episodes(spark):
    # two features, half-unit grid times, episode split at a
    # subject-specific switch time -> both pre/post episodes and ties
    base = spark.range(3000).select(
        ((F.col("id") % 6) / 6.0).alias("x1"),
        ((F.col("id") * 5 % 7) / 7.0).alias("x2"),
        F.greatest(
            F.round(
                -F.log((F.col("id") % 983 + 1) / 984.0)
                / F.exp(0.6 * ((F.col("id") % 6) / 6.0))
                * 2,
                0,
            ),
            F.lit(1.0),
        ).alias("d_i"),
        (F.lit(4) + (F.col("id") % 9)).cast("double").alias("s_i"),
        (F.col("id") % 5 > 0).cast("int").alias("event"),
    )
    pre = base.filter(F.col("d_i") <= F.col("s_i")).select(
        "x1", "x2",
        F.lit(0.0).alias("start"), F.col("d_i").alias("stop"), "event",
    )
    a = base.filter(F.col("d_i") > F.col("s_i")).select(
        "x1", "x2",
        F.lit(0.0).alias("start"), F.col("s_i").alias("stop"),
        F.lit(0).alias("event"),
    )
    b = base.filter(F.col("d_i") > F.col("s_i")).select(
        "x1", "x2",
        F.col("s_i").alias("start"), F.col("d_i").alias("stop"), "event",
    )
    return pre.unionAll(a).unionAll(b)


@pytest.mark.parametrize("ties", ["breslow", "efron"])
def test_cox_td_driver_path_bit_equal(spark, distributed, ties):
    d = _td_episodes(spark)
    fast = sv.cox_ph_time_dependent(
        d, ["x1", "x2"], iters=4, ties=ties, return_se=True
    )
    with distributed():
        slow = sv.cox_ph_time_dependent(
            d, ["x1", "x2"], iters=4, ties=ties, return_se=True
        )
    assert fast == slow, (ties, fast, slow)


def test_turnbull_driver_em_bit_equal(spark, distributed):
    # mixed exact / interval / right-censored observations, two groups
    iv = spark.range(800).select(
        (F.col("id") % 2).cast("string").alias("grp"),
        F.col("id").alias("k"),
    ).select(
        "grp",
        F.when(
            F.col("k") % 3 == 0,
            (F.col("k") % 7).cast("double"),
        ).otherwise(((F.col("k") % 5) * 2).cast("double")).alias("left"),
        F.when(F.col("k") % 11 == 0, F.lit(None).cast("double"))
        .when(
            F.col("k") % 3 == 0,
            (F.col("k") % 7 + 1).cast("double"),
        )
        .otherwise(((F.col("k") % 5) * 2 + 2).cast("double"))
        .alias("right"),
    )
    fast = sv.turnbull_km(iv, ["grp"], iters=5).collect()
    with distributed():
        slow = sv.turnbull_km(iv, ["grp"], iters=5).collect()
    key = lambda r: (r.grp, r.q_lo)
    assert sorted(fast, key=key) == sorted(slow, key=key)


def test_trainer_driver_paths_bit_equal(spark, distributed):
    df = spark.range(3000).select(
        ((F.col("id") % 100) / 100.0).alias("x1"),
        ((F.col("id") * 61 % 100) / 100.0).alias("x2"),
        ((F.col("id") % 100 + F.col("id") * 61 % 100) / 100.0 > 1.0)
        .cast("int")
        .alias("y"),
        (
            1.0
            + 2.0 * ((F.col("id") % 100) / 100.0)
            - F.log((F.col("id") % 997 + 1) / 998.0)
        ).alias("yq"),
    )
    fast_l = inf.logistic_train(df, ["x1", "x2"], "y", lr=1.0, iters=8)
    fast_q = inf.quantile_train(df, ["x1"], "yq", tau=0.9, lr=4.0, iters=8)
    with distributed():
        slow_l = inf.logistic_train(df, ["x1", "x2"], "y", lr=1.0, iters=8)
        slow_q = inf.quantile_train(
            df, ["x1"], "yq", tau=0.9, lr=4.0, iters=8
        )
    assert fast_l == slow_l
    assert fast_q == slow_q


def test_triangle_driver_path_bit_equal(spark, distributed):
    edges = spark.createDataFrame(
        [(i % 23, (i * 7 + 1) % 23) for i in range(160)]
        + [(1, 2), (2, 3), (1, 3), (3, 4), (1, 4)],
        "id_a long, id_b long",
    ).filter("id_a != id_b")
    fast = gr.triangle_count(edges).collect()
    with distributed():
        slow = gr.triangle_count(edges).collect()
    assert fast == slow


def test_als_driver_path_bit_equal(spark, distributed):
    import cancer_survival_etl_spark.llm.factorization as fz

    ratings = spark.range(1600).select(
        (F.col("id") % 60).alias("u"),
        (F.col("id") * 7 % 25).cast("string").alias("i"),
        F.round(
            2.0
            + ((F.col("id") % 60) % 7) / 7.0
            * ((F.col("id") * 7 % 25) % 5) / 5.0,
            4,
        ).alias("r"),
    ).distinct()
    fu, fi, fh = fz.als_train(ratings, "u", "i", "r", k=3, iters=3,
                              reg=0.001)
    fast = (
        sorted(tuple(r) for r in fu.collect()),
        sorted(tuple(r) for r in fi.collect()),
        fh,
    )
    with distributed():
        su, si, sh = fz.als_train(
            ratings, "u", "i", "r", k=3, iters=3, reg=0.001
        )
    slow = (
        sorted(tuple(r) for r in su.collect()),
        sorted(tuple(r) for r in si.collect()),
        sh,
    )
    assert fast == slow


@pytest.mark.parametrize("kw", [
    {},
    {"cluster_col": "cl"},
    {"strata_cols": ["st"]},
])
def test_cox_robust_driver_path_bit_equal(spark, distributed, kw):
    d = _cox_cohort(spark).withColumn(
        "cl", (F.col("x1") * 70).cast("long").cast("string")
    )
    fast = sv.cox_ph_robust(d, ["x1", "x2"], iters=4, **kw)
    with distributed():
        slow = sv.cox_ph_robust(d, ["x1", "x2"], iters=4, **kw)
    assert fast == slow, (kw, fast, slow)


_EMPTY_FITS = {
    "cox_ph": lambda d: sv.cox_ph(d, ["x"], iters=2),
    "fine_gray": lambda d: sv.fine_gray(d, ["x"], iters=2),
    "weibull_aft": lambda d: sv.weibull_aft(d, ["x"], iters=2),
    "loglogistic_aft": lambda d: sv.loglogistic_aft(d, ["x"], iters=2),
    "glm_poisson": lambda d: st.glm_poisson(d, ["x"], "y", iters=2),
    "glm_logistic": lambda d: st.glm_logistic(d, ["x"], "event", iters=2),
    "logistic_train": lambda d: inf.logistic_train(
        d, ["x"], "event", iters=2
    ),
}


@pytest.mark.parametrize("path", ["driver", "distributed"])
@pytest.mark.parametrize("fit", sorted(_EMPTY_FITS))
def test_empty_cohort_named_error(spark, distributed, fit, path):
    # both paths must name the fit, not fail with a LinAlgError /
    # ZeroDivisionError (driver) or a None arithmetic TypeError
    # (distributed)
    d = spark.range(40).select(
        ((F.col("id") % 5) / 5.0).alias("x"),
        ((F.col("id") % 9) + 1).cast("double").alias("duration"),
        (F.col("id") % 4 > 0).cast("int").alias("event"),
        (F.col("id") % 3).cast("int").alias("cause"),
        (F.col("id") % 6).cast("double").alias("y"),
    ).filter("id < 0")
    with pytest.raises(ValueError, match=f"^{fit}: empty input"):
        if path == "driver":
            _EMPTY_FITS[fit](d)
        else:
            with distributed():
                _EMPTY_FITS[fit](d)


_OVERFLOW_FITS = {
    "glm_poisson": lambda d: st.glm_poisson(d, ["x"], "y", iters=2),
    "weibull_aft": lambda d: sv.weibull_aft(d, ["x"], iters=2),
}


@pytest.mark.parametrize("fit", sorted(_OVERFLOW_FITS))
def test_lattice_overflow_named_error(spark, distributed, fit):
    # x ≈ 1e5 puts x²·1e9 past int64: both paths must name the fit,
    # never wrap the sum into a silently wrong number
    d = spark.range(2000).select(
        (1e5 + F.col("id") % 7).alias("x"),
        (F.col("id") % 6).cast("double").alias("y"),
        ((F.col("id") % 9) + 1).cast("double").alias("duration"),
        (F.col("id") % 4 > 0).cast("int").alias("event"),
    )
    with pytest.raises(ValueError, match=f"^{fit}: lattice overflow"):
        _OVERFLOW_FITS[fit](d)
    with distributed(), pytest.raises(
        ValueError, match=f"^{fit}: lattice overflow"
    ):
        _OVERFLOW_FITS[fit](d)


def _screen_cohort(spark):
    n = F.col("id")
    dur = (F.floor(-F.log((n % 97 + 1) / 98.0) * 6) + 1).cast("long")
    return spark.range(600).select(
        "id",
        ((n % 5) / 5.0).alias("x"),
        (n % 3).cast("double").alias("gx"),
        (n % 3).cast("string").alias("g"),
        F.when(n % 3 == 0, "A").otherwise("B").alias("grp"),
        dur.alias("duration"),
        (n % 4 > 0).cast("int").alias("event"),
        F.when(n % 5 == 0, 0).when(n % 5 < 3, 1).otherwise(2).alias("cause"),
        (1.0 + (n % 7) / 7.0).alias("w"),
        ((n * 7 % 11) / 11.0 < 0.3 + 0.1 * (n % 5)).cast("int")
        .alias("yb"),
        (n % 6).cast("double").alias("yc"),
        F.when(n % 7 < 2, "s1").when(n % 7 < 5, "s2").otherwise("s3")
        .alias("lvl"),
        (n % 3).cast("double").alias("start"),
        ((n % 3) + dur).cast("double").alias("stop"),
    )


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


# each fit with the columns its null feature / null event-or-cause /
# null group case blanks; fits without a group argument take a
# group-coded covariate (gx) as their "group"
_SCREEN_FITS = {
    "fine_gray": (
        lambda d: sv.fine_gray(
            d, ["x"], iters=1, return_se=True, strata_cols=["g"]
        ),
        ("x", "cause", "g"),
    ),
    "weibull_aft": (
        lambda d: sv.weibull_aft(d, ["x", "gx"], iters=1, return_se=True),
        ("x", "event", "gx"),
    ),
    "loglogistic_aft": (
        lambda d: sv.loglogistic_aft(
            d, ["x", "gx"], iters=1, return_se=True
        ),
        ("x", "event", "gx"),
    ),
    "gray_test": (
        lambda d: sv.gray_test(d, "grp").collect(),
        ("duration", "cause", "grp"),
    ),
    "km_curve": (
        lambda d: _rows(sv.km_curve(d, ["g"], "duration", "event")),
        ("duration", "event", "g"),
    ),
    "km_curve_weighted": (
        lambda d: _rows(
            sv.km_curve_weighted(d, ["g"], "duration", "event", "w")
        ),
        ("w", "event", "g"),
    ),
    "glm_logistic": (
        lambda d: st.glm_logistic(d, ["x", "gx"], "yb", iters=1),
        ("x", "yb", "gx"),
    ),
    "glm_poisson": (
        lambda d: st.glm_poisson(d, ["x", "gx"], "yc", iters=1),
        ("x", "yc", "gx"),
    ),
    "ordinal_logistic": (
        lambda d: st.ordinal_logistic(d, ["x", "gx"], "lvl", iters=1),
        ("x", "lvl", "gx"),
    ),
    "logistic_train": (
        lambda d: inf.logistic_train(d, ["x", "gx"], "yb", iters=1),
        ("x", "yb", "gx"),
    ),
    "cox_ph_time_dependent": (
        lambda d: sv.cox_ph_time_dependent(
            d, ["x", "gx"], iters=1, return_se=True
        ),
        ("x", "event", "gx"),
    ),
}
# fits on complete cases (R's na.omit): the null rows leave every
# moment, so the fit equals the fit on the dropna'd frame
_COMPLETE_CASE_FITS = {
    "weibull_aft", "loglogistic_aft", "glm_logistic", "glm_poisson",
}


@pytest.mark.parametrize("case", [0, 1, 2], ids=["feature", "event", "group"])
@pytest.mark.parametrize("fit", sorted(_SCREEN_FITS))
def test_null_screens_driver_equals_distributed(
    spark, distributed, fit, case
):
    # a null in a screened column sends the fit down its distributed
    # path (or out of a complete-case fit), so both runs must agree
    # exactly — on the result, or on the named error (gray_test counts
    # a null group as a third group)
    run, cols = _SCREEN_FITS[fit]
    col = cols[case]
    d = _screen_cohort(spark).withColumn(
        col, F.when(F.col("id") % 11 == 0, None).otherwise(F.col(col))
    )

    def outcome(frame):
        try:
            return run(frame)
        except ValueError as e:
            return repr(e)

    fast = outcome(d)
    with distributed():
        slow = outcome(d)
    assert fast == slow, (fit, col, fast, slow)
    if fit in _COMPLETE_CASE_FITS:
        cc = outcome(d.dropna(subset=[col]))
        assert fast == cc, (fit, col, fast, cc)


def test_only_driverfit_owns_the_bounded_collect():
    # every driver/distributed choice goes through
    # driverfit.collect_bounded: no other module reads the cap or
    # builds its own limit(n + 1) probe. The bounded collects that
    # RAISE instead of falling back are the only other limit(n + 1)
    # guards: absorbing_chain's transition cap and the max_x_patterns
    # distinct-count checks.
    import pathlib
    import re

    import cancer_survival_etl_spark

    root = pathlib.Path(cancer_survival_etl_spark.__file__).parent
    probe = re.compile(
        r"\.limit\(\s*((?:[^()]|\([^()]*\))+?)\s*\+\s*1\s*\)"
    )
    allowed = {
        ("operators/timeseries.py", "cap"),
        ("operators/survival.py", "bound"),
    }
    bad = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "operators/driverfit.py":
            continue
        src = path.read_text()
        if "MAX_DRIVER_CELLS" in src:
            bad.append((rel, "MAX_DRIVER_CELLS"))
        for m in probe.finditer(src):
            if (rel, m.group(1)) not in allowed:
                bad.append((rel, m.group(0)))
    assert not bad, bad
