"""Distributed matrix factorization: ALS (alternating least squares)
for implicit/explicit interaction matrices — the workhorse that turns
a 100 TB (user, item, rating) event log into dense embeddings for
recommendation, retrieval warm-starts and collaborative filtering.

Extends the engine beyond the reference's analytics surface the same
way the dedup/ANN families do (the reference repo,
ncl-cancer-alliance/cancer_survival_etl, has no ML training surface;
this is pipeline capability a large-scale training-data platform
needs).

Scale shapes, per half-step:

* the ratings frame joins the FIXED side's factor table on its key —
  an ordinary equi-join Catalyst plans (broadcast while the factor
  table is small, shuffle-hash/sort-merge once it isn't; nothing here
  assumes broadcastability, unlike a naive "collect the item matrix"
  ALS);
* per solving entity, the k×k normal-equation moments A = Σqqᵀ and
  b = Σr·q fold in ONE map-side-combinable hash aggregate — the
  raw ratings never reach Python;
* the per-entity k×k solve runs over the MOMENT frame (one row per
  entity, k(k+1)/2 + k numbers) in an Arrow-batched ``mapInPandas``
  kernel — numpy Cholesky-ish solves at thousands per batch.

Determinism: factor inits are md5-derived; every moment is rounded to
the 1e-9 nano lattice per rating row before summing (exact longs →
order-independent), and solved factors round to 9 dp — the fit is
bit-identical under any partitioning (the repo's cox_ph/GLM
contract), pinned in tests at 1 vs 32 partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NANO = 1000000000.0


def _init_factors(
    df: DataFrame, key_col: str, k: int, salt: str
) -> DataFrame:
    """Deterministic small init: factor d of entity e is
    (md5(salt, e, d) % 2001 − 1000)/10000 ∈ [−0.1, 0.1]."""
    cols = []
    for d in range(k):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(salt), F.col(key_col).cast("string"),
                        F.lit(str(d)),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        cols.append(((h % 2001 - 1000) / 10000.0).alias(f"f{d}"))
    return df.select(key_col).distinct().select(key_col, *cols)


def _solve_step(
    ratings: DataFrame,
    fixed: DataFrame,
    fixed_key: str,
    solve_key: str,
    rating_col: str,
    k: int,
    reg: float,
) -> DataFrame:
    """One ALS half-step: solve every ``solve_key`` entity's ridge
    normal equations against the fixed side's current factors."""
    import numpy as np
    import pandas as pd

    j = ratings.join(fixed, fixed_key)
    r = F.col(rating_col).cast("double")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for a in range(k):
        fa = F.col(f"f{a}")
        aggs.append(
            F.sum(F.round(r * fa * F.lit(_NANO), 0).cast("long")).alias(
                f"b{a}"
            )
        )
        for b in range(a, k):
            aggs.append(
                F.sum(
                    F.round(
                        fa * F.col(f"f{b}") * F.lit(_NANO), 0
                    ).cast("long")
                ).alias(f"a{a}_{b}")
            )
    moments = j.groupBy(solve_key).agg(*aggs)

    acols = [f"a{a}_{b}" for a in range(k) for b in range(a, k)]
    bcols = [f"b{a}" for a in range(k)]

    def solve(batches):
        for pdf in batches:
            n = len(pdf)
            A = np.zeros((n, k, k))
            for idx, (a, b) in enumerate(
                (a, b) for a in range(k) for b in range(a, k)
            ):
                v = pdf[acols[idx]].to_numpy(dtype=np.float64) / _NANO
                A[:, a, b] = v
                A[:, b, a] = v
            A += reg * pdf["_n"].to_numpy(dtype=np.float64)[
                :, None, None
            ] * np.eye(k)
            B = (
                pdf[bcols].to_numpy(dtype=np.float64) / _NANO
            )
            X = np.round(np.linalg.solve(A, B[:, :, None])[:, :, 0], 9)
            out = pd.DataFrame({solve_key: pdf[solve_key]})
            for d in range(k):
                out[f"f{d}"] = X[:, d]
            yield out

    key_type = dict(moments.dtypes)[solve_key]
    schema = f"{solve_key} {key_type}, " + ", ".join(
        f"f{d} double" for d in range(k)
    )
    return moments.mapInPandas(solve, schema)


def _als_driver_train(ratings: DataFrame, k: int, iters: int, reg: float):
    """numpy twin of the ALS loop over the collected ratings frame —
    see the call site in ``als_train`` for the bit-equality argument.
    Returns (user_factors_df, item_factors_df, history) or ``None``
    (unbounded / null keys or ratings → distributed fallback)."""
    import hashlib

    import numpy as np

    from cancer_survival_etl_spark.operators.driverfit import (
        collect_bounded,
        round_half_up,
    )

    pdf = collect_bounded(ratings, ["_u", "_i", "_r"])
    if pdf is None or len(pdf) == 0:
        return None

    rv = pdf["_r"].to_numpy().astype(np.float64)

    def entity(col, salt):
        # first-appearance codes + the _init_factors md5 lattice
        codes, keys = pdf[col].factorize()
        fac = np.empty((len(keys), k))
        for e, key in enumerate(keys):
            ks = str(key)
            for d in range(k):
                h = int(
                    hashlib.md5(
                        f"{salt}:{ks}:{d}".encode()
                    ).hexdigest()[:8],
                    16,
                )
                fac[e, d] = (h % 2001 - 1000) / 10000.0
        return codes, keys, fac

    ui, ukeys, _ = entity("_u", "als-user")
    ii, ikeys, ifac = entity("_i", "als-item")
    n_u, n_i = len(ukeys), len(ikeys)
    tri = [(a, b) for a in range(k) for b in range(a, k)]

    def solve_half(idx, n_ent, fixed_fac, fixed_idx):
        # per-rating lattice rounds -> exact int64 entity moments
        ff = fixed_fac[fixed_idx]  # n_ratings × k
        cnt = np.zeros(n_ent, dtype=np.int64)
        np.add.at(cnt, idx, 1)
        A = np.zeros((n_ent, k, k))
        B = np.zeros((n_ent, k))
        for a in range(k):
            ba = np.zeros(n_ent, dtype=np.int64)
            np.add.at(
                ba, idx,
                round_half_up(rv * ff[:, a] * _NANO).astype(np.int64),
            )
            B[:, a] = ba / _NANO
            for b in range(a, k):
                aab = np.zeros(n_ent, dtype=np.int64)
                np.add.at(
                    aab, idx,
                    round_half_up(ff[:, a] * ff[:, b] * _NANO).astype(
                        np.int64
                    ),
                )
                A[:, a, b] = A[:, b, a] = aab / _NANO
        A += reg * cnt.astype(np.float64)[:, None, None] * np.eye(k)
        return np.round(np.linalg.solve(A, B[:, :, None])[:, :, 0], 9)

    history = []
    ufac = None
    for _ in range(iters):
        ufac = solve_half(ui, n_u, ifac, ii)
        ifac = solve_half(ii, n_i, ufac, ui)
        pred = np.zeros(len(rv))
        for d in range(k):
            pred = pred + ufac[ui, d] * ifac[ii, d]
        err2 = round_half_up((rv - pred) * (rv - pred) * _NANO).astype(
            np.int64
        )
        history.append(
            round((int(err2.sum()) / _NANO / len(rv)) ** 0.5, 6)
        )

    spark = ratings.sparkSession
    from pyspark.sql.types import DoubleType, StructField, StructType

    def frame(keys, fac, key_name, key_field):
        import pandas as pd

        out = pd.DataFrame({key_name: keys})
        for d in range(k):
            out[f"f{d}"] = fac[:, d]
        schema = StructType(
            [key_field]
            + [StructField(f"f{d}", DoubleType()) for d in range(k)]
        )
        return spark.createDataFrame(out, schema)

    uf = frame(
        ukeys, ufac, "_u",
        StructField("_u", ratings.schema["_u"].dataType),
    )
    itf = frame(
        ikeys, ifac, "_i",
        StructField("_i", ratings.schema["_i"].dataType),
    )
    return uf, itf, history


def als_train(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    k: int = 4,
    iters: int = 5,
    reg: float = 0.1,
):
    """Alternating least squares over (user, item, rating) rows.
    Returns (user_factors, item_factors, rmse_history) — the factor
    frames are keyed DataFrames with columns f0..f{k−1}; the history
    holds the post-iteration training RMSE (rounded 6 dp), which must
    be non-increasing on a fixed dataset (pinned in tests).

    Regularization is the weighted-λ convention (λ·n_e on entity e's
    normal equations — Zhou et al. 2008's ALS-WR, the variant that
    keeps one λ meaningful across entities with wildly different
    degree)."""
    ratings = ratings.select(
        F.col(user_col).alias("_u"),
        F.col(item_col).alias("_i"),
        F.col(rating_col).cast("double").alias("_r"),
    ).localCheckpoint(eager=False)

    # r11 driver-solve fast path (operators/driverfit.py discipline):
    # the ratings frame is interaction-sized; when bounded, collect it
    # once and run the whole alternating loop in numpy on the
    # identical nano lattice — per-rating HALF_UP rounds scatter-added
    # as exact int64 moments, the same batched np.linalg.solve /
    # np.round(·, 9) the mapInPandas kernel runs, the same md5 factor
    # init strings, the same RMSE lattice — so factors and history are
    # bit-identical to the distributed loop below (pinned in
    # tests/test_driverfit.py). Each distributed iteration otherwise
    # pays ~4 fixed-latency jobs (two join+aggregate half-steps, their
    # checkpoints, the RMSE pass).
    _res = _als_driver_train(ratings, k, iters, reg)
    if _res is not None:
        u_f, i_f, history = _res
        return (
            u_f.withColumnRenamed("_u", user_col),
            i_f.withColumnRenamed("_i", item_col),
            history,
        )

    items = _init_factors(ratings, "_i", k, "als-item")
    users = None
    history = []
    for _ in range(iters):
        users = _solve_step(
            ratings, items, "_i", "_u", "_r", k, reg
        ).localCheckpoint(eager=False)
        items = _solve_step(
            ratings, users, "_u", "_i", "_r", k, reg
        ).localCheckpoint(eager=False)
        pred = F.lit(0.0)
        ju = ratings.join(
            users.select(
                "_u", *[F.col(f"f{d}").alias(f"_uf{d}") for d in range(k)]
            ),
            "_u",
        ).join(
            items.select(
                "_i", *[F.col(f"f{d}").alias(f"_if{d}") for d in range(k)]
            ),
            "_i",
        )
        for d in range(k):
            pred = pred + F.col(f"_uf{d}") * F.col(f"_if{d}")
        err2 = F.round(
            (F.col("_r") - pred) * (F.col("_r") - pred) * F.lit(_NANO), 0
        ).cast("long")
        row = ju.agg(
            F.sum(err2).alias("_sse"), F.count(F.lit(1)).alias("_n")
        ).collect()[0]
        history.append(
            round((row["_sse"] / _NANO / row["_n"]) ** 0.5, 6)
        )
    return (
        users.withColumnRenamed("_u", user_col),
        items.withColumnRenamed("_i", item_col),
        history,
    )
