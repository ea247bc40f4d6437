"""The two workloads: their ops and the checks of their outputs.

An op is one query or one pipeline step, built and then forced to its
sink. ``Workload.ops`` returns one pass in the seed's order;
``Workload.check`` runs after the timed loop and returns, per op index,
``None`` for a correct output or the reason it is wrong.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pandas as pd

from inputs import COHORT_TRUTH, TARGETS


class Op:
    # tag: what ``check`` needs beyond the name (an ETL op's cycle)
    def __init__(self, name: str, kind: str, fn, tag=None):
        self.name, self.kind, self.fn, self.tag = name, kind, fn, tag


class Workload:
    kind = ""  # input generator key (inputs.cached)
    # wall seconds of one pass on 4 cores; --seconds buys whole passes
    nominal_pass_s = 1.0

    def __init__(self, spark, data_dir: str, info: dict, run):
        self.spark, self.dir, self.info, self.run = spark, data_dir, info, run

    def warm_up(self) -> None:
        """Untimed work before the loop, so that the op the seed puts
        first does not pay for the JVM's first compilations alone."""

    def ops(self, rng: random.Random) -> list[Op]:
        raise NotImplementedError

    def check(self, done: list[tuple[Op, object]]) -> list[str | None]:
        raise NotImplementedError


def _compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """tools/check_parity.py's compare, as one verdict."""
    from check_parity import compare

    problems = compare(name, got, want)
    return "; ".join(problems)[:200] if problems else None


# ---------------------------------------------------------------- etl


class EtlRefresh(Workload):
    """``CYCLES`` publication cycles per pass. Per cycle: the pipeline over
    the cycle's workbooks into the parquet warehouse, then the 12
    reporting views registered over the written tables and 8 of them
    forced. The warehouse starts the pass with a stub of an older
    publication and each cycle replaces the one before, so the sink
    always takes its staged-swap path."""

    kind = "etl"
    nominal_pass_s = 25.0

    def __init__(self, *args):
        super().__init__(*args)
        self.warehouse = os.path.join(self.run.scratch, "warehouse")

    def _stub_previous(self) -> None:
        for table in TABLES:
            d = os.path.join(self.warehouse, table)
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            pd.DataFrame({"stale": [1]}).to_parquet(
                os.path.join(d, "part-0.parquet"))

    def _pipeline(self, cycle: dict) -> dict:
        """Run the cycle's pipeline; return each written table's columns
        and row count, read from the parquet footers."""
        import pyarrow.parquet as pq

        from cancer_survival_etl_spark import pipeline
        from cancer_survival_etl_spark.functions.text import snapshot_date_parse
        from cancer_survival_etl_spark.sources import sinks
        from cancer_survival_etl_spark.sources.xlsx import read_xlsx_rows

        d = os.path.join(self.dir, cycle["dir"])
        notes = next(f for f in os.listdir(d)
                     if f.startswith("adult_") and f.endswith(".xlsx"))
        first_cell = next(
            cells[min(cells)]
            for rownum, cells in read_xlsx_rows(
                os.path.join(d, notes), "Notes and definitions")
            if rownum > 10
        )

        def sink(df, table):
            sinks.overwrite_table(df, os.path.join(self.warehouse, table))

        pipeline.run_pipeline(self.spark, d, TARGETS, sink=sink,
                              snapshot_date=snapshot_date_parse(first_cell))
        out = {}
        for table in TABLES:
            ds = pq.ParquetDataset(os.path.join(self.warehouse, table))
            out[table] = (sorted(ds.schema.names),
                          sum(f.metadata.num_rows for f in ds.fragments))
        return out

    def _register(self):
        from cancer_survival_etl_spark.plans import views

        read = self.spark.read.parquet
        return views.register_reporting_views(
            self.spark, *(read(os.path.join(self.warehouse, t)) for t in TABLES))

    def ops(self, rng):
        """The seed draws the workbooks; the op order is fixed, because a
        view forced first pays for compiling code the others share."""
        self._stub_previous()
        ops = []
        for cycle in self.info["cycles"]:
            ops += [Op("pipeline", "pipeline",
                       lambda c=cycle: self._pipeline(c), cycle["dir"]),
                    Op("views:register", "view", self._register, cycle["dir"])]
            ops += [Op(f"view:{v}", "view",
                       lambda v=v: self.run.force(self.spark.table(v)),
                       cycle["dir"])
                    for v in FORCED_VIEWS]
        return ops

    def warm_up(self):
        """Run each cycle through the DataFrame-fixture golden path (raw
        frames -> recipes -> views; no xlsx, no sink), as in
        tests/test_sources.py::test_xlsx_end_to_end_pipeline, and keep
        its outputs for ``check``. It also warms the recipe and view
        code before the loop."""
        from cancer_survival_etl_spark.plans import views
        from cancer_survival_etl_spark.plans.process_adult4 import process_adult4
        from cancer_survival_etl_spark.plans.process_index import process_index

        self.golden = {}
        for cycle in self.info["cycles"]:
            d = os.path.join(self.dir, cycle["dir"])
            raw_i = pd.read_parquet(os.path.join(d, "raw_index.parquet"))
            raw_a = pd.read_parquet(os.path.join(d, "raw_adult.parquet"))
            gi = process_index(self.spark.createDataFrame(raw_i), TARGETS)
            ga = process_adult4(self.spark.createDataFrame(raw_a), TARGETS,
                                diagnosis_window=cycle["window"],
                                snapshot_date=cycle["snapshot"])
            views.register_reporting_views(
                self.spark, gi.localCheckpoint(), ga.localCheckpoint())
            self.golden[cycle["dir"]] = {
                v: (self.spark.table(v).toPandas() if v in VALUE_CHECKED
                    else sorted(self.spark.table(v).columns))
                for v in VIEW_NAMES}

    def check(self, done):
        """Compare every output of the loop with its cycle's golden path."""
        out = []
        for op, result in done:
            golden = self.golden[op.tag]
            view = op.name.removeprefix("view:")
            if view in VALUE_CHECKED:
                # the sink stamps a load time the golden path does not have
                got = result.drop(columns="_TIMESTAMP", errors="ignore")
                out.append(_compare(view, got, golden[view]))
            elif view in golden:
                ok = sorted(result.columns) == golden[view] and len(result) > 0
                out.append(None if ok else f"columns {sorted(result.columns)}")
            elif op.kind == "pipeline":
                want = {t: (sorted([*golden[v].columns, "_TIMESTAMP"]),
                            len(golden[v]))
                        for t, v in zip(TABLES, MODELLING_VIEWS)}
                out.append(None if result == want else
                           f"wrote {result}, want {want}"[:200])
            else:
                ok = sorted(result) == sorted(VIEW_NAMES)
                out.append(None if ok else f"registered {result}")
        return out


# The pipeline's two destination tables and the views that expose them.
TABLES = ("INDEX", "ADULT_4")
MODELLING_VIEWS = ("modelling_index", "modelling_adult4")
# Views compared value by value with the golden path: the two written
# tables and the rank stack. The rest are checked for schema and rows.
VALUE_CHECKED = {*MODELLING_VIEWS, "published_rank"}
# Views the loop forces. Each published_* view is its reporting_* twin
# plus display renames, so forcing it runs the twin's whole plan; the
# twins are registered but not forced again, to fit the run's budget.
FORCED_VIEWS = [
    "modelling_index", "modelling_adult4", "reporting_index_best_ca",
    "reporting_index", "published_adult4", "published_ca_comparison",
    "published_rank", "published_benchmarking_standard",
]
VIEW_NAMES = [
    "modelling_index", "modelling_adult4", "reporting_index_best_ca",
    "reporting_index", "reporting_adult4", "published_adult4",
    "reporting_ca_comparison", "published_ca_comparison", "reporting_rank",
    "published_rank", "reporting_benchmarking_standard",
    "published_benchmarking_standard",
]


# ---------------------------------------------------------------- survival

# Curve/grid half of the registry: a job-count leader. Fit half: driver
# twins and iterative fits. Trimmed from the full lists to fit one pass
# in a run; both halves stay.
CURVE_QUERIES = ["survival_crude_prob"]
FIT_QUERIES = ["survival_cox", "survival_fine_gray"]


def cox_reference(x: np.ndarray, t: np.ndarray, d: np.ndarray,
                  iters: int = 30) -> np.ndarray:
    """Float64 Newton on the Breslow partial likelihood."""
    order = np.argsort(-t, kind="stable")
    x, t, d = x[order], t[order], d[order]
    # last index of each run of equal durations (descending order)
    last = np.r_[np.nonzero(t[1:] != t[:-1])[0], len(t) - 1]
    beta = np.zeros(x.shape[1])
    for _ in range(iters):
        r = np.exp(x @ beta)
        s0 = np.cumsum(r)[last]
        s1 = np.cumsum(r[:, None] * x, axis=0)[last]
        s2 = np.cumsum(r[:, None, None] * x[:, :, None] * x[:, None, :],
                       axis=0)[last]
        grp = np.repeat(np.arange(len(last)), np.diff(np.r_[-1, last]))
        dt = np.bincount(grp, weights=d)
        sx = np.stack([np.bincount(grp, weights=d * x[:, j])
                       for j in range(x.shape[1])], axis=1)
        m = dt > 0
        e1 = s1[m] / s0[m, None]
        grad = (sx[m] - dt[m, None] * e1).sum(axis=0)
        info = (dt[m, None, None] * (s2[m] / s0[m, None, None]
                - e1[:, :, None] * e1[:, None, :])).sum(axis=0)
        step = np.linalg.solve(info, grad)
        beta = beta + step
        if np.abs(step).max() < 1e-12:
            break
    return beta


def aft_reference(x: np.ndarray, t: np.ndarray, d: np.ndarray,
                  iters: int = 60) -> np.ndarray:
    """Float64 Newton on the censored Weibull log-likelihood, started
    where ``weibull_aft`` starts (mu = mean ln t, beta = 0, ln sigma = 0).
    Returns (mu, beta..., sigma)."""
    n, p = x.shape
    y, xs = np.log(t), np.column_stack([np.ones(n), x])
    theta = np.r_[y.mean(), np.zeros(p), 0.0]
    for _ in range(iters):
        s = np.exp(theta[-1])
        z = (y - xs @ theta[:-1]) / s
        w = np.exp(np.minimum(z, 15.0))
        g = np.r_[xs.T @ (w - d) / s, ((w - d) * z - d).sum()]
        h = np.empty((p + 2, p + 2))
        h[:-1, :-1] = -(xs * w[:, None]).T @ xs / s**2
        h[:-1, -1] = h[-1, :-1] = -xs.T @ (w * z + w - d) / s
        h[-1, -1] = (-w * z * z - (w - d) * z).sum()
        step = np.clip(np.linalg.solve(-h, g), -1.0, 1.0)
        theta = theta + step
        if np.abs(step).max() < 1e-12:
            break
    return np.r_[theta[:-1], np.exp(theta[-1])]


# the program rounds each Newton step to 9 dp on an exact integer
# lattice; float64 Newton over the same number of steps agrees far
# inside this
COHORT_TOL = 1e-6
# Newton steps of the cohort Cox fits and of the beyond-bound Weibull
# fit. A beyond-bound fit pays the wasted probe, then one distributed
# pass per step; one step keeps the run inside its time budget and still
# runs every part of the fallback.
FIT_ITERS = 1


class Survival(Workload):
    """Registry queries from ``__spark_entry__.queries()`` over the fixed
    sf0.1-shaped tables, and fits of a seeded cohort: Cox and Weibull on
    the continuous covariate (cells beyond the driver bound: distributed
    fallback) and on stage alone (a few thousand cells: driver twin). The
    seed draws the cohort and permutes the op order."""

    kind = "survival"
    nominal_pass_s = 25.0

    def __init__(self, *args):
        super().__init__(*args)
        import __spark_entry__

        self.sf_dir = os.path.join(self.dir, "registry", "sf0.1")
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.cohort = self.spark.read.parquet(os.path.join(self.dir, "cohort"))

    def _query(self, name: str):
        with self.run.span("construct", "registry"):
            df = self.queries[name](self.spark, self.sf_dir)
        with self.run.span("execute", "registry"):
            return self.run.force(df)

    def _fit(self, fn, cols, **kw):
        return lambda: fn(self.cohort, cols, **kw)

    # Run once before the loop. The first heavy op of a run pays the
    # JVM's compilation of Spark's aggregate, shuffle and fallback code
    # (5-8 CPU seconds more), and the seed's order changes which op that is.
    WARM_OPS = ("survival_crude_prob", "cox_ph:continuous", "cox_ph:stage")

    def warm_up(self):
        ops = {op.name: op for op in self.ops(random.Random(0))}
        for name in self.WARM_OPS:
            ops[name].fn()

    def ops(self, rng):
        from cancer_survival_etl_spark.operators import survival

        ops = [Op(n, "query", lambda n=n: self._query(n))
               for n in CURVE_QUERIES + FIT_QUERIES]
        ops += [Op("cox_ph:continuous", "fit", self._fit(
                    survival.cox_ph, ["age", "stage"], iters=FIT_ITERS)),
                Op("cox_ph:stage", "fit", self._fit(
                    survival.cox_ph, ["stage"], iters=FIT_ITERS)),
                Op("weibull_aft:continuous", "fit", self._fit(
                    survival.weibull_aft, ["age", "stage"], iters=FIT_ITERS)),
                Op("weibull_aft:stage", "fit", self._fit(
                    survival.weibull_aft, ["stage"]))]
        rng.shuffle(ops)
        return ops

    def check(self, done):
        out = [None] * len(done)
        for kind, check in (("query", self._check_queries),
                            ("fit", self._check_fits)):
            idx = [k for k, (op, _) in enumerate(done) if op.kind == kind]
            for k, verdict in zip(idx, check([done[k] for k in idx])):
                out[k] = verdict
        return out

    def _check_queries(self, done):
        """Compare with the DuckDB oracle, as tools/check_parity.py does."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("events", "documents"):
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            want = {}
            out = []
            for op, result in done:
                if op.name not in want:
                    want[op.name] = con.sql(self.oracles[op.name]).df()
                out.append(_compare(op.name, result, want[op.name]))
        finally:
            con.close()
        return out

    def _check_fits(self, done):
        """Compare with float64 numpy references of the same fits."""
        pdf = pd.read_parquet(os.path.join(self.dir, "cohort"))
        t = pdf["duration"].to_numpy(float)
        d = pdf["event"].to_numpy(float)
        cont = pdf[["age", "stage"]].to_numpy(float)
        stage = pdf[["stage"]].to_numpy(float)
        ref = {
            "cox_ph:continuous": cox_reference(cont, t, d, FIT_ITERS),
            "cox_ph:stage": cox_reference(stage, t, d, FIT_ITERS),
            "weibull_aft:continuous": aft_reference(cont, t, d, FIT_ITERS),
            "weibull_aft:stage": aft_reference(stage, t, d),
        }
        out = []
        for op, result in done:
            got = np.asarray(
                result if op.name.startswith("cox")
                else list(result[0]) + [result[1]], dtype=float)
            want = ref[op.name]
            err = float(np.abs(got - want).max())
            out.append(None if err <= COHORT_TOL else
                       f"max |fit - reference| = {err:.3g} "
                       f"(got {got.round(6)}, want {want.round(6)})")
        # the planted truth sanity-checks the reference itself: in PH
        # terms the Weibull AFT truth is beta = -b / sigma
        tr = COHORT_TRUTH
        truth = -np.array([tr["age"], tr["stage"]]) / tr["sigma"]
        converged = cox_reference(cont, t, d)
        if np.abs(converged - truth).max() > 0.02:
            out = [o or "reference fit misses the planted truth" for o in out]
        return out


WORKLOADS = {
    "etl_refresh": EtlRefresh,
    "survival": Survival,
}
