"""Self-test of job attribution by time window.

A Spark job launched from a plain ``threading.Thread`` carries no job
group (the overlap threads of survival_ph_test and the ipcw/AIPW
estimators behave the same way). The tracer assigns jobs to an op by
submission time, so that job must still land under the op.

    python3 perfbench/selftest.py      # exit 0 when every job is attributed
"""

from __future__ import annotations

import os
import sys
import threading

import run as bench


def main() -> int:
    bench.program_present()
    sys.path.insert(0, bench.ROOT)
    bench.configure_env()
    from cancer_survival_etl_spark.session import get_spark
    from tracing import Tracer

    spark = get_spark("perfbench-selftest")
    try:
        spark.range(10).count()
        tracer = Tracer(spark)
        spark.sparkContext.setJobGroup("main-group", "selftest")
        with tracer.op("threaded", "selftest") as op:
            spark.range(1000).count()
            worker = threading.Thread(
                target=lambda: spark.range(2000).selectExpr("sum(id)").collect())
            worker.start()
            worker.join(timeout=120)
        if worker.is_alive():
            print("FAIL: worker thread did not finish")
            return 1
        jobs = [s for s in tracer.spans if s["layer"] == "spark"]
        groups = sorted(str(j["attrs"]["group"]) for j in jobs)
        attributed = all(tracer.spans[j["parent"]] is op for j in jobs)
        print(f"jobs={len(jobs)} groups={groups} attributed={attributed}")
        # with AQE an aggregate runs as more than one job; the thread's
        # jobs carry no group, yet must be ours as well
        ok = attributed and {"None", "main-group"} <= set(groups)
        print("ok" if ok else "FAIL")
        return 0 if ok else 1
    finally:
        bench.stop_all(spark)


if __name__ == "__main__":
    os.chdir(bench.ROOT)
    sys.exit(main())
