"""Benchmark of the spark-graft engine: one command, two workloads.

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 25 --trace 0

One client runs one op at a time (closed loop) on local[nproc]. With
``--trace 0`` it prints every end-to-end metric; with ``--trace 1`` it
installs the layer hooks and prints every per-layer metric instead. The
last stdout line is one JSON object: correct, attempted, failed, metrics.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import random
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

END_TO_END = {"setup_s": "s", "cpu_s_per_op": "s", "py_peak_rss_mb": "MB"}
# printed and kept in the results, but too unsteady on a shared box to
# bound (see README)
UNBOUNDED = {"ops_per_min": "1/min", "op_p50_s": "s", "op_p90_s": "s",
             "op_cpu_p50_s": "s", "op_cpu_p90_s": "s", "setup_wall_s": "s"}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def program_present() -> None:
    """The benchmark measures the program beside it, never an installed
    copy: refuse to run without the sources in the checkout."""
    for rel in ("cancer_survival_etl_spark/__init__.py", "__spark_entry__.py",
                "tools/check_parity.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"program source {rel} not found under {ROOT}")


def configure_env() -> dict:
    """Pin cores, driver memory and every scratch path inside the checkout."""
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        with open("/proc/meminfo") as f:
            total_gb = int(f.readline().split()[1]) / 2**20
        # a quarter of the box, 1-4g: session.py's 48g default does not fit
        gb = max(1, min(4, int(total_gb // 4)))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{gb}g"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {"nproc": nproc, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"]}


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "cancer_survival_etl_spark")
    files = [os.path.join(ROOT, "__spark_entry__.py")] + sorted(
        os.path.join(d, f) for d, _, fs in os.walk(pkg)
        for f in fs if f.endswith(".py"))
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return "none"
    return out.stdout.strip() if out.returncode == 0 else "none"


def p90(lat: list[float]) -> tuple[float, int]:
    """Nearest-rank p90 and the number of samples beyond it. A run holds
    7 or 20 ops, so the p90 rests on at most two samples: the highest
    percentile with ten samples beyond would fall at or below the median
    (see README)."""
    xs = sorted(lat)
    k = math.ceil(0.9 * len(xs))
    return xs[k - 1], len(xs) - k


class Run:
    """What the workloads need from the runner: paths, tracing, sink."""

    def __init__(self, scratch: str):
        self.root = ROOT
        self.scratch = scratch
        self.tracer = None

    def span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    def force(self, df):
        """The sink of a query op: collect to the driver as pandas."""
        if self.tracer is None:
            return df.toPandas()
        self.tracer.in_sink = True
        try:
            return df.toPandas()
        finally:
            self.tracer.in_sink = False


def set_up(get_spark) -> tuple:
    """get_spark() plus a warm-up action, from a cold start: it launches
    the JVM with get_spark's launch configuration, as every use of the
    program does. Returns the session and the set-up's (start, warm-up,
    process-tree CPU) seconds."""
    import proctree

    c0 = sum(proctree.cpu_split().values())
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.range(1 << 16).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    return spark, (t1 - t0, t2 - t1, sum(proctree.cpu_split().values()) - c0)


def stop_all(spark) -> None:
    """Stop Spark and the JVM, then wait for every child process."""
    import proctree

    gateway = spark.sparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)  # spark-submit, launched by pyspark
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway server exits when stdin closes
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.time() + 30
    while True:
        kids = [p for p in proctree.tree() if p != os.getpid()]
        if not kids:
            return
        if time.time() > deadline:
            for pid in kids:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            return
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # flush each line: a forked child must not repeat buffered output
    sys.stdout.reconfigure(line_buffering=True)

    program_present()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))  # check_parity
    env = configure_env()

    import inputs
    import proctree
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cls = WORKLOADS[args.workload]
    scratch = os.path.join(WORK, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)

    data_dir, info, gen_s = inputs.cached(
        os.path.join(WORK, "cache"), cls.kind, args.seed)

    from cancer_survival_etl_spark.session import get_spark

    spark, setup = set_up(get_spark)
    try:
        return measure(args, env, spark, setup, cls, data_dir, info, gen_s,
                       scratch, proctree)
    finally:
        t_stop = time.perf_counter()
        stop_all(spark)
        print(f"# stopped in {time.perf_counter() - t_stop:.2f}s", file=sys.stderr)
        import shutil

        shutil.rmtree(scratch, ignore_errors=True)


def run_op(op, tracer, run, proctree) -> tuple:
    """Run one op, traced when ``tracer`` is given. Returns (result,
    error or None, wall seconds, CPU seconds of the process tree)."""
    c0, t0 = sum(proctree.cpu_split().values()), time.perf_counter()
    try:
        if tracer is None:
            result = op.fn()
        else:
            run.tracer = tracer
            with tracer.op(op.name, op.kind):
                result = op.fn()
    except Exception as exc:  # a failed op is counted, not fatal
        result, err = None, f"{type(exc).__name__}: {exc}"[:300]
    else:
        err = None
    finally:
        run.tracer = None
    wall = time.perf_counter() - t0
    return result, err, wall, sum(proctree.cpu_split().values()) - c0


def measure(args, env, spark, setup, cls, data_dir, info, gen_s, scratch,
            proctree) -> int:
    import pyspark

    run = Run(scratch)
    workload = cls(spark, data_dir, info, run)
    rng = random.Random(args.seed)
    passes = max(1, round(args.seconds / cls.nominal_pass_s))
    jvm = proctree.jvm_pid()
    env.update({
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "seed": args.seed, "commit": commit(), "source": source_digest(),
        "workload": args.workload, "trace": args.trace, "passes": passes,
        "seconds": args.seconds,
    })
    print("# env " + json.dumps(env))
    print(f"# inputs {json.dumps(info)} generated_s={gen_s:.3f}")

    t_prime = time.perf_counter()
    workload.warm_up()
    prime_s = time.perf_counter() - t_prime
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()

    done, lat, cpu, errors = [], [], [], []
    untraced_s = 0.0
    cpu_traced = {"py": 0.0, "jvm": 0.0, "worker": 0.0}
    proctree.reset_peak(os.getpid())
    proctree.reset_peak(jvm)
    cpu0, wall0 = proctree.cpu_split(), time.perf_counter()
    for _ in range(passes):
        for i, op in enumerate(workload.ops(rng)):
            if tracer is not None:
                # the op untraced and traced, alternating which goes
                # first, so the difference is the tracing overhead
                if i % 2 == 0:
                    untraced_s += run_op(op, None, run, proctree)[2]
                c0 = proctree.cpu_split()
            result, err, dt, dc = run_op(op, tracer, run, proctree)
            if tracer is not None:
                c1 = proctree.cpu_split()
                for k in cpu_traced:
                    cpu_traced[k] += c1[k] - c0[k]
                if i % 2 == 1:
                    untraced_s += run_op(op, None, run, proctree)[2]
            done.append((op, result))
            lat.append(dt)
            cpu.append(dc)
            errors.append(err)
    wall = time.perf_counter() - wall0
    cpu1 = proctree.cpu_split()
    py_peak, jvm_peak = proctree.peak_rss_mb(os.getpid()), proctree.peak_rss_mb(jvm)
    if tracer is not None:
        tracer.uninstall()

    for (op, _), dt, dc in zip(done, lat, cpu):
        print(f"# op {op.name} {dt:.3f}s cpu {dc:.2f}s")
    t_check = time.perf_counter()
    # correctness, outside the timed region
    ok_pairs = [(op, r) for (op, r), e in zip(done, errors) if e is None]
    verdicts = iter(workload.check(ok_pairs) if ok_pairs else [])
    for k, e in enumerate(errors):
        if e is None:
            errors[k] = next(verdicts)
    attempted = len(done)
    failed = sum(e is not None for e in errors)
    for (op, _), e in zip(done, errors):
        if e is not None:
            print(f"# FAILED {op.name}: {e}")

    traced_s = sum(lat) if tracer is not None else None
    e2e = {
        "setup_s": setup[2],
        "cpu_s_per_op": (sum(cpu1.values()) - sum(cpu0.values())) / attempted,
        "py_peak_rss_mb": py_peak,
    }
    wall_p90, beyond = p90(lat)
    info_line = {
        "samples": len(lat), "beyond_p90": beyond,
        "failed_frac": failed / attempted,
        "ops_per_min": 60.0 * (attempted - failed) / (traced_s or wall),
        "op_p50_s": statistics.median(lat), "op_p90_s": wall_p90,
        "op_cpu_p50_s": statistics.median(cpu), "op_cpu_p90_s": p90(cpu)[0],
        "setup_wall_s": setup[0] + setup[1], "loop_s": wall,
        "generate_s": gen_s,
        "prime_s": prime_s, "check_s": time.perf_counter() - t_check,
    }
    print("# info " + json.dumps(info_line))

    if tracer is None:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    else:
        layer = tracer.metrics()
        layer.update({
            "session.start_s": setup[0],
            "session.warmup_s": setup[1],
            "proc.py_cpu_s": cpu_traced["py"],
            "proc.jvm_cpu_s": cpu_traced["jvm"],
            "proc.worker_cpu_s": cpu_traced["worker"],
            "proc.jvm_peak_rss_mb": jvm_peak,
            "trace.overhead_s": traced_s - untraced_s,
            "trace.overhead_frac": (traced_s - untraced_s) / untraced_s,
        })
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(
            trace_dir, f"{args.workload}-seed{args.seed}.json"))
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in per_layer_spec()}
    for name, m in metrics.items():
        print(f"{name:32s} {m['value']:.6g} {m['unit']}")
    for name, unit in UNBOUNDED.items():
        print(f"# {name:30s} {info_line[name]:.6g} {unit} (not bounded)")
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump({"env": env, "info": info_line, **result}, f, indent=1)
    print(json.dumps(result))
    return 0


def per_layer_spec() -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer"]


if __name__ == "__main__":
    sys.exit(main())
