"""Pipeline benchmark for dataproc_spark: one closed-loop client on
``local[4]`` driving the package's public functions.

    python3 pipebench/run.py --workload shard_eval --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a
separate traced run with ``--trace 1``. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".pipebench_work")
#: set-ups per untraced run; the median is setup_s
SETUPS = 3
#: measured warm passes per untraced run at least, however short --seconds is
MIN_WARM_PASSES = 3
#: warm passes run and checked but not timed: the JIT is still compiling,
#: and the median of the three passes after it spread 0.065 (IQR/median)
#: over six seeds on a 4-vCPU VM, against 0.12 with it timed
SETTLE_PASSES = 1

sys.path.insert(0, HERE)

import gen  # noqa: E402
import spec  # noqa: E402


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _import_program():
    """Import dataproc_spark from this checkout, or exit 2: the benchmark
    refuses to run without the program it measures."""
    if not os.path.isfile(os.path.join(ROOT, "dataproc_spark", "__init__.py")):
        _log(f"no dataproc_spark package under {ROOT}")
        sys.exit(2)
    sys.path.insert(0, ROOT)
    import dataproc_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(dataproc_spark.__file__))) != ROOT:
        _log("dataproc_spark imported from outside the checkout")
        sys.exit(2)


def _session_conf(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # a fixed 2 GB heap with a fixed young generation: with G1's
        # adaptive sizing, peak PSS spread 17 % (IQR/median) over five
        # seeds on a 4-vCPU VM; fixed, 2 %
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            " -Xms2g -Xmn512m",
    }


def _warmup(spark) -> None:
    """Generic JVM warmup, no package code: an aggregate, a broadcast join
    and a window load the exec and codegen classes every pass uses.
    Python workers are not spawned here; the first pass pays for them."""
    from pyspark.sql import functions as F

    spark.range(200_000).selectExpr("sum(id)").collect()
    k = spark.range(1000).withColumnRenamed("id", "k")
    k.join(F.broadcast(spark.range(10).withColumnRenamed("id", "k")), "k").count()
    k.selectExpr("k", "row_number() over (partition by k % 7 order by k) as rn") \
        .where("rn <= 2").count()


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM (and with it the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _set_up(conf: dict):
    """Start (or restart) the session and warm it; returns the session and
    the get_spark and warmup seconds."""
    from dataproc_spark.core import get_spark

    t0 = time.perf_counter()
    spark = get_spark("pipebench", master="local[4]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    _warmup(spark)
    return spark, t1 - t0, time.perf_counter() - t1


class Runner:
    """Runs passes of one workload and keeps the failure tally."""

    def __init__(self, workload: str, inputs: str, out_dir: str, want: dict):
        import workloads

        self.workload = workload
        self.inputs = inputs
        self.out_dir = out_dir
        self.want = want
        self.fn = workloads.PASSES[workload]
        self.n_ops = len(spec.WORKLOAD_OPS[workload])
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.persisted_after_pass = 0
        self.last_pairs = None

    def run_pass(self, spark, tracer) -> float:
        """One pass, timed; then drop its frames and collect garbage so
        cache-release finalizers fire here, and count what stays persisted."""
        from workloads import Pass

        p = Pass(spark, self.inputs, self.out_dir, gen.SHAPES[self.workload], self.want)
        self.attempted += self.n_ops
        t0 = time.perf_counter()
        try:
            self.failed += self.fn(p, tracer)
        except Exception:  # an op that raises fails every op of its pass
            traceback.print_exc()
            self.failed += self.n_ops
            p.errors.append("pass raised")
        elapsed = time.perf_counter() - t0
        self.errors.extend(p.errors)
        self.last_pairs = p.pairs
        del p
        gc.collect()
        self.persisted_after_pass = spark.sparkContext._jsc.getPersistentRDDs().size()
        return elapsed


def _untraced(args, runner, conf) -> dict:
    import tracing

    spark = None
    setups = []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, s_get, s_warm = _set_up(conf)
        setups.append(s_get + s_warm)
    _log(f"set-ups (s): {[round(s, 3) for s in setups]}")
    tracer = tracing.Tracer(spark.sparkContext, f"{args.workload}-{args.seed}", False)
    sampler = tracing.PssSampler(spark.sparkContext._gateway.proc.pid).start()
    try:
        start = time.perf_counter()
        first = runner.run_pass(spark, tracer)
        for _ in range(SETTLE_PASSES):
            runner.run_pass(spark, tracer)
        warm = []
        while (len(warm) < MIN_WARM_PASSES
               or time.perf_counter() - start < args.seconds):
            warm.append(runner.run_pass(spark, tracer))
    finally:
        peak_mb = sampler.stop()
        spark.stop()
    _log(f"first pass {first:.3f} s; warm passes (s): {[round(w, 3) for w in warm]}")
    values = {
        "setup_s": statistics.median(setups),
        "rows_per_s": gen.input_rows(args.workload) / statistics.median(warm),
        "peak_rss_mb": peak_mb,
        "ok_ratio": 1.0 - runner.failed / runner.attempted,
    }
    return {k: {"value": v, "unit": spec.END_TO_END[k][0]} for k, v in values.items()}


def _traced(args, runner, conf, run_dir) -> dict:
    import tracing
    import workloads

    spark, get_s, warm_s = _set_up(conf)
    sc = spark.sparkContext
    run_id = f"{args.workload}-{args.seed}"
    try:
        first = runner.run_pass(spark, tracing.Tracer(sc, run_id, False))
        untraced = runner.run_pass(spark, tracing.Tracer(sc, run_id, False))
        tracer = tracing.Tracer(sc, run_id, True)
        after_job = tracing.last_job_id(sc)
        after_exec = tracing.last_execution_id(spark)
        with tracer.span("pass"):
            traced = runner.run_pass(spark, tracer)
        groups = tracing.group_metrics(sc, after_job)
        exploded = tracing.sql_output_rows(spark, "selective.evaluate", "Generate", after_exec)
        ratio = 0.0
        if runner.last_pairs is not None:
            ratio = len(runner.last_pairs) / max(1, workloads.lsh_candidates(spark, runner.inputs))
    finally:
        spark.stop()
    tracer.dump(os.path.join(run_dir, "spans.json"))
    values = {}
    for op in spec.OPS:
        m = groups.get(op, {})
        done = [o for o in tracer.ops if o.name == op]
        values[f"{op}.build_s"] = sum(o.built_at - o.start for o in done)
        values[f"{op}.exec_s"] = sum(o.end - o.built_at for o in done)
        for q in tracing.STORE_QUANTITIES:
            values[f"{op}.{q}"] = m.get(q, 0)
    values.update({
        "core.get_spark.s": get_s,
        "core.warmup.s": warm_s,
        "first_pass_s": first,
        "core.persisted_after_pass": runner.persisted_after_pass,
        "selective.evaluate.rows_exploded": exploded,
        "extensions.dedup.verified_per_candidate": ratio,
        "trace_overhead_s": traced - untraced,
    })
    _log(f"untraced pass {untraced:.3f} s, traced pass {traced:.3f} s")
    for o in tracer.ops:
        _log(f"{o.name}: build {o.built_at - o.start:.3f} s, exec {o.end - o.built_at:.3f} s")
    layer = spec.per_layer()
    return {k: {"value": values[k], "unit": layer[k][0]} for k in layer}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[w for w, _ in spec.WORKLOADS])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-spec", action="store_true",
                    help="write BENCHMARK.json at the repository root and exit")
    args = ap.parse_args(argv)
    if args.write_spec:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(spec.benchmark_json(), f, indent=2)
            f.write("\n")
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    _import_program()
    import workloads

    inputs = gen.generate(args.workload, args.seed, os.path.join(WORK, "inputs"))
    with open(os.path.join(inputs, gen.MANIFEST)) as f:
        print(f"# inputs {f.read()}", flush=True)
    want = workloads.EXPECTED[args.workload](inputs, gen.SHAPES[args.workload])
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # the short-lived launcher JVM spark-submit runs first: no perf data file
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = _session_conf(run_dir)
    runner = Runner(args.workload, inputs, run_dir, want)
    try:
        if args.trace:
            metrics = _traced(args, runner, conf, run_dir)
            shutil.copy(os.path.join(run_dir, "spans.json"), os.path.join(
                WORK, f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = _untraced(args, runner, conf)
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    for err in runner.errors[:20]:
        _log(f"CHECK FAILED: {err}")
    for name, m in metrics.items():
        print(f"# {name} = {m['value']} {m['unit']}")
    print(json.dumps({
        "correct": runner.failed == 0 and not runner.errors,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
