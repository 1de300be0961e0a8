"""Seeded closed-loop lakehouse benchmark.

    python3 perfbench/run.py --workload ingest_dml --seed 1 --seconds 20 --trace 0

Runs one workload with one client at local[<cores>] and prints, as the
last line of standard output, one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics of BENCHMARK.json
with --trace 0, its per-layer metrics with --trace 1. A longer record of
the run (per-op samples, canary probes, hook bindings) is written under
.perfbench/ in the repository root. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import resource
import shutil
import statistics
import sys
import time
from collections import defaultdict

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_REPS = 3          # builds before measuring; setup_s takes the median build


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def import_engine():
    """The engine under test is the checkout's own delta_spark."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import delta_spark
    if os.path.dirname(os.path.dirname(os.path.abspath(delta_spark.__file__))) != ROOT:
        raise ImportError(f"delta_spark resolved outside the checkout: {delta_spark.__file__}")


def confine(work: str) -> None:
    """Keep Spark's and Java's scratch files inside the work directory,
    size the local session to this machine, and cap the driver heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def canary(spark, warm: bool) -> dict:
    """The contention probes bench.py uses, scaled down: a pure-JVM CPU
    hash-sum and a shuffle through local disk, each timed once (after an
    untimed run if `warm`)."""
    def timed(fn):
        if warm:
            fn()
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0
    cpu = timed(lambda: spark.range(10_000_000).selectExpr(
        "sum(id * 2654435761 % 1000003) AS s").collect())
    shuffle = timed(lambda: spark.range(500_000).repartition(8)
                    .selectExpr("sum(id % 97) AS s").collect())
    return {"cpu_s": cpu, "shuffle_s": shuffle}


def tail(samples: list[float]) -> tuple[float, float]:
    """Latency at the highest percentile with at least 10 samples beyond
    it, and that percentile (the maximum below 11 samples)."""
    xs = sorted(samples)
    if len(xs) < 11:
        return xs[-1], 100.0
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs)


class JvmCpu:
    """CPU seconds the driver JVM (all its threads) has used so far, read
    through the platform OperatingSystemMXBean with one py4j call."""

    def __init__(self, spark):
        jvm, gw = spark._jvm, spark.sparkContext._gateway
        self._bean = jvm.java.lang.management.ManagementFactory.getOperatingSystemMXBean()
        self._method = jvm.java.lang.Class.forName("com.sun.management.OperatingSystemMXBean") \
            .getMethod("getProcessCpuTime", gw.new_array(jvm.java.lang.Class, 0))
        self._noargs = gw.new_array(jvm.java.lang.Object, 0)

    def __call__(self) -> float:
        return self._method.invoke(self._bean, self._noargs) / 1e9


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, args, spark, wl, tracer):
        self.args, self.spark, self.wl, self.tracer = args, spark, wl, tracer
        self.samples: list[tuple[str, float]] = []
        self.errors: list[str] = []
        self.attempted = 0
        self.per_op: list[dict] = []
        self.warmup: list[dict] = []
        self.jvm_cpu = JvmCpu(spark)

    def run_op(self, op, slot: int, timed: bool) -> None:
        if op.prep is not None:
            op.prep()
        jobs0 = self._jobs() if self.tracer is not None and timed else None
        cpu0 = time.process_time()
        jcpu0 = self.jvm_cpu()
        t0 = time.perf_counter()
        err, out = None, None
        try:
            if self.tracer is not None and timed:
                with self.tracer.op_span(self.attempted, op.kind):
                    out = op.run()
            else:
                out = op.run()
        except Exception as e:          # an op that fails is counted, not fatal
            err = f"{op.kind}: {type(e).__name__}: {e}"
        op.elapsed = time.perf_counter() - t0
        cpu = time.process_time() - cpu0
        jcpu = self.jvm_cpu() - jcpu0
        if err is None and op.check is not None:
            err = op.check(out)
        if not timed:
            if err is not None:
                raise RuntimeError(f"warm-up op failed: {err}")
            self.warmup.append({"kind": op.kind, "s": op.elapsed})
            return
        self.attempted += 1
        self.samples.append((op.kind, op.elapsed))
        rec = {"kind": op.kind, "slot": slot, "s": op.elapsed, "cpu_s": cpu + jcpu,
               "driver_cpu_s": cpu, "jvm_cpu_s": jcpu}
        if self.tracer is not None:
            rec.update(self._job_stats(jobs0))
            if hasattr(self.wl, "after_op"):
                self.wl.after_op()
        if err is not None:
            self.errors.append(err)
            rec["error"] = err[:500]
        self.per_op.append(rec)

    def _jobs(self) -> set:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def _job_stats(self, before: set) -> dict:
        st = self.spark.sparkContext.statusTracker()
        new = set(st.getJobIdsForGroup(None)) - before
        tasks = 0
        for j in new:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                tasks += si.numCompletedTasks if si else 0
        return {"spark_jobs": len(new), "spark_tasks": tasks}

    def deck(self, timed: bool) -> None:
        for slot, op in enumerate(self.wl.deck(warm=not timed)):
            self.run_op(op, slot, timed)
        errors = self.wl.checks()
        if errors and not timed:
            raise RuntimeError(f"warm-up deck failed its checks: {errors}")
        self.errors.extend(errors)

    def measure(self, seconds: float, build) -> float:
        """`seconds` ÷ the workload's nominal deck time, rounded, whole
        decks (at least one), each on freshly built tables. The deck count
        does not depend on how fast the decks run, so every run of a
        workload measures the same work however busy the machine is. The
        builds and checks between decks are not timed as ops."""
        t0 = time.perf_counter()
        for i in range(max(1, round(seconds / self.wl.DECK_S))):
            if i:
                build()
            self.deck(timed=True)
        return time.perf_counter() - t0


def end_to_end(setup_s: float, per_op: list[dict]) -> dict:
    """Each deck slot's median latency over the run's decks, then over
    the slots: ops per second of the deck at one client, and the
    geometric mean op latency."""
    wall = defaultdict(list)
    for r in per_op:
        wall[r["slot"]].append(r["s"])
    w = [statistics.median(v) for v in wall.values()]
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(w) / sum(w), "1/s"),
        "op_gmean_s": (statistics.geometric_mean(w), "s"),
    }


def run(args) -> tuple[dict, dict]:
    import_engine()
    import spans
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    confine(work)
    tracer = None
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        t0 = time.perf_counter()
        from delta_spark.session import get_spark
        spark = get_spark("perfbench", master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
        session_s = time.perf_counter() - t0
        try:
            record["canary_before"] = canary(spark, warm=True)
            if args.trace:
                tracer = spans.Tracer()
                record["hook_bindings"] = spans.install(tracer)
            t0 = time.perf_counter()
            ctx = Ctx(spark, args.seed, work, tracer)
            wl = WORKLOADS[args.workload](ctx)
            record["inputs_s"] = time.perf_counter() - t0
            builds = []
            reps = itertools.count()

            def build():
                t0 = time.perf_counter()
                wl.build(next(reps))
                builds.append(time.perf_counter() - t0)
            # warm up with one untimed deck on the first build, then
            # measure on fresh ones, so every measured deck starts from
            # the same table state
            build()
            runner = Runner(args, spark, wl, tracer)
            t0 = time.perf_counter()
            runner.deck(timed=False)
            warmup_s = time.perf_counter() - t0
            for _ in range(1, BUILD_REPS):
                build()
            setup_s = session_s + statistics.median(builds[:BUILD_REPS]) + warmup_s
            record.update(session_s=session_s, warmup_s=warmup_s)
            record["measured_s"] = runner.measure(args.seconds, build)
            record["builds_s"] = builds
            record["canary_after"] = canary(spark, warm=False)
        finally:
            t0 = time.perf_counter()
            stop_spark(spark)
            record["stop_s"] = time.perf_counter() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    xs = [s for _, s in runner.samples]
    tail_s, tail_pct = tail(xs)
    kinds = sorted({k for k, _ in runner.samples})
    record.update(
        ops=len(xs), tail_s=tail_s, tail_percentile=tail_pct,
        error_rate=len(runner.errors) / max(1, runner.attempted),
        op_type_p50_s={k: statistics.median([s for kk, s in runner.samples if kk == k])
                       for k in kinds},
        op_type_count={k: sum(1 for kk, _ in runner.samples if kk == k) for k in kinds},
        extras=wl.extras(), per_op=runner.per_op, warmup_ops=runner.warmup)
    if args.trace:
        metrics = spans.per_layer(tracer, record, runner.samples, wl)
        silent = spans.check_hooks(args.workload, metrics, record)
        runner.errors.extend(f"predicted-busy hook recorded no span: {h}" for h in silent)
    else:
        metrics = end_to_end(setup_s, runner.per_op)
    record["errors"] = runner.errors[:50]
    result = {"correct": not runner.errors, "attempted": runner.attempted,
              "failed": min(len(runner.errors), runner.attempted)}
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    record["correct"] = result["correct"]
    return result, record


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        spec = load_spec()
    except OSError as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    try:
        result, record = run(args)
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    want = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    if sorted(want) != sorted(result["metrics"]):
        print("perfbench: metrics do not match BENCHMARK.json: "
              f"{sorted(set(want) ^ set(result['metrics']))}", file=sys.stderr)
        return 3
    record["peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    record["process_s"] = time.perf_counter() - T_START
    out = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if record.get("errors"):
        print("perfbench: " + "\n  ".join(record["errors"][:10]), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
