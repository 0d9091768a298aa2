"""Run one benchmark workload and print its metrics.

From the repository root:

    python3 perfbench/run.py --workload kiln_batch --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs untraced and traced operations alternately and prints
the per-layer metrics, writing the spans to ``.perfbench/out``. Every
metric is printed as ``name value unit``; the last line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code
is non-zero when any output check fails.

The run environment is pinned here, not per workload: the engine's
``get_spark`` defaults with ``SPARK_GRAFT_CPUS`` set to the usable CPU
count, and every scratch file (Spark local dirs, JVM and Python temp
files, inputs, checkpoints) under ``.perfbench`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

SETUP_REPS = 3
# the first operation of a fresh JVM is mostly JIT compilation (2-2.5x a
# warm one) and the second still spends a third to half of its CPU time in
# the JIT compiler's threads; both are left out
WARMUP_OPS = 2
MIN_OPS = 2


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def pin_environment(root: str) -> str:
    """Point every scratch path into the checkout and fix the CPU count."""
    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp")
    for sub in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for knob in ("SPARK_GRAFT_INITIAL_PARTITIONS", "SPARK_DRIVER_MEMORY"):
        os.environ.pop(knob, None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: both JVMs (spark-submit's launcher and Spark's own)
    # would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {java_opts} pyspark-shell")
    return work


def import_engine(root: str) -> None:
    # the checkout root replaces this script's directory on the path, so
    # the benchmark's modules import as ``perfbench.*`` and shadow nothing
    sys.path[0] = root
    try:
        import timeseries_data_analysis_spark as engine
    except ImportError as e:
        sys.exit(f"perfbench: the engine is not importable from {root}: {e}")
    if not os.path.abspath(engine.__file__).startswith(root + os.sep):
        sys.exit(f"perfbench: imported the engine from {engine.__file__}, "
                 f"not from {root}")


def jvm_pids() -> list[int]:
    """The gateway JVM launched for this process and its descendants."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw else None
    if proc is None:
        return []
    parents = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    pids, frontier = [proc.pid], [proc.pid]
    while frontier:
        kids = [p for p, pp in parents.items() if pp in frontier]
        pids += kids
        frontier = kids
    return pids


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time of ``pids`` so far. Time the hypervisor
    steals from this machine is not in it, which wall time includes."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def jvm_memory_mb(spark) -> dict[str, float]:
    """The JVM's heap in use after a full collection, and its non-heap
    (metaspace, code cache) in use."""
    jvm = spark.sparkContext._jvm
    # Spark's ContextCleaner frees broadcast and shuffle blocks only after
    # a collection has enqueued their owners, so collect more than once
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.3)
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return {"jvm_live_heap_mb": bean.getHeapMemoryUsage().getUsed() / 2**20,
            "jvm_non_heap_mb": bean.getNonHeapMemoryUsage().getUsed() / 2**20}


def stop_spark(spark) -> None:
    """Stop Spark and wait until the gateway JVM has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


class Runner:
    """Closed loop of one client: after ``WARMUP_OPS`` untimed operations,
    the next operation starts when the last returns, until ``seconds``
    have passed and at least ``MIN_OPS`` ran.

    A traced run alternates traced and untraced operations, traced first,
    and runs at least one of each; their medians differ by the tracing
    overhead plus run-to-run noise."""

    def __init__(self, w, sc, seconds: float, traced: bool) -> None:
        from perfbench.tracing import NullTracer, Tracer
        self.w, self.seconds, self.traced = w, seconds, traced
        self.tracer = Tracer(sc) if traced else NullTracer()
        self.null = NullTracer()
        self.lat: dict[bool, list[float]] = {False: [], True: []}
        self.cpu: list[float] = []
        self.attempted = self.failed = 0

    def _one(self, op_id: int, traced: bool, pids: list[int]) -> None:
        cpu0, t = cpu_seconds(pids), time.perf_counter()
        try:
            if traced:
                with self.tracer.span("op", op_id):
                    self.w.op(self.tracer, op_id)
            else:
                self.w.op(self.null, op_id)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
        else:
            self.lat[traced].append(time.perf_counter() - t)
            if not traced:
                self.cpu.append(cpu_seconds(pids) - cpu0)
        self.attempted += 1
        if traced:
            self.w.probe(self.tracer, op_id)

    def warmup(self) -> None:
        for _ in range(WARMUP_OPS):
            self.w.op(self.null, 0)

    def run(self, pids: list[int]) -> float:
        """Runs the loop; returns its wall time in seconds."""
        t0 = time.perf_counter()
        deadline = t0 + self.seconds
        op_id = 0
        while op_id < MIN_OPS or time.perf_counter() < deadline:
            op_id += 1
            self._one(op_id, self.traced and op_id % 2 == 1, pids)
        return time.perf_counter() - t0


def main() -> int:
    args = parse_args()
    t_start = time.perf_counter()
    root = os.getcwd()
    import_engine(root)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"perfbench: unknown workload {args.workload}")
    work = pin_environment(root)
    run_dir = os.path.join(work, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)

    import pyspark

    from perfbench.tracing import median
    from perfbench.workloads import WORKLOADS
    from timeseries_data_analysis_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t_start
    phases: dict[str, float] = {}
    try:
        w = WORKLOADS[args.workload](spark, run_dir, args.seed)
        reps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            w.setup(rep)
            reps.append(time.perf_counter() - t)
        runner = Runner(w, spark.sparkContext, args.seconds, bool(args.trace))
        t = time.perf_counter()
        runner.warmup()
        phases["warmup"] = time.perf_counter() - t
        wall = runner.run([os.getpid()] + jvm_pids())
        t = time.perf_counter()
        problems = w.check()
        phases["check"] = time.perf_counter() - t
        if runner.failed == runner.attempted:
            problems.append("every operation failed")
        mem = {"python_peak_rss_mb": peak_rss_mb([os.getpid()]),
               "jvm_peak_rss_mb": peak_rss_mb(jvm_pids()),
               **jvm_memory_mb(spark)}
        layers = w.layer_metrics(runner.tracer) if args.trace else {}
        failed_tasks = (sum(c.tasks_failed for c in runner.tracer.spark_counts().values())
                        if args.trace else 0)
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        phases["stop"] = time.perf_counter() - t
    shutil.rmtree(run_dir, ignore_errors=True)
    phases["total"] = time.perf_counter() - t_start

    lat = runner.lat[False]
    done = len(lat) + len(runner.lat[True])
    end_to_end = {
        "setup_s": session_s + median(reps),
        "op_p50_s": median(lat),
        "ops_per_s": done / wall,
        "cpu_s_per_op": median(runner.cpu),
        "live_mem_mb": (mem["python_peak_rss_mb"] + mem["jvm_live_heap_mb"]
                        + mem["jvm_non_heap_mb"]),
    }
    env = {"nproc": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg(),
           "spark": pyspark.__version__, "python": sys.version.split()[0],
           "session_s": session_s, "setup_reps_s": reps, "phases_s": phases,
           "inputs": w.inputs, "memory": mem}
    info = {"op_p90_s": percentile(lat, 0.9) if lat else 0.0, "ops_timed": len(lat),
            "peak_rss_mb": mem["python_peak_rss_mb"] + mem["jvm_peak_rss_mb"]}
    if args.trace:
        traced = runner.lat[True]
        layers["trace.op_p50_s"] = median(traced)
        layers["trace.untraced_op_p50_s"] = median(lat)
        layers["trace.overhead_s"] = median(traced) - median(lat)
        layers["spark.tasks_failed"] = failed_tasks
        declared = {m["name"] for m in spec["per_layer"]}
        unknown = set(layers) - declared
        if unknown:
            sys.exit(f"perfbench: undeclared per-layer metrics {sorted(unknown)}")
        # layers of the other workloads stay idle: zero calls, zero time
        metrics, table = {n: layers.get(n, 0.0) for n in declared}, spec["per_layer"]
        runner.tracer.write(os.path.join(
            work, "out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics, table = end_to_end, spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in table}
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "env": env, "info": info, "latencies_s": runner.lat[False],
              "traced_latencies_s": runner.lat[True], "metrics": metrics,
              "problems": problems}
    with open(os.path.join(work, "out", f"run-{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print("env " + json.dumps(env, default=str))
    print(f"info op_p90_s {info['op_p90_s']:.4f} s (from {len(lat)} timed operations)")
    print(f"info peak_rss_mb {info['peak_rss_mb']:.1f} MB (Python process + JVM, VmHWM)")
    for p in problems:
        print(f"CHECK FAILED: {p}")
    for m in table:
        print(f"metric {m['name']} {metrics[m['name']]:.6g} {m['unit']}")
    result = {
        "correct": not problems,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": units[m["name"]]}
                    for m in table},
    }
    print(json.dumps(result), flush=True)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
