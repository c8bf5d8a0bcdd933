"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The workload runs in this one process
on ``local[<cpus>]``: inputs are generated from the seed, the session is
set up, one cold pass and one untimed warm-up pass run, then warm passes
run until ``--seconds`` have been measured. Outputs are checked after
the timed passes.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A full record of the run goes
to ``.perfbench/out/<workload>-s<seed>-t<trace>.json``. The exit code is
0 only when every step ran and every check passed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MB = 1024.0 * 1024.0
# After the cold pass, one warm-up pass runs untimed (the JIT is still
# compiling through the second pass); then warm passes run until
# --seconds have been measured, at least this many.
MIN_WARM_PASSES = 2
# No new pass starts once the run has used this much time.
RUN_DEADLINE_S = 150.0
DRIVER_MEM = "2g"


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def set_environment(work: str) -> dict[str, str]:
    """Everything the program reads from its environment is fixed here,
    before the JVM starts. Returns the Spark settings the run adds to
    the program's own session defaults."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # the program's 16g default does not fit every host
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers import bigdata_spark from the checkout,
        # whatever their working directory
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # every JVM, the launcher's too: no /tmp/hsperfdata, temp files
        # inside the run's directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TZ": "UTC",
    })
    os.environ.pop("SPARK_MASTER", None)
    time.tzset()
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # a fixed heap: no resizing during the timed passes
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        # no time-triggered ContextCleaner GC inside a timed window;
        # the run collects garbage itself between passes
        "spark.cleaner.periodicGC.interval": "1d",
        # the status stores keep every job, stage and SQL execution of
        # the run, for the traced reads and the task-failure count
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


class Run:
    def __init__(self, spark, workload, ctx: dict, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.steps = workload.steps(spark, ctx)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.state: dict = {}
        self.passes = 0

    def collect_garbage(self) -> None:
        """Between passes, outside every timer: drop cached data, then
        Python and JVM garbage, so the next pass starts clean."""
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(0.2)  # let the ContextCleaner process the freed references

    def run_pass(self) -> dict:
        """One pass over the workload's steps. The pass time is the sum
        of the step windows; checks and trace reads fall outside them."""
        from perfbench.status import catalyst_ms

        state: dict = {}
        outputs: dict = {}
        layers: Counter = Counter()
        counts: dict = {}
        step_s: dict = {}
        wall = 0.0
        t_pass = time.perf_counter()
        self.passes += 1
        for step in self.steps:
            self.attempted += 1
            tr = self.tracer
            group = f"pass{self.passes}:{step.name}"
            try:
                if tr:
                    tr.begin(f"{group}:build")
                t0 = time.perf_counter()
                built = step.build(state)
                t1 = time.perf_counter()
                if tr:
                    b = tr.read_step(f"{group}:build")
                    tr.begin(f"{group}:run")
                t2 = time.perf_counter()
                out = step.run(state, built)
                t3 = time.perf_counter()
            except Exception:  # a failed step is counted and reported
                self.failed += 1
                self.errors.append(f"{step.name}: {traceback.format_exc(limit=3)}")
                continue
            build_s, run_s = t1 - t0, t3 - t2
            wall += build_s + run_s
            step_s[step.name] = [build_s, run_s]
            outputs[step.name] = out
            layers["plans.build_s"] += build_s
            layers["plans.exec_s"] += run_s
            if step.build_layer != "plans.build_s":
                layers[step.build_layer] += build_s
            if step.run_layer != "plans.exec_s":
                layers[step.run_layer] += run_s
            if isinstance(out, dict) and "levels" in out:
                layers["ml.global_tree.levels"] += out["levels"]
                layers["ml.global_tree.nodes"] += out["nodes"]
            if tr:
                x = tr.read_step(f"{group}:run")
                if hasattr(built, "_jdf"):
                    layers["catalyst.plan_ms"] += catalyst_ms(built)
                merged = Counter(b)
                merged.update(x)
                layers.update(merged)
                layers["plans.build_jobs"] += b.get("sched.jobs", 0)
                counts[step.name] = {
                    "build_jobs": b.get("sched.jobs", 0),
                    "jobs": merged.get("sched.jobs", 0),
                    "stages": merged.get("sched.stages", 0),
                    "tasks": merged.get("sched.tasks", 0),
                }
        if self.tracer:
            layers["storage.cached_mb"] = self.tracer.storage_mb()
            layers["trace.warm_pass_s"] = time.perf_counter() - t_pass
        self.state = state
        return {
            "wall_s": wall, "step_s": step_s, "outputs": outputs,
            "layers": dict(layers), "counts": counts,
        }


def retained_mb(spark) -> float:
    """JVM heap in use after a full GC plus this process's RSS."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = rt.totalMemory() - rt.freeMemory()
    with open("/proc/self/statm") as f:
        rss = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    return (heap + rss) / MB


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bigdata_spark", "__init__.py")):
        print(f"perfbench: no bigdata_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    units = metric_units()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        return _run(args, workload, units, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, workload, units, work: str, out_dir: str) -> int:
    end_to_end, per_layer = units
    conf = set_environment(work)

    t_gen = time.perf_counter()
    inp = workload.make_inputs(os.path.join(work, "inputs"), args.seed)
    gen_s = time.perf_counter() - t_gen

    from bigdata_spark.session import get_spark

    t_session = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t_session
    spark.sparkContext.setLogLevel("ERROR")
    ctx = dict(inp)
    ctx.update(workload.register(spark, inp))
    setup_s = time.perf_counter() - T_START - gen_s

    tracer = None
    if args.trace:
        from perfbench.status import Tracer

        tracer = Tracer(spark)
    run = Run(spark, workload, ctx, tracer)
    try:
        cold = run.run_pass()
        run.collect_garbage()
        warm_up = run.run_pass()
        run.collect_garbage()
        warm = []
        t_warm = time.perf_counter()
        while len(warm) < MIN_WARM_PASSES or time.perf_counter() - t_warm < args.seconds:
            elapsed = time.perf_counter() - T_START
            if warm and elapsed + warm[-1]["wall_s"] * 1.5 > RUN_DEADLINE_S:
                break
            warm.append(run.run_pass())
            run.collect_garbage()
        measured_s = time.perf_counter() - t_warm
        retained = retained_mb(spark)

        from perfbench.status import task_failures

        failures = task_failures(spark)
        passes = [cold, warm_up] + warm
        problems = []
        if run.failed == 0:
            try:
                problems = workload.check(ctx, run.state, [p["outputs"] for p in passes])
            except Exception:
                problems = [f"check raised: {traceback.format_exc(limit=5)}"]
        else:
            problems = [f"{run.failed} step(s) failed"]
    finally:
        stop_spark(spark)

    warm_walls = [p["wall_s"] for p in warm]
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": cold["wall_s"],
        "warm_pass_s": statistics.median(warm_walls),
        "retained_mb": retained,
    }
    layers = _layer_metrics(per_layer, cold, warm, session_s, tracer) if tracer else {}
    correct = run.failed == 0 and not problems
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "input_rows": inp["rows"],
        "gen_s": gen_s,
        "session_s": session_s,
        "warm_passes": len(warm),
        "measured_s": measured_s,
        "samples": {"cold_pass_s": cold["wall_s"], "warm_up_s": warm_up["wall_s"], "warm_pass_s": warm_walls},
        "step_s": [p["step_s"] for p in passes],
        "pass_layers": [p["layers"] for p in passes] if tracer else [],
        "end_to_end": e2e,
        "per_layer": layers,
        "counts": [p["counts"] for p in passes] if tracer else [],
        "attempted": run.attempted,
        "failed": run.failed,
        "task_failures": failures,
        "problems": problems,
        "errors": run.errors,
    }
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)

    for msg in problems + run.errors:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    print(
        f"{args.workload} seed={args.seed} passes=1 cold + 1 warm-up + {len(warm)} warm "
        f"({measured_s:.1f} s measured) attempted={run.attempted} failed={run.failed} "
        f"task_failures={failures} correct={correct}"
    )
    values, units = (layers, per_layer) if tracer else (e2e, end_to_end)
    print(f"  (warm figures are medians of n={len(warm)} warm passes; the others are single samples)")
    for name, unit in units.items():
        print(f"  {name} = {values[name]:.4f} {unit}")
    metrics = {name: {"value": values[name], "unit": u} for name, u in units.items()}
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _layer_metrics(names, cold: dict, warm: list[dict], session_s: float, tracer) -> dict:
    """Per-layer metrics: the median over warm passes of each pass's
    total, plus the cold-pass values of the layers that move the cold
    pass (plan building, Catalyst, Python worker start)."""
    out = {}
    for name in names:
        out[name] = statistics.median(p["layers"].get(name, 0.0) for p in warm)
    out["session.start_s"] = session_s
    out["plans.cold_build_s"] = cold["layers"].get("plans.build_s", 0.0)
    out["catalyst.cold_plan_ms"] = cold["layers"].get("catalyst.plan_ms", 0.0)
    out["py.cold_boot_s"] = cold["layers"].get("py.boot_s", 0.0)
    out["trace.read_s"] = tracer.read_s / (2 + len(warm))
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
