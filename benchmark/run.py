"""Run one benchmark workload and print its metrics as one JSON line.

    python3 benchmark/run.py --workload databio_sql --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout: the package under test is imported
from ``sequila_native_spark/`` next to this directory, never from an
installed copy, and the run exits non-zero without a result when it is
missing. Each invocation is one workload in a fresh process on ``local[4]``:
set up (session, seeded inputs, views, warm-up ops), then a closed loop with
one client issuing ops for ``--seconds``, every op checked against the numpy
oracle. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and untraced ops and prints the per-layer metrics, and writes the
spans to ``.bench_work/traces/``. See ``WORKLOADS.md``.
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
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
CORES = 4
DRIVER_MEMORY = "4g"

# (name, unit, better)
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("op_s_p50", "s", "lower"),
    ("rows_per_s", "1/s", "higher"),
    ("driver_peak_rss_mb", "MB", "lower"),
)

_OPERATOR_LAYERS = ("count_overlaps", "coverage", "nearest_join")
PER_LAYER = (
    ("sql.plan_s", "s", "lower"),
    ("interval_join.plan_s", "s", "lower"),
    ("interval_join.plan_jobs", "count", "lower"),
    ("interval_join.exec_s", "s", "lower"),
    ("interval_join.build_rows", "count", "lower"),
    ("interval_join.build_s", "s", "lower"),
    ("interval_join.probe_rows", "count", "lower"),
    ("interval_join.probe_batches", "count", "lower"),
    ("interval_join.output_rows", "count", "higher"),
    ("interval_join.output_per_probe_row", "ratio", "higher"),
    *(
        (f"{layer}.{m}", unit, "lower")
        for layer in _OPERATOR_LAYERS
        for m, unit in (("plan_s", "s"), ("plan_jobs", "count"), ("exec_s", "s"))
    ),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.task_busy_s", "s", "lower"),
    ("spark.core_util", "ratio", "higher"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("jvm_peak_rss_mb", "MB", "lower"),
    ("trace.span_coverage", "ratio", "higher"),
    ("trace.overhead_s", "s", "lower"),
)


def parse_args(argv):
    from benchmark.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file Spark and the Python workers write inside ``work``,
    and put the package on the workers' ``PYTHONPATH``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    # the launcher JVM that spark-submit runs first: no /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(work: Path, name: str):
    from pyspark.sql import SparkSession

    import sequila_native_spark as sq

    java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work} -XX:-UsePerfData"
    builder = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName(f"sequila-bench-{name}")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
    )
    spark = sq.sequila_session(builder.getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark, sq


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway JVM's stdin and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(pid="self") -> float:
    """VmHWM (peak resident set) of process ``pid``, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM not found for process {pid}")


def reset_peak_rss() -> None:
    """Lower this process's VmHWM to its current RSS, so the peak read at the
    end covers only what runs after this call, not the set-up's arrays."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def run_op(workload, spark, sq, tracer, op: str):
    """Run one op; returns ``(ok, wall_seconds, calls)``. A raised exception
    or an oracle mismatch fails the op and never aborts the run."""
    calls = workload.calls(spark, sq)
    t0 = time.perf_counter()
    ok = _attempt(op, lambda: _traced_calls(tracer, op, calls))
    wall = time.perf_counter() - t0
    if tracer.enabled:
        # after the op's span has closed, so the listener wait is not timed
        ok = _attempt(op, lambda: tracer.collect_counters(op)) and ok
    sq.drop_stale_persisted(spark)
    return ok, wall, calls


def _traced_calls(tracer, op: str, calls) -> None:
    with tracer.span(op, "op"):
        for c in calls:
            with tracer.span(op, f"{c.layer}.plan", job_group=True):
                df = c.plan()
            with tracer.span(op, f"{c.layer}.exec", job_group=True):
                res = c.execute(df)
            with tracer.span(op, f"{c.layer}.check"):
                c.check(res)


def _attempt(op: str, fn) -> bool:
    """Run ``fn``; an exception is reported and fails the op, never the run."""
    try:
        fn()
        return True
    except Exception:
        print(f"op {op} failed:\n{traceback.format_exc()}", file=sys.stderr)
        return False


def op_layer_values(tracer, op: str, wall: float, calls) -> dict:
    """Per-layer numbers of one traced, successful op."""
    from benchmark.spans import SPARK_COUNTERS

    spans = {s.name: s for s in tracer.op_spans(op)}
    d: dict = defaultdict(float)
    for c in calls:
        plan, execute = spans[f"{c.layer}.plan"], spans[f"{c.layer}.exec"]
        d[f"{c.layer}.plan_s"] += plan.seconds
        d[f"{c.layer}.exec_s"] += execute.seconds
        d[f"{c.layer}.plan_jobs"] += plan.counters["jobs"]
        for k in SPARK_COUNTERS:
            d[f"spark.{k}"] += plan.counters[k] + execute.counters[k]
        if c.metrics is not None:
            m = c.metrics.as_dict()
            d["interval_join.build_rows"] += m["build_input_rows"]
            d["interval_join.build_s"] += m["build_time_s"]
            d["interval_join.probe_rows"] += m["probe_input_rows"]
            d["interval_join.probe_batches"] += m["probe_batches"]
            d["interval_join.output_rows"] += m["output_rows"]
    if d["interval_join.probe_rows"]:
        d["interval_join.output_per_probe_row"] = (
            d["interval_join.output_rows"] / d["interval_join.probe_rows"]
        )
    d["spark.core_util"] = d["spark.task_busy_s"] / (wall * CORES)
    op_span = spans["op"]
    d["trace.span_coverage"] = 1 - tracer.self_seconds(op_span) / op_span.seconds
    return d


def layer_metrics(tracer, traced, untraced_walls) -> dict:
    """Median over traced ops of each per-layer number; span coverage is the
    worst op's, and the tracing overhead compares traced with untraced ops."""
    per_op = [op_layer_values(tracer, op, wall, calls) for op, wall, calls in traced]
    out = {
        name: statistics.median([d.get(name, 0.0) for d in per_op]) if per_op else 0.0
        for name, _, _ in PER_LAYER
    }
    out["trace.span_coverage"] = min((d["trace.span_coverage"] for d in per_op), default=0.0)
    if traced and untraced_walls:
        out["trace.overhead_s"] = (
            statistics.median(w for _, w, _ in traced) - statistics.median(untraced_walls)
        )
    return out


def main(argv=None) -> int:
    if not (ROOT / "sequila_native_spark" / "__init__.py").is_file():
        print(f"sequila_native_spark/ not found under {ROOT}", file=sys.stderr)
        return 2
    # import the benchmark as a package from the checkout root, not its
    # modules from this script's directory
    here = ROOT / "benchmark"
    sys.path[:] = [str(ROOT), *(p for p in sys.path if Path(p or ".").resolve() != here)]
    args = parse_args(argv)

    from benchmark.spans import Tracer
    from benchmark.workloads import WORKLOADS

    run_dir = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    trace_dir = ROOT / ".bench_work" / "traces"
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)

    workload = WORKLOADS[args.workload](args.seed)
    spark, sq = start_session(run_dir, args.workload)
    session_s = time.perf_counter() - T_START
    tracer = Tracer(spark, enabled=False)  # set-up and warm-up ops run untraced
    tracer.record("setup", "setup.session", T_START, T_START + session_s)
    attempted = failed = 0
    try:
        # Set-up: inputs and views, then the warm-up ops. setup_s is the wall
        # time from process start to the first timed op.
        t0 = time.perf_counter()
        workload.generate(str(run_dir / "data"))
        workload.register(spark, str(run_dir / "data"))
        inputs_s = time.perf_counter() - t0
        tracer.record("setup", "setup.inputs", t0, t0 + inputs_s)
        t0 = time.perf_counter()
        warmup_walls = []
        for r in range(workload.warmup_ops):
            ok, wall, _ = run_op(workload, spark, sq, tracer, f"warmup-{r}")
            attempted, failed = attempted + 1, failed + (not ok)
            warmup_walls.append(wall)
        gc.collect()
        reset_peak_rss()
        warmup_s = time.perf_counter() - t0
        tracer.record("setup", "setup.warmup", t0, t0 + warmup_s)
        setup_s = time.perf_counter() - T_START

        walls, rows_in = [], []
        traced, untraced_walls = [], []
        deadline = time.perf_counter() + args.seconds
        i = 0
        while i == 0 or time.perf_counter() < deadline:
            tracer.enabled = bool(args.trace) and i % 2 == 0
            op = f"op-{i}"
            ok, wall, calls = run_op(workload, spark, sq, tracer, op)
            attempted, failed = attempted + 1, failed + (not ok)
            walls.append(wall)
            rows_in.append(sum(c.rows_in for c in calls))
            if ok and tracer.enabled:
                traced.append((op, wall, calls))
            elif ok and args.trace:
                untraced_walls.append(wall)
            i += 1

        p50 = statistics.median(walls)
        if args.trace:
            values = layer_metrics(tracer, traced, untraced_walls)
            values["jvm_peak_rss_mb"] = peak_rss_mb(
                spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            )
            units = PER_LAYER
            trace_dir.mkdir(parents=True, exist_ok=True)
            tracer.dump(str(trace_dir / f"{args.workload}-seed{args.seed}.json"))
        else:
            values = {
                "setup_s": setup_s,
                "op_s_p50": p50,
                "rows_per_s": statistics.median(rows_in) / p50,
                "driver_peak_rss_mb": peak_rss_mb(),
            }
            units = END_TO_END
        print(
            json.dumps({
                "workload": args.workload, "seed": args.seed, "ops": len(walls),
                "op_s": [round(w, 4) for w in walls],
                "warmup_op_s": [round(w, 4) for w in warmup_walls], "inputs_s": inputs_s, "warmup_s": warmup_s,
                "session_s": session_s,
            }),
            file=sys.stderr,
        )
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit, _ in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
