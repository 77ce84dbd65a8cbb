"""Benchmark of the drift/validation engine: seeded workloads, checked
outputs, end-to-end metrics, and a traced run for per-layer metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Load is a closed loop from one process: one
op at a time in a ``local[4]`` session. A run generates (or reuses) the
seeded inputs, starts the session and sets the workload up (``setup_s``),
then repeats the op until ``--seconds`` have passed. The first op is the
first in its session, so like a batch job it pays the engine's first-use
costs: plan code generation, JIT compilation, Python worker start. The
output references are built after the ops, and every op's output is
checked against them.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (the Spark UI REST
API is enabled only then). A record of each run, with the input generation
time, the regime record and the host contention before and after, is
written under ``.perfbench_work/results/``; a traced run also writes its
spans and per-call counters under ``.perfbench_work/trace/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import threading
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4

# Generated input sizes; the drift and text workloads read fixed sf0.1 rows.
SIZES = {
    "full": {"token_rows": 20_000},
    "tiny": {"token_rows": 2_000},  # the self-test's size
}

UNITS = {
    "op_wall_s": "s", "rows_per_s": "rows/s", "cpu_s_per_op": "s",
    "driver_peak_rss_mb": "MB", "setup_s": "s",
}

# Per-layer metrics. Layer times are timed around public calls or read
# from attributes the engine sets; a layer a workload does not run reads 0.
LAYER_TIMES = (
    "validation.run_s", "validation.violations_job_s",
    "validation.ntok_sketch_job_s", "validation.token_hist_job_s",
    "validation.pool_s", "validation.commit_s", "validation.readback_s",
    "drift.collect.psi_s", "drift.collect.ks_s", "drift.collect.w1_s",
    "drift.overcap.psi_s", "drift.overcap.ks_s", "drift.overcap.w1_s",
    "drift.ad_s",
    "spans.span_dedup_s", "lm.perplexity_s", "bpe.encode_s",
    "corpus_pipeline.prep_s",
)
CALLS = (
    "validation.run",
    "drift.collect.psi", "drift.collect.ks", "drift.collect.w1",
    "drift.overcap.psi", "drift.overcap.ks", "drift.overcap.w1", "drift.ad",
    "spans.span_dedup", "lm.perplexity", "bpe.encode", "corpus_pipeline.prep",
)
COUNTER_UNITS = {
    "jobs": "count", "shuffle_write_mb": "MB", "executor_cpu_s": "s",
    "task_skew": "ratio", "driver_s": "s",
}
RUN_WIDE = {"spark.failed_tasks": "count", "op.call_coverage": "ratio", "trace.op_wall_s": "s"}


def per_layer_units() -> dict[str, str]:
    units = {n: "s" for n in LAYER_TIMES}
    for c in CALLS:
        for k, u in COUNTER_UNITS.items():
            units[f"{c}.{k}"] = u
    units.update(RUN_WIDE)
    return units


# -- process accounting ------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds incl. reaped children) for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        f = s[s.rfind(")") + 2:].split()
        out[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]) / _CLK)
    return out


def _descendants(table: dict, root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        p = todo.pop()
        seen.add(p)
        todo.extend(kids.get(p, []))
    return seen


def tree_cpu() -> dict[int, float]:
    """CPU seconds of this process and every descendant: the JVM, the
    Python driver and the Python workers."""
    table = _proc_table()
    return {p: table[p][1] for p in _descendants(table, os.getpid()) if p in table}


def cpu_delta(before: dict, after: dict) -> float:
    return sum(v - before.get(p, 0.0) for p, v in after.items())


class RssPeak:
    """Samples this process's resident set while open; ``peak_mb`` is the max."""

    def __init__(self, every: float = 0.02) -> None:
        self.every, self.peak = every, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        with open("/proc/self/statm") as fh:
            self.peak = max(self.peak, int(fh.read().split()[1]) * _PAGE)

    def _run(self) -> None:
        while not self._stop.wait(self.every):
            self._sample()

    def __enter__(self) -> "RssPeak":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


# -- session -----------------------------------------------------------------

def prepare_env() -> None:
    """Keep every file the run writes inside the work directory, and let
    the Python workers import the engine from the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None


def start_session(trace: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        )
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        # the frozen bench's engine settings
        .config("spark.sql.shuffle.partitions", str(CORES * 2))
        .config("spark.default.parallelism", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if trace else "false")
    )
    if trace:
        b = (
            b.config("spark.ui.port", "0")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        table = _proc_table()
        alive = _descendants(table, os.getpid()) - {os.getpid()}
        if not alive:
            return
        if time.monotonic() > deadline - 5:
            for p in alive:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
        time.sleep(0.2)


# -- the run -----------------------------------------------------------------

def run(args) -> dict:
    import workloads as W
    from tracing import Tracer, failed_tasks, fetch_spark_metrics, per_call_medians

    from bench import contention_snapshot

    record: dict = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "contention_before": contention_snapshot(),
    }
    t = time.monotonic()
    wl = W.WORKLOADS[args.workload](WORK, args.seed, SIZES[args.scale])
    record["input_generation_s"] = time.monotonic() - t

    tracer = Tracer()
    walls_of_call: dict[str, float] = {}
    state = {"op": 0}

    def call(name, fn):
        with tracer.span(name, state["op"], parent="op"):
            t0 = time.monotonic()
            out = fn()
            wall = time.monotonic() - t0
        walls_of_call[name] = wall
        return out, wall

    def one_op(op_id: int):
        state["op"] = op_id
        walls_of_call.clear()
        wl.reset()
        # start every op from a collected heap on both sides of the gateway
        spark.sparkContext._jvm.System.gc()
        gc.collect()
        cpu0 = tree_cpu()
        with tracer.span("op", op_id) as span:
            t0 = time.monotonic()
            layers, output = wl.op(call)
            wall = time.monotonic() - t0
        span["calls_s"] = sum(walls_of_call.values())
        return wall, cpu_delta(cpu0, tree_cpu()), layers, output

    t = time.monotonic()
    spark = start_session(bool(args.trace))
    try:
        record["regime"] = wl.start(spark)
        record["setup_s"] = time.monotonic() - t

        walls, cpus, layer_rows, errors, ops, outputs, call_walls = [], [], [], [], [], [], []
        with RssPeak() as rss:
            t_end = time.monotonic() + args.seconds
            op_id = 0
            while not ops or time.monotonic() < t_end:
                op_id += 1
                ops.append(op_id)
                try:
                    wall, cpu, layers, output = one_op(op_id)
                except W.RegimeError:
                    raise
                except Exception as e:  # a failed op counts against the run
                    errors.append(f"op {op_id}: {type(e).__name__}: {e}")
                    traceback.print_exc(file=sys.stderr)
                    continue
                walls.append(wall)
                cpus.append(cpu)
                layer_rows.append(layers)
                outputs.append((op_id, output))
                call_walls.append(dict(walls_of_call))
        # The references are built after the ops, so that no Spark job of
        # their own runs before the first op of the session.
        t = time.monotonic()
        record["reference"] = wl.reference()
        record["reference_s"] = time.monotonic() - t
        for o, output in outputs:
            try:
                wl.check(output)
            except W.CheckFailed as e:
                errors.append(f"op {o}: {e}")
        record["errors"] = errors
        record["op_walls_s"] = walls
        record["call_walls_s"] = call_walls
        result = {"correct": not errors, "attempted": len(ops), "failed": len(errors)}
        op_wall = median(walls) if walls else float("nan")
        if not args.trace:
            metrics = {
                "op_wall_s": op_wall,
                "rows_per_s": wl.rows / op_wall,
                "cpu_s_per_op": median(cpus) if cpus else float("nan"),
                "driver_peak_rss_mb": rss.peak_mb,
                "setup_s": record["setup_s"],
            }
            units = UNITS
        else:
            units = per_layer_units()
            metrics = {n: 0.0 for n in units}
            for n in LAYER_TIMES:
                vals = [row[n] for row in layer_rows if n in row]
                if vals:
                    metrics[n] = median(vals)
            jobs, stages = fetch_spark_metrics(spark)
            good = [o for o in ops if not any(e.startswith(f"op {o}:") for e in errors)]
            metrics.update(per_call_medians(tracer.spans, good, jobs, stages))
            metrics["spark.failed_tasks"] = failed_tasks(stages)
            op_spans = [s for s in tracer.spans if s["parent"] is None and s["op"] in good]
            if op_spans:
                metrics["op.call_coverage"] = median(
                    s["calls_s"] / (s["end"] - s["start"]) for s in op_spans
                )
            metrics["trace.op_wall_s"] = op_wall
            record["tracing_overhead_s"] = _tracing_overhead(args, op_wall)
            _write(
                os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json"),
                {"spans": tracer.spans, "metrics": metrics,
                 "tracing_overhead_s": record["tracing_overhead_s"]},
            )
        result["metrics"] = {
            n: {"value": float(metrics[n]), "unit": units[n]} for n in units
        }
    finally:
        record["contention_after"] = contention_snapshot()
        stop_session(spark)
    record["result"] = result
    _write(
        os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
        record,
    )
    return result


def _tracing_overhead(args, traced_wall: float) -> float | None:
    """Traced minus untraced ``op_wall_s``, against the untraced run of the
    same workload and seed when one was made in this checkout."""
    path = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace0.json")
    try:
        with open(path) as fh:
            untraced = json.load(fh)["result"]["metrics"]["op_wall_s"]["value"]
    except (OSError, KeyError, ValueError):
        return None
    return traced_wall - untraced


def _write(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, default=str)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full")
    args = ap.parse_args()

    prepare_env()
    sys.path.insert(0, ROOT)
    try:
        import aumos_drift_detector_spark  # noqa: F401
        import bench  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except workloads.RegimeError as e:
        print(f"perfbench: regime guard failed: {e}", file=sys.stderr)
        return 3
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
