"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload tag_rollup --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates (or reuses) the seeded inputs,
launches Spark on local[<cores>], sets up the workload three times
(fresh SparkSession + preparation + one warm operation each; the first
also pays JIT and Python-worker start-up; ``setup_s`` is the median of
their CPU seconds), then runs the workload as a closed loop from one
client thread for ``--seconds``. Every operation's output is checked
against answers computed independently of the library.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics instead: it measures untraced operations, then traced
ones (spans around each library call plus a Spark event log), and
reports the difference as the tracing overhead.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
when every output was correct, 1 on a wrong answer or failed operation,
and 2 when the run cannot start (e.g. no library in the working
directory).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import session  # noqa: E402
import tracing  # noqa: E402
from stats import quartiles  # noqa: E402

SETUP_REPS = 3
WORK_DIR = ".perfbench"

# name -> unit; mirrored by BENCHMARK.json (tests keep the two in sync)
# Times are CPU seconds (set-up: session start to the end of the warm
# operation; op: one operation). Wall-clock set-up and throughput
# (setup_wall_s, items_per_s, the workloads' pages/s) are printed on "#"
# lines but not gated: on a shared VM the CPU time the hypervisor steals
# moves them by a quarter to a third from run to run.
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}

# Per-layer metrics of the traced run, measured on every page workload
# (the prefix probes run over the workload's own pages). Layer metrics
# particular to one workload (the spatial operators, the checkpoint stage
# times, the dedup/components/contamination layers) are printed as
# ``# name = value unit`` lines above the result.
_PROBED = ("sources.pages", "functions.native_encode", "operators.containment",
           "functions.exprs", "functions.udfs", "sources.pages.range_partition")
PER_LAYER = {
    "sources.pages.scan_s": "s",
    "functions.native_encode.encode_s": "s",
    "operators.containment.join_s": "s",
    "functions.exprs.rollup_s": "s",
    "functions.udfs.encode_s": "s",
    "sources.pages.range_partition_s": "s",
    **{f"{layer}.cpu_s": "s" for layer in _PROBED},
    **{f"{layer}.task_s_max_over_p50": "ratio" for layer in _PROBED},
    "sources.pages.rows_read_per_page": "ratio",
    "sources.pages.shuffle_bytes_per_page": "B/page",
    "kernels.encode_points_per_s": "1/s",
    "operators.covering.cover_s": "s",
    "operators.covering.cells_per_query": "count",
    "operators.containment.covering_build_s": "s",
    "plan.codegen_stages": "count",
    "plan.bytes": "B",
    "plans.checkpoint.files_written": "count",
    "plans.checkpoint.bytes_written_per_page": "B/page",
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}


def fail_to_start(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


class Run:
    """State of one benchmark run."""

    def __init__(self, args):
        from workloads import WORKLOADS

        self.args = args
        self.work = Path(WORK_DIR).resolve()
        for d in ("tmp", "spark-local", "warehouse"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        self.tracer = tracing.Tracer(enabled=False)
        self.wl = WORKLOADS[args.workload](
            args.seed, gen.InputCache(self.work / "cache"), self.work / "scratch", self.tracer)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.report: dict[str, tuple] = {}
        self.spark = None

    # -- operations ---------------------------------------------------------

    def attempt(self) -> float | None:
        """One checked operation; its wall time, or None if it failed.
        Its CPU time goes to ``self.op_cpu``."""
        self.attempted += 1
        try:
            cpu = session.tree_cpu_s()
            t = time.perf_counter()
            with self.tracer.span("op"):
                out = self.wl.op(self.spark)
            wall = time.perf_counter() - t
            self.op_cpu = session.tree_cpu_s() - cpu
            err = self.wl.check(out)
        except Exception:
            err = traceback.format_exc(limit=3)
        if err is None:
            return wall
        self.failed += 1
        self.errors.append(err)
        return None

    def loop(self, seconds: float, min_ops: int = 2) -> list[float]:
        walls = []
        self.cpus = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(walls) + self.failed < min_ops:
            w = self.attempt()
            if w is not None:
                walls.append(w)
                self.cpus.append(self.op_cpu)
            if self.failed and not walls and self.attempted >= min_ops:
                break
        return walls

    def follow_up(self) -> None:
        """The workload's checked after-loop step, counted as an attempt."""
        self.attempted += 1
        try:
            err = self.wl.after_loop(self.spark)
        except Exception:
            err = traceback.format_exc(limit=3)
        if err is not None:
            self.failed += 1
            self.errors.append(err)

    # -- session ------------------------------------------------------------

    def set_up(self) -> tuple[float, float]:
        """A fresh SparkSession (own SQL state, nothing cached) on the
        running context + preparation + one warm operation; (wall, CPU)
        seconds. The operation's output is checked outside both."""
        self.spark.catalog.clearCache()
        cpu = session.tree_cpu_s()
        t = time.perf_counter()
        self.spark = self.spark.newSession()
        self.wl.prepare(self.spark)
        wall = time.perf_counter() - t
        cpu = session.tree_cpu_s() - cpu
        op_wall = self.attempt()
        if op_wall is None:
            return float("nan"), float("nan")
        return wall + op_wall, cpu + self.op_cpu

    def launch(self, conf: dict) -> float:
        """(Re)start the Spark context and build any library-written
        inputs (untimed for set-up purposes; reported on its own)."""
        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        self.spark = session.start(conf)
        self.tracer.sc = self.spark.sparkContext
        self.wl.build_inputs(self.spark)
        return time.perf_counter() - t

    # -- modes --------------------------------------------------------------

    def end_to_end(self) -> dict:
        setup_walls, setups = zip(*(self.set_up() for _ in range(SETUP_REPS)))
        warm_attempts = self.attempted
        walls = self.loop(self.args.seconds)
        self.follow_up()
        if not walls:
            return {"setup_s": statistics.median(setups)}
        op_s = statistics.median(walls)
        q1, _, q3 = quartiles(walls)
        self.report = {
            "ops_measured": (float(len(walls)), "count"),
            "items_per_s": (self.wl.items_per_op() / op_s, "1/s"),
            "op_s_p50": (op_s, "s"),
            "op_s_q1": (q1, "s"),
            "op_s_q3": (q3, "s"),
            "op_s_all": (walls, "s"),
            "cpu_s_all": (self.cpus, "s"),
            "warm_ops": (float(warm_attempts), "count"),
            "setup_s_reps": (list(setups), "s"),
            "setup_wall_s": (statistics.median(setup_walls), "s"),
            "setup_wall_s_reps": (list(setup_walls), "s"),
            **self.wl.extra_report(walls),
        }
        return {
            "setup_s": statistics.median(setups),
            "cpu_s_per_op": statistics.median(self.cpus),
        }

    def traced(self) -> dict:
        half = max(1.0, self.args.seconds / 2)
        self.set_up()
        untraced = self.loop(half)
        self.tracer.enabled = True
        log_dir = self.work / "eventlog" / f"{os.getpid()}"
        self.launch(session.session_conf(self.work, event_log=log_dir))
        self.set_up()
        self.tracer.spans.clear()
        self.traced_walls = []
        t0 = time.perf_counter()
        n_ops = 0
        while time.perf_counter() - t0 < half or n_ops < 2:
            self.tracer.new_trace()
            w = self.attempt()
            n_ops += 1
            if w is not None:
                self.traced_walls.append(w)
        self.follow_up()
        op_spans = list(self.tracer.spans)
        self.tracer.new_trace()
        self.wl.probe(self.spark)
        self.spark.stop()
        self.spark = None
        self.tracer.dump(self.work / "spans" / f"{self.wl.name}-{self.args.seed}.jsonl")
        log = tracing.parse_event_log(sorted(log_dir.glob("*")))
        counters = tracing.by_layer(log, self.tracer.layer_of())
        self_s = tracing.layer_self_s(op_spans)
        counters["_self_s"] = self_s
        measured, extra = self.wl.layer_metrics(counters, n_ops)
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update(measured)
        u = statistics.median(untraced) if untraced else float("nan")
        t = statistics.median(self.traced_walls) if self.traced_walls else float("nan")
        metrics["trace.overhead_s"] = t - u
        metrics["trace.overhead_ratio"] = (t - u) / u if u else float("nan")
        self.report = {"untraced_op_s_p50": (u, "s"), "traced_op_s_p50": (t, "s"), **extra}
        self.report.update({f"{layer}.self_s": (v / n_ops, "s") for layer, v in sorted(self_s.items())})
        return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "s2cell_spark" / "__init__.py").is_file():
        fail_to_start("run from the repository root: s2cell_spark/ is missing here")
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail_to_start(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    # Python workers import the library from the checkout; every scratch
    # file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(1, str(root))
    os.environ["TMPDIR"] = str((root / WORK_DIR / "tmp").resolve())
    # the environment would override spark.local.dir; keep shuffle files here
    os.environ["SPARK_LOCAL_DIRS"] = str((root / WORK_DIR / "spark-local").resolve())
    import tempfile

    tempfile.tempdir = None

    run = Run(args)
    t = time.perf_counter()
    run.wl.generate()
    gen_s = time.perf_counter() - t
    with session.RssSampler() as rss:
        try:
            launch_s = run.launch(session.session_conf(run.work))
            metrics = run.traced() if args.trace else run.end_to_end()
        finally:
            session.shutdown(run.spark)
    if not args.trace:
        metrics["peak_rss_mb"] = rss.peak_mb
        run.report["peak_rss_jvm_mb"] = (rss.peak_jvm_mb, "MB")
        run.report["peak_rss_processes"] = (float(rss.peak_procs), "count")

    names = PER_LAYER if args.trace else END_TO_END
    correct = run.failed == 0
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"# session config: {json.dumps(session.session_conf(Path(WORK_DIR)))}")
    print(f"# input generation (cached) {gen_s:.3f} s; JVM launch + library-built inputs {launch_s:.3f} s")
    extra = dict(run.report)
    extra["error_rate"] = (run.failed / max(1, run.attempted), "ratio")
    for k, (v, unit) in extra.items():
        print(f"# {k} = {v} {unit}")
    for e in run.errors[:5]:
        print(f"# ERROR: {e}")
    result = {
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics.get(k), "unit": u} for k, u in names.items()},
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
