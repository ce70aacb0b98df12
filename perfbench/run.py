"""Benchmark of the database_importer_spark engine on local[nproc].

    python3 perfbench/run.py --workload table_rw|analytics --seed N \\
        --seconds S --trace 0|1 [--negative-control]

One client drives one workload in a closed loop for S seconds after its
set-up. The inputs come from the seed; every result is checked. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer ones). The line before it is a report with the host, the
corpus fingerprint and per-operation detail. The exit code is 0 only when
every check passed. ``--negative-control`` applies a deliberately wrong
expected value, which must make the run fail.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("table_rw", "analytics")
# Layers whose self time a traced run reports per measured step.
STEP_LAYERS = (
    "plans.build", "loader.load", "merge.init", "merge.validate", "merge.plan",
    "snapshot_table.prewrite", "snapshot_table.write", "snapshot_table.resolve",
    "snapshot_table.read", "spark.build", "spark.plan", "spark.run",
)


class Op:
    def __init__(self, op_id: str, name: str):
        self.id, self.name, self.wall = op_id, name, None


class Run:
    """What a workload sees: the session, its inputs, and the hooks that
    time operations, exclude the benchmark's own input preparation from
    set-up time, and record correctness checks."""

    def __init__(self, args, spark, run_dir, corpus_dir, tracer):
        self.spark, self.run_dir, self.corpus_dir = spark, run_dir, corpus_dir
        self.seed, self.seconds = args.seed, args.seconds
        self.negative_control = args.negative_control
        self.tracer = tracer
        self.ops: list[Op] = []
        self.samples: list[tuple[str, float]] = []
        self.measured: set[str] = set()
        self.failures: list[str] = []
        self.checks = 0
        self.prep_s = 0.0
        self.setup_s = None
        self.rss_mb = self.ticks = self.steal_share = None

    @contextmanager
    def prep(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.prep_s += time.perf_counter() - t0

    @contextmanager
    def op(self, name: str, timed: bool = True):
        op = Op(f"{len(self.ops)}:{name}", name)
        if self.tracer is not None:
            self.tracer.op = op.id
            self.spark.sparkContext.setJobGroup(op.id, name)
        t0 = time.perf_counter()
        try:
            yield op
        finally:
            op.wall = time.perf_counter() - t0
            self.ops.append(op)
            if timed:
                self.samples.append((name, op.wall))
                self.measured.add(op.id)
            if self.tracer is not None:
                self.tracer.op = None

    def span(self, name: str):
        """A span of the traced run; nothing in an untraced one."""
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_START - self.prep_s
        self.ticks = harness.cpu_ticks()

    def measured_done(self) -> None:
        self.rss_mb = harness.peak_rss_mb()
        stolen, total = (b - a for a, b in zip(self.ticks, harness.cpu_ticks()))
        self.steal_share = stolen / max(total, 1)

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)


def layer_metrics(run: Run, out: dict, session_s: float, log_dir: str) -> dict:
    """Per-layer metrics of a traced run. Times are self times and counts
    are totals, both per measured step; session start and layout builds
    are set-up work, reported as totals over the whole run."""
    from perfbench.trace import EVENT_COUNTERS, read_event_log

    tracer, steps = run.tracer, len(out["step_s"])
    measured = run.measured
    self_s = tracer.self_times(measured)
    every = tracer.self_times({op.id for op in run.ops})
    events = read_event_log(log_dir)
    spark = dict.fromkeys(EVENT_COUNTERS, 0.0)
    for op_id in measured:
        for k, v in events.get(op_id, {}).items():
            spark[k] += v
    wall = sum(op.wall for op in run.ops if op.id in measured)
    covered = sum(tracer.coverage(op.id, op.wall) * op.wall for op in run.ops if op.id in measured)
    m = {
        "session.start_s": session_s,
        "partitioning.layout_build_s": every.get("partitioning.layout_build", 0.0),
    }
    for layer in STEP_LAYERS:
        m[f"{layer}_s"] = self_s.get(layer, 0.0) / steps
    m["spark.busy_ratio"] = spark["task_s"] / (wall * harness.CPUS)
    m["trace.uncovered_s"] = (wall - covered) / steps
    for k in EVENT_COUNTERS:
        m[f"spark.{k}"] = spark[k] / steps
    m.update(out["layer_counts"])
    return m


def measure(args, run_dir: str) -> int:
    from perfbench import corpus

    t0 = time.perf_counter()
    wh = os.path.join(harness.WORK, "warehouse")
    cold = not (os.path.isdir(wh) and any(n.startswith("dbis_") for n in os.listdir(wh)))
    corpus_dir, manifest = corpus.ensure(harness.WORK)
    corpus.verify(corpus_dir, manifest)
    prep_s = time.perf_counter() - t0

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install()
    from database_importer_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(args, spark, run_dir, corpus_dir, tracer)
        run.prep_s = prep_s
        if args.workload == "table_rw":
            from perfbench import table_rw as workload
        else:
            from perfbench import analytics as workload
        try:
            out = workload.run(run)
        except Exception:
            traceback.print_exc()
            run.failures.append("an operation raised")
            out = None
        host = harness.host_facts(spark, args.seed, corpus_dir)
    finally:
        spark.stop()
        harness.stop_jvm()

    attempted = len(run.ops) + run.checks
    failed = len(run.failures)
    if out is None or not out["step_s"]:
        print(json.dumps({"correct": False, "attempted": max(attempted, 1),
                          "failed": max(failed, 1), "metrics": {}}))
        return 1
    e2e = {
        "setup_s": run.setup_s,
        "step_s": statistics.median(out["step_s"]),
        "read_s.p50": statistics.median(out["read_s"]),
    }
    report = {
        "workload": args.workload,
        "host": host,
        "corpus": manifest,
        "start_state": {"layouts": "cold" if cold else "warm"},
        "end_to_end": e2e,
        "failed_ratio": failed / attempted,
        "steps_s": out["step_s"],
        "peak_rss_mb_by_process": run.rss_mb,
        "cpu_steal_share": run.steal_share,
        **out["detail"],
    }
    if args.trace:
        report["per_layer"] = layer_metrics(
            run, out, session_s, os.path.join(run_dir, "eventlog")
        )
    # The metrics are exactly those BENCHMARK.json declares, with its
    # units; a layer this workload never enters reads 0.
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        values = dict.fromkeys((m["name"] for m in declared), 0.0)
        values.update(report["per_layer"])
    else:
        values = e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--negative-control", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(harness.PACKAGE):
        print(f"no program to benchmark: {harness.PACKAGE} is missing", file=sys.stderr)
        return 2
    run_dir = harness.prepare_process(bool(args.trace))
    try:
        return measure(args, run_dir)
    finally:
        harness.cleanup(run_dir)


if __name__ == "__main__":
    sys.exit(main())
