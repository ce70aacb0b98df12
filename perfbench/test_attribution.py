"""Self-tests of the benchmark's attribution and correctness gate.

    python3 -m pytest perfbench -q -p no:cacheprovider

They run the real workloads, shortened, on one local Spark session.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

SLEEP_S = 1.0


@pytest.fixture(scope="module")
def env():
    run_dir = harness.prepare_process(trace=False)
    from perfbench import corpus

    corpus_dir, _ = corpus.ensure(harness.WORK)
    from database_importer_spark import get_spark

    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    yield SimpleNamespace(spark=spark, run_dir=run_dir, corpus_dir=corpus_dir)
    spark.stop()
    harness.stop_jvm()
    harness.cleanup(run_dir)


def _run(env, workload, name, seconds, tracer=None, negative_control=False):
    from perfbench.run import Run

    run_dir = os.path.join(env.run_dir, name)
    os.makedirs(run_dir)
    args = SimpleNamespace(seed=7, seconds=seconds, negative_control=negative_control)
    run = Run(args, env.spark, run_dir, env.corpus_dir, tracer)
    out = workload.run(run)
    return run, out


def _per_merge(run, tracer):
    merges = [op for op in run.ops if op.id in run.measured and op.name == "merge"]
    layers = tracer.self_times({op.id for op in merges})
    return (
        statistics.median(op.wall for op in merges),
        {k: v / len(merges) for k, v in layers.items()},
    )


def test_injected_sleep_lands_in_its_layer_only(env):
    from database_importer_spark.operators.merge import Merger
    from perfbench import table_rw
    from perfbench.trace import Tracer

    validate = Merger.validate_unique_keys

    def slow_validate(self):
        time.sleep(SLEEP_S)
        return validate(self)

    results = {}
    for name, impl in (("plain", validate), ("slow", slow_validate)):
        Merger.validate_unique_keys = impl
        tracer = Tracer()
        tracer.install()
        try:
            run, _ = _run(env, table_rw, name, seconds=6, tracer=tracer)
        finally:
            tracer.uninstall()
            Merger.validate_unique_keys = validate
        assert not run.failures
        results[name] = _per_merge(run, tracer)
        for op in run.ops:
            if op.id in run.measured:
                assert tracer.coverage(op.id, op.wall) > 0.9, op.name

    (wall0, layers0), (wall1, layers1) = results["plain"], results["slow"]
    grew = layers1["merge.validate"] - layers0["merge.validate"]
    assert abs(grew - SLEEP_S) < 0.2 * SLEEP_S
    assert abs(wall1 - wall0 - SLEEP_S) < 0.4 * SLEEP_S
    for layer in set(layers0) | set(layers1):
        if layer != "merge.validate":
            assert abs(layers1.get(layer, 0) - layers0.get(layer, 0)) < 0.3 * SLEEP_S, layer


def test_analytics_spans_cover_each_query(env, monkeypatch):
    from perfbench import analytics
    from perfbench.trace import Tracer

    monkeypatch.setattr(
        analytics, "MIX", ["tpch_q6_forecast_revenue", "join_broadcast_hash", "llm_fingerprint"]
    )
    tracer = Tracer()
    tracer.install()
    try:
        run, out = _run(env, analytics, "mix", seconds=1, tracer=tracer)
    finally:
        tracer.uninstall()
    assert not run.failures and out["step_s"]
    for op in run.ops:
        assert tracer.coverage(op.id, op.wall) > 0.9, op.name


@pytest.mark.parametrize("workload", ["table_rw", "analytics"])
def test_negative_control_trips_the_gate(env, monkeypatch, workload):
    from perfbench import analytics, table_rw

    monkeypatch.setattr(analytics, "MIX", ["tpch_q6_forecast_revenue"])
    module = {"table_rw": table_rw, "analytics": analytics}[workload]
    run, _ = _run(env, module, f"neg_{workload}", seconds=1, negative_control=True)
    assert run.failures


@pytest.mark.parametrize("workload", ["table_rw", "analytics"])
def test_traced_command_prints_every_declared_layer_metric(workload):
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=harness.ROOT, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    result = json.loads(done.stdout.strip().splitlines()[-1])
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"] for m in json.load(f)["per_layer"]}
    assert result["correct"] and set(result["metrics"]) == declared
