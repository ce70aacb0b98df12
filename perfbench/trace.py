"""Per-layer attribution for a traced run.

Spans are recorded from the benchmark's side of each layer boundary: the
program's public functions are wrapped in place for the traced run, so
the program itself carries no tracing code. Spark's own event log, read
offline after the session stops, supplies the execution-side counts; a
per-operation job group ties its jobs, stages and tasks to the operation
that caused them.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

_PKG = "database_importer_spark"
_PART = f"{_PKG}.operators.partitioning"
_SNAP = f"{_PKG}.operators.snapshot_table"
_MERGE = f"{_PKG}.operators.merge"
# (module, attribute, layer). Functions are replaced in every package
# module that holds a reference, so calls between program modules are
# traced too; methods are replaced on their class. A commit's own layer
# is ``snapshot_table.write``: its self time is the commit minus the
# prewrite (and the layers the prewrite calls).
FUNCTIONS = [
    (f"{_PKG}.sources.loader", "load_table", "loader.load"),
    (_PART, "ensure_bucketed_layout", "partitioning.layout_build"),
    (_PART, "ensure_partitioned_layout", "partitioning.layout_build"),
    (_SNAP, "merge_snapshot_commit", "snapshot_table.write"),
    (_SNAP, "merge_snapshot_prewrite", "snapshot_table.prewrite"),
    (_SNAP, "snapshot_files", "snapshot_table.resolve"),
    (_SNAP, "snapshot_files_keyrange", "snapshot_table.resolve"),
    (_SNAP, "read_snapshot", "snapshot_table.read"),
    (_SNAP, "read_snapshot_keyrange", "snapshot_table.read"),
]
METHODS = [
    (_MERGE, "Merger", "__init__", "merge.init"),
    (_MERGE, "Merger", "validate_unique_keys", "merge.validate"),
    (_MERGE, "Merger", "merged", "merge.plan"),
]


class Tracer:
    """In-memory spans. Each span has a layer name, the operation it
    belongs to, its start and end, and the span that caused it."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[dict] = []
        self._restore: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "op": self.op,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "child_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if rec["parent"] is not None:
                rec["parent"]["child_s"] += rec["end"] - rec["start"]

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for mod_name, attr, layer in FUNCTIONS:
            orig = getattr(importlib.import_module(mod_name), attr)
            traced = self.wrap(layer, orig)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith(_PKG):
                    continue
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, traced)
                        self._restore.append((mod, k, orig))
        for mod_name, cls_name, attr, layer in METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            orig = cls.__dict__[attr]
            setattr(cls, attr, self.wrap(layer, orig))
            self._restore.append((cls, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def self_times(self, ops: set[str]) -> dict[str, float]:
        """Seconds per layer, each span's duration minus its children's,
        summed over the spans of ``ops``."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["op"] in ops and s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - s["child_s"]
        return dict(out)

    def coverage(self, op: str, wall_s: float) -> float:
        """Share of an operation's wall clock that its root spans cover."""
        covered = sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["op"] == op and s["parent"] is None and s["end"] is not None
        )
        return covered / wall_s


PYTHON_ACCUMULATORS = {
    "data sent to Python workers",
    "data returned from Python workers",
}
EVENT_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_wait_s", "task_s",
    "gc_s", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "python_bytes",
)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks and task metrics summed from
    Spark's uncompressed rolling event log under ``log_dir``."""
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(EVENT_COUNTERS, 0.0)
    )
    stage_group: dict[int, str] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    # rolling event log: <log_dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    ev = json.loads(line)
                    sid = ev["Stage ID"]
                    group = stage_group.get(sid)
                    if group is None:
                        continue
                    g, ti = groups[group], ev["Task Info"]
                    tm = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["failed_tasks"] += bool(ti.get("Failed"))
                    submit = stage_submit.get((sid, ev["Stage Attempt ID"]))
                    if submit is not None:
                        g["task_wait_s"] += (ti["Launch Time"] - submit) / 1000
                    g["task_s"] += tm.get("Executor Run Time", 0) / 1000
                    g["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                    g["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                    g["shuffle_write_bytes"] += tm.get(
                        "Shuffle Write Metrics", {}
                    ).get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics", {})
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    g["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    for acc in ti.get("Accumulables", []):
                        if acc.get("Name") in PYTHON_ACCUMULATORS:
                            g["python_bytes"] += int(acc.get("Update") or 0)
                elif line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    groups[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif line.startswith('{"Event":"SparkListenerStageSubmitted"'):
                    ev = json.loads(line)
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    if sid in stage_group:
                        groups[stage_group[sid]]["stages"] += 1
                        stage_submit[(sid, info["Stage Attempt ID"])] = info.get(
                            "Submission Time", 0
                        )
    return dict(groups)

