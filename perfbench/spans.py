"""Tracing for the benchmark's traced run.

``Tracer`` records spans (name, start, end, parent, iteration) around
the benchmark's calls into the program's modules and keeps them in
memory until the run ends. ``fold_event_log`` reads Spark's own JSON
event log and folds task metrics and SQL metrics into per-iteration
``spark.*`` counts, keyed by the ``perfbench.iteration`` local property
that the traced iterations set on their jobs.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

ITERATION_PROPERTY = "perfbench.iteration"


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.iteration: int | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({})
        parent = self._stack[-1] if self._stack else None
        self._stack.append(idx)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx] = {
                "id": idx,
                "name": name,
                "start": start,
                "end": time.perf_counter(),
                "parent": parent,
                "iteration": self.iteration,
            }

    @contextmanager
    def wrap(self, owner, attr: str, name: str):
        """Record a span around every call of ``owner.attr`` while the
        block runs, for calls made inside the program's own functions."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, original)

    def durations(self, iteration: int) -> dict[str, float]:
        """Seconds per span name within one iteration (summed over
        repeated spans of the same name)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["iteration"] == iteration:
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# SQL metric names (as Spark 4 labels them) folded into spark.* counts.
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_BROADCAST_BUILD = "time to build"


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per traced iteration (keyed by the iteration property's value):
    jobs, stages and tasks run, executor run/CPU/GC time, scan, shuffle
    and spill bytes, Python-worker time and bytes (ArrowEvalPython and
    MapInPandas alike) and broadcast build time."""
    acc_names: dict[int, tuple[str, str]] = {}
    stage_iter: dict[int, str] = {}
    exec_iter: dict[int, str] = {}
    per: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    acc_updates: list[tuple[str, int, float]] = []
    driver_updates: list[tuple[int, int, float]] = []

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_metrics(e["sparkPlanInfo"], acc_names)
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                it = props.get(ITERATION_PROPERTY)
                if it is None:
                    continue
                per[it]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_iter[sid] = it
                if "spark.sql.execution.id" in props:
                    exec_iter[int(props["spark.sql.execution.id"])] = it
            elif kind == "SparkListenerStageCompleted":
                it = stage_iter.get(e["Stage Info"]["Stage ID"])
                if it is not None:
                    per[it]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                it = stage_iter.get(e["Stage ID"])
                if it is None:
                    continue
                m = e.get("Task Metrics") or {}
                c = per[it]
                c["tasks"] += 1
                c["executor_run_ms"] += m.get("Executor Run Time", 0)
                c["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
                c["jvm_gc_ms"] += m.get("JVM GC Time", 0)
                c["scan_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics", {})
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics", {})
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for a in e["Task Info"].get("Accumulables", []):
                    if "Update" in a:
                        acc_updates.append((it, a["ID"], float(a["Update"])))
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    driver_updates.append((e["executionId"], acc_id, float(value)))

    def add(it: str, acc_id: int, value: float) -> None:
        node, name = acc_names.get(acc_id, ("", ""))
        c = per[it]
        if name == _PY_RUN:
            c["python_worker_ms"] += value
        elif name == _PY_SENT:
            c["python_bytes_sent"] += value
        elif name == _PY_RECV:
            c["python_bytes_received"] += value
        elif name == _BROADCAST_BUILD and node.startswith("BroadcastExchange"):
            c["broadcast_build_ms"] += value

    for it, acc_id, value in acc_updates:
        add(it, acc_id, value)
    for exec_id, acc_id, value in driver_updates:
        if exec_id in exec_iter:
            add(exec_iter[exec_id], acc_id, value)
    return {it: dict(c) for it, c in per.items()}
