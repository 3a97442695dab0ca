"""Benchmark-side spans and the Spark event-log reader.

Spans are recorded only around calls the benchmark makes into the
package's public functions; nothing inside the package is touched.
They stay in memory until the run ends. Each timed op tags its Spark
jobs with a job group `op-<n>`, so the event log can be cut per op.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Nested spans (name, start, end, parent, op id) kept in memory.

    A disabled tracer records nothing and sets no job group, so the
    untraced runs execute exactly the ops without the bookkeeping."""

    def __init__(self, enabled: bool, spark_context=None):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def op(self, op_id: int, name: str):
        self.op_id = op_id
        if self.enabled:
            self.sc.setJobGroup(f"op-{op_id}", name)
        try:
            with self.span("op"):
                yield
        finally:
            if self.enabled:
                self.sc.setJobGroup("", "")
            self.op_id = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name over the spans inside timed
        ops: each span's duration minus the time its direct children
        cover (children run inside their parent on the one Spark driver
        thread, so they never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            if s["op"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - c
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


_TASK_SUMS = ("tasks", "task_cpu_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes")


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages and task-metric sums from the
    uncompressed, unrolled JSON event log(s) in `log_dir`."""
    files = [os.path.join(log_dir, f) for f in sorted(os.listdir(log_dir))]
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(("jobs", "stages") + _TASK_SUMS, 0.0))

    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:  # a torn last line
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    bucket(group)["jobs"] += 1
                    for s in ev["Stage Infos"]:
                        stage_group[s["Stage ID"]] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    bucket(stage_group.get(sid, ""))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    b = bucket(stage_group.get(ev["Stage ID"], ""))
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    b["tasks"] += 1
                    b["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    b["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                                + rd.get("Local Bytes Read", 0))
                    b["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    b["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    b["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return out
