"""Self-test of the benchmark's own pieces; starts no JVM.

    python3 perfbench/selftest.py

Checks that inputs are a function of the seed (same seed, same bytes;
another seed, other payloads), that the query workload's composition
does not depend on the seed, and the tail, span and event-log
arithmetic. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "_work")
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402


def check(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def test_payloads() -> None:
    for i in range(4):
        check(datagen.ingest_batch(7, i) == datagen.ingest_batch(7, i),
              f"batch {i}: the same seed gives the same payload")
        check(datagen.ingest_batch(7, i)[1] != datagen.ingest_batch(8, i)[1],
              f"batch {i}: another seed gives another payload")
    src, body = datagen.ingest_batch(7, 2)
    recs = json.loads(body)["results"]
    ids = [r["login"]["uuid"] for r in recs]
    check(src == "crm" and len(recs) == datagen.BATCH_RECORDS,
          "crm batches carry BATCH_RECORDS records in a results envelope")
    check(len(set(ids)) == int(datagen.BATCH_RECORDS * (1 - datagen.DUP_SHARE)),
          "the in-batch duplicate share is fixed")
    other = {r["login"]["uuid"] for r in json.loads(datagen.ingest_batch(7, 5)[1])["results"]}
    check(not other & set(ids), "record ids are unique across batches")


def test_query_order() -> None:
    import workloads

    class Ctx:
        def __init__(self, seed):
            self.seed = seed

    def rounds(seed, n=2):
        wl = workloads.QueryWorkload(Ctx(seed))
        return [[wl.next_op() for _ in workloads.QUERIES] for _ in range(n)]

    a, b = rounds(1), rounds(2)
    check(a == rounds(1), "the same seed gives the same op order")
    check(a != b, "another seed gives another op order")
    check(all(sorted(r) == sorted(workloads.QUERIES) for r in a + b),
          "every round runs each query exactly once, whatever the seed")


def test_quantiles() -> None:
    from child import quantile, tail_pct

    check(tail_pct(12) == 50.0 and tail_pct(20) == 50.0,
          "below 21 samples the tail is the median")
    check(tail_pct(21) == 100 * 11 / 21, "21 samples: ten lie beyond the tail")
    check(tail_pct(40) == 75.0, "40 samples: ten lie beyond the tail")
    check(abs(quantile(list(range(21)), 0.5) - 10.0) < 1e-6,
          "the median estimate of a symmetric sample is its centre")
    gap = [1.0] * 10 + [2.0] * 11
    check(1.3 < quantile(gap, 0.5) < 1.7 and quantile(gap, 0.9) > quantile(gap, 0.5),
          "across a gap the median estimate lies between the two sides")


def test_spans_and_event_log() -> None:
    import tracing

    tr = tracing.Tracer(True, spark_context=None)
    tr.spans = [
        {"name": "op", "start": 0.0, "end": 10.0, "parent": None, "op": 0},
        {"name": "a", "start": 1.0, "end": 5.0, "parent": 0, "op": 0},
        {"name": "b", "start": 2.0, "end": 3.0, "parent": 1, "op": 0},
        {"name": "a", "start": 6.0, "end": 7.0, "parent": 0, "op": 0},
        {"name": "setup", "start": -5.0, "end": -1.0, "parent": None, "op": None},
    ]
    check(tr.self_times() == {"op": 5.0, "a": 4.0, "b": 1.0},
          "self time subtracts direct children and skips spans outside ops")
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {"spark.jobGroup.id": "op-3"},
         "Stage Infos": [{"Stage ID": 5}]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 5, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Memory Bytes Spilled": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 4},
            "Input Metrics": {"Bytes Read": 9}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 5}},
    ]
    with tempfile.TemporaryDirectory(dir=WORK) as d:
        with open(os.path.join(d, "app-1"), "w") as f:
            f.write("\n".join(json.dumps(e) for e in events) + "\n{torn")
        got = tracing.event_log_totals(d)["op-3"]
    check(got == {"jobs": 1, "stages": 1, "tasks": 1, "task_cpu_s": 2.0,
                  "shuffle_read_bytes": 3, "shuffle_write_bytes": 4,
                  "spill_bytes": 7, "input_bytes": 9},
          "event-log totals are cut per job group")


if __name__ == "__main__":
    os.makedirs(WORK, exist_ok=True)
    test_payloads()
    test_query_order()
    test_quantiles()
    test_spans_and_event_log()
    print("selftest passed")
