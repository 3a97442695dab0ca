"""One measured run of one workload, in a fresh process and so a fresh
JVM. `run.py` starts it with the path of a JSON settings file; it
writes its figures to `<run_dir>/result.json`.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import procstat  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from aws_data_pipeline_ads_spark.operators.cache import release_caches  # noqa: E402
from aws_data_pipeline_ads_spark.session import get_session  # noqa: E402


class Context:
    def __init__(self, cfg, spark, tracer):
        self.spark, self.tracer = spark, tracer
        self.seed = cfg["seed"]
        self.sf_dir = cfg["sf_dir"]
        self.run_dir = cfg["run_dir"]
        self.idx_root = cfg["idx_root"]
        self.oracle_dir = cfg["oracle_dir"]

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of
    all order statistics. Ops of one round are different queries, and
    the plain sample median jumps between the two queries that straddle
    the middle; this estimate moves smoothly instead."""
    s = sorted(xs)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def pdf(x: float) -> float:
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp(log_norm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))

    steps = 64  # Simpson's rule on each order statistic's slice of [0, 1]
    weights = []
    for i in range(n):
        lo, h = i / n, 1 / (n * steps)
        ys = [pdf(lo + j * h) for j in range(steps + 1)]
        weights.append(h / 3 * (ys[0] + ys[-1] + 4 * sum(ys[1:-1:2]) + 2 * sum(ys[2:-1:2])))
    return sum(w * x for w, x in zip(weights, s)) / sum(weights)


def tail_pct(n: int) -> float:
    """The highest percentile that still has at least ten samples beyond
    it. Below 21 samples that would fall under the median, so the tail
    is then the median itself."""
    return max(50.0, 100.0 * (n - 10) / n)


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def jvm_heap_mb(spark) -> tuple[float, float]:
    """(initial heap, peak heap used) of the JVM in MiB. The peak is the
    sum of each heap pool's own peak, so it may count a little more
    than the heap ever held at once."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    init = mf.getMemoryMXBean().getHeapMemoryUsage().getInit()
    peak = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().name() == "HEAP")
    return init / 2**20, peak / 2**20


def run_pass(ctx, wl, seconds: float) -> tuple[list[tuple[str, float, bool]], float, int]:
    """Timed ops until the workload is at a boundary and `seconds` have
    passed: ([(group, latency, ok)], wall seconds, cache persists)."""
    ops: list[tuple[str, float, bool]] = []
    persists = 0
    start = time.perf_counter()
    while not (wl.at_boundary() and time.perf_counter() >= start + seconds):
        key = wl.next_op()
        t = time.perf_counter()
        try:
            with ctx.tracer.op(len(ops), str(key)):
                ok = wl.op(key)
        except Exception:  # noqa: BLE001 — a raising op is a failed op
            ctx.log(f"op {key} raised:\n{traceback.format_exc()}")
            ok = False
        ops.append((wl.group(key), time.perf_counter() - t, ok))
        ctx.log(f"op {len(ops) - 1} {key}: {ops[-1][1]:.3f}s ok={ok}")
        persists += release_caches()
    return ops, time.perf_counter() - start, persists


def extra_pass(ctx, wl, cfg, tag: str, traced: bool) -> tuple[float, int, int]:
    """Another timed pass, named `tag`, in a new Spark context of the
    same JVM, with the event log, spans and job groups on or off:
    (median op, ops, failed ops)."""
    from pyspark import SparkConf, SparkContext

    conf = SparkConf().set("spark.eventLog.enabled", str(traced).lower())
    if traced:
        log_dir = f"{cfg['event_log_dir']}-{tag}"
        os.makedirs(log_dir, exist_ok=True)
        conf.set("spark.eventLog.dir", f"file://{log_dir}")
    SparkContext(conf=conf)
    ctx.spark = get_session(f"perfbench-{cfg['workload']}", cpus=cfg["cpus"])
    ctx.tracer = tracing.Tracer(traced, ctx.spark.sparkContext)
    ops, _, _ = run_pass(ctx, wl.restart(tag), cfg["seconds"])
    ctx.spark.stop()
    return (quantile([x for _, x, _ in ops], 0.5), len(ops),
            sum(1 for _, _, ok in ops if not ok))


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    steal0 = procstat.host_steal_s()
    pid = os.getpid()
    t = time.perf_counter()
    spark = get_session(f"perfbench-{cfg['workload']}", cpus=cfg["cpus"])
    session_start_s = time.perf_counter() - t
    ctx = Context(cfg, spark, tracing.Tracer(cfg["trace"], spark.sparkContext))
    wl = (workloads.QueryWorkload if cfg["workload"] == "queries"
          else workloads.LakeIngestWorkload)(ctx)
    wl.setup()
    release_caches()

    setup_s = time.time() - cfg["t0"]
    cpu0, gc0 = procstat.tree_cpu(pid), jvm_gc_s(spark)
    ops, wall, persists = run_pass(ctx, wl, cfg["seconds"])
    cpu1, gc1 = procstat.tree_cpu(pid), jvm_gc_s(spark)

    bad = wl.check()
    n = len(ops)
    failed = sum(1 for g, _, ok in ops if not ok or g in bad)
    lat = [x for _, x, _ in ops]
    pct = tail_pct(n)
    jvm = procstat.jvm_pid(pid)
    # The heap is pre-touched, so the JVM's peak resident set holds all
    # of it from the start; count the heap the program used instead.
    heap_init_mb, heap_peak_mb = jvm_heap_mb(spark)
    hwm_mb = {"driver": procstat.peak_rss_mb(pid), "jvm": procstat.peak_rss_mb(jvm)}
    cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": quantile(lat, 0.5),
        "op_tail_s": quantile(lat, pct / 100),
        "ops_per_s": n / wall,
        "cpu_s_per_op": sum(cpu.values()) / n,
        "peak_rss_mb": sum(hwm_mb.values()) - heap_init_mb + heap_peak_mb,
        "stored_bytes_per_input_byte": wl.stored_ratio(),
        "ok_op_ratio": 1.0 - failed / n,
    }
    layers = {
        "session.start_s": session_start_s,
        "cache.persists_per_op": persists / n,
        "proc.jvm_gc_s": gc1 - gc0,
        "proc.jvm_cpu_s": cpu["jvm"],
        "proc.driver_cpu_s": cpu["driver"],
        "proc.worker_cpu_s": cpu["worker"],
        **wl.layer_metrics(),
    }
    spark.stop()
    if cfg["trace"]:
        tracer = ctx.tracer
        layers.update({f"{name}_s": t / n for name, t in tracer.self_times().items()
                       if name != "op"})
        for g in {g for g, _, _ in ops if g.startswith("q_")}:
            layers[f"query.{g}.p50_s"] = statistics.median(x for q, x, _ in ops if q == g)
        # the event log is complete once its context has stopped
        per_op: dict[str, float] = {}
        for group, sums in tracing.event_log_totals(cfg["event_log_dir"]).items():
            if group.startswith("op-"):
                for k, v in sums.items():
                    per_op[k] = per_op.get(k, 0.0) + v
        layers.update({f"spark.{k}_per_op": v / n for k, v in per_op.items()})
        tracer.dump(os.path.join(cfg["run_dir"], "spans.json"))
        # Tracing overhead: a traced pass between two untraced ones, each
        # in a new Spark context (and for lake_ingest on a fresh lake), so
        # a steady warming or slowing of the JVM through the run cancels.
        passes = [extra_pass(ctx, wl, cfg, f"pass{k}", traced)
                  for k, traced in enumerate((False, True, False))]
        plain_p50 = (passes[0][0] + passes[2][0]) / 2
        layers["trace.overhead_ratio"] = passes[1][0] / plain_p50
        attempted = n + sum(p[1] for p in passes)
        failed += sum(p[2] for p in passes)
        passes = [metrics["op_p50_s"]] + [p[0] for p in passes]
    else:
        attempted, passes = n, [metrics["op_p50_s"]]
    layers["host.steal_s"] = procstat.host_steal_s() - steal0
    result = {"attempted": attempted, "failed": failed, "metrics": metrics, "layers": layers,
              "detail": {"n": n, "tail_pct": pct, "wall_s": wall, "pass_p50_s": passes,
                         "hwm_mb": hwm_mb, "heap_init_mb": heap_init_mb,
                         "heap_peak_mb": heap_peak_mb,
                         "failed_groups": sorted(bad),
                         "ops": [[g, round(x, 4)] for g, x, _ in ops]}}
    with open(os.path.join(cfg["run_dir"], "result.json"), "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
