"""Headline benchmark: times the bench-flagged declared queries.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. Each query executes fully via the `noop`
sink (no driver materialization — measures engine throughput, not
collect).

Isolation (round 5): each query runs in its OWN JVM (one child python
process per query). Two rounds of shared-session benchmarking showed
±30% phantom swings on sub-second queries with unchanged minimal plans
(r3: q_agg_rollup; r4: q_session_gap/q_tpch_q3/q_window_rank) despite
cache-release + explicit-GC hygiene between queries — heap history from
20+ earlier queries (broadcast cleanup debt, JIT/code-cache state,
fragmentation) is simply not resettable inside one JVM. A fresh JVM per
query makes per-query deltas attributable to the plan again.

Serving indexes (BM25 postings, MinHash buckets, SimHash fingerprints,
bloom words, LSH/IVF ANN layouts, lake revisions) are WRITE-side
artifacts: the parent runs every benched query's build() once, untimed,
which builds each index the query serves into $SPARK_GRAFT_IDX_ROOT;
children serve from disk (queries/indexcache.py), exactly as production
jobs share a corpus's indexes. A child that builds an index inside its
timed region fails.

Per query: one warmup-free cold run (fresh-JVM codegen + broadcast
included), then `steady` = median of 3 back-to-back reps — the plan a
cluster would run all day. Prints ONE JSON line:
  {"metric": "...", "value": <cold total sec>, "unit": "sec",
   "queries": {name: cold sec, ...}, "steady": {name: sec, ...},
   "steady_total": <sec>, "sf": <sf>}
(`value`/`queries` keep the round-1 cold semantics so older
BENCH_r{N}.json files stay comparable; cold is fresh-JVM cold from r5
on, slightly heavier but far more reproducible than shared-session
"cold after 20 other queries".)

Methodology caveat for per-query ratios against BENCH_r01: r1 timed all
queries inside ONE warm shared session, so r1 "cold" carries no
fresh-JVM first-run cost. For sub-second queries the r5+ cold therefore
includes a ~0.15-0.4 s codegen/first-scan floor that r1 numbers lack —
compare `steady` to r1 cold for those (e.g. q_embedding_knn: r1 cold
0.228 s vs r10 steady 0.258 s is parity; its r10 cold 0.67 s is
JVM-first-run overhead on a 64-element higher-order-fold expression,
not a plan regression). Totals (`comparable_total`) aggregate enough
work that the floor washes out.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_STEADY_REPS = 5  # steady = median of the LAST 3 (first 2 absorb JIT tail)
_EXTRA_REPS_FAST = 6  # sub-0.3s queries: 6 more reps → median of last 8
_WARMUP_QUERIES = ("q_agg_rollup", "q_join_star", "q_window_rank")


def run_once(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def child(name: str, sf_dir: str) -> None:
    """Time one query in this (fresh) JVM; emit one JSON line."""
    from aws_data_pipeline_ads_spark.catalog import load_table
    from aws_data_pipeline_ads_spark.operators.cache import release_caches
    from aws_data_pipeline_ads_spark.queries import REGISTRY, indexcache
    from aws_data_pipeline_ads_spark.session import get_session

    spark = get_session("bench")
    # Session warmup (not counted): parquet footers, plus three shape-
    # diverse queries (agg / join / window, 2 reps each) to walk the JVM
    # up the JIT ramp — measured: a fresh JVM needs ~6 query executions
    # before sub-second plans stop paying a flat ~0.2 s interpreter/C1
    # tax, which would otherwise masquerade as per-query regressions vs
    # a warmed shared session. The timed query itself is excluded from
    # its own warmup so `cold` keeps first-run semantics.
    run_once(spark.range(1_000_000).selectExpr("sum(id) AS s"))
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        run_once(load_table(spark, sf_dir, t).limit(1000))
    for wq in _WARMUP_QUERIES:
        if wq != name:
            for _ in range(2):
                run_once(REGISTRY[wq].build(spark, sf_dir))
    release_caches()
    spark.catalog.clearCache()

    qd = REGISTRY[name]
    indexcache.BUILT.clear()
    t0 = time.time()
    run_once(qd.build(spark, sf_dir))
    cold = round(time.time() - t0, 3)
    reps = []
    for _ in range(_STEADY_REPS):
        t1 = time.time()
        run_once(qd.build(spark, sf_dir))
        reps.append(round(time.time() - t1, 3))
    # Sub-0.3 s queries carry ±50% relative noise at 3 tail reps (r5→r6
    # finding): a single JIT/GC hiccup owns the median. Extend the run
    # so the tail has 8 samples — the median of 8 is robust to two
    # hiccups, and the extra ~2 s only applies to the cheapest queries.
    if sorted(reps[-3:])[1] < 0.3:
        for _ in range(_EXTRA_REPS_FAST):
            t1 = time.time()
            run_once(qd.build(spark, sf_dir))
            reps.append(round(time.time() - t1, 3))
    if indexcache.BUILT:
        raise RuntimeError(
            f"{name} built serving indexes inside its timed region: "
            f"{sorted(set(indexcache.BUILT))}; build them untimed first")
    print(json.dumps({"name": name, "cold": cold, "reps": reps}))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if len(sys.argv) >= 3 and sys.argv[1] == "--child":
        child(sys.argv[2], sf_dir)
        return

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    idx_root = os.environ.get(
        "SPARK_GRAFT_IDX_ROOT",
        f"/tmp/spark_graft_idx_{sf.replace('.', '_')}",
    )
    os.environ["SPARK_GRAFT_IDX_ROOT"] = idx_root

    # Build the serving indexes once (write-side jobs, not counted):
    # each query's build() routes every index it serves through
    # indexcache, so one untimed build() per benched query builds them
    # all. Then retire the parent's JVM before any child is timed.
    from aws_data_pipeline_ads_spark.queries import REGISTRY
    from aws_data_pipeline_ads_spark.session import get_session

    names = sorted(n for n, qd in REGISTRY.items() if qd.bench)
    t0 = time.time()
    spark = get_session("bench-index-build")
    for name in names:
        REGISTRY[name].build(spark, sf_dir)
    spark.stop()
    print(f"# indexes ready in {time.time()-t0:.1f}s at {idx_root}",
          file=sys.stderr)

    cold: dict[str, float] = {}
    steady: dict[str, float] = {}
    spread: dict[str, float] = {}
    timed_out: list[str] = []
    for name in names:
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", name],
                capture_output=True, text=True, env=os.environ.copy(),
                timeout=600,  # one wedged query must not eat the round
            )
        except subprocess.TimeoutExpired:
            print(f"# {name}: TIMED OUT after 600s — skipped", file=sys.stderr)
            timed_out.append(name)
            continue
        if proc.returncode != 0:
            print(proc.stderr[-4000:], file=sys.stderr)
            raise RuntimeError(f"bench child for {name} failed")
        rec = json.loads(proc.stdout.strip().splitlines()[-1])
        cold[name] = rec["cold"]
        # tail = everything past the 2-rep JIT ramp (3 samples for
        # normal queries, 8 for the extended sub-0.3s runs); steady is
        # its median, spread its max−min (the visible noise floor)
        tail = sorted(rec["reps"][2:])
        steady[name] = tail[len(tail) // 2] if len(tail) % 2 else round(
            (tail[len(tail) // 2 - 1] + tail[len(tail) // 2]) / 2, 3)
        spread[name] = round(tail[-1] - tail[0], 3)
        print(f"# {name}: cold {cold[name]:.3f}s steady {steady[name]:.3f}s "
              f"±{spread[name]:.3f} (reps {rec['reps']})", file=sys.stderr)

    # `comparable_total` restates the cold total over EXACTLY the
    # frozen round-1 query set (the 18 names recorded in BENCH_r01) so
    # cross-round reads against the 19.87 s r1 baseline stay honest as
    # the bench set grows. An exclusion set drifted once (r7: the
    # r6/r7 additions inflated the "comparable" total 2.3×) — hence a
    # frozen inclusion list, never an exclusion list.
    r1_set = {
        "q_agg_rollup", "q_approx_distinct", "q_curation_pipeline",
        "q_dedup_exact", "q_embedding_ann", "q_embedding_ivf",
        "q_embedding_knn", "q_join_flagship", "q_join_star",
        "q_minhash_lsh", "q_neardup_verified", "q_run_summary",
        "q_session_gap", "q_text_stats", "q_tpch_q1", "q_tpch_q3",
        "q_tumbling_window", "q_window_rank",
    }
    out = {
        "metric": "declared_query_set_wall_clock",
        "value": round(sum(cold.values()), 3),
        "unit": "sec",
        "queries": cold,
        "steady": steady,
        "steady_total": round(sum(steady.values()), 3),
        # per-query max−min of the steady tail reps: the noise floor a
        # round-over-round delta must clear before it means anything
        "steady_spread": spread,
        "comparable_total": round(
            sum(v for k, v in cold.items() if k in r1_set), 3
        ),
        "comparable_set": sorted(r1_set & set(cold)),
        # r1 queries that did not report this run (timeout/failure) —
        # a non-empty list means comparable_total is an UNDERCOUNT
        "comparable_missing": sorted(r1_set - set(cold)),
        "added_queries": sorted(set(cold) - r1_set),
        # A wedged child shrinks the totals — record it so cross-round
        # total comparisons can detect the missing query instead of
        # reading the shrunken sum as an improvement.
        "timed_out": timed_out,
        "steady_reps": _STEADY_REPS,  # median of last 3 of 5, fresh JVM/query
        "isolation": "jvm-per-query",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
