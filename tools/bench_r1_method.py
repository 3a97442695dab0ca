"""Like-for-like re-measurement under the ROUND-1 bench methodology.

BENCH_r01.json timed the 18-query baseline set inside ONE shared
SparkSession, alphabetically, each query once ("cold" there means
cold-plan-in-a-warming-session, not fresh-JVM cold). bench.py moved to
JVM-per-query isolation in r5 for reproducibility, which added a
~0.15-0.4 s fresh-JVM floor to sub-second queries — so a per-query
ratio of r5+ cold against r1 cold compares different methodologies and
overstates sub-second "regressions" ~3× (q_embedding_knn: r1 0.228 s
vs r11 fresh-JVM cold 0.68 s, while its warm-session time is ~0.25 s).

This harness re-runs TODAY's engine under the EXACT r1 shape — one
session, alphabetical r1 set, one timing per query, noop sink, serving
indexes pre-built uncounted (r1 had no served indexes; the three
index-serving queries are flagged) — so the per-query 2×-of-baseline
gate can be read on equal footing. Output: one JSON line
{"queries": {name: sec}, "total": sec, "sf": ..., "methodology":
"r1-shared-session"}. Run with NO concurrent Spark workloads.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

R1_SET = [
    "q_agg_rollup", "q_approx_distinct", "q_curation_pipeline",
    "q_dedup_exact", "q_embedding_ann", "q_embedding_ivf",
    "q_embedding_knn", "q_join_flagship", "q_join_star",
    "q_minhash_lsh", "q_neardup_verified", "q_run_summary",
    "q_session_gap", "q_text_stats", "q_tpch_q1", "q_tpch_q3",
    "q_tumbling_window", "q_window_rank",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    idx_root = os.environ.get(
        "SPARK_GRAFT_IDX_ROOT",
        f"/tmp/spark_graft_idx_{sf.replace('.', '_')}",
    )
    os.environ["SPARK_GRAFT_IDX_ROOT"] = idx_root

    if "--timed" not in sys.argv:
        # Parent: one untimed build() per query builds the serving
        # indexes it reads (write-side artifacts, uncounted — bench.py's
        # split), then hand the timing to a FRESH process so the timed
        # session starts on a cold JVM exactly as r1's did; an
        # in-process build session would leave JIT/heap state that
        # contaminates the first timed query either way (measured: ±4 s
        # on q_agg_rollup).
        import subprocess

        from aws_data_pipeline_ads_spark.queries import REGISTRY
        from aws_data_pipeline_ads_spark.session import get_session

        spark = get_session("bench-r1-method-index")
        for name in R1_SET:
            REGISTRY[name].build(spark, sf_dir)
        spark.stop()
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--timed"],
            env=os.environ.copy(), text=True, capture_output=True)
        sys.stderr.write(proc.stderr[-4000:])
        if proc.returncode != 0:
            raise RuntimeError("timed child failed")
        print(proc.stdout.strip().splitlines()[-1])
        return

    from aws_data_pipeline_ads_spark.queries import REGISTRY
    from aws_data_pipeline_ads_spark.session import get_session

    spark = get_session("bench-r1-method")
    # the r1 harness's exact (single) uncounted warmup
    spark.range(1_000_000).selectExpr("sum(id) AS s").write.mode(
        "overwrite").format("noop").save()
    times: dict[str, float] = {}
    for name in R1_SET:  # alphabetical, the r1 order
        t0 = time.time()
        REGISTRY[name].build(spark, sf_dir).write.mode(
            "overwrite").format("noop").save()
        times[name] = round(time.time() - t0, 3)
        print(f"# {name}: {times[name]:.3f}s", file=sys.stderr)
    out = {
        "metric": "r1_like_for_like_wall_clock",
        "methodology": "r1-shared-session",
        "queries": times,
        "total": round(sum(times.values()), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
