"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run starts one fresh measured
process (`child.py`, which starts its own JVM) with a work directory of
its own under `perfbench/_work/`, and prints, as its last line, one JSON
object: `correct`, `attempted`, `failed` and `metrics`. The line before
it holds every figure of the run, with the op count and the tail's
percentile.

With `--trace 0` the metrics are the end-to-end metrics of
`BENCHMARK.json`. With `--trace 1` they are its per-layer metrics,
taken from a traced pass (spans, job groups, Spark event log). The
measured process then makes an untraced and a second traced pass, each
in a new Spark context, and reports the tracing overhead as the mean
median op of the traced passes over that of the untraced one. A layer
a workload does not exercise reads 0.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procstat  # noqa: E402
WORKLOADS = ("queries", "lake_ingest")
CHILD_TIMEOUT_S = 170  # the run must end within 180 s
HEAP = "2g"
RUN_MARKER = "PERFBENCH_RUN"  # set in every process of a measured run


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def stop_run(proc: subprocess.Popen, marker: str) -> None:
    """Kill whatever is left of one measured process's tree (JVM, Spark's
    Python daemon and workers) and wait until every member has ended."""
    deadline = time.time() + 30
    while True:
        pids = procstat.pids_with_env(RUN_MARKER, marker)
        if not pids or time.time() > deadline:
            break
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    proc.wait()


def measure(args, work: str, name: str, inputs: dict, trace: bool, budget_s: float) -> dict:
    """One measured process; returns what it wrote to result.json."""
    run_dir = os.path.join(work, name)
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": trace, "run_dir": run_dir, **inputs,
        "idx_root": os.path.join(work, "idx"),
        "event_log_dir": os.path.join(run_dir, "events"),
        "cpus": len(os.sched_getaffinity(0)),
    }
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    tmp = os.path.join(run_dir, "tmp")
    conf = [f"spark.local.dir={run_dir}/local",
            f"spark.sql.warehouse.dir={run_dir}/warehouse",
            # a fixed, pre-touched heap: peak RSS then does not hang on
            # when the collector chose to grow the heap
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch"]
    if trace:
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{cfg['event_log_dir']}",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false"]
    env.update({
        # indexcache serves any directory holding a completion marker,
        # so the index root is never inherited: each run has its own
        "SPARK_GRAFT_IDX_ROOT": cfg["idx_root"],
        "SPARK_LOCAL_DIRS": f"{run_dir}/local",
        "TMPDIR": tmp,
        # Spark's Python workers import the package too
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        "SPARK_DRIVER_MEMORY": HEAP,
        RUN_MARKER: run_dir,
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(c)}" for c in conf)
                               + " pyspark-shell",
    })
    cfg_path = os.path.join(run_dir, "config.json")
    cfg["t0"] = time.time()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(os.path.join(run_dir, "child.log"), "w") as log:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "child.py"), cfg_path],
                                stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=run_dir)
        try:
            code = proc.wait(timeout=max(1.0, budget_s))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_run(proc, run_dir)
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "child.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"measured process {'timed out' if code is None else f'exited {code}'}")
    with open(result_path) as f:
        return json.load(f)


def cached_inputs(workload: str) -> dict:
    """Catalog tables and oracle results for the query workload. The
    tables are the project's sf0.1 test data, kept in the benchmark's
    directory so a run reads nothing outside its checkout. The DuckDB
    oracle results do not depend on the seed, so they are made once
    per checkout, under a key that changes with the oracle SQL."""
    import workloads

    if workload != "queries":
        return {"sf_dir": None, "oracle_dir": None}
    sf_dir = os.path.join(HERE, "data", "sf0.1")
    key = hashlib.sha256(sf_dir.encode())
    for name in workloads.QUERIES:
        key.update(workloads.REGISTRY[name].oracle.encode())
    cache = os.path.join(HERE, "_work", "oracle", key.hexdigest()[:16])
    if not os.path.isdir(cache):
        tmp = f"{cache}.{os.getpid()}.tmp"
        workloads.write_oracles(sf_dir, tmp)
        try:
            os.rename(tmp, cache)
        except OSError:  # another run made it first
            shutil.rmtree(tmp)
    return {"sf_dir": sf_dir, "oracle_dir": cache}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "aws_data_pipeline_ads_spark")):
        fail(f"no aws_data_pipeline_ads_spark package under {ROOT}")
    spec = declared()
    inputs = cached_inputs(args.workload)

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        if args.trace:
            res = measure(args, work, "traced", inputs, True, CHILD_TIMEOUT_S)
            keep = os.path.join(HERE, "_work", "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "traced", "spans.json"),
                        os.path.join(keep, f"{args.workload}-{args.seed}.spans.json"))
            values, wanted = res["layers"], spec["per_layer"]
        else:
            res = measure(args, work, "plain", inputs, False, CHILD_TIMEOUT_S)
            values, wanted = res["metrics"], spec["end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **res["detail"],
                      "end_to_end": res["metrics"], "layers": res["layers"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
