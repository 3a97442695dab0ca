"""Run the benchmark on two sets of ten seeds and summarise how steady
it is.

    python3 perfbench/steadiness.py <out.json>

For each set (seeds 1-10, then 11-20) and workload it runs `run.py`
once per seed (untraced) and records, per end-to-end metric, the
median, the quartiles (`statistics.quantiles(values, n=4)`) and the
spread: the distance between the quartiles as a share of the median.
It also records each run's host steal time and op count, and how far
the second set's median moved from the first, as a share of the first.
The JSON it writes keeps every run's figures; a Markdown table of the
summary is written beside it.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2
SEEDS = 10  # per set


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, check=True)
    detail, result = (json.loads(x) for x in proc.stdout.strip().splitlines()[-2:])
    return {"seed": seed, "elapsed_s": time.time() - t0, "n": detail["n"],
            "host_steal_s": detail["layers"]["host.steal_s"],
            "correct": result["correct"], "failed": result["failed"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}


def summarise(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def report(out: dict, spec: dict) -> str:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lines = ["| set | workload | metric | median | q1 | q3 | spread | bound |",
             "| --- | --- | --- | --- | --- | --- | --- | --- |"]
    for i, per_wl in enumerate(out["sets"]):
        for wl, st in per_wl.items():
            rows = [*st["metrics"].items(), ("host.steal_s", st["host_steal_s"])]
            for name, m in rows:
                lines.append(f"| {i + 1} | {wl} | {name} | {m['median']:.4g} | {m['q1']:.4g} "
                             f"| {m['q3']:.4g} | {m['spread']:.3f} | {bounds.get(name, '')} |")
    lines += ["", "Second set's median against the first's (share of the first):", "",
              "| workload | metric | shift | bound |", "| --- | --- | --- | --- |"]
    for wl, shifts in out["median_shift"].items():
        lines += [f"| {wl} | {name} | {v:+.3f} | {bounds[name]} |"
                  for name, v in shifts.items()]
    return "\n".join(lines) + "\n"


def main() -> None:
    out_path = sys.argv[1]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = {"sets": []}
    for s in range(SETS):
        seeds = range(1 + s * SEEDS, 1 + (s + 1) * SEEDS)
        per_wl = {}
        for wl in (w["name"] for w in spec["workloads"]):
            runs = [one_run(wl, seed, spec["run_seconds"]) for seed in seeds]
            per_wl[wl] = {
                "runs": runs,
                "host_steal_s": summarise([r["host_steal_s"] for r in runs]),
                "metrics": {m["name"]: summarise([r["metrics"][m["name"]] for r in runs])
                            for m in spec["end_to_end"]},
            }
            for m in spec["end_to_end"]:
                st = per_wl[wl]["metrics"][m["name"]]
                print(f"set {s} {wl:12s} {m['name']:28s} median {st['median']:.4g} "
                      f"spread {st['spread']:.4f} (bound {m['bound']})", flush=True)
        out["sets"].append(per_wl)
    a, b = out["sets"]
    out["median_shift"] = {
        wl: {m: (b[wl]["metrics"][m]["median"] - a[wl]["metrics"][m]["median"])
             / a[wl]["metrics"][m]["median"]
             for m in a[wl]["metrics"] if a[wl]["metrics"][m]["median"]}
        for wl in a}
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    with open(os.path.splitext(out_path)[0] + ".md", "w") as md:
        md.write(report(out, spec))


if __name__ == "__main__":
    main()
