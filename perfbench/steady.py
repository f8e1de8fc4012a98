"""Steadiness record: run every workload on several seeds and report,
per end-to-end metric, the quartile spread (q3 - q1) / median, as
``statistics.quantiles(values, n=4)`` gives the quartiles.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/results/steady.json

Runs one at a time, interleaving workloads, from the repository root.
Two extra traced runs per workload (on the first two seeds) give the
tracing overhead: traced minus untraced timed-phase wall. They also
show whether the Spark job and task counts of a single unfiltered
query repeat from run to run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import DROPPED, WHY  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    load0, t = os.getloadavg(), time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    elapsed = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
           "elapsed_s": elapsed, "loadavg_start": load0, "loadavg_end": os.getloadavg()}
    if p.returncode == 0 and lines:
        rec["result"] = json.loads(lines[-1])
        rec["detail"] = json.loads(lines[-2][len("detail "):])
    else:
        rec["stderr_tail"] = p.stderr[-2000:]
    return rec


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else None,
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=sorted(WHY))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--no-trace", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    runs = []
    for s in seeds(args.seeds):
        for w in args.workloads:
            runs.append(one_run(w, s, args.seconds, 0))
            print(json.dumps({k: runs[-1].get(k) for k in ("workload", "seed", "rc", "elapsed_s")}),
                  flush=True)
    if not args.no_trace:
        for s in seeds(args.seeds)[:2]:
            for w in args.workloads:
                runs.append(one_run(w, s, args.seconds, 1))

    summary = {}
    for w in args.workloads:
        ok = [r for r in runs if r["workload"] == w and r["trace"] == 0 and "result" in r]
        per = {
            name: spread([r["result"]["metrics"][name]["value"] for r in ok])
            for name in bounds if len(ok) >= 2
        }
        for name, s in per.items():
            s["bound"] = bounds[name]
            s["within_third_of_bound"] = s["spread"] is not None and s["spread"] < bounds[name] / 3
        entry = {
            "runs": len(ok),
            "all_correct": all(r["result"]["correct"] for r in ok),
            "failed_ops": sum(r["result"]["failed"] for r in ok),
            "elapsed_s_median": statistics.median(r["elapsed_s"] for r in ok) if ok else None,
            "metrics": per,
        }
        entry["traced"] = []
        for t in (r for r in runs if r["workload"] == w and r["trace"] == 1 and "detail" in r):
            base = next(r for r in ok if r["seed"] == t["seed"])
            tm, bm = t["detail"]["metrics"], base["detail"]["metrics"]
            lm = t["result"]["metrics"]
            entry["traced"].append({
                "seed": t["seed"],
                "overhead_wall_s": tm["wall_s"]["value"] - bm["wall_s"]["value"],
                "coverage": lm["trace.coverage"]["value"],
                "plain_query_jobs": lm["plans.chroma_api.plain_query_jobs"]["value"],
                "plain_query_tasks": lm["plans.chroma_api.plain_query_tasks"]["value"],
            })
        summary[w] = entry
    out = {"nproc": len(os.sched_getaffinity(0)), "seconds": args.seconds,
           "dropped": DROPPED, "summary": summary, "runs": runs}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({w: {k: v for k, v in e.items() if k != "metrics"} | {
        "spreads": {m: round(s["spread"], 4) for m, s in e["metrics"].items()}}
        for w, e in summary.items()}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
