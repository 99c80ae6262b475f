#!/usr/bin/env python3
"""Steadiness receipt: run each workload with several seeds and report, per
end-to-end metric, the spread (interquartile range over median, quartiles
as statistics.quantiles(values, n=4) gives them) and the bound it supports.

    python3 perfbench/steadiness.py --runs 10 --traced 3 --out perfbench/receipt

Writes <out>/steadiness.json and <out>/steadiness.md (the tables, and the
bound each metric supports: three times its largest spread, rounded up to
0.05, at most 0.25). Seeds are 1..runs for the
untraced runs; the traced runs use seed 101 twice and then 102.., so the
receipt shows which per-layer counts repeat exactly for a seed. The traced
runs give the tracing overhead, the load generator's repeat share and the
plans.* fire shares of each workload.
"""
import argparse
import json
import math
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ROW = re.compile(r"^\s+(\S+)\s+(-?[0-9.]+(?:e[-+]?\d+)?)\s*(\S*)\s*$")


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed ({p.returncode}):\n{p.stdout}\n{p.stderr[-3000:]}")
    result = json.loads(lines[-1])
    table = {}
    for ln in lines[:-1]:
        m = ROW.match(ln)
        if m:
            table.setdefault(m.group(1), float(m.group(2)))
    return result, table, wall


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def bound(spreads):
    return min(0.25, math.ceil(3 * max(spreads) * 20 - 1e-9) / 20)


COUNTS = ("sched.jobs", "sched.stages", "sched.tasks", "exec.input_records")
SHARES = ("plans.topk_share", "plans.rangeagg_share", "plans.countfromstats_share")


def markdown(receipt, spec):
    out = [f"# Steadiness receipt\n",
           f"{receipt['runs']} untraced runs per workload (seeds 1..{receipt['runs']}), "
           f"`--seconds {receipt['run_seconds']}`; traced runs with seeds 101, 101, 102.\n",
           "## End-to-end spread (IQR / median)\n",
           "| metric | " + " | ".join(receipt["workloads"]) + " | bound supported | bound set |",
           "|---|" + "---|" * (len(receipt["workloads"]) + 2)]
    for m in spec["end_to_end"]:
        n = m["name"]
        sp = [e["metrics"][n]["spread"] for e in receipt["workloads"].values()]
        cells = [f"{e['metrics'][n]['median']:.4g} ({e['metrics'][n]['spread']:.3f})"
                 for e in receipt["workloads"].values()]
        out.append(f"| `{n}` | " + " | ".join(cells) + f" | {bound(sp):.2f} | {m['bound']} |")
    out += ["", "Cells: median (spread). `setup_s`'s spread is not gated; it takes the "
            "largest bound.", "", "## Traced runs\n",
            "| workload | trace.overhead_ms | loadgen.repeat_share | " +
            " | ".join(SHARES) + " |", "|---|---|---|" + "---|" * len(SHARES)]
    for w, e in receipt["workloads"].items():
        t = e.get("traced", {})
        if not t:
            continue
        fmt = lambda k: ", ".join(f"{v:.3g}" for v in t[k])
        out.append(f"| {w} | {fmt('trace.overhead_ms')} | {fmt('loadgen.repeat_share')} | " +
                   " | ".join(fmt(k) for k in SHARES) + " |")
    out += ["", "Per-statement counts of the first traced pass (seed 101, seed 101 again, "
            "seed 102):", "", "| workload | " + " | ".join(COUNTS) + " |",
            "|---|" + "---|" * len(COUNTS)]
    for w, e in receipt["workloads"].items():
        t = e.get("traced", {})
        if not t:
            continue
        cells = []
        for k in COUNTS:
            v = t[k]
            same = "repeats" if len(v) > 1 and v[0] == v[1] else "differs"
            cells.append(", ".join(f"{x:.6g}" for x in v) + f" ({same} for a seed)")
        out.append(f"| {w} | " + " | ".join(cells) + " |")
    out += ["", "## Run walls (s)\n"]
    for w, e in receipt["workloads"].items():
        out.append(f"- {w}: " + ", ".join(f"{x:.0f}" for x in e["wall_s"]))
    return "\n".join(out) + "\n"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=3)
    ap.add_argument("--out", default=str(BENCH / "receipt"))
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    receipt = {"run_seconds": seconds, "runs": a.runs, "workloads": {}}
    for w in workloads:
        values, walls, extras = {}, [], {}
        for seed in range(1, a.runs + 1):
            res, table, wall = run(w, seed, seconds, 0)
            assert res["correct"], res
            walls.append(round(wall, 1))
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            for k in ("stmt_samples", "passes", "loadgen.repeat_share", "loadgen.late_ms"):
                if k in table:
                    extras.setdefault(k, []).append(table[k])
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()) + f" wall={wall:.0f}s",
                flush=True)
        traced = []
        for seed in ([101] + list(range(101, 100 + a.traced)))[:a.traced]:
            res, table, wall = run(w, seed, seconds, 1)
            assert res["correct"], res
            walls.append(round(wall, 1))
            traced.append({k: v["value"] for k, v in res["metrics"].items()})
        entry = {
            "wall_s": walls,
            "metrics": {k: {"values": v, "median": statistics.median(v), "spread": spread(v)}
                        for k, v in values.items()},
            "run_extras": {k: {"min": min(v), "median": statistics.median(v), "max": max(v)}
                           for k, v in extras.items()},
        }
        if traced:
            keys = traced[0].keys()
            entry["traced"] = {k: [t[k] for t in traced] for k in keys}
        receipt["workloads"][w] = entry
        for k, m in entry["metrics"].items():
            print(f"  {w:14s} {k:14s} median {m['median']:12.4f}  spread {m['spread']:.4f}")
    out = Path(a.out)
    out.mkdir(parents=True, exist_ok=True)
    (out / "steadiness.json").write_text(json.dumps(receipt, indent=1) + "\n")
    (out / "steadiness.md").write_text(markdown(receipt, spec))
    runs = 4 + 22 * len(workloads)
    mean_wall = statistics.mean(x for e in receipt["workloads"].values() for x in e["wall_s"])
    print(f"mean run wall {mean_wall:.1f}s; a full check of {runs} runs takes ~{runs * mean_wall:.0f}s")


if __name__ == "__main__":
    main()
