#!/usr/bin/env python3
"""Paired, interleaved A/B runs of the pump benchmark on two tree copies.

    python3 tools/pump_ab.py --parent <tree> --change <tree> \\
        --workload live_tcp --seeds 9501-9510 [--seconds 20] [--out runs.jsonl]
    python3 tools/pump_ab.py --from runs.jsonl [more.jsonl ...]

For each seed it runs `perfbench/run.py --trace 0` once in each tree, one
after the other, and alternates which tree goes first. Every summary line
is kept, one JSON object per run, in `--out` (default
`.bench_build/pump_ab/<workload>-<seeds>.jsonl` in this tree). The runs'
stderr goes to the same path with `.log` appended. `--from` re-prints the
table from kept files without running anything.

For each end-to-end metric of BENCHMARK.json the table gives each side's
median and quartiles, the parent's IQR, change/parent as a ratio of the
medians, pair wins (ties count for neither side), whether the change's
median is inside the metric's regression bound, and whether a gain holds
under the paired-run rule: the change wins at least 9 of 10 pairs and the
medians differ by more than the parent's IQR. A pair counts only when both
runs were valid and correct (exit 0).
"""

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
from report import quartiles  # noqa: E402

SIDES = ("parent", "change")


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_one(tree, workload, seed, seconds, log):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    with open(log, "a") as err:
        err.write(f"\n=== {tree}: {' '.join(cmd)}\n")
        err.flush()
        p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = p.stdout.strip().splitlines()
    summary = json.loads(lines[-1]) if p.returncode in (0, 1) and lines else None
    return {"exit": p.returncode, "wall_s": round(time.time() - t0, 1), "summary": summary}


def run_pairs(a):
    seeds = seed_range(a.seeds)
    out = a.out or os.path.join(ROOT, ".bench_build", "pump_ab", f"{a.workload}-{a.seeds}.jsonl")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    trees = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for i, seed in enumerate(seeds):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for pos, side in enumerate(order):
            r = run_one(trees[side], a.workload, seed, a.seconds, out + ".log")
            r.update({"side": side, "seed": seed, "first": pos == 0, "workload": a.workload,
                      "seconds": a.seconds})
            with open(out, "a") as fh:
                fh.write(json.dumps(r) + "\n")
            print(f"[pump_ab] seed {seed} {side}: exit {r['exit']} in {r['wall_s']} s", file=sys.stderr)
    return [out]


def load(paths):
    runs = []
    for p in paths:
        with open(p) as fh:
            runs += [json.loads(line) for line in fh if line.strip()]
    return runs


def fmt(v):
    return f"{v:.4g}"


def report(runs, spec):
    for workload in sorted({r["workload"] for r in runs}):
        by_seed = {}
        bad = 0
        for r in runs:
            if r["workload"] != workload:
                continue
            if r["exit"] != 0:
                bad += 1
                continue
            by_seed.setdefault(r["seed"], {})[r["side"]] = r["summary"]["metrics"]
        pairs = [s for s in sorted(by_seed) if len(by_seed[s]) == 2]
        print(f"\n== {workload}: {len(pairs)} valid pairs (seeds {pairs[0] if pairs else '-'}"
              f"..{pairs[-1] if pairs else '-'}), {bad} runs invalid, failed or crashed")
        if not pairs:
            continue
        header = ["metric", "unit", "parent med", "parent q1..q3", "change med", "change q1..q3",
                  "parent IQR", "change/parent", "wins", "bound", "in bound", "gain holds"]
        rows = []
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            vals = {s: [by_seed[k][s][name]["value"] for k in pairs] for s in SIDES}
            (pq1, pmed, pq3), (cq1, cmed, cq3) = (quartiles(vals[s]) for s in SIDES)
            wins = sum((c < p) if lower else (c > p) for p, c in zip(vals["parent"], vals["change"]))
            ratio = cmed / pmed if pmed else float("nan")
            in_bound = (ratio <= 1 + m["bound"]) if lower else (ratio >= 1 - m["bound"])
            better = (cmed < pmed) if lower else (cmed > pmed)
            holds = better and wins >= 0.9 * len(pairs) and abs(cmed - pmed) > pq3 - pq1 \
                and len(pairs) >= 10
            rows.append([name, m["unit"], fmt(pmed), f"{fmt(pq1)}..{fmt(pq3)}", fmt(cmed),
                         f"{fmt(cq1)}..{fmt(cq3)}", fmt(pq3 - pq1), f"{ratio:.3f}",
                         f"{wins}/{len(pairs)}", m["bound"], "yes" if in_bound else "NO",
                         "yes" if holds else "no"])
        widths = [max(len(str(r[i])) for r in rows + [header]) for i in range(len(header))]
        for r in [header] + rows:
            print("  " + "  ".join(str(c).rjust(w) for c, w in zip(r, widths)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="first-last, e.g. 9501-9510")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    ap.add_argument("--from", dest="kept", nargs="+", help="print the table from kept files")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.kept:
        paths = a.kept
    else:
        if None in (a.parent, a.change, a.workload, a.seeds):
            ap.error("--parent, --change, --workload and --seeds are required without --from")
        a.seconds = a.seconds or spec["run_seconds"]
        paths = run_pairs(a)
    report(load(paths), spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
