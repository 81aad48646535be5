"""Summarise benchmark run files.

    python3 perfbench/report.py [run files or directories ...]

Default input: `.bench_build/perfbench/runs/`. For each workload it prints
every end-to-end metric of the timed runs (`--trace 0`) as median and
quartiles with the spread (IQR / median), the same for the traced runs
(`--trace 1`), the tracing overhead (traced median minus timed median),
and the per-layer medians and span self times of the traced runs.
Runs that were invalid or failed their checks are counted and skipped.
"""

import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def load(paths):
    files = []
    for p in paths or [run.RUNS]:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    runs = []
    for f in files:
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def table(rows, header):
    widths = [max(len(str(r[i])) for r in rows + [header]) for i in range(len(header))]
    for r in [header] + rows:
        print("  " + "  ".join(str(c).rjust(w) for c, w in zip(r, widths)))


def fmt(v):
    return f"{v:.4g}"


def main():
    runs = load(sys.argv[1:])
    groups = {}
    skipped = 0
    for r in runs:
        if r.get("error") or not r.get("valid") or not r.get("correct"):
            skipped += 1
            continue
        key = (r["workload"], r["master"], r["seconds"])
        groups.setdefault(key, {"timed": [], "traced": []})["traced" if r["trace"] else "timed"].append(r)
    if skipped:
        print(f"skipped {skipped} invalid, failed or crashed runs")
    for (workload, master, seconds), g in sorted(groups.items()):
        print(f"\n== {workload}, {master}, {seconds:g} s: "
              f"{len(g['timed'])} timed, {len(g['traced'])} traced runs")
        rows = []
        for name, unit in run.END_TO_END.items():
            row = [name, unit]
            medians = {}
            for kind in ("timed", "traced"):
                vals = [r["e2e"][name] for r in g[kind]]
                if vals:
                    q1, med, q3 = quartiles(vals)
                    medians[kind] = med
                    row += [fmt(med), f"{fmt(q1)}..{fmt(q3)}", f"{(q3 - q1) / med:.3f}" if med else "-"]
                else:
                    row += ["-", "-", "-"]
            row.append(fmt(medians["traced"] - medians["timed"]) if len(medians) == 2 else "-")
            rows.append(row)
        table(rows, ["metric", "unit", "timed", "q1..q3", "spread", "traced", "q1..q3",
                     "spread", "overhead"])
        if g["traced"]:
            print("  per layer (traced medians):")
            rows = []
            for name, unit in run.PER_LAYER.items():
                vals = [r["per_layer"][name] for r in g["traced"] if name in r["per_layer"]]
                if vals:
                    rows.append([name, unit, fmt(statistics.median(vals))])
            table(rows, ["metric", "unit", "median"])
            print("  span self time, ms (median over traced runs of each run's per-batch median):")
            names = sorted({n for r in g["traced"] for n in r.get("self_ms_p50", {})})
            table([[n, fmt(statistics.median([r["self_ms_p50"][n] for r in g["traced"]
                                              if n in r.get("self_ms_p50", {})]))]
                   for n in names], ["span", "self_ms"])


if __name__ == "__main__":
    main()
