#!/usr/bin/env python3
"""Emit the repo's live query/test counts (single source of truth for
the numbers quoted in README/round docs — regenerate, don't hand-edit).

- oracle queries: keys of SparkEntry.oracleSql, read from the freshest
  verify dump if one is given, else statically from the query maps.
- ScalaTest tests: static count of test(...) registrations (every spec
  in this repo registers tests statically).
- main-source size: non-blank lines of src/main/scala per package (the
  files directly in each directory), and the DataSourceV2 providers
  registered in META-INF/services.

Usage: python3 tools/counts.py [verifyOutDir]
"""
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def query_count():
    if len(sys.argv) > 1:
        oracle = os.path.join(sys.argv[1], "oracle_sql.json")
        return len(json.load(open(oracle))), "oracle_sql.json"
    # static: every '"name" ->' entry inside the queries maps; the
    # bench artifact cross-checks it when present
    bench = os.path.join(ROOT, "BENCH_FULL.json")
    if os.path.exists(bench):
        return len(json.load(open(bench))["queries"]), "BENCH_FULL.json"
    raise SystemExit("no verify dir given and no BENCH_FULL.json")


def test_count():
    n_tests, n_specs = 0, 0
    out = subprocess.run(
        ["grep", "-rc", r"^\s*test(", "--include=*.scala",
         os.path.join(ROOT, "src/test")],
        capture_output=True, text=True).stdout
    for line in out.splitlines():
        path, _, cnt = line.rpartition(":")
        c = int(cnt)
        if c > 0 and re.search(r"Spec\.scala$", path):
            n_specs += 1
            n_tests += c
    return n_tests, n_specs


def package_lines():
    main = os.path.join(ROOT, "src/main/scala")
    lines = {}
    for d, _, files in os.walk(main):
        n = sum(sum(1 for l in open(os.path.join(d, f)) if l.strip())
                for f in files if f.endswith(".scala"))
        if n:
            lines[os.path.relpath(d, main).replace(os.sep, ".")] = n
    return dict(sorted(lines.items()))


def providers():
    services = os.path.join(ROOT, "src/main/resources/META-INF/services")
    if not os.path.isdir(services):
        return []
    return [l.strip() for f in sorted(os.listdir(services))
            for l in open(os.path.join(services, f))
            if l.strip() and not l.startswith("#")]


if __name__ == "__main__":
    q, src = query_count()
    t, s = test_count()
    print(f"oracle queries: {q} (from {src})")
    print(f"scalatest tests: {t} across {s} spec files (static count)")
    lines = package_lines()
    print(f"non-blank lines under src/main/scala: {sum(lines.values())}")
    for pkg, n in lines.items():
        print(f"  {pkg}: {n}")
    ps = providers()
    print(f"registered providers: {len(ps)} ({', '.join(ps)})")
