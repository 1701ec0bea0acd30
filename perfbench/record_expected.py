#!/usr/bin/env python3
"""Records the expected query fingerprints into expected.json.

    python3 perfbench/record_expected.py

Runs every query workload three times (seeds 1..3, so each run orders the
queries differently) and keeps, per query, the content fold that every
execution produced. A query whose fold does not repeat exactly (float
aggregates whose summation order follows task timing) is checked by row
count instead and listed under "row_count_only" with the reason. Run it
only when a query's output is meant to change.
"""
import argparse
import json
import os
import sys
import time

import run as bench


RUNS = 3


def main():
    with open(os.path.join(bench.HERE, "workloads.json")) as f:
        workloads = json.load(f)
    home = bench.spark_home()
    os.makedirs(bench.BUILD_DIR, exist_ok=True)
    bench.build(bench.source_digest(), home)
    expected = {}
    for name, spec in workloads.items():
        if not spec.get("queries"):
            continue
        seen = {}
        for seed in range(1, RUNS + 1):
            args = argparse.Namespace(workload=name, seed=seed, seconds=1, trace=0)
            rc, recs, _ = bench.run_harness(spec, args, home, time.time() + bench.RUN_LIMIT_S)
            for q in recs:
                if q["k"] == "query":
                    if q["error"]:
                        sys.exit(f"{name}: {q['name']} failed: {q['error']}")
                    seen.setdefault(q["name"], set()).add((q["rows"], q["hi"], q["lo"]))
        queries, rowcount = {}, {}
        for q, prints in sorted(seen.items()):
            rows = {p[0] for p in prints}
            if len(rows) > 1:
                sys.exit(f"{name}: {q} returns a varying row count {sorted(rows)}")
            p = sorted(prints)[0]
            queries[q] = {"rows": p[0], "hi": p[1], "lo": p[2]}
            if len(prints) > 1:
                rowcount[q] = (f"fold differed across {RUNS} runs ({len(prints)} distinct "
                               "values): float results depend on summation order")
        expected[name] = {"queries": queries, "row_count_only": rowcount}
        print(f"{name}: {len(queries)} queries, {len(rowcount)} checked by row count")
    with open(os.path.join(bench.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
