#!/usr/bin/env python3
"""Summarises benchmark run records, one series per workload, trace mode and
source state, with each metric's median, quartiles and spread (quartile
distance over median). Refuses to put runs from different hosts (core count,
memory, architecture) in one table.

    python3 perfbench/compare.py perfbench/.work/results/*.json
"""
import json
import statistics
import sys
from collections import defaultdict

HOST_KEYS = ("nproc", "mem_total_bytes", "machine")


def main(paths):
    records = [r for r in (json.load(open(p)) for p in paths) if "provenance" in r]
    if not records:
        sys.exit("no run records given")
    hosts = {tuple(r["provenance"][k] for k in HOST_KEYS) for r in records}
    if len(hosts) > 1:
        print(f"refusing to compare runs from different hosts {sorted(hosts)} "
              f"(keys {HOST_KEYS})", file=sys.stderr)
        sys.exit(2)
    series = defaultdict(list)
    for r in records:
        p = r["provenance"]
        source = p["git_commit"] or p["source_digest"][:12]
        series[(r["workload"], r["trace"], source)].append(r["result"])
    print(f"host: {dict(zip(HOST_KEYS, hosts.pop()))}")
    for (workload, trace, source), results in sorted(series.items()):
        failed = sum(x["failed"] for x in results)
        attempted = sum(x["attempted"] for x in results)
        print(f"\n{workload} trace={trace} source={source}: {len(results)} runs, "
              f"{failed}/{attempted} calls failed")
        for name in results[0]["metrics"]:
            vals = [x["metrics"][name]["value"] for x in results]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / abs(med) if med else float("nan")
            print(f"  {name:45s} median {med:12.4f} {results[0]['metrics'][name]['unit']:8s} "
                  f"q1 {q1:12.4f} q3 {q3:12.4f} spread {spread:6.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
