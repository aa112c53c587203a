#!/usr/bin/env python3
"""Convert a graft.Bench JSON line into BASELINE_QUERIES.json — the
machine-readable per-query baseline of record (r9 verdict task 5).

Usage: sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | \
           python3 tools/make_baseline.py <round-tag> > BASELINE_QUERIES.json
   or: python3 tools/make_baseline.py <round-tag> < bench_output.json

Judges diff this file programmatically instead of parsing BASELINE.md
prose: each entry is the per-query min-of-N seconds from the recorded
round run, and `anchor_secs` (q28a_jaccard_pairs) is the cross-host
normalizer — compare query_secs/anchor_secs ratios, never raw seconds
(host speed drifts up to ~1.5x between runs; see BASELINE.md).
"""
import json
import sys

from diff_baseline import bench_line

def main():
    tag = sys.argv[1] if len(sys.argv) > 1 else "unspecified"
    bench = bench_line(sys.stdin.read())
    queries = bench["queries"]
    anchor = queries.get("q28a_jaccard_pairs")
    out = {
        "recorded": tag,
        "sf": bench.get("sf"),
        "cpus": bench.get("cpus"),
        "unit": "sec",
        "total_secs": bench.get("value"),
        "anchor_query": "q28a_jaccard_pairs",
        "anchor_secs": anchor,
        "failed": json.loads(bench["failed"]) if isinstance(bench.get("failed"), str)
                  else bench.get("failed", []),
        "queries": {k: queries[k] for k in sorted(queries)},
    }
    json.dump(out, sys.stdout, indent=1, sort_keys=False)
    sys.stdout.write("\n")

if __name__ == "__main__":
    main()
