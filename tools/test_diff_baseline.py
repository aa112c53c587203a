#!/usr/bin/env python3
"""Planted-case unit test for tools/diff_baseline.py's dual host-factor
adjudication (run directly: `python3 tools/test_diff_baseline.py`; also
wired into tools/judge_gate.sh).

Case 1 reconstructs the r10 judge-run phantom-regression shape: the
anchor drifts to 0.90x its baseline while every other query drifts
1.40x (uniform host load — 1.40/0.90 = 1.56x anchor-normalized, over
the 1.5 threshold exactly like the judge's 32 phantom flags). The
dual rule must flag NOTHING: under the median normalization every
bulk query sits at 1.0x.

Case 2 plants one genuine regression (3x its baseline) inside the same
skewed-anchor run; it must be flagged — it exceeds the threshold under
both the anchor and the median normalization.

Case 3: a failed query in the run forces exit-worthy output even with
zero regressions.

Case 5: of Bench's two output lines (per-query, then totals-only last),
the parser picks the one carrying "queries", past an sbt "[info] "
prefix, and refuses input that has none.

Case 6: a run taken at another scale factor than the baseline (the
last path component of "sf" differs) is refused with exit code 2 and a
message naming both, not diffed; the same scale factor under another
directory is diffed as usual.

Case 7: a run taken at another core count than the baseline (both
carry "cpus") is refused with exit code 2 and a message naming both;
the same count, or a side without "cpus", is diffed as usual.
"""
import json
import os
import subprocess
import sys
import tempfile

from diff_baseline import bench_line, diff


def _mk(names, base_secs, run_factor):
    base = {"anchor_query": "q28a", "queries": {"q28a": 3.0}}
    run = {"queries": {"q28a": 3.0 * 0.90}, "failed": []}
    for i, n in enumerate(names):
        b = base_secs[i % len(base_secs)]
        base["queries"][n] = b
        run["queries"][n] = b * run_factor
    return base, run


def main() -> int:
    names = [f"q{i:03d}" for i in range(40)]
    secs = [0.2, 0.41, 0.9, 2.0]

    # Case 1: uniform 1.4x drift, anchor at 0.90x — the phantom shape.
    base, run = _mk(names, secs, 1.40)
    r = diff(base, run, threshold=1.5)
    assert r["regressions"] == [], (
        "phantom case flagged regressions: %r" % r["regressions"])
    # the anchor-only witness list carries the bulk instead
    assert len(r["anchor_only"]) == len(names), (
        "expected every bulk query as an anchor-only witness, got %d"
        % len(r["anchor_only"]))
    assert abs(r["median_factor"] - 1.40) < 1e-9
    assert abs(r["anchor_factor"] - 0.90) < 1e-9

    # Case 2: same skewed-anchor host, one genuine 3x regression.
    base, run = _mk(names, secs, 1.40)
    run["queries"]["q007"] = base["queries"]["q007"] * 3.0
    r = diff(base, run, threshold=1.5)
    flagged = [e["name"] for e in r["regressions"]]
    assert flagged == ["q007"], "expected exactly [q007], got %r" % flagged
    e = r["regressions"][0]
    assert e["via_anchor"] > 1.5 and e["via_median"] > 1.5

    # Case 3: run failures surface regardless of timings.
    base, run = _mk(names, secs, 1.0)
    run["queries"]["q28a"] = 3.0
    run["failed"] = ["q_broken"]
    r = diff(base, run, threshold=1.5)
    assert r["failed"] == ["q_broken"]
    assert r["regressions"] == []
    assert not r["broad_regression"]

    # Case 4: code-wide slowdown — every bulk query at 1.7x while the
    # anchor holds 0.90x (host load would move the anchor too). The
    # median absorbs the slowdown so per-query via_median ratios are
    # 1.0x and no individual query is flagged; the broad_regression
    # signature must fire instead of the run exiting clean.
    base, run = _mk(names, secs, 1.70)
    r = diff(base, run, threshold=1.5)
    assert r["regressions"] == [], (
        "broad case should have no per-query flags, got %r" % r["regressions"])
    assert r["broad_regression"], (
        "median %.2f over threshold with anchor %.2f must set broad_regression"
        % (r["median_factor"], r["anchor_factor"]))
    # ...and the phantom shape from Case 1 (median 1.40 under the 1.5
    # threshold) must NOT fire it:
    base, run = _mk(names, secs, 1.40)
    assert not diff(base, run, threshold=1.5)["broad_regression"]

    # Case 5: Bench's capture — the queries line, then the totals line
    # last; both carry "metric", so a grep for it passes both through.
    full = {"metric": "total", "value": 3.5, "queries": {"q28a": 2.7},
            "runs": {"q28a": [2.7, 2.8, 2.9]}, "failed": [], "sf": "sf0.1"}
    totals = {"metric": "total", "value": 3.5, "anchor_ratio": 0.9,
              "failed": 0, "sf": "sf0.1", "cpus": 4}
    capture = "[info] " + json.dumps(full) + "\n" + json.dumps(totals) + "\n"
    assert bench_line(capture) == full, bench_line(capture)
    try:
        bench_line(json.dumps(totals))
        raise AssertionError("a totals-only capture must not parse as a run")
    except ValueError:
        pass

    # Case 6: the command line refuses a cross-scale-factor comparison.
    base, run = _mk(names, secs, 1.0)
    base["sf"] = "/data/testdata/sf0.1"
    tool = os.path.join(os.path.dirname(os.path.abspath(__file__)), "diff_baseline.py")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "baseline.json")
        with open(path, "w") as fh:
            json.dump(base, fh)

        def cli(sf):
            line = dict(run, metric="total", sf=sf)
            return subprocess.run([sys.executable, tool, path], input=json.dumps(line),
                                  capture_output=True, text=True)
        p = cli("/tmp/graft/sf0.01")
        assert p.returncode == 2, (p.returncode, p.stdout)
        assert "sf0.01" in p.stdout and "sf0.1" in p.stdout, p.stdout
        p = cli("/data/sf0.1/")
        assert p.returncode == 0, (p.returncode, p.stdout)

    # Case 7: the command line refuses a cross-core-count comparison.
    with tempfile.TemporaryDirectory() as tmp:
        def cli_cpus(base_cpus, run_cpus):
            b = dict(base)
            if base_cpus is not None:
                b["cpus"] = base_cpus
            path = os.path.join(tmp, "baseline.json")
            with open(path, "w") as fh:
                json.dump(b, fh)
            line = dict(run, metric="total", sf="/data/sf0.1")
            if run_cpus is not None:
                line["cpus"] = run_cpus
            return subprocess.run([sys.executable, tool, path], input=json.dumps(line),
                                  capture_output=True, text=True)
        p = cli_cpus(4, 32)
        assert p.returncode == 2, (p.returncode, p.stdout)
        assert "32" in p.stdout and "4" in p.stdout, p.stdout
        p = cli_cpus(4, 4)
        assert p.returncode == 0, (p.returncode, p.stdout)
        p = cli_cpus(None, 32)
        assert p.returncode == 0, (p.returncode, p.stdout)
        p = cli_cpus(4, None)
        assert p.returncode == 0, (p.returncode, p.stdout)

    print("test_diff_baseline: 7/7 cases pass")
    return 0


if __name__ == "__main__":
    sys.exit(main())
