#!/usr/bin/env bash
# One-command verification gate (r11, VERDICT item 6) — the five-step
# check the judge re-ran by hand in r10, scripted. Exits nonzero on any
# red. Builder pre-commit loop and the r11+ judge both run THIS instead
# of reconstructing the session's verification sequence.
#
# Usage:
#   tools/judge_gate.sh                      # fastTest + full selfcheck@sf0.01
#   tools/judge_gate.sh q25_json_funcs ...   # + bench subset & selfcheck
#                                            #   restricted to touched queries
#
# Env: SPARK_GRAFT_SF_DIR (bench data, default /root/testdata/sf0.1),
#      JUDGE_GATE_SKIP_TESTS=1 to skip the fastTest lane (when a full
#      `sbt test` already ran on the identical tree),
#      JUDGE_GATE_SFS — space-separated list of sf dirs for the
#      Verify+selfcheck lane (default /root/testdata/sf0.01; set to
#      "/root/testdata/sf0.001 /root/testdata/sf0.01 /root/testdata/sf0.1"
#      to prove exactness at all three scale factors in one gate run),
#      JUDGE_GATE_SWEEP — config-invariance lane: "touched" (default;
#      sweeps the queries passed as args, skips quietly with none),
#      "all" (full 221-query sweep, ~35 min), "0" to skip.
set -u
cd "$(dirname "$0")/.."
FAIL=0
red() { echo "JUDGE_GATE RED: $*" >&2; FAIL=1; }

echo "== 1/5 diff_baseline planted unit test"
python3 tools/test_diff_baseline.py || red "test_diff_baseline failed"

if [ "${JUDGE_GATE_SKIP_TESTS:-0}" != "1" ]; then
  echo "== 2/5 sbt fastTest (suites not tagged Slow; ~6 min)"
  sbt -batch fastTest > /tmp/judge_gate_fasttest.log 2>&1 \
    || red "fastTest failed (tail of /tmp/judge_gate_fasttest.log):$(tail -5 /tmp/judge_gate_fasttest.log)"
  grep -E "Tests: succeeded" /tmp/judge_gate_fasttest.log | tail -1
else
  echo "== 2/5 fastTest SKIPPED (JUDGE_GATE_SKIP_TESTS=1)"
fi

echo "== 3/5 Verify + DuckDB selfcheck (sfs: ${JUDGE_GATE_SFS:-/root/testdata/sf0.01})"
for SF in ${JUDGE_GATE_SFS:-/root/testdata/sf0.01}; do
  OUT="/tmp/judge_gate_verify_$(basename "$SF")"
  # A stale dump from a previous run would let selfcheck validate OLD
  # parquet and report GREEN on a broken tree — wipe it first, and red
  # on the sbt step's own exit status (the grep pipeline used to
  # swallow it).
  rm -rf "$OUT"
  SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 \
    | grep "\[verify\]" | tail -3
  if [ "${PIPESTATUS[0]}" != "0" ]; then red "Verify run failed at $SF (sbt exit nonzero)"; continue; fi
  # Verify prints "[verify] done: N/M dumped"; a throwing query prints a
  # "failed:" line and leaves no parquet — selfcheck then reds on it.
  if [ "$#" -gt 0 ]; then
    python3 tools/selfcheck.py "$SF" "$OUT" "$@" || red "selfcheck (touched) failed at $SF"
  else
    python3 tools/selfcheck.py "$SF" "$OUT" || red "selfcheck (all) failed at $SF"
  fi
done

echo "== 4/5 bench subset vs BASELINE_QUERIES.json"
SFDIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
if [ "$#" -gt 0 ]; then
  # anchor rides along for the drift-witness line in the output
  SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS=32 \
    sbt -batch "runMain graft.Bench $* q28a_jaccard_pairs" 2>&1 \
    | grep '"metric"' | sed 's/^\[info\] //' | tee /tmp/judge_gate_bench.json \
    | python3 -c '
import json, sys
sys.path.insert(0, "tools")
from diff_baseline import bench_line
d = bench_line(sys.stdin.read())  # Bench prints the queries line, then a totals line
failed = d.get("failed", [])
if isinstance(failed, str):
    failed = json.loads(failed)
print("bench subset:", {k: round(v, 2) for k, v in d["queries"].items()})
if failed:
    print("JUDGE_GATE RED: bench failures:", failed); sys.exit(1)
# Subset mode pre-warms memos (see .claude/skills/verify) and one subset
# run is min-of-3 at best — timings here are a witness, not a verdict.
# Full adjudication = full bench piped to tools/diff_baseline.py.
' || red "bench subset failed"
else
  echo "   (no touched queries given — full-bench adjudication is:"
  echo "    SPARK_GRAFT_SF_DIR=$SFDIR sbt -batch 'runMain graft.Bench' | grep metric | python3 tools/diff_baseline.py)"
fi

echo "== 5/5 execution-config invariance sweep (graft.ConfigSweep)"
# Results must be bit-identical under shuffle-partition-count / AQE /
# broadcast / codegen / join-strategy / split-size / spill-threshold
# variants — the knobs a real cluster changes (CONFIGSWEEP.json is the
# full-surface record; this lane re-proves the touched subset).
case "${JUDGE_GATE_SWEEP:-touched}" in
  0|off)
    echo "   SKIPPED (JUDGE_GATE_SWEEP=0)";;
  all)
    SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.ConfigSweep /root/testdata/sf0.01" \
      > /tmp/judge_gate_sweep.log 2>&1 \
      || red "config sweep (all): config-dependent result or run failure (CONFIGSWEEP.json, /tmp/judge_gate_sweep.log)"
    grep '"metric"' /tmp/judge_gate_sweep.log | sed 's/^\[info\] //' | tail -1;;
  *)
    if [ "$#" -gt 0 ]; then
      QS=$(printf '%s,' "$@"); QS="${QS%,}"
      SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.ConfigSweep --queries $QS /root/testdata/sf0.01" \
        > /tmp/judge_gate_sweep.log 2>&1 \
        || red "config sweep (touched): config-dependent result or run failure (/tmp/judge_gate_sweep.log)"
      grep '"metric"' /tmp/judge_gate_sweep.log | sed 's/^\[info\] //' | tail -1
    else
      echo "   (no touched queries — full sweep: JUDGE_GATE_SWEEP=all, ~35 min)"
    fi;;
esac

if [ "$FAIL" = "0" ]; then echo "JUDGE_GATE GREEN"; else echo "JUDGE_GATE RED"; fi
exit "$FAIL"
