#!/usr/bin/env bash
# Full local round cycle: tests → verify+oracle selfcheck → bench → plans.
# Mirrors what the driver runs, so regressions surface before the round ends.
set -euo pipefail
cd "$(dirname "$0")/.."
# cores: the machine's, unless SPARK_GRAFT_CPUS is set
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
# the generated sf0.001/sf0.01/sf0.1 table sets
TESTDATA="${GRAFT_TESTDATA:-$HOME/testdata}"

echo "== sbt test =="
sbt -batch test 2>&1 | grep -E "Tests: |FAILED" | head -3

# Verify <sfDir> into a fresh <outDir>: a key that fails must not leave
# an earlier run's parquet for selfcheck to pass, and a failed key (Verify
# exits 1) stops the round after its `[verify] N failed: …` line
verify() {
  rm -rf "$2"
  SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Verify $1 $2" 2>&1 \
    | { grep -E "\[verify\].*failed" || true; } \
    || { echo "verify failed on $1: round stopped" >&2; exit 1; }
}

echo "== verify sf0.01 + duckdb selfcheck =="
verify $TESTDATA/sf0.01 /tmp/vout
python3 tools/selfcheck.py /tmp/vout $TESTDATA/sf0.01 | tail -3

echo "== verify sf0.001 + duckdb selfcheck =="
# scale-dependent value coincidences (round-half ties) show up at one
# SF and not another — always check both
verify $TESTDATA/sf0.001 /tmp/vout001
python3 tools/selfcheck.py /tmp/vout001 $TESTDATA/sf0.001 | tail -3

echo "== bench sf0.1 =="
# default heap: half of MemTotal, clamped to 2-8 GiB
MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"
SPARK_GRAFT_SF_DIR=$TESTDATA/sf0.1 SPARK_GRAFT_CPUS=$CPUS \
  SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-$MEM} \
  sbt -batch "runMain graft.Bench" 2>&1 | grep -oE '\{"metric".*'

echo "== plans =="
ROUND="${ROUND:-7}"
sbt -batch "runMain graft.Plans $TESTDATA/sf0.01 PLANS_r${ROUND}.md" 2>&1 | grep wrote
grep -c "ERROR:" "PLANS_r${ROUND}.md" && echo "plan errors present!" || echo "plans clean"
