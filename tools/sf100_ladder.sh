#!/bin/bash
# Opportunistic SF100 ladder (verdict r14 #1): cheap q01 pre-flight
# anchor probe first; launch the full SF100 section only when the
# anchor sits within the healthy calibration band (~1.5x of the 3.9s
# healthy q01), so the expensive full-protocol section (best-of-3 +
# DS heavies + controls) never runs into a degraded host window.
#
# Usage: tools/sf100_ladder.sh [anchor_max_sec] [max_probe_attempts]
# Run SOLO — co-tenant sbt/spark work contaminates the measurement.
set -u
cd "$(dirname "$0")/.."
ANCHOR_MAX=${1:-5.8}
ATTEMPTS=${2:-6}
PROBE_LOG=/tmp/sf100_probe.log

for i in $(seq 1 "$ATTEMPTS"); do
  echo "[ladder] pre-flight probe $i/$ATTEMPTS ..."
  # time-only AbProbe: 3 runs under the bench's sf100 session profile, on
  # the bench's core count (Bench defaults to 32, AbProbe to nproc)
  SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
    sbt -batch "runMain graft.tools.AbProbe data/sf100 q01_agg 3" \
    > "$PROBE_LOG" 2>&1
  ANCHOR=$(grep -o '\[ab\] q01_agg run [0-9]*: [0-9.]*' "$PROBE_LOG" \
    | awk '{print $5}' | sort -n | head -1)
  if [ -z "$ANCHOR" ]; then
    echo "[ladder] probe produced no timing — see $PROBE_LOG"; exit 2
  fi
  echo "[ladder] probe $i anchor min: ${ANCHOR}s (band <= ${ANCHOR_MAX}s)"
  if awk "BEGIN{exit !($ANCHOR <= $ANCHOR_MAX)}"; then
    echo "[ladder] window healthy — launching the SF100 section"
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_GRAFT_SF10_DIR=/nonexistent \
    SPARK_GRAFT_SF1_DIR=/nonexistent \
    SPARK_GRAFT_SKIP_STREAM=1 \
    SPARK_GRAFT_TOTAL_BUDGET_SEC=5400 \
    SPARK_GRAFT_SF100_BUDGET_SEC=3600 \
    SPARK_GRAFT_SF100_ANCHOR_MAX="$ANCHOR_MAX" \
      sbt -batch "runMain graft.Bench" 2>&1 | tail -40
    exit $?
  fi
  echo "[ladder] window degraded — waiting 10 min before the next probe"
  sleep 600
done
echo "[ladder] no healthy window found in $ATTEMPTS probes"
exit 3
