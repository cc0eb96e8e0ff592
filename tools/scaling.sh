#!/bin/bash
# Scaling bench orchestrator: one fresh JVM per parallelism level;
# warmup + reps run inside one SparkSession per JVM (fresh sessions
# reset JIT profiles via new classloaders). 8g heap — large heaps make
# G1 pathological for this allocation profile (measured 100s+ at 24g
# vs 2s at 8g, level 16). Usage: tools/scaling.sh [nConvs] [reps]
# AMORT_CONVS (default 90000, 0 to skip) adds the fixed-cost
# amortization pass at a larger input — the run where the raw >=0.8
# contract is met (see BASELINE.md sandbox interpretation).
set -e
cd "$(dirname "$0")/.."
CONVS=${1:-30000}
REPS=${2:-6}
AMORT_CONVS=${AMORT_CONVS:-90000}
OUT=/tmp/scaling_results.jsonl
: > $OUT
run_levels() { # $1=convs $2=reps $3=outfile $4=required(1|0)
  : > "$3"
  for LVL in 4 8 16 32; do
    echo "[scaling] convs=$1 level $LVL..." >&2
    before=$(wc -l < "$3")
    GRAFT_XMX=8g SPARK_GRAFT_BENCH_LEVEL=$LVL SPARK_GRAFT_BENCH_CONVS=$1 \
      SPARK_GRAFT_BENCH_PARASCALE=${PARASCALE:-16} \
      SPARK_GRAFT_BENCH_REPS=$2 MAIN=graft.ScalingBench \
      tools/run_verify.sh x y 2>/dev/null | grep -E '^\{' >> "$3" || true
    if [ "$(wc -l < "$3")" = "$before" ]; then
      # a missing level must be LOUD (a silent gap crashes the report
      # with a bare KeyError after the expensive microbenches ran);
      # required levels abort here, next to the failure
      echo "[scaling] ERROR: level $LVL (convs=$1) produced no result" \
        "(bench threw or every rep was rejected for external load)" >&2
      if [ "$4" = "1" ]; then exit 1; fi
    fi
  done
}
run_levels "$CONVS" "$REPS" "$OUT" 1
if [ "$AMORT_CONVS" != "0" ]; then
  AOUT=/tmp/scaling_results_amort.jsonl
  run_levels "$AMORT_CONVS" 4 "$AOUT" 0
  python3 tools/scaling_report.py $OUT $CONVS $REPS $AOUT $AMORT_CONVS
else
  python3 tools/scaling_report.py $OUT $CONVS $REPS
fi
