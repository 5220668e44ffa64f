#!/bin/bash
# Scale-evidence chain for one round: the full suite at sf0.1 and at
# the 10x/30x/100x scaled copies (tools/gen_scaled_sf.py, expected at
# /tmp/sf1, /tmp/sf3, /tmp/sf10), one point at a time through
# tools/run_bench.sh on an otherwise idle machine. Each point's JSON
# lands in bench_points_r<round>/ as soon as it completes, so a cut
# chain still leaves its finished points; tools/assemble_scale.py then
# writes BENCH_r<round>_scale.json.
#   sf0.1      interleaved median-of-3 (run_bench.sh's default data
#              dir), also copied to the tracked BENCH_local.json
#   sf1, sf10  warm mode, reps=1
#   sf3        last and optional: skipped when /tmp/sf3 is absent
# Usage: tools/scale_chain.sh <round>
#   CLASSES and SPARK_GRAFT_CPUS pass through to run_bench.sh.
set -e
cd "$(dirname "$0")/.."
ROUND=${1:?usage: tools/scale_chain.sh <round>}
POINTS=bench_points_r$ROUND
mkdir -p "$POINTS"
unset SPARK_GRAFT_ONLY

point() { # label sf_dir warm reps
  local out=$POINTS/bench_r${ROUND}_$1.json
  echo "=== bench $1 -> $out (warm=$3 reps=$4) $(date +%T) ==="
  SPARK_GRAFT_BENCH_OUT=$out SPARK_GRAFT_BENCH_WARM=$3 SPARK_GRAFT_REPS=$4 \
    tools/run_bench.sh "$2"
}

point sf0.1 "" 0 3
cp "$POINTS/bench_r${ROUND}_sf0.1.json" BENCH_local.json
point sf1 /tmp/sf1 1 1
point sf10 /tmp/sf10 1 1
if [ -d /tmp/sf3 ]; then point sf3 /tmp/sf3 1 1; else echo "sf3 data absent - skipped"; fi
python3 tools/assemble_scale.py "$ROUND"
echo "=== CHAIN_DONE $(date +%T) ==="
