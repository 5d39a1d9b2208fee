#!/bin/bash
# Repeat protocol: N same-day repeats of each query, ONE JVM per query
# per rep.  A fresh process per run means an OOM in one run cannot
# poison the next, and each block manager holds a single query's
# shuffle files: with several queries per JVM the ContextCleaner frees
# them lazily, so later queries can land on the local-disk ceiling and
# one death cascades into the next query (sf100, round 11).
# Heap and session shuffle partitions come from the environment
# (SPARK_GRAFT_DRIVER_MEM / SPARK_GRAFT_SHUFFLE_PARTITIONS) so arms can
# pin their conditions explicitly.  Aggregate the per-rep JSONs with
# scripts/aggregate_repeats.py '<outprefix>_rep*.json'.
# Usage: repeat_scale.sh <sf_dir> <queries> <reps> <outprefix>
#   <queries>: space- or comma-separated query names
set -u
SF_DIR=$1; QUERIES=$2; REPS=$3; PREFIX=$4
BENCH_SCALE="$(dirname "$0")/bench_scale.py"
for i in $(seq 1 "$REPS"); do
  for q in ${QUERIES//,/ }; do
    echo "=== rep $i $q @ $SF_DIR heap=${SPARK_GRAFT_DRIVER_MEM:-8g} parts=${SPARK_GRAFT_SHUFFLE_PARTITIONS:-128} start $(date -u +%H:%M:%S) ==="
    SCALE_QUERIES="$q" timeout 5400 python "$BENCH_SCALE" \
      "$SF_DIR" "${PREFIX}_rep${i}_${q}.json" 2>&1 \
      | grep -v "^\[Stage" | grep -E "^(q|\{)" || echo "rep $i $q: run died"
  done
done
echo "=== all reps done $(date -u +%H:%M:%S) ==="
