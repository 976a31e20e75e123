#!/bin/bash
# Run graft.Bench N times, snapshotting target/bench_last.json after each
# successful run (the next run overwrites it).
# Usage: tools/run_bench.sh <tag> <n_runs> [extra jvm opts]
set -u
TAG="${1:?tag}"
N="${2:?n_runs}"
EXTRA="${3:-}"
mkdir -p target/r20
for i in $(seq 1 "$N"); do
  echo "=== run $TAG#$i $(date +%H:%M:%S) extra='$EXTRA' ==="
  # a failed run must not leave the previous run's result to be copied
  rm -f target/bench_last.json
  SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  GRAFT_EXTRA_JVM_OPTS="$EXTRA" \
    sbt "runMain graft.Bench" > "target/r20/bench_${TAG}_${i}.log" 2>&1
  rc=$?
  if [ "$rc" -eq 0 ]; then
    cp -f target/bench_last.json "target/r20/bench_${TAG}_${i}.json" 2>/dev/null
  fi
  echo "rc=$rc $(grep -o '"value":[0-9.]*' "target/r20/bench_${TAG}_${i}.json" 2>/dev/null | head -1)"
  grep -h "bench.watchdog\|anomalous first pass" "target/r20/bench_${TAG}_${i}.log" | head -40
done
echo "=== $TAG done $(date +%H:%M:%S) ==="
