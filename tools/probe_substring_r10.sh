#!/usr/bin/env bash
# Round-10 follow-up probe (PLANS.md "next probe" commitment): separate
# dedup_substring's g10→g30 super-linear term (~16×/decade at FIXED
# 512 partitions) into spill knee vs algorithm. Two changes vs the first
# g30 leg:
#   - partitions ∝ data: g30 runs at 768 and 1536 so per-partition
#     explosion bytes stay at/below the g10@256 level that was linear;
#   - spill counters (Bench's always-on task-metric listener): the
#     artifact itself says whether executors spilled.
# Like-for-like discipline: g10 baseline re-measured same-session,
# same box, solo legs via tools/run_main.sh.
#
# Usage: tools/probe_substring_r10.sh
set -uo pipefail
cd "$(dirname "$0")/.."
G10=/root/repo/probe/g10
G30=/root/repo/probe/g30

run() { # run <sfdir> <partitions> <repeat> <out>
  SPARK_GRAFT_SF_DIR=$1 SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=96g \
  SPARK_GRAFT_SHUFFLE_PARTITIONS=$2 SPARK_GRAFT_BENCH_REPEAT=$3 \
  SPARK_GRAFT_BENCH_ONLY=dedup_substring \
  BENCH_OUT="$4" \
    tools/run_main.sh graft.Bench > "/tmp/$(basename "$4" .json).log" 2>&1
  tail -1 "/tmp/$(basename "$4" .json).log" | cut -c1-600
}

echo "=== g10 dedup_substring baseline (256 parts, spill on) ==="
run $G10 256 1 probe_g10_substring_spill_r10.json

echo "=== g30 dedup_substring (768 parts = partitions ∝ data) ==="
run $G30 768 1 probe_g30_substring_768_r10.json

echo "=== g30 dedup_substring (1536 parts = headroom bracket) ==="
run $G30 1536 1 probe_g30_substring_1536_r10.json

echo "=== probe complete ==="
