#!/usr/bin/env bash
# Round-12 scale probes (VERDICT r11, next-round #1): the dedup_substring
# g100 leg, twice deferred, with a SAME-SESSION g30 anchor so the slope
# is within-session like-for-like (the calibration ledger measured ~2.7x
# cross-session ambient drift — no number from a prior session is a
# valid denominator).
#
# Ladder (both legs zstd, partitions ∝ data, spill counters on):
#   - dedup_substring g30 @ 768  (anchor; r11 same leg was 2447 s)
#   - dedup_substring g100 @ 2560 (the decade; projected shuffle
#     ~53 GB live under zstd vs ~78 GB free — zstd is what makes the
#     leg fit this disk at all; a df poller per leg records free disk
#     over time so a disk-capped DNF is diagnosable)
# Optional (only if wall allows after the substring decade):
#   tools/probe_r12.sh pagerank   — graph_pagerank g100 (regenerate
#   orders/lineitem first: GenData probe/g100 100 orders,lineitem).
#
# The probe runs from a FROZEN copy of the compiled classes so feature
# work can `sbt compile` mid-probe without the running JVM lazily
# loading a half-rewritten class.
#
# Usage: tools/probe_r12.sh [pagerank]
set -uo pipefail
cd "$(dirname "$0")/.."
G30=/root/repo/probe/g30
G100=/root/repo/probe/g100
ZSTD="-Dspark.io.compression.codec=zstd"
GC="-Dspark.cleaner.periodicGC.interval=45s"

FROZEN=/tmp/graft_probe_classes_r12
rm -rf "$FROZEN"
cp -r target/scala-2.13/classes "$FROZEN"

run() { # run <sfdir> <partitions> <query> <out> <extra_java_opts>
  local base; base=$(basename "$4" .json)
  local poll="/tmp/${base}.df"
  : > "$poll"
  ( while true; do
      echo "$(date -u +%T) $(df --output=avail -BG / | tail -1 | tr -d ' ')" >> "$poll"
      sleep 20
    done ) & local pollpid=$!
  GRAFT_CLASSES="$FROZEN" EXTRA_JAVA_OPTS="$5" \
  SPARK_GRAFT_SF_DIR=$1 SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=96g \
  SPARK_GRAFT_SHUFFLE_PARTITIONS=$2 SPARK_GRAFT_BENCH_REPEAT=1 \
  SPARK_GRAFT_BENCH_ONLY="$3" BENCH_OUT="$4" \
    tools/run_main.sh graft.Bench > "/tmp/${base}.log" 2>&1
  kill "$pollpid" 2>/dev/null || true
  echo "--- $4 (min free disk: $(sort -t' ' -k2 -V "$poll" | head -1))"
  tail -1 "/tmp/${base}.log" | cut -c1-500
}

if [ "${1:-}" = "pagerank" ]; then
  echo "=== optional phase: graph_pagerank g100 (GC insurance, no zstd) ==="
  run "$G100" 2560 graph_pagerank probe_g100_pagerank_r12.json "$GC"
  echo "=== probe_r12 pagerank complete ==="
  exit 0
fi

echo "=== phase 1: dedup_substring g30 anchor (zstd, 768) ==="
run "$G30"  768  dedup_substring probe_g30_substring_r12.json  "$ZSTD"

echo "=== phase 2: dedup_substring g100 — the decade (zstd, 2560) ==="
run "$G100" 2560 dedup_substring probe_g100_substring_r12.json "$ZSTD"

echo "=== probe_r12 complete ==="
