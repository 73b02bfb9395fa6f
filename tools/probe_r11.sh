#!/usr/bin/env bash
# Round-11 scale probes (VERDICT r10, next-round #4 and #6), re-scoped
# after in-session calibration legs (see PLANS.md round-11 ledger):
# this session's g10 pagerank measured 332 s plain / 529 s with
# zstd+periodicGC (a 1.59x config tax) against r10's committed 58.5 s
# min-of-3 — the cross-session ambient gap is now ~2.7x on first
# repeats, so NOTHING is comparable across sessions and every ratio
# below is within-session at identical settings. With the calibrated
# absolutes the original six-leg double ladder does not fit the round's
# wall clock next to the mandatory final CI; what fits and still
# answers the asks:
#
#   - graph_pagerank g10 -> g30 (fixed shape, GC insurance on both
#     legs, no zstd): confirms the r10 linearity claim with a COMMITTED
#     artifact (the 203.9 s g30 record had none) at one decade step;
#   - dedup_substring g10 -> g100 (zstd on both legs, partitions ∝
#     data 256 -> 2560, spill counters on): the FULL decade in one
#     session — the strongest slope statement yet for the heaviest
#     operator; zstd halves the window sort's on-disk shuffle, which at
#     g100 would otherwise exceed the free disk.
#
# Graph tables are deleted between the phases (regenerable:
# GenData <dir> <sf> orders,lineitem); a df poller per leg records
# free-disk-over-time so a disk-capped DNF is diagnosable.
#
# Usage: tools/probe_r11.sh   (requires `sbt compile`; run NOTHING else)
set -uo pipefail
cd "$(dirname "$0")/.."
G10=/root/repo/probe/g10
G30=/root/repo/probe/g30
G100=/root/repo/probe/g100
ZSTD="-Dspark.io.compression.codec=zstd"
GC="-Dspark.cleaner.periodicGC.interval=45s"

run() { # run <sfdir> <partitions> <query> <out> <extra_java_opts>
  local base; base=$(basename "$4" .json)
  local poll="/tmp/${base}.df"
  : > "$poll"
  ( while true; do
      echo "$(date -u +%T) $(df --output=avail -BG / | tail -1 | tr -d ' ')" >> "$poll"
      sleep 20
    done ) & local pollpid=$!
  EXTRA_JAVA_OPTS="$5" \
  SPARK_GRAFT_SF_DIR=$1 SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=96g \
  SPARK_GRAFT_SHUFFLE_PARTITIONS=$2 SPARK_GRAFT_BENCH_REPEAT=1 \
  SPARK_GRAFT_BENCH_ONLY="$3" BENCH_OUT="$4" \
    tools/run_main.sh graft.Bench > "/tmp/${base}.log" 2>&1
  kill "$pollpid" 2>/dev/null || true
  echo "--- $4 (min free disk: $(sort -t' ' -k2 -V "$poll" | head -1))"
  tail -1 "/tmp/${base}.log" | cut -c1-500
}

echo "=== phase 1: graph_pagerank fixed shape, g10 -> g30 (GC insurance, no zstd) ==="
run "$G10" 256 graph_pagerank probe_g10_pagerank_r11.json "$GC"
run "$G30" 768 graph_pagerank probe_g30_pagerank_r11.json "$GC"

echo "=== phase 2: free the graph tables ==="
rm -rf "$G10/lineitem.parquet" "$G10/orders.parquet" \
       "$G30/lineitem.parquet" "$G30/orders.parquet" \
       "$G100/lineitem.parquet" "$G100/orders.parquet"
df -h / | tail -1

echo "=== phase 3: dedup_substring, g10 -> g30 (zstd, partitions ∝ data) ==="
# What actually ran in round 11 (this matches the committed artifacts
# probe_g{10,30}_substring_r11.json). The g100 leg originally planned
# here was deferred — the in-session calibration showed it would not
# fit beside the mandatory final CI — and is round 12's lead item
# (tools/probe_r12.sh).
run "$G10" 256 dedup_substring probe_g10_substring_r11.json "$ZSTD"
run "$G30" 768 dedup_substring probe_g30_substring_r11.json "$ZSTD"

echo "=== probe_r11 complete ==="
