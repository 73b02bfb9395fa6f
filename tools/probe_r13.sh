#!/usr/bin/env bash
# Round-13 scale probes (VERDICT r12, next-round #1 and #3):
#
#   pagerank  — graph_pagerank g30 anchor + g100 decade under the
#               round-13 serialized materialization (MEMORY_AND_DISK_SER
#               via Q.level) + zstd shuffle codec + spark.rdd.compress=true.
#               The r12 three-run DNF matrix isolated the two failure
#               terms this config removes: uncompressed disk overflow of
#               deserialized localCheckpoint blocks (rdd.compress) and
#               the deserialized-rows heap term (SER blocks). Ladder:
#               g30 @ 768 partitions (same-session anchor), g100 @ 2560.
#   knn       — sim_knn_clusters g10 leg (never probed past sf0.1;
#               second-slowest bench query). g10 @ 256 partitions with a
#               same-session g1 anchor @ 64.
#
# Both legs record spill counters in-artifact and a df poller per leg so
# a disk-capped DNF is diagnosable (r12 convention). Probes run from a
# FROZEN copy of the compiled classes so feature work can `sbt compile`
# mid-probe without the running JVM lazily loading a half-written class.
#
# Usage: tools/probe_r13.sh pagerank | knn
set -uo pipefail
cd "$(dirname "$0")/.."
G1=/root/repo/probe/g1
G10=/root/repo/probe/g10
G30=/root/repo/probe/g30
G100=/root/repo/probe/g100
# zstd shuffle codec + compressed cache-block spill: the measured
# fits-on-this-disk config from the r12 matrix (55G free flat at g100).
# Heartbeat/network timeouts raised for probe legs only: local-mode
# "executor" eviction is pure self-harm (the executor IS the driver),
# and the first r13 g30 attempt died exactly that way — a 152 s driver
# freeze under ambient load tripped the 120 s heartbeat timeout and the
# HeartbeatReceiver shut the context down mid-leg.
ZR="-Dspark.io.compression.codec=zstd -Dspark.rdd.compress=true -Dspark.cleaner.periodicGC.interval=45s -Dspark.network.timeout=600s -Dspark.executor.heartbeatInterval=60s"

FROZEN=/tmp/graft_probe_classes_r13
if [ ! -d "$FROZEN" ]; then
  cp -r target/scala-2.13/classes "$FROZEN"
fi

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

case "${1:-}" in
  pagerank)
    echo "=== pagerank g30 anchor (SER + zstd + rdd.compress, 768) ==="
    run "$G30"  768  graph_pagerank probe_g30_pagerank_r13.json  "$ZR"
    echo "=== pagerank g100 decade (SER + zstd + rdd.compress, 2560) ==="
    run "$G100" 2560 graph_pagerank probe_g100_pagerank_r13.json "$ZR"
    echo "=== probe_r13 pagerank complete ==="
    ;;
  pagerank_g30)
    echo "=== pagerank g30 anchor (SER + zstd + rdd.compress, 768) ==="
    run "$G30"  768  graph_pagerank probe_g30_pagerank_r13.json  "$ZR"
    echo "=== probe_r13 pagerank_g30 complete ==="
    ;;
  knn)
    echo "=== sim_knn_clusters g1 anchor (64) ==="
    run "$G1"  64  sim_knn_clusters probe_g1_knnclusters_r13.json  "$ZR"
    echo "=== sim_knn_clusters g10 leg (256) ==="
    run "$G10" 256 sim_knn_clusters probe_g10_knnclusters_r13.json "$ZR"
    echo "=== probe_r13 knn complete ==="
    ;;
  *)
    echo "usage: tools/probe_r13.sh pagerank|knn" >&2
    exit 2
    ;;
esac
