#!/usr/bin/env bash
# Tests tools/run_main.sh, the class-data-sharing launcher, on a temp copy
# of the compiled classes (through GRAFT_CLASSES, so the real cache is not
# touched). Checks, in order:
#   - a launch that exits 2 keeps its exit code and leaves no archive;
#   - a miss succeeds and dumps the archive, with the dump's warnings in
#     the cache's dump.log rather than on stdout;
#   - the next launch is a hit that maps the archive: it starts under
#     -Xshare:on, which refuses to run without it, and class+load logs
#     classes from the top-layer shared objects file;
#   - MrRun wc and MrRun indexer (whose values, file names, merge across
#     map calls) through the archive write the same sorted lines as
#     --sequential;
#   - so does MrRun wc when Spark forces every reduce task to spill after
#     each 1000 records (each of its 10 tasks reads about 4,800), so the
#     reduce-side grouping merges spilled runs;
#   - no launch writes a Spark INFO line to stderr;
#   - changing a class file's bytes gives a new key and prunes the old one.
#
#   tools/test_run_main.sh        # needs an up-to-date `sbt compile`
set -uo pipefail
cd "$(dirname "$0")/.."
[ -d target/scala-2.13/classes ] || { echo "run 'sbt compile' first" >&2; exit 1; }
TMP=$(mktemp -d)
trap 'rm -rf "$TMP"' EXIT
cp -r target/scala-2.13/classes "$TMP/classes"
export GRAFT_CLASSES=$TMP/classes SPARK_DRIVER_MEM=1g SPARK_GRAFT_CPUS=2
unset EXTRA_JAVA_OPTS
CACHE=$TMP/classes.cds
mkdir "$TMP/in"
printf 'the cat sat on the mat\n' > "$TMP/in/pg-1.txt"
printf 'The dog sat\r\nand the cat ran\n' > "$TMP/in/pg-2.txt"
GLOB="$TMP/in/pg-*.txt"

fails=0
check() {
  if eval "$2"; then echo "ok   $1"; else echo "FAIL $1"; fails=$((fails + 1)); fi
}
launch() { tools/run_main.sh "$@" 2>>"$TMP/stderr"; }

launch graft.MrRun >/dev/null; rc=$?
check "an exit-2 launch keeps its exit code" '[ "$rc" -eq 2 ]'
check "an exit-2 launch leaves no archive" \
  '[ -z "$(ls "$CACHE"/*/app.jsa* 2>/dev/null)" ]'
key1=$(ls "$CACHE")

launch graft.MrRun wc "$GLOB" "$TMP/out-miss" >"$TMP/miss.out"; rc=$?
check "a miss succeeds and dumps app.jsa" \
  '[ "$rc" -eq 0 ] && [ -s "$CACHE/$key1/app.jsa" ] && [ -z "$(ls "$CACHE/$key1"/app.jsa.* 2>/dev/null)" ]'
check "dump warnings go to dump.log, not stdout" \
  '! grep -q "\[cds\]" "$TMP/miss.out" && [ -s "$CACHE/$key1/dump.log" ]'

EXTRA_JAVA_OPTS="-Xshare:on -Xlog:class+load=info:file=$TMP/classload.log" \
  launch graft.MrRun wc "$GLOB" "$TMP/out-hit" >/dev/null; rc=$?
check "a hit starts under -Xshare:on" '[ "$rc" -eq 0 ]'
check "a hit loads classes from the archive" \
  'grep -q "source: shared objects file (top)" "$TMP/classload.log"'

launch graft.MrRun wc "$GLOB" "$TMP/out-seq" --sequential >/dev/null
check "wc through the archive equals --sequential" \
  '[ -s "$TMP/out-seq/mr-out-0" ] && diff <(sort "$TMP"/out-hit/part-*) <(sort "$TMP/out-seq/mr-out-0") >/dev/null'
launch graft.MrRun indexer "$GLOB" "$TMP/out-idx" >/dev/null
launch graft.MrRun indexer "$GLOB" "$TMP/out-idx-seq" --sequential >/dev/null
check "indexer through the archive equals --sequential" \
  '[ -s "$TMP/out-idx-seq/mr-out-0" ] && diff <(sort "$TMP"/out-idx/part-*) <(sort "$TMP/out-idx-seq/mr-out-0") >/dev/null'
# Four files of about 12,000 distinct words each (numbers spelled a-j),
# each word twice, overlapping file to file.
mkdir "$TMP/big"
for i in 0 1 2 3; do
  seq $((100000 + i * 3000)) $((112000 + i * 3000)) | tr 0-9 a-j | sed p > "$TMP/big/pg-$i.txt"
done
EXTRA_JAVA_OPTS=-Dspark.shuffle.spill.numElementsForceSpillThreshold=1000 \
  launch graft.MrRun wc "$TMP/big/pg-*.txt" "$TMP/out-spill" >/dev/null
launch graft.MrRun wc "$TMP/big/pg-*.txt" "$TMP/out-spill-seq" --sequential >/dev/null
check "wc under forced spill equals --sequential" \
  '[ -s "$TMP/out-spill-seq/mr-out-0" ] && diff <(sort "$TMP"/out-spill/part-*) <(sort "$TMP/out-spill-seq/mr-out-0") >/dev/null'
check "no launch writes an INFO line to stderr" '! grep -q " INFO " "$TMP/stderr"'

# A class MrRun never loads, so the extra byte changes the key only.
printf '\0' >> "$TMP/classes/graft/Verify.class"
launch graft.MrRun >/dev/null
key2=$(ls "$CACHE")
check "a changed class file gives a new key and prunes the old one" \
  '[ -n "$key2" ] && [ "$key2" != "$key1" ] && [ "$(echo "$key2" | wc -w)" -eq 1 ]'

[ "$fails" -eq 0 ] && echo "run_main: all checks pass" || echo "run_main: $fails check(s) failed"
exit $((fails > 0))
