#!/usr/bin/env bash
# Launch a graft main directly from compiled classes — no sbt, so long
# probes/benches never hold the (single-instance) sbt/zinc lock while
# edits compile. Mirrors build.sbt's fork JVM exactly: same add-opens
# set, same -D flags, SPARK_DRIVER_MEM-sized heap.
#
#   tools/run_main.sh graft.Bench [args...]
#
# Requires an up-to-date `sbt compile` (this script does NOT compile).
#
# Class-data sharing: the JVM maps Spark's classes from a dynamic AppCDS
# archive instead of loading and verifying them from 287 jars, which
# roughly halves session set-up. The cache sits beside the classes, in
# <classes>.cds/<key>/, where <key> hashes the classes' bytes, the java
# binary and the Spark jar listing. Each key holds app.jar, an immutable
# snapshot of the classes (CDS refuses a class directory on the
# classpath), so a long-running JVM never sees a class that a later
# `sbt compile` rewrote; and app.jsa, dumped at the exit of the key's first
# launch that exits 0. A new key prunes the others. Nothing has to be run
# by hand; EXTRA_JAVA_OPTS=-Xshare:off bypasses the archive.
set -euo pipefail
cd "$(dirname "$0")/.."
# GRAFT_CLASSES: another classes dir (the benchmark merges the program's
# and its harness's classes into one).
CLASSES=${GRAFT_CLASSES:-target/scala-2.13/classes}
CLASSES=${CLASSES%/}
[ -d "$CLASSES" ] || { echo "run 'sbt compile' first" >&2; exit 1; }
case $CLASSES in /*) ;; *) CLASSES=$PWD/$CLASSES ;; esac
SPARK_JARS=/opt/spark/jars
JAVA=$(readlink -f "$(command -v java)")
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# EXTRA_JAVA_OPTS: additional -D/-X flags for one launch (e.g.
# -Dspark.cleaner.periodicGC.interval=60s to bound the shuffle-file
# footprint of long iterative probes on a small disk).
OPTS=($OPENS ${EXTRA_JAVA_OPTS:-}
  -Xmx"${SPARK_DRIVER_MEM:-8g}"
  -Dspark.ui.enabled=false
  -Dspark.sql.session.timeZone=UTC)

# -Xshare:off cannot dump an archive (the JVM refuses to start), so it
# runs straight from the classes.
case " ${EXTRA_JAVA_OPTS:-} " in *" -Xshare:off "*)
  exec "$JAVA" "${OPTS[@]}" -cp "$CLASSES:$SPARK_JARS/*" "$@"
esac

# Content only: tar's names, owners and mtimes are normalized, because a
# copied classes directory keeps or loses mtimes depending on the copy.
KEY=$({ tar -cf - --sort=name --mtime=@0 --owner=0 --group=0 --numeric-owner \
          --mode=644 -C "$CLASSES" .
        echo "$JAVA"; cat "${JAVA%/bin/java}/release" 2>/dev/null || true
        ls -l --time-style=+%s "$SPARK_JARS"; } | md5sum)
CACHE=$CLASSES.cds
DIR=$CACHE/${KEY%% *}
JAR=$DIR/app.jar
JSA=$DIR/app.jsa
CP=$JAR:$SPARK_JARS/*

if [ ! -f "$JAR" ]; then
  mkdir -p "$DIR"
  "${JAVA%/java}/jar" cf "$JAR.$$" -C "$CLASSES" .
  # A link, unlike a rename, never replaces a jar that a concurrent
  # launch already dumped an archive against (CDS checks its mtime).
  ln "$JAR.$$" "$JAR" 2>/dev/null || true
  rm -f "$JAR.$$"
  for d in "$CACHE"/*; do
    if [ "$d" != "$DIR" ]; then rm -rf "$d"; fi
  done
fi

if [ -f "$JSA" ]; then
  exec "$JAVA" -XX:SharedArchiveFile="$JSA" "${OPTS[@]}" -cp "$CP" "$@"
fi

# Miss: dump at exit into a temp name, kept only if java exits 0, so a
# usage error cannot pin a tiny archive. Dumps of launches that did not
# live to rename theirs are removed first.
for f in "$JSA".*; do
  if [ -e "$f" ] && ! kill -0 "${f##*.}" 2>/dev/null; then rm -f "$f"; fi
done
# Not exec'd, since the rename follows java's exit: java runs in the
# background (stdin kept) and the signals that end this script end it.
"$JAVA" -XX:ArchiveClassesAtExit="$JSA.$$" \
  -Xlog:cds*=off -Xlog:cds*=warning:file="$DIR/dump.log"::filecount=0 \
  "${OPTS[@]}" -cp "$CP" "$@" <&0 &
pid=$!
trap 'kill -TERM "$pid" 2>/dev/null' INT TERM HUP
rc=0
wait "$pid" || rc=$?
while kill -0 "$pid" 2>/dev/null; do
  rc=0
  wait "$pid" || rc=$?
done
if [ "$rc" -eq 0 ] && [ -s "$JSA.$$" ]; then mv -f "$JSA.$$" "$JSA" 2>/dev/null || true; fi
rm -f "$JSA.$$"
exit "$rc"
