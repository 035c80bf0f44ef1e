#!/bin/bash
# Run a compiled graft main class directly (no sbt — avoids the project
# lock so measurement can overlap compilation/tests). Usage:
#   scripts/run_graft.sh graft.Bench [args...]
# Env: SPARK_GRAFT_CPUS / SPARK_GRAFT_SF_DIR / SPARK_DRIVER_MEM as usual;
# GRAFT_CLASSES overrides the class directory (default: this checkout's
# target/scala-2.13/classes).
set -u
CLS="$1"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLASSES="${GRAFT_CLASSES:-$ROOT/target/scala-2.13/classes}"
# Spark's jars: the directory build.sbt names as unmanagedBase
JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")
# Nothing rebuilds the classes here, so refuse to measure code older than
# the sources: exit when any main source is newer than the newest class.
NEWEST=$(find "$CLASSES" -name '*.class' -printf '%T@ %p\n' 2>/dev/null |
  sort -n | tail -1 | cut -d' ' -f2-)
if [ -z "$NEWEST" ]; then
  echo "run_graft.sh: no classes under $CLASSES; run 'sbt compile' first" >&2
  exit 1
fi
STALE=$(find "$ROOT/src/main/scala" -name '*.scala' -newer "$NEWEST")
if [ -n "$STALE" ]; then
  echo "run_graft.sh: classes under $CLASSES are older than these sources;" \
    "run 'sbt compile' first:" >&2
  echo "$STALE" | sed 's/^/  /' >&2
  exit 1
fi
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS ${GRAFT_EXTRA_JAVA_OPTS:-} \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-48g}" \
  -XX:ReservedCodeCacheSize=1g \
  -cp "$CLASSES:$JARS/*" \
  "$CLS" "$@"
