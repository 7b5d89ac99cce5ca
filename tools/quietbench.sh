#!/bin/bash
# Direct-java launch of a graft main (default graft.Bench) — sbt's own
# startup spike trips the 0.5-load quiet bar, so certified-quiet stamps
# use this. Mirrors build.sbt's javaOptions (JDK17 add-opens, heap/code
# cache from SPARK_DRIVER_MEM / SPARK_CODE_CACHE).
#
# Runs the classes of the checkout this script lives in (its ../target),
# so a frozen copy of the repo times its own build, not another tree's.
#
# Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 tools/quietbench.sh [main [args...]]
set -euo pipefail
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
MAIN="${1:-graft.Bench}"; shift || true
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize="${SPARK_CODE_CACHE:-512m}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
