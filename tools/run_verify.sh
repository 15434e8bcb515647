#!/bin/bash
# Run graft.Verify against a scale-factor dir without sbt startup cost.
# Usage: tools/run_verify.sh [sfDir] [outDir] [mainClass]
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_verify}
MAIN=${3:-graft.Verify}
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
  java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
  java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do OPENS="$OPENS --add-opens $p=ALL-UNNAMED"; done
# GRAFT_JAVA_OPTS: extra JVM flags (e.g. -Dspark.sql.* A/B probes)
exec java $OPENS -Xmx${GRAFT_XMX:-8g} -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC ${GRAFT_JAVA_OPTS:-} \
  -cp "$CP" "$MAIN" "$SF" "$OUT"
