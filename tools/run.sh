#!/bin/bash
# Run a graft main class directly against compiled classes (skips sbt JVM
# startup). Usage: tools/run.sh graft.Verify <args...>
# Runs the classes of the checkout this script sits in, wherever it is
# called from, against the jars of the Spark installation at SPARK_HOME.
set -e
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
SPARK_JARS="${SPARK_HOME:?set SPARK_HOME to the Spark installation}/jars"
CLASS="$1"; shift
ADDOPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADDOPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -XX:ReservedCodeCacheSize=1g \
  -XX:+UseCodeCacheFlushing \
  -cp "$ROOT/target/scala-2.13/classes:$SPARK_JARS/*" \
  "$CLASS" "$@"
