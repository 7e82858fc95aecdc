#!/usr/bin/env bash
# Run a graft main class directly on the compiled classes (no sbt lock):
#   scripts/run_main.sh graft.tools.PlanDump <outDir> <query>...
# Mirrors build.sbt's forked-JVM options (JDK17 add-opens, UTC, codegen
# cache). Compile first with `sbt Test/compile` (NOT bare `compile` — see
# the guard below).
# GRAFT_CLASSES overrides the classes dir — long background sweeps should
# run on a frozen snapshot (cp -r target/scala-2.13/classes /tmp/snap) so a
# concurrent `sbt compile` can't swap class files under their lazy-loading
# JVMs mid-run. Snapshot AFTER `sbt Test/compile` (or Compile/copyResources):
# a bare `compile` on a clean tree skips resource copying, and a snapshot
# without META-INF/services silently loses the graft-gen DSV2 registration
# (surfaced 40 min into a scale8 sweep as DATA_SOURCE_NOT_FOUND). The guard
# below fails fast instead.
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES="${GRAFT_CLASSES:-target/scala-2.13/classes}"
if [ ! -f "$CLASSES/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister" ]; then
  echo "run_main.sh: $CLASSES has no META-INF/services DSV2 registration —" >&2
  echo "  run 'sbt Test/compile' (not bare 'compile') before snapshotting" >&2
  exit 3
fi
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens=$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dspark.sql.codegen.cache.maxEntries=2000 \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
