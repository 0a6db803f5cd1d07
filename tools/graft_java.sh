#!/usr/bin/env bash
# Direct-JVM launcher for graft mains (Verify/BenchmarkSuite/Explain) that
# matches build.sbt's forked-run JVM EXACTLY — same add-opens set
# (Spark 4.x on JDK 17 needs sun.util.calendar etc.; a partial list
# silently errors individual queries, e.g. k6_sorted_write's
# ZoneInfo access) and the same system properties. sbt adds ~20 s of
# startup per invocation; this path keeps targeted gates fast without
# drifting from the blessed JVM configuration.
#
# Usage: tools/graft_java.sh [-Xmx24g] <mainClass> [args...]
set -euo pipefail
cd "$(dirname "$0")/.."
XMX="${SPARK_DRIVER_MEM:-24g}"
if [[ "${1:-}" == -Xmx* ]]; then XMX="${1#-Xmx}"; shift; fi
OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio
  java.base/java.util java.base/java.util.concurrent
  java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs
  java.base/sun.security.action java.base/sun.util.calendar
)
ARGS=()
for p in "${OPENS[@]}"; do ARGS+=(--add-opens "$p=ALL-UNNAMED"); done
exec java -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  "${ARGS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx$XMX" "$@"
