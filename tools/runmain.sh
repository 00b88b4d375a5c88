#!/usr/bin/env bash
# Run a graft main directly on the compiled classes — bypasses the sbt
# launcher (and its project-level lock) so long-running measurement
# mains (ScaleSmoke / StreamSmoke / EmbedRecallSmoke) can execute in
# parallel with an interactive sbt session. Compile first:
#   sbt compile && tools/runmain.sh graft.ScaleSmoke 20
# Env knobs pass straight through (SCALE_SMOKE_MASTER, SPARK_DRIVER_MEM...).
set -euo pipefail
cd "$(dirname "$0")/.."

MAIN="$1"; shift
CP="target/scala-2.13/classes:$(echo /opt/spark/jars/*.jar | tr ' ' ':')"
OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio java.base/java.util
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action
  java.base/sun.util.calendar
)
ARGS=()
for p in "${OPENS[@]}"; do ARGS+=(--add-opens "$p=ALL-UNNAMED"); done
exec java "${ARGS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$MAIN" "$@"
