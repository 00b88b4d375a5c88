#!/usr/bin/env bash
# Interleaved cross-build ScaleSmoke A/B — the round-22 instrument for
# the ">=sf1 spot-run" protocol (r21 verdict "Next round" item 2): at
# sf0.1 the board is per-stage scheduler-overhead-bound (all 8c/32c
# ratios ~1) and cross-process deltas under ~10% on sub-second queries
# are host noise, so touched queries get their adjudicating delta from
# a replicated target/scale-smoke corpus instead, where the operators
# run tens of seconds and algorithmic deltas dominate the stage floor.
#
# Usage (corpus must already exist — generate once with
#   SCALE_SMOKE_TABLES=documents sbt "runMain graft.ScaleSmoke <factor> <ops>"):
#   SCALE_SMOKE_REUSE=1 tools/run_ab_scalesmoke.sh \
#     <classesA> <classesB> <rounds> <factor> <op,op,...>
set -euo pipefail
cd "$(dirname "$0")/.."

A="$1"; B="$2"; ROUNDS="$3"; FACTOR="$4"; OPS="$5"
for d in "$A" "$B"; do
  [[ -d $d ]] || { echo "classes dir not found: $d" >&2; exit 2; }
done

ERRLOG="${AB_ERRLOG:-target/ab_scalesmoke.err}"
mkdir -p "$(dirname "$ERRLOG")"
echo "stderr (Spark logging + any failure) -> $ERRLOG.<label>.<round>"

OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio java.base/java.util
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action
  java.base/sun.util.calendar
)
JAVA_ARGS=()
for p in "${OPENS[@]}"; do JAVA_ARGS+=(--add-opens "$p=ALL-UNNAMED"); done

run_one() { # classes-dir label round
  local err="$ERRLOG.$2.$3"
  local cp="$1:$(echo /opt/spark/jars/*.jar | tr ' ' ':')"
  echo "== $2 ($1)  loadavg $(cut -d' ' -f1 /proc/loadavg)"
  SCALE_SMOKE_REUSE=1 java "${JAVA_ARGS[@]}" -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC "-Xmx${SPARK_DRIVER_MEM:-8g}" \
    -cp "$cp" graft.ScaleSmoke "$FACTOR" "$OPS" 2>"$err" ||
    { echo "ScaleSmoke FAILED for $2 — tail of $err:" >&2
      tail -5 "$err" >&2; exit 3; }
}

for r in $(seq 1 "$ROUNDS"); do
  echo "=== interleave round $r/$ROUNDS"
  # ABBA: odd rounds run A first, even rounds B first, so warmup and
  # drift land on both builds equally.
  if (( r % 2 )); then
    run_one "$A" "A" "$r"; run_one "$B" "B" "$r"
  else
    run_one "$B" "B" "$r"; run_one "$A" "A" "$r"
  fi
done
