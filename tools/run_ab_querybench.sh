#!/usr/bin/env bash
# Interleaved cross-build QueryBench A/B — the round-14 adjudicator
# protocol's instrument: any per-query BENCH_r* row moving >10%
# round-over-round is not citable until both builds run ALTERNATING
# under the same host conditions. Whole invocations run in ABBA order
# (A,B then B,A; each internally warmup + min-of-<iters>), so a load
# drift hits both sides symmetrically instead of biasing whichever
# build happened to run second.
#
# Usage:
#   tools/run_ab_querybench.sh <classesA> <classesB> <rounds> <iters> <q,q,...>
# e.g. after `git worktree add target/ab_r13 <r13sha>` + sbt compile there:
#   tools/run_ab_querybench.sh target/ab_r13/target/scala-2.13/classes \
#     target/scala-2.13/classes 3 7 dd_embed_cosine_bucketed,dd_embed_cosine
# SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS pass through to QueryBench.
set -euo pipefail
cd "$(dirname "$0")/.."

A="$1"; B="$2"; ROUNDS="$3"; ITERS="$4"; QUERIES="$5"
for d in "$A" "$B"; do
  [[ -d $d ]] || { echo "classes dir not found: $d" >&2; exit 2; }
done

# Spark's log4j noise is suppressed from the interleave transcript but
# KEPT in a log — a mid-A/B failure (bad query name, OOM) previously
# vanished into 2>/dev/null and set -e aborted the run in silence, on
# the very instrument designated as the adjudicator of record.
ERRLOG="${AB_ERRLOG:-target/ab_querybench.err}"
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
  java "${JAVA_ARGS[@]}" -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC "-Xmx${SPARK_DRIVER_MEM:-8g}" \
    -cp "$cp" graft.QueryBench "$ITERS" "$QUERIES" 2>"$err" ||
    { echo "QueryBench FAILED for $2 — tail of $err:" >&2
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
