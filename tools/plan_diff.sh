#!/usr/bin/env bash
# Diffs the physical plans of registered queries between a parent
# revision and the working tree.
#
# Usage: tools/plan_diff.sh <parent-rev> [q1,q2,...]
#
# Unpacks `git archive <parent-rev>` into a temporary directory and runs
# `sbt "runMain graft.PlanDump"` there and in this working tree over the
# corpus in SPARK_GRAFT_SF_DIR (default: the sf0.01 test corpus), for the
# named queries (default: every registered query). Before diffing it
# masks the tokens that differ between any two runs of the same plan:
# expression ids (`#123`), `plan_id=N`, the hex plan hash in cap
# observation names, the staged `run-NNNNNN` directory, the checkout
# path, lambda variable suffixes (`lambda x_20`, from a JVM-wide
# counter), lambda class identities (`$$Lambda$5408/0x…@13cdfd26`) and
# RDD ids (`MapPartitionsRDD[382]`). Prints a unified diff per query
# that differs and exits non-zero if any does. Plans go to
# $PLAN_DIFF_OUT (default target/plan_diff); the script only reads
# `.git`.
set -euo pipefail
cd "$(dirname "$0")/.."

[[ $# -ge 1 && $# -le 2 ]] || { sed -n 5p "$0" >&2; exit 2; }
REV="$1"; QUERIES="${2:-}"
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-4}"
OUT="$(mkdir -p "${PLAN_DIFF_OUT:-target/plan_diff}" && cd "${PLAN_DIFF_OUT:-target/plan_diff}" && pwd)"
rm -rf "$OUT/parent" "$OUT/change"

A=$(mktemp -d "${TMPDIR:-/tmp}/plan-diff-XXXXXX")
trap 'rm -rf "$A"' EXIT
git archive "$REV" | tar -x -C "$A"
echo "parent = $REV ($A), change = working tree; corpus $SPARK_GRAFT_SF_DIR"

dump() { # tree side
  (cd "$1" && sbt -batch "runMain graft.PlanDump $OUT/$2 plan $QUERIES") \
    > "$OUT/$2.log" 2>&1 || { echo "PlanDump failed in $1 — tail of $OUT/$2.log:" >&2
      tail -20 "$OUT/$2.log" >&2; exit 3; }
  # PlanDump writes <query>_plan.txt; mask the volatile tokens in place
  for f in "$OUT/$2"/*_plan.txt; do
    sed -E -i \
      -e "s#$1#<tree>#g" \
      -e 's/#[0-9]+/#N/g' \
      -e 's/plan_id=[0-9]+/plan_id=N/g' \
      -e 's#(Stats)/[0-9a-f]{1,8}/#\1/H/#g' \
      -e 's/run-[0-9]{6}/run-N/g' \
      -e 's/lambda ([A-Za-z]+)_[0-9]+/lambda \1_N/g' \
      -e 's#\$\$Lambda(\$[0-9]+)?/0x[0-9a-f]+@[0-9a-f]+#$$Lambda/N#g' \
      -e 's/([A-Za-z]+RDD)\[[0-9]+\]/\1[N]/g' \
      "$f"
  done
}
dump "$A" parent
dump "$PWD" change

status=0
for f in "$OUT/parent"/*_plan.txt; do
  q=$(basename "$f" _plan.txt)
  if [[ ! -f $OUT/change/${q}_plan.txt ]]; then
    echo "DIFF $q: no plan in the working tree"; status=1
  elif diff -u "$f" "$OUT/change/${q}_plan.txt" > "$OUT/$q.diff"; then
    echo "same $q"; rm -f "$OUT/$q.diff"
  else
    echo "DIFF $q"; cat "$OUT/$q.diff"; status=1
  fi
done
for f in "$OUT/change"/*_plan.txt; do
  q=$(basename "$f" _plan.txt)
  [[ -f $OUT/parent/${q}_plan.txt ]] || { echo "DIFF $q: no plan at $REV"; status=1; }
done
exit $status
