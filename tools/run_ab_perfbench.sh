#!/usr/bin/env bash
# Interleaved A/B of the repository benchmark (perfbench) between a
# parent revision and the working tree.
#
# Usage: tools/run_ab_perfbench.sh <parent-rev> <workload> <pairs> <seed0>
#
# Unpacks `git archive <parent-rev>` into a temporary directory (A) and
# runs `perfbench/run.py` there and in this working tree (B), one pair
# per seed seed0 .. seed0+pairs-1, A first on odd pairs and B first on
# even ones (ABBA), for the run length BENCHMARK.json declares. Each side
# builds from its own sources. For every end-to-end metric of
# BENCHMARK.json it prints each side's median and quartiles, the pairs
# the change won (ties count for neither), whether the change's median
# is worse than the parent's by more than the metric's bound, and
# whether it is a gain: the change wins at least nine tenths of the
# pairs and the medians differ, in its favour, by more than the distance
# between the parent's quartiles. For dedup_scaled, which runs one timed
# pass or two depending on how fast the first one goes, it also prints
# each pair's pass counts, read from each run's stderr, and how many
# pairs ran a different number of passes on the two sides. Result lines
# go to $AB_OUT (default target/ab_perfbench/<workload>.jsonl), each
# run's stderr beside it.
set -euo pipefail
cd "$(dirname "$0")/.."

[[ $# -eq 4 ]] || { sed -n 5p "$0" >&2; exit 2; }
REV="$1"; WORKLOAD="$2"; PAIRS="$3"; SEED0="$4"
RUN_S=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')
OUT="${AB_OUT:-target/ab_perfbench/$WORKLOAD.jsonl}"
mkdir -p "$(dirname "$OUT")"
# absolute: each run's stderr is written from inside its own tree
OUT="$(cd "$(dirname "$OUT")" && pwd)/$(basename "$OUT")"
: > "$OUT"

A=$(mktemp -d "${TMPDIR:-/tmp}/ab-perfbench-XXXXXX")
trap 'rm -rf "$A"' EXIT
git archive "$REV" | tar -x -C "$A"
B=$PWD
echo "A = $REV ($A), B = working tree; $PAIRS pairs of $WORKLOAD, ${RUN_S}s each"

run_one() { # dir label pair seed
  local err="$OUT.$2.$3.err" line
  echo "== pair $3 seed $4: $2  loadavg $(cut -d' ' -f1 /proc/loadavg)"
  line=$(cd "$1" && python3 perfbench/run.py --workload "$WORKLOAD" \
    --seed "$4" --seconds "$RUN_S" --trace 0 2>"$err" | tail -1) || true
  [[ $line == "{"* ]] || { echo "run failed for $2 — tail of $err:" >&2
    tail -5 "$err" >&2; exit 3; }
  echo "$line"
  printf '{"side":"%s","pair":%d,"seed":%d,"result":%s}\n' "$2" "$3" "$4" "$line" >> "$OUT"
}

for p in $(seq 1 "$PAIRS"); do
  seed=$((SEED0 + p - 1))
  if (( p % 2 )); then
    run_one "$A" A "$p" "$seed"; run_one "$B" B "$p" "$seed"
  else
    run_one "$B" B "$p" "$seed"; run_one "$A" A "$p" "$seed"
  fi
done

python3 - "$OUT" "$WORKLOAD" <<'EOF'
import json, statistics, sys

spec = json.load(open("BENCHMARK.json"))
out, workload = sys.argv[1], sys.argv[2]
runs = [json.loads(line) for line in open(out)]
side = {s: {r["pair"]: r["result"] for r in runs if r["side"] == s} for s in "AB"}
pairs = sorted(side["A"])
for s in "AB":
    bad = [p for p in pairs if not side[s][p]["correct"] or side[s][p]["failed"]]
    att = sum(side[s][p]["attempted"] for p in pairs)
    fails = sum(side[s][p]["failed"] for p in pairs)
    print(f"{s}: {att} operations, {fails} failed; runs not correct: {bad or 'none'}")


def quart(xs):
    """(median, q1, q3)"""
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def cell(med, q1, q3):
    return f"{med:.4g} [{q1:.4g}, {q3:.4g}]"


print(f"{'metric':16} {'A median [q1, q3]':>28} {'B median [q1, q3]':>28}"
      f" {'B wins':>7} {'bound':>6}  verdict")
for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    a = [side["A"][p]["metrics"][name]["value"] for p in pairs]
    b = [side["B"][p]["metrics"][name]["value"] for p in pairs]
    wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
    (am, a1, a3), (bm, b1, b3) = quart(a), quart(b)
    gap = (am - bm) if lower else (bm - am)
    worse = -gap > m["bound"] * abs(am)
    gain = wins * 10 >= 9 * len(pairs) and gap > a3 - a1
    print(f"{name:16} {cell(am, a1, a3):>28} {cell(bm, b1, b3):>28}"
          f" {wins:>3}/{len(pairs):<3} {'WORSE' if worse else 'ok':>6}  "
          + ("gain" if gain else "no gain"))

if workload == "dedup_scaled":
    def passes(s, p):
        """timed passes of one run: `;`-separated groups of its passes_ms line"""
        for line in open(f"{out}.{s}.{p}.err"):
            if line.startswith("[perfbench] passes_ms"):
                return len(line.split(";"))
        return None

    counts = [(p, passes("A", p), passes("B", p)) for p in pairs]
    print("passes per pair (A/B): "
          + ", ".join(f"{p}: {a}/{b}" for p, a, b in counts))
    print(f"pairs whose sides ran a different number of passes: "
          f"{sum(a != b for _, a, b in counts)}/{len(pairs)}")
EOF
