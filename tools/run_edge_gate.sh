#!/usr/bin/env bash
# One-command degenerate-corpus oracle gate: builds the edge corpus
# (null/empty/tab-edged docs, a doc_id past 2^31, zero embeddings,
# null/malformed-JSON events), dumps every registered query through
# Verify, and hash-compares against DuckDB with
# tools/check_correctness.py.
# Relational q1-q9/q13 read only the symlinked TPC-H tables, so on
# this corpus they repeat the standard gate.
#
# The same gate runs inside `sbt test` (EdgeGateSpec); this script is
# for hand-runs against custom corpora (pass a different dir).
set -euo pipefail
cd "$(dirname "$0")/.."

DIR="${1:-/tmp/edge_gate}"
OUT="$DIR.out"
rm -rf "$DIR" "$OUT"

python3 tools/make_edge_corpus.py "$DIR"
sbt -batch "runMain graft.Verify $DIR $OUT"
python3 tools/check_correctness.py "$DIR" "$OUT"
