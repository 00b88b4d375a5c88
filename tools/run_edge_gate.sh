#!/usr/bin/env bash
# One-command degenerate-corpus oracle gate: builds the edge corpus
# (null/empty/tab-edged docs, zero embeddings, null/malformed-JSON
# events), dumps every documents/embeddings/events query through
# Verify, and hash-compares against DuckDB with the same checker
# the driver uses. Relational q1-q9/q13/q16 read only the symlinked
# TPC-H tables, so they are exercised by the standard gate instead.
#
# Since round 7 this gate ALSO runs inside `sbt test` (EdgeGateSpec,
# which derives the query list by exclusion instead of this hand
# list); this script remains for hand-runs against custom corpora
# (pass a different dir / sf source).
set -euo pipefail
cd "$(dirname "$0")/.."

DIR="${1:-/tmp/edge_gate}"
OUT="$DIR.out"
rm -rf "$DIR" "$OUT"

python3 tools/make_edge_corpus.py "$DIR"
sbt -batch "runMain graft.Verify $DIR $OUT \
  dd_exact dd_ngram_jaccard dd_minhash_lsh dd_simhash dd_span dd_cdc \
  dd_cluster dd_decontaminate dd_embed_cosine \
  ta_tokens ta_quality ta_langid ta_fingerprint ta_scrub ta_split \
  ta_repetition ta_vocab ta_vocab_k10 ta_bm25 ta_pack ta_shuffle ta_report \
  ta_quality_lr ta_curate ta_mixture \
  pl_text_ops pl_bulk_pipeline pl_jsonpath \
  ss_cosine_topk ss_quantized_topk ss_centroids ss_ivf_topk \
  mm_binary_features mm_decode_meta mm_frame_sample mm_resize \
  q10_json_events q11_hourly_events q12_sessionize q14_asof_join \
  q15_range_join q17_distinct_users"
python3 tools/check_correctness.py "$DIR" "$OUT"
