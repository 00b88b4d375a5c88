#!/usr/bin/env python3
"""Build the degenerate-document corpus for edge-semantics gating.

The driver's sf corpora contain no null/empty/whitespace-only texts, so
oracle parity on those paths is otherwise untested. This writes a
documents.parquet of nasty edge docs and symlinks the remaining tables
from an sf dir, so the NORMAL gate tooling runs unchanged. One document
carries a doc_id past 2^31, so a query that narrows the id to INT fails
on it:

    python3 tools/make_edge_corpus.py /tmp/edgedir
    sbt "runMain graft.Verify /tmp/edgedir /tmp/qe <documents-only query names>"
    python3 tools/check_correctness.py /tmp/edgedir /tmp/qe

Found in round 6 (all fixed + pinned): null-text fingerprint grouping
(concat_ws swallows null), ta_quality remainder-by-zero on empty text,
the ta_fingerprint oracle's spurious unicode('') = -1 element, and
ta_repetition's divergent null arithmetic. ScalaTest-side coverage of
the dedup family lives in EdgeCorpusSpec.
"""
import os
import sys

import duckdb

EDGE_DOCS = """
COPY (
  SELECT * FROM (VALUES
    (1::BIGINT, NULL::VARCHAR, 'en', 'edge', NULL::BIGINT),
    (2, '', 'en', 'edge', 0),
    (3, '   ', 'en', 'edge', 3),
    (4, 'lonely', 'en', 'edge', 6),
    (5, 'a b c d e f g h', 'en', 'edge', 15),
    (6, 'a b c d e f g h', 'en', 'edge', 15),
    (7, 'a b c d e f g h i', 'en', 'edge', 17),
    (8, 'x y z w v u t s', 'en', 'edge', 15),
    (9, E'\\tq r s t u v w x ', 'en', 'edge', 17),
    (10, 'Foo BAR baz qux quux corge grault garply waldo fred', 'en', 'other', 52),
    (11, 'numbers 123 456.789 and emails a@b.co plus http://x.io/z', 'en', 'other', 57),
    (12, NULL, 'en', 'edge', NULL),
    (2147483661, 'wide id data past 2^31', 'en', 'edge', 22)
  ) t(doc_id, text, lang, source, n_chars)
) TO '{out}' (FORMAT PARQUET)
"""

# embeddings: vec_id < 5 are the ss_* query set — 3 is a ZERO query
# vector, 17 a zero candidate. Zero-norm vectors have no direction:
# before round 6 they crashed ssCosineTopK outright (ANSI
# divide-by-zero) and would otherwise rank TOP of every ranking
# (Spark orders NaN above all reals). Both engines now exclude them.
EDGE_EMBEDDINGS = """
COPY (
  WITH base AS (
    SELECT vec_id, embedding, label
    FROM read_parquet('{sf}/embeddings.parquet')
    WHERE vec_id < 30 AND vec_id NOT IN (3, 17)
  ),
  zeros AS (
    SELECT * FROM (VALUES
      (3::BIGINT, CAST(list_transform(generate_series(1,64), i -> 0.0::FLOAT) AS FLOAT[]), 1::INT),
      (17, CAST(list_transform(generate_series(1,64), i -> 0.0::FLOAT) AS FLOAT[]), 2)
    ) t(vec_id, embedding, label))
  SELECT * FROM base UNION ALL SELECT * FROM zeros ORDER BY vec_id
) TO '{out}' (FORMAT PARQUET)
"""

OTHER_TABLES = ["region", "nation", "customer", "supplier", "part",
                "orders", "lineitem"]


def write_edge_events(outdir: str, sfdir: str) -> None:
    """Edge events: null user_id / event_type / value / props, a
    MALFORMED JSON props (Spark extracts null; bare DuckDB
    json_extract_string errors — the oracles carry a json_valid guard),
    an empty JSON object (key missing from well-formed JSON: element_at
    on the empty extraction was an ANSI crash), and duplicate
    timestamps within one user's session. Written via pyarrow with ts
    DELIBERATELY as TIMESTAMP(NANOS): the driver's corpus has shipped
    both nanos and micros (round 9's drift), and keeping the edge file
    nanos means the oracle-checked edge gate exercises Tables.adaptTs's
    LongType branch while the main sf corpus exercises the micros one —
    both loader paths stay driver-gated whichever way the corpus is
    currently written."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(f"{sfdir}/events.parquet").to_pandas()
    base = base[base.event_id < 200]
    edge = pd.DataFrame({
        "event_id": [9001, 9002, 9003, 9004, 9005, 9006, 9007],
        "ts": pd.to_datetime(
            ["2024-01-02 00:00:00", "2024-01-02 00:00:01",
             "2024-01-02 00:00:02", "2024-01-02 00:00:02",
             "2024-01-02 00:00:02", "2024-01-02 01:00:02",
             "2024-01-02 01:30:02"]),
        "user_id": pd.array([None, 7, 7, 7, 7, 7, None], dtype="Int64"),
        "event_type": ["click", None, "click", "view", "view", "view", None],
        "value": [1.5, 2.5, None, 4.5, 5.5, 6.5, None],
        "props": ['{"k": 3}', '{"k": 14}', None, "{bad json", "{}",
                  '{"k": 21, "extra": [1,2]}', None],
    })
    out = pd.concat([base, edge], ignore_index=True).sort_values("event_id")
    out["ts"] = out["ts"].astype("datetime64[ns]")
    schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("ns")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string())])
    pq.write_table(pa.Table.from_pandas(out, schema=schema,
                                        preserve_index=False),
                   os.path.join(outdir, "events.parquet"))


def write_empty(outdir: str, sfdir: str) -> None:
    """Zero-row documents/embeddings/events with the real schemas: an
    empty partition directory is a legitimate input, and the whole
    battery must return empty results with oracle parity, not crash
    (verified round 6: 39/39)."""
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in ["documents", "embeddings"]:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{sfdir}/{t}.parquet') LIMIT 0)"
            f" TO '{outdir}/{t}.parquet' (FORMAT PARQUET)")
    ev = pq.read_table(f"{sfdir}/events.parquet").slice(0, 0)
    pq.write_table(ev, f"{outdir}/events.parquet")


def main(outdir: str, sfdir: str = "/root/testdata/sf0.001",
         mode: str = "edge") -> int:
    os.makedirs(outdir, exist_ok=True)
    if mode == "empty":
        write_empty(outdir, sfdir)
        for t in OTHER_TABLES:
            dst = os.path.join(outdir, f"{t}.parquet")
            if not os.path.exists(dst):
                os.symlink(os.path.join(sfdir, f"{t}.parquet"), dst)
        print(f"empty corpus written to {outdir}")
        return 0
    con = duckdb.connect()
    con.execute(EDGE_DOCS.format(out=os.path.join(outdir, "documents.parquet")))
    con.execute(EDGE_EMBEDDINGS.format(
        sf=sfdir, out=os.path.join(outdir, "embeddings.parquet")))
    write_edge_events(outdir, sfdir)
    for t in OTHER_TABLES:
        dst = os.path.join(outdir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(sfdir, f"{t}.parquet"), dst)
    print(f"edge corpus written to {outdir}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/edgedir",
                  *sys.argv[2:]))
