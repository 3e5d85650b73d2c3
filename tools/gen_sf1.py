"""Synthesizes an sf1-scale documents/embeddings corpus (10x sf0.1) for the
slow-tail scaling probe (tools/scale_probe.py --sf1).

The driver ships testdata only up to sf0.1; proving the text/retrieval
operators hold linear throughput over 1000x (sf0.001 -> sf1) needs a bigger
corpus, so this derives one from sf0.1 deterministically:

- ``documents``: 10 replicas, doc_id shifted by k * 10_000_000. Replica
  text is PERTURBED: every 3rd word (phase k mod 3) is prefixed with a
  replica-id tag ('r<k>' || word — an INJECTIVE per-replica word map, so
  the replica's word/shingle frequency distribution is exactly isomorphic
  to the original corpus's). Period 3 == the operators' shingle/gram
  width, so EVERY 3-token window contains a tagged word and replicas
  share ZERO 3-shingles/3-grams. The result is 10 disjoint isomorphic
  copies: corpus 10x, vocabulary 10x (Heaps-law-like growth, what a real
  10x crawl does), per-shingle frequencies UNCHANGED — so bucket sizes,
  candidate counts, and match counts all scale linearly, and the probe
  measures the operators, not a synthetic-vocab pathology. (Constant
  replacement tokens — the first attempt — pooled shingle frequencies
  and made prefix buckets superlinearly dense; a replacement period
  longer than the gram width leaves windows shared across replicas.
  Both are corpus artifacts, not operator behavior.) Within-replica
  near-dup structure survives (both members of a planted pair get the
  same transformation).
- ``embeddings``: 10 replicas, vec_id shifted, one coordinate nudged by a
  replica-dependent epsilon so no exact-duplicate vectors exist.
- ``events`` (r5, for the streaming-drain probes): 10 replicas with
  event_id AND user_id shifted — per-user event sequences (and therefore
  session structure, watermark timeline, and per-key state size) are
  exactly the original's, there are just 10x as many users; ts is
  unchanged so window buckets get 10x the rows without growing state
  cardinality beyond the linear user growth.

Output: <repo>/.scale_sf1/{documents,embeddings,events}.parquet (gitignored).
Idempotent: skips work if outputs exist. Stdlib + duckdb only.

``--sf10`` (r8): same derivation at 100 replicas -> <repo>/.scale_sf10
(10,000x sf0.001) for the decade probe. The per-replica word map stays
injective/prefix-free at two-digit k because corpus words contain no
digits ('r1' || w can never equal 'r11' || w2 — w2 would need a leading
digit), and any _EXCISE_N >= 3 window still contains a tagged word, so
replicas share zero grams at every gram width the operators use.
"""

from __future__ import annotations

import os

import duckdb

SRC = "/root/testdata/sf0.1"
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(_REPO_ROOT, ".scale_sf1")
REPLICAS = 10
SHIFT = 10_000_000


def main(out: str = OUT, replicas: int = REPLICAS) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    docs_out = os.path.join(out, "documents.parquet")
    if not os.path.exists(docs_out):
        con.execute(
            f"""
            COPY (
              SELECT doc_id + k * {SHIFT} AS doc_id,
                     array_to_string(
                       list_transform(
                         string_split(text, ' '),
                         (w, i) -> CASE WHEN (i + k) % 3 = 0
                                        THEN 'r' || CAST(k AS VARCHAR) || w
                                        ELSE w END
                       ), ' ') AS text,
                     lang,
                     source,
                     n_chars
              FROM read_parquet('{SRC}/documents.parquet')
              CROSS JOIN (SELECT unnest(range({replicas})) AS k)
            ) TO '{docs_out}' (FORMAT PARQUET)
            """
        )
    emb_out = os.path.join(out, "embeddings.parquet")
    if not os.path.exists(emb_out):
        con.execute(
            f"""
            COPY (
              SELECT vec_id + k * {SHIFT} AS vec_id,
                     list_transform(
                       embedding,
                       (x, i) -> CASE WHEN i = 1
                                      THEN CAST(x + 0.001 * k AS FLOAT)
                                      ELSE x END
                     ) AS embedding,
                     label
              FROM read_parquet('{SRC}/embeddings.parquet')
              CROSS JOIN (SELECT unnest(range({replicas})) AS k)
            ) TO '{emb_out}' (FORMAT PARQUET)
            """
        )
    ev_out = os.path.join(out, "events.parquet")
    if not os.path.exists(ev_out):
        con.execute(
            f"""
            COPY (
              SELECT event_id + k * {SHIFT} AS event_id,
                     ts,
                     user_id + k * {SHIFT} AS user_id,
                     event_type,
                     value,
                     props
              FROM read_parquet('{SRC}/events.parquet')
              CROSS JOIN (SELECT unnest(range({replicas})) AS k)
            ) TO '{ev_out}' (FORMAT PARQUET)
            """
        )
    for t in ("documents", "embeddings", "events"):
        n = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{out}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    import sys

    if "--sf10" in sys.argv:
        main(out=os.path.join(_REPO_ROOT, ".scale_sf10"), replicas=100)
    else:
        main()
