"""Text-analysis operators — SURVEY.md §2.D extension surface.

Language-ID (n-gram/marker heuristic), quality scoring, token counting, and
document fingerprinting over the ``documents`` table. All JVM-side builtins
(regexp_count / split / md5 / arithmetic) — no Python UDFs — so the hot path
is vectorized and whole-stage-codegen'd; at 100 TB these are embarrassingly
parallel narrow scans (no shuffle at all except the final aggregations).

These extend the reference's spirit: its fuzzy label QA (DCF_Parser.py:278-288)
and duplicate detectors (03 nb raw :993-1140) are the closest ancestors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query
from .bpe import word_counts
from .tokens import (
    WS_CHARS,
    explode_terms,
    n_tokens,
    ngrams,
    normalized_fingerprint,
    passes_quality,
    tokenize_words,
    word_pairs,
    ws_tokens,
)
from .util import local_rows_df, spread_narrow_cpu

# ---------------------------------------------------------------------------
# Token counting: whitespace tokenization + a BPE-ish proxy (4 chars/token).
# ---------------------------------------------------------------------------


@query(
    "token_count",
    oracle="""
    SELECT doc_id,
           len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS n_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_bpe_est,
           length(text) AS n_chars_actual
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        n_tokens(F.col("text")).alias("n_tokens"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("n_tokens_bpe_est"),
        F.length("text").alias("n_chars_actual"),
    )


# ---------------------------------------------------------------------------
# Quality scoring: length, mean word length, stopword ratio — the classic
# heuristic pre-training filters, all exact integer/regex counts so the
# DuckDB oracle reproduces them bit-for-bit.
# ---------------------------------------------------------------------------


@query(
    "quality_score",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_actual,
           len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS n_tokens,
           len(regexp_extract_all(text, '\\b(the|a|and|of|to)\\b')) AS n_stopwords,
           CAST(ROUND(CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to)\\b')) AS DECIMAL(18,6))
                      / len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')), 4) AS DOUBLE) AS stopword_ratio,
           (length(text) >= 100 AND length(text) <= 20000
            AND len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) >= 20) AS passes_quality
    FROM documents
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = n_tokens(F.col("text"))
    stops = F.regexp_count(F.col("text"), F.lit(r"\b(the|a|and|of|to)\b"))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        toks.alias("n_tokens"),
        stops.alias("n_stopwords"),
        F.round(stops.cast("decimal(18,6)") / toks, 4).cast("double").alias("stopword_ratio"),
        passes_quality(F.col("text")).alias("passes_quality"),
    )


# ---------------------------------------------------------------------------
# Language-ID: marker-token heuristic (n-gram language ID reduced to
# deterministic marker counts + argmax with fixed tie priority).
# ---------------------------------------------------------------------------

_MARKERS = {
    "sql_dialect": r"\b(select|join|group|filter|window)\b",
    "spark_dialect": r"\b(spark|batch|stream|shuffle|partition)\b",
    "tabular_dialect": r"\b(row|table|column|value|data)\b",
}


@query(
    "lang_id_heuristic",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '\\b(select|join|group|filter|window)\\b')) AS s_sql,
             len(regexp_extract_all(lower(text), '\\b(spark|batch|stream|shuffle|partition)\\b')) AS s_spark,
             len(regexp_extract_all(lower(text), '\\b(row|table|column|value|data)\\b')) AS s_tab
      FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN s_sql >= s_spark AND s_sql >= s_tab THEN 'sql_dialect'
                WHEN s_spark >= s_tab THEN 'spark_dialect'
                ELSE 'tabular_dialect' END AS predicted_dialect,
           greatest(s_sql, s_spark, s_tab) AS top_score
    FROM scored
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    s_sql = F.regexp_count(low, F.lit(_MARKERS["sql_dialect"]))
    s_spark = F.regexp_count(low, F.lit(_MARKERS["spark_dialect"]))
    s_tab = F.regexp_count(low, F.lit(_MARKERS["tabular_dialect"]))
    scored = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        s_sql.alias("s_sql"),
        s_spark.alias("s_spark"),
        s_tab.alias("s_tab"),
    )
    return scored.select(
        "doc_id",
        "labeled_lang",
        F.when((F.col("s_sql") >= F.col("s_spark")) & (F.col("s_sql") >= F.col("s_tab")), "sql_dialect")
        .when(F.col("s_spark") >= F.col("s_tab"), "spark_dialect")
        .otherwise("tabular_dialect")
        .alias("predicted_dialect"),
        F.greatest("s_sql", "s_spark", "s_tab").alias("top_score"),
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: normalized-content digest (md5 of
# whitespace-collapsed lowercase text) + a shingle-count signature.
# ---------------------------------------------------------------------------


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS fingerprint,
           substr(md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), 1, 4) AS shard_key
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = normalized_fingerprint(F.col("text"))
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 4).alias("shard_key"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprint (Schleimer/Wilkerson/Aiken): Horner rolling hash of
# every k-gram, then the minimum of each w-hash window, deduplicated — the
# classic plagiarism/near-dup document signature. Pure higher-order array
# expressions on both engines (Spark transform/aggregate, DuckDB list
# comprehension/list_reduce), so the oracle is exact: same base, modulus,
# and window rule produce identical hash sets. Narrow scan, no shuffle
# until the final distinct.
# ---------------------------------------------------------------------------

_WK = 8  # k-gram length
_WW = 16  # winnowing window (in k-gram positions)
_WB = 257  # polynomial base
_WM = 2147483647  # modulus (2^31-1): keeps Horner products inside int64


@query(
    "winnowing_fingerprint",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             [ list_reduce([ascii(substr(text, i + j, 1)) FOR j IN range(0, {_WK})]::BIGINT[],
                           (acc, c) -> (acc * {_WB} + c) % {_WM})
               FOR i IN range(1, length(text) - {_WK} + 2) ] AS hashes
      FROM documents
    ), sel AS (
      SELECT doc_id,
             [ list_min(list_slice(hashes, p, p + {_WW} - 1))
               FOR p IN range(1, greatest(len(hashes) - {_WW} + 1, 1) + 1) ] AS mins
      FROM h WHERE len(hashes) > 0
    )
    SELECT DISTINCT doc_id, unnest(mins) AS fp_hash FROM sel
    """,
)
def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Vectorized numpy inside mapInPandas rather than nested higher-order
    # expressions: a k-step Horner recurrence over every position is pure
    # dense integer math, where HOF lambdas pay per-element interpretation
    # (and ProjectCollapse re-inlines any pre-split codes array back into
    # the lambda, re-splitting the string per element — 25s vs 0.5s at
    # sf0.1). int64 modular arithmetic is exact and engine-independent, so
    # the DuckDB oracle still hash-matches. Per-doc dedup happens in numpy;
    # no shuffle at all — the operator is a narrow map.
    import pandas as pd

    def winnow(batches):
        import numpy as np

        win = np.lib.stride_tricks.sliding_window_view
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text)
                if n < _WK:
                    continue
                c = np.fromiter(map(ord, text), dtype=np.int64, count=n)
                h = np.zeros(n - _WK + 1, dtype=np.int64)
                for j in range(_WK):
                    h = (h * _WB + c[j : n - _WK + 1 + j]) % _WM
                sel = win(h, _WW).min(axis=1) if len(h) >= _WW else h.min(keepdims=True)
                u = np.unique(sel)
                ids.append(np.full(len(u), doc_id, dtype=np.int64))
                fps.append(u)
            if ids:
                yield pd.DataFrame(
                    {"doc_id": np.concatenate(ids), "fp_hash": np.concatenate(fps)}
                )

    d = load_table(spark, sf_dir, "documents")
    # spread the single-row-group scan so the Arrow kernel runs on more
    # than one Python worker (r14, guide §2.5; size-gated no-op at scale)
    return spread_narrow_cpu(d.select("doc_id", "text")).mapInPandas(
        winnow, schema="doc_id bigint, fp_hash bigint"
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary stats: term frequency + document frequency. The
# input table for tokenizer training and the df-based quality filters
# ("drop docs dominated by top-100 stopwords"). One explode + one
# shuffle on the term; map-side partial aggregation collapses repeated
# terms within a partition before the exchange, so the shuffle volume is
# ~vocabulary-sized, not corpus-sized.
# ---------------------------------------------------------------------------


@query(
    "vocab_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' '))
               AS term
      FROM documents
    )
    SELECT term,
           COUNT(*) AS term_freq,
           COUNT(DISTINCT doc_id) AS doc_freq
    FROM toks WHERE term <> ''
    GROUP BY term
    ORDER BY term_freq DESC, term
    LIMIT 50
    """,
)
def vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _doc_terms(spark, sf_dir)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("term_freq"),
            F.count_distinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("term_freq"), "term")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# PII redaction: mask emails / IPv4 addresses / long digit runs / phone-ish
# sequences — the safety-filtering stage every production training-data
# pipeline runs before release (BigCode/StarCoder PII pass, Dolma's
# email/IP/phone masking rule: same pattern families). Narrow map over the
# corpus (regexp_replace chain, JVM-side, zero shuffle). Semantics are
# pinned by unit tests on crafted strings; the synthetic corpus contains
# no organic PII (probed: zero email/IP/phone regex hits at every shipped
# SF), so the driver-visible `pii_redact` query below first plants
# deterministic PII — the same inject-then-round-trip discipline the
# multimodal codecs use — and then detects and masks it with these
# generic patterns, byte-compared against DuckDB. Patterns stay in the
# common Java/RE2 subset (char classes, bounded repetition, \b — no
# backrefs or lookaround), so a dialect divergence anywhere in the match
# set fails the oracle gate.
# ---------------------------------------------------------------------------

# Whitespace spelled as the explicit class ``tokens.WS_CHARS``, not \s:
# Java's \s includes \x0b (vertical tab) while RE2/DuckDB's does not, so
# a bare \s in an oracle-gated pattern would diverge on text containing
# \x0b inside a match window (ADVICE r6).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PHONE_RE = rf"\+?\d[\d{WS_CHARS}().-]{{7,}}\d"
_LONG_DIGITS_RE = r"\d{6,}"


def redact_pii(col: Column) -> Column:
    """Replace emails, dotted-quad IPv4s, unbroken long digit runs
    (card/account numbers), then separator-formatted phone-like sequences —
    in that order, so an IP is labeled <IP> (not swallowed by the loose
    phone pattern) and a 16-digit card is <NUM>, not <PHONE>."""
    out = F.regexp_replace(col, _EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, _IP_RE, "<IP>")
    out = F.regexp_replace(out, _LONG_DIGITS_RE, "<NUM>")
    return F.regexp_replace(out, _PHONE_RE, "<PHONE>")


def pii_counts(col: Column) -> Column:
    """Struct of per-category REPLACEMENT counts — each pattern is counted
    on the text with the earlier categories already masked, mirroring
    ``redact_pii``'s application order, so the counts tie out exactly with
    the substitutions made (a 16-digit card counts once, as a digit run,
    never also as a phone; an IP once, as an IP)."""
    after_email = F.regexp_replace(col, _EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, _IP_RE, "<IP>")
    after_digits = F.regexp_replace(after_ip, _LONG_DIGITS_RE, "<NUM>")
    return F.struct(
        F.regexp_count(col, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(after_email, F.lit(_IP_RE)).alias("n_ips"),
        F.regexp_count(after_ip, F.lit(_LONG_DIGITS_RE)).alias("n_digit_runs"),
        F.regexp_count(after_digits, F.lit(_PHONE_RE)).alias("n_phones"),
    )


def _pii_injected(docs: DataFrame) -> DataFrame:
    """documents with deterministic synthetic PII planted in doc_id%7 in
    {0,1,2} (email / phone / IPv4 respectively), spliced mid-text at a
    doc_id-dependent offset. Pure CAST/concat/substr integer math — the
    DuckDB oracle rebuilds the identical bytes, while the DETECTOR above
    knows nothing about the injection sites."""
    did = F.col("doc_id")
    pii = (
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit("contact_"), did.cast("string"),
                F.lit("@"), F.col("source"), F.lit(".org"),
            ),
        )
        .when(
            did % 7 == 1,
            F.concat(
                F.lit("555-"), (did % 900 + 100).cast("string"),
                F.lit("-"), (did % 9000 + 1000).cast("string"),
            ),
        )
        .when(
            did % 7 == 2,
            F.concat(
                (did % 200 + 10).cast("string"), F.lit("."),
                (did % 256).cast("string"), F.lit("."),
                F.expr("cast(doc_id div 7 as bigint) % 256").cast("string"),
                F.lit("."), (did % 250 + 1).cast("string"),
            ),
        )
    )
    pos = (did % 20 + 20).cast("int")
    injected = F.when(pii.isNull(), F.col("text")).otherwise(
        F.concat(
            F.substring(F.col("text"), F.lit(1), pos),
            F.lit(" "), pii, F.lit(" "),
            F.substring(F.col("text"), pos + 1, F.lit(2147483647)),
        )
    )
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", "source", injected.alias("text")
    )


@query(
    "pii_redact",
    oracle=f"""
    WITH injected AS (
      SELECT doc_id, source,
             CASE
               WHEN pii IS NULL THEN text
               ELSE substr(text, 1, pos) || ' ' || pii || ' ' || substr(text, pos + 1)
             END AS text
      FROM (
        SELECT doc_id, source, text,
               CAST(doc_id % 20 + 20 AS INTEGER) AS pos,
               CASE doc_id % 7
                 WHEN 0 THEN 'contact_' || CAST(doc_id AS VARCHAR)
                             || '@' || source || '.org'
                 WHEN 1 THEN '555-' || CAST(doc_id % 900 + 100 AS VARCHAR)
                             || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
                 WHEN 2 THEN CAST(doc_id % 200 + 10 AS VARCHAR)
                             || '.' || CAST(doc_id % 256 AS VARCHAR)
                             || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)
                             || '.' || CAST(doc_id % 250 + 1 AS VARCHAR)
               END AS pii
        FROM documents WHERE text IS NOT NULL
      )
    ),
    m1 AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
             regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g') AS t
      FROM injected
    ),
    m2 AS (
      SELECT doc_id, source, n_emails,
             CAST(len(regexp_extract_all(t, '{_IP_RE}')) AS BIGINT) AS n_ips,
             regexp_replace(t, '{_IP_RE}', '<IP>', 'g') AS t
      FROM m1
    ),
    m3 AS (
      SELECT doc_id, source, n_emails, n_ips,
             CAST(len(regexp_extract_all(t, '{_LONG_DIGITS_RE}')) AS BIGINT)
               AS n_digit_runs,
             regexp_replace(t, '{_LONG_DIGITS_RE}', '<NUM>', 'g') AS t
      FROM m2
    )
    SELECT doc_id, source, n_emails, n_ips, n_digit_runs,
           CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           regexp_replace(t, '{_PHONE_RE}', '<PHONE>', 'g') AS redacted_text
    FROM m3
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plant deterministic PII in 3/7 of documents, then detect and mask it
    with the generic patterns above (see block comment). ZERO shuffles —
    injection, detection, and masking fuse into one narrow per-row scan
    projection, embarrassingly parallel at any corpus size. Redacted text
    is byte-identical across engines; per-family counts prove the detector
    found exactly the planted items (plus any organic hits). The regex
    pack is heavy per row, so the single-row-group input is size-gate
    spread first (r14, guide §2.5) — still no shuffle at corpus scale."""
    d = _pii_injected(
        spread_narrow_cpu(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "source", "text"
            )
        )
    )
    c = pii_counts(F.col("text"))
    return d.select(
        "doc_id",
        "source",
        c["n_emails"].cast("bigint").alias("n_emails"),
        c["n_ips"].cast("bigint").alias("n_ips"),
        c["n_digit_runs"].cast("bigint").alias("n_digit_runs"),
        c["n_phones"].cast("bigint").alias("n_phones"),
        redact_pii(F.col("text")).alias("redacted_text"),
    )


# ---------------------------------------------------------------------------
# Repetition stats (Gopher-style repetition filter): the fraction of
# duplicate word bigrams per document. Machine-generated / boilerplate text
# repeats itself; the classic pre-training filter drops docs whose
# duplicate-n-gram fraction crosses a threshold (Rae et al., "Scaling
# Language Models: ... Gopher", §A1.1). Pure higher-order array functions
# over one narrow scan — no shuffle, no Python.
# ---------------------------------------------------------------------------

_REPETITION_THRESHOLD = 0.2


@query(
    "repetition_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ') AS ws
      FROM documents
    ),
    b AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 2
                  THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
                  ELSE CAST([] AS VARCHAR[]) END AS bg
      FROM t
    )
    SELECT doc_id,
           CAST(len(bg) AS BIGINT) AS n_bigrams,
           CAST(len(bg) - len(list_distinct(bg)) AS BIGINT) AS n_dup_bigrams,
           CAST(ROUND(CASE WHEN len(bg) > 0
                 THEN CAST(len(bg) - len(list_distinct(bg)) AS DECIMAL(18,6)) / len(bg)
                 ELSE 0 END, 4) AS DOUBLE) AS dup_bigram_ratio,
           (CASE WHEN len(bg) > 0
                 THEN CAST(len(bg) - len(list_distinct(bg)) AS DECIMAL(18,6)) / len(bg)
                 ELSE 0 END > {_REPETITION_THRESHOLD}) AS is_repetitive
    FROM b
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    with_bg = spread_narrow_cpu(d.select("doc_id", "text")).select(
        "doc_id", tokenize_words("text").alias("__ws")
    ).select("doc_id", ngrams(F.col("__ws"), 2).alias("bg"))
    n_bg = F.size("bg").cast("bigint")
    n_dup = (F.size("bg") - F.size(F.array_distinct("bg"))).cast("bigint")
    ratio = F.when(
        n_bg > 0, n_dup.cast("decimal(18,6)") / n_bg
    ).otherwise(F.lit(0).cast("decimal(18,6)"))
    return with_bg.select(
        "doc_id",
        n_bg.alias("n_bigrams"),
        n_dup.alias("n_dup_bigrams"),
        F.round(ratio, 4).cast("double").alias("dup_bigram_ratio"),
        (ratio > _REPETITION_THRESHOLD).alias("is_repetitive"),
    )


# ---------------------------------------------------------------------------
# Context-window chunking: split each document into overlapping fixed-size
# token windows (the RAG / long-context prep step: window 64 tokens,
# stride 48 -> 16-token overlap). One narrow projection + one explode —
# chunk ids are pure arithmetic on the window start, so the output is
# deterministic under any partitioning and a re-run regenerates identical
# chunk keys (resumable embedding jobs join on (doc_id, chunk_id)).
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 64
_CHUNK_STRIDE = 48


@query(
    "context_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ') AS ws
      FROM documents
    ),
    s AS (
      SELECT doc_id, ws, unnest(range(1, len(ws) + 1, {_CHUNK_STRIDE})) AS start
      FROM t
    )
    SELECT doc_id,
           CAST((start - 1) // {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(start AS BIGINT) AS chunk_start,
           CAST(least({_CHUNK_TOKENS}, len(ws) - start + 1) AS BIGINT) AS n_chunk_tokens,
           array_to_string(list_slice(ws, start, least(start + {_CHUNK_TOKENS} - 1, len(ws))), ' ')
             AS chunk_text
    FROM s
    """,
)
def context_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        spread_narrow_cpu(d.select("doc_id", "text"))
        .select("doc_id", tokenize_words("text").alias("__ws"))
        .select(
            "doc_id",
            "__ws",
            F.explode(
                F.expr(f"sequence(1, size(__ws), {_CHUNK_STRIDE})")
            ).alias("start"),
        )
        .select(
            "doc_id",
            F.expr(f"(start - 1) div {_CHUNK_STRIDE}").cast("bigint").alias("chunk_id"),
            F.col("start").cast("bigint").alias("chunk_start"),
            F.least(
                F.lit(_CHUNK_TOKENS), F.size("__ws") - F.col("start") + 1
            ).cast("bigint").alias("n_chunk_tokens"),
            F.concat_ws(
                " ", F.expr(f"slice(__ws, start, {_CHUNK_TOKENS})")
            ).alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (r5): split each document at positions chosen by
# the CONTENT, not by arithmetic — a boundary closes a chunk after token i
# whenever the hash of the k-token window ending at i lands in 1/M of the
# hash space (the Rabin-Karp/FastCDC rule, md5 here so both engines share
# the hash). Unlike context_chunks' fixed stride, CDC boundaries survive
# insertions/deletions: editing one token only moves boundaries within a
# window of it, so downstream chunk-level dedup/storage (and chunk-hash
# incremental embedding jobs) see unchanged chunks for unchanged content.
# Plan: ZERO shuffles before the final per-doc projection — tokenize,
# boundary positions, and chunk lengths are all JVM higher-order lambdas
# over the per-doc token array (no explode, no window, no Python); the
# expected chunk length is M tokens (_CDC_MOD), independent of doc length.
# ---------------------------------------------------------------------------

_CDC_K = 3  # hash-window tokens
_CDC_MOD = 16  # boundary probability 1/16 -> expected 16-token chunks


@query(
    "cdc_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    e AS (
      SELECT doc_id, len(ws) AS n,
             list_filter(generate_series({_CDC_K}, len(ws)),
               i -> CAST(('0x' || substr(md5(array_to_string(ws[i-{_CDC_K - 1}:i], ' ')), 1, 4)) AS INTEGER)
                    % {_CDC_MOD} = 0) AS b
      FROM t
    ),
    ends AS (
      SELECT doc_id, n,
             CASE WHEN len(b) > 0 AND b[-1] = n THEN b
                  ELSE list_append(b, n) END AS e
      FROM e
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(len(e) AS BIGINT) AS n_chunks,
           CAST(list_max(list_transform(e, (x, j) -> x - coalesce(e[j - 1], 0)))
                AS BIGINT) AS max_chunk_tokens,
           CAST(ROUND(CAST(n AS DECIMAL(18,6)) / len(e), 4) AS DOUBLE)
             AS avg_chunk_tokens
    FROM ends
    """,
)
def cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc content-defined chunking statistics (see block comment):
    token count, chunk count, longest chunk, mean chunk length. Boundary
    rule: md5 of the {_CDC_K}-token window ending at position i, first 16
    bits mod {_CDC_MOD} == 0, closes a chunk at i."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # 1-based boundary end positions; the doc end always closes the last
    # chunk. All pure JVM lambdas over the token array — no shuffle
    # beyond the size-gated input spread (guide §2.5).
    return (
        spread_narrow_cpu(d.select("doc_id", "text"))
        .select("doc_id", ws_tokens("text").alias("__ws"))
        .select(
            "doc_id",
            F.size("__ws").alias("__n"),
            # size < K guard: Spark's sequence(K, n) DESCENDS when n < K
            # (the bpe.py edge); DuckDB's generate_series is empty there
            F.expr(
                f"""
                IF(size(__ws) < {_CDC_K}, array(),
                  filter(sequence({_CDC_K}, size(__ws)),
                    i -> cast(conv(substring(md5(
                           concat_ws(' ', slice(__ws, i - {_CDC_K - 1}, {_CDC_K}))
                         ), 1, 4), 16, 10) AS INT) % {_CDC_MOD} = 0))
                """
            ).alias("__b"),
        )
        .select(
            "doc_id",
            "__n",
            F.expr(
                "IF(size(__b) > 0 AND try_element_at(__b, -1) = __n,"
                " __b, concat(__b, array(__n)))"
            ).alias("__e"),
        )
        .select(
            "doc_id",
            F.col("__n").cast("bigint").alias("n_tokens"),
            F.size("__e").cast("bigint").alias("n_chunks"),
            F.expr(
                "array_max(transform(__e,"
                " (x, j) -> x - IF(j = 0, 0, element_at(__e, j))))"
            )
            .cast("bigint")
            .alias("max_chunk_tokens"),
            F.round(
                F.col("__n").cast("decimal(18,6)") / F.size("__e"), 4
            )
            .cast("double")
            .alias("avg_chunk_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus-LM token rarity: score each document by the mean inverse corpus
# frequency of its tokens — the unigram-language-model quality signal
# (gibberish and boilerplate-free text differ sharply in mean token
# rarity). Two phases: one partial-agg shuffle builds the term-frequency
# model, then the corpus re-scan joins the model and averages per doc.
# Rarity is T // count(term) in BIGINT (integer division) so Spark and the
# oracle agree bit-for-bit — no transcendental functions whose last-ulp
# behavior differs between engines; the single decimal division happens
# once, at the final rounded average.
# ---------------------------------------------------------------------------


@query(
    "token_rarity_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')) AS term
      FROM documents
    ),
    toks_nz AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks_nz GROUP BY term),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM vocab)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_scored_tokens,
           CAST(SUM(total_tokens // v.cnt) AS BIGINT) AS rarity_sum,
           CAST(ROUND(CAST(SUM(total_tokens // v.cnt) AS DECIMAL(28,6)) / COUNT(*), 4)
                AS DOUBLE) AS mean_rarity
    FROM toks_nz t JOIN vocab v USING (term) CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def token_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _doc_terms(spark, sf_dir)
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").cast("bigint").alias("total_tokens"))
    scored = (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", F.expr("total_tokens div cnt").alias("rarity"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored_tokens"),
        F.sum("rarity").cast("bigint").alias("rarity_sum"),
        F.round(
            F.sum("rarity").cast("decimal(28,6)") / F.count(F.lit(1)), 4
        ).cast("double").alias("mean_rarity"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters: exact top-k frequent terms WITHOUT shuffling the full
# term stream. Candidate generation by per-partition Misra-Gries sketches
# (bounded memory, no shuffle), then an exact verification count over
# candidates only. The merged-sketch guarantee: any term with global
# frequency > N/capacity exceeds n_p/capacity in at least one partition
# (pigeonhole), so it survives as a candidate; with Zipfian text the
# k-th term's count dwarfs N/capacity. The query VERIFIES that margin at
# runtime and fails loudly rather than return a silently-approximate
# top-k — candidates are a superset, the exact pass makes ranks exact.
#
# At 100 TB the full-stream groupBy shuffles ~N rows; this shuffles only
# candidates x partitions (capacity-bounded), the classic
# sketch-then-verify composition.
# ---------------------------------------------------------------------------

_MG_CAPACITY = 4096
_TOPK_TERMS = 30


def misra_gries_candidates(
    df: DataFrame, text_col: str = "text", capacity: int = _MG_CAPACITY
) -> DataFrame:
    """Per-partition Misra-Gries summaries: (term, weight) rows, at most
    ``capacity`` per partition. Weights are lower bounds, only used for
    candidate pruning — never reported."""
    import pandas as pd

    def sketch(batches):
        counts: dict[str, int] = {}
        for pdf in batches:
            for tx in pdf[text_col]:
                for term in (tx.split() if tx else ()):
                    if term in counts:
                        counts[term] += 1
                    elif len(counts) < capacity:
                        counts[term] = 1
                    else:
                        # decrement-all step, dropping zeros
                        dead = []
                        for t in counts:
                            counts[t] -= 1
                            if counts[t] == 0:
                                dead.append(t)
                        for t in dead:
                            del counts[t]
        yield pd.DataFrame(
            {"term": list(counts), "weight": list(counts.values())}
        )

    # spread before the Arrow kernel (r14, guide §2.5): the MG superset
    # guarantee is partitioning-independent (pigeonhole over ANY layout),
    # and the exact verify pass makes the final counts layout-invariant
    return spread_narrow_cpu(df.select(text_col)).mapInPandas(
        sketch, "term string, weight long"
    )


@query(
    "frequent_terms_topk",
    oracle=f"""
    SELECT term, n FROM (
      SELECT t.term, COUNT(*) AS n
      FROM documents, UNNEST(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS t(term)
      GROUP BY t.term
    ) c ORDER BY n DESC, term LIMIT {_TOPK_TERMS}
    """,
)
def frequent_terms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-{k} terms via sketch-then-verify (see module comment)."""
    from pyspark.sql import Observation

    d = load_table(spark, sf_dir, "documents")
    cands = misra_gries_candidates(d).select("term").distinct()
    # r14: the guard's total token count is OBSERVED on the token stream
    # during the verify pass (pre-join, so it sees every token) instead
    # of re-running the corpus-wide scan+split+explode as a second job.
    obs = Observation()
    toks = spread_narrow_cpu(d.select("text")).select(
        F.explode(ws_tokens("text")).alias("term")
    ).observe(obs, F.count(F.lit(1)).alias("nt"))
    counted = (
        toks.join(F.broadcast(cands), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counted.orderBy(F.desc("n"), "term").limit(_TOPK_TERMS)
    # Exactness guard: the candidate set provably contains every term with
    # count > N/capacity; if the k-th reported count is inside that noise
    # floor the top-k could be wrong — fail loudly, never approximate.
    rows = top.collect()
    n_total = obs.get["nt"]
    floor = n_total / _MG_CAPACITY
    if rows and rows[-1]["n"] <= floor:
        raise RuntimeError(
            f"top-{_TOPK_TERMS} kth count {rows[-1]['n']} is within the "
            f"Misra-Gries noise floor N/capacity={floor:.1f}; raise capacity"
        )
    return local_rows_df(spark, rows, top.schema)


# ---------------------------------------------------------------------------
# BPE-ish regex tokenization: the GPT-2-style pre-tokenizer classes
# (letter runs / digit runs / punctuation runs), restricted to a regex
# subset Java and RE2 interpret identically. Real BPE then merges within
# these pre-tokens, so their count upper-bounds the BPE token count far
# tighter than chars/4; the per-class counts drive the quality filters
# (symbol-to-word ratio etc.).
# ---------------------------------------------------------------------------

_PRETOKEN_RE = rf"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9{WS_CHARS}]+"


def regex_pretokens(col: Column) -> Column:
    """Array of BPE-style pre-tokens of a text column."""
    return F.regexp_extract_all(col, F.lit(_PRETOKEN_RE), 0)


@query(
    "regex_token_count",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_PRETOKEN_RE}')) AS n_pretokens,
           len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs,
           len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n\\x0b\\f\\r]+')) AS n_symbol_runs
    FROM documents
    """,
)
def regex_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-token counts per doc — the regex stage of BPE tokenization."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(regex_pretokens(F.col("text"))).alias("n_pretokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0)).alias(
            "n_digit_runs"
        ),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(rf"[^a-zA-Z0-9{WS_CHARS}]+"), 0)
        ).alias("n_symbol_runs"),
    )


# ---------------------------------------------------------------------------
# TF-IDF and BM25 — the classic sparse-retrieval scorers over the corpus.
# Both build on the same two aggregates: per-(doc, term) counts (one
# shuffle over the token stream, map-side combined) and the per-term
# document frequency (an agg over the already-tiny tf table). The df/vocab
# table is orders of magnitude smaller than the corpus, so it broadcasts;
# the corpus-sized side is shuffled exactly once, on (doc_id, term).
# Transcendental idf values are computed identically in Spark and the
# DuckDB oracle and only compared after ROUND(..., 4), so last-ulp ln()
# divergence between engines cannot flip the hash; ranking windows order
# by the ROUNDED score (then term / doc_id), keeping rank assignment
# deterministic and engine-independent.
# ---------------------------------------------------------------------------

_TFIDF_TOPK = 3
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("spark", "shuffle", "partition")
_BM25_TOPK = 20


def _doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # spread the single-row-group scan before the tokenize/explode kernel
    # (r14, guide §2.5; size-gated no-op at corpus scale)
    return explode_terms(d.select("doc_id", "text"), "doc_id", tokenize_words("text"), spread=True)


_TOKS_CTE = """
    toks AS (
      SELECT doc_id,
             unnest(string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')) AS term
      FROM documents
    ),
    toks_nz AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks_nz GROUP BY doc_id, term
    )
"""


@query(
    "tfidf_topk",
    oracle=f"""
    WITH {_TOKS_CTE},
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             CAST(ROUND(tf.tf * ln(n_docs / dfreq.df), 4) AS DOUBLE) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, CAST(term_rank AS INTEGER) AS term_rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS term_rank
      FROM scored
    ) WHERE term_rank <= {_TFIDF_TOPK}
    """,
)
def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} characteristic terms per document by raw-count TF-IDF
    (idf = ln(N/df), no smoothing — every corpus term appears in >= 1 doc
    so df >= 1). The per-doc window ranks by the ROUNDED score so the
    DuckDB oracle assigns identical ranks."""
    from pyspark.sql.window import Window

    toks = _doc_terms(spark, sf_dir)
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n_docs = float(load_table(spark, sf_dir, "documents").count())
    scored = tf.join(F.broadcast(dfreq), "term").withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(n_docs) / F.col("df")), 4).cast("double"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("term_rank") <= _TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df", "tfidf", "term_rank")
    )


@query(
    "bm25_search",
    oracle=f"""
    WITH {_TOKS_CTE},
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks_nz GROUP BY doc_id),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             AVG(CAST(dl AS DOUBLE)) AS avgdl
      FROM dl
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    qtf AS (
      SELECT * FROM tf
      WHERE term IN ({", ".join("'" + t + "'" for t in _BM25_QUERY)})
    ),
    scored AS (
      SELECT qtf.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             SUM(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * ({_BM25_K1} + 1.0))
               / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))
             ) AS s
      FROM qtf
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY qtf.doc_id
    )
    SELECT doc_id, n_terms_hit, CAST(ROUND(s, 4) AS DOUBLE) AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval for a fixed query (_BM25_QUERY), top
    _BM25_TOPK documents. idf is the standard (N - df + 0.5)/(df + 0.5) + 1
    form (always positive); length normalization uses avgdl over docs with
    at least one token.

    Plan shape: the corpus-sized token stream is aggregated once into the
    (doc, term) tf table, which then serves BOTH per-doc lengths and the
    query-term slice; the df table and the 1-row (N, avgdl) stats are
    broadcast. The query-term filter cuts the scored side to |query| rows
    per doc BEFORE any join, so at 100 TB the only full-corpus work is the
    one tf shuffle."""
    toks = _doc_terms(spark, sf_dir)
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    # r14: tf is localCheckpointed (3 consumers: dl, dfreq, qtf) instead of
    # persist()+finally-unpersist, which forced the final result to be
    # eagerly checkpointed at construction time (the setsim persist
    # lesson): the whole query executed while BUILDING the DataFrame
    # and then re-materialized into block storage.
    tf = tf.localCheckpoint(eager=True)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    # 1-row stats frame cross-joined (broadcast) instead of a driver
    # collect: the whole query is ONE action, so the persisted tf is
    # materialized once and every derived table reads the cache.
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    qtf = tf.filter(F.col("term").isin(*_BM25_QUERY))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    contrib = idf * (F.col("tf") * (_BM25_K1 + 1.0)) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    out = (
        qtf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
            F.round(F.sum(contrib), 4).cast("double").alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )
    return out


# ---------------------------------------------------------------------------
# Word-distribution entropy: H = -sum_t (c_t/n) ln(c_t/n) per document —
# the vocabulary-diversity quality signal (repetitive boilerplate scores
# near 0, diverse prose near ln(vocab)). Same engine-parity policy as
# the DSIR scorer: each term's contribution is rounded to 8 decimals and
# summed as DECIMAL(28,8) (exact, order-free), only the final value
# returns to DOUBLE. One (doc, term) shuffle; everything else is narrow.
# ---------------------------------------------------------------------------


@query(
    "word_entropy",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')) AS term
      FROM documents
    ),
    toks_nz AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks_nz GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY doc_id)
    SELECT tf.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_terms,
           CAST(ROUND(CAST(SUM(
             CAST(ROUND(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n), 8) AS DECIMAL(28,8))
           ) AS DOUBLE), 4) AS DOUBLE) AS entropy_nats
    FROM tf JOIN dl USING (doc_id)
    GROUP BY tf.doc_id
    """,
)
def word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _doc_terms(spark, sf_dir)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    dl = tf.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        tf.join(dl, "doc_id")
        .select(
            "doc_id",
            F.round(-p * F.log(p), 8).cast("decimal(28,8)").alias("h_term"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_terms"),
            F.round(F.sum("h_term").cast("double"), 4).cast("double").alias("entropy_nats"),
        )
    )


# ---------------------------------------------------------------------------
# PMI collocations: pointwise mutual information of adjacent word pairs,
# ln(p(ab) / (p(a) p(b))) — the classic collocation-mining statistic
# (high PMI = the pair co-occurs far above chance). Three aggregates
# (bigram counts, unigram counts, totals), all map-side combined; the
# unigram table broadcasts back onto the bigram table twice. The PMI
# argument is assembled in ONE double expression of identical shape in
# both engines, compared after ROUND(,4), ranked by the rounded value.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 20
_PMI_TOPK = 30


@query(
    "pmi_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ') AS t
      FROM documents
    ),
    bigrams AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
      WHERE t[i] <> '' AND t[i + 1] <> ''
    ),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT unnest(t) AS w FROM toks
      ) WHERE w <> '' GROUP BY w
    ),
    tot AS (
      SELECT CAST((SELECT COUNT(*) FROM bigrams) AS DOUBLE) AS nb,
             CAST((SELECT SUM(c) FROM uni) AS DOUBLE) AS tu
    ),
    pair_counts AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM bigrams GROUP BY w1, w2
    )
    SELECT w1, w2, c_ab,
           -- + 0.0 pins a rounded-to-zero PMI's sign (r12 signed-zero
           -- class): PMI crosses zero by nature
           CAST(ROUND(ln((CAST(c_ab AS DOUBLE) * tu * tu) / (nb * ua.c * ub.c)), 4) + 0.0 AS DOUBLE) AS pmi
    FROM pair_counts
    JOIN uni ua ON ua.w = w1
    JOIN uni ub ON ub.w = w2
    CROSS JOIN tot
    WHERE c_ab >= {_PMI_MIN_COUNT}
    ORDER BY pmi DESC, w1, w2
    LIMIT {_PMI_TOPK}
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = spread_narrow_cpu(d.select("text")).select(
        tokenize_words("text").alias("t")
    )
    bigrams = (
        toks.select(
            F.explode(word_pairs("t")).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    # r14: bigrams is localCheckpointed (2 consumers: pair_counts, tot) instead of
    # persist()+finally-unpersist, which forced the final result to be
    # eagerly checkpointed at construction time (the setsim persist
    # lesson): the whole query executed while BUILDING the DataFrame
    # and then re-materialized into block storage.
    bigrams = bigrams.localCheckpoint(eager=True)
    uni = (
        explode_terms(toks, [], F.col("t"))
        .groupBy(F.col("term").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    pair_counts = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_ab")
    )
    tot = bigrams.agg(F.count(F.lit(1)).cast("double").alias("nb")).crossJoin(
        uni.agg(F.sum("c").cast("double").alias("tu"))
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    # + 0.0 pins the rounded-to-zero sign in both engines (r12 class)
    pmi = (
        F.round(
            F.log(
                (F.col("c_ab").cast("double") * F.col("tu") * F.col("tu"))
                / (F.col("nb") * F.col("c_a") * F.col("c_b"))
            ),
            4,
        )
        + F.lit(0.0)
    ).cast("double")
    out = (
        pair_counts.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c_ab", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_PMI_TOPK)
    )
    return out


# ---------------------------------------------------------------------------
# Count-Min sketch term frequencies — the linear (mergeable) counterpart
# of the Misra-Gries heavy-hitter sketch above. Spark's built-in
# ``stat.countMinSketch`` builds per-partition sketches JVM-side and
# merges them (CMS is linear: merge = elementwise add), so the full term
# stream is summarized in eps-width * depth counters with NO shuffle of
# the stream itself. Guarantees: est >= true always (counts only
# over-estimate), est <= true + eps*N with probability 1 - delta.
# Estimates are hash-dependent (seeded, engine-specific) -> rows-only
# check; the bounds are pinned by a test against exact counts.
# ---------------------------------------------------------------------------

_CMS_EPS = 0.001
_CMS_DELTA = 0.01
_CMS_SEED = 42


def term_cms(df: DataFrame, text_col: str = "text"):
    """CountMinSketch over the whitespace term stream of ``text_col``.

    Built with the SQL aggregate ``count_min_sketch`` (JVM-side,
    partial-merged like any aggregate — the stream never shuffles; only
    the eps*depth counter blobs do) and deserialized through the JVM
    sketch class for point queries.
    """
    toks = df.select(
        F.explode(ws_tokens(text_col)).alias("term")
    )
    blob = toks.agg(
        F.expr(
            f"count_min_sketch(term, CAST({_CMS_EPS} AS DOUBLE),"
            f" CAST({1 - _CMS_DELTA} AS DOUBLE), {_CMS_SEED})"
        ).alias("cms")
    ).collect()[0]["cms"]
    jvm = df.sparkSession._jvm
    sketch = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes(blob))
    return sketch, toks


@query("cms_term_estimates", rows_only_reason="CMS estimates are hash/seed-specific by design (no cross-engine sketch standard); the sketch's width/depth error contract is oracle-gated against exact counts by cms_calibration")
def cms_term_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated frequencies of the exact top-N terms from one Count-Min
    sketch pass (plus the exact counts for comparison — the driver's
    rows-only check sees a stable row count; the test pins the bounds)."""
    d = load_table(spark, sf_dir, "documents")
    sketch, toks = term_cms(d)
    exact = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "term")
        .limit(_TOPK_TERMS)
        .collect()
    )
    rows = [
        (r["term"], r["exact_n"], int(sketch.estimateCount(r["term"])))
        for r in exact
    ]
    return local_rows_df(spark, rows, "term string, exact_n bigint, est_n bigint")


# ---------------------------------------------------------------------------
# CMS estimator-vs-truth calibration — the same template as
# minhash/ann/approx_distinct calibration, applied to the Count-Min sketch
# above (whose built-in hashes are engine-specific, hence rows-only). The
# twin builds a d x w CMS with md5-derived bucket hashes both engines
# share bit-for-bit, so every cell count, every point estimate, and the
# overestimate column hash-match DuckDB. The report exposes CMS's defining
# one-sided guarantee as data: est >= exact always (overest_bp >= 0), with
# the expected overestimate ~ N/w per row shrunk by the min over d rows.
#
# The sketch runs over the corpus BIGRAM stream, not unigrams: the
# synthetic vocabulary holds only 31 distinct words, so a unigram CMS at
# any useful width never collides and the report would be a degenerate
# zero-error passthrough at every SF (the boilerplate-threshold lesson).
# The ~31^2 distinct bigrams against w=256 give every report row a real
# collision load (measured: 26-28 of the 30 top bigrams carry
# overest > 0 at every shipped SF), so the min-over-d estimate path — not
# an exact-lookup no-op — is what the oracle hash-match exercises.
#
# Scale: the gram stream is shuffled only as a map-side-combined
# (row, bucket) agg whose output is bounded by d*w cells (1024 here) — at
# 100 TB the shuffle payload stays 1024 rows per partial regardless of
# corpus size, exactly the sketch's linear-merge promise. The exact top-K
# side pays one gram agg (the auditor's ground-truth cost, cf. the
# approx_distinct_calibration plan note).
# ---------------------------------------------------------------------------

_CMSC_D = 4
_CMSC_W = 256


@query(
    "cms_calibration",
    oracle=f"""
    WITH toks AS (
      SELECT string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    tz AS (
      SELECT t[i] || ' ' || t[i + 1] AS term
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
      WHERE t[i] <> '' AND t[i + 1] <> ''
    ),
    rows_ AS (SELECT unnest(generate_series(0, {_CMSC_D - 1})) AS i),
    cells AS (
      SELECT i,
             CAST(('0x' || substr(md5('cms' || CAST(i AS VARCHAR) || ':' || term), 1, 7))
                  AS BIGINT) % {_CMSC_W} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM tz, rows_ GROUP BY 1, 2
    ),
    topk AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM tz GROUP BY term
      ORDER BY exact_n DESC, term LIMIT {_TOPK_TERMS}
    ),
    probe AS (
      SELECT t.term, t.exact_n, r.i,
             CAST(('0x' || substr(md5('cms' || CAST(r.i AS VARCHAR) || ':' || t.term), 1, 7))
                  AS BIGINT) % {_CMSC_W} AS bucket
      FROM topk t, rows_ r
    )
    SELECT p.term, p.exact_n,
           CAST(MIN(c.c) AS BIGINT) AS cms_est,
           CAST(MIN(c.c) - p.exact_n AS BIGINT) AS overest,
           CAST((MIN(c.c) - p.exact_n) * 10000 // p.exact_n AS BIGINT) AS overest_bp
    FROM probe p JOIN cells c ON c.i = p.i AND c.bucket = p.bucket
    GROUP BY p.term, p.exact_n
    """,
)
def cms_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable d x w Count-Min sketch (md5 bucket hashes) over the corpus
    bigram stream vs exact counts for the exact top-K bigrams (see block
    comment): estimate, overestimate, and basis-point error in pure
    integer math, hash-compared against DuckDB. CMS's one-sided error
    guarantee (est >= exact) is visible as overest >= 0 on every row."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.filter(F.col("text").isNotNull())
        .select(ws_tokens("text").alias("t"))
        .select(
            F.explode(word_pairs("t")).alias("p")
        )
        .select(F.concat("p.w1", F.lit(" "), "p.w2").alias("term"))
    )
    rows_ = F.array(*[F.lit(i) for i in range(_CMSC_D)])

    def bucket(i_col, term_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("cms"), i_col.cast("string"),
                            F.lit(":"), term_col,
                        )
                    ),
                    1, 7,
                ),
                16, 10,
            ).cast("bigint")
            % _CMSC_W
        )

    # ONE map-side-combined gram agg; cells then hash only DISTINCT terms
    # (vocab-sized, ~1k rows) instead of per token instance — same sums
    # exactly, ~1000x fewer md5 evaluations. localCheckpoint because both
    # the cells and the top-K report consume it (dual-consumer lesson).
    term_counts = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .localCheckpoint(eager=True)
    )
    cells = (
        term_counts.select("term", "exact_n", F.explode(rows_).alias("i"))
        .groupBy("i", bucket(F.col("i"), F.col("term")).alias("bucket"))
        .agg(F.sum("exact_n").cast("bigint").alias("c"))
    )
    topk = term_counts.orderBy(F.desc("exact_n"), "term").limit(_TOPK_TERMS)
    probe = topk.crossJoin(
        F.broadcast(
            toks.sparkSession.range(_CMSC_D).select(F.col("id").cast("int").alias("i"))
        )
    ).select(
        "term", "exact_n", "i",
        bucket(F.col("i"), F.col("term")).alias("bucket"),
    )
    return (
        F.broadcast(probe)
        .join(cells, ["i", "bucket"])
        .groupBy("term", "exact_n")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "term",
            "exact_n",
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") - F.col("exact_n")).cast("bigint").alias("overest"),
            F.expr("(cms_est - exact_n) * 10000 div exact_n")
            .cast("bigint").alias("overest_bp"),
        )
    )

# ---------------------------------------------------------------------------
# CCNet-style LM perplexity scoring: per-document cross-entropy under a
# corpus bigram language model (Wenzek et al., "CCNet", LREC 2020 filter
# documents by KenLM perplexity; here the LM is the corpus itself —
# swap the model side for a reference-corpus table in production). The
# bigram probability interpolates the MLE bigram with an add-1-smoothed
# unigram back-off: p(w2|w1) = L*c2/c1(w1) + (1-L)*(c1(w2)+1)/(T+V).
# Scale design: the corpus token stream is shuffled only by
# map-side-combined aggs ((doc,w1,w2) tf, (w1,w2) model counts); the
# probability table is assembled on the bigram-VOCAB table (model-sized)
# and attached to per-doc bigram counts by a plain shuffle join — no
# broadcast of the bigram vocabulary, which is corpus-scale at 100 TB
# (unigram attachment onto the model table IS broadcast: word vocab is
# bounded). Cross-engine exactness: per-distinct-(doc,bigram) surprisal
# is ROUNDed to 8 decimals into DECIMAL before the count-weighted sum —
# associativity-proof — and the mean is ROUNDed to 4 at the end.
# ---------------------------------------------------------------------------

_PPL_LAMBDA = 0.8


@query(
    "doc_perplexity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ') AS t
      FROM documents
    ),
    words AS (SELECT doc_id, unnest(t) AS w FROM toks),
    words_nz AS (SELECT doc_id, w FROM words WHERE w <> ''),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM words_nz GROUP BY w),
    tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS t_tokens,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM uni
    ),
    bigrams AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
      WHERE t[i] <> '' AND t[i + 1] <> ''
    ),
    dbg AS (
      SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k
      FROM bigrams GROUP BY doc_id, w1, w2
    ),
    model AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
      FROM bigrams GROUP BY w1, w2
    ),
    probs AS (
      SELECT m.w1, m.w2,
             CAST(ROUND(-ln(
               {_PPL_LAMBDA} * CAST(m.c2 AS DOUBLE) / ua.c1
               + {1 - _PPL_LAMBDA} * (ub.c1 + 1.0) / (t_tokens + v)
             ), 8) AS DECIMAL(28,8)) AS nll
      FROM model m
      JOIN uni ua ON ua.w = m.w1
      JOIN uni ub ON ub.w = m.w2
      CROSS JOIN tot
    )
    SELECT d.doc_id,
           CAST(SUM(k) AS BIGINT) AS n_bigrams,
           CAST(ROUND(CAST(SUM(nll * k) AS DOUBLE) / SUM(k), 4) AS DOUBLE)
             AS xent_nats
    FROM dbg d JOIN probs p ON p.w1 = d.w1 AND p.w2 = d.w2
    GROUP BY d.doc_id
    """,
)
def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean bigram surprisal (nats) under the corpus bigram LM —
    the CCNet perplexity-filter shape (docs with no bigram are excluded,
    matching the oracle's inner joins)."""
    d = load_table(spark, sf_dir, "documents")
    toks = spread_narrow_cpu(d.select("doc_id", "text")).select(
        "doc_id",
        tokenize_words("text").alias("t"),
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(word_pairs("t")).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    # ONE pass over the raw bigram stream (the map-side-combined
    # (doc, bigram) agg); the model table is a second-level agg OF THE
    # COLLAPSED table, so only dbg — already bigram-vocab x doc sized,
    # not corpus-stream sized — is persisted for reuse in the scoring
    # join. The unigram LM is its own narrow tokenize pass (recomputing
    # the split beats caching the corpus-scale token stream).
    dbg = bigrams.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    # r14: dbg is localCheckpointed (2 consumers: model, scoring join) instead of
    # persist()+finally-unpersist, which forced the final result to be
    # eagerly checkpointed at construction time (the setsim persist
    # lesson): the whole query executed while BUILDING the DataFrame
    # and then re-materialized into block storage.
    dbg = dbg.localCheckpoint(eager=True)
    uni = (
        explode_terms(toks, [], F.col("t"))
        .groupBy(F.col("term").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    )
    tot = uni.agg(
        F.sum("c1").cast("bigint").alias("t_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    model = dbg.groupBy("w1", "w2").agg(
        F.sum("k").cast("bigint").alias("c2")
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1_b"))
    nll = F.round(
        -F.log(
            F.lit(_PPL_LAMBDA) * F.col("c2").cast("double") / F.col("c1_a")
            + F.lit(1 - _PPL_LAMBDA)
            * (F.col("c1_b") + 1.0)
            / (F.col("t_tokens") + F.col("v"))
        ),
        8,
    ).cast("decimal(28,8)")
    probs = (
        model.join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", nll.alias("nll"))
    )
    out = (
        dbg.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(F.col("nll") * F.col("k")).cast("double") / F.sum("k"), 4
            )
            .cast("double")
            .alias("xent_nats"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# BPE tokenizer-training pair statistics: the first merge-selection step
# of byte-pair encoding (Sennrich et al., ACL 2016) at corpus scale.
# Words are counted once (map-side-combined agg — the ONLY corpus-scale
# shuffle, collapsing to the word vocabulary), then each DISTINCT word
# is split into characters + an end-of-word marker and every adjacent
# symbol pair is counted weighted by the word's corpus frequency. The
# quadratic-ish explode therefore runs over the VOCAB table (bounded —
# tens of MB at any corpus size), not the corpus: exactly how production
# BPE trainers structure the count (word-frequency dict first). Output:
# the top merge candidates, ranked (count DESC, pair) for a
# deterministic cross-engine order.
# ---------------------------------------------------------------------------

_BPE_EOW = "</w>"
_BPE_TOPK = 30


@query(
    "bpe_pair_counts",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')) AS w
      FROM documents
    ),
    wc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM words WHERE w <> '' GROUP BY w
    ),
    syms AS (
      SELECT w, n, list_append(string_split(w, ''), '{_BPE_EOW}') AS s FROM wc
    ),
    pairs AS (
      SELECT s[i] AS sym_a, s[i + 1] AS sym_b, n
      FROM syms, UNNEST(generate_series(1, len(s) - 1)) AS u(i)
    )
    SELECT sym_a, sym_b, CAST(SUM(n) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY sym_a, sym_b
    ORDER BY pair_count DESC, sym_a, sym_b
    LIMIT {_BPE_TOPK}
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-weighted adjacent-symbol pair counts over the word
    vocabulary — the statistic BPE training maximizes at each merge."""
    wc = word_counts(load_table(spark, sf_dir, "documents"))
    pairs = wc.select(
        "n",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(w)),"
                f" i -> struct(substring(w, i, 1) AS sym_a,"
                f" CASE WHEN i = length(w) THEN '{_BPE_EOW}'"
                f" ELSE substring(w, i + 1, 1) END AS sym_b))"
            )
        ).alias("p"),
    ).select("p.sym_a", "p.sym_b", "n")
    return (
        pairs.groupBy("sym_a", "sym_b")
        .agg(F.sum("n").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "sym_a", "sym_b")
        .limit(_BPE_TOPK)
    )
