"""Tokenization and n-gram construction for every Spark text operator.

Two tokenizers, each defined once: ``ws_tokens`` (raw: ``split(trim(x),
WS)``, whose positions index the original token stream; Python replica
``_java_ws_tokens``) and ``tokenize_words`` (normalized: lowercased,
whitespace runs collapsed, split on ' '). ``WS`` is an explicit class,
not ``\\s``: Java's ``\\s`` includes ``\\x0b`` while RE2/DuckDB's does not.
``trim`` strips ASCII spaces only. The DuckDB oracle SQL strings keep
their own spelling on purpose — they are the independent side.

Two stream kernels turn a token array into rows. Terms come from
``explode_terms``: one row per non-empty token. All n-grams come from
``ngrams``, over an ALREADY-PROJECTED token column; ``explode_ngrams``
does that projection itself.
Interpreted higher-order-function lambdas re-evaluate inlined
subexpressions per element, so a tokenizer inlined into the gram lambda
re-splits the document once per gram (measured 2.5-6x on the gram
consumers).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import spread_narrow_cpu

#: Java whitespace characters as regex escape text (valid in Java, Python
#: ``re`` and RE2 classes alike), and the token separator built from them.
WS_CHARS = r" \t\n\x0b\f\r"
WS = rf"[{WS_CHARS}]+"


def ws_tokens(col: Column | str) -> Column:
    """Raw tokens: ``split(trim(col), WS)``. '' and all-separator inputs
    yield [''] (one empty token), NULL yields NULL."""
    return F.split(F.trim(col), WS)


def _java_ws_tokens(tx: str | None) -> list[str]:
    """Exact Python replica of ``ws_tokens``: trim strips ASCII spaces
    only, and the split class is ``WS`` (NOT Python's unicode-aware
    ``str.split``). '' and all-separator inputs yield [''], as Spark does."""
    if tx is None:
        return []
    return re.split(WS, tx.strip(" "))


def _normalized_text(col: Column | str) -> Column:
    return F.regexp_replace(F.lower(F.trim(col)), WS, " ")


def tokenize_words(col: Column | str) -> Column:
    """Normalized tokens: lowercase, whitespace runs collapsed, split on
    ' ' (the corpus normalization rule)."""
    return F.split(_normalized_text(col), " ")


def n_tokens(col: Column | str) -> Column:
    """Raw token count."""
    return F.size(ws_tokens(col))


def normalized_fingerprint(col: Column | str) -> Column:
    """md5 of the whitespace-collapsed lowercase text."""
    return F.md5(_normalized_text(col).cast("binary"))


def passes_quality(text: Column) -> Column:
    """The heuristic quality gate: 100 <= chars <= 20000 and >= 20 raw
    tokens."""
    return (F.length(text) >= 100) & (F.length(text) <= 20000) & (n_tokens(text) >= 20)


def ngrams(tokens: Column, n: int, unit: str = "word", whole_short: bool = False) -> Column:
    """Array of the ``n``-grams of an ALREADY-PROJECTED column (see the
    module docstring: pass an attribute, never an inlined tokenizer).

    ``unit="word"``: ``tokens`` is an ``array<string>`` and a gram is
    ``n`` consecutive tokens joined by ' '. ``unit="char"``: ``tokens``
    is a string and a gram is ``n`` consecutive characters.

    Short inputs (fewer than ``n`` units): ``whole_short=False`` yields
    [] — the oracles' ``generate_series(1, len - n + 1)`` is empty there,
    and it also guards Spark's DESCENDING ``sequence(1, 0)``.
    ``whole_short=True`` yields the whole input as one gram (the MinHash
    shingle rule: a short document still gets a signature; a NULL token
    array gets the single gram '')."""
    if unit == "char":
        size = F.length(tokens)

        def gram(i: Column) -> Column:
            return tokens.substr(i, F.lit(n))
    else:
        size = F.size(tokens)

        def gram(i: Column) -> Column:
            # concat_ws maps the NULL array of the whole-doc rule to '';
            # behind the length guard array_join is equal and ~10% faster
            window = F.slice(tokens, i, n)
            return F.concat_ws(" ", window) if whole_short else F.array_join(window, " ")

    if whole_short:
        return F.transform(F.sequence(F.lit(1), F.greatest(size - (n - 1), F.lit(1))), gram)
    return F.when(
        size >= n, F.transform(F.sequence(F.lit(1), size - (n - 1)), gram)
    ).otherwise(F.array().cast("array<string>"))


def explode_ngrams(
    df: DataFrame,
    keep: str | list[str],
    tokens: Column,
    n: int,
    unit: str = "word",
    whole_short: bool = False,
    distinct: bool = False,
    pos: bool = False,
    spread: bool = False,
) -> DataFrame:
    """(*keep, gram) rows — or (*keep, pos, gram) with ``pos=True``, where
    ``pos`` is the 0-based gram start — from ``tokens`` (a tokenizer
    expression over ``df``; ``unit``/``whole_short`` as in ``ngrams``).

    ``tokens`` is projected on its own before the gram lambda runs (see
    the module docstring). ``distinct=True`` keeps each gram once per
    row, deduplicated map-side via ``array_distinct`` before the explode.
    Narrow map: no shuffle, any partitioning, transparent to column
    pruning and predicate pushdown at the scan. NULL and short inputs
    under the default rule yield no rows. ``spread=True`` passes ``df``
    (narrowed by the caller to the columns read here) through
    ``util.spread_narrow_cpu`` first, so a single-row-group input does not
    serialize the CPU-heavy kernel on one task."""
    if spread:
        df = spread_narrow_cpu(df)
    keep = [keep] if isinstance(keep, str) else list(keep)
    toks = df.select(*keep, tokens.alias("__toks"))
    arr = ngrams(F.col("__toks"), n, unit, whole_short)
    if distinct:
        arr = F.array_distinct(arr)
    out = F.posexplode(arr).alias("pos", "gram") if pos else F.explode(arr).alias("gram")
    return toks.select(*keep, out)


def explode_terms(
    df: DataFrame, keep: str | list[str], tokens: Column, spread: bool = False
) -> DataFrame:
    """(*keep, term) rows: one per non-empty token of ``tokens`` (a
    tokenizer expression over ``df``, or a token column a caller projected
    below the explode to evaluate other columns once per row). The '' of
    an empty or edge-whitespace text is dropped, as in every oracle's
    ``term <> ''``. ``keep`` and ``spread`` work as in ``explode_ngrams``.

    Unlike the gram kernel this one explodes ``tokens`` in place: Generate
    evaluates its argument once per input row, and a separate projection
    would only add the optimizer's inferred ``size(..) > 0`` filter, which
    re-runs the tokenizer."""
    if spread:
        df = spread_narrow_cpu(df)
    keep = [keep] if isinstance(keep, str) else list(keep)
    return df.select(*keep, F.explode(tokens).alias("term")).filter(F.col("term") != "")


def word_pairs(col_name: str) -> Column:
    """Array of (w1, w2) structs of adjacent tokens, both non-empty, of
    the ALREADY-TOKENIZED array column named ``col_name`` — the bigram
    stream of the language-model and sketch operators."""
    c = col_name
    return F.expr(
        f"filter(transform(sequence(1, greatest(size({c}) - 1, 1)),"
        f" i -> struct({c}[i - 1] AS w1, {c}[i] AS w2)),"
        " p -> p.w1 <> '' AND p.w2 <> '')"
    )


def word_shingles(text_col: str = "text", n: int = 3) -> Column:
    """Array of ``n``-word shingles of the ALREADY-TOKENIZED array column
    named ``text_col`` (see ``tokenize_words``); a document shorter than
    ``n`` words is one shingle."""
    return ngrams(F.col(text_col), n, whole_short=True)


def char_shingles(col_name: str = "t", n: int = 4) -> Column:
    """Array of character ``n``-grams of the string column named
    ``col_name``; [] when it is shorter than ``n``."""
    return ngrams(F.col(col_name), n, unit="char").alias("shingles")
