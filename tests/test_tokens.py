"""The shared tokenizers and term/gram kernels (operators/tokens.py).

Two gates: a source lint that keeps tokenization and the term stream
spelled in ONE module, and a property test that the two Spark tokenizers
and the term kernel equal the DuckDB oracle spellings they are graded
against.
"""

from __future__ import annotations

import ast
import os

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "dhs_to_database_spark"
)
_KERNEL = os.path.join(_PKG, "operators", "tokens.py")


def _docstring_nodes(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                ids.add(id(body[0].value))
    return ids


def _is_sql(text: str) -> bool:
    """Oracle SQL (DuckDB) strings keep their own tokenizer spelling."""
    return "SELECT" in text or "string_split" in text


def _call_name(node: ast.AST) -> str | None:
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _calls(node: ast.AST, name: str) -> bool:
    return any(_call_name(n) == name for n in ast.walk(node))


def tokenizer_lint(root: str, kernel: str) -> list[str]:
    """Spark-side spellings of the tokenizer or the term stream outside
    ``kernel``: the whitespace class in a (non-docstring, non-SQL) string,
    a ``lower(trim(..))`` chain, ``split(trim(..), <name>)``, an
    ``explode`` of ``tokenize_words(..)`` and an ``<expr> != ""`` term
    filter (both belong to ``explode_terms``)."""
    offenders = []
    for dirpath, _, files in os.walk(root):
        for fn in sorted(files):
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or os.path.abspath(path) == os.path.abspath(kernel):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            docs = _docstring_nodes(tree)
            where = os.path.relpath(path, root)
            for node in ast.walk(tree):
                if isinstance(node, ast.JoinedStr):
                    parts = [v.value for v in node.values if isinstance(v, ast.Constant)]
                    text = "".join(p for p in parts if isinstance(p, str))
                    if _is_sql(text):
                        for v in node.values:
                            docs.add(id(v))
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and id(node) not in docs
                    and not _is_sql(node.value)
                    and ("\\x0b" in node.value or "\x0b" in node.value)
                ):
                    offenders.append(f"{where}:{node.lineno}: whitespace class literal")
                if isinstance(node, ast.Compare) and any(
                    isinstance(op, ast.NotEq) for op in node.ops
                ):
                    sides = [node.left, *node.comparators]
                    if any(isinstance(s, ast.Constant) and s.value == "" for s in sides):
                        offenders.append(f"{where}:{node.lineno}: != '' term filter")
                name = _call_name(node)
                if name == "explode" and node.args and _calls(node.args[0], "tokenize_words"):
                    offenders.append(f"{where}:{node.lineno}: explode(tokenize_words(...))")
                if name not in ("lower", "split") or not node.args:
                    continue
                if _call_name(node.args[0]) != "trim":
                    continue
                # split(trim(x), <pattern>) is the raw tokenizer unless the
                # pattern is some other literal (e.g. a comma list split)
                if name == "lower" or not isinstance(node.args[-1], ast.Constant):
                    offenders.append(f"{where}:{node.lineno}: {name}(trim(...)) chain")
    return sorted(offenders)


def test_tokenizer_spelled_only_in_kernel_module():
    """Every Spark text operator tokenizes through operators/tokens.py:
    no other module spells the whitespace class, a trim-based tokenizer
    chain, or its own term explode and '' filter (the DuckDB oracle SQL
    strings are exempt — they are the independent side of the
    comparison)."""
    offenders = tokenizer_lint(_PKG, _KERNEL)
    assert offenders == [], "\n".join(offenders)


def test_spark_tokenizers_match_duckdb_oracle_spellings(spark):
    """Property: ``ws_tokens`` equals DuckDB's
    ``string_split_regex(trim(x), '[ \\t\\n\\x0b\\f\\r]+')`` and
    ``tokenize_words`` equals
    ``string_split(regexp_replace(lower(trim(x)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')``
    on generated text, and ``explode_terms`` yields, per row, the
    non-empty ``unnest`` of the latter — the oracles' ``term <> ''``
    rule, which no corpus document reaches. The alphabet is
    tests/test_dedup.py's (quotes, backslash, LIKE wildcards, é and 日)
    plus vertical tab — which the explicit class splits on in both
    engines — and upper-case letters so ``lower`` is exercised. No divergence is known on this alphabet.
    Examples are batched: one Spark job checks a whole generated list."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from dhs_to_database_spark.operators.tokens import explode_terms, tokenize_words, ws_tokens

    con = duckdb.connect()
    raw_sql = "SELECT string_split_regex(trim(?), '[ \\t\\n\\x0b\\f\\r]+')"
    norm_sql = (
        "SELECT string_split(regexp_replace(lower(trim(?)),"
        " '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')"
    )
    terms_sql = (
        "SELECT term FROM (SELECT unnest(string_split(regexp_replace(lower(trim(?)),"
        " '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')) AS term) WHERE term <> ''"
    )
    alphabet = list("ab \t\n\f\r'\"\\%_") + ["é", "日", "\x0b", "A", "É"]

    @settings(max_examples=25, deadline=None)
    @given(texts=st.lists(st.text(alphabet=alphabet, max_size=24), min_size=1, max_size=40))
    def check(texts):
        df = spark.createDataFrame(list(enumerate(texts)), "i int, x string")
        got = {
            r["i"]: (list(r["raw"]), list(r["norm"]))
            for r in df.select(
                "i", ws_tokens("x").alias("raw"), tokenize_words(F.col("x")).alias("norm")
            ).collect()
        }
        terms = {i: [] for i in range(len(texts))}
        for r in explode_terms(df, "i", tokenize_words("x")).collect():
            terms[r["i"]].append(r["term"])
        for i, tx in enumerate(texts):
            want = (
                con.execute(raw_sql, [tx]).fetchone()[0],
                con.execute(norm_sql, [tx]).fetchone()[0],
            )
            assert got[i] == want, (tx, got[i], want)
            want_terms = [r[0] for r in con.execute(terms_sql, [tx]).fetchall()]
            assert terms[i] == want_terms, (tx, terms[i], want_terms)

    check()
