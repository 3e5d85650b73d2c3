"""Distilled quality classifier: distributed LR training over hashed
features (operators/classifier.py)."""

import numpy as np


def _auc(scores, labels):
    s = np.asarray(scores)
    y = np.asarray(labels)
    order = np.argsort(s)
    ranks = np.empty(len(s))
    ranks[order] = np.arange(1, len(s) + 1)
    n1, n0 = y.sum(), (1 - y).sum()
    return (ranks[y == 1].sum() - n1 * (n1 + 1) / 2) / (n1 * n0)


def test_quality_classifier_recovers_the_rule(spark):
    """The trained scorer must rank rule-positive docs above rule-negative
    ones (AUC) and agree with the rule at the 0.5 cut on nearly every
    doc — the distillation actually learned the gate, not noise."""
    from dhs_to_database_spark.operators.classifier import quality_classifier

    rows = quality_classifier(spark, "/root/testdata/sf0.01").collect()
    scores = [r["score"] for r in rows]
    labels = [r["label"] for r in rows]
    assert 0 < sum(labels) < len(labels), "label must be non-degenerate"
    assert _auc(scores, labels) > 0.97
    agree = sum((s >= 0.5) == bool(l) for s, l in zip(scores, labels))
    assert agree / len(rows) > 0.9


def test_training_reduces_logloss(spark):
    """Each training run must land strictly below the w=0 loss (ln 2) —
    the gradient aggregation is actually descending, not a no-op."""
    from dhs_to_database_spark.operators.classifier import (
        _CLF_DIM,
        featurize,
        mean_logloss,
        train_logistic,
    )
    from dhs_to_database_spark.sources.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    feats = featurize(d).localCheckpoint(eager=True)
    w0 = [0.0] * (_CLF_DIM + 1)
    w = train_logistic(feats)
    assert mean_logloss(feats, w) < 0.5 * mean_logloss(feats, w0)


def test_featurize_matches_python_mirror(spark):
    """The Arrow kernel's features equal a direct python computation
    (bucket hashing, normalization, dense signals, rule label)."""
    import hashlib
    import math

    from dhs_to_database_spark.operators.classifier import (
        _HASH_DIM,
        _STOPWORDS,
        featurize,
    )
    from dhs_to_database_spark.operators.tokens import _java_ws_tokens

    texts = {
        1: "the quick brown fox " * 30,  # long, passes the gate
        2: "tiny doc",  # fails: short
        3: "of to and " + "word " * 40,  # stopword-heavy, passes
        4: "",  # empty: `if tx else []` guard -> zero tokens, zero vector
        5: "abc\x00 def " * 10,  # NUL inside a token: must hash as-is,
        # not as the fixed-width-truncated 'abc' (r6 object-dtype fix)
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    got = {r["doc_id"]: (list(r["x"]), r["y"]) for r in featurize(docs).collect()}

    for did, tx in texts.items():
        t = _java_ws_tokens(tx) if tx else []  # kernel's empty/None guard
        nt = len(t)
        counts = [0.0] * _HASH_DIM
        for tok in t:
            counts[int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % _HASH_DIM] += 1
        counts = [c / nt for c in counts] if nt else counts
        dense = [
            math.log1p(len(tx)) / 10.0,
            min(nt, 1000) / 100.0,
            (sum(len(tok) for tok in t) / nt / 10.0) if nt else 0.0,
            (sum(1 for tok in t if tok in _STOPWORDS) / nt) if nt else 0.0,
        ]
        y = 1.0 if (100 <= len(tx) <= 20000 and nt >= 20) else 0.0
        x_got, y_got = got[did]
        assert y_got == y
        assert np.allclose(x_got, counts + dense, atol=1e-12)


def test_featurize_calibration_oracle_parity_on_planted_edges(spark, tmp_path):
    """r8: the calibration query and its DuckDB oracle must agree on
    kernel edge cases the shipped corpus lacks — NULL text, empty text,
    stopword-heavy docs, and a doc at the label boundary (exactly 100
    chars / 20 tokens). This pins the cross-engine tokenization + md5
    bucket + ratio-round recipe beyond what check_oracle exercises."""
    import os
    import sys

    import duckdb

    from dhs_to_database_spark.operators.classifier import featurize_calibration

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    import __spark_entry__ as em

    boundary = " ".join(f"w{i:03d}" for i in range(20))  # 20 tokens
    boundary += "x" * (100 - len(boundary))  # pad the last token to 100 chars
    assert len(boundary) == 100
    rows = [
        (1, "the quick brown fox " * 30),
        (2, "tiny doc"),
        (3, "of to and " + "word " * 40),
        (4, ""),  # empty: zero tokens, zero histogram, label 0
        (5, None),  # NULL: same
        (6, boundary),  # exactly at the gate: label 1
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))

    got = sorted(
        tuple(r) for r in featurize_calibration(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" '{tmp_path}/documents.parquet/*.parquet'"
    )
    ora = sorted(
        tuple(r)
        for r in con.execute(em.oracle_sql()["featurize_calibration"]).fetchall()
    )
    assert got == ora
    by_doc = {}
    for doc_id, bucket, w, td, mtl, sr, label in got:
        by_doc.setdefault(doc_id, []).append((bucket, w, td, mtl, sr, label))
    assert by_doc[4][0][5] == 0 and by_doc[5][0][5] == 0
    assert all(w == 0.0 for _, w, *_ in by_doc[4] + by_doc[5])
    assert by_doc[6][0][5] == 1  # boundary doc passes the gate
    assert by_doc[2][0][5] == 0


def test_irls_stats_calibration_integer_mirror(spark):
    """r9 (VERDICT r8 ask #4): the fixed-point IRLS sufficient stats are
    BIT-IDENTICAL to a pure-python integer mirror built from the real
    featurize output (the source_pagerank/kmeans mirror pattern — pins
    the Spark accumulation independently of the DuckDB oracle), and the
    descaled v column follows the exact double-division order."""
    from dhs_to_database_spark.operators.classifier import (
        _IRLS_D1,
        _IRLS_GSCALE,
        _IRLS_HSCALE,
        _IRLS_Q,
        featurize,
        irls_stats_calibration,
    )
    from dhs_to_database_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r["term"], r["j"], r["k"]): (r["v_fp"], r["v"])
        for r in irls_stats_calibration(spark, sf_dir).collect()
    }

    feats = featurize(load_table(spark, sf_dir, "documents")).collect()
    d1 = _IRLS_D1

    def quant(v):
        # half-away-from-zero, matching Spark round / DuckDB ROUND
        scaled = v * _IRLS_Q
        return int(np.copysign(np.floor(abs(scaled) + 0.5), scaled))

    n = len(feats)
    g = [0] * d1
    h = [[0] * d1 for _ in range(d1)]
    for r in feats:
        x = list(r["x"])
        qz = [quant(1.0)] + [quant(v) for v in x[:16]] + [
            quant(v) for v in x[17:20]
        ]
        p10 = r["doc_id"] % 5 + 1
        y = int(r["y"])
        rr, ww = p10 - 10 * y, p10 * (10 - p10)
        for j in range(d1):
            g[j] += qz[j] * rr
            for k in range(d1):
                h[j][k] += qz[j] * qz[k] * ww
    assert got[("n", -1, -1)] == (n, float(n))
    for j in range(d1):
        assert got[("grad", j, -1)] == (
            g[j],
            (float(g[j]) / n) / float(_IRLS_GSCALE),
        )
        for k in range(d1):
            assert got[("hess", j, k)] == (
                h[j][k],
                (float(h[j][k]) / n) / float(_IRLS_HSCALE),
            )


def test_irls_stats_calibration_oracle_parity_on_planted_edges(spark, tmp_path):
    """r9: the IRLS twin and its DuckDB oracle agree on the featurize
    edge cases (NULL text, empty text, stopword-heavy, exact label
    boundary) — pins the vec/grad/hess CTE path on inputs the shipped
    corpus lacks, beyond what check_oracle exercises."""
    import os
    import sys

    import duckdb

    from dhs_to_database_spark.operators.classifier import (
        irls_stats_calibration,
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    import __spark_entry__ as em

    boundary = " ".join(f"w{i:03d}" for i in range(20))
    boundary += "x" * (100 - len(boundary))
    rows = [
        (1, "the quick brown fox " * 30),
        (2, "tiny doc"),
        (3, "of to and " + "word " * 40),
        (4, ""),
        (5, None),
        (6, boundary),
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))

    got = sorted(
        tuple(r)
        for r in irls_stats_calibration(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" '{tmp_path}/documents.parquet/*.parquet'"
    )
    ora = sorted(
        tuple(r)
        for r in con.execute(
            em.oracle_sql()["irls_stats_calibration"]
        ).fetchall()
    )
    assert got == ora
    # the bias-column Hessian diagonal is sum(Q^2 * p10(10-p10)) — a
    # nonzero even on this tiny planted corpus
    assert next(v for t, j, k, v, _ in got if (t, j, k) == ("hess", 0, 0)) > 0


def test_irls_stats_calibration_overflow_guard_trips(spark, tmp_path):
    """r9: a corpus whose quantized feature magnitude would silently wrap
    Spark's non-ANSI int64 Hessian sum (while DuckDB's HUGEINT errors
    loudly) must fail fast at the runtime guard."""
    import pytest

    from dhs_to_database_spark.operators.classifier import (
        irls_stats_calibration,
    )

    # one 3e5-char token -> mean_tok_len = 3e4 -> qz = 3e8 ->
    # 25 * (3e8)^2 * 20 rows ~ 4.5e19 > 2^63
    giant = "x" * 300_000
    rows = [(i, giant) for i in range(20)]
    spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    with pytest.raises(AssertionError, match="overflow the int64"):
        irls_stats_calibration(spark, str(tmp_path))


def test_irls_stats_calibration_layout_invariance(spark, tmp_path):
    """r9: re-writing the corpus shuffled across 7 files changes nothing —
    every accumulation is an order-free integer sum and the driver fold
    is exact python int, so partition layout cannot leak in (the kmeans
    layout-invariance discipline)."""
    from pyspark.sql import functions as F

    from dhs_to_database_spark.operators.classifier import (
        irls_stats_calibration,
    )
    from dhs_to_database_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r) for r in irls_stats_calibration(spark, sf_dir).collect()
    )
    load_table(spark, sf_dir, "documents").orderBy(
        F.md5(F.col("doc_id").cast("string"))
    ).repartition(7).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got2 = sorted(
        tuple(r)
        for r in irls_stats_calibration(spark, str(tmp_path)).collect()
    )
    assert got2 == got
