"""Connected components, deterministic splits, and PII redaction."""

from __future__ import annotations

from pyspark.sql import functions as F

from dhs_to_database_spark.operators.clustering import connected_components
from dhs_to_database_spark.operators.sampling import (
    hash_bucket,
    split_assignment,
    stratified_sample,
)
from dhs_to_database_spark.operators.text_analysis import pii_counts, redact_pii


def _components(spark, edges):
    """Run BOTH tiers (driver union-find / distributed star contraction)
    and assert they agree before returning the labels."""
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    fast = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    dist = {
        r["node"]: r["component"]
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert fast == dist
    return fast


def test_cc_chain_and_islands(spark):
    # chain 1-2-3-4, island 7-8, edge order and direction irrelevant
    got = _components(spark, [(2, 1), (3, 2), (3, 4), (8, 7)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_cc_cycle_and_bridge(spark):
    # cycle 10-11-12-10 bridged to 1 via 12-1
    got = _components(spark, [(10, 11), (11, 12), (12, 10), (12, 1)])
    assert set(got.values()) == {1}


def test_cc_long_path_converges(spark):
    # worst case for min-propagation: a 12-node path with the min at one end
    edges = [(i, i + 1) for i in range(12)]
    got = _components(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_split_deterministic_and_partition_invariant(spark):
    df = spark.range(0, 2000).select(F.col("id"))
    a = df.select("id", split_assignment(F.col("id"), 0.8).alias("s"))
    b = (
        df.repartition(17)
        .select("id", split_assignment(F.col("id"), 0.8).alias("s"))
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    frac = a.filter("s = 'train'").count() / 2000
    assert 0.75 < frac < 0.85


def test_split_salt_gives_independent_assignment(spark):
    df = spark.range(0, 2000)
    base = df.select("id", split_assignment(F.col("id"), 0.5).alias("s"))
    other = df.select("id", split_assignment(F.col("id"), 0.5, salt="cv").alias("s"))
    agree = (
        base.alias("a").join(other.alias("b"), "id").filter(F.col("a.s") == F.col("b.s"))
    )
    # independent hashes agree ~50% of the time, not ~100%
    rate = agree.count() / 2000
    assert 0.4 < rate < 0.6


def test_stratified_sample_thresholds(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)], "id bigint, g string"
    )
    out = stratified_sample(df, F.col("id"), F.col("g"), {"en": 0.25}, default=1.0)
    en = out.filter("g = 'en'").count()
    fr = out.filter("g = 'fr'").count()
    assert fr == 1000  # default fraction 1.0 keeps every row
    assert 0.17 < en / 1000 < 0.33


def test_hash_bucket_range(spark):
    stats = (
        spark.range(0, 5000)
        .select(hash_bucket(F.col("id")).alias("b"))
        .agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
        .first()
    )
    assert 0 <= stats["lo"] and stats["hi"] < 65536


def test_redact_pii(spark):
    rows = spark.createDataFrame(
        [
            ("mail me at jo.doe+x@example.co.uk please",),
            ("call +1 (415) 555-0199 now",),
            ("card 4111111111111111 and pin 12345",),
            ("nothing sensitive here",),
            ("server at 192.168.100.7 responded",),
        ],
        "t string",
    ).select(
        redact_pii(F.col("t")).alias("clean"), pii_counts(F.col("t")).alias("c")
    ).collect()
    assert rows[0]["clean"] == "mail me at <EMAIL> please"
    assert rows[0]["c"]["n_emails"] == 1
    assert rows[1]["clean"] == "call <PHONE> now"
    assert rows[1]["c"]["n_phones"] == 1
    assert rows[2]["clean"] == "card <NUM> and pin 12345"  # 5 digits: kept
    assert rows[2]["c"]["n_digit_runs"] == 1
    assert rows[3]["clean"] == "nothing sensitive here"
    # IP masked as <IP>, never swallowed by the loose phone pattern
    assert rows[4]["clean"] == "server at <IP> responded"
    assert (rows[4]["c"]["n_ips"], rows[4]["c"]["n_phones"]) == (1, 0)


def test_redact_pii_closure_on_adversarial_strings(spark):
    """The property a safety filter actually promises: after redaction, a
    FRESH scan finds zero PII in any category (no partial masks leaving
    matchable residue), and redaction is idempotent. Cases cover adjacent
    PII, boundary-breaking suffixes (digit-dotted runs that fall to the
    loose phone pattern), run-then-phone compositions, and placeholder
    adjacency."""
    cases = [
        ("a@b.co c@d.io back-to-back emails",),
        ("ip 1.2.3.4 at 255.255.255.255 end 10.0.0.1",),
        ("card 4111111111111111 then phone +1 (415) 555-0199",),
        ("email.with.dots+tag@sub.domain.example.org trailing",),
        ("1234567890123-456-7890 mixed run-phone",),
        ("phone 555-123-4567 beside ip 192.168.0.1",),
        ("x 12.34.56.78y no trailing boundary",),
        ("(555) 123-4567 and 555.123.4567 dotted phone",),
        ("edge 9.9.9.9",),
        ("me@you.co.",),
        ("123456 789012 two runs",),
    ]
    df = spark.createDataFrame(cases, "t string")
    rows = (
        df.select(redact_pii(F.col("t")).alias("r"))
        .select(
            "r",
            pii_counts(F.col("r")).alias("c"),
            redact_pii(F.col("r")).alias("rr"),
        )
        .collect()
    )
    for row in rows:
        c = row["c"]
        assert (
            c["n_emails"] + c["n_ips"] + c["n_digit_runs"] + c["n_phones"] == 0
        ), f"residual PII after redaction: {row['r']!r}"
        assert row["rr"] == row["r"], f"redaction not idempotent: {row['r']!r}"


def test_cc_raises_on_non_convergence(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src bigint, dst bigint"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2, driver_threshold=0)


def test_pii_counts_no_double_count(spark):
    rows = spark.createDataFrame(
        [("card 4111111111111111",), ("jo12345678@example.com",)], "t string"
    ).select(pii_counts(F.col("t")).alias("c")).collect()
    card, email = rows[0]["c"], rows[1]["c"]
    assert (card["n_emails"], card["n_digit_runs"], card["n_phones"]) == (0, 1, 0)
    assert (email["n_emails"], email["n_digit_runs"], email["n_phones"]) == (1, 0, 0)


def test_near_dup_clusters_production_path(spark):
    """The minhash->components composition: strong exact near-dups must land
    in one cluster, representatives are the cluster-min, and cluster sizes
    tally to the corpus size."""
    from dhs_to_database_spark.operators.clustering import near_dup_clusters
    from dhs_to_database_spark.operators.dedup import ngram_jaccard_pairs
    from tests.conftest import SF_DIR

    rows = near_dup_clusters(spark, SF_DIR).collect()
    comp = {r["doc_id"]: r["component"] for r in rows}
    # every strong exact-Jaccard pair is transitively merged by the LSH path
    strong = [
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(spark, SF_DIR).collect()
        if r["jaccard"] >= 0.8
    ]
    assert strong, "fixture corpus lost its planted near-dups"
    for a, b in strong:
        assert comp[a] == comp[b], (a, b)
    # representative == min(doc_id) of its cluster, exactly one per cluster
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for c, members in by_comp.items():
        reps = [m["doc_id"] for m in members if m["is_representative"]]
        assert reps == [min(m["doc_id"] for m in members)] and reps == [c]
        assert all(m["cluster_size"] == len(members) for m in members)
    assert len(rows) == len(comp)  # one row per doc


def test_global_rank_exact_and_ntile_remainder(spark):
    from dhs_to_database_spark.operators.ranking import exact_ntile, global_rank_parts

    df = spark.range(0, 1007).select((F.col("id") * 37 % 1007).alias("k"))
    ranked, total, handle = global_rank_parts(df, ["k"], rank_name="r", num_partitions=7)
    rows = ranked.orderBy("k").collect()
    assert total == 1007
    assert [row["r"] for row in rows] == list(range(1, 1008))
    # SQL-standard ntile with N % n != 0: first N%n buckets get +1 row
    counts = (
        ranked.withColumn("b", exact_ntile("r", 10, total))
        .groupBy("b")
        .count()
        .orderBy("b")
        .collect()
    )
    handle.unpersist()
    assert [c["count"] for c in counts] == [101] * 7 + [100] * 3


def test_global_rank_release_drops_checkpoint(spark):
    """``handle.unpersist()`` releases the checkpointed rank input: no RDD
    the rank pass pinned outlives the release."""
    from dhs_to_database_spark.operators.ranking import global_rank_parts

    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = pinned()
    df = spark.range(0, 997).select((F.col("id") * 31 % 997).alias("k"))
    ranked, total, handle = global_rank_parts(df, ["k"], rank_name="r", num_partitions=5)
    rows = ranked.orderBy("k").collect()
    assert total == 997
    assert [row["r"] for row in rows] == list(range(1, 998))
    assert pinned() - before  # the checkpoint is live until released
    handle.unpersist()
    assert pinned() <= before


def test_repetition_stats_flags_planted_repetition(spark, tmp_path):
    """A doc that is one phrase repeated must score near-1 dup-bigram ratio
    and be flagged; diverse text must not."""
    from dhs_to_database_spark.operators.text_analysis import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "buy now " * 50),  # 99 bigrams, 2 distinct
            (2, " ".join(f"w{i}" for i in range(100))),  # all distinct
            (3, "single"),  # no bigrams
        ],
        "doc_id bigint, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r["doc_id"]: r for r in repetition_stats(spark, str(tmp_path)).collect()}
    assert rows[1]["is_repetitive"] and rows[1]["dup_bigram_ratio"] > 0.9
    assert not rows[2]["is_repetitive"] and rows[2]["n_dup_bigrams"] == 0
    assert rows[3]["n_bigrams"] == 0 and not rows[3]["is_repetitive"]


def test_context_chunks_cover_and_overlap(spark, tmp_path):
    """Chunks must tile the token stream: stride-spaced starts, full windows
    except the tail, and each chunk's text equal to the token slice."""
    from dhs_to_database_spark.operators.text_analysis import (
        _CHUNK_STRIDE,
        _CHUNK_TOKENS,
        context_chunks,
    )

    toks = [f"t{i}" for i in range(150)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id bigint, text string"
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = sorted(
        context_chunks(spark, str(tmp_path)).collect(), key=lambda r: r["chunk_id"]
    )
    assert [r["chunk_start"] for r in rows] == [1, 49, 97, 145]
    for r in rows:
        start = r["chunk_start"] - 1
        expect = toks[start : start + _CHUNK_TOKENS]
        assert r["chunk_text"].split(" ") == expect
        assert r["n_chunk_tokens"] == len(expect)
    # consecutive chunks overlap by window - stride tokens
    assert _CHUNK_TOKENS - _CHUNK_STRIDE == 16


def test_token_budget_mix_hits_target_share(spark, tmp_path):
    """The over-represented language must be downsampled to ~its equal
    share of the halved token budget; scarce languages are kept whole."""
    from dhs_to_database_spark.operators.sampling import token_budget_mix

    rows = [(i, "en", " ".join("w" for _ in range(20))) for i in range(900)]
    rows += [(1000 + i, "fr", " ".join("w" for _ in range(20))) for i in range(100)]
    spark.createDataFrame(rows, "doc_id bigint, lang string, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    kept = token_budget_mix(spark, str(tmp_path)).groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in kept}
    # budget = total/2/2 = 5000 tokens/lang = 250 docs of en (rate ~0.28);
    # fr has only 2000 tokens, under budget -> kept entirely
    assert by_lang["fr"] == 100
    assert 200 <= by_lang["en"] <= 300


def test_token_ngrams_short_doc_edges(spark):
    """The gram kernel on short and degenerate documents: both
    short-document rules, the word and char units, and the positional
    and per-doc-distinct explode forms."""
    from dhs_to_database_spark.operators.tokens import (
        _java_ws_tokens,
        explode_ngrams,
        ngrams,
        ws_tokens,
    )

    texts = ["a b c d", "a b", "  a  b   c ", "solo", "", None, "\ta b", "x x x x"]
    docs = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    toks = docs.select("i", "text", ws_tokens("text").alias("t"))

    def per_doc(expr):
        rows = toks.select("i", expr.alias("g")).orderBy("i").collect()
        return [r["g"] for r in rows]

    # default rule: fewer than n units -> no grams (NULL included)
    assert per_doc(ngrams(F.col("t"), 3)) == [
        ["a b c", "b c d"], [], ["a b c"], [], [], [], [" a b"], ["x x x", "x x x"],
    ]
    # MinHash rule: a short document is one whole-doc gram, NULL is ''
    assert per_doc(ngrams(F.col("t"), 3, whole_short=True)) == [
        ["a b c", "b c d"], ["a b"], ["a b c"], ["solo"], [""], [""], [" a b"],
        ["x x x", "x x x"],
    ]
    # char unit, both rules
    assert per_doc(ngrams(F.col("text"), 4, unit="char")) == [
        ["a b ", " b c", "b c ", " c d"], [], ["  a ", " a  ", "a  b", "  b ",
        " b  ", "b   ", "   c", "  c "], ["solo"], [], [], ["\ta b"],
        ["x x ", " x x", "x x ", " x x"],
    ]
    assert per_doc(ngrams(F.col("text"), 4, unit="char", whole_short=True))[1:2] == [
        ["a b"]
    ]

    # positional form: pos is the 0-based token start into ws_tokens, the
    # array the excision consumers index (the leading-tab doc keeps its
    # leading '' token, exactly as the Python replica does)
    n = 2
    got = {
        (r["i"], r["pos"], r["gram"])
        for r in explode_ngrams(docs, "i", ws_tokens("text"), n, pos=True).collect()
    }
    want = set()
    for i, tx in enumerate(texts):
        t = _java_ws_tokens(tx)
        want |= {(i, p, " ".join(t[p : p + n])) for p in range(len(t) - n + 1)}
    assert got == want

    # per-doc distinct collapses repeats inside a doc only
    dist = explode_ngrams(docs, "i", ws_tokens("text"), n, distinct=True)
    assert sorted(r["gram"] for r in dist.filter("i = 7").collect()) == ["x x"]
    assert dist.filter("gram = 'a b'").count() == 4


def test_decontaminate_matches_bruteforce(spark):
    """Spark result == a python set-based reimplementation at sf0.001."""
    from dhs_to_database_spark.operators.sampling import (
        _DECON_N,
        benchmark_decontaminate,
        split_assignment,
    )
    from dhs_to_database_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = (
        load_table(spark, SF_DIR, "documents")
        .withColumn("split", split_assignment(F.col("doc_id"), 0.8))
        .select("doc_id", "split", "text")
        .collect()
    )

    def grams(text):
        t = text.split()
        return {
            " ".join(t[i : i + _DECON_N]) for i in range(len(t) - _DECON_N + 1)
        }

    test_grams = {}  # gram -> set of bench docs
    for r in docs:
        if r["split"] == "test":
            for g in grams(r["text"]):
                test_grams.setdefault(g, set()).add(r["doc_id"])
    expect = {}
    for r in docs:
        if r["split"] == "train":
            shared = {g for g in grams(r["text"]) if g in test_grams}
            if shared:
                hit = set().union(*(test_grams[g] for g in shared))
                expect[r["doc_id"]] = (len(shared), len(hit))

    got = {
        r["doc_id"]: (r["n_shared_grams"], r["n_bench_docs"])
        for r in benchmark_decontaminate(spark, SF_DIR).collect()
    }
    assert expect, "fixture produced no contamination — test is vacuous"
    assert got == expect


def test_decontaminate_hot_gram_cap(spark):
    """Boilerplate grams over the bench-multiplicity cap stop matching;
    unique grams still do."""
    from dhs_to_database_spark.operators.sampling import decontaminate

    boiler = "same old license header text"
    train = spark.createDataFrame(
        [(1, boiler), (2, boiler + " unique payload one")],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(10 + i, boiler) for i in range(5)]
        + [(99, "unique payload one two three")],
        "doc_id bigint, text string",
    )
    capped = {
        r["doc_id"]: r["n_shared_grams"]
        for r in decontaminate(train, bench, n=3, max_gram_bench_docs=4).collect()
    }
    # every boiler gram occurs in 5 bench docs > cap 4 -> doc 1 clean;
    # doc 2 still matches via its unique tail gram
    assert 1 not in capped
    assert capped[2] >= 1
    uncapped = {
        r["doc_id"] for r in decontaminate(train, bench, n=3).collect()
    }
    assert uncapped == {1, 2}


def test_incremental_dedup_statuses(spark):
    from dhs_to_database_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "k1"), (2, "k2")], "doc_id bigint, key string"
    )
    batch = spark.createDataFrame(
        [(10, "k1"), (11, "k3"), (12, "k3"), (13, "k4")],
        "doc_id bigint, key string",
    )
    got = {
        r["doc_id"]: r["status"]
        for r in incremental_dedup(batch, corpus, key_cols=["key"]).collect()
    }
    assert got == {
        10: "dup_of_corpus",  # key already loaded
        11: "new",  # first occurrence in batch
        12: "dup_in_batch",  # later occurrence of a batch key
        13: "new",
    }


def test_zorder_key_matches_python_morton(spark):
    from dhs_to_database_spark.operators.layout import zorder_key

    def morton(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    rows = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (899, 1371), (65535, 65535)], "x bigint, y bigint"
    ).select("x", "y", zorder_key("x", "y").alias("z")).collect()
    for r in rows:
        assert r["z"] == morton(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_write_gives_compact_boxes(spark, tmp_path):
    """Files of a z-ordered write must each cover a small bounding box in
    BOTH dimensions; a single-column sort leaves the other dimension's
    span at ~full range. This is the property file-skipping depends on."""
    import os

    from dhs_to_database_spark.operators.layout import zorder_write

    n = 1 << 12
    df = spark.range(n).select(
        ((F.col("id") * 2654435761) % 256).alias("x"),
        ((F.col("id") * 40503) % 256).alias("y"),
    )
    zdir = str(tmp_path / "z")
    zorder_write(df, "x", "y", zdir, num_files=16, bits=8)

    def mean_span(path, col):
        spans = (
            spark.read.parquet(path)
            .withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg((F.max(col) - F.min(col)).alias("s"))
            .agg(F.avg("s"))
            .first()[0]
        )
        return spans

    xdir = str(tmp_path / "x")
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(xdir)
    # x-sorted layout: y is uniform in every file -> span ~255
    assert mean_span(xdir, "y") > 200
    # z-ordered: 16 files over a 256x256 grid -> boxes ~64x128; allow slack
    assert mean_span(zdir, "x") < 160
    assert mean_span(zdir, "y") < 160


def test_misra_gries_sketch_bounded_and_superset(spark):
    """Sketch memory stays <= capacity per partition, and every term whose
    global count exceeds N/capacity appears among the candidates."""
    from dhs_to_database_spark.operators.text_analysis import (
        misra_gries_candidates,
    )

    # one genuinely heavy term (count 4000 of N=16000, so > N/cap = 250
    # at cap 64) drowned in unique noise, spread over 4 partitions
    rows = [("heavy " + " ".join(f"u{r}_{j}" for j in range(3)),) for r in range(4000)]
    df = spark.createDataFrame(rows, "text string").repartition(4)
    cap = 64
    cands = misra_gries_candidates(df, capacity=cap)
    per_part = (
        cands.withColumn("p", F.spark_partition_id())
        .groupBy("p").count().agg(F.max("count")).first()[0]
    )
    assert per_part <= cap
    assert "heavy" in {r["term"] for r in cands.collect()}


def test_frequent_terms_topk_matches_bruteforce(spark):
    from dhs_to_database_spark.operators.text_analysis import (
        frequent_terms_topk,
        _TOPK_TERMS,
    )
    from dhs_to_database_spark.sources.tables import load_table
    from tests.conftest import SF_DIR
    import collections

    got = [(r["term"], r["n"]) for r in frequent_terms_topk(spark, SF_DIR).collect()]
    cnt = collections.Counter()
    for r in load_table(spark, SF_DIR, "documents").select("text").collect():
        cnt.update(r["text"].split())
    expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:_TOPK_TERMS]
    assert sorted(got, key=lambda kv: (-kv[1], kv[0])) == expect


def test_sample_k_per_group_partition_invariant(spark):
    from dhs_to_database_spark.operators.sampling import sample_k_per_group
    from tests.conftest import SF_DIR

    a = {(r["doc_id"], r["lang"]) for r in sample_k_per_group(spark, SF_DIR).collect()}
    sizes = {}
    for _, lang in a:
        sizes[lang] = sizes.get(lang, 0) + 1
    assert all(v <= 20 for v in sizes.values())
    b = {(r["doc_id"], r["lang"]) for r in sample_k_per_group(spark, SF_DIR).collect()}
    assert a == b


def test_decontaminate_pairs_consistent_with_doc_level(spark):
    """Pair-level attribution must cover exactly the contaminated docs the
    doc-level report flags, with a per-pair share never exceeding the
    doc's total shared grams, and the attributed bench doc in the test
    split."""
    from pyspark.sql import functions as F

    from dhs_to_database_spark.operators.sampling import (
        benchmark_decontaminate,
        decontaminate_pairs,
        split_assignment,
    )
    from dhs_to_database_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    doc_level = {
        r["doc_id"]: r["n_shared_grams"]
        for r in benchmark_decontaminate(spark, sf).collect()
    }
    pairs = decontaminate_pairs(spark, sf).collect()
    assert {r["doc_id"] for r in pairs} == set(doc_level)
    assert all(r["n_shared_grams"] <= doc_level[r["doc_id"]] for r in pairs)
    test_ids = {
        r["doc_id"]
        for r in load_table(spark, sf, "documents")
        .withColumn("s", split_assignment(F.col("doc_id"), 0.8))
        .filter("s = 'test'")
        .select("doc_id")
        .collect()
    }
    assert {r["bench_doc"] for r in pairs} <= test_ids
    assert pairs  # non-vacuous on this corpus


def test_source_pagerank_matches_integer_mirror(spark):
    """r7: the fixed-point PageRank recurrence must equal a direct python
    integer-math mirror on a crafted source graph — A-B and B-C share one
    distinct 6-gram each (B has out-weight 2), D is isolated with its own
    gram, E has no gram at all. Every value is exact bigint arithmetic,
    so the comparison is equality, not tolerance."""
    import dhs_to_database_spark.operators.clustering as cl

    docs = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6", "srcA"),
            (2, "w1 w2 w3 w4 w5 w6", "srcB"),  # shares gram g with srcA
            (3, "a b c d e f", "srcB"),
            (4, "a b c d e f", "srcC"),  # shares gram h with srcB
            (5, "x y z p q r", "srcD"),  # own gram, no overlap
            (6, "too short", "srcE"),  # no 6-gram: node only
            (7, None, "srcE"),  # NULL text must not break node derivation
        ],
        "doc_id bigint, text string, source string",
    )
    orig = cl.load_table
    try:
        cl.load_table = lambda spark, sf_dir, name: docs
        got = {
            r["source"]: (r["rank_fp"], r["rank"])
            for r in cl.source_pagerank(spark, "unused").collect()
        }
    finally:
        cl.load_table = orig

    scale = cl._PR_SCALE
    nodes = ["srcA", "srcB", "srcC", "srcD", "srcE"]
    edges = {
        ("srcA", "srcB"): 1,
        ("srcB", "srcA"): 1,
        ("srcB", "srcC"): 1,
        ("srcC", "srcB"): 1,
    }
    outw: dict[str, int] = {}
    for (s, _), w in edges.items():
        outw[s] = outw.get(s, 0) + w
    r = {s: scale // len(nodes) for s in nodes}
    base = 15 * scale // (100 * len(nodes))
    for _ in range(cl._PR_ITERS):
        inflow = {s: 0 for s in nodes}
        for (s, d), w in edges.items():
            inflow[d] += (w * r[s]) // outw[s]
        r = {s: base + (85 * inflow[s]) // 100 for s in nodes}

    assert set(got) == set(nodes)
    for s in nodes:
        assert got[s][0] == r[s], (s, got[s][0], r[s])
        assert got[s][1] == r[s] / float(scale)
    # structure sanity: B (two in-edges) outranks A/C (one), which outrank
    # the isolated D/E at base rank
    assert got["srcB"][0] > got["srcA"][0] == got["srcC"][0] > got["srcD"][0]
    assert got["srcD"][0] == got["srcE"][0] == base


def test_source_pagerank_partitioning_invariant(spark):
    """The plan-audit claim 'pure integer fixed-point, bit-stable under
    any partitioning' made executable: rank_fp must be IDENTICAL (not
    close) when the corpus arrives as one partition vs scattered."""
    import dhs_to_database_spark.operators.clustering as cl
    from dhs_to_database_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    base = load_table(spark, sf, "documents")
    orig = cl.load_table
    results = []
    try:
        for parts in (1, 13):
            docs = base.repartition(parts)
            cl.load_table = lambda spark, sf_dir, name, d=docs: d
            results.append(
                {
                    r["source"]: r["rank_fp"]
                    for r in cl.source_pagerank(spark, "unused").collect()
                }
            )
    finally:
        cl.load_table = orig
    assert results[0] == results[1]
