"""Span-level dedup: exact-substring excision (ExactSubstr)."""


def test_exact_substring_excise_fixture(spark):
    """Hand-built corpus with a cross-doc duplicate span, a within-doc
    repeat, and an untouched doc: the cleaned text must keep only the
    globally-first occurrence of each duplicated 6-gram."""
    from dhs_to_database_spark.operators.dedup import excise_exact_substrings

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f x"),  # keeper of "a b c d e f"
            (2, "z a b c d e f y"),  # non-first occurrence -> excised
            (3, "p q r s t u p q r s t u"),  # within-doc repeat
            (4, "totally unrelated words with no duplicate span here"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned_text"])
        for r in excise_exact_substrings(docs, 6).collect()
    }
    assert got[1] == (7, 0, "a b c d e f x")
    assert got[2] == (8, 6, "z y")
    assert got[3] == (12, 6, "p q r s t u")
    assert got[4] == (8, 0, "totally unrelated words with no duplicate span here")


def test_exact_substring_excise_nonspace_whitespace_alignment(spark):
    """Leading non-space whitespace yields a leading '' token in Spark's
    split(trim, '\\s+'); the positional kernel must agree token-for-token
    or every cut index shifts by one (code-review regression)."""
    from dhs_to_database_spark.operators.dedup import excise_exact_substrings

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f x"),
            (2, "\tz a b c d e f y"),  # tab survives trim -> leading '' token
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned_text"])
        for r in excise_exact_substrings(docs, 6).collect()
    }
    assert got[1] == (7, 0, "a b c d e f x")
    # doc2 tokens: ['', 'z', 'a', 'b', 'c', 'd', 'e', 'f', 'y'] — the
    # duplicated span sits at positions 2..7, not 1..6
    assert got[2] == (9, 6, " z y")


def test_java_ws_tokens_matches_duckdb_tokenizer():
    """Property: the positional kernel's tokenizer equals DuckDB's
    string_split_regex(trim(x), '\\s+') on arbitrary text (the oracle's
    tokenizer), for every whitespace char except \\x0b (vertical tab —
    Java \\s includes it, RE2's does not; documented divergence)."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dhs_to_database_spark.operators.tokens import _java_ws_tokens

    con = duckdb.connect()

    @settings(max_examples=120, deadline=None)
    @given(
        tx=st.text(
            alphabet=list("ab \t\n\f\r'\"\\%_") + ["é", "日"],
            max_size=24,
        )
    )
    def check(tx):
        got = _java_ws_tokens(tx)
        want = con.execute(
            "SELECT string_split_regex(trim(?), '\\s+')", [tx]
        ).fetchone()[0]
        assert got == want, (tx, got, want)

    check()


def test_excise_hash_tier_parity(spark):
    """The xxhash64-keyed production tier produces byte-identical output
    to the exact gram-text tier on a collision-free corpus."""
    from dhs_to_database_spark.operators.dedup import excise_exact_substrings
    from dhs_to_database_spark.sources.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    exact = sorted(
        excise_exact_substrings(d).collect(), key=lambda r: r["doc_id"]
    )
    hashed = sorted(
        excise_exact_substrings(d, hash_grams=True).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [tuple(r) for r in exact] == [tuple(r) for r in hashed]
    assert any(r["n_removed"] > 0 for r in exact)  # the corpus exercises cuts


def test_excise_keeper_correct_beyond_old_pack_width(spark):
    """r5 hardening: a duplicated span sitting past token position 2^20
    must still keep its globally-first (min doc_id, then min pos)
    occurrence. Under the retired doc_id*2^20+pos bigint packing this
    fixture inverted the keeper: (doc_id=1, pos=2^20+1) packed SMALLER
    than (doc_id=0, pos over-width), silently excising the true keeper.
    Struct ordering has no width to overflow."""
    from dhs_to_database_spark.operators.dedup import excise_exact_substrings

    pos = (1 << 20) + 1  # strictly beyond the old packing assumption
    dup = "s0 s1 s2 s3 s4 s5"
    long_text = " ".join(f"w{i}" for i in range(pos)) + " " + dup
    docs = spark.createDataFrame(
        [(0, long_text), (1, "z " + dup + " y")], "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"])
        for r in excise_exact_substrings(docs, 6).collect()
    }
    # doc 0 is the global first occurrence -> untouched; doc 1 loses the span
    assert got[0] == (pos + 6, 0)
    assert got[1] == (8, 6)


def test_excise_drops_null_text_docs(spark):
    """NULL-text docs are omitted (matching the oracle's UNNEST-over-NULL
    behavior), never emitted with NULL metadata."""
    from dhs_to_database_spark.operators.dedup import excise_exact_substrings

    docs = spark.createDataFrame(
        [(1, "a b c d e f x"), (2, None)], "doc_id bigint, text string"
    )
    rows = excise_exact_substrings(docs, 6).collect()
    assert [r["doc_id"] for r in rows] == [1]


def test_max_dup_span_stats_merges_overlapping_grams(spark):
    """Two duplicated 4-grams overlapping in one doc must merge into ONE
    maximal island there while staying two islands in the doc where they
    are disjoint; dup-free docs are absent."""
    import dhs_to_database_spark.operators.dedup as dd
    from dhs_to_database_spark.operators.dedup import max_dup_span_stats
    from dhs_to_database_spark.operators.tokens import explode_ngrams, ws_tokens

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),  # "c d e f" @2, "e f g h" @4 -> 2..7
            (2, "x c d e f y z w e f g h"),  # same grams @1 and @8, disjoint
            (3, "p q r s t u v"),  # no duplicated gram
            (4, "m m m c d e f"),  # exactly ONE dup gram (size-1 edge)
        ],
        "doc_id bigint, text string",
    )
    occ = explode_ngrams(docs, "doc_id", ws_tokens("text"), 4, pos=True)
    # sanity of the fixture itself: exactly two cross-doc duplicated grams
    dup = (
        occ.groupBy("gram").count().filter("count >= 2").select("gram").collect()
    )
    assert {r["gram"] for r in dup} == {"c d e f", "e f g h"}

    import dhs_to_database_spark.sources.tables as tables

    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf_dir, name: docs
        dd.load_table = tables.load_table
        got = {
            r["doc_id"]: (r["n_spans"], r["max_span_tokens"], r["dup_tokens"])
            for r in max_dup_span_stats(spark, "unused").collect()
        }
    finally:
        tables.load_table = orig
        dd.load_table = orig
    assert got == {1: (1, 6, 6), 2: (2, 4, 8), 4: (1, 4, 4)}


def test_containment_catches_what_jaccard_misses(spark):
    """A short doc quoted verbatim inside a much longer one: Jaccard is
    tiny (size mismatch) but containment short->long must be ~1 and the
    reverse direction absent."""
    import dhs_to_database_spark.operators.dedup as dd
    import dhs_to_database_spark.sources.tables as tables
    from dhs_to_database_spark.operators.dedup import containment_pairs

    quote = " ".join(f"q{i}" for i in range(12))
    filler = " ".join(f"f{i}" for i in range(300))
    docs = spark.createDataFrame(
        [
            (1, quote),  # 10 distinct 3-shingles, all inside doc 2
            (2, filler + " " + quote + " " + " ".join(f"g{i}" for i in range(300))),
            (3, "unrelated words only here nothing shared with others at all"),
        ],
        "doc_id bigint, text string",
    )
    orig = tables.load_table
    try:
        dd.load_table = lambda spark, sf_dir, name: docs
        rows = {(r["doc_a"], r["doc_b"]): r["containment"]
                for r in containment_pairs(spark, "unused").collect()}
    finally:
        dd.load_table = orig
    assert rows.get((1, 2)) == 1.0  # short fully contained in long
    assert (2, 1) not in rows  # reverse containment is tiny
    assert not any(3 in k for k in rows)


def test_containment_drops_null_text_docs(spark):
    """r5 code-review regression: NULL-text docs must be excluded — the
    Spark shingle path would otherwise give them a joinable '' shingle
    (pairing all NULL docs at containment 1.0) while the oracle's
    array_to_string(NULL) never joins."""
    import dhs_to_database_spark.operators.dedup as dd
    import dhs_to_database_spark.sources.tables as tables
    from dhs_to_database_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "some real words here")],
        "doc_id bigint, text string",
    )
    orig = tables.load_table
    try:
        dd.load_table = lambda spark, sf_dir, name: docs
        assert containment_pairs(spark, "unused").collect() == []
    finally:
        dd.load_table = orig


def test_boilerplate_prune_fixture(spark):
    """Hand-built corpus: a bigram in 6 of 7 non-null docs crosses the 50%
    document-frequency threshold and is cut at EVERY occurrence (no keeper,
    unlike excision); rarer grams survive; sub-n docs pass through uncut;
    NULL-text docs are dropped."""
    from dhs_to_database_spark.operators.dedup import remove_boilerplate_grams

    docs = spark.createDataFrame(
        [
            (1, "foo bar alpha"),
            (2, "beta foo bar"),
            (3, "foo bar foo bar"),  # overlapping covers union cleanly
            (4, "gamma foo bar delta"),
            (5, "foo bar"),
            (6, "epsilon zeta foo bar"),
            (7, "x"),  # shorter than n: passes through
            (8, None),  # dropped, matching the oracle's NULL handling
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned_text"])
        for r in remove_boilerplate_grams(docs, n=2, pct=50, cap=100).collect()
    }
    assert 8 not in got
    assert got[1] == (3, 2, "alpha")
    assert got[2] == (3, 2, "beta")
    assert got[3] == (4, 4, "")
    assert got[4] == (4, 2, "gamma delta")
    assert got[5] == (2, 2, "")
    assert got[6] == (4, 2, "epsilon zeta")
    assert got[7] == (1, 0, "x")


def test_boilerplate_prune_matches_pure_python_mirror(spark):
    """Differential test on a seeded random small-vocab corpus (so
    boilerplate actually emerges): the Spark plan must equal a direct
    python mirror of the DF-threshold/cap/cut rule, including empty-string
    and NULL docs."""
    import random
    import re
    from collections import Counter

    from dhs_to_database_spark.operators.dedup import remove_boilerplate_grams

    rng = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
        for i in range(28)
    ]
    rows += [(28, ""), (29, None)]
    n, pct, cap = 2, 30, 5  # small cap so the cap path is exercised too

    def mirror():
        toks = {
            d: re.split("[ \t\n\x0b\f\r]+", t.strip(" "))
            for d, t in rows
            if t is not None
        }
        nd = len(toks)
        df = Counter()
        occ = {}
        for d, t in toks.items():
            grams = [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]
            occ[d] = grams
            for g in set(grams):
                df[g] += 1
        bp = set(
            sorted(
                (g for g, c in df.items() if c * 100 >= pct * nd),
                key=lambda g: (-df[g], g),
            )[:cap]
        )
        out = {}
        for d, t in toks.items():
            cut = set()
            for i, g in enumerate(occ[d]):
                if g in bp:
                    cut.update(range(i, i + n))
            kept = [tok for j, tok in enumerate(t) if j not in cut]
            out[d] = (len(t), len(cut), " ".join(kept))
        return out

    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned_text"])
        for r in remove_boilerplate_grams(docs, n=n, pct=pct, cap=cap).collect()
    }
    assert got == mirror()


def test_minhash_wide_tier_parity(spark):
    """r6 shingle-space guard (VERDICT r5 ask #7): the production 64-bit
    xxhash64 tier and the 28-bit md5 oracle twin must see IDENTICAL
    per-doc distinct-shingle-set sizes at sandbox vocab — proving the
    twin's true-Jaccard side is collision-free where it is graded — and
    the wide pipeline must run end-to-end with the swapped hash family."""
    from pyspark.sql import functions as F

    from dhs_to_database_spark.operators.dedup import (
        _md5_shingle_hashes,
        _minhash_md5_scored_pairs,
    )
    from dhs_to_database_spark.sources.tables import load_table

    d = (
        load_table(spark, "/root/testdata/sf0.01", "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )

    def set_sizes(wide):
        return {
            r["doc_id"]: r["sz"]
            for r in _md5_shingle_hashes(d, wide=wide)
            .distinct()
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("sz"))
            .collect()
        }

    narrow, wide = set_sizes(False), set_sizes(True)
    assert narrow == wide  # no 28-bit collisions at this vocab
    assert len(narrow) > 0

    # the wide tier's full pipeline (hash-of-hash permutations, banding,
    # caps, signature verify) runs and emits sane match counts
    scored = _minhash_md5_scored_pairs(d, wide=True)
    rows = scored.collect()
    assert len(rows) > 0  # the corpus has near-dup candidates
    assert all(0 <= r["matches"] <= 16 for r in rows)
    # NOTE deliberately NOT asserted: per-pair match-count equality across
    # tiers — the two hash families are independent 16-permutation
    # estimators, so their per-pair estimates (and borderline candidate
    # sets) legitimately differ; the invariant that matters is the
    # distinct-set-size parity above (truth side) plus an intact pipeline.


def test_hot_gram_cap_drops_planted_stop_gram(spark, tmp_path):
    """r8 hot-gram df-cap: a stop-gram shared by more than _GRAM_SRC_CAP
    sources must contribute NO pairs / edges, while an at-cap gram keeps
    its full pair set — in the Spark derivation AND the DuckDB oracle
    (both queries must agree with their oracles on the planted corpus,
    proving the cap is encoded on both sides)."""
    import duckdb

    from dhs_to_database_spark.operators.clustering import source_pagerank
    from dhs_to_database_spark.operators.dedup import (
        _GRAM_SRC_CAP,
        source_overlap_matrix,
    )

    assert _GRAM_SRC_CAP == 3  # the planted corpus below is built for 3
    stop = "s1 s2 s3 s4 s5 s6"  # one 6-gram, planted in cap+2 sources
    good = "g1 g2 g3 g4 g5 g6"  # one 6-gram, planted in exactly cap sources
    rows = [(i, f"src{i}", stop) for i in range(5)]
    rows += [(10 + i, f"src{i}", good) for i in range(3)]
    spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    mat = source_overlap_matrix(spark, str(tmp_path)).collect()
    got = {(r["source_a"], r["source_b"]): r["n_shared_grams"] for r in mat}
    # only the at-cap gram's C(3,2) pairs survive; the stop-gram's
    # C(5,2) = 10 pairs are gone (and src3/src4 appear in no pair)
    assert got == {
        ("src0", "src1"): 1,
        ("src0", "src2"): 1,
        ("src1", "src2"): 1,
    }

    pr = {r["source"]: r for r in source_pagerank(spark, str(tmp_path)).collect()}
    assert len(pr) == 5
    # stop-gram-only sources are isolated: they hold exactly the
    # (1-d)/N base rank; the capped triangle ranks strictly above it
    base = min(r["rank_fp"] for r in pr.values())
    assert pr["src3"]["rank_fp"] == base and pr["src4"]["rank_fp"] == base
    assert all(pr[f"src{i}"]["rank_fp"] > base for i in range(3))

    # both oracles encode the same cap: hash-style compare on the
    # planted corpus
    sys_path_root = __import__("os").path.dirname(
        __import__("os").path.dirname(__import__("os").path.abspath(__file__))
    )
    import sys

    if sys_path_root not in sys.path:
        sys.path.insert(0, sys_path_root)
    import __spark_entry__ as em

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" '{tmp_path}/documents.parquet/*.parquet'"
    )
    ora = con.execute(em.oracle_sql()["source_overlap_matrix"]).fetchall()
    assert {(a, b): n for a, b, n in ora} == got
    ora_pr = con.execute(em.oracle_sql()["source_pagerank"]).fetchall()
    assert {(r[0], r[1]) for r in ora_pr} == {
        (s, r["rank_fp"]) for s, r in pr.items()
    }


def test_hot_gram_cap_observation_reports_dropped_grams(spark, tmp_path):
    """No silent caps: shared_gram_source_sets reports the count of
    over-cap grams through an Observation from the same pass (the
    bucket_pairs discipline)."""
    from pyspark.sql import Observation

    from dhs_to_database_spark.operators.dedup import shared_gram_source_sets

    stop = "s1 s2 s3 s4 s5 s6"
    good = "g1 g2 g3 g4 g5 g6"
    rows = [(i, f"src{i}", stop) for i in range(5)]
    rows += [(10 + i, f"src{i}", good) for i in range(3)]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    )
    obs = Observation("hotgrams")
    out = shared_gram_source_sets(docs, observation=obs).collect()
    assert {r["gram"] for r in out} == {good}
    assert obs.get["dropped_hot_grams"] == 1


def test_minhash_artifact_follows_corpus_rewrite(spark, tmp_path):
    """The signature artifact is keyed by the documents table's snapshot:
    rewriting the corpus under the same path makes the next call rebuild
    (a planted near-duplicate pair appears) and deletes the stale copy."""
    import os

    from dhs_to_database_spark.operators import dedup

    base = [(i, " ".join(f"w{i}x{j}" for j in range(40))) for i in range(20)]
    docs = str(tmp_path / "documents.parquet")

    def write(rows):
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(docs)

    def pairs():
        return {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_near_dup(spark, str(tmp_path)).collect()}

    write(base)
    assert pairs() == set()
    stale = dedup._ARTIFACTS[("minhash_sigs", str(tmp_path))][1]
    planted = base[0][1].rsplit(" ", 1)[0] + " changed"  # doc 0 with its last word swapped
    write([(i, planted if i == 1 else t) for i, t in base])
    assert pairs() == {(0, 1)}
    assert not os.path.exists(stale)


def test_minhash_artifact_is_deleted_at_process_exit(tmp_path):
    """The session-scoped signature artifact does not outlive its process:
    a process that built one leaves no ``dedup_`` entry in its temp dir."""
    import os
    import subprocess
    import sys

    from tests.conftest import SF_DIR

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from dhs_to_database_spark.session import get_spark\n"
        "from dhs_to_database_spark.operators import dedup\n"
        "spark = get_spark('artifact_exit')\n"
        f"dedup.minhash_near_dup(spark, {SF_DIR!r}).count()\n"
        "print(*(path for _snap, path in dedup._ARTIFACTS.values()))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env, capture_output=True, text=True, check=True
    ).stdout
    built = out.splitlines()[-1].split()
    assert built and all(p.startswith(str(tmp_path)) for p in built), out
    assert [e for e in os.listdir(tmp_path) if e.startswith("dedup_")] == []
