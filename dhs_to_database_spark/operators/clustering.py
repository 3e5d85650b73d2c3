"""Connected-components clustering — the step after near-dup pair generation.

LSH/Jaccard pair generators (``dedup.py``) emit EDGES (doc_a, doc_b); a
production dedup pipeline must then group transitively-connected docs into
clusters and keep one representative per cluster. That grouping is connected
components, computed here as iterative min-label propagation over the edge
list — pure DataFrame joins, no graph library.

Ancestry in the reference: the duplicate-load detector builds per-survey
duplicate GROUPS before deciding what to delete
(03_DHS_Update_Metadata.ipynb raw :993-1140); this is the same
"group the duplicates, keep one" semantics generalized to fuzzy matches.

Scale design (100 TB):
- Tiered execution: the canonical edge count is observed for free during
  the first checkpoint; small edge sets (<= DRIVER_EDGE_THRESHOLD)
  collect into a driver-side union-find — near-dup pair lists are
  normally a sliver of the corpus, and one collect beats ~4 rounds of
  shuffles. Larger graphs run the distributed loop:
- The algorithm is alternating large-star / small-star contraction
  (Kiveris et al., "Connected Components in MapReduce and Beyond"):
  each round rewrites the EDGE SET so every node hangs off the minimum
  of a neighbourhood, converging to a star forest rooted at each
  component's minimum id in O(log^2 n) rounds (<=5 in practice — even
  adversarial chains with randomly permuted ids close geometrically,
  where naive min-label propagation walks them one hop per shuffle).
- Each round is two grouped-min aggregations + two equi-joins + a
  distinct, all on the current edge set — never wider than the input
  edge list, and intermediate stars only shrink it.
- ``localCheckpoint`` after every iteration truncates the lineage —
  without it the plan doubles per superstep and the driver OOMs on plan
  compilation long before the data is a problem.
- The edge list is shuffled on the join key each round; pre-partitioning
  ``labels`` and ``edges`` on the node id lets AQE reuse the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .dedup import (
    _JACCARD_LIMIT,
    _JACCARD_THRESHOLD,
    minhash_near_dup,
    ngram_jaccard_pairs,
)
from .registry import query
from .util import eager_checkpoints, local_rows_df


#: Edge sets at or below this size are solved on the driver (union-find).
#: 1M edges collect to ~tens of MB — trivial driver memory — and replace
#: ~4 rounds x ~6 shuffle stages with one collect. Near-dup edge lists are
#: usually a small fraction of the corpus, so even at 100 TB this tier
#: fires often; bigger graphs take the distributed path below.
DRIVER_EDGE_THRESHOLD = 1_000_000


def _driver_union_find(rows) -> list:
    """Min-label union-find over collected (u, v) edge rows.

    Returns (node, component) tuples for every node in any edge; the
    component id is the minimum node id of the component, matching the
    distributed path exactly.
    """
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = find(r["u"]), find(r["v"])
        if a != b:
            # Union-by-min: the root is always the smallest id seen, so
            # the final root IS the component minimum.
            if b < a:
                a, b = b, a
            parent[b] = a
    # Non-root nodes are exactly parent's keys; every root has >=1 child
    # (each canonical edge parents its larger endpoint), so the root set
    # is recovered from the keys' finds.
    return [(n, find(n)) for n in parent] + [
        (n, n) for n in {find(n) for n in parent}
    ]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = DRIVER_EDGE_THRESHOLD,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the minimum
    node id reachable from it (= its component id).

    Returns ``(node, component)`` — one row per node that appears in any
    edge. Nodes with no edges are absent; union them in with
    ``component = node`` if singletons matter (the query below does).

    Tiered by observed size: the canonical edge count is
    observed during the first checkpoint job (zero extra jobs); at or
    under ``driver_threshold`` the edges collect into a driver-side
    min-label union-find, above it the distributed large/small-star loop
    runs. Both tiers produce identical labels (pinned by a parity test).
    """
    from pyspark.sql import Observation
    from pyspark.sql.types import StructField, StructType

    spark = edges.sparkSession
    # Canonical orientation: (u, v) with u > v; drop self-loops.
    obs0 = Observation()
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    u_field = e.schema["u"]
    out_schema = StructType(
        [
            StructField("node", u_field.dataType, True),
            StructField("component", u_field.dataType, True),
        ]
    )
    if obs0.get["n"] <= driver_threshold:
        return local_rows_df(spark, _driver_union_find(e.collect()), out_schema)
    # Singleton-free node set is implied by e; remember it for the label
    # emission (roots appear only on the v side at convergence).
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # Large-star: every strictly-larger neighbour of u connects to the
        # min of u's closed neighbourhood. Each undirected edge is seen
        # from both endpoints via sym; only the larger endpoint re-hangs.
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins_l = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        # No distinct here: duplicate (u, m) rows don't change small-star's
        # minima, and the post-union distinct below cleans the output —
        # saves one full shuffle per round.
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins_l, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # Small-star on the (u > v) orientation: u and all its smaller
        # neighbours hang off u's smallest neighbour m (m < v < u).
        mins_s = large.groupBy("u").agg(F.min("v").alias("m"))
        joined = large.join(mins_s, "u")
        from pyspark.sql import Observation

        obs = Observation()
        e_new = (
            joined.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(joined.select("u", "m"))
            .distinct()
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        # The observation is computed DURING the checkpoint job — the
        # convergence check costs zero extra Spark jobs per round.
        sig = (obs.get["n"], obs.get["h"])
        e = e_new
        if prev_sig == sig:
            # Stable edge set across a full round => star forest. The
            # signature is (count, xor-of-xxhash64) — well-defined on the
            # distinct edge set, overflow-free under ANSI; a false
            # positive needs a 64-bit collision between different edge
            # sets of equal size within one run; max_iter still bounds us.
            converged = True
            break
        prev_sig = sig
    if not converged:
        # Returning partial labels would let a dedup pipeline keep several
        # "representatives" of one duplicate group with no signal — fail
        # loudly instead.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large/small-star rounds — pathological graph, raise max_iter"
        )
    # Star forest: every edge is (node, root); roots label themselves.
    return e.select(F.col("u").alias("node"), F.col("v").alias("component")).union(
        e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    )


@query(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, lower(text) AS t FROM documents
      WHERE doc_id < {_JACCARD_LIMIT} AND length(text) >= 4
    ),
    idx AS (SELECT doc_id, t, unnest(range(1, length(t) - 2)) AS i FROM docs),
    sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS sh FROM idx),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(ROUND(CAST(n_common AS DECIMAL(18,6)) / (sa.sz + sb.sz - n_common), 4)
                 AS DOUBLE) >= {_JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT doc_id AS n, doc_id AS m FROM docs
      UNION
      SELECT edges.a, reach.m FROM edges JOIN reach ON edges.b = reach.n
    ),
    comp AS (SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n)
    SELECT c.doc_id, c.component,
           CAST(c.doc_id = c.component AS BOOLEAN) AS is_representative,
           COUNT(*) OVER (PARTITION BY c.component) AS cluster_size
    FROM comp c
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: Jaccard pairs -> connected components -> keep-min
    representative. Singleton docs form their own cluster."""
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    d = load_table(spark, sf_dir, "documents")
    nodes = (
        d.filter((F.col("doc_id") < _JACCARD_LIMIT) & (F.length("text") >= 4))
        .select("doc_id")
    )
    labeled = nodes.join(comp, nodes["doc_id"] == comp["node"], "left").select(
        nodes["doc_id"],
        F.coalesce(comp["component"], nodes["doc_id"]).alias("component"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("component")
    return labeled.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("is_representative"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


@query("near_dup_clusters", rows_only_reason="edge set comes from production xxhash64 MinHash (no DuckDB implementation of xxhash64 exists); the signature pipeline and estimator are oracle-gated by the md5 twin minhash_calibration, the CC algorithm by dedup_components")
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup path end-to-end over the full corpus: MinHash+LSH
    candidate pairs (linear cost, hot buckets capped) -> connected
    components -> keep-min representative per cluster. This is the
    composition a 100 TB curation run executes — ``dedup_components`` above
    is its oracle-checkable twin on the bounded exact-Jaccard slice.

    Output: one row per document; singletons are their own cluster."""
    from pyspark.sql import Window

    pairs = minhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    labeled = d.join(comp, d["doc_id"] == comp["node"], "left").select(
        d["doc_id"],
        F.coalesce(comp["component"], d["doc_id"]).alias("component"),
    )
    w = Window.partitionBy("component")
    return labeled.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("is_representative"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/test splitting (r6): assign splits by DUPLICATE
# CLUSTER, not by document — the standard fix for benchmark leakage through
# duplicates (a test doc whose copy/near-copy sits in train inflates eval;
# the split must treat a duplicate cluster as one unit). Clusters are the
# connected components of TWO verified edge sources union-ed:
#   * exact-duplicate digest groups, CORPUS-WIDE (md5(text) — dedup_exact's
#     keyspace; each member links to its group-min root: linear edges, no
#     quadratic pair join), and
#   * the exact-Jaccard near-dup pairs on dedup_components' bounded slice
#     (the all-pairs truth slice; at 100 TB this source is the MinHash
#     candidate graph of near_dup_clusters instead).
# Split assignment is train_test_split's md5 hash-bucket rule applied to
# the COMPONENT id; ``naive_leaky`` marks every doc whose cluster would
# span train and test under per-document hashing — the leakage this
# operator removes (the safe split is leak-free by construction). Both
# edge sources produce real multi-doc clusters somewhere in the shipped
# SFs (digest groups at sf0.1, Jaccard pairs at sf0.001/0.01), so no SF
# exercises an empty passthrough. Scale shape: one digest shuffle + the
# linear CC path; the split is a projection; the audit one agg.
# ---------------------------------------------------------------------------

_SPLIT_FRACTION = 0.8


@query(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE nn AS (
      SELECT doc_id, md5(text) AS dg, lower(text) AS t,
             length(text) AS rawlen
      FROM documents WHERE text IS NOT NULL
    ),
    dgmin AS (SELECT dg, MIN(doc_id) AS root FROM nn GROUP BY dg),
    exact_edges AS (
      SELECT m.root AS a, d.doc_id AS b
      FROM nn d JOIN dgmin m USING (dg) WHERE d.doc_id <> m.root
    ),
    docs AS (
      -- RAW text length, matching ngram_jaccard_pairs' F.length("text")
      -- (lower() can change length: 'İ' lowers to 2 codepoints)
      SELECT doc_id, t FROM nn
      WHERE doc_id < {_JACCARD_LIMIT} AND rawlen >= 4
    ),
    idx AS (SELECT doc_id, t, unnest(range(1, length(t) - 2)) AS i FROM docs),
    sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS sh FROM idx),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jpairs AS (
      SELECT doc_a, doc_b
      FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(ROUND(CAST(n_common AS DECIMAL(18,6)) / (sa.sz + sb.sz - n_common), 4)
                 AS DOUBLE) >= {_JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT a, b FROM exact_edges
      UNION SELECT b, a FROM exact_edges
      UNION SELECT doc_a, doc_b FROM jpairs
      UNION SELECT doc_b, doc_a FROM jpairs
    ),
    reach AS (
      SELECT doc_id AS n, doc_id AS m FROM nn
      UNION
      SELECT edges.a, reach.m FROM edges JOIN reach ON edges.b = reach.n
    ),
    comp AS (SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n),
    labeled AS (
      SELECT doc_id, component,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
                       < {int(_SPLIT_FRACTION * 65536)}
                  THEN 'train' ELSE 'test' END AS naive_split,
             CASE WHEN CAST(('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 4)) AS BIGINT)
                       < {int(_SPLIT_FRACTION * 65536)}
                  THEN 'train' ELSE 'test' END AS split
      FROM comp
    ),
    leak AS (
      SELECT component, COUNT(DISTINCT naive_split) > 1 AS naive_leaky
      FROM labeled GROUP BY component
    )
    SELECT l.doc_id, l.component, l.split, l.naive_split, k.naive_leaky
    FROM labeled l JOIN leak k USING (component)
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level train/test split (see block comment): every doc of a
    duplicate component gets the SAME split (hash of the component id);
    ``naive_leaky`` flags components the per-doc hash would have torn
    across splits."""
    from .sampling import split_assignment

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    dg = d.select("doc_id", F.md5("text").alias("dg"))
    roots = dg.groupBy("dg").agg(F.min("doc_id").alias("root"))
    exact_edges = (
        dg.join(roots, "dg")
        .filter(F.col("doc_id") != F.col("root"))
        .select(F.col("root").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    jpairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(
        jpairs.unionByName(exact_edges), src="doc_a", dst="doc_b"
    )
    nodes = dg.select("doc_id")
    labeled = (
        nodes.join(comp, nodes["doc_id"] == comp["node"], "left")
        .select(
            nodes["doc_id"],
            F.coalesce(comp["component"], nodes["doc_id"]).alias("component"),
        )
        .select(
            "doc_id",
            "component",
            split_assignment(F.col("doc_id"), _SPLIT_FRACTION).alias(
                "naive_split"
            ),
            split_assignment(F.col("component"), _SPLIT_FRACTION).alias("split"),
        )
    )
    leak = labeled.groupBy("component").agg(
        (F.count_distinct("naive_split") > 1).alias("naive_leaky")
    )
    return labeled.join(leak, "component").select(
        "doc_id", "component", "split", "naive_split", "naive_leaky"
    )


# ---------------------------------------------------------------------------
# Source-graph PageRank (r7) — centrality-based source quality weighting,
# the classic signal for weighting crawl domains in a pre-training mix
# (Common Crawl pipelines weight by harmonic centrality / PageRank of the
# host graph; cf. "Quality at a Glance" and the CC host-level ranking
# work). Nodes are the source catalog; directed edge weight src->dst is
# the number of distinct _EXCISE_N-grams the two sources share (the
# source_overlap_matrix derivation — hot-gram-df-capped per-gram source
# sets, never a corpus-scale self-join; stop-grams shared by more than
# _GRAM_SRC_CAP sources are dropped in BOTH engines, r8 — see the
# dedup.py block comment), symmetrized. Rank then runs a FIXED number
# of damped power-iteration steps, each one shuffle join + one grouped
# sum over the edge list — the GraphX/Pregel shape on plain DataFrames.
#
# Oracle-exactness (the first ITERATIVE algorithm in the repo to be
# hash-gated rather than rows-only): every rank value lives in 64-bit
# FIXED-POINT (1e-12 resolution) and every update is pure integer math —
# contribution = (w * r) div out_w, new rank = (15*SCALE) div (100*N) +
# (85 * sum(contributions)) div 100 — so the result is bit-identical
# across engines, partitionings, and summation orders (the KMV
# integer-math discipline applied to a fixed-point recurrence; floor
# division IS the defined semantic, not an approximation of float PR).
# The DuckDB oracle unrolls the same _PR_ITERS steps as CTE levels.
# Overflow bound: w * r < 2^63 requires per-pair shared-gram counts
# below ~9.2e6 at full rank mass; at corpora beyond that, drop _PR_SCALE
# a decade per decade of edge weight (production knob, same report).
# Dangling/isolated sources hold the (1-d)/N base rank — the standard
# no-redistribution simplification, stated identically in both engines.
# ---------------------------------------------------------------------------

_PR_ITERS = 5
_PR_SCALE = 10**12  # fixed-point: rank 1.0 == 1e12


def _pr_oracle() -> str:
    from .dedup import _EXCISE_N, _GRAM_SRC_CAP as _ss_cap

    base = f"({15 * _PR_SCALE} // (100 * (SELECT n FROM nn)))"
    iters = []
    for k in range(1, _PR_ITERS + 1):
        iters.append(f"""
    r{k} AS (
      SELECT n.source,
             CAST({base}
                  + (85 * COALESCE(SUM((p.w * pr.r) // o.ow), 0)) // 100
                  AS BIGINT) AS r
      FROM nodes n
      LEFT JOIN pairs p ON p.dst = n.source
      LEFT JOIN r{k - 1} pr ON pr.source = p.src
      LEFT JOIN outw o ON o.src = p.src
      GROUP BY n.source
    )""")
    return f"""
    WITH toks AS (
      SELECT source, string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    occ AS (
      SELECT DISTINCT source, array_to_string(t[i:i+{_EXCISE_N - 1}], ' ') AS gram
      FROM toks, UNNEST(generate_series(1, len(t) - {_EXCISE_N - 1})) AS u(i)
    ),
    ok AS (
      -- hot-gram df-cap (r8): stop-grams shared by more than the cap
      -- carry no centrality signal — same derivation as
      -- source_overlap_matrix's oracle, see dedup.py block comment
      SELECT gram FROM occ GROUP BY gram
      HAVING COUNT(*) BETWEEN 2 AND {_ss_cap}
    ),
    pairs AS (
      SELECT a.source AS src, b.source AS dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM occ a JOIN ok USING (gram)
      JOIN occ b ON a.gram = b.gram AND a.source <> b.source
      GROUP BY 1, 2
    ),
    nodes AS (SELECT DISTINCT source FROM documents),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outw AS (SELECT src, SUM(w) AS ow FROM pairs GROUP BY src),
    r0 AS (
      SELECT source, CAST({_PR_SCALE} // (SELECT n FROM nn) AS BIGINT) AS r
      FROM nodes
    ),{",".join(iters)}
    SELECT source, r AS rank_fp,
           CAST(r AS DOUBLE) / {_PR_SCALE}.0 AS rank
    FROM r{_PR_ITERS}
    """


@query("source_pagerank", oracle=_pr_oracle())
def source_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d=0.85, _PR_ITERS fixed iterations, 1e-12 integer
    fixed-point) over the shared-distinct-gram source graph — see block
    comment for the scale shape and the integer-exactness argument.

    Reference ancestry: generalizes the duplicate-group diagnostics the
    reference runs across surveys (03_DHS_Update_Metadata.ipynb raw
    :993-1140) from membership to graph centrality."""
    from .dedup import shared_gram_source_sets

    docs = load_table(spark, sf_dir, "documents")
    # hot-gram-capped per-gram source sets (<= _GRAM_SRC_CAP each, r8 —
    # see the dedup.py block comment), ordered-pair expansion map-side —
    # the source_overlap_matrix derivation, directed both ways
    per_gram = shared_gram_source_sets(docs)
    pairs = per_gram.select(
        F.explode(
            F.expr(
                "flatten(transform(__ss, x ->"
                " transform(filter(__ss, y -> y <> x),"
                " y -> struct(x AS src, y AS dst))))"
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    edges = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    from pyspark.sql import Observation

    outw = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("ow"))
    # one checkpoint each: edges feed every iteration, nodes every spine.
    # r14: the overflow guard's max(w) and the node count are OBSERVED
    # during the two checkpoint jobs (the connected_components obs0
    # pattern) instead of running one extra driver job each — two fewer
    # jobs per query, identical values.
    obs_e = Observation()
    obs_n = Observation()
    # edges_ow (corpus-derived gram pass) and nodes (catalog distinct) share
    # no dependency: materialize both with their jobs in flight together
    # (guide §2.6) instead of back-to-back.
    edges_ow, nodes = eager_checkpoints(
        edges.join(outw, "src").observe(obs_e, F.max("w").alias("mw")),
        docs.select("source")
        .distinct()
        .observe(obs_n, F.count(F.lit(1)).alias("n")),
    )
    # Runtime overflow guard (ADVICE r7): the iteration computes
    # (w * r) DIV ow in non-ANSI int64, which wraps SILENTLY on overflow
    # while the DuckDB oracle's BIGINT multiply errors loudly. r never
    # exceeds the total rank mass (= _PR_SCALE, floor losses only shrink
    # it), so enforcing max(w) * _PR_SCALE < 2^63 on the materialized
    # edge list makes a too-heavy graph fail identically in both engines
    # (the spectral operator's per-batch GEMM assert, applied here).
    max_w = obs_e.get["mw"]
    assert max_w is None or max_w * _PR_SCALE < 2**63, (
        f"edge weight {max_w} x _PR_SCALE would overflow the int64"
        " contribution product; drop _PR_SCALE a decade (see block comment)"
    )
    n_sources = obs_n.get["n"]
    base = (15 * _PR_SCALE) // (100 * n_sources)

    ranks = nodes.select(
        "source", F.lit(_PR_SCALE // n_sources).cast("bigint").alias("r")
    )
    for _ in range(_PR_ITERS):
        # ranks/inflow are catalog-sized: broadcast them so each of the 5
        # iteration joins is a BroadcastHashJoin over the checkpointed
        # edge list, not a sort-merge shuffle pair (at 100 TB the source
        # CATALOG still broadcasts; only the edge list is corpus-derived)
        inflow = (
            edges_ow.join(F.broadcast(ranks), edges_ow["src"] == ranks["source"])
            .select(
                F.col("dst").alias("source"),
                F.expr("CAST((w * r) DIV ow AS BIGINT)").alias("c"),
            )
            .groupBy("source")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes.join(F.broadcast(inflow), "source", "left").select(
            "source",
            (
                F.lit(base)
                + F.expr("(85 * coalesce(inflow, 0L)) div 100")
            ).cast("bigint").alias("r"),
        )
    return ranks.select(
        "source",
        F.col("r").alias("rank_fp"),
        (F.col("r").cast("double") / F.lit(float(_PR_SCALE))).alias("rank"),
    )
