"""Physical-plan audit: regenerates PLANS.md.

For every bench query, extracts the scale-relevant plan facts from
``explain(mode="formatted")``: shuffle count, join strategies, pushed
filters, and scanned column counts (column pruning). Run after changing any
operator; eyeball the diff — a new Exchange or a vanished PushedFilters
line is a regression.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

NOTES = {
    "pricing_summary": "one shuffle (the agg); date filter pushed to parquet",
    "flagship_cross_level": "all four dims broadcast; fact table never shuffled pre-agg",
    "join_inner": "dim side broadcast",
    "top1_per_group": "single exchange feeds the rank window; 3-column scan",
    "agg_having": "partial agg map-side, one shuffle",
    "range_join_decode": "broadcast nested-loop against a 4-row bands dim — the right plan for a tiny build side",
    "rowid_join": "ONE shuffle total: per-group sorted-array zip replaces two windows + self-join",
    "case_coalesce_harmonize": "pure projection pipeline, no shuffle beyond the agg",
    "dedup_exact": "shuffle key is the 16-byte digest; map-side partial min",
    "minhash_near_dup": "signature table is a materialized per-corpus parquet artifact (stored-table pattern — nothing pinned in block storage; r1's 1.41s was subsidized by a leaked cache, this is the honest steady state); hot LSH buckets capped spill-safely before any per-bucket array exists",
    "embedding_topk": "query side broadcast; corpus scanned once, top-k window per query id",
    "embedding_cosine_near_dup": "sqrt-decomposed block pairs + numpy GEMM in applyInPandas; one shuffle of N*B replicated rows",
    "asof_join": "union + ordered window (last ignoreNulls): one shuffle on user_id, no join",
    "rollup_agg": "all grouping sets in one shuffle (Expand + partial agg)",
    "token_count": "narrow scan + projection",
    "winnowing_fingerprint": "narrow map (vectorized numpy rolling hash); the only exchange is the size-gated input spread (r14 — absent at corpus scale)",
    "tumbling_window": "one shuffle on (window, event_type)",
    "cube_agg": "all 4 grouping sets via one Expand + one shuffle",
    "vocab_stats": "explode + two-phase distinct agg ((term,doc) partial then term); shuffle volume ~vocab-sized after map-side collapse",
    "train_test_split": "pure narrow map — zero shuffles, no state",
    "dedup_components": "CC is tiered: small edge sets (observed count, zero extra jobs) collect to a driver union-find; big graphs run large/small-star rounds with localCheckpoint lineage cuts",
    "top_unshipped_orders": "no broadcast hints — customer scales with SF, AQE picks broadcast-vs-SMJ per join from runtime sizes; TakeOrderedAndProject, no global sort",
    "gap_fill_hourly": "agg shuffle + LOCF window shuffle, both on user_id; AQE broadcasts the grid join at this SF (co-partitioned at scale)",
    "segment_window_counts": "user dim join left to AQE (dim scales with SF — no hardcoded broadcast); one shuffle for the window agg",
    "decile_stats": "range-partition + pure-JVM pid/local-idx tag (monotonically_increasing_id decomposition — no Python workers) + per-partition offsets as a literal map lookup (no join) — NO single-partition window; the tagged input is one eager localCheckpoint, released by RankInputHandle",
    "funnel_stages": "three conditional-min windows share one user_id exchange",
    "sequence_pack": "one shard shuffle + window cumsum; shards pack independently",
    "curation_pipeline": "quality filter fused into the scan; dedup digest shuffle is the only wide stage before the tiny summary agg",
    "curation_pipeline_v2": "gate fused into the scan, one digest shuffle for dedup, DSIR scores join in from one corpus shuffle + broadcast ratios, split is a narrow hash — no stage rescans history",
    "embedding_centroids": "posexplode is a narrow per-row expansion; the single (label, pos) partial agg is the only shuffle and carries label*dim rows",
    "repetition_stats": "narrow scan + higher-order array ops (bigram transform/distinct); only the size-gated input spread exchanges (r14 — absent at corpus scale)",
    "context_chunks": "narrow scan + sequence/explode/slice; only the size-gated input spread exchanges (r14 — absent at corpus scale); chunk ids are arithmetic, stable under any partitioning",
    "token_budget_mix": "one partial-agg shuffle for lang totals; thresholds broadcast-joined back; keep-filter is a narrow hash compare",
    "token_rarity_score": "model phase = one partial-agg shuffle (vocab); scoring = term join (AQE handles Zipf skew) + per-doc agg; integer rarity keeps the oracle bit-exact",
    "semantic_dedup": "quadratic work confined to k-means cells (one numpy gram per cell in applyInPandas); CC runs on the sparse within-cell pair graph only — linear corpus passes otherwise",
    "benchmark_decontaminate": "bench-side gram table (boilerplate-capped, cap in the oracle) broadcast — corpus gram stream probed map-side, never shuffled; only surviving grams reach the per-doc agg shuffle",
    "dedup_incremental": "corpus key set joins batch-side only (stored corpus table is bucketed by the sink at scale — batch is the only shuffled side); keep-first is a map-side-combined min over the batch",
    "zorder_key": "pure bit arithmetic in whole-stage codegen — a free narrow map; the layout write is one range shuffle after which both dimensions prune",
    "tfidf_topk": "map-side-combined tf shuffle is the only full-token-stream exchange; the later df agg + per-doc rank window re-shuffle only the collapsed tf table (vocab/doc-sized)",
    "bm25_search": "tf table persisted and reused for lengths + query slice; df and corpus stats broadcast; query-term filter cuts the scored side before any join",
    "duplicate_spans": "one narrow gram pass + one gram-keyed map-side-combined shuffle; production groups by xxhash64(gram) to shrink the shuffle key",
    "max_dup_span_stats": "gram-keyed freq shuffle + join-back + ONE doc_id shuffle of gram START positions only (no N-exploded cover indexes); interval merge via JVM lambdas on the sorted starts (no window)",
    "cdc_chunks": "tokenize, md5 boundary filter, and chunk lengths are all JVM higher-order lambdas over the per-doc token array; only the size-gated input spread exchanges (r14 — absent at corpus scale)",
    "decontaminate_pairs": "bench grams broadcast (capped) — corpus gram stream probed map-side; (doc,bench) agg + struct-max argmax, no window",
    "minhash_calibration": "shares the twin's scored-pairs plan (localCheckpointed), whose signature pass reads the SAME checkpointed distinct shingle-hash set as the truth side (min-invariant), so the corpus md5 string kernel runs once; true Jaccard via one (doc,h) equi-join over bucket-capped candidates; integer-exact cross-agg math",
    "ann_calibration": "three deterministic ANN twins vs exact top-k: queries/centroids/codebooks broadcast, corpus passes narrow (sig/assign/encode), exact panel localCheckpointed and reused by truth + reranks; per-query windows bounded at 8 partitions",
    "leakage_safe_split": "exact-dup edges from one digest shuffle (group-min root, linear); Jaccard slice reuses the CC truth path; split + leak audit are a projection + one component agg",
    "source_pagerank": "edge weights from the hot-gram-df-capped per-gram source-set agg (no gram self-join; stop-grams > _GRAM_SRC_CAP sources dropped in BOTH engines, r8); 5 power-iteration steps = broadcast joins of the catalog-sized rank vector against the ONE checkpointed edge list; pure integer fixed-point, bit-stable under any partitioning (pinned by test), runtime w*SCALE overflow guard",
    "bpe_merge_calibration": "ONE corpus pass (word_counts map-side agg); the 8-merge training loop runs on the bounded vocab table (driver tier asserted; DataFrame tier parity-tested in bpe_train)",
    "spectral_power_calibration": "ONE Arrow pass of exact int64 GEMM partials (order-free integer sums); 64x64 squaring loop is SF-independent driver integer math; report is dimension-sized",
    "kmeans_calibration": "quantize once (localCheckpoint) then _KMC_ITERS+1 linear passes: assignment is a NARROW map (centroid matrix rides as one complex-typed literal looped by zip_with — stable codegen source across iterations, no broadcast/shuffle), update is ONE map-side-combined groupBy collapsing N x d to k x d partials; driver holds only the k x d centroid matrix — the MLlib treeAggregate shape, pure int64 (bit-stable)",
    "featurize_calibration": "the quality classifier's ONE Arrow featurize pass (hashing trick, no vocabulary, no shuffle) + a bucket posexplode projection; report ratios are exact int/int doubles via the round-pair",
    "irls_stats_calibration": "one featurize pass (localCheckpoint: guard + partials share it) then ONE Arrow int64-GEMM pass emitting per-partition sufficient-stat partials (the _newton_stats/treeAggregate shape); collect is partials-sized (1 row/partition), driver sum is exact python int; report built driver-side from 421 values",
    "pca_calibration": "one linear pass quantizes + accumulates the d x d centered-Gram partials (map-side combine), then driver-side integer repeated squaring of a d x d matrix (corpus-size-free) and one broadcast projection pass; collect is d^2-sized",
    "embedding_quantization": "ZERO shuffles: absmax scale, int8 codes, and all three error metrics are JVM higher-order lambdas in one narrow pass",
    "quality_classifier": "ONE Arrow featurize pass (hashing trick, parallelism-guarded, localCheckpointed) + 2 Newton/IRLS passes each = one mapInPandas sufficient-stats pass (numpy GEMM partials per partition, partials-sized collect); driver holds only w + the (d+1)x(d+1) solve",
    "containment_pairs": "lossless containment-prefix candidates (rarest ~(1-t)|A| shingles vs full inverted index, integer-exact bounds) + exact verify; oracle is the naive all-pairs truth",
    "boilerplate_prune": "doc-frequency via in-array array_distinct (map-side) -> ONE gram-keyed combined shuffle; capped boilerplate set broadcast-probed (no join shuffle); rewrite shares excision's cut-set tail",
    "training_shuffle_order": "seeded md5 permutation ranked by the distributed global rank (range-partitioned sort, no single-partition window); round-robin shard/pos are pure column math off the rank",
    "json_props_extract": "get_json_object inlined in the scan projection (JVM-side, no UDF) -> ONE map-side-combined conditional agg",
    "source_overlap_matrix": "NO gram self-join: gram -> sorted source-set agg is the only corpus-scale shuffle; hot-gram df-cap (r8) drops stop-grams shared by > _GRAM_SRC_CAP sources in BOTH engines, bounding the map-side pair expansion at cap^2 per gram; final pair agg tiny",
    "pii_redact": "injection, detection, and masking fuse into one narrow per-row projection; only the size-gated input spread exchanges (r14 — absent at corpus scale)",
    "approx_distinct_calibration": "auditor query: pays the exact COUNT(DISTINCT) cost by design; KMV side is one (pri,hash) distinct shuffle + a 5-group window; report math is pure integer division (bit-stable across layouts)",
    "approx_quantile_calibration": "auditor query: exact + 10%-md5-sample percentile aggs (two group shuffles over 5 keys), joined on the tiny priority axis; production reads stay on the O(1)-memory GK sketch",
    "cms_calibration": "portable d x w CMS: gram stream shuffles only as a map-side-combined (row,bucket) agg bounded at d*w=1024 cells; exact top-K side is the auditor's ground-truth agg; probe panel broadcast onto the cells",
    "rich_inactive_customers_sql": "SQL-text entry path: Catalyst decorrelates the NOT EXISTS to a broadcast null-aware anti join and the scalar subqueries to one-row broadcast aggregates",
    "dq_checks_orders": "six rules in two corpus passes: one multi-conditional agg (exact uniqueness adds the distinct shuffle) + one anti-join count; 1-row frames cross-joined and stacked",
    "stateful_session_paths": "runs the REAL streaming engine (availableNow foreachBatch drain): cost is micro-batch scheduling + transformWithState, not the plan; batch twin session_windows carries the plan proof",
    "streaming_window_counts": "streaming-engine complete-mode windowed agg drained to a final table == batch tumbling_window answer",
    "audio_metadata": "narrow Arrow mapInPandas: WAV encode->decode round trip per doc, zero shuffles; payloads never leave the batch",
    "video_metadata": "narrow Arrow mapInPandas: MP4 box-tree encode->decode round trip per doc, zero shuffles",
    "exact_substring_excise": "gram-occurrence kernel (narrow) -> one gram-keyed shuffle (map-side combined count+min) -> per-doc cut-set agg -> single doc_id equi-join; rewrite is a JVM HOF over the token array",
    "flac_metadata": "narrow Arrow mapInPandas: FLAC STREAMINFO encode->decode round trip per doc, zero shuffles",
    "corpus_dataset_card": "one multi-distinct Expand agg + one lang top-1, both O(1)/O(langs) post-agg; 1-row frames meet in a broadcast cross join",
    "span_dedup_report": "the excise plan + one doc_id equi-join to a 3-column metadata projection + one (lang,source) agg; group-count-sized after the excise collapse",
    "returned_orders_by_priority_sql": "correlated EXISTS -> left semi join; agg on the semi-join survivors only",
    "importance_weights": "two partial-agg shuffles build the LMs; vocab-sized ratio table broadcast; decimal-exact per-doc agg on the doc_id shuffle",
    "cohort_retention": "per-user first-event agg + (cohort, offset) distinct count — both shuffles key on user_id",
    "rollup_maintenance": "stored rollup merged with batch partial aggs per day — history never rescanned; one day-keyed shuffle each side",
    "value_histogram": "bucket id is constant-folded arithmetic in codegen; one map-side-combined shuffle",
    "moving_average_daily": "7-row ROWS frame, one ordered window over the per-day aggregate (one row per day), run inside the result's localCheckpoint job — the final plan is a scan of the checkpoint, no WindowExec",
    "scd2_asof_lookup": "dim history built once (full-outer on business key), facts equi-join + validity filter; bucketable on custkey",
    "content_reconcile": "per-side bucketed XOR digests (n_buckets rows each) full-outer compared — neither table moves",
    "setsim_join_prefix": "PPJoin: shingle frequency attached by a plain shuffle join (map-side-combined freq side, AQE picks the strategy — NO vocab broadcast, the r2 scale-killer); prefix buckets + length + positional filters cut candidates 300k->69k before exact array_intersect verify; lossless vs naive oracle + adversarial-corpus test",
    "doc_perplexity": "corpus token stream collapses through map-side-combined (doc,bigram)/(bigram) aggs; probability table built on the bigram-vocab side and attached by shuffle join (no corpus-scale broadcast); decimal-exact count-weighted mean",
    "bpe_pair_counts": "ONE corpus shuffle to the word vocab; char-pair explode runs over distinct words only, weighted by frequency — corpus never re-scanned",
    "bpe_compression": "tiered trainer: word-count dict collected when vocab-sized (one corpus shuffle total), DataFrame merge loop with localCheckpoint cuts otherwise; encode = broadcast merge-rank kernel, no shuffle",
    "pca_embedding_reduce": "per-partition (n, sum, Gram) sufficient statistics in one narrow Arrow pass (treeAggregate shape — corpus never shuffles); driver eigh on d x d; projection is a per-batch GEMM",
    "word_entropy": "one (doc,term) shuffle; decimal-exact per-doc entropy agg",
    "weighted_sample_langs": "narrow A-ES key projection + one group-key window shuffle",
    "pmi_collocations": "bigram + unigram aggs map-side combined; unigram/totals broadcast onto pair counts",
    "profile_orders_columns": "one column-pruned agg per column, unioned; exact ndv is the one wide stage per column",
    "moment_stats": "single-pass exact decimal power sums, map-side combined; one shuffle",
    "term_drift_kl": "one (lang, term) shuffle builds both distributions; totals broadcast; decimal-exact KL agg",
    "spearman_length_tokens": "two range-partitioned global-rank passes + 1-row aggregate — no single-partition window",
    "dedup_incremental_bloom": "corpus summarized into a broadcast bloom blob (narrow pass + driver OR-merge); only bloom-positive candidates reach the verify join",
    "temperature_mix": "one map-side-combined lang agg; 1-row total + normalizer broadcast — everything after the first shuffle is dozens of rows",
    "dup_rate_by_source": "group sizes from a fingerprint-partitioned window over ONE corpus scan/exchange (a groupBy+self-join would recompute the scan and full-text md5 on both sides)",
    "interval_join_attribution": "both filtered event slices shuffle once on user_id; time band is a join residual inside each merge group — no quadratic risk past the equi key",
    "survey_update_check": "stage-1 composite: three DISTINCT presence probes union-distinct (map-side combined), catalog side anti-joined twice; nation dim broadcast",
    "range_frame_trailing": "6-day RANGE frame, one ordered window over the per-day aggregate (one row per day present), run inside the result's localCheckpoint job — the final plan is a scan of the checkpoint, no WindowExec",
    "wow_growth": "lag(1), one ordered window over the per-week aggregate (one row per week), run inside the result's localCheckpoint job — the final plan is a scan of the checkpoint, no WindowExec",
    "hybrid_search_rrf": "both branches top-k-bounded before the fusion full-outer join; ranks via array-sort aggregate (no global WindowExec); corpus work stays in branches",
    "sliding_window": "one shuffle on the window key; each event expanded narrowly to its 2 covering windows pre-shuffle",
    "stratified_sample_langs": "pure narrow filter (deterministic md5 hash bucket vs per-stratum literal threshold) — zero shuffles",
    "topk_per_group": "single exchange feeds the per-group rank window; rank filter applied before any downstream work",
    "quantile_normalize": "distributed global rank (range-partitioned sort passes, no single-partition window); N comes free from the rank's offset pass",
    "regex_token_count": "pure narrow projection — per-doc regex counts in JVM codegen, zero shuffles",
    "bpe_encode_calibration": "one corpus pass (word_counts agg); encode runs on the driver-collected bounded vocab re-parallelized as one-word docs",
    "pca_project_calibration": "quantize fused into the scan; one narrow Arrow GEMM pass (production pca_project kernel), zero shuffles",
    # r13 rotation-in entries without a prior note
    "frequent_terms_topk": "sketch-then-verify: Misra-Gries candidates broadcast onto ONE exact counting pass; final plan is the k verified rows re-parallelized (bounded collect + noise-floor exactness guard)",
    "mode_per_group": "two map-side-combined aggs ((group, value) counts, then argmax over the counted table) — no window, no sort",
    "sample_k_per_group": "one window shuffle on the group key (deterministic md5-rank reservoir); rank filter drops rows beyond k before anything downstream",
    # r14 rotation-in entry without a prior note
    "window_unique_users": "countDistinct expands to a two-phase agg: (window, user) partial-distinct shuffle then the hour-window rollup — both map-side combined, no window function",
}


# Queries whose FINAL plan may legitimately contain a partitionless ordered
# Window (single-partition sort buffer). Currently EMPTY — every bench plan
# is clean: the repo's global orderings go through the range-partitioned
# global_rank_parts, and the `WindowExec: No Partition Defined` warnings
# seen at runtime come only from the calendar-frame windows (one row per
# day or week) that run inside their result's localCheckpoint job, never
# from a final query plan. The audit FAILS if a new partitionless window appears without
# being allowlisted here with a tier justification (VERDICT r5 ask #4).
GLOBAL_WINDOW_OK: dict[str, str] = {}


def _partitionless_windows(plan: str) -> int:
    """Count Window nodes with an order spec but NO partition spec.

    In ``explain(mode="formatted")`` a Window detail line is
    ``Arguments: [exprs], [partitionSpec], [orderSpec]`` — partitionless
    windows carry only 2 top-level groups with the second being a sort
    spec (contains ASC/DESC); partition-only windows also have 2 groups
    but no sort direction, and are fine (no single-partition buffer)."""

    def top_groups(args: str) -> list[str]:
        groups: list[str] = []
        depth = 0
        cur: list[str] = []
        for ch in args:
            if ch == "[":
                if depth == 0:
                    cur = []
                depth += 1
                if depth == 1:
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
                    continue
            if depth >= 1:
                cur.append(ch)
        return groups

    n = 0
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if re.match(r"^\(\d+\) Window$", ln.strip()):
            for j in range(i + 1, min(i + 8, len(lines))):
                if lines[j].startswith("Arguments: "):
                    g = top_groups(lines[j][len("Arguments: ") :])
                    if len(g) == 2 and (" ASC" in g[1] or " DESC" in g[1]):
                        n += 1
                    break
    return n




# Committed per-query shuffle budget (r13): the Exchange-node count of
# each query's FINAL plan, frozen from the r13 chain's PLANS.md. The
# audit FAILS when a plan exceeds its budget — the silent regression
# class where a broadcast join degrades to a shuffle join (stats drift,
# threshold change) or a new Exchange creeps into a narrow plan. A
# conscious plan change lowers or raises the budget in the same commit;
# an improvement (fewer shuffles) prints a note suggesting the budget
# be tightened.
SHUFFLE_BASELINE = {
    "pricing_summary": 1,
    "flagship_cross_level": 1,
    "join_inner": 1,
    "top1_per_group": 1,
    "agg_having": 1,
    "range_join_decode": 1,
    "rowid_join": 1,
    "case_coalesce_harmonize": 0,
    "dedup_exact": 1,
    "minhash_near_dup": 2,
    "embedding_topk": 1,
    "embedding_cosine_near_dup": 1,
    "asof_join": 1,
    "rollup_agg": 1,
    "token_count": 0,
    "winnowing_fingerprint": 1,
    "tumbling_window": 1,
    "cube_agg": 1,
    "vocab_stats": 3,
    "train_test_split": 0,
    "dedup_components": 3,
    "top_unshipped_orders": 1,
    "gap_fill_hourly": 2,
    "segment_window_counts": 1,
    "decile_stats": 0,
    "funnel_stages": 2,
    "sequence_pack": 1,
    "curation_pipeline": 3,
    "curation_pipeline_v2": 11,
    "embedding_centroids": 1,
    "repetition_stats": 1,
    "context_chunks": 1,
    "token_budget_mix": 3,
    "token_rarity_score": 7,
    "semantic_dedup": 0,
    "benchmark_decontaminate": 5,
    "dedup_incremental": 2,
    "zorder_key": 0,
    "tfidf_topk": 6,
    "bm25_search": 5,
    "duplicate_spans": 3,
    "importance_weights": 7,
    "cohort_retention": 3,
    "rollup_maintenance": 2,
    "value_histogram": 1,
    "moving_average_daily": 0,
    "scd2_asof_lookup": 0,
    "content_reconcile": 2,
    "setsim_join_prefix": 1,
    "word_entropy": 6,
    "weighted_sample_langs": 1,
    "pmi_collocations": 9,
    "hybrid_search_rrf": 5,
    "profile_orders_columns": 12,
    "moment_stats": 1,
    "term_drift_kl": 6,
    "spearman_length_tokens": 0,
    "dedup_incremental_bloom": 1,
    "survey_update_check": 3,
    "temperature_mix": 7,
    "dup_rate_by_source": 2,
    "interval_join_attribution": 1,
    "range_frame_trailing": 0,
    "wow_growth": 0,
    "doc_perplexity": 9,
    "bpe_pair_counts": 2,
    "bpe_compression": 0,
    "pca_embedding_reduce": 0,
    "rich_inactive_customers_sql": 3,
    "returned_orders_by_priority_sql": 2,
    "dq_checks_orders": 3,
    "stateful_session_paths": 0,
    "streaming_window_counts": 0,
    "audio_metadata": 0,
    "video_metadata": 0,
    "exact_substring_excise": 2,
    "flac_metadata": 0,
    "corpus_dataset_card": 3,
    "span_dedup_report": 3,
    "max_dup_span_stats": 2,
    "cdc_chunks": 1,
    "decontaminate_pairs": 6,
    "minhash_calibration": 6,
    "ann_calibration": 17,
    "leakage_safe_split": 2,
    "source_pagerank": 5,
    "bpe_merge_calibration": 0,
    "spectral_power_calibration": 0,
    "kmeans_calibration": 1,
    # r14: the defaultParallelism repartition ahead of the Arrow kernel is
    # now size-capped (a few MB of text stays at its scan partitioning), so
    # the round-robin Exchange is gone at bench scale
    "featurize_calibration": 1,
    "irls_stats_calibration": 0,
    "pca_calibration": 0,
    "embedding_quantization": 0,
    "quality_classifier": 0,
    "containment_pairs": 1,
    "boilerplate_prune": 4,
    "training_shuffle_order": 0,
    "json_props_extract": 1,
    "source_overlap_matrix": 3,
    "pii_redact": 1,
    "approx_distinct_calibration": 4,
    "approx_quantile_calibration": 2,
    "cms_calibration": 2,
    "bpe_encode_calibration": 0,
    "pca_project_calibration": 0,
    "sliding_window": 1,
    "stratified_sample_langs": 0,
    "topk_per_group": 1,
    "quantile_normalize": 0,
    "regex_token_count": 0,
    "frequent_terms_topk": 0,
    "mode_per_group": 2,
    "sample_k_per_group": 1,
    # r14 rotation-in bench addition
    "window_unique_users": 2,
}

BUDGET_SF_DIR = "/root/testdata/sf0.1"


def audit(sf_dir: str) -> str:
    # SHUFFLE_BASELINE budgets are frozen from BUDGET_SF_DIR plans; at
    # other SFs statically-planned join strategies legitimately differ
    # (file-size broadcast decisions), so the hard-fail guard only
    # enforces at the SF the budgets were measured at (review r13).
    # ADVICE r13: compare canonical paths, not spellings — a symlinked or
    # relative path to the same sf0.1 directory must not skip the guard.
    import os

    enforce_budget = os.path.realpath(sf_dir) == os.path.realpath(BUDGET_SF_DIR)
    if not enforce_budget:
        print(
            f"note: shuffle budgets frozen at {BUDGET_SF_DIR}; guard"
            f" skipped for {sf_dir}"
        )
    import __spark_entry__ as em
    from dhs_to_database_spark.session import get_spark

    import bench

    spark = get_spark("plan-audit")
    qs = em.queries()

    out = io.StringIO()
    out.write(
        "# PLANS.md — physical-plan audit of the bench queries\n\n"
        f"Generated by `python tools/plan_audit.py` at `{sf_dir}`. Facts from\n"
        '`df.explain(mode="formatted")`; regenerate after operator changes.\n\n'
        "| query | shuffles | joins | scans (cols read) | pushed filters | note |\n"
        "|---|---|---|---|---|---|\n"
    )
    for name in bench.BENCH_QUERIES:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        n_exchange = len(re.findall(r"\) Exchange\b", plan))
        joins = sorted(
            {m for m in re.findall(r"\) (\w+Join\w*)", plan)}
        )
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        scan_cols = [len([c for c in s.split(",") if ":" in c]) for s in schemas]
        pushed = len(
            [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p.strip()]
        )
        base = SHUFFLE_BASELINE.get(name) if enforce_budget else None
        if enforce_budget and base is None:
            raise SystemExit(
                f"AUDIT FAIL: {name} has no committed shuffle budget - add"
                f" it to SHUFFLE_BASELINE (measured now: {n_exchange})"
            )
        if base is not None and n_exchange > base:
            raise SystemExit(
                f"AUDIT FAIL: {name} final plan has {n_exchange} Exchange"
                f" node(s), over its committed budget of {base} - a plan"
                f" regression (lost broadcast / new shuffle). Fix the plan"
                f" or consciously raise the budget in the same commit."
            )
        if base is not None and n_exchange < base:
            print(
                f"note: {name} improved to {n_exchange} shuffle(s)"
                f" (budget {base}) - tighten SHUFFLE_BASELINE"
            )
        pw = _partitionless_windows(plan)
        if pw and name not in GLOBAL_WINDOW_OK:
            raise SystemExit(
                f"AUDIT FAIL: {name} has {pw} partitionless ordered Window "
                f"node(s) in its final plan — a single-partition sort "
                f"buffer. Fix the plan (range-partitioned global_rank_parts, "
                f"or checkpoint the bounded axis) or allowlist it in "
                f"GLOBAL_WINDOW_OK with a justification."
            )
        out.write(
            f"| {name} | {n_exchange} | {', '.join(joins) or '—'} "
            f"| {len(schemas)} scan(s): {scan_cols} cols | {pushed} scan(s) w/ pushdown "
            f"| {NOTES.get(name, '')} |\n"
        )
    out.write(
        "\n`shuffles` counts `Exchange` nodes (broadcast exchanges are listed\n"
        "under joins instead). Every scan lists only the columns the query\n"
        "needs — column pruning reaching the parquet reader — and filterable\n"
        "predicates appear as PushedFilters.\n"
        "\nPartitionless-window guard (r6): the audit asserts NO final bench\n"
        "plan contains an ordered Window without a partition spec (a\n"
        "single-partition sort buffer). Allowlisted exceptions: "
        f"{sorted(GLOBAL_WINDOW_OK) or 'none'}. Runtime `No Partition\n"
        "Defined` warnings during construction come from the three\n"
        "calendar-frame windows (one row per day or week) that run inside\n"
        "their result's localCheckpoint job, not from final plans — any new\n"
        "final-plan global window fails the audit.\n"
    )
    return out.getvalue()


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    md = audit(sf_dir)
    with open(os.path.join(_REPO_ROOT, "PLANS.md"), "w") as f:
        f.write(md)
    print(md)
