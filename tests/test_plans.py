"""Physical-plan regression tests: the scale properties README.md
promises (pushdown, pruning, broadcast dimension joins, heap-based
top-k) asserted against the executed plan string, so a refactor that
silently degrades the plan fails CI even though results stay correct.
"""

import re

import pytest

import heapdumpstardiver_spark as hds

from conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    df = hds.QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def plan_of_no_aqe(spark, name: str) -> str:
    """Pre-execution plan with AQE off: exchange reuse is decided
    statically, so ReusedExchange/FileScan counts are assertable
    (under AQE the initial plan shows the un-collapsed branches and
    reuse happens at runtime)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = hds.QUERIES[name](spark, SF_DIR)
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def scan_lines(plan: str, table: str) -> list[str]:
    return [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and f"{table}.parquet" in ln
    ]


def test_filter_and_projection_reach_the_scan(spark):
    plan = plan_of(spark, "scan_filter_project")
    (scan,) = scan_lines(plan, "lineitem")
    # Column pruning: the scan reads a narrow schema, not all 16
    # lineitem columns.
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    assert 0 < len(cols.split(",")) <= 7, cols
    # Predicate pushdown: the shipdate/discount/quantity filters appear
    # as data filters on the scan itself.
    assert "DataFilters: [" in scan
    assert "l_shipdate" in scan.split("DataFilters:")[1][:400]


def test_dimension_join_is_broadcast(spark):
    plan = plan_of(spark, "enrichment_join")
    assert "BroadcastHashJoin" in plan
    # The big side (lineitem) must NOT be the one broadcast.
    bcast = plan.split("BroadcastExchange")[1]
    assert "part.parquet" in bcast
    assert "lineitem.parquet" not in bcast


def test_global_topk_uses_heap_not_global_sort(spark):
    plan = plan_of(spark, "global_topk")
    assert "TakeOrderedAndProject" in plan
    # A global sort would show up as a range-partitioning exchange.
    assert "rangepartitioning" not in plan


def test_weighted_topk_uses_heap_not_global_sort(spark):
    plan = plan_of(spark, "weighted_topk")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_shingle_explode_emits_hashes_not_token_arrays(spark):
    plan = plan_of(spark, "ngram_shingle_overlap")
    gens = [ln for ln in plan.splitlines() if "Generate explode" in ln]
    assert gens, plan
    # Exploded rows carry fixed-width values (the shingle hash, the
    # in-bucket pair struct) — never the tokens array.
    assert any("shingle" in ln.rsplit("[", 1)[-1] for ln in gens)
    for ln in gens:
        assert "tokens" not in ln.rsplit("[", 1)[-1]


@pytest.mark.parametrize("name", ["ngram_shingle_overlap", "jaccard_pairs"])
def test_shingle_buckets_are_df_capped(spark, name):
    """The hot-bucket guard (document-frequency cap) must survive in
    the executed plan: a stop-phrase shingle bucket is dropped before
    pair generation, bounding the per-bucket fan-out at any scale."""
    from heapdumpstardiver_spark.queries.llm import SHINGLE_DF_CAP

    plan = plan_of(spark, name)
    assert re.search(rf"size\(docs#\d+[^)]*\) <= {SHINGLE_DF_CAP}", plan), plan


def test_pricing_summary_has_partial_aggregation(spark):
    plan = plan_of(spark, "pricing_summary")
    # Map-side combine: two HashAggregate levels around one exchange,
    # so only |groups| rows per partition shuffle.
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


@pytest.mark.parametrize(
    "name", ["pricing_summary", "join_fact_fact", "two_level_agg"]
)
def test_hot_paths_stay_in_wholestage_codegen(spark, name):
    # AQE only materializes WholeStageCodegen spans in the *final* plan,
    # so execute the DataFrame's own QueryExecution (collect, not a
    # sink — a write wraps the query in a fresh QueryExecution).
    df = hds.QUERIES[name](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # `*(n)` is the WholeStageCodegen span marker in the plan tree.
    assert re.search(r"\*\(\d+\) ", plan), plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDFs


def test_fingerprint_topk_uses_heap_not_sort(spark):
    """Global top-20 by payload size must be TakeOrderedAndProject
    (per-partition heaps), never a full Sort."""
    plan = plan_of(spark, "multimodal_fingerprint_topk")
    assert "TakeOrderedAndProject" in plan, plan


def test_frame_sample_explode_never_carries_payload(spark):
    """The video frame-sample fan-out must drop the binary payload
    before the explode — media bytes are read but never duplicated
    into the generated rows."""
    plan = plan_of(spark, "multimodal_frame_sample")
    gen_lines = [ln for ln in plan.splitlines() if "Generate explode" in ln]
    assert gen_lines, plan
    assert all("payload" not in ln for ln in gen_lines), gen_lines


def test_tfidf_and_entropy_stay_linear(spark):
    """df / per-source totals derive from the tf partials (window),
    not from a second aggregation branch over the raw corpus: entropy
    reads documents exactly once; TF-IDF reads it twice, but the
    second scan is the count-only N side (broadcast, no sort-merge
    join anywhere)."""
    plan = plan_of(spark, "token_entropy_by_source")
    assert plan.count("Scan parquet") == 1, plan
    assert "SortMergeJoin" not in plan

    plan = plan_of(spark, "tfidf_top_terms")
    assert plan.count("Scan parquet") == 2, plan
    assert "SortMergeJoin" not in plan


def test_minhash_bands_from_one_explode(spark):
    """Band rows come from one explode over the signature subtree, and
    since the r13 second pass the band relation is materialized once
    (localCheckpoint): the candidate self-join reads the flat
    checkpointed rows on BOTH sides, so the returned plan carries no
    corpus scan at all — the corpus is tokenized and hashed exactly
    once per run, at materialization."""
    plan = plan_of(spark, "minhash_lsh_candidates")
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan


def test_single_scan_curation_queries(spark):
    """Linear-chain curation queries read their source exactly once."""
    for name in (
        "train_test_split_hash",
        "quality_filter_chain",
        "repetition_filter_gopher",
        "pack_sequences_greedy",
        "token_budget_select",
    ):
        plan = plan_of(spark, name)
        assert plan.count("Scan parquet") == 1, (name, plan)


def test_rollup_cascade_single_scan(spark):
    """The cascaded rollup must read the raw events table exactly once:
    coarser resolutions re-aggregate the minute partials (explode +
    second aggregate), never re-scan the source."""
    plan = plan_of(spark, "rollup_hypertable_cascade")
    assert plan.count("Scan parquet") == 1, plan


def test_decontaminate_benchmark_side_is_broadcast(spark):
    """The (tiny) benchmark gram set joins the corpus map-side."""
    plan = plan_of(spark, "decontaminate_ngram_overlap")
    assert "BroadcastHashJoin" in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """The selective-dim join shape (join_semi: orders filtered to
    urgent+expensive, probing customer) is eligible for Spark's runtime
    bloom-filter semi-join reduction: a bloom built from the filtered
    side's join keys is pushed into the probe-side scan, cutting the
    shuffled probe rows before the join. At local fixture scale the
    10 GB application-side scan threshold (correctly) suppresses it, so
    the test lowers the threshold to prove the plan shape qualifies —
    on a 100 TB cluster the defaults fire on exactly this pattern.
    """
    app_key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bc_key = "spark.sql.autoBroadcastJoinThreshold"
    old_app, old_bc = spark.conf.get(app_key), spark.conf.get(bc_key)
    try:
        spark.conf.set(app_key, "1KB")
        # Broadcast joins prune the probe side for free; force the
        # shuffle-join regime where the bloom filter is the lever.
        spark.conf.set(bc_key, "-1")
        plan = plan_of(spark, "join_semi")
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        spark.conf.set(app_key, old_app)
        spark.conf.set(bc_key, old_bc)


def test_pii_scrub_single_scan_single_shuffle_no_python(spark):
    """The redaction scrub is a narrow regex projection + one
    source-keyed aggregation: one scan, one exchange, JVM regex only."""
    plan = plan_of(spark, "pii_redaction_scrub")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sliding_window_expands_jvm_side(spark):
    """The 4x hopping-window assignment happens in the JVM window
    generator (Expand/Explode over window structs), feeding a partial
    aggregate before the single exchange — the fan-out never crosses
    the shuffle unaggregated."""
    plan = plan_of(spark, "window_sliding_15m")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "BatchEvalPython" not in plan


def test_hierarchy_closure_rounds_are_broadcast_joins(spark):
    """Each propagation round joins the (class-registry-sized) frontier
    against the edge table; at fixture scale AQE must pick broadcast
    joins — no sort-merge machinery for a thousands-of-rows graph."""
    df = hds.QUERIES["hierarchy_closure"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan


def test_png_decode_payload_never_shuffles(spark):
    """multimodal_png_decode: media payloads stay inside one narrow
    mapInPandas stage — no exchange below the decode, binary columns
    pruned before the stats exchange, and the pixel reduction is
    Arrow-batched (never row-at-a-time Python)."""
    df = hds.QUERIES["multimodal_png_decode"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    # the only exchange is the final stats ordering; no payload-bearing
    # round-robin/hash repartition anywhere
    assert "RoundRobinPartitioning" not in plan
    for ln in plan.splitlines():
        if "Exchange" in ln and "rangepartitioning" not in ln:
            raise AssertionError(f"unexpected exchange: {ln.strip()}")


def test_reachability_census_broadcasts_live_set(spark):
    """reachability_live_census: the BFS result (obj_id longs, tiny
    next to the object index) is the broadcast side of the census
    join, the index scan reads only (obj_id, type_name), and partial
    aggregation runs before the exchange."""
    df = hds.QUERIES["reachability_live_census"](spark, SF_DIR)
    df.collect()  # AQE-final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftOuter, BuildRight" in plan
    bcast = plan.split("BroadcastExchange")[1]
    assert "sys_object_index" not in bcast.split("== Initial Plan ==")[0]
    (scan,) = [
        ln for ln in plan.split("== Initial Plan ==")[0].splitlines()
        if "FileScan parquet" in ln and "sys_object_index" in ln
    ]
    assert "obj_id" in scan and "type_name" in scan
    assert "partial_count" in plan


def test_bigram_score_single_scan(spark):
    """bigram_logprob_score: positions, adjacency and both corpus
    counts all derive from ONE documents scan (window counts, no
    aggregate-then-join-back branch that would re-read the corpus)."""
    df = hds.QUERIES["bigram_logprob_score"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(scan_lines(plan, "documents")) == 1
    assert "BatchEvalPython" not in plan


def test_vocab_coverage_broadcasts_vocab(spark):
    """vocab_oov_coverage: the top-256 vocabulary is the broadcast side
    of the membership join — the token stream never shuffles for it."""
    df = hds.QUERIES["vocab_oov_coverage"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftOuter, BuildRight" in plan
    assert "TakeOrderedAndProject" in plan  # top-256 vocab, no global sort


def test_substring_runs_shuffle_fixed_width_only(spark):
    """exact_substring_runs: the shingle explode carries (doc_id, pos,
    md5) — never token arrays — across the single bucket shuffle, and
    the islands stage shuffles only (pair, diagonal) keys. No Python
    in the plan; final top-k is a heap, not a global sort."""
    plan = plan_of(spark, "exact_substring_runs")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert exchanges, plan
    for ln in exchanges:
        assert "tokens" not in ln, ln  # token arrays never cross a shuffle


def test_pq_adc_has_no_shuffle(spark):
    """similarity_pq_adc: after codebook training (driver-side
    metadata), scoring is a narrow projection + per-query TakeOrdered
    union — the executed plan must contain NO exchange at all and no
    Python evaluation."""
    plan = plan_of(spark, "similarity_pq_adc")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_dominator_retained_plan_has_no_python(spark):
    """dominator_retained: the dominators are solved on the driver, and
    the plan that joins their sizes to the object index and ranks them
    evaluates no Python anywhere."""
    plan = plan_of(spark, "dominator_retained")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_table_profile_is_one_scan_two_hash_aggs(spark):
    """table_profile computes all six columns' stats in a single pass
    (the oracle's UNION-ALL of per-column scans is spec, not plan) via
    unpivot + two-level HASH aggregation — the multi-COUNT(DISTINCT)
    Expand→SortAggregate shape (double grouping key disables hash agg;
    measured 3-4x slower) must not come back."""
    plan = plan_of(spark, "table_profile")
    assert plan.count("Scan parquet") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Expand" not in plan, plan
    # The corpus-sized level-1 (column, value) reduction must hash-agg.
    # (Level 2 legitimately sort-aggs — min/max(string) buffers are not
    # hash-compatible — but it consumes the already-reduced relation.)
    lines = plan.splitlines()
    lvl1 = [ln for ln in lines if "Aggregate" in ln and "lv#" in ln and "keys=" in ln]
    assert lvl1 and all("HashAggregate" in ln for ln in lvl1), plan


def test_skew_profile_broadcasts_stats_and_takes_ordered(spark):
    """join_key_skew_profile: the global stats row joins back over the
    per-key table as a broadcast (1-row side), and top-5 is a heap
    TakeOrdered, not a global sort."""
    plan = plan_of(spark, "join_key_skew_profile")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan, plan


def test_dsir_reduces_to_bucket_counts_before_model_join(spark):
    """importance_resample_dsir: the bucket model (≤256 rows) and the
    totals row come back over the per-(doc,bucket) counts as
    broadcasts — the corpus-sized relations never join each other
    directly — and everything stays JVM-side."""
    plan = plan_of(spark, "importance_resample_dsir")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastExchange") >= 2, plan


def test_bpe_pairs_explode_word_types_not_corpus(spark):
    """bpe_pair_merge_candidates: pair extraction runs AFTER the
    word-frequency aggregation (vocab-sized input), so the plan has
    the word rollup exchange upstream of the generator/explode, and
    top-20 is TakeOrdered."""
    plan = plan_of(spark, "bpe_pair_merge_candidates")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    gen = plan.index("Generate explode")
    scan = plan.index("Scan parquet")
    # plan string prints top-down: the explode sits ABOVE (before) the
    # scan, and between them there must be the word-count exchange.
    assert "Exchange hashpartitioning" in plan[gen:scan], plan


def test_chunking_explodes_jvm_side_no_hash_shuffle(spark):
    """chunk_documents_overlap: starts/slices come from JVM generators
    (sequence + slice inside Generate), no Python, and no hash
    exchange — the only exchange is the presentation orderBy's range
    partitioning."""
    plan = plan_of(spark, "chunk_documents_overlap")
    assert "Generate explode" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_pmi_windows_run_over_reduced_bigram_table(spark):
    """bigram_pmi_topk: the PMI marginal windows must consume the
    aggregated distinct-bigram relation — i.e. the plan has the
    bigram-count hash aggregate BELOW the window operators — and
    top-20 is TakeOrdered, all JVM-side. The grand total N must be the
    1-row-agg broadcast scalar, NEVER an empty-partition window (which
    would funnel every distinct bigram through one task): no
    windowspecdefinition without partition columns, and the only
    SinglePartition exchange is the 1-row total's final aggregation.
    The total branch's bigram exchange is canonically identical to the
    marginal branch's, so ReuseExchange keeps it one corpus scan —
    asserted on the AQE-off static plan below."""
    plan = plan_of(spark, "bigram_pmi_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    first_window = plan.index("Window")
    assert "HashAggregate" in plan[first_window:], plan
    # empty partition spec prints windowspecdefinition(specifiedwindowframe…
    assert "windowspecdefinition(specifiedwindowframe" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan, plan
    # the one-corpus-scan claim, machine-checked: with AQE off the
    # total branch resolves to a ReusedExchange of the bigram-count
    # exchange, leaving exactly one parquet scan in the whole plan
    static = plan_of_no_aqe(spark, "bigram_pmi_topk")
    assert static.count("FileScan parquet") == 1, static
    assert static.count("ReusedExchange") == 1, static


def test_star_join_broadcasts_dims_prunes_and_pushes(spark):
    """star_join_supplier_volume: the six-table star must never plan a
    cartesian product, must broadcast the dimension chain, must push
    the date range into the orders scan, and must read only the four
    lineitem columns the query touches."""
    import re

    plan = plan_of(spark, "star_join_supplier_volume")
    assert "Cartesian" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    for ln in plan.splitlines():
        if "FileScan parquet" in ln and "orders.parquet" in ln:
            assert "o_orderdate" in ln.split("DataFilters:")[1][:400], ln
        if "FileScan parquet" in ln and "lineitem.parquet" in ln:
            cols = re.search(r"FileScan parquet \[([^\]]*)\]", ln).group(1)
            assert len(cols.split(",")) <= 5, cols


def test_fuzzy_join_blocks_before_distance(spark):
    """fuzzy_join_levenshtein: the pair space must come from an
    EQUI-join on the block key (hash or broadcast-hash join with the
    edit distance as residual condition) — never a nested-loop over
    all name pairs."""
    plan = plan_of(spark, "fuzzy_join_levenshtein")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan


def test_funnel_benchmark_grams_broadcast_no_cartesian(spark):
    """curation_funnel_accounting: the only data-sized join inputs are
    the gram/dedup relations — benchmark grams broadcast, the four
    scalar stage counts joined as 1-row broadcasts, and no cartesian
    anywhere."""
    plan = plan_of(spark, "curation_funnel_accounting")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastExchange") >= 3, plan


def test_zipf_moments_over_reduced_vocab(spark):
    """zipf_alpha_fit: the rank assignment must be two-phase — the
    row_number window PARTITIONED by frequency bucket (offset joined
    from the broadcast frequency histogram), never a global
    single-partition sort of the vocabulary — and the OLS moments
    consume the aggregated vocab relation. The only SinglePartition
    exchange is the final 1-row moments aggregation. The
    histogram-self-join branches must collapse to ONE corpus scan via
    ReuseExchange — asserted on the AQE-off static plan below."""
    plan = plan_of(spark, "zipf_alpha_fit")
    first_window = plan.index("Window")
    assert "HashAggregate" in plan[first_window:], plan
    # no empty-partition window, no global Sort of the vocab
    assert "windowspecdefinition(specifiedwindowframe" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    # rank window is partitioned by the frequency column
    assert re.search(r"windowspecdefinition\(f#\d+L, t#\d+", plan), plan
    # the offset table arrives broadcast
    assert "BroadcastHashJoin" in plan, plan
    # the one-corpus-scan claim, machine-checked: AQE off, the two
    # histogram self-join branches are ReusedExchanges of the vocab
    # shuffle — exactly one parquet scan end to end
    static = plan_of_no_aqe(spark, "zipf_alpha_fit")
    assert static.count("FileScan parquet") == 1, static
    assert static.count("ReusedExchange") == 2, static


def test_similarity_topk_is_broadcast_scan_takeordered(spark):
    """similarity_topk: the brute-force ANN baseline must stay a
    single corpus-parallel scan — the 1-row query vector broadcast
    into a nested-loop cross (the only join), cosine in JVM
    expressions, top-10 via TakeOrdered per-partition heaps — with NO
    shuffle of the corpus and no Python. O(n·d) by construction; the
    r5 bench recorded a 12.1x sf1 ratio for this query purely from a
    single cold sample (the plan cannot be super-linear), so the
    shape is pinned here and the bench gives sub-second queries a
    second rep."""
    plan = plan_of(spark, "similarity_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # two scans total: the vec_id=0 probe row and the corpus pass
    assert plan.count("FileScan parquet") == 2, plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """DEPLOY.md claims AQE skew-join splitting is the engine's
    first-line answer to hot join keys; prove it engages. A synthetic
    join where one key holds ~80% of the fact side must show
    `skew=true` AQEShuffleReads in the FINAL adaptive plan (thresholds
    lowered so local fixture sizes qualify — on a cluster the 256MB
    defaults fire on exactly this pattern; broadcast disabled so the
    join actually shuffles)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(400_000).select(
            F.when(F.col("id") % 5 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.rand(7).alias("v"),
        )
        dim = spark.range(0, 400_000, 5).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        agg = fact.join(dim, "k").agg(F.sum("v"))
        agg.collect()  # AQE finalizes only on the DF's own execution
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_textrank_scans_corpus_once_via_checkpoint(spark):
    # The unrolled 3-iteration PageRank references the edge relation
    # ~10 times; without the eager localCheckpoint the plan re-expands
    # the corpus explode per reference (measured 20 document scans).
    plan = plan_of(spark, "textrank_keywords")
    assert "documents.parquet" not in plan  # iterations read the RDD
    assert "Scan ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan  # top-15, no global sort


def test_regression_aggregates_are_one_scan_one_shuffle(spark):
    plan = plan_of(spark, "price_trend_regression")
    (scan,) = scan_lines(plan, "orders")
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    # Pruned to the three needed columns.
    assert len(cols.split(",")) == 3, cols
    # Partial co-moment aggregation before the single exchange.
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


def test_latest_event_argmax_is_single_aggregate_no_window(spark):
    # MAX_BY compiles to one partial+final aggregate pair — no Window
    # operator, no rank-then-filter double pass.
    plan = plan_of(spark, "latest_event_per_user")
    assert "Window" not in plan
    assert "max_by" in plan.lower()


def test_range_frame_single_window_pass_no_self_join(spark):
    # The trailing-1h rolling aggregate must be ONE value-based window
    # frame (two-pointer per-partition pass), never the range-join
    # spelling that materializes every event pair within the hour.
    plan = plan_of(spark, "rolling_1h_range_frame")
    assert plan.count("Window") >= 1
    assert "Join" not in plan
    (scan,) = scan_lines(plan, "events")
    assert "user_id" in scan.split("DataFilters:")[1][:200]  # pushed filter


def test_locf_single_window_pass_no_self_join(spark):
    plan = plan_of(spark, "locf_forward_fill")
    assert plan.count("Window") >= 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_broadcast_cut_binning_has_no_global_sort(spark):
    # The scale-path decile binning must NOT contain the NTILE global
    # sort: cut points are driver metadata, assignment is a projection,
    # and the only exchange is the final 10-group rollup.
    plan = plan_of(spark, "decile_binning_broadcast_cuts")
    assert "Window" not in plan
    # The only range exchange permitted is the presentation orderBy on
    # the 10-row aggregate (keyed on bin); the fact column must never
    # be range-partitioned.
    for ln in plan.lower().splitlines():
        if "rangepartitioning" in ln:
            assert "bin" in ln and "o_totalprice" not in ln, ln
    assert plan.count("Exchange hashpartitioning") == 1


def test_shipping_priority_pushdown_and_takeordered(spark):
    plan = plan_of(spark, "shipping_priority_topk")
    # Top-10 must be a per-partition heap, not a global sort.
    assert "TakeOrderedAndProject" in plan
    # Both date predicates reach their scans.
    (oscan,) = scan_lines(plan, "orders")
    assert "o_orderdate" in oscan.split("DataFilters:")[1][:400]
    (lscan,) = scan_lines(plan, "lineitem")
    assert "l_shipdate" in lscan.split("DataFilters:")[1][:400]
    # The segment-filtered customer side broadcasts.
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_returned_item_minimal_group_keys(spark):
    plan = plan_of(spark, "returned_item_revenue")
    assert "TakeOrderedAndProject" in plan
    # returnflag filter is pushed down to the lineitem scan.
    (lscan,) = scan_lines(plan, "lineitem")
    assert "l_returnflag" in lscan.split("DataFilters:")[1][:400]
    # nation is broadcast, never shuffled.
    assert "BroadcastHashJoin" in plan


def test_dormant_customers_anti_join_shape(spark):
    plan = plan_of(spark, "dormant_rich_customers")
    # The NOT EXISTS is a hash anti join, not a subquery re-execution.
    assert "LeftAnti" in plan
    # The scalar threshold enters as a broadcast nested loop over ONE
    # row, never a shuffle.
    assert "BroadcastNestedLoopJoin" in plan
    # The orders scan is pruned to the join key + pushed date filter.
    (oscan,) = scan_lines(plan, "orders")
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", oscan).group(1)
    assert len(cols.split(",")) <= 2, cols
    assert "BatchEvalPython" not in plan


def test_scd2_merge_single_join_then_fanout(spark):
    plan = plan_of(spark, "scd2_merge_batch")
    # Exactly one join classifies each key; the close+reopen row
    # fan-out is a Generate AFTER the join, so no key is joined twice.
    assert plan.count("Join") - plan.count("ReusedExchange") <= 2
    assert "Generate explode" in plan
    assert "BatchEvalPython" not in plan


def test_constraint_audit_shapes(spark):
    plan = plan_of(spark, "constraint_audit")
    # FK checks run as anti joins (hash-set probe), never as
    # violation-row materialization.
    assert plan.count("LeftAnti") == 2
    # Value rules ride conditional aggregates; no per-rule rescan of
    # lineitem beyond its value-agg scan + the two join branches.
    assert len(scan_lines(plan, "lineitem")) <= 3
    assert "BatchEvalPython" not in plan


def test_triangle_count_oriented_join_shape(spark):
    plan = plan_of(spark, "copurchase_triangle_count")
    # The oriented edge list is checkpointed: the triangle legs scan
    # the checkpoint RDD, not three re-executions of the pairs
    # pipeline (no lineitem scan may survive into the final plan).
    assert len(scan_lines(plan, "lineitem")) == 0
    # The only nested-loop joins are the two 1-row scalar broadcasts.
    assert plan.count("BroadcastNestedLoopJoin") == 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_concurrency_sweep_partitions_by_day(spark):
    plan = plan_of(spark, "concurrent_sessions_peak")
    # The running sum must be partitioned (per-day shards), never the
    # single-partition global Window.
    win_lines = [ln for ln in plan.splitlines() if ln.lstrip().startswith(("Window", "+- Window", ": +- Window")) or "Window [" in ln]
    assert win_lines, plan
    assert any("[day#" in ln for ln in win_lines), win_lines
    assert "BatchEvalPython" not in plan


def test_bm25_broadcasts_and_takeordered(spark):
    plan = plan_of(spark, "bm25_keyword_search")
    assert "TakeOrderedAndProject" in plan
    # df table and corpus stats are broadcast; doc-length join may
    # shuffle, but no more than two hash exchanges total feed it
    # (tf groupBy + dl join).
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats
    assert "BatchEvalPython" not in plan


def test_relational_division_single_fact_shuffle(spark):
    plan = plan_of(spark, "relational_division")
    # The divisor cardinality enters as a 1-row broadcast (Catalyst
    # even turns the filtered crossJoin into a BroadcastHashJoin keyed
    # on the count identity), never a join on the divisor set.
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BroadcastExchange" in plan
    # Single-distinct aggregate plans as two-level HashAggregate, not
    # the multi-distinct Expand.
    assert "Expand" not in plan
    assert "BatchEvalPython" not in plan


def test_mom_window_runs_on_aggregate_only(spark):
    plan = plan_of(spark, "revenue_mom_change")
    # The lag's global sort happens AFTER the month aggregation: only
    # one hash exchange (the month groupBy) exists in the plan.
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan
    assert "BatchEvalPython" not in plan


def test_covariance_block_single_scan_no_explode(spark):
    plan = plan_of(spark, "embedding_covariance_block")
    # The d*d fan-out lives in aggregate state, never as exploded rows.
    assert "Generate explode" not in plan
    assert len(scan_lines(plan, "embeddings")) == 1
    assert "BatchEvalPython" not in plan


def test_weighted_sample_single_scan_takeordered(spark):
    plan = plan_of(spark, "weighted_sample_aes")
    assert "TakeOrderedAndProject" in plan
    # One scan, no shuffle of the corpus (TakeOrdered merges k rows
    # on the driver; no Exchange hashpartitioning at all).
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_pareto_frontier_pruned_sweep_shape(spark):
    plan = plan_of(spark, "pareto_frontier_per_group")
    # The dominance test is never a point-vs-point self-join: the only
    # joins are broadcast bucket-metadata joins (range + bucket-max),
    # and every window is partitioned by the group key.
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "Join" in ln and "Broadcast" not in ln and "join" not in ln:
            raise AssertionError(f"non-broadcast join in skyline plan: {ln}")
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines and all(
        "o_orderpriority#" in ln.split("], [", 1)[-1] for ln in win_lines
    ), win_lines
    assert "BatchEvalPython" not in plan


def test_quantile_normalize_no_window_grids_broadcast(spark):
    plan = plan_of(spark, "quantile_normalize_by_source")
    # The scale property: NO percent_rank window over the corpus —
    # quantiles come from k-bounded grids joined by broadcast.
    assert "Window" not in plan
    assert plan.count("BroadcastExchange") >= 1
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize(
    "name", ["psi_drift_by_decile", "ks_test_two_sample", "raking_ipf_mix_weights"]
)
def test_statistical_ops_stay_jvm_side(spark, name):
    """The drift/raking family must stay whole-stage JVM (no Python in
    the hot path) and keep its windows off the raw corpus: every
    Window operates on an aggregate bounded by bins/cells."""
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan
    # windows (if any) must consume an aggregated input, which in
    # these plans always follows a HashAggregate — cheap proxy: the
    # plan never range-partitions a raw `value`/`n_chars` column.
    for ln in plan.lower().splitlines():
        if "rangepartitioning" in ln:
            assert "value#" not in ln, ln


def test_blame_query_semi_anti_on_reduced_relation(spark):
    plan = plan_of(spark, "late_supplier_blame")
    # Both correlated subqueries must run against the checkpointed
    # reduction: the lineitem parquet is scanned at most once in the
    # final plan (the reduction itself), never per subquery.
    assert len(scan_lines(plan, "lineitem")) <= 1
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BatchEvalPython" not in plan


def test_large_volume_join_back_shape(spark):
    plan = plan_of(spark, "large_volume_orders")
    assert "TakeOrderedAndProject" in plan
    # The rollup survivors drive the join; quantity filter applies at
    # the aggregate (HAVING), not as a scan filter on orders.
    assert "BatchEvalPython" not in plan


def test_ann_recall_broadcasts_queries_no_corpus_selfjoin(spark):
    """ann_recall_at_k: the 10-row query set must broadcast into both
    branches (nested-loop cross with a broadcast build side), never a
    corpus-x-corpus join; ranking is window-partitioned per query (no
    empty-partition window, no global sort of the scored relation)."""
    plan = plan_of(spark, "ann_recall_at_k")
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition(specifiedwindowframe" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_boilerplate_filter_two_hash_shuffles_broadcast_counts(spark):
    """boilerplate_passage_filter: document-frequency aggregate and
    per-source rollup are the only data-sized shuffles, the source
    doc-count relation arrives broadcast, and the second corpus scan
    is the cheap pre-explode branch (exactly one Generate explode in
    the whole plan — the doc-count side must NOT re-explode)."""
    plan = plan_of(spark, "boilerplate_passage_filter")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Generate explode") == 1, plan


def test_label_balance_rank_window_partitioned_by_label(spark):
    """label_balance_resample: the hash-rank row_number window must be
    PARTITIONED by label (never an empty-partition global window), the
    quota arrives as a 1-row broadcast, and the only SinglePartition
    exchange is the quota's final 1-row min."""
    plan = plan_of(spark, "label_balance_resample")
    assert "windowspecdefinition(label" in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan, plan


def test_winsorized_stats_broadcast_cuts_no_global_window(spark):
    """winsorized_robust_stats: per-group percentile cuts join back as
    a broadcast (group-cardinality table), no single-partition window
    or cartesian anywhere, and the events scan reads only the three
    touched columns."""
    plan = plan_of(spark, "winsorized_robust_stats")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    for ln in plan.splitlines():
        if "Scan parquet" in ln and "events" in ln:
            import re

            m = re.search(r"Scan parquet \[([^\]]*)\]", ln)
            if m:
                assert len(m.group(1).split(",")) <= 3, ln


def test_prefilter_semi_join_prunes_before_join(spark):
    """prefilter_pruned_semi_join: the membership-set probe must run
    in the fact SCAN stage, below the verify semi join — the bucket
    set is a driver-collected literal, so it appears as an INSET
    filter on the fact branch (plan prints top-down: INSET after the
    LeftSemi marker), and nothing shuffles the fact side on a join
    key. An expression-level two-phase formulation was measured to
    let Catalyst hoist the probe above the verify join; this test
    pins the probe-first shape."""
    plan = plan_of(spark, "prefilter_pruned_semi_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    semi = plan.index("LeftSemi")
    assert "INSET" in plan[semi:], plan
    assert "Exchange hashpartitioning(o_custkey" not in plan, plan


def test_mad_anomaly_broadcast_cut_tables(spark):
    """anomaly_mad_robust: both percentile passes reduce to
    group-cardinality tables that join back broadcast; no
    single-partition exchange, no cartesian."""
    plan = plan_of(spark, "anomaly_mad_robust")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_pareto_windows_run_over_reduced_pairs(spark):
    """pareto_frontier_docs: the dominance windows must consume the
    DISTINCT objective-pair relation, never the corpus. Since the r13
    one-scan rewrite the cell relation is localCheckpointed, so the
    final plan reads the checkpointed cells (Scan ExistingRDD) — the
    corpus tokenize pass happened exactly once, at materialization —
    and the global-order window sees only the skinny (n_types,
    n_chars) projection, never the doc lists."""
    plan = plan_of(spark, "pareto_frontier_docs")
    assert "Window" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan
    # no Window operator's input carries the doc_ids payload
    block = None
    for line in plan.splitlines():
        if ") Window" in line:
            block = []
        elif block is not None:
            if not line.strip():
                block = None
            else:
                assert "doc_ids" not in line, line


def test_geo_grid_join_is_equi_never_cartesian(spark):
    """geo_grid_neighbor_pairs: the candidate join must be an
    EQUI-join on the cell key (the id inequality is a residual
    condition), never a nested-loop over all point pairs, and the
    replica fan-out is generator explodes, not a join."""
    plan = plan_of(spark, "geo_grid_neighbor_pairs")
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan
    assert plan.count("Generate explode") >= 2, plan


# ---- r8 operators -------------------------------------------------


def test_mann_whitney_rank_window_over_value_aggregate(spark):
    """mann_whitney_u_test: the rank window must consume the per-VALUE
    aggregated relation (HashAggregate below the Window in the
    top-down plan text), never the raw events — and stay JVM-side."""
    plan = plan_of(spark, "mann_whitney_u_test")
    first_window = plan.index("Window")
    assert "HashAggregate" in plan[first_window:], plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chi_square_cell_table_broadcast_margins(spark):
    """chi_square_independence: row/column margin tables join back
    onto the cell table as broadcasts; the grand-total arrives as a
    1-row broadcast nested loop — no cartesian, no Python."""
    plan = plan_of(spark, "chi_square_independence")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_theil_sen_pairs_broadcast_bounded(spark):
    """theil_sen_trend: the pairwise-slope join runs over the weekly
    aggregate with a BROADCAST build side (the weekly relation is
    window-bounded, not data-bounded) — never a CartesianProduct —
    and the median comes from a rank filter, not percentile interp."""
    plan = plan_of(spark, "theil_sen_trend")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_topic_balance_entropy_cell_table_shape(spark):
    """topic_balance_entropy: per-source totals broadcast back onto
    the source x lang cell table; all float work happens above the
    cell aggregate."""
    plan = plan_of(spark, "topic_balance_entropy")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_novelty_linear_no_pairwise(spark):
    """ngram_novelty_score: strictly linear plan — gram-keyed
    aggregate + join back, no pairwise join of any kind, at most the
    two explode branches (gram relation feeds owner and the join)."""
    plan = plan_of(spark, "ngram_novelty_score")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Generate explode") <= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_canonicalize_single_scan_jvm_only(spark):
    """url_canonicalize_dedup: one scan of documents, regex chain
    entirely JVM-side (no Python eval node anywhere), one hash
    aggregate pair for the distinct-count."""
    plan = plan_of(spark, "url_canonicalize_dedup")
    assert len(scan_lines(plan, "documents")) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_prefilter_equi_joins_only(spark):
    """minhash_prefilter_jaccard: every join is equi-keyed (band
    buckets, then doc/shingle) — the whole point of the LSH prefilter
    is that nothing pairwise-scans the corpus."""
    plan = plan_of(spark, "minhash_prefilter_jaccard")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mjpeg_split_decode_single_python_stage(spark):
    """multimodal_mjpeg_frame_decode: the container split and the
    per-frame decode share ONE MapInPandas stage (payload read once);
    the only other Python is the fixed-width channel-sum pandas_udf."""
    plan = plan_of(spark, "multimodal_mjpeg_frame_decode")
    assert plan.count("MapInPandas") == 1, plan
    assert "CartesianProduct" not in plan


def test_nelson_aalen_bounded_window(spark):
    """survival_nelson_aalen: like the KM family, the only
    unpartitioned window runs over the day-indexed risk table (bounded
    by the observation window), never the events corpus — the corpus
    collapses through user-keyed aggregates first. No Python eval."""
    plan = plan_of(spark, "survival_nelson_aalen")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_logrank_grid_joins_bounded(spark):
    """survival_logrank_test: the only non-equi joins are (a) the
    purchase-window join (user-keyed equi conjunct carries the
    shuffle) and (b) the broadcast day×cohort grid expansion (2-row
    build side); the per-cohort risk window is partitioned. No
    CartesianProduct, no Python eval."""
    plan = plan_of(spark, "survival_logrank_test")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_anova_single_scan_broadcast_grand(spark):
    """anova_oneway_f: one scan of orders collapses to k=5 sufficient
    statistics; the grand-mean join is broadcast. No Python eval."""
    plan = plan_of(spark, "anova_oneway_f")
    assert len(scan_lines(plan, "orders")) == 1, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kendall_pairs_on_bounded_daily(spark):
    """kendall_tau_daily: the O(days²) pair join runs over the
    calendar-bounded daily aggregate (intentional BNLJ over a bounded
    relation), NEVER the orders corpus — the daily rollup is
    localCheckpoint-ed, so the final plan contains ZERO orders scans
    (the single scan ran once at checkpoint time; a plan that still
    scans orders would mean the self-join re-derives the corpus)."""
    plan = plan_of(spark, "kendall_tau_daily")
    assert len(scan_lines(plan, "orders")) == 0, plan
    assert "CartesianProduct" not in plan


def test_item_cofilter_equi_joins_only(spark):
    """item_item_cofilter_topk: the pair generation is an order-keyed
    equi-join (basket-bounded fan-out) and the support lookups are
    equi-joins — nothing pairwise-scans the catalog; top-k window is
    item-partitioned. No Python eval."""
    plan = plan_of(spark, "item_item_cofilter_topk")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dp_noisy_counts_single_aggregate(spark):
    """dp_noisy_counts: one scan, one grouped aggregate, the noise
    CASE chain entirely JVM-side — no Python eval, no joins."""
    plan = plan_of(spark, "dp_noisy_counts")
    assert len(scan_lines(plan, "orders")) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan, plan


def test_holt_fold_on_bounded_series(spark):
    """holt_linear_forecast: the fold runs over the calendar-bounded
    daily series collected into ONE array (same discipline as the KM
    family) — one orders scan, no Python eval."""
    plan = plan_of(spark, "holt_linear_forecast")
    assert len(scan_lines(plan, "orders")) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kcore_no_cartesian(spark):
    """kcore_decomposition: every peel round is an alive-filtered
    equi-join degree aggregate; no cartesian anywhere in the 6-round
    union."""
    plan = plan_of(spark, "kcore_decomposition")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_wav_decode_single_python_chain(spark):
    """multimodal_wav_audio_decode: decode is ONE MapInPandas stage
    and feature extraction ONE ArrowEvalPython stage — payloads never
    shuffle and never cross Python twice."""
    plan = plan_of(spark, "multimodal_wav_audio_decode")
    assert plan.count("MapInPandas") == 1, plan
    assert "CartesianProduct" not in plan


def test_tukey_pairs_on_materialized_stats(spark):
    """tukey_hsd_pairwise: the k² pair join runs on the checkpointed
    5-row sufficient-statistic relation — zero orders scans survive
    into the final plan (one scan ran at checkpoint time)."""
    plan = plan_of(spark, "tukey_hsd_pairwise")
    assert len(scan_lines(plan, "orders")) == 0, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fano_single_scan(spark):
    """fano_burstiness: one events scan, two aggregate levels, no
    joins, no Python."""
    plan = plan_of(spark, "fano_burstiness")
    assert len(scan_lines(plan, "events")) == 1, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_binseg_single_scan_windowed(spark):
    """binseg_changepoint: one orders scan collapses to the daily
    series; the candidate sweep is windowed prefix sums (totals via a
    partitionless window over the same bounded series, no join at
    all) + TakeOrdered — no pairwise join of candidates."""
    plan = plan_of(spark, "binseg_changepoint")
    assert len(scan_lines(plan, "orders")) == 1, plan
    assert "Join" not in plan, plan
    assert "TakeOrdered" in plan, plan


def test_neyman_single_scan(spark):
    """neyman_allocation_sample: one documents scan; grand weight via
    partitionless window over k strata rows, no second aggregate of
    the lineage."""
    plan = plan_of(spark, "neyman_allocation_sample")
    assert len(scan_lines(plan, "documents")) == 1, plan
    assert "Join" not in plan, plan


def test_ht_single_scan_no_python(spark):
    """horvitz_thompson_total: one scan, one aggregate; the md5
    threshold CASE chain is entirely JVM-side."""
    plan = plan_of(spark, "horvitz_thompson_total")
    assert len(scan_lines(plan, "documents")) == 1, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lpa_no_windows_no_cartesian(spark):
    """label_propagation_communities: per-round argmax is a grouped
    max-struct aggregate, NOT a corpus window; all joins equi-keyed;
    lineage flattened by checkpoints so the final plan is the
    community rollup over materialized labels."""
    plan = plan_of(spark, "label_propagation_communities")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_mi_margins_are_windows_over_cells(spark):
    """mutual_information_categorical: one orders scan to the cell
    table; marginals are partitioned windows over it — no join, no
    second scan, no Python."""
    plan = plan_of(spark, "mutual_information_categorical")
    assert len(scan_lines(plan, "orders")) == 1, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_audio_frames_one_python_chain_topk_jvm(spark):
    """multimodal_audio_frame_energy: one MapInPandas decode + one
    Arrow frame-table udf; the explode, top-3 window, and ordering
    are JVM-side over fixed-width BIGINTs."""
    plan = plan_of(spark, "multimodal_audio_frame_energy")
    assert plan.count("MapInPandas") == 1, plan
    assert "Generate explode" in plan, plan
    assert "CartesianProduct" not in plan


def test_madow_distributed_prefix_sum(spark):
    """madow_systematic_pps: the global prefix sum is two-level — the
    only unpartitioned window runs over the BUCKET relation (bounded
    by id-range / 256), the per-row window partitions by bucket, and
    bucket offsets come back via broadcast. No unpartitioned window
    over documents rows."""
    plan = plan_of_no_aqe(spark, "madow_systematic_pps")
    # exactly one unpartitioned Window (the bucket cumsum); the row
    # window must carry a partition spec
    import re

    windows = re.findall(r"Window \[[^\]]*\](?:, \[[^\]]*\])*", plan)
    unpartitioned = [w for w in windows if "windowspecdefinition(bkt" not in w]
    partitioned = [w for w in windows if "windowspecdefinition(bkt" in w]
    assert partitioned, plan
    assert len(unpartitioned) <= 1, plan  # only the bucket-level cumsum
    assert "CartesianProduct" not in plan


def test_wilcoxon_value_bounded_rank_window(spark):
    """wilcoxon_signed_rank: one events scan; the rank window runs
    over per-|diff|-VALUE counts (the `mann_whitney_u_test`
    discipline), never the corpus."""
    plan = plan_of(spark, "wilcoxon_signed_rank")
    assert len(scan_lines(plan, "events")) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_jsd_one_explode_bounded_grid(spark):
    """jsd_source_drift: ONE token explode feeds the checkpointed
    (source, token) table; vocab and totals come back as broadcasts
    over the bounded grid — no second explode, no cartesian over
    anything corpus-sized."""
    plan = plan_of(spark, "jsd_source_drift")
    assert plan.count("Generate explode") == 0, plan  # tf is checkpointed
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_spearman_rank_windows_over_customer_aggregate(spark):
    """spearman_rank_correlation: rank windows consume the
    customer-bounded aggregate (HashAggregate below the first Window
    top-down), never raw orders; everything JVM-side."""
    plan = plan_of(spark, "spearman_rank_correlation")
    first_window = plan.index("Window")
    assert "HashAggregate" in plan[first_window:], plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pagerank_rounds_are_checkpointed_equi_joins(spark):
    """pagerank_copurchase_topk: per-round lineage is truncated (the
    final plan scans checkpointed RDDs, not the 6-round join tree),
    joins are equi-keyed, and the result is a TakeOrdered top-10 —
    no cartesian, no Python, no global sort."""
    plan = plan_of(spark, "pagerank_copurchase_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Scan ExistingRDD" in plan, plan


def test_bloom_prefilter_broadcasts_filter_words(spark):
    """bloom_filter_prefilter: the 69-word filter joins the probe
    side as a BROADCAST (that's the entire point — KB state instead
    of shipping the corpus index); membership truth is a semi join;
    all integer arithmetic stays JVM-side."""
    plan = plan_of(spark, "bloom_filter_prefilter")
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_prefilter_no_false_negatives(spark):
    """The Bloom guarantee: every true member passes the filter —
    n_false_neg must be structurally zero at any scale."""
    import heapdumpstardiver_spark as hds

    row = hds.QUERIES["bloom_filter_prefilter"](
        spark, "/root/testdata/sf0.01"
    ).collect()[0]
    assert row["n_false_neg"] == 0
    assert row["n_bloom_pass"] >= row["n_members"]


def test_stats_test_family_jvm_only(spark):
    """kruskal_wallis_h / mcnemar_paired_test / brown_forsythe_levene:
    JVM-only scalar frames — no Python eval, no cartesian; the rank
    and median windows run over bounded value tables (distinct counts
    / per-group distinct cents), never an unpartitioned corpus
    window over raw events."""
    for name in (
        "kruskal_wallis_h",
        "mcnemar_paired_test",
        "brown_forsythe_levene",
    ):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_media_near_dup_payloads_never_shuffle(spark):
    """The three r11 media near-dup operators: payload bytes decode +
    fingerprint inside ONE Arrow-batched stage; every exchange below
    the verify joins carries only hash/code columns, never payload or
    decoded bytes; no row-at-a-time Python anywhere. r14: the image
    twin checkpoints its hash relation so its FOUR consumers (two band
    sides + two verify sides) share ONE decode pass — its returned
    plan must read the checkpointed rows and re-run no Arrow stage."""
    for name in (
        "image_phash_near_dup",
        "video_phash_near_dup",
        "audio_fingerprint_near_dup",
    ):
        df = hds.QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if name == "image_phash_near_dup":
            assert "Scan ExistingRDD" in plan, name
            assert "MapInPandas" not in plan, name
            assert "ArrowEvalPython" not in plan, name
        else:
            assert "ArrowEvalPython" in plan or "MapInPandas" in plan, name
        assert "BatchEvalPython" not in plan, name
        for ln in plan.splitlines():
            if "Exchange" in ln:
                assert "payload" not in ln and "decoded" not in ln, (
                    name,
                    ln.strip(),
                )


def test_filtered_ann_prefilter_pushes_label_predicate(spark):
    """The pre-filter strategy's whole point: the label predicate must
    reach the parquet scan as a data filter (at 100 TB that is the
    partition/row-group prune), and no Python evaluates anywhere."""
    plan = plan_of(spark, "filtered_ann_pre_vs_post")
    scans = scan_lines(plan, "embeddings")
    assert any(
        "DataFilters: [" in s and "label" in s.split("DataFilters:")[1][:300]
        for s in scans
    ), "label predicate not pushed to any embeddings scan"
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_rrf_legs_are_take_ordered_before_fusion(spark):
    """Both retrieval legs must end in TakeOrderedAndProject (the
    depth bound) so the fusion join and the rank windows only ever see
    depth-bounded relations; the fused join must be a broadcast-size
    join, not a shuffle of corpus-sized inputs."""
    plan = plan_of(spark, "hybrid_search_rrf")
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_zorder_audit_scans_lineitem_once_per_branch(spark):
    """The layout audit must not duplicate the corpus subtree: with
    the 2-element explode spelling there is exactly ONE lineitem scan
    feeding the stacked aggregate (plus one for the domain aggregate),
    not one per layout branch."""
    plan = plan_of_no_aqe(spark, "zorder_clustering_audit")
    scans = scan_lines(plan, "lineitem")
    assert len(scans) - plan.count("ReusedExchange") <= 2, (
        f"{len(scans)} lineitem scans"
    )


def test_mutual_knn_joins_on_bucket_never_all_pairs(spark):
    """The kNN join condition must include the bucket equality (the
    sub-quadratic guarantee): no cartesian product, no corpus-wide
    unpartitioned window (the rank window partitions by src)."""
    plan = plan_of(spark, "mutual_knn_near_dup")
    assert "CartesianProduct" not in plan
    assert re.search(
        r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \[bucket", plan
    ), "expected the pair join keyed on the LSH bucket"


def test_semantic_decontaminate_panel_broadcast_argmax_partial(spark):
    """The eval panel must broadcast (never shuffle the corpus to the
    panel) and the per-vector argmax must be a hash aggregate with a
    map-side partial (partial_min of the struct) — no window over the
    N x panel relation, no corpus self-join."""
    plan = plan_of(spark, "semantic_decontaminate_embed")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_min" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    # Top-50 cut merges per-partition heaps, no global sort.
    assert "TakeOrderedAndProject" in plan


def test_weighted_reservoir_is_takeordered_projection(spark):
    """A-Res must execute as projection + TakeOrderedAndProject:
    no shuffle other than the k-heap merge, no Python, no join."""
    plan = plan_of(spark, "weighted_reservoir_sample")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_minhash_estimate_error_joins_candidates_only(spark):
    """The estimator audit must score LSH candidate pairs only: the
    candidate-bounded per-doc shingle/estimator arrays are derived in
    ONE corpus pass (broadcast semi-join on the candidate ids) and
    localCheckpointed, so the returned plan joins flat checkpointed
    rows — no cartesian product, no second corpus scan, no Python."""
    plan = plan_of(spark, "minhash_estimate_error")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # The pair sides read the checkpointed candidate-bounded relation,
    # not a re-derived corpus pipeline.
    assert "Scan ExistingRDD" in plan
    # The corpus tokenize/shingle pass ran at construction: the
    # returned plan must not scan parquet at all.
    assert "Scan parquet" not in plan


def test_bm25_single_corpus_scan_via_checkpointed_proxy(spark):
    """r14: the per-doc tf/dlen proxy is materialized once, so the
    returned plan reads checkpointed rows for BOTH the stats aggregate
    and the scoring projection — zero parquet scans re-run per rep."""
    plan = plan_of(spark, "bm25_keyword_search")
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "TakeOrderedAndProject" in plan


def test_similarity_topk_query_norm_on_broadcast_side(spark):
    """r14: the query vector's self-norm (qn) must be computed once on
    the 1-row broadcast side; the corpus scan projection must not
    re-evaluate the query self-fold per row."""
    plan = plan_of(spark, "similarity_topk")
    assert " AS qn#" in plan, plan
    # the query self-fold zip_with(qv, qv, ...) appears exactly once —
    # in the broadcast side's projection, not the per-row scorer
    assert plan.count("zip_with(qv") == 1, plan.count("zip_with(qv")


def test_cdc_codepoints_evaluated_once_under_downstream_operators(spark):
    """The CDC chain cps -> bpos -> bs references each codepoint array
    once per window weight and each boundary array several times. If
    the optimizer inlined those projections into each other, the
    per-character transform would run once per reference (the shape
    that once hung the chunk-reconstruction test). With filters and a
    limit stacked on the operator, the optimized plan must still hold
    the codepoint transform exactly once."""
    from pyspark.sql import functions as F

    df = (
        hds.QUERIES["cdc_chunk_dedup"](spark, SF_DIR)
        .filter(F.col("n_occ") > 1)
        .filter(F.col("chunk_len") >= 8)
        .limit(5)
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"transform\(sequence\(1, length\(text", plan)) == 1, plan
