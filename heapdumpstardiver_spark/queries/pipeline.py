"""Training-data curation operators: the pipeline stages that sit
between a raw crawl and a training set — duplicate clustering,
benchmark decontamination, mixture sampling, leakage-safe splits,
quality filtering, stratified sampling, and passage-level duplication
coverage.

Extends the LLM-pipeline family in :mod:`.llm` (which provides the
candidate-pair generators these build on). Same registry + oracle
conventions; same scale posture: every operator is a shuffle-on-key /
broadcast plan or a bounded driver loop over aggregates — no
collected corpus state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..exprs import (
    nearest_centroid,
    round_col,
    round_sql,
    self_dot,
    shingle_hashes,
    stable_render,
    stable_render_sql,
)
from ..registry import query
from .llm import (
    _BAND_PAIRS_SQL,
    _SHINGLES_SQL,
    _SIG4_BANDS2_SQL,
    _TOKS_SQL,
    _spread,
    minhash_lsh_candidates,
    shingle_set,
)



# Shared hex-threshold constants for deterministic hash sampling: a
# rate r maps to the 8-hex-digit string floor(r * 16^8), and a row is
# kept when the first 8 md5 hex chars compare below it. String
# comparison over lowercase hex is identical in Spark and DuckDB, so
# the "uniform draw" needs no hex→int conversion anywhere.
_HEX_50 = "80000000"
_HEX_20 = "33333333"
_HEX_90 = "e6666666"

# The minhash edge set used for duplicate clustering (see
# dedup_connected_components): the minhash_lsh_candidates oracle's
# CTEs from .llm.
_MINHASH_BANDS_SQL = f"""toks AS ({_TOKS_SQL}),
    sh AS ({_SHINGLES_SQL}),
    {_SIG4_BANDS2_SQL}"""
_MINHASH_EDGES_SQL = f"""
    {_MINHASH_BANDS_SQL},
    pairs AS ({_BAND_PAIRS_SQL}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    )
"""


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE
    {_MINHASH_EDGES_SQL},
    reach(node, lab) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT component_id, count(*) AS n_members
    FROM (SELECT node, min(lab) AS component_id FROM reach GROUP BY node)
    GROUP BY component_id
    ORDER BY n_members DESC, component_id
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster identification: connected components over the
    MinHash-LSH candidate graph (:func:`.llm.minhash_lsh_candidates`),
    so each group of mutual near-duplicates gets one stable id (its
    minimum doc_id) — the step that turns pairwise candidates into
    keep-one-per-cluster decisions.

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' (one join + one groupBy per
    round), `localCheckpoint` truncating the lineage, until a round
    changes nothing. Rounds are bounded by component diameter, which
    for duplicate clusters is 2–3 regardless of corpus size (see
    `_cc_labels` for the measured A/B against large-star/small-star
    that keeps this shape). The driver loop only ever collects a
    scalar convergence signature, never data.
    """
    labels = _cc_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("comp").alias("component_id"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.desc("n_members"), "component_id")
    )


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, comp) labels for the MinHash candidate graph — the
    iterative min-label propagation behind dedup_connected_components
    and dedup_cluster_representatives.

    Each round every node takes the min of its own label and its
    neighbors' (one join + one groupBy over fixed-width longs),
    `localCheckpoint` truncating the lineage, until the label
    multiset's (count, xor-of-hashes) signature stops changing — a
    single aggregation over the new labels, cheaper than the old⋈new
    count join it replaced. Rounds are bounded by component diameter,
    and MinHash duplicate clusters are near-cliques (diameter 2–3)
    at any corpus size, so the bound is small and scale-free; the
    driver only ever sees a scalar signature per round.

    Measured alternative (r4 A/B at sf0.1, both converging in 3
    rounds): alternating large-star/small-star (Kiveris et al., the
    GraphFrames CC algorithm) ran 2.31 s vs 1.99 s here — its
    O(log diameter) round bound cannot engage on near-clique
    topologies while each star round pays ~3 shuffles against this
    loop's 2, so the naive shape is kept deliberately. On graphs with
    long chains (not this workload) large-star/small-star wins.
    """
    pairs = minhash_lsh_candidates(spark, sf_dir)
    # Materialize the edge list once: every propagation round joins
    # against it, and without this checkpoint each round would re-run
    # the whole MinHash shingle/band pipeline upstream of `pairs`.
    # The keyed repartition before the checkpoint is load-bearing
    # (r13): the union's branch shuffles otherwise checkpoint at
    # their full map-side partition count (64 near-empty partitions
    # at bench scale — measured +0.8 s of empty scheduling across the
    # rounds), while a repartition on the round-join key lets AQE
    # size the materialized edge list by DATA (1 partition locally,
    # size-proportional at warehouse scale).
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .repartition("src")
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct().withColumn("comp", F.col("node"))
    ).localCheckpoint()

    def _sig(df: DataFrame) -> tuple:
        # bit_xor: order-insensitive and overflow-free ((node, comp)
        # rows are unique per node, so xor-cancellation cannot occur).
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(node, comp))").alias("h"),
        ).collect()[0]
        return r["n"], r["h"]

    sig = _sig(labels)
    for _ in range(20):
        msgs = edges.join(labels, edges.src == F.col("node")).select(
            F.col("dst").alias("node"), F.col("comp")
        )
        # lazy checkpoint: the convergence-signature aggregate is the
        # materializing action — one job per round instead of two
        new = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=False)
        )
        new_sig = _sig(new)
        labels = new
        if new_sig == sig:
            break
        sig = new_sig
    return labels


@query(
    "dedup_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE
    {_MINHASH_EDGES_SQL},
    reach(node, lab) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    labels AS (SELECT node, min(lab) AS comp FROM reach GROUP BY node),
    ranked AS (
        SELECT l.comp AS component_id, d.doc_id, d.n_chars,
               count(*) OVER (PARTITION BY l.comp) AS n_members,
               row_number() OVER (
                   PARTITION BY l.comp
                   ORDER BY d.n_chars DESC, d.doc_id) AS rn
        FROM labels l JOIN documents d ON d.doc_id = l.node
    )
    SELECT component_id, doc_id AS rep_doc_id, n_chars AS rep_chars,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    ORDER BY n_members DESC, component_id
    LIMIT 50
    """,
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: for every near-duplicate cluster
    (connected component of the MinHash candidate graph), keep the
    longest member (ties → lowest doc_id) — the keep-one-per-cluster
    decision that actually shrinks a training set, where
    dedup_keep_best only arbitrates exact-hash groups. Labels join the
    documents table once; selection is a single window over the
    (small) labeled subset."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    labels = _cc_labels(spark, sf_dir)
    w = Window.partitionBy("comp").orderBy(F.desc("n_chars"), "doc_id")
    wc = Window.partitionBy("comp")
    return (
        labels.join(d, labels.node == d.doc_id)
        .select(F.col("comp"), "doc_id", "n_chars")
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("comp").alias("component_id"),
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_chars").alias("rep_chars"),
            F.col("n_members").cast("long").alias("n_members"),
        )
        .orderBy(F.desc("n_members"), "component_id")
        .limit(50)
    )


@query(
    "decontaminate_ngram_overlap",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, md5(array_to_string(tokens[i:i+4], ' ')) AS g
        FROM toks, unnest(range(1, len(tokens) - 5 + 2)) AS t(i)
    ),
    bench AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id % 50 = 0),
    corp AS (SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0)
    SELECT c.doc_id, count(DISTINCT b.bench_id) AS n_bench_docs,
           count(DISTINCT c.g) AS n_shared_ngrams
    FROM corp c JOIN bench b ON b.g = c.g
    GROUP BY c.doc_id
    ORDER BY n_shared_ngrams DESC, doc_id
    LIMIT 50
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    5-gram with the held-out benchmark set (here: doc_id % 50 == 0,
    standing in for an eval suite). The join key is the md5 of the
    gram, so the shuffle carries fixed-width hashes; the benchmark
    side is ~2% of documents and is broadcast — at 100 TB the eval
    suite is tiny relative to the corpus, so this stays a map-side
    join over the corpus scan. Production tuning: longer grams (8+)
    and a document-frequency cap on stop phrases.
    """
    d = load_table(spark, sf_dir, "documents")
    n = 5
    toks = d.select("doc_id", F.split("text", " ").alias("tokens"))
    hashes = shingle_hashes("tokens", n)
    grams = (
        toks.filter(F.size("tokens") >= n)
        .select("doc_id", F.explode(hashes).alias("g"))
        .distinct()
    )
    bench = grams.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "g"
    )
    corp = grams.filter(F.col("doc_id") % 50 != 0)
    return (
        corp.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("bench_id").alias("n_bench_docs"),
            F.countDistinct("g").alias("n_shared_ngrams"),
        )
        .orderBy(F.desc("n_shared_ngrams"), "doc_id")
        .limit(50)
    )


@query(
    "data_mix_weighted_sample",
    oracle=f"""
    SELECT tier, count(*) AS n_docs,
           CAST(sum(CASE WHEN u < threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           {round_sql("sum(CASE WHEN u < threshold THEN 1 ELSE 0 END) * 1.0 / count(*)", 4)} AS kept_frac
    FROM (
        SELECT CASE WHEN CAST(substr(source, 4) AS INTEGER) <= 5 THEN 'head'
                    WHEN CAST(substr(source, 4) AS INTEGER) <= 12 THEN 'mid'
                    ELSE 'tail' END AS tier,
               CASE WHEN CAST(substr(source, 4) AS INTEGER) <= 5 THEN 'ffffffff'
                    WHEN CAST(substr(source, 4) AS INTEGER) <= 12 THEN '{_HEX_50}'
                    ELSE '{_HEX_20}' END AS threshold,
               substr(md5('mix:' || doc_id), 1, 8) AS u
        FROM documents
    )
    GROUP BY tier ORDER BY tier
    """,
)
def data_mix_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling: down-sample sources to target
    rates (head sources 100%, mid 50%, tail 20%) by comparing the
    first 8 md5 hex chars of a salted doc key against the rate's hex
    threshold. Reproducible across engines and runs (no RNG state),
    embarrassingly parallel (pure per-row projection, no shuffle
    before the final tiny aggregate) — the standard way to dial a
    data mixture at 100 TB without materializing an intermediate
    sample."""
    d = load_table(spark, sf_dir, "documents")
    src_n = F.substring("source", 4, 8).cast("int")
    tier = (
        F.when(src_n <= 5, "head").when(src_n <= 12, "mid").otherwise("tail")
    )
    threshold = (
        F.when(src_n <= 5, "ffffffff")
        .when(src_n <= 12, _HEX_50)
        .otherwise(_HEX_20)
    )
    u = F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id"))), 1, 8)
    kept = F.when(u < threshold, 1).otherwise(0)
    return (
        d.select(tier.alias("tier"), kept.alias("k"))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("k").cast("long").alias("n_kept"),
            round_col(F.sum("k") * 1.0 / F.count(F.lit(1)), 4).alias("kept_frac"),
        )
        .orderBy("tier")
    )


@query(
    "train_test_split_hash",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, md5(text) AS h,
               CASE WHEN substr(md5(text), 1, 8) < '{_HEX_90}'
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
    )
    SELECT CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS train_docs,
           CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS test_docs,
           {round_sql("sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) * 1.0 / count(*)", 4)} AS train_frac,
           CAST((SELECT count(*) FROM (
               SELECT h FROM assigned GROUP BY h
               HAVING count(DISTINCT split) > 1
           )) AS BIGINT) AS leaked_texts
    FROM assigned
    """,
)
def train_test_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: the split is a hash of the
    CONTENT (not the doc_id), so byte-identical duplicates land in the
    same split by construction — `leaked_texts` (texts seen in both
    splits) is provably 0, and the query audits exactly that. A
    row-id split would leak every duplicated document across the
    boundary. One linear chain, one scan: per-content-hash train/test
    counts, then a single global rollup carrying totals and the
    leakage count in the same aggregate."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5("text")
    split = F.when(F.substring(h, 1, 8) < _HEX_90, "train").otherwise("test")
    per_h = (
        d.select(h.alias("h"), split.alias("split"))
        .groupBy("h")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("n_train"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("n_test"),
        )
    )
    return per_h.agg(
        F.sum("n_train").cast("long").alias("train_docs"),
        F.sum("n_test").cast("long").alias("test_docs"),
        round_col(
            F.sum("n_train") * 1.0 / (F.sum("n_train") + F.sum("n_test")), 4
        ).alias("train_frac"),
        F.sum(F.when((F.col("n_train") > 0) & (F.col("n_test") > 0), 1).otherwise(0))
        .cast("long")
        .alias("leaked_texts"),
    )


@query(
    "temperature_sampling_weights",
    oracle=f"""
    WITH per AS (
        SELECT source,
               CAST(sum(len(list_filter(string_split(text, ' '),
                                        t -> t <> ''))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT sum(n_tokens) AS all_tokens,
               sum(pow(CAST(n_tokens AS DOUBLE), 0.7)) AS z
        FROM per
    )
    SELECT source, n_tokens,
           {round_sql("CAST(n_tokens AS DOUBLE) / all_tokens", 6)}
               AS natural_frac,
           {round_sql("pow(CAST(n_tokens AS DOUBLE), 0.7) / z", 6)}
               AS temp_weight,
           CASE WHEN n_tokens = 0 THEN NULL ELSE {round_sql(
               "(pow(CAST(n_tokens AS DOUBLE), 0.7) / z)"
               " / (CAST(n_tokens AS DOUBLE) / all_tokens)", 4
           )} END AS boost
    FROM per CROSS JOIN tot
    ORDER BY source
    """,
)
def temperature_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source sampling weights w_s ∝ n_s^τ (τ=0.7 —
    the multilingual mixing rule from mBERT/XLM-R, arXiv:1911.02116):
    flattens the natural token distribution so low-resource sources
    are over-sampled without drowning the head. Per source: natural
    token share, temperature weight, and the boost factor (effective
    epochs per corpus epoch — a boost far above ~5 is the overfitting
    alarm for tiny sources). The weights feed
    `data_mix_weighted_sample` as its target distribution.

    Shape: corpus → per-source token totals (one shuffle over ≤
    |sources| groups), then a 1-row total broadcast; pow/ratios at
    6 dp portable rounding (the proven corr/var discipline for
    order-dependent float sums)."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(F.size(F.filter(F.split("text", " "), lambda t: t != "")))
        .cast("long")
        .alias("n_tokens")
    )
    tot = per.agg(
        F.sum("n_tokens").alias("all_tokens"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), 0.7)).alias("z"),
    )
    w = F.pow(F.col("n_tokens").cast("double"), 0.7) / F.col("z")
    nat = F.col("n_tokens").cast("double") / F.col("all_tokens")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            round_col(nat, 6).alias("natural_frac"),
            round_col(w, 6).alias("temp_weight"),
            # 0-token source → 0/0: NULL in both engines (r10 ADVICE;
            # DuckDB would otherwise render NaN, Spark NULL).
            F.when(F.col("n_tokens") > 0, round_col(w / nat, 4)).alias(
                "boost"
            ),
        )
        .orderBy("source")
    )


@query(
    "stratified_kfold_assignment",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, source,
               CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 5 AS fold
        FROM documents
    ),
    per AS (
        SELECT source, CAST(fold AS INT) AS fold, count(*) AS n_docs
        FROM assigned GROUP BY source, fold
    ),
    tot AS (SELECT source, sum(n_docs) AS n_src FROM per GROUP BY source)
    SELECT p.source, p.fold, CAST(p.n_docs AS BIGINT) AS n_docs,
           {round_sql("CAST(t.n_src AS DOUBLE) / 5", 4)} AS exp_docs,
           {round_sql("p.n_docs * 5.0 / t.n_src - 1.0", 4)} AS rel_dev
    FROM per p JOIN tot t USING (source)
    ORDER BY source, fold
    """,
)
def stratified_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 5-fold CV assignment with a balance audit — the
    protocol step between curation and training eval: folds are a
    CONTENT-hash mod 5 (the `train_test_split_hash` discipline, so
    byte-identical duplicates land in the same fold by construction —
    no cross-fold leakage), stratified reporting per source with each
    fold's relative deviation from the n/5 expectation (a |rel_dev|
    far above ~(5/n_src)^0.5 flags a stratum too small to stratify).

    One scan, one (source, fold) aggregation, one tiny per-source
    rollup joined back — all shuffle keys low-cardinality; the fold
    hash is the first 8 md5 hex chars parsed as an integer (fits
    2^32, exact in both engines)."""
    d = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 5
    ).cast("int")
    per = (
        d.select("source", fold.alias("fold"))
        .groupBy("source", "fold")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = per.groupBy("source").agg(F.sum("n_docs").alias("n_src"))
    return (
        per.join(F.broadcast(tot), "source")
        .select(
            "source",
            "fold",
            F.col("n_docs").cast("long").alias("n_docs"),
            round_col(F.col("n_src").cast("double") / 5, 4).alias("exp_docs"),
            round_col(
                F.col("n_docs") * 5.0 / F.col("n_src") - 1.0, 4
            ).alias("rel_dev"),
        )
        .orderBy("source", "fold")
    )


@query(
    "quality_filter_chain",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    ),
    tf AS (
        SELECT doc_id, t AS token, count(*) AS c
        FROM base, unnest(tokens) AS u(t)
        GROUP BY doc_id, t
    ),
    stats AS (
        SELECT b.doc_id,
               len(b.tokens) AS n_tok,
               len(list_filter(b.tokens, t -> t = 'the' OR t = 'a')) AS n_stop,
               (SELECT max(c) FROM tf WHERE tf.doc_id = b.doc_id) AS max_tf
        FROM base b
    )
    SELECT reason, count(*) AS n_docs,
           {round_sql("avg(n_tok)", 4)} AS avg_tokens
    FROM (
        SELECT doc_id, n_tok,
               CASE WHEN n_tok < 20 THEN 'too_short'
                    WHEN n_stop * 1.0 / n_tok > 0.25 THEN 'too_stopwordy'
                    WHEN max_tf * 1.0 / n_tok > 0.12 THEN 'repetitive'
                    ELSE 'pass' END AS reason
        FROM stats
    )
    GROUP BY reason ORDER BY reason
    """,
)
def quality_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-failing-rule quality filter with per-reason accounting —
    the filter stage of a curation pipeline, instrumented so each
    rule's rejection volume is visible (silent filters are how
    training sets lose whole domains). Rules: length gate, stopword
    ratio, intra-document repetition (max token frequency / length).
    One linear chain, one scan: every per-doc statistic (length,
    stopword count, max token frequency) derives from the same
    per-(doc, token) count partials — joining doc-level stats back
    onto a derived aggregate would duplicate the scan subtree. The
    rule cascade is a JVM CASE projection; output is a tiny
    per-reason rollup."""
    d = load_table(spark, sf_dir, "documents")
    stats = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tok"),
            F.max("c").alias("max_tf"),
            F.sum(
                F.when(
                    (F.col("token") == "the") | (F.col("token") == "a"), F.col("c")
                ).otherwise(0)
            ).alias("n_stop"),
        )
    )
    reason = (
        F.when(F.col("n_tok") < 20, "too_short")
        .when(F.col("n_stop") * 1.0 / F.col("n_tok") > 0.25, "too_stopwordy")
        .when(F.col("max_tf") * 1.0 / F.col("n_tok") > 0.12, "repetitive")
        .otherwise("pass")
    )
    return (
        stats.select(reason.alias("reason"), "n_tok")
        .groupBy("reason")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round_col(F.avg("n_tok"), 4).alias("avg_tokens"),
        )
        .orderBy("reason")
    )


@query(
    "stratified_sample_per_source",
    oracle=f"""
    SELECT source, count(*) AS n_sampled,
           {round_sql("avg(n_chars)", 4)} AS avg_chars
    FROM (
        SELECT source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('s:' || doc_id), doc_id) AS rn
        FROM documents
    )
    WHERE rn <= 5
    GROUP BY source ORDER BY source
    """,
)
def stratified_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified per-source sample: exactly k=5 documents per source,
    chosen by deterministic hash order (reproducible, no RNG) — how
    you pull a fixed-size inspection/eval slice from every source of
    an unbalanced corpus. One window shuffle on the stratum key; at
    scale prefer rank-within-partition after repartitioning on source
    (identical plan here) and raise k per stratum weight."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("s:"), F.col("doc_id"))), F.col("doc_id")
    )
    return (
        d.select("source", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            round_col(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("source")
    )


@query(
    "passage_dup_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    ),
    passages AS (
        SELECT doc_id, md5(array_to_string(tokens[i:i+7], ' ')) AS p
        FROM toks, unnest(range(1, len(tokens) - 8 + 2, 4)) AS t(i)
    ),
    df AS (
        SELECT p, count(DISTINCT doc_id) AS nd FROM passages GROUP BY p
    )
    SELECT doc_id, count(*) AS n_passages,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           {round_sql("sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0 / count(*)", 4)} AS dup_frac
    FROM passages JOIN df USING (p)
    GROUP BY doc_id
    HAVING sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) > 0
    ORDER BY dup_frac DESC, doc_id
    LIMIT 50
    """,
)
def passage_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level duplication coverage: slide an 8-token window with
    stride 4 over each document, hash each passage, and report per
    document what fraction of its passages also occur in another
    document — the doc-granularity signal behind "remove documents
    that are mostly boilerplate/copies" (exact-substring dedup at
    passage resolution). Two shuffles on fixed-width passage hashes
    (document frequency, then per-doc rollup); fan-out per document is
    length/stride, i.e. bounded and linear in corpus size."""
    d = load_table(spark, sf_dir, "documents")
    n, stride = 8, 4
    toks = d.select("doc_id", F.split("text", " ").alias("tokens"))
    hashes = shingle_hashes("tokens", n, stride)
    passages = toks.filter(F.size("tokens") >= n).select(
        "doc_id", F.explode(hashes).alias("p")
    )
    df_counts = passages.groupBy("p").agg(F.countDistinct("doc_id").alias("nd"))
    return (
        passages.join(df_counts, "p")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast("long").alias("n_dup"),
        )
        .filter(F.col("n_dup") > 0)
        .select(
            "doc_id",
            "n_passages",
            "n_dup",
            round_col(F.col("n_dup") * 1.0 / F.col("n_passages"), 4).alias("dup_frac"),
        )
        .orderBy(F.desc("dup_frac"), "doc_id")
        .limit(50)
    )


# The corpus-unigram NLL core of `unigram_logprob_score` and
# `ccnet_perplexity_buckets`: non-empty tokens and the corpus token
# total (oracle CTEs `toks` and `n`) ...
_UNIGRAM_TOKS_SQL = """toks AS (
        SELECT doc_id, t AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
             unnest(tokens) AS u(t)
        WHERE t <> ''
    ),
    n AS (SELECT count(*) AS total FROM toks)"""


def _unigram_nll() -> Column:
    """... and a doc's mean -ln(c / total), rounded to 6 dp."""
    return round_col(-F.avg(F.log(F.col("c").cast("double") / F.col("total"))), 6)


def _unigram_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, token, c, total): every non-empty token with its corpus
    count c (a window over the exploded tokens, no aggregate-then-join
    branch) and the corpus token total. The total comes from a
    count-only scan of documents (aggregate of token-array sizes), not
    from the exploded subtree, which would re-scan and re-explode the
    corpus; it joins as a one-row broadcast."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    freq = toks.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("token"))
    )
    total = d.agg(
        F.sum(
            F.size(F.filter(F.split("text", " "), lambda t: t != ""))
        ).alias("total")
    )
    return freq.crossJoin(F.broadcast(total))


@query(
    "unigram_logprob_score",
    oracle=f"""
    WITH {_UNIGRAM_TOKS_SQL},
    freq AS (
        SELECT doc_id, token,
               count(*) OVER (PARTITION BY token) AS c
        FROM toks
    ),
    scored AS (
        SELECT doc_id,
               {round_sql("-avg(ln(CAST(c AS DOUBLE) / total))", 6)} AS nll_r,
               count(*) AS n_tokens
        FROM freq CROSS JOIN n
        GROUP BY doc_id, total
    )
    SELECT doc_id, CAST(CAST(nll_r AS DECIMAL(18,6)) AS VARCHAR) AS nll,
           n_tokens
    FROM scored ORDER BY nll_r DESC, doc_id
    LIMIT 50
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: mean negative log-probability of
    each document under the corpus's own unigram distribution — the
    cheap stand-in for an LM perplexity filter (high NLL = tokens rare
    in this corpus = atypical/noisy document; near-zero NLL =
    boilerplate). Per-token corpus counts come from a window over the
    exploded tokens (no aggregate-then-join-back branch), the corpus
    token total is a count-only side joined by broadcast, and the
    per-doc rollup is one further shuffle. Top-50 most atypical docs.
    """
    return (
        _unigram_token_counts(spark, sf_dir)
        .groupBy("doc_id", "total")
        .agg(
            _unigram_nll().alias("nll_r"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .orderBy(F.desc("nll_r"), "doc_id")
        .limit(50)
        .select(
            "doc_id",
            F.col("nll_r").cast("decimal(18,6)").cast("string").alias("nll"),
            "n_tokens",
        )
    )


@query(
    "bigram_logprob_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, generate_subscripts(tokens, 1) AS pos, unnest(tokens) AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    ),
    seq AS (
        SELECT doc_id, pos, token,
               lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM toks WHERE token <> ''
    ),
    bg AS (SELECT doc_id, prev, token FROM seq WHERE prev IS NOT NULL),
    freq AS (
        SELECT doc_id,
               count(*) OVER (PARTITION BY prev, token) AS c2,
               count(*) OVER (PARTITION BY prev) AS c1
        FROM bg
    ),
    scored AS (
        SELECT doc_id,
               {round_sql("-avg(ln(CAST(c2 AS DOUBLE) / c1))", 6)} AS nll_r,
               count(*) AS n_bigrams
        FROM freq
        GROUP BY doc_id
    )
    SELECT doc_id, CAST(CAST(nll_r AS DECIMAL(18,6)) AS VARCHAR) AS nll,
           n_bigrams
    FROM scored ORDER BY nll_r DESC, doc_id
    LIMIT 50
    """,
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score: mean negative conditional
    log-probability -avg(ln P(w_i | w_{i-1})) of each document under
    the corpus's own bigram distribution (MLE: bigram count over
    context count) — one step up the n-gram ladder from
    `unigram_logprob_score`, sensitive to unusual TRANSITIONS (word
    salad, shuffled boilerplate) that unigram frequency cannot see.
    Top-50 most atypical documents.

    Shape: positions from one posexplode, adjacency from a per-doc lag
    window, both corpus counts (bigram and its context) as window
    counts over the same bigram relation — no aggregate-then-join-back
    branch re-scanning the corpus; the per-doc rollup is one further
    shuffle. All counts are exact integers; both engines evaluate the
    identical ln ratio."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).filter(F.col("token") != "")
    seq = toks.withColumn(
        "prev",
        F.lag("token").over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    bg = seq.filter(F.col("prev").isNotNull()).select("doc_id", "prev", "token")
    freq = bg.withColumn(
        "c2", F.count(F.lit(1)).over(Window.partitionBy("prev", "token"))
    ).withColumn("c1", F.count(F.lit(1)).over(Window.partitionBy("prev")))
    return (
        freq.groupBy("doc_id")
        .agg(
            round_col(
                -F.avg(F.log(F.col("c2").cast("double") / F.col("c1"))), 6
            ).alias("nll_r"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
        .orderBy(F.desc("nll_r"), "doc_id")
        .limit(50)
        .select(
            "doc_id",
            F.col("nll_r").cast("decimal(18,6)").cast("string").alias("nll"),
            "n_bigrams",
        )
    )


@query(
    "kneser_ney_trigram_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, generate_subscripts(tokens, 1) AS pos, unnest(tokens) AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    ),
    seq AS (
        SELECT doc_id, pos, token AS w3,
               lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
               lag(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        FROM toks WHERE token <> ''
    ),
    occ AS (SELECT doc_id, w1, w2, w3 FROM seq WHERE w1 IS NOT NULL),
    bg AS (SELECT w2, w3 FROM seq WHERE w2 IS NOT NULL),
    tri_types AS (
        SELECT w1, w2, w3, count(*) AS c3 FROM occ GROUP BY w1, w2, w3
    ),
    ctx2 AS (
        SELECT w1, w2, sum(c3) AS c2, count(*) AS nfwd12
        FROM tri_types GROUP BY w1, w2
    ),
    mid23 AS (
        SELECT w2, w3, count(*) AS nprec23 FROM tri_types GROUP BY w2, w3
    ),
    midw2 AS (
        SELECT w2, count(*) AS nmid2, count(DISTINCT w3) AS nfwdmid2
        FROM tri_types GROUP BY w2
    ),
    bg_types AS (SELECT w2, w3, count(*) AS cb FROM bg GROUP BY w2, w3),
    uni3 AS (SELECT w3, count(*) AS nuni FROM bg_types GROUP BY w3),
    nbg AS (SELECT count(*) AS n_bg_types FROM bg_types),
    model AS (
        SELECT t.w1, t.w2, t.w3,
               greatest(CAST(t.c3 AS DOUBLE) - 0.75, 0.0) / c.c2
               + 0.75 * c.nfwd12 / c.c2
                 * (greatest(CAST(m.nprec23 AS DOUBLE) - 0.75, 0.0) / g.nmid2
                    + 0.75 * g.nfwdmid2 / g.nmid2
                      * (CAST(u.nuni AS DOUBLE) / n.n_bg_types)) AS p3
        FROM tri_types t
        JOIN ctx2 c ON c.w1 = t.w1 AND c.w2 = t.w2
        JOIN mid23 m ON m.w2 = t.w2 AND m.w3 = t.w3
        JOIN midw2 g ON g.w2 = t.w2
        JOIN uni3 u ON u.w3 = t.w3
        CROSS JOIN nbg n
    ),
    scored AS (
        SELECT o.doc_id,
               {round_sql("-avg(ln(p3))", 6)} AS nll_r,
               count(*) AS n_trigrams
        FROM occ o
        JOIN model md ON md.w1 = o.w1 AND md.w2 = o.w2 AND md.w3 = o.w3
        GROUP BY o.doc_id
    )
    SELECT doc_id, CAST(CAST(nll_r AS DECIMAL(18,6)) AS VARCHAR) AS nll,
           n_trigrams
    FROM scored ORDER BY nll_r DESC, doc_id
    LIMIT 50
    """,
)
def kneser_ney_trigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney trigram scoring (Chen & Goodman 1999,
    fixed discount D=0.75) — completes the n-gram LM ladder above
    `unigram_logprob_score`/`bigram_logprob_score` with the standard
    LM smoothing: the top order discounts raw trigram counts, the
    middle and bottom orders use CONTINUATION counts (how many
    distinct contexts a gram completes), so boilerplate that repeats
    in one context stops looking probable. Per-document mean NLL
    under the corpus-trained model; top-50 most atypical docs.

    Every statistic is a reduced TYPE-level relation, not an
    occurrence relation: trigram types (one groupBy), their
    (w1,w2)/(w2,w3)/(w2) rollups, bigram types, and continuation
    unigrams — each orders of magnitude smaller than the corpus; the
    per-type probability is assembled by equi-joins among them and
    joined back to occurrences on the trigram key (one shuffle each).
    Zeros cannot occur: a scored trigram exists in the model by
    construction, and every scored w3 is some bigram's second word so
    its continuation count is ≥ 1. Both engines evaluate the
    identical arithmetic expression tree over exact integer counts;
    ln/avg at 6 dp follows the proven logprob-family discipline."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w3")
    ).filter(F.col("w3") != "")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    seq = toks.withColumn("w2", F.lag("w3").over(wdoc)).withColumn(
        "w1", F.lag("w3", 2).over(wdoc)
    )
    occ = seq.filter(F.col("w1").isNotNull()).select("doc_id", "w1", "w2", "w3")
    bg = seq.filter(F.col("w2").isNotNull()).select("w2", "w3")
    tri_types = occ.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    ctx2 = tri_types.groupBy("w1", "w2").agg(
        F.sum("c3").alias("c2"), F.count(F.lit(1)).alias("nfwd12")
    )
    mid23 = tri_types.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("nprec23"))
    midw2 = tri_types.groupBy("w2").agg(
        F.count(F.lit(1)).alias("nmid2"),
        F.count_distinct("w3").alias("nfwdmid2"),
    )
    bg_types = bg.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("cb"))
    uni3 = bg_types.groupBy("w3").agg(F.count(F.lit(1)).alias("nuni"))
    nbg = bg_types.agg(F.count(F.lit(1)).alias("n_bg_types"))
    p_uni = F.col("nuni").cast("double") / F.col("n_bg_types")
    p_mid = (
        F.greatest(F.col("nprec23").cast("double") - 0.75, F.lit(0.0))
        / F.col("nmid2")
        + 0.75 * F.col("nfwdmid2") / F.col("nmid2") * p_uni
    )
    p3 = (
        F.greatest(F.col("c3").cast("double") - 0.75, F.lit(0.0)) / F.col("c2")
        + 0.75 * F.col("nfwd12") / F.col("c2") * p_mid
    )
    model = (
        tri_types.join(ctx2, ["w1", "w2"])
        .join(mid23, ["w2", "w3"])
        .join(midw2, ["w2"])
        .join(uni3, ["w3"])
        .crossJoin(F.broadcast(nbg))
        .select("w1", "w2", "w3", p3.alias("p3"))
    )
    return (
        occ.join(model, ["w1", "w2", "w3"])
        .groupBy("doc_id")
        .agg(
            round_col(-F.avg(F.log("p3")), 6).alias("nll_r"),
            F.count(F.lit(1)).alias("n_trigrams"),
        )
        .orderBy(F.desc("nll_r"), "doc_id")
        .limit(50)
        .select(
            "doc_id",
            F.col("nll_r").cast("decimal(18,6)").cast("string").alias("nll"),
            "n_trigrams",
        )
    )


@query(
    "repetition_filter_gopher",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), cnt AS (
        SELECT doc_id, source, token, count(*) AS n
        FROM toks WHERE token <> '' GROUP BY 1, 2, 3
    ), metrics AS (
        SELECT doc_id, source,
               max(n) * 1.0 / sum(n) AS top_frac,
               count(*) * 1.0 / sum(n) AS ttr
        FROM cnt GROUP BY 1, 2
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN top_frac > 0.15 THEN 1 ELSE 0 END) AS BIGINT) AS rep_flagged,
           CAST(sum(CASE WHEN ttr < 0.45 THEN 1 ELSE 0 END) AS BIGINT) AS ttr_flagged,
           {round_sql("avg(top_frac)", 4)} AS avg_top_frac,
           {round_sql("avg(ttr)", 4)} AS avg_ttr
    FROM metrics GROUP BY source
    """,
)
def repetition_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (Gopher/MassiveText-style): flag
    documents whose most frequent token dominates (top-token fraction >
    0.15 ≈ "excessive duplicate n-grams") or whose type-token ratio is
    degenerate (< 0.45 ≈ low lexical diversity), accounted per source.

    Scale shape: one explode of the corpus, then three hash
    aggregations — (doc, token) counts, per-doc metrics, per-source
    rollup — each with map-side partial aggregation, so the shuffled
    bytes shrink at every stage (tokens → distinct (doc,token) pairs →
    one row per doc → one row per source). No windows, no joins, no
    Python; the token-frequency profile never materializes per-corpus
    state on the driver. ≙ the repetition gates of
    `quality_filter_chain`, but frequency-distribution-based rather
    than length/charset-based.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    cnt = toks.groupBy("doc_id", "source", "token").agg(
        F.count(F.lit(1)).alias("n")
    )
    metrics = cnt.groupBy("doc_id", "source").agg(
        (F.max("n") / F.sum("n")).alias("top_frac"),
        (F.count(F.lit(1)) / F.sum("n")).alias("ttr"),
    )
    return metrics.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("top_frac") > 0.15, 1).otherwise(0)).cast("long").alias("rep_flagged"),
        F.sum(F.when(F.col("ttr") < 0.45, 1).otherwise(0)).cast("long").alias("ttr_flagged"),
        round_col(F.avg("top_frac"), 4).alias("avg_top_frac"),
        round_col(F.avg("ttr"), 4).alias("avg_ttr"),
    )


@query(
    "minhash_verify_jaccard",
    oracle=f"""
    WITH
    {_MINHASH_EDGES_SQL},
    sets AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id)
    SELECT p.doc_a, p.doc_b,
           {round_sql("CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))", 4)} AS jaccard,
           CASE WHEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
                THEN 1 ELSE 0 END AS is_dup
    FROM pairs p
    JOIN sets a ON a.doc_id = p.doc_a
    JOIN sets b ON b.doc_id = p.doc_b
    """,
)
def minhash_verify_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-verification stage of the two-phase MinHash dedup
    pipeline: every LSH candidate pair gets its EXACT 3-gram Jaccard
    computed, and only pairs at >= 0.5 keep the duplicate verdict —
    the step that discards LSH false positives (banding collisions
    between dissimilar docs) before any document is dropped. On the
    sf0.01 fixture 2 of 27 candidates are false positives (Jaccard
    0.008/0.19 vs >= 0.79 for the true pairs).

    Scale shape: exact Jaccard runs ONLY on the candidate set (sub-
    quadratic, bounded by LSH bucket co-membership), never all pairs;
    per-doc shingle sets are bounded by document length, and the two
    equi-joins shuffle candidates + touched docs only. This is the
    standard verify step layered on :func:`.llm.minhash_lsh_candidates`.
    """
    d = load_table(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(spark, sf_dir)
    toks = d.select("doc_id", F.split("text", " ").alias("tokens")).filter(
        F.size("tokens") >= 3
    )
    sets = (
        toks.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("tokens") - 2)).alias("i"),
            "tokens",
        )
        .select(
            "doc_id", F.concat_ws(" ", F.slice("tokens", F.col("i"), 3)).alias("shingle")
        )
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("s"))
    )
    a, b = sets.alias("a"), sets.alias("b")
    joined = cand.join(a, cand.doc_a == F.col("a.doc_id")).join(
        b, cand.doc_b == F.col("b.doc_id")
    )
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    union = F.size(F.col("a.s")) + F.size(F.col("b.s")) - inter
    jac = inter.cast("double") / union
    return joined.select(
        "doc_a",
        "doc_b",
        round_col(jac, 4).alias("jaccard"),
        F.when(jac >= 0.5, 1).otherwise(0).alias("is_dup"),
    )


@query(
    "pack_sequences_greedy",
    oracle="""
    WITH t AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ), c AS (
        SELECT source, n_tok,
               sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t
    )
    SELECT source, CAST((cum - n_tok) // 256 AS BIGINT) AS bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS bin_tokens
    FROM c GROUP BY source, bin_id
    """,
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate each source's documents in stable
    doc_id order and cut the token stream into 256-token training bins
    (a document is assigned to the bin its first token lands in) — the
    deterministic stand-in for an example-packing stage that fills
    fixed-length contexts without padding waste.

    Scale shape: ONE window (running token sum partitioned by source)
    plus one hash aggregation. The window partitions by `source`, so
    parallelism is bounded by source cardinality, not 1 — exactly how
    a packing stage shards at 100 TB (pack within shard; never a
    global order-by window, which would serialize the corpus through
    one task)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = F.size(F.split("text", " "))
    c = d.select("doc_id", "source", n_tok.alias("n_tok")).withColumn(
        "cum", F.sum("n_tok").over(w)
    )
    return (
        c.withColumn("bin_id", F.expr("(cum - n_tok) div 256"))
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("bin_tokens"),
        )
    )


@query(
    "token_budget_select",
    oracle="""
    WITH t AS (
        SELECT doc_id, source, n_chars, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ), r AS (
        SELECT source, n_tok,
               sum(n_tok) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t
    )
    SELECT source,
           CAST(sum(CASE WHEN cum <= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
           CAST(sum(CASE WHEN cum <= 1000 THEN n_tok ELSE 0 END) AS BIGINT) AS sel_tokens,
           count(*) AS n_docs
    FROM r GROUP BY source
    """,
)
def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget subset selection: each source contributes its
    best-ranked documents (longest first — stand-in for any quality
    rank) until a 1000-token per-source budget is exhausted — how a
    data-mix spec ("N tokens of source X") turns into a concrete
    document set. Same single-window shape as pack_sequences_greedy:
    running token sum per source, then one aggregation; the budget cut
    is a predicate on the running sum, not a driver-side loop."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_chars"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = F.size(F.split("text", " "))
    r = d.select("doc_id", "source", "n_chars", n_tok.alias("n_tok")).withColumn(
        "cum", F.sum("n_tok").over(w)
    )
    sel = F.col("cum") <= 1000
    return r.groupBy("source").agg(
        F.sum(F.when(sel, 1).otherwise(0)).cast("long").alias("n_selected"),
        F.sum(F.when(sel, F.col("n_tok")).otherwise(0)).cast("long").alias("sel_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _km_rnd(expr: str, n: int) -> str:
    from ..exprs import round_sql

    return round_sql(expr, n)


_KM_DIST = (
    "(list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, c.cv)"
    " + list_dot_product(c.cv, c.cv))"
)


def _km_update(src: str, dst: str) -> str:
    return f"""
    m{dst} AS (SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS val
               FROM {src} WHERE rn = 1),
    c{dst} AS (SELECT cid, list(val ORDER BY pos) AS cv FROM (
                 SELECT cid, pos, {_km_rnd("avg(val)", 6)} AS val
                 FROM m{dst} GROUP BY cid, pos) GROUP BY cid)"""


# Shared CTE chain: deterministic-init 2-round Lloyd over the
# embeddings view, ending in per-vector assignments (a3; rn = 1 rows
# are each vector's argmin centroid). Reused by the k-means census
# and the SemDeDup-style within-cluster pruning oracle.
_KMEANS_ASG_CTE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 4),
a1 AS (SELECT a.vec_id, a.v, c.cid,
              row_number() OVER (PARTITION BY a.vec_id ORDER BY {_KM_DIST} ASC, c.cid) rn
       FROM v a CROSS JOIN c0 c),
{_km_update("a1", "1")},
a2 AS (SELECT a.vec_id, a.v, c.cid,
              row_number() OVER (PARTITION BY a.vec_id ORDER BY {_KM_DIST} ASC, c.cid) rn
       FROM v a CROSS JOIN c1 c),
{_km_update("a2", "2")},
a3 AS (SELECT a.vec_id, a.v, c.cid, {_KM_DIST} AS dist,
              row_number() OVER (PARTITION BY a.vec_id ORDER BY {_KM_DIST} ASC, c.cid) rn
       FROM v a CROSS JOIN c2 c)"""

_KMEANS_ORACLE = f"""
{_KMEANS_ASG_CTE}
SELECT CAST(cid AS INT) AS cluster_id, count(*) AS n_vectors,
       {_km_rnd("sum(dist)", 2)} AS inertia
FROM a3 WHERE rn = 1 GROUP BY cid
"""


def _lloyd_assignments(spark: SparkSession, sf_dir: str, k: int = 4,
                       rounds: int = 2) -> DataFrame:
    """(vec_id, v, cid, dist) after *rounds* exact Lloyd iterations
    with deterministic init (vec_id < k) — the shared clustering core
    behind kmeans_embedding_clusters and semantic_dedup_centroid;
    mirrors the a3 CTE of _KMEANS_ASG_CTE value-for-value.

    The loop input is loop-invariant: checkpointed once so each
    round's assignment reads the materialized vectors instead of
    re-scanning the embeddings parquet per iteration (at 100 TB you
    persist the assignment input, not re-read the corpus per round —
    the same posture as _cc_labels' edge-list checkpoint)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).localCheckpoint()
    cents = sorted(
        (r["cid"], list(r["cv"]))
        for r in v.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        .collect()
    )

    def assign(centroids):
        best = nearest_centroid(F.col("v"), centroids)
        return v.withColumn("cid", best.getField("cid")).withColumn(
            "dist", -best.getField("negd")
        )

    # r13 optimization round A/B (measured first): a
    # per-dimension agg (groupBy(cid).agg(avg(element_at(v, i)) x d),
    # no explode, no n x d shuffle) measured SLOWER than this
    # posexplode shape at BOTH sf0.1 (0.57 vs 0.42 s/round) and sf1
    # (0.83 vs 0.43) — the 64-slot aggregate buffer loses to the
    # narrow exploded hash agg — so the explode shape is kept
    # deliberately.
    for _ in range(rounds):
        rows = (
            assign(cents)
            .select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(round_col(F.avg("val"), 6).alias("val"))
            .collect()
        )
        by: dict[int, dict[int, float]] = {}
        for r in rows:
            by.setdefault(r["cid"], {})[r["pos"]] = r["val"]
        cents = sorted(
            (cid, [dims[p] for p in range(len(dims))]) for cid, dims in by.items()
        )

    return assign(cents)


@query("kmeans_embedding_clusters", oracle=_KMEANS_ORACLE)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering over the embedding corpus (k=4, two exact
    Lloyd iterations, deterministic init = vec_id < k): the curation
    stage behind cluster-balanced sampling and semantic dedup at
    corpus scale. Output: per-cluster membership count and inertia.

    Scale shape — the same posture as `similarity_ivf_probe`: the
    centroid set is k-bounded INDEX METADATA. Each Lloyd round is (a)
    a narrow argmin projection over the corpus (centroids unrolled as
    literal vectors; no join, no shuffle of the vectors) and (b) one
    (cid, dim) hash aggregation whose k x d result is collected and
    re-broadcast — the corpus itself never moves or materializes per-
    iteration state. Iteration count is fixed (driver loop over
    bounded aggregates), matching how MLlib's own k-means schedules
    rounds. Parity: all dot products are sequential folds
    (exprs.dot ≙ list_dot_product), centroid components are rounded
    to 6 dp each round to pin down summation-order drift, and ties in
    the argmin break to the smallest centroid id in both engines.
    """
    return (
        _lloyd_assignments(spark, sf_dir)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            round_col(F.sum("dist"), 2).alias("inertia"),
        )
        .select(F.col("cid").cast("int").alias("cluster_id"), "n_vectors", "inertia")
    )


@query(
    "semantic_dedup_centroid",
    oracle=f"""
    {_KMEANS_ASG_CTE},
    asg AS (
        SELECT vec_id, v, cid,
               (CASE WHEN v[1] > 0 THEN 32 ELSE 0 END
              + CASE WHEN v[2] > 0 THEN 16 ELSE 0 END
              + CASE WHEN v[3] > 0 THEN 8 ELSE 0 END
              + CASE WHEN v[4] > 0 THEN 4 ELSE 0 END
              + CASE WHEN v[5] > 0 THEN 2 ELSE 0 END
              + CASE WHEN v[6] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM a3 WHERE rn = 1
    ),
    pairs AS (
        SELECT a.cid, b.vec_id AS drop_id
        FROM asg a JOIN asg b
          ON a.cid = b.cid AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) > 0.35
    ),
    dropped AS (SELECT DISTINCT cid, drop_id FROM pairs)
    SELECT CAST(asg.cid AS INT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(d.drop_id) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(d.drop_id) AS BIGINT) AS n_kept
    FROM asg LEFT JOIN dropped d
      ON asg.cid = d.cid AND asg.vec_id = d.drop_id
    GROUP BY asg.cid
    ORDER BY cluster_id
    """,
)
def semantic_dedup_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): the
    corpus is k-means-clustered (shared 2-round Lloyd core,
    `_lloyd_assignments`), then near-duplicate pruning runs only
    within each cluster — a vector is dropped when a lower-id
    neighbor in the same (cluster, sign-bucket) block exceeds cosine
    0.35 (keep-min rule, same determinism as the dedup family).
    Output: per-cluster kept/dropped census.

    Scale shape — TWO-LEVEL blocking, learned x hashed: the pair join
    keys on (cid, sign-bucket), where the bucket reuses
    embedding_near_dup_pairs' corpus-scaled plane count
    ``max(6, ceil(log2(n/32)))``. Clustering alone is NOT enough: the
    r4 all-query sf1 sweep caught the cid-only version going 44x at
    10x rows (fixed k=4 ⇒ clusters grow 10x ⇒ within-cluster pairs
    100x). With the hashed second level the per-block quadratic stays
    bounded no matter how k relates to n. The oracle pins 6 sign bits,
    which the formula yields at every oracle scale (n <= 2048). Both
    engines evaluate the identical sequential-fold cosine, so the
    threshold comparison is exact."""
    import math

    from ..catalog import table_rows
    from ..exprs import dot

    n = table_rows(sf_dir, "embeddings")  # footer-only, no Spark job
    planes = max(6, math.ceil(math.log2(max(n, 2) / 32)))
    bucket = sum(
        (
            F.when(F.element_at("v", i + 1) > 0, 1 << (planes - 1 - i)).otherwise(0)
            for i in range(planes)
        ),
        start=F.lit(0),
    )
    asg = (
        _lloyd_assignments(spark, sf_dir)
        .select("vec_id", "v", "cid")
        .withColumn("bucket", bucket)
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    )
    a, b = asg.alias("a"), asg.alias("b")
    cs = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    dropped = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cs > 0.35)
        .select(F.col("b.cid").alias("cid"), F.col("b.vec_id").alias("drop_id"))
        .distinct()
    )
    return (
        asg.join(
            dropped,
            (asg.cid == dropped.cid) & (asg.vec_id == dropped.drop_id),
            "left",
        )
        .groupBy(asg.cid)
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count("drop_id").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("drop_id")).alias("n_kept"),
        )
        .select(
            F.col("cid").cast("int").alias("cluster_id"),
            "n_vectors",
            "n_dropped",
            "n_kept",
        )
        .orderBy("cluster_id")
    )


MMR_K = 8
MMR_LAMBDA = "0.7"  # literal strings so both engines parse the same constant
MMR_ONE_MINUS = "0.3"


def _mmr_oracle(k: int = MMR_K) -> str:
    """Unrolled greedy-MMR oracle: the centroid is dimension-wise
    portably-rounded (the kmeans discipline), relevance and pair
    similarities are list_dot_product folds (bit-identical to
    exprs.dot), and each round's argmax replays the identical
    0.7·rel − 0.3·maxsim expression with ties on vec_id."""
    cte = []
    for t in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id, v FROM sel{j}" for j in range(1, t)
        )
        cte.append(f"""
    selu{t - 1} AS MATERIALIZED ({prev}),
    score{t} AS MATERIALIZED (
        SELECT r.vec_id,
               max(list_dot_product(r.v, s.v)
                   / (sqrt(list_dot_product(r.v, r.v))
                      * sqrt(list_dot_product(s.v, s.v)))) AS maxsim
        FROM rel r, selu{t - 1} s
        WHERE r.vec_id NOT IN (SELECT vec_id FROM selu{t - 1})
        GROUP BY r.vec_id
    ),
    sel{t} AS MATERIALIZED (
        SELECT r.vec_id, r.v, r.rel,
               {MMR_LAMBDA} * r.rel - {MMR_ONE_MINUS} * s.maxsim AS mmr
        FROM score{t} s JOIN rel r USING (vec_id)
        ORDER BY mmr DESC, vec_id LIMIT 1
    )""")
    finals = "\n    UNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS pick_idx, vec_id,"
        f" {stable_render_sql('rel', 6)} AS rel,"
        f" {stable_render_sql('mmr', 6)} AS mmr FROM sel{t}"
        for t in range(1, k + 1)
    )
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent AS (
        SELECT i, {round_sql("avg(v[i])", 6)} AS c
        FROM base, range(1, 65) r(i) GROUP BY i
    ),
    cvec AS (SELECT list(c ORDER BY i) AS cv FROM cent),
    rel AS MATERIALIZED (
        SELECT vec_id, v,
               list_dot_product(v, cv)
               / (sqrt(list_dot_product(v, v))
                  * sqrt(list_dot_product(cv, cv))) AS rel
        FROM base, cvec
    ),
    sel1 AS MATERIALIZED (
        SELECT vec_id, v, rel, rel AS mmr FROM rel
        ORDER BY rel DESC, vec_id LIMIT 1
    ),
    {",".join(cte)}
    SELECT * FROM ({finals}) ORDER BY pick_idx
    """


@query("mmr_diverse_selection", oracle=_mmr_oracle())
def mmr_diverse_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy Maximal-Marginal-Relevance selection (Carbonell &
    Goldstein 1998) of k=8 documents from the embedding corpus:
    pick 1 maximizes relevance to the corpus centroid, every later
    pick maximizes 0.7·relevance − 0.3·max-similarity-to-selected —
    the diversity-aware selection behind few-shot exemplar choice,
    eval-set curation, and dedup-aware sampling (`greedy_source_
    coverage` is its set-cover cousin over tokens; this one works in
    embedding space).

    Scale shape: the selected set is k-bounded INDEX METADATA — each
    of the k rounds is a narrow argmax projection over the corpus
    with the selected vectors unrolled as literal arrays (the kmeans
    centroid discipline; driver traffic = one 64-float row per
    round), so nothing shuffles but a TakeOrdered(1). Parity: the
    centroid ships dimension-wise portably-rounded, every similarity
    is a sequential fold (exprs.dot ≙ list_dot_product) evaluated on
    identical doubles, so both engines make the same greedy choice at
    every round — ties break on vec_id in both."""
    from ..exprs import dot

    e = load_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cent_rows = (
        base.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(round_col(F.avg("x"), 6).alias("c"))
        .orderBy("i")
        .collect()
    )
    import math

    cvals = [float(r["c"]) for r in cent_rows]
    cv = F.lit(cvals)
    # r14: the literal vectors' self-norms are per-row constants
    # the HOF fold re-evaluated every row (literal-array aggregates are
    # not constant-folded past the lambda) — compute them driver-side.
    cvn = F.lit(math.sqrt(self_dot(cvals)))
    rel = base.withColumn(
        "rel",
        dot(F.col("v"), cv) / (F.sqrt(dot(F.col("v"), F.col("v"))) * cvn),
    )
    lam, oml = float(MMR_LAMBDA), float(MMR_ONE_MINUS)
    picks = []  # (pick_idx, vec_id, rel, mmr)
    sel_vecs: list = []  # (literal array, literal norm) per selection
    sel_ids: list = []
    for t in range(1, MMR_K + 1):
        if t == 1:
            cand = rel.withColumn("mmr", F.col("rel"))
        else:
            sims = [
                dot(F.col("v"), sv)
                / (F.sqrt(dot(F.col("v"), F.col("v"))) * svn)
                for sv, svn in sel_vecs
            ]
            maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            cand = rel.filter(~F.col("vec_id").isin(sel_ids)).withColumn(
                "mmr", lam * F.col("rel") - oml * maxsim
            )
        row = cand.orderBy(F.desc("mmr"), "vec_id").limit(1).collect()[0]
        picks.append((t, row["vec_id"], row["rel"], row["mmr"]))
        sel_ids.append(row["vec_id"])
        svals = [float(x) for x in row["v"]]
        sel_vecs.append((F.lit(svals), F.lit(math.sqrt(self_dot(svals)))))
    out = spark.createDataFrame(
        picks, "pick_idx int, vec_id long, rel_raw double, mmr_raw double"
    )
    return out.select(
        "pick_idx",
        "vec_id",
        stable_render(F.col("rel_raw"), 6).alias("rel"),
        stable_render(F.col("mmr_raw"), 6).alias("mmr"),
    ).orderBy("pick_idx")


@query(
    "quality_percentile_gate",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, source, lang,
               percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS pr
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_top_quartile,
           {round_sql("avg(pr)", 4)} AS avg_pr
    FROM r WHERE pr >= 0.75 GROUP BY lang
    """,
)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile gating: keep each source's top quartile by
    length rank (percent_rank over a deterministic order) and report
    the survivors per language — score-scale-free selection, so one
    threshold works across sources whose raw score distributions
    differ. One window shuffle on source, one aggregation; the rank
    order includes doc_id so ties are deterministic in both engines.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    r = d.select(
        "doc_id", "source", "lang", F.percent_rank().over(w).alias("pr")
    )
    return (
        r.filter(F.col("pr") >= 0.75)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_top_quartile"),
            round_col(F.avg("pr"), 4).alias("avg_pr"),
        )
    )


# PII scrubbing: the denylist pattern stands in for the email/phone/IP
# regexes a production scrub runs — the synthetic corpus has no real
# PII, so the scrub targets high-frequency corpus terms to stay
# non-vacuous while exercising the identical machinery
# (regexp_count + global regexp_replace + length accounting).
_SCRUB_PATTERN = "\\bcustomer\\b|\\bvalue\\b"


@query(
    "pii_redaction_scrub",
    oracle=f"""
    WITH scrubbed AS (
        SELECT source,
               len(regexp_extract_all(text, '{_SCRUB_PATTERN}')) AS hits,
               length(text) -
               length(regexp_replace(text, '{_SCRUB_PATTERN}', '', 'g'))
                   AS removed
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_with_hits,
           CAST(sum(hits) AS BIGINT) AS total_hits,
           CAST(sum(removed) AS BIGINT) AS chars_removed
    FROM scrubbed GROUP BY source ORDER BY source
    """,
)
def pii_redaction_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction scrub — the regex-scrub stage every training
    pipeline runs before tokenization (emails/phones/IP literals →
    removed or tagged). Per source: documents touched, total pattern
    hits, and characters removed by a global regexp_replace.

    Scale shape: a single narrow projection (two JVM-side regex
    evaluations per row, whole-stage codegen) followed by a
    source-cardinality aggregation — linear scan, one kilobyte-sized
    shuffle, no Python. Swapping the denylist for real PII patterns
    changes only the regex literal."""
    d = load_table(spark, sf_dir, "documents")
    hits = F.regexp_count(F.col("text"), F.lit(_SCRUB_PATTERN))
    removed = F.length("text") - F.length(
        F.regexp_replace("text", _SCRUB_PATTERN, "")
    )
    return (
        d.select("source", hits.alias("hits"), removed.alias("removed"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("hits") > 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_with_hits"),
            F.sum("hits").cast("long").alias("total_hits"),
            F.sum("removed").cast("long").alias("chars_removed"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (hashed n-gram features)
# ---------------------------------------------------------------------------


@query(
    "importance_resample_dsir",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, generate_subscripts(t, 1) AS pos, unnest(t) AS token
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)
    ),
    seq AS (
        SELECT doc_id, lang, token,
               lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM toks WHERE token <> ''
    ),
    feats AS (
        SELECT doc_id, lang, token AS f FROM seq
        UNION ALL
        SELECT doc_id, lang, prev || ' ' || token AS f
        FROM seq WHERE prev IS NOT NULL
    ),
    db AS (
        SELECT doc_id, lang, substr(md5(f), 1, 2) AS b, count(*) AS cnt
        FROM feats GROUP BY 1, 2, 3
    ),
    bstat AS (
        SELECT b, sum(cnt) AS s_cnt,
               sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS t_cnt
        FROM db GROUP BY b
    ),
    tot AS (
        SELECT CAST(sum(s_cnt) AS DOUBLE) AS s_tot,
               CAST(sum(t_cnt) AS DOUBLE) AS t_tot
        FROM bstat
    ),
    w AS (
        SELECT doc_id,
               sum(cnt * (ln((t_cnt + 1) / (t_tot + 256))
                        - ln((s_cnt + 1) / (s_tot + 256)))) AS lw,
               CAST(sum(cnt) AS BIGINT) AS n_feats
        FROM db JOIN bstat USING (b), tot
        GROUP BY doc_id
    ),
    joined AS (
        SELECT d.doc_id, d.lang, d.source, n_feats,
               {round_sql("lw", 6)} AS lw_r
        FROM w JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, source, n_feats,
           CAST(CAST(lw_r AS DECIMAL(18,6)) AS VARCHAR) AS logweight
    FROM joined ORDER BY lw_r DESC, doc_id LIMIT 40
    """,
)
def importance_resample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection via importance resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score every source document by how much more
    likely its hashed n-gram features are under a TARGET distribution
    (here: the corpus's `lang='en'` slice, standing in for a
    benchmark/domain sample) than under the raw-source distribution,
    then keep the top-weighted documents. Features are unigrams +
    bigrams hashed into 256 buckets (md5-prefix bucket ids — string
    keys, no hex→int conversion); both bucket multinomials get
    Laplace +1 smoothing; a document's log importance weight is the
    feature-count-weighted sum of log(p_target/p_source) over its
    buckets.

    Scale shape: the corpus is tokenized ONCE into per-(doc, bucket)
    counts — everything downstream operates on that reduced relation:
    the bucket table is ≤256 rows (broadcast back), totals are one
    scalar row (broadcast crossJoin), the per-doc rollup shuffles
    doc×bucket counts, never tokens. At 100 TB the hashed-feature
    reduction is the point of DSIR: model fitting touches only
    fixed-width count vectors. (r13: unigram+bigram
    features are built IN-ROW — bigrams as a zip_with over the
    shifted token array — replacing the old posexplode → per-doc lag
    window, which shuffled and sorted every corpus token, and the
    two-branch union that recomputed it; doc metadata rides the
    bucket groupBy instead of a join back onto the scan.)"""
    d = load_table(spark, sf_dir, "documents")
    arr = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    base = _spread(
        d.select("doc_id", "lang", "source", arr.alias("toks")), spark, "doc_id"
    )
    n1 = F.greatest(F.size("toks") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("toks", 1, n1),
        F.slice("toks", 2, n1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    feats = F.concat(F.col("toks"), bigrams)
    db = (
        base.select(
            "doc_id", "lang", "source", F.explode(feats).alias("f")
        )
        .groupBy(
            "doc_id", "lang", "source",
            F.substring(F.md5("f"), 1, 2).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bstat = db.groupBy("b").agg(
        F.sum("cnt").alias("s_cnt"),
        F.sum(F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0)).alias(
            "t_cnt"
        ),
    )
    tot = bstat.agg(
        F.sum("s_cnt").cast("double").alias("s_tot"),
        F.sum("t_cnt").cast("double").alias("t_tot"),
    )
    lw_term = F.col("cnt") * (
        F.log((F.col("t_cnt") + 1) / (F.col("t_tot") + 256))
        - F.log((F.col("s_cnt") + 1) / (F.col("s_tot") + 256))
    )
    w = (
        db.join(F.broadcast(bstat), "b")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.sum(lw_term).alias("lw"),
            F.sum("cnt").cast("long").alias("n_feats"),
        )
    )
    return (
        w.select(
            "doc_id", "lang", "source", "n_feats",
            round_col(F.col("lw"), 6).alias("lw_r"),
        )
        .orderBy(F.desc("lw_r"), "doc_id")
        .limit(40)
        .select(
            "doc_id", "lang", "source", "n_feats",
            F.col("lw_r").cast("decimal(18,6)").cast("string").alias("logweight"),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer-training prep: first merge-candidate pair counts
# ---------------------------------------------------------------------------


@query(
    "bpe_pair_merge_candidates",
    oracle="""
    WITH words AS (
        SELECT token AS word, count(*) AS wf
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> '' GROUP BY token
    ),
    pairs AS (
        SELECT substr(word, i, 2) AS pair, word, wf
        FROM words, unnest(range(1, length(word))) AS r(i)
        WHERE length(word) >= 2
    )
    SELECT pair, CAST(sum(wf) AS BIGINT) AS total_cnt,
           count(DISTINCT word) AS n_distinct_words
    FROM pairs GROUP BY pair
    ORDER BY total_cnt DESC, pair LIMIT 20
    """,
)
def bpe_pair_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training preparation: corpus-frequency-weighted
    counts of adjacent symbol pairs — exactly the statistic the first
    BPE merge step maximizes (Sennrich et al. 2016, arXiv:1508.07909).
    Top-20 merge candidates with their total occurrence count and the
    number of distinct word types containing them.

    Scale shape: the corpus collapses to a (distinct word, frequency)
    table FIRST — the classic BPE trick; every later merge iteration
    operates on word types, not corpus tokens, so pair extraction
    touches |vocab| rows regardless of corpus size. Pair explosion is
    a JVM-side transform over character positions (no Python), the
    rollup is one shuffle on the pair, and top-20 is TakeOrdered."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    pairs = words.filter(F.length("word") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "word",
        "wf",
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("wf").cast("long").alias("total_cnt"),
            F.count_distinct(F.col("word")).alias("n_distinct_words"),
        )
        .orderBy(F.desc("total_cnt"), "pair")
        .limit(20)
    )


# Per-source word counts `per` over the non-empty words `tok` — the
# corpus side of the tokenizer-apply oracles.
_WORD_COUNTS_SQL = """tok AS (
        SELECT source, token AS word
        FROM (SELECT source, unnest(string_split(text, ' ')) AS token
              FROM documents)
        WHERE token <> ''
    ),
    per AS (SELECT source, word, count(*) AS c FROM tok GROUP BY 1, 2)"""


def _bpe_cte_chain(n_merges: int) -> str:
    """The shared unrolled-CTE body of the BPE oracles (vocab →
    words0 → N× (pairsR, bestR, wordsR)): per merge round,
    (a) weighted adjacent-pair counts over the current word-type
    segmentation, (b) the argmax pair (ties broken (cnt DESC, x, y) —
    binary collation in both engines), (c) merge application as a
    per-word left-to-right fold via ``list_reduce`` with a string
    accumulator ("append y when the accumulator's last token is
    exactly x" — the merged token x||y can never equal x, so the
    check is sound; a naive string replace() of ' x y ' diverges on
    runs because consumed separators hide alternating occurrences).
    ``list_reduce`` seeds with the first element, exactly matching
    the Spark fold's zero = element_at(syms, 1)."""
    cte = []
    for r in range(1, n_merges + 1):
        cte.append(f"""
    pairs{r} AS (
        SELECT syms[i] AS x, syms[i + 1] AS y, wf
        FROM words{r - 1}, unnest(range(1, len(syms))) AS t(i)
    ),
    best{r} AS (
        SELECT x, y, CAST(sum(wf) AS BIGINT) AS cnt
        FROM pairs{r} GROUP BY x, y
        ORDER BY cnt DESC, x, y LIMIT 1
    ),
    words{r} AS MATERIALIZED (
        SELECT word, wf,
               string_split(
                   list_reduce(syms, (acc, s) -> CASE
                       WHEN s = b.y AND (acc = b.x OR
                            right(acc, length(b.x) + 1) = ' ' || b.x)
                       THEN acc || b.y
                       ELSE acc || ' ' || s END),
                   ' ') AS syms
        FROM words{r - 1}, best{r} b
    )""")
    return f"""vocab AS (
        SELECT token AS word, count(*) AS wf
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> '' GROUP BY token
    ),
    words0 AS MATERIALIZED (
        SELECT word, wf,
               list_transform(range(1, length(word) + 1),
                              i -> substr(word, i, 1)) AS syms
        FROM vocab
    ),
    {",".join(cte)}"""


def _bpe_train_oracle(n_merges: int = 8) -> str:
    """Merge-table oracle: the chain plus a UNION over the N argmax
    rows."""
    finals = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS merge_idx, x AS sym_a, y AS sym_b,"
        f" x || y AS merged, cnt AS pair_cnt FROM best{r}"
        for r in range(1, n_merges + 1)
    )
    return f"""
    WITH {_bpe_cte_chain(n_merges)}
    SELECT * FROM ({finals}) ORDER BY merge_idx
    """


BPE_N_MERGES = 8


@query("bpe_train_merges", oracle=_bpe_train_oracle(BPE_N_MERGES))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full iterative BPE TRAINING loop (Sennrich et al. 2016,
    arXiv:1508.07909) — promotes `bpe_pair_merge_candidates` (one
    statistics pass) to the real algorithm: N=8 merge rounds, each
    (1) counting corpus-frequency-weighted adjacent symbol pairs over
    the current word-type segmentation, (2) selecting the argmax pair
    (ties: lexicographic — deterministic in both engines), and
    (3) re-segmenting every word type by the new merge. Output: the
    learned merge table (rank, pair, merged symbol, count at
    selection time) — the tokenizer artifact a training pipeline
    ships.

    Spark-first shape: the corpus collapses ONCE to the (word type,
    frequency) relation — all iteration is over |vocab| rows, never
    corpus tokens (the classic BPE trick; corpus size only affects
    the initial groupBy). Each round's driver traffic is ONE row (the
    argmax pair — the same bounded-scalar discipline as
    `dedup_connected_components`' convergence probe), the merge
    applies as a JVM-side `aggregate` fold per word (no UDF), and the
    word table is `checkpoint_flat`-ed per round so round r+1 neither
    recomputes rounds 1..r (O(N²) work) nor compounds Catalyst size
    stats. The oracle unrolls the same 8 rounds with `list_reduce`
    folds (see `_bpe_train_oracle`); left-to-right merge semantics
    are pinned identical — "append y when the accumulator's last
    token is exactly x"."""
    _, merges = _bpe_trained_segmentation(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_idx int, sym_a string, sym_b string, merged string, pair_cnt long"
    ).orderBy("merge_idx")


def _bpe_trained_segmentation(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list]:
    """Run the BPE training loop; return (final word segmentation
    DataFrame ``(word, wf, syms)`` after BPE_N_MERGES merges, merge
    table rows). Shared by `bpe_train_merges` (the merge table) and
    `tokenizer_apply_bpe` (tokenize with the trained model)."""
    from ..iterate import checkpoint_flat

    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    words = checkpoint_flat(
        vocab.withColumn(
            "syms",
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        )
    )
    merges = []
    for r in range(1, BPE_N_MERGES + 1):
        # sequence(1, 0) DESCENDS in Spark (vs DuckDB range(1,1) =
        # empty) — single-symbol words must not reach the generator.
        pairs = words.filter(F.size("syms") >= 2).select(
            F.explode(F.expr("sequence(1, size(syms) - 1)")).alias("i"),
            "syms",
            "wf",
        ).select(
            F.expr("element_at(syms, i)").alias("x"),
            F.expr("element_at(syms, i + 1)").alias("y"),
            "wf",
        )
        best = (
            pairs.groupBy("x", "y")
            .agg(F.sum("wf").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), "x", "y")
            .limit(1)
            .collect()[0]
        )
        bx, by, bcnt = best["x"], best["y"], best["cnt"]
        merges.append((r, bx, by, bx + by, bcnt))
        qx = bx.replace("\\", "\\\\").replace("'", "\\'")
        qy = by.replace("\\", "\\\\").replace("'", "\\'")
        fold = F.expr(
            "split(aggregate(slice(syms, 2, size(syms) - 1), element_at(syms, 1),"
            f" (acc, s) -> CASE WHEN s = '{qy}' AND (acc = '{qx}'"
            f" OR right(acc, {len(bx) + 1}) = concat(' ', '{qx}'))"
            f" THEN concat(acc, '{qy}')"
            " ELSE concat(acc, ' ', s) END), ' ')"
        )
        words = checkpoint_flat(words.select("word", "wf", fold.alias("syms")))
    return words, merges


@query(
    "tokenizer_apply_bpe",
    oracle=f"""
    WITH {_bpe_cte_chain(BPE_N_MERGES)},
    seg AS (SELECT word, len(syms) AS n_seg FROM words{BPE_N_MERGES}),
    {_WORD_COUNTS_SQL}
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_words,
           CAST(sum(c * n_seg) AS BIGINT) AS n_bpe_tokens,
           {round_sql("CAST(sum(c * n_seg) AS DOUBLE) / sum(c)", 6)}
               AS tokens_per_word
    FROM per JOIN seg USING (word)
    GROUP BY source ORDER BY source
    """,
)
def tokenizer_apply_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the TRAINED BPE model — the inference
    half of `bpe_train_merges` (train → apply is the full tokenizer
    lifecycle): after the 8 learned merges, each word type's final
    segment count prices every occurrence, rolled up per source as
    total words, total BPE tokens, and tokens-per-word (the
    compression ratio a tokenizer report tracks; sources that resist
    compression have vocabulary the merges never learned —
    out-of-domain text).

    Scale shape: tokenization is a JOIN against the |vocab|-sized
    trained segmentation — the corpus is never re-folded per merge;
    occurrence counts reduce to the (source × word type) relation
    before the join, so the join and final rollup are both
    reduced-relation shuffles (at 100 TB, broadcast the segmentation:
    it is model metadata, a few MB)."""
    d = load_table(spark, sf_dir, "documents")
    words, _ = _bpe_trained_segmentation(spark, sf_dir)
    seg = words.select("word", F.size("syms").alias("n_seg"))
    per = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per.join(seg, "word")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("n_seg")).cast("long").alias("n_bpe_tokens"),
            round_col(
                F.sum(F.col("c") * F.col("n_seg")).cast("double") / F.sum("c"), 6
            ).alias("tokens_per_word"),
        )
        .orderBy("source")
    )


@query(
    "context_window_loss",
    oracle=f"""
    WITH per AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS n_tok
        FROM documents
    ),
    w(window_tokens) AS (VALUES (128), (512), (2048))
    SELECT window_tokens,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_tok > window_tokens THEN 1 ELSE 0 END)
                AS BIGINT) AS n_truncated,
           {round_sql(
               "CAST(sum(CASE WHEN n_tok > window_tokens THEN 1 ELSE 0 END)"
               " AS DOUBLE) / count(*)", 6
           )} AS trunc_rate,
           CAST(sum(n_tok) AS BIGINT) AS tokens_total,
           CAST(sum(greatest(n_tok - window_tokens, 0)) AS BIGINT)
               AS tokens_lost,
           {round_sql(
               "CAST(sum(greatest(n_tok - window_tokens, 0)) AS DOUBLE)"
               " / sum(n_tok)", 6
           )} AS loss_rate
    FROM per CROSS JOIN w
    GROUP BY window_tokens ORDER BY window_tokens
    """,
)
def context_window_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation audit — the sequence-length budgeting
    table behind choosing a model's context size and a packing
    strategy (`pack_sequences_greedy`, `chunk_documents_overlap`):
    for candidate windows {128, 512, 2048} tokens, how many documents
    would be cut and what fraction of corpus TOKENS a hard truncation
    throws away (doc-rate and token-rate diverge exactly when length
    is heavy-tailed — the case where truncation silently deletes the
    long-document distribution).

    Shape: one corpus scan reduces to (doc, token-count); the 3-row
    window table cross-joins against THAT reduced relation (never the
    text), and the rollup is one tiny aggregation. All counts exact
    integers; the two rates are the only divisions."""
    d = load_table(spark, sf_dir, "documents")
    per = d.select(
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("n_tok")
    )
    w = spark.createDataFrame([(128,), (512,), (2048,)], "window_tokens int")
    lost = F.greatest(F.col("n_tok") - F.col("window_tokens"), F.lit(0))
    return (
        per.crossJoin(F.broadcast(w))
        .groupBy("window_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_tok") > F.col("window_tokens"), 1).otherwise(0))
            .cast("long")
            .alias("n_truncated"),
            round_col(
                F.sum(
                    F.when(F.col("n_tok") > F.col("window_tokens"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("trunc_rate"),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            F.sum(lost).cast("long").alias("tokens_lost"),
            round_col(
                F.sum(lost).cast("double") / F.sum("n_tok"), 6
            ).alias("loss_rate"),
        )
        .orderBy("window_tokens")
    )


# ---------------------------------------------------------------------------
# Context-window chunking: fixed-size overlapping token windows
# ---------------------------------------------------------------------------


@query(
    "chunk_documents_overlap",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               (i - 1) // 48 AS chunk_idx,
               t[i:least(i + 63, len(t))] AS chunk
        FROM toks, unnest(range(1, len(t) + 1, 48)) AS r(i)
    )
    SELECT doc_id, chunk_idx,
           len(chunk) AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_hash
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking — the stage that turns documents into
    model-sized pieces (pretraining sequence prep, RAG indexing):
    64-token windows at stride 48 (16-token overlap so no boundary
    context is lost), each chunk identified by (doc_id, chunk_idx) and
    content-addressed with a hash (the dedup/join key downstream
    chunk-level pipelines use).

    Scale shape: chunk starts come from one JVM-side `sequence()` per
    document and chunks from `slice()` — a single scan, one generator
    explode, no shuffle at all until a downstream consumer groups by
    chunk_hash. Chunk count ~= corpus_tokens/stride regardless of
    document skew; a 1 M-token document explodes into rows, never into
    one executor-killing string."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("t"),
    )
    # size guard: Spark's sequence(1, 0, 48) throws on an empty token
    # list where DuckDB's range(1, 1, 48) yields no rows — filter
    # empty documents out before the generator (no output either way).
    chunks = toks.filter(F.size("t") >= 1).select(
        "doc_id",
        F.explode(F.expr("sequence(1, size(t), 48)")).alias("i"),
        F.col("t"),
    ).select(
        "doc_id",
        F.expr("(i - 1) div 48").alias("chunk_idx"),
        F.expr("slice(t, i, 64)").alias("chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "chunk")).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_idx")


# ---------------------------------------------------------------------------
# Collocation mining: bigram PMI
# ---------------------------------------------------------------------------


# Each non-empty token with its predecessor `prev` in the doc (oracle
# CTEs `toks` and `seq`).
_BIGRAM_SEQ_SQL = """toks AS (
        SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    seq AS (
        SELECT doc_id, pos, token,
               lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM toks WHERE token <> ''
    )"""


def _bigram_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, token, prev): each non-empty token with the
    previous non-empty token of its doc (null for the first)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).filter(F.col("token") != "")
    return toks.withColumn(
        "prev", F.lag("token").over(Window.partitionBy("doc_id").orderBy("pos"))
    )


@query(
    "bigram_pmi_topk",
    oracle=f"""
    WITH {_BIGRAM_SEQ_SQL},
    c2 AS (
        SELECT prev, token, count(*) AS n2
        FROM seq WHERE prev IS NOT NULL GROUP BY prev, token
    ),
    marg AS (
        SELECT prev, token, n2,
               sum(n2) OVER (PARTITION BY prev) AS nl,
               sum(n2) OVER (PARTITION BY token) AS nr,
               sum(n2) OVER () AS n
        FROM c2
    ),
    scored AS (
        SELECT prev, token, CAST(n2 AS BIGINT) AS n2,
               {round_sql("ln(CAST(n2 AS DOUBLE) * n / (nl * nr))", 6)} AS pmi_r
        FROM marg
        WHERE n2 >= 5
    )
    SELECT prev, token, n2,
           CAST(CAST(pmi_r AS DECIMAL(18,6)) AS VARCHAR) AS pmi
    FROM scored ORDER BY pmi_r DESC, prev, token LIMIT 20
    """,
)
def bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    token pairs, PMI = ln(p(x,y) / (p_l(x) p_r(y))) with the marginals
    taken over bigram events — the standard phrase-detection statistic
    (Church & Hanks 1990; word2phrase). Pairs occurring ≥5 times,
    top-20 most-associated. Feeds tokenizer/vocab decisions (which
    multi-word units deserve merges) alongside `bpe_pair_merge_candidates`
    (character level) and `vocab_topk` (unigram level).

    Scale shape: the corpus reduces to the distinct-bigram count table
    in one shuffle; the left/right marginals are window sums OVER that
    reduced table partitioned by prev/token (distributed — never the
    empty-partition global window, which would funnel every distinct
    bigram through one task); the grand total N is a 1-row aggregate
    broadcast back as a scalar; top-20 is TakeOrdered."""
    seq = _bigram_seq(spark, sf_dir)
    c2 = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "token")
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    total = c2.agg(F.sum("n2").alias("n"))
    marg = (
        c2.withColumn("nl", F.sum("n2").over(Window.partitionBy("prev")))
        .withColumn("nr", F.sum("n2").over(Window.partitionBy("token")))
        .crossJoin(F.broadcast(total))
    )
    pmi = F.log(F.col("n2").cast("double") * F.col("n") / (F.col("nl") * F.col("nr")))
    return (
        marg.filter(F.col("n2") >= 5)
        .select(
            "prev",
            "token",
            F.col("n2").cast("long").alias("n2"),
            round_col(pmi, 6).alias("pmi_r"),
        )
        .orderBy(F.desc("pmi_r"), "prev", "token")
        .limit(20)
        .select(
            "prev",
            "token",
            "n2",
            F.col("pmi_r").cast("decimal(18,6)").cast("string").alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Privacy governance: k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------


@query(
    "k_anonymity_audit",
    oracle=f"""
    WITH eq_classes AS (
        SELECT c_mktsegment, c_nationkey, count(*) AS class_size
        FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT 5 AS k,
           count(*) AS n_classes,
           CAST(sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_classes,
           CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                AS BIGINT) AS rows_at_risk,
           CAST(min(class_size) AS BIGINT) AS min_class_size,
           {round_sql("100.0 * sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) / sum(class_size)", 4)}
               AS pct_rows_at_risk
    FROM eq_classes
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002): group the table by its
    quasi-identifier columns (here mktsegment × nationkey standing in
    for the zip/birthdate/sex-style identifiers) and measure the
    equivalence classes smaller than k=5 — the classes whose members a
    linkage attack can single out. Reports violating-class and
    at-risk-row counts and the minimum class size (the dataset's
    actual k). The release-gate companion to `pii_redaction_scrub`:
    scrubbing removes direct identifiers, this audits the indirect
    ones before a dataset ships.

    Scale shape: one scan, one partial-agg'd groupBy on the
    quasi-identifier tuple, then a scalar rollup of the (already
    group-count-sized) class table — the audit costs one
    aggregation regardless of table size."""
    c = load_table(spark, sf_dir, "customer")
    eq = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    small = F.col("class_size") < 5
    return eq.agg(
        F.lit(5).cast("int").alias("k"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(small, 1).otherwise(0)).cast("long").alias("violating_classes"),
        F.sum(F.when(small, F.col("class_size")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("class_size").cast("long").alias("min_class_size"),
        round_col(
            100.0
            * F.sum(F.when(small, F.col("class_size")).otherwise(0))
            / F.sum("class_size"),
            4,
        ).alias("pct_rows_at_risk"),
    )


# ---------------------------------------------------------------------------
# Capstone composition: the curation funnel with per-stage accounting
# ---------------------------------------------------------------------------


@query(
    "curation_funnel_accounting",
    oracle="""
    WITH base AS (
        SELECT doc_id, text, string_split(text, ' ') AS tokens FROM documents
    ),
    corpus AS (SELECT * FROM base WHERE doc_id % 50 <> 0),
    tf AS (
        SELECT doc_id, t, count(*) AS c
        FROM corpus, unnest(tokens) AS u(t) GROUP BY doc_id, t
    ),
    q AS (
        SELECT c.doc_id, c.text,
               len(c.tokens) AS n_tok,
               len(list_filter(c.tokens, t -> t = 'the' OR t = 'a')) AS n_stop,
               (SELECT max(tf.c) FROM tf WHERE tf.doc_id = c.doc_id) AS max_tf
        FROM corpus c
    ),
    qpass AS (
        SELECT doc_id, text FROM q
        WHERE NOT (n_tok < 20 OR n_stop * 1.0 / n_tok > 0.25
                   OR max_tf * 1.0 / n_tok > 0.12)
    ),
    dd AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM qpass
        ) WHERE rn = 1
    ),
    grams AS (
        SELECT DISTINCT doc_id, md5(array_to_string(tokens[i:i+4], ' ')) AS g
        FROM base, unnest(range(1, len(tokens) - 5 + 2)) AS t(i)
    ),
    bench_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
    contaminated AS (
        SELECT DISTINCT gr.doc_id
        FROM grams gr JOIN bench_g b USING (g)
        WHERE gr.doc_id IN (SELECT doc_id FROM dd)
    ),
    clean AS (
        SELECT doc_id FROM dd
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    s AS (
        SELECT (SELECT count(*) FROM corpus) AS n0,
               (SELECT count(*) FROM qpass) AS n1,
               (SELECT count(*) FROM dd) AS n2,
               (SELECT count(*) FROM clean) AS n3
    )
    SELECT stage_no, stage, docs_in, docs_out,
           docs_in - docs_out AS dropped
    FROM (
        SELECT 1 AS stage_no, 'quality_gate' AS stage,
               n0 AS docs_in, n1 AS docs_out FROM s
        UNION ALL
        SELECT 2, 'exact_dedup', n1, n2 FROM s
        UNION ALL
        SELECT 3, 'decontaminate', n2, n3 FROM s
    ) ORDER BY stage_no
    """,
)
def curation_funnel_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete curation pipeline as ONE dataflow with per-stage
    funnel accounting — the run-report a data team reads after every
    crawl: corpus in → quality gate (the `quality_filter_chain`
    rules) → exact dedup keep-first (`dedup_exact` semantics) →
    benchmark decontamination (`decontaminate_ngram_overlap`
    semantics) → training-ready, with docs in/out/dropped per stage.
    Demonstrates that the individual operators COMPOSE: each stage
    consumes the previous stage's survivors, and the whole report is
    one lazy plan (four 1-row aggregates broadcast-joined, stages
    unpivoted from struct literals — no driver-side counting loop).

    Scale (r13 rewrite): the quality gate is pure
    in-row arithmetic — max term frequency is the longest run in the
    sorted token array, identical in value to the old
    explode→groupBy(doc_id,t)→max chain but with ZERO exchanges — so
    every stage count is a conditional aggregate over ONE shared
    corpus projection instead of re-deriving its full lineage
    (before: 22 scans / 54 exchanges; after: the corpus is scanned
    once — the spread exchange below is reused by all three
    subtrees — plus one benchmark-docs pass). Dedup survivors are
    min(doc_id) per text hash (the same keep-first rows as the old
    per-hash row_number window, as a narrow partial-aggregating
    groupBy); decontamination explodes the in-row-distinct gram
    arrays of QPASS docs only, drops non-benchmark grams against the
    broadcast gram set first, and only then shuffles the surviving
    doc_ids. The benchmark gram set stays the only broadcast of data
    size."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.split("text", " ").alias("tokens")
    )

    # Longest run in the sorted token array == max per-token count.
    max_tf = F.aggregate(
        F.sort_array(F.col("tokens")),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    qpass_cond = ~(
        (F.col("n_tok") < 20)
        | (F.col("n_stop") * 1.0 / F.col("n_tok") > 0.25)
        | (F.col("max_tf") * 1.0 / F.col("n_tok") > 0.12)
    )
    corpus = _spread(
        d.filter(F.col("doc_id") % 50 != 0), spark, "doc_id"
    ).select(
        "doc_id",
        "text",
        "tokens",
        F.size("tokens").alias("n_tok"),
        F.size(
            F.expr("filter(tokens, t -> t = 'the' OR t = 'a')")
        ).alias("n_stop"),
        max_tf.alias("max_tf"),
    )
    qpass = corpus.filter(qpass_cond)

    # Keep-first per exact text: min(doc_id) per md5 — the same
    # survivor set as a per-hash row_number()=1 window, without
    # shuffling text bodies.
    kept = (
        qpass.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )

    n = 5
    gram_hashes = shingle_hashes("tokens", n)
    bench_g = (
        d.filter((F.col("doc_id") % 50 == 0) & (F.size("tokens") >= n))
        .select(F.explode(F.array_distinct(gram_hashes)).alias("g"))
        .distinct()
    )
    # Grams of benchmark docs contaminate any KEPT doc sharing one;
    # generating from qpass (⊇ kept) then semi-joining kept gives the
    # identical contaminated set as the old full-corpus gram relation.
    contaminated = (
        qpass.filter(F.size("tokens") >= n)
        .select("doc_id", F.explode(F.array_distinct(gram_hashes)).alias("g"))
        .join(F.broadcast(bench_g), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .join(kept, "doc_id", "left_semi")
    )

    n0 = corpus.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count(F.when(qpass_cond, F.lit(1))).alias("n1"),
    )
    n2 = kept.agg(F.count(F.lit(1)).alias("n2"))
    nc = contaminated.agg(F.count(F.lit(1)).alias("nc"))
    s = (
        n0.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(nc))
        .withColumn("n3", F.col("n2") - F.col("nc"))
    )
    stages = F.array(
        F.struct(
            F.lit(1).alias("stage_no"),
            F.lit("quality_gate").alias("stage"),
            F.col("n0").alias("docs_in"),
            F.col("n1").alias("docs_out"),
        ),
        F.struct(
            F.lit(2).alias("stage_no"),
            F.lit("exact_dedup").alias("stage"),
            F.col("n1").alias("docs_in"),
            F.col("n2").alias("docs_out"),
        ),
        F.struct(
            F.lit(3).alias("stage_no"),
            F.lit("decontaminate").alias("stage"),
            F.col("n2").alias("docs_in"),
            F.col("n3").alias("docs_out"),
        ),
    )
    return (
        s.select(F.explode(stages).alias("p"))
        .select("p.*")
        .withColumn("dropped", F.col("docs_in") - F.col("docs_out"))
        .orderBy("stage_no")
    )


# ---------------------------------------------------------------------------
# Graph centrality: TextRank keyword extraction
# ---------------------------------------------------------------------------


def _textrank_iter_sql(prev: str, out: str) -> str:
    """One PageRank iteration as a CTE body (damping 0.85)."""
    return f"""
    {out} AS (
        SELECT node,
               0.15 + 0.85 * coalesce(c.s, 0) AS score
        FROM nodes LEFT JOIN (
            SELECT dst, sum(frac * score) AS s
            FROM e JOIN {prev} ON e.src = {prev}.node
            GROUP BY dst
        ) c ON nodes.node = c.dst
    )"""


@query(
    "textrank_keywords",
    oracle=f"""
    WITH {_BIGRAM_SEQ_SQL},
    pairs AS (
        SELECT prev AS src, token AS dst
        FROM seq WHERE prev IS NOT NULL AND prev <> token
    ),
    edges AS (
        SELECT src, dst, count(*) AS w
        FROM (SELECT src, dst FROM pairs
              UNION ALL SELECT dst AS src, src AS dst FROM pairs)
        GROUP BY src, dst
    ),
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
    e AS (
        SELECT edges.src, edges.dst, CAST(w AS DOUBLE) / ow AS frac
        FROM edges JOIN outw USING (src)
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS score FROM nodes),
    {_textrank_iter_sql("r0", "r1")},
    {_textrank_iter_sql("r1", "r2")},
    {_textrank_iter_sql("r2", "r3")}
    SELECT node AS word, {round_sql("score", 6)} AS score
    FROM r3 ORDER BY score DESC, word LIMIT 15
    """,
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the undirected token co-occurrence graph (adjacent-pair
    edges, co-occurrence counts as weights), damping 0.85, uniform
    init, THREE fixed iterations — rank(i) = 0.15 + 0.85 *
    sum_j w(j,i)/outw(j) * rank(j) — then the top-15 keywords. The
    graph-centrality member of the text-analysis family (PMI finds
    phrases, TF-IDF finds per-doc terms; TextRank finds corpus-level
    salient vocabulary), and the same bounded-iteration join-agg shape
    CommonCrawl-style curation uses for harmonic/PageRank host
    centrality.

    Scale shape: the corpus reduces to the distinct-edge table in one
    shuffle (|vocab|-bounded, corpus-independent thereafter), which is
    `localCheckpoint`ed eagerly — without that, the unrolled plan
    re-expands the corpus-explode subtree once per reference (measured
    20 scans of documents.parquet); with it the corpus is scanned
    exactly once and each iteration is one join + one groupBy over the
    compact edge relation, the `_cc_labels` pattern. Ranks stay a
    vocab-sized table throughout."""
    seq = _bigram_seq(spark, sf_dir)
    pairs = seq.filter(
        F.col("prev").isNotNull() & (F.col("prev") != F.col("token"))
    ).select(F.col("prev").alias("src"), F.col("token").alias("dst"))
    edges = (
        pairs.unionAll(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint()
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    e = edges.join(outw, "src").select(
        "src", "dst", (F.col("w").cast("double") / F.col("ow")).alias("frac")
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    ranks = nodes.select("node", F.lit(1.0).alias("score"))
    for _ in range(3):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("frac") * F.col("score")).alias("s"))
        )
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node", (F.lit(0.15) + F.lit(0.85) * F.coalesce("s", F.lit(0.0))).alias("score")
        )
    return (
        ranks.select("node", "score")
        .withColumnRenamed("node", "word")
        .select("word", round_col(F.col("score"), 6).alias("score"))
        .orderBy(F.desc("score"), "word")
        .limit(15)
    )


@query(
    "weighted_sample_aes",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               -ln((CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) + 0.5)
                   / 4294967296.0) / n_chars AS k
        FROM documents
    ),
    rounded AS (
        SELECT doc_id, n_chars, {round_sql("k", 8)} AS key_r FROM keyed
    )
    SELECT doc_id, n_chars,
           CAST(CAST(key_r AS DECIMAL(18,8)) AS VARCHAR) AS sample_key
    FROM rounded ORDER BY key_r, doc_id LIMIT 20
    """,
)
def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the exponential race
    (Efraimidis & Spirakis 2006, A-ES): each row draws key
    -ln(u)/w and the k smallest keys ARE a weighted sample without
    replacement — the one-pass answer to "sample 10k docs
    proportional to length" that per-row Bernoulli can't give (it
    controls expectation, not exact k) and sequential reservoirs
    can't give distributed (they need a serial scan).

    Here w = n_chars and u is a deterministic uniform from the
    content hash (md5 first 8 hex → (h+0.5)/2^32, the same portable
    hash-to-uniform used by train_test_split_hash) so both engines
    draw identical keys and the sample is reproducible — the property
    a training pipeline needs for repeatable corpus snapshots.

    Scale shape: ONE scan computing a key column + TakeOrdered(k) —
    per-partition heaps, a k-row driver merge, no shuffle of the
    corpus at all. Weights change = one expression edit."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key = -F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "n_chars", round_col(key, 8).alias("key_r"))
        .orderBy("key_r", "doc_id")
        .limit(20)
        .select(
            "doc_id",
            "n_chars",
            F.col("key_r").cast("decimal(18,8)").cast("string").alias("sample_key"),
        )
    )


@query(
    "quantile_normalize_by_source",
    oracle=f"""
    WITH grids AS (
        SELECT source,
               quantile_cont(n_chars, [x * 0.01 FOR x IN range(0, 101)]) AS sgrid
        FROM documents GROUP BY source
    ),
    gglobal AS (
        SELECT quantile_cont(n_chars, [x * 0.01 FOR x IN range(0, 101)]) AS ggrid
        FROM documents
    )
    SELECT d.doc_id, d.source, d.n_chars,
           {round_sql(
               "g.ggrid[least(len(list_filter(s.sgrid, v -> v < d.n_chars)) + 1, 101)]",
               4)} AS norm_chars
    FROM documents d
    JOIN grids s ON d.source = s.source, gglobal g
    ORDER BY d.doc_id
    """,
)
def quantile_normalize_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources: re-express each
    document's length on the GLOBAL length distribution according to
    its rank WITHIN its source — the feature-preprocessing step that
    makes per-source quality/length signals comparable before mixing
    corpora (a 90th-percentile doc of a short-doc source maps to the
    global 90th percentile, not to its raw value).

    Implemented grid-native, the way it scales: each source reduces
    to a 101-point exact percentile grid (one aggregate — per-group
    k-bounded state), the global distribution to one such grid, and a
    document's within-source quantile is the count of source-grid
    points below its value — a broadcast array probe, NO percent_rank
    window, no per-source sort of the corpus. Sources × 101 doubles is
    index metadata at any corpus size; the per-doc work is a pure
    projection."""
    d = load_table(spark, sf_dir, "documents")
    fracs = F.array(*[F.lit(x / 100.0) for x in range(101)])
    grids = d.groupBy("source").agg(
        F.percentile("n_chars", fracs).alias("sgrid")
    )
    gglobal = d.agg(F.percentile("n_chars", fracs).alias("ggrid"))
    idx = F.least(
        F.size(F.filter(F.col("sgrid"), lambda v: v < F.col("n_chars"))) + F.lit(1),
        F.lit(101),
    )
    return (
        d.join(F.broadcast(grids), "source")
        .crossJoin(F.broadcast(gglobal))
        .select(
            "doc_id",
            "source",
            "n_chars",
            round_col(F.element_at("ggrid", idx), 4).alias("norm_chars"),
        )
        .orderBy("doc_id")
    )


@query(
    "raking_ipf_mix_weights",
    oracle=f"""
    WITH cells AS (
        SELECT source, lang, CAST(count(*) AS DOUBLE) AS n
        FROM documents GROUP BY source, lang
    ),
    tot AS (
        SELECT sum(n) AS big_n,
               count(DISTINCT source) AS ns,
               count(DISTINCT lang) AS nl
        FROM cells
    ),
    r1 AS (
        SELECT source, lang, n,
               n * (big_n / ns) / sum(n) OVER (PARTITION BY source) AS w
        FROM cells, tot
    ),
    c1 AS (
        SELECT source, lang, n,
               w * (big_n / nl) / sum(w) OVER (PARTITION BY lang) AS w
        FROM r1, tot
    ),
    r2 AS (
        SELECT source, lang, n,
               w * (big_n / ns) / sum(w) OVER (PARTITION BY source) AS w
        FROM c1, tot
    ),
    c2 AS (
        SELECT source, lang, n,
               w * (big_n / nl) / sum(w) OVER (PARTITION BY lang) AS w
        FROM r2, tot
    )
    SELECT source, lang, CAST(n AS BIGINT) AS n,
           {round_sql("w", 4)} AS target_weight,
           {round_sql("w / n", 6)} AS per_doc_factor
    FROM c2 ORDER BY source, lang
    """,
)
def raking_ipf_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking) of the corpus mix:
    reweight (source, lang) cells so BOTH marginals hit a uniform
    target simultaneously — the 2-D generalization of single-axis mix
    weighting (`data_mix_weighted_sample` adjusts one marginal; IPF is
    what survey statisticians and data-mixture papers use when
    source AND language quotas must hold at once). Two full
    row/column scaling rounds, unrolled declaratively.

    Scale shape: the corpus collapses to the |sources|x|langs| cell
    table in ONE shuffle; every IPF iteration is a window-sum over
    that k-bounded table — at 100 TB the iterations cost nothing and
    the per-doc application (`per_doc_factor`) is a broadcast join
    back. Uniform targets are derived from the data (big_n/ns,
    big_n/nl), so the query needs no external config."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    tot = cells.agg(
        F.sum("n").alias("big_n"),
        F.countDistinct("source").alias("ns"),
        F.countDistinct("lang").alias("nl"),
    )
    w_src = Window.partitionBy("source")
    w_lang = Window.partitionBy("lang")
    cur = cells.crossJoin(F.broadcast(tot)).withColumn("w", F.col("n"))
    for axis_win, axis_n in ((w_src, "ns"), (w_lang, "nl"), (w_src, "ns"), (w_lang, "nl")):
        cur = cur.withColumn(
            "w",
            F.col("w")
            * (F.col("big_n") / F.col(axis_n))
            / F.sum("w").over(axis_win),
        )
    return (
        cur.select(
            "source",
            "lang",
            F.col("n").cast("long").alias("n"),
            round_col(F.col("w"), 4).alias("target_weight"),
            round_col(F.col("w") / F.col("n"), 6).alias("per_doc_factor"),
        )
        .orderBy("source", "lang")
    )


@query(
    "l_diversity_audit",
    oracle=f"""
    WITH banded AS (
        SELECT c_mktsegment, c_nationkey,
               CASE WHEN c_acctbal < 0 THEN 'neg'
                    WHEN c_acctbal < 5000 THEN 'mid'
                    ELSE 'high' END AS sens
        FROM customer
    ),
    cells AS (
        SELECT c_mktsegment, c_nationkey, sens, count(*) AS n
        FROM banded GROUP BY c_mktsegment, c_nationkey, sens
    ),
    cells2 AS (
        SELECT c_mktsegment, c_nationkey, n,
               n * 1.0 / sum(n) OVER (PARTITION BY c_mktsegment, c_nationkey)
                   AS p
        FROM cells
    ),
    classes AS (
        SELECT c_mktsegment, c_nationkey,
               count(*) AS distinct_sens,
               sum(n) AS class_size,
               -sum(p * ln(p)) AS entropy
        FROM cells2 GROUP BY c_mktsegment, c_nationkey
    )
    SELECT 3 AS l,
           count(*) AS n_classes,
           CAST(sum(CASE WHEN distinct_sens < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_below_l,
           CAST(sum(CASE WHEN distinct_sens < 3 THEN class_size ELSE 0 END)
                AS BIGINT) AS rows_at_risk,
           CAST(min(distinct_sens) AS BIGINT) AS min_distinct_sens,
           {stable_render_sql("min(entropy)", 6)} AS min_entropy
    FROM classes
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's necessary complement: an
    equivalence class can be large (k-safe) yet expose everyone in it
    if the SENSITIVE attribute is homogeneous. Per quasi-identifier
    class this measures distinct-l (how many sensitive values appear)
    and entropy-l (how evenly), reporting the classes where an
    attacker who re-identifies the class learns the sensitive value
    anyway.

    Same two-aggregation shape as `k_anonymity_audit` scaled up one
    level: corpus → (class, sensitive) cells in one shuffle, cells →
    per-class diversity via a partitioned window + groupBy (both
    k-bounded), then a scalar rollup. Sensitive bands derive from the
    data; swapping the real sensitive column is one expression."""
    c = load_table(spark, sf_dir, "customer")
    banded = c.select(
        "c_mktsegment",
        "c_nationkey",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("sens"),
    )
    cells = banded.groupBy("c_mktsegment", "c_nationkey", "sens").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_cls = Window.partitionBy("c_mktsegment", "c_nationkey")
    p = F.col("n") * F.lit(1.0) / F.sum("n").over(w_cls)
    classes = (
        cells.withColumn("term", -p * F.log(p))
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("distinct_sens"),
            F.sum("n").alias("class_size"),
            F.sum("term").alias("entropy"),
        )
    )
    below = F.col("distinct_sens") < 3
    return classes.agg(
        F.lit(3).alias("l"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(below, 1).otherwise(0)).cast("long").alias("classes_below_l"),
        F.sum(F.when(below, F.col("class_size")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("distinct_sens").cast("long").alias("min_distinct_sens"),
        stable_render(F.min("entropy"), 6).alias("min_entropy"),
    )


@query(
    "greedy_source_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT source, string_split(text, ' ') AS tokens FROM documents
    ),
    st AS (
        SELECT DISTINCT source,
               md5(array_to_string(tokens[i:i+2], ' ')) AS token
        FROM toks, unnest(range(1, len(tokens) - 3 + 2)) AS t(i)
    ),
    tot AS (SELECT count(DISTINCT token) AS v FROM st),
    r1 AS (
        SELECT source, count(*) AS gain FROM st
        GROUP BY source ORDER BY gain DESC, source LIMIT 1
    ),
    c1 AS (SELECT DISTINCT s.token FROM st s JOIN r1 ON s.source = r1.source),
    rem2 AS (
        SELECT s.source, s.token FROM st s
        WHERE s.source NOT IN (SELECT source FROM r1)
          AND NOT EXISTS (SELECT 1 FROM c1 WHERE c1.token = s.token)
    ),
    r2 AS (
        SELECT source, count(*) AS gain FROM rem2
        GROUP BY source ORDER BY gain DESC, source LIMIT 1
    ),
    c2 AS (
        SELECT token FROM c1
        UNION
        SELECT DISTINCT rem2.token FROM rem2 JOIN r2 ON rem2.source = r2.source
    ),
    rem3 AS (
        SELECT s.source, s.token FROM st s
        WHERE s.source NOT IN (SELECT source FROM r1
                               UNION SELECT source FROM r2)
          AND NOT EXISTS (SELECT 1 FROM c2 WHERE c2.token = s.token)
    ),
    r3 AS (
        SELECT source, count(*) AS gain FROM rem3
        GROUP BY source ORDER BY gain DESC, source LIMIT 1
    )
    SELECT pick, source, new_tokens, cum_tokens,
           {round_sql("100.0 * cum_tokens / v", 4)} AS coverage_pct
    FROM (
        SELECT CAST(1 AS BIGINT) AS pick, r1.source,
               CAST(r1.gain AS BIGINT) AS new_tokens,
               CAST(r1.gain AS BIGINT) AS cum_tokens FROM r1
        UNION ALL
        SELECT 2, r2.source, CAST(r2.gain AS BIGINT),
               CAST(r1.gain + r2.gain AS BIGINT) FROM r1, r2
        UNION ALL
        SELECT 3, r3.source, CAST(r3.gain AS BIGINT),
               CAST(r1.gain + r2.gain + r3.gain AS BIGINT) FROM r1, r2, r3
    ), tot ORDER BY pick
    """,
)
def greedy_source_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage source selection: pick the 3 sources
    that together cover the most distinct 3-gram shingles (the
    passage-level diversity unit; the raw token vocabulary of this
    corpus is too small to discriminate), one greedy round at a
    time — the (1-1/e)-approximate answer to "which corpora do I
    license/crawl first for diversity", and the submodular-selection
    shape (facility location, exemplar selection) used in data-subset
    papers.

    Each round is: anti-join the (source, token) relation against the
    covered-token set, count per source, take the argmax — the ONLY
    driver traffic is the 1-row winner per round (k-bounded, the
    k-means-centroid pattern), and the covered set stays a
    vocab-bounded DataFrame, localCheckpointed per round to truncate
    the growing anti-join lineage. Rounds are the algorithm's
    inherent sequential dimension; everything inside a round is one
    shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.split("text", " ").alias("tokens"))
    hashes = shingle_hashes("tokens", 3)
    st = (
        toks.filter(F.size("tokens") >= 3)
        .select("source", F.explode(hashes).alias("token"))
        .distinct()
        .localCheckpoint()
    )
    total_v = st.select("token").distinct().count()
    covered = None
    picked: list[str] = []
    rows = []
    cum = 0
    for pick in (1, 2, 3):
        rem = st.filter(~F.col("source").isin(picked)) if picked else st
        if covered is not None:
            rem = rem.join(covered, "token", "left_anti")
        top = (
            rem.groupBy("source")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.desc("gain"), "source")
            .limit(1)
            .collect()
        )
        src, gain = top[0]["source"], int(top[0]["gain"])
        new_cov = rem.filter(F.col("source") == src).select("token").distinct()
        covered = (
            new_cov if covered is None else covered.unionByName(new_cov)
        ).localCheckpoint()
        picked.append(src)
        cum += gain
        rows.append((pick, src, gain, cum))
    out = spark.createDataFrame(
        rows, ["pick", "source", "new_tokens", "cum_tokens"]
    )
    return out.select(
        "pick",
        "source",
        "new_tokens",
        "cum_tokens",
        round_col(
            F.lit(100.0) * F.col("cum_tokens") / F.lit(float(total_v)), 4
        ).alias("coverage_pct"),
    ).orderBy("pick")


# ---------------------------------------------------------------------------
# LSH index tuning: banding-configuration precision/recall sweep
# ---------------------------------------------------------------------------

#: (config label, list of bands, each band = list of signature slots)
_LSH_CONFIGS = [
    ("b2r4", [[0, 1, 2, 3], [4, 5, 6, 7]]),
    ("b4r2", [[0, 1], [2, 3], [4, 5], [6, 7]]),
    ("b8r1", [[0], [1], [2], [3], [4], [5], [6], [7]]),
]


def _lsh_tuning_oracle() -> str:
    sig_cols = ",\n               ".join(
        f"min(md5(shingle || ':{i}')) AS h{i}" for i in range(8)
    )
    band_rows = []
    for cfg, bands in _LSH_CONFIGS:
        for bi, slots in enumerate(bands):
            concat = " || ".join(f"h{s}" for s in slots)
            band_rows.append(
                f"SELECT doc_id, '{cfg}' AS cfg, {bi} AS band,"
                f" md5({concat}) AS bucket FROM sig"
            )
    bands_sql = "\n        UNION ALL\n        ".join(band_rows)
    cfg_meta = " UNION ALL ".join(
        f"SELECT '{cfg}' AS cfg, {len(bands)} AS n_bands,"
        f" {len(bands[0])} AS rows_per_band"
        for cfg, bands in _LSH_CONFIGS
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(tokens[i:i+2], ' ') AS shingle
        FROM toks, unnest(range(1, len(tokens) - 3 + 2)) AS t(i)
    ),
    sig AS (
        SELECT doc_id,
               {sig_cols}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {bands_sql}
    ),
    cand AS (
        SELECT DISTINCT a.cfg AS cfg, a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.cfg = b.cfg AND a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ),
    universe AS (
        SELECT DISTINCT doc_a, doc_b FROM cand WHERE cfg = 'b8r1'
    ),
    sets AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
    truth AS (
        SELECT u.doc_a, u.doc_b,
               CASE WHEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                    >= 0.5 THEN 1 ELSE 0 END AS is_dup
        FROM universe u
        JOIN sets a ON a.doc_id = u.doc_a
        JOIN sets b ON b.doc_id = u.doc_b
    ),
    n_true AS (SELECT CAST(sum(is_dup) AS DOUBLE) AS t FROM truth),
    per AS (
        SELECT c.cfg,
               count(*) AS n_candidates,
               CAST(sum(t.is_dup) AS BIGINT) AS n_true_dups
        FROM cand c JOIN truth t
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
        GROUP BY c.cfg
    ),
    meta AS ({cfg_meta})
    SELECT p.cfg AS config,
           CAST(m.n_bands AS INT) AS n_bands,
           CAST(m.rows_per_band AS INT) AS rows_per_band,
           p.n_candidates, p.n_true_dups,
           p.n_true_dups / CAST(p.n_candidates AS DOUBLE) AS precision_at_cfg,
           p.n_true_dups / n.t AS recall_at_cfg
    FROM per p JOIN meta m ON m.cfg = p.cfg, n_true n
    ORDER BY n_bands
    """


def _lsh_tuning_curve_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared banding-sweep pipeline for `lsh_tuning_curve` and
    `lsh_tuning_recommend`: returns the unordered per-configuration
    table (config, n_bands, rows_per_band, n_candidates, n_true_dups,
    precision_at_cfg, recall_at_cfg)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("tokens")).filter(
        F.size("tokens") >= 3
    )
    sh = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("tokens") - 2)).alias("i"),
        "tokens",
    ).select(
        "doc_id",
        F.concat_ws(" ", F.slice("tokens", F.col("i"), 3)).alias("shingle"),
    ).distinct()
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.col("shingle"), F.lit(f":{i}")))).alias(f"h{i}")
            for i in range(8)
        ]
    )
    band_structs = []
    for cfg, bands in _LSH_CONFIGS:
        for bi, slots in enumerate(bands):
            band_structs.append(
                F.struct(
                    F.lit(cfg).alias("cfg"),
                    F.lit(bi).alias("band"),
                    F.md5(F.concat(*[F.col(f"h{s}") for s in slots])).alias(
                        "bucket"
                    ),
                )
            )
    bands_df = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", "b.cfg", "b.band", "b.bucket")
    a, b = bands_df.alias("a"), bands_df.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.cfg") == F.col("b.cfg"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.cfg").alias("cfg"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    universe = cand.filter(F.col("cfg") == "b8r1").select("doc_a", "doc_b").distinct()
    sets = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("s"))
    sa, sb = sets.alias("sa"), sets.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s")))
    union = F.size(F.col("sa.s")) + F.size(F.col("sb.s")) - inter
    truth = (
        universe.join(sa, universe.doc_a == F.col("sa.doc_id"))
        .join(sb, universe.doc_b == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.when(inter.cast("double") / union >= 0.5, 1).otherwise(0).alias(
                "is_dup"
            ),
        )
    )
    n_true = truth.agg(F.sum("is_dup").cast("double").alias("t"))
    per = (
        cand.join(truth, ["doc_a", "doc_b"])
        .groupBy("cfg")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum("is_dup").cast("long").alias("n_true_dups"),
        )
    )
    meta = spark.createDataFrame(
        [(cfg, len(bands), len(bands[0])) for cfg, bands in _LSH_CONFIGS],
        "cfg string, n_bands int, rows_per_band int",
    )
    return (
        per.join(F.broadcast(meta), "cfg")
        .crossJoin(F.broadcast(n_true))
        .select(
            F.col("cfg").alias("config"),
            "n_bands",
            "rows_per_band",
            "n_candidates",
            "n_true_dups",
            (F.col("n_true_dups") / F.col("n_candidates").cast("double")).alias(
                "precision_at_cfg"
            ),
            (F.col("n_true_dups") / F.col("t")).alias("recall_at_cfg"),
        )
    )


@query("lsh_tuning_curve", oracle=_lsh_tuning_oracle())
def lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding sweep — the index-tuning companion to
    `ann_recall_at_k` for the dedup side: one 8-hash signature pass,
    then three banding configurations (2 bands x 4 rows, 4x2, 8x1)
    evaluated for candidate volume, precision, and recall against
    EXACT 3-gram Jaccard >= 0.5 — the curve (more bands = higher
    recall, more candidates to verify) that picks the (b, r) operating
    point before a corpus-scale dedup run. Ground truth is computed
    over the widest config's candidate set, which is a superset of
    every coarser config's candidates (a pair matching a multi-row
    band matches each constituent single-row band), so no all-pairs
    join exists anywhere.

    Scale shape: signatures are one shuffle over (doc, shingle);
    bands are a 14-row-per-doc explode joined on fixed-width
    (cfg, band, bucket) keys; exact Jaccard runs only on the bounded
    b8r1 candidate set. Precision/recall are integer-ratio divisions —
    engine-exact."""
    return _lsh_tuning_curve_df(spark, sf_dir).orderBy("n_bands")


#: Recall floor the recommended banding configuration must clear.
_LSH_RECALL_FLOOR = 0.8


@query(
    "lsh_tuning_recommend",
    oracle=f"""
    SELECT config, n_bands, rows_per_band, n_candidates, n_true_dups,
           precision_at_cfg, recall_at_cfg,
           CAST(CASE WHEN recall_at_cfg >= {_LSH_RECALL_FLOOR}
                THEN 1 ELSE 0 END AS INT) AS meets_recall_floor
    FROM ({_lsh_tuning_oracle()}) curve
    ORDER BY meets_recall_floor DESC, n_candidates ASC, config ASC
    LIMIT 1
    """,
)
def lsh_tuning_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closes the LSH tuning loop (r6 verdict stretch item 8): from
    the banding sweep's precision/recall table, pick the OPERATING
    POINT — the cheapest configuration (fewest candidate pairs to
    verify, i.e. the lowest post-LSH join volume) whose recall against
    exact Jaccard >= 0.5 clears the 0.8 floor; if no configuration
    clears it, fall back to the highest-recall one (meets-floor
    DESC sorts the compliant configs first; within each class the
    candidate count is the verify-stage cost being minimized).
    Ties break on config label for determinism. The recall comparison
    is a boundary decision on an integer-ratio double — engine-exact —
    so both engines pick the same row.

    Scale shape: inherits the sweep's bucketed pipeline; the argmax
    itself is a 3-row sort — free at any corpus size."""
    meets = (
        F.when(F.col("recall_at_cfg") >= F.lit(_LSH_RECALL_FLOOR), 1)
        .otherwise(0)
        .cast("int")
    )
    return (
        _lsh_tuning_curve_df(spark, sf_dir)
        .withColumn("meets_recall_floor", meets)
        .orderBy(
            F.desc("meets_recall_floor"), F.asc("n_candidates"), F.asc("config")
        )
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Boilerplate detection: per-source frequent-passage filter (CCNet-style)
# ---------------------------------------------------------------------------


@query(
    "boilerplate_passage_filter",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    ch AS (
        SELECT DISTINCT doc_id, source,
               md5(array_to_string(t[i:i+1], ' ')) AS h
        FROM toks, unnest(range(1, len(t), 2)) AS u(i)
    ),
    df AS (
        SELECT source, h, count(*) AS d FROM ch GROUP BY source, h
    ),
    nd AS (
        SELECT source, count(DISTINCT doc_id) AS n_docs FROM ch GROUP BY source
    ),
    flagged AS (
        SELECT df.source, df.h, df.d, nd.n_docs,
               CASE WHEN df.d >= greatest(3, 0.05 * nd.n_docs)
                    THEN 1 ELSE 0 END AS boiler
        FROM df JOIN nd USING (source)
    )
    SELECT source,
           CAST(max(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(d) AS BIGINT) AS n_chunk_instances,
           count(*) AS n_distinct_chunks,
           CAST(sum(boiler) AS BIGINT) AS n_boiler_chunks,
           CAST(sum(CASE WHEN boiler = 1 THEN d ELSE 0 END) AS BIGINT)
               AS boiler_doc_instances,
           CAST(sum(boiler) AS DOUBLE) / count(*) AS boiler_rate
    FROM flagged GROUP BY source ORDER BY source
    """,
)
def boilerplate_passage_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level boilerplate detection, the CCNet/RefinedWeb
    cleaning stage that `passage_dup_coverage` (cross-document copy
    coverage) does not address: a passage that recurs across MANY
    documents OF THE SAME SOURCE (nav chrome, legal footers, template
    text) is boilerplate and should be stripped before training.
    Non-overlapping 2-token chunks are hashed per document (distinct
    per doc, so a within-doc repeat counts once toward document
    frequency), and a chunk is flagged when its doc frequency clears
    greatest(3, 5% of the source's documents) — an absolute floor so
    tiny sources can't flag on chance, a relative rail so the
    threshold tracks source size. Emits the per-source cleaning
    ledger: chunk instances, distinct chunks, flagged chunks,
    affected doc-instances, and the flagged rate (integer-ratio
    double, engine-exact).

    Scale shape: two hash shuffles on fixed-width (source, digest)
    keys — document-frequency aggregate, then a per-source rollup
    joined to a source-sized doc-count relation. No pair joins, no
    skew beyond source cardinality (salt the rollup if one source
    dominates a real crawl). (r13: the within-doc
    chunk dedup is `array_distinct` IN-ROW before the explode — with
    doc_id unique, the exploded rows are then already distinct, so
    the corpus-sized DISTINCT exchange disappears and doc_id never
    enters the shuffle at all. No `_spread` here: interleaved A/B at
    sf0.1 AND sf1 measured the token-array repartition costing more
    than the split-starved map stage it fixes — the md5 work per row
    is light enough that the scan's own splits win.)"""
    d = load_table(spark, sf_dir, "documents")
    n, stride = 2, 2
    toks = d.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= n)
    chunks = toks.select(
        "source",
        F.explode(F.array_distinct(shingle_hashes("t", n, stride))).alias("h"),
    )
    df_rel = chunks.groupBy("source", "h").agg(F.count(F.lit(1)).alias("d"))
    # Every doc that passes the size filter contributes >=1 chunk, so
    # the per-source doc count can come from the cheap pre-explode
    # relation — the second corpus scan skips the shingle explode +
    # distinct entirely (doc_id is unique, so a plain count suffices).
    nd = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    boiler = F.when(
        F.col("d")
        >= F.greatest(F.lit(3).cast("double"), F.lit(0.05) * F.col("n_docs")),
        1,
    ).otherwise(0)
    return (
        df_rel.join(F.broadcast(nd), "source")
        .select("source", "d", "n_docs", boiler.alias("boiler"))
        .groupBy("source")
        .agg(
            F.max("n_docs").cast("long").alias("n_docs"),
            F.sum("d").cast("long").alias("n_chunk_instances"),
            F.count(F.lit(1)).alias("n_distinct_chunks"),
            F.sum("boiler").cast("long").alias("n_boiler_chunks"),
            F.sum(F.when(F.col("boiler") == 1, F.col("d")).otherwise(0))
            .cast("long")
            .alias("boiler_doc_instances"),
            (F.sum("boiler").cast("double") / F.count(F.lit(1))).alias(
                "boiler_rate"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Class balancing: equalized downsample by label
# ---------------------------------------------------------------------------


@query(
    "label_balance_resample",
    oracle="""
    WITH counts AS (
        SELECT label, count(*) AS n_orig FROM embeddings GROUP BY label
    ),
    quota AS (SELECT min(n_orig) AS m FROM counts),
    ranked AS (
        SELECT label, vec_id,
               row_number() OVER (
                   PARTITION BY label
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings
    ),
    kept AS (
        SELECT label, vec_id FROM ranked, quota WHERE rn <= m
    )
    SELECT c.label,
           CAST(c.n_orig AS BIGINT) AS n_orig,
           count(k.vec_id) AS n_kept,
           CAST(sum(k.vec_id) AS BIGINT) AS kept_id_sum,
           CAST(min(k.vec_id) AS BIGINT) AS kept_id_min,
           CAST(max(k.vec_id) AS BIGINT) AS kept_id_max
    FROM counts c JOIN kept k ON k.label = c.label
    GROUP BY c.label, c.n_orig ORDER BY c.label
    """,
)
def label_balance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance equalization for supervised training data: every
    label is deterministically downsampled to the MINORITY class size
    (the quota = min per-label count), with the kept set chosen by
    hash rank (md5 of the id) so the sample is reproducible
    cross-engine and stable under re-runs — the equalizing complement
    of `stratified_sample_per_source` (fixed-rate strata) and
    `data_mix_weighted_sample` (target mixture rates). Emits the
    per-label ledger plus id-sum/min/max fingerprints of the kept set
    so the value hash pins WHICH rows were kept, not just how many.

    Scale shape: one count aggregate, a 1-row quota broadcast, one
    rank shuffle on label (the per-label window is the same partition
    the groupBy already made), and the kept-set rollup — no global
    sort, no driver data. Label skew is bounded by class cardinality;
    salting the rank window is the 100 TB escape hatch if one class
    dwarfs the rest."""
    e = load_table(spark, sf_dir, "embeddings")
    counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_orig"))
    quota = counts.agg(F.min("n_orig").alias("m"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    kept = (
        e.select("label", "vec_id")
        .withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(quota))
        .filter(F.col("rn") <= F.col("m"))
    )
    return (
        kept.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("vec_id").cast("long").alias("kept_id_sum"),
            F.min("vec_id").cast("long").alias("kept_id_min"),
            F.max("vec_id").cast("long").alias("kept_id_max"),
        )
        .join(F.broadcast(counts), "label")
        .select(
            "label",
            F.col("n_orig").cast("long").alias("n_orig"),
            "n_kept",
            "kept_id_sum",
            "kept_id_min",
            "kept_id_max",
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Multi-objective selection: Pareto frontier
# ---------------------------------------------------------------------------


@query(
    "pareto_frontier_docs",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(list_distinct(
                   list_filter(string_split(text, ' '), t -> t <> '')
               )) AS BIGINT) AS n_types,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM documents
    ),
    pairs AS (
        SELECT n_types, n_chars, count(*) AS n_docs
        FROM scored GROUP BY n_types, n_chars
    ),
    dom AS (
        SELECT n_types, n_chars, n_docs,
               min(n_chars) OVER (
                   ORDER BY n_types
                   RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ) AS best_higher,
               min(n_chars) OVER (PARTITION BY n_types) AS best_same
        FROM pairs
    ),
    frontier AS (
        SELECT n_types, n_chars, n_docs FROM dom
        WHERE (best_higher IS NULL OR best_higher > n_chars)
          AND best_same >= n_chars
    )
    SELECT s.doc_id, s.n_types, s.n_chars
    FROM scored s JOIN frontier f
      ON s.n_types = f.n_types AND s.n_chars = f.n_chars
    ORDER BY s.n_types DESC, s.n_chars, s.doc_id
    """,
)
def pareto_frontier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal document set under two competing curation
    objectives — maximize vocabulary richness (distinct token count),
    minimize length (training-token cost): a document is kept iff no
    other document is at least as good on both axes and strictly
    better on one. The multi-objective selection primitive behind
    quality-vs-cost tradeoff curves that single-score gates
    (`quality_percentile_gate`) flatten away. All-integer objectives,
    so the dominance comparisons are engine-exact.

    Scale shape (r13): the corpus reduces in ONE
    scan to DISTINCT objective pairs carrying their doc lists
    (`collect_list` rides the cell groupBy), localCheckpointed so the
    dominance branch and the survivor join-back share the single
    tokenize pass — the previous two-branch shape re-scanned and
    re-tokenized the corpus for the join-back (interleaved A/B:
    sf0.1 1.00→0.78 s min, sf1 1.08→0.95). The dominance sweep runs
    as two windows over the SKINNY pair projection — min cost over
    strictly-better quality via a value-RANGE frame, min cost within
    the quality tie group — so the global-order window never carries
    doc lists; surviving cells join back broadcast and explode."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    scored = d.select(
        "doc_id",
        F.size(F.array_distinct(toks)).cast("long").alias("n_types"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    cells = (
        scored.groupBy("n_types", "n_chars")
        .agg(F.collect_list("doc_id").alias("doc_ids"))
        .localCheckpoint()
    )
    pairs = cells.select("n_types", "n_chars")
    w_higher = Window.orderBy("n_types").rangeBetween(
        1, Window.unboundedFollowing
    )
    w_same = Window.partitionBy("n_types")
    dom = pairs.select(
        "n_types",
        "n_chars",
        F.min("n_chars").over(w_higher).alias("best_higher"),
        F.min("n_chars").over(w_same).alias("best_same"),
    )
    frontier = dom.filter(
        (F.col("best_higher").isNull() | (F.col("best_higher") > F.col("n_chars")))
        & (F.col("best_same") >= F.col("n_chars"))
    ).select("n_types", "n_chars")
    return (
        cells.join(F.broadcast(frontier), ["n_types", "n_chars"])
        .select(F.explode("doc_ids").alias("doc_id"), "n_types", "n_chars")
        .orderBy(F.desc("n_types"), "n_chars", "doc_id")
    )


# ---------------------------------------------------------------------------
# Spatial: grid-bucketed neighbor join
# ---------------------------------------------------------------------------


@query(
    "geo_grid_neighbor_pairs",
    oracle="""
    WITH pts AS (
        SELECT DISTINCT user_id,
               (user_id * 2654435761) % 100000 AS px,
               (user_id * 40503 + 12345) % 100000 AS py
        FROM events
    ),
    cells AS (
        SELECT user_id, px, py, px // 5000 AS cx, py // 5000 AS cy FROM pts
    ),
    reps AS (
        SELECT c.user_id, c.px, c.py, c.cx + dx.o AS rx, c.cy + dy.o AS ry
        FROM cells c,
             (SELECT unnest(range(-1, 2)) AS o) dx,
             (SELECT unnest(range(-1, 2)) AS o) dy
    ),
    cand AS (
        SELECT a.user_id AS ua, b.user_id AS ub,
               (a.px - b.px) * (a.px - b.px)
               + (a.py - b.py) * (a.py - b.py) AS d2
        FROM cells a JOIN reps b
          ON a.cx = b.rx AND a.cy = b.ry AND a.user_id < b.user_id
    )
    SELECT (SELECT count(*) FROM pts) AS n_points,
           count(*) AS n_candidate_pairs,
           CAST(sum(CASE WHEN d2 < 2500 * 2500 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_close_pairs,
           CAST(min(d2) AS BIGINT) AS min_dist2,
           (SELECT CAST(max(n) AS BIGINT) FROM
               (SELECT count(*) AS n FROM cells GROUP BY cx, cy))
               AS max_cell_points
    FROM cand
    """,
)
def geo_grid_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial neighbor join — the geohash/S2 pattern
    that makes radius queries tractable at scale: each point lands in
    one grid cell, is REPLICATED into its 9-cell neighborhood, and
    candidate pairs come from an equi-join on the cell key (the
    smaller id's home cell against the larger id's replicas, so every
    unordered pair within one cell width surfaces exactly once — no
    DISTINCT pass). The radius test then runs only on grid-local
    candidates, never all pairs. The fixture warehouse has no
    geo columns, so coordinates derive deterministically from ids via
    a Knuth multiplicative hash — every quantity in the pipeline
    (coordinates, cells, squared distances) is INTEGER arithmetic,
    bit-identical cross-engine with no trig or float rounding
    anywhere.

    Scale shape: one 9x replication explode, one equi-join on the
    fixed-width cell key (skew bounded by densest cell — reported as
    max_cell_points, the signal for when to split hot cells), and a
    scalar rollup. The same plan serves real lat/lon after a
    deg→grid quantization."""
    e = load_table(spark, sf_dir, "events")
    pts = e.select("user_id").distinct().select(
        "user_id",
        ((F.col("user_id") * F.lit(2654435761)) % F.lit(100000)).alias("px"),
        ((F.col("user_id") * F.lit(40503) + F.lit(12345)) % F.lit(100000)).alias(
            "py"
        ),
    )
    cells = pts.select(
        "user_id", "px", "py",
        F.expr("px DIV 5000").alias("cx"),
        F.expr("py DIV 5000").alias("cy"),
    )
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    reps = (
        cells.withColumn("ox", off)
        .withColumn("oy", off)
        .select(
            F.col("user_id").alias("ub_id"),
            F.col("px").alias("bpx"),
            F.col("py").alias("bpy"),
            (F.col("cx") + F.col("ox")).alias("rx"),
            (F.col("cy") + F.col("oy")).alias("ry"),
        )
    )
    d2 = (F.col("px") - F.col("bpx")) * (F.col("px") - F.col("bpx")) + (
        F.col("py") - F.col("bpy")
    ) * (F.col("py") - F.col("bpy"))
    cand = cells.join(
        reps,
        (F.col("cx") == F.col("rx"))
        & (F.col("cy") == F.col("ry"))
        & (F.col("user_id") < F.col("ub_id")),
    ).select(d2.alias("d2"))
    n_points = pts.agg(F.count(F.lit(1)).alias("n_points"))
    max_cell = cells.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).alias("n")
    ).agg(F.max("n").cast("long").alias("max_cell_points"))
    return (
        cand.agg(
            F.count(F.lit(1)).alias("n_candidate_pairs"),
            F.sum(F.when(F.col("d2") < F.lit(2500 * 2500), 1).otherwise(0))
            .cast("long")
            .alias("n_close_pairs"),
            F.min("d2").cast("long").alias("min_dist2"),
        )
        .crossJoin(F.broadcast(n_points))
        .crossJoin(F.broadcast(max_cell))
        .select(
            "n_points",
            "n_candidate_pairs",
            "n_close_pairs",
            "min_dist2",
            "max_cell_points",
        )
    )


@query(
    "compressibility_quality_score",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
           TRUE AS ratios_in_range,
           TRUE AS mean_compresses
    FROM documents GROUP BY source ORDER BY source
    """,
)
def compressibility_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style compressibility signal: a document's
    zlib-compressed-size ratio is a cheap, model-free
    quality/repetition proxy — templated or boilerplate-heavy text
    compresses far below natural prose, random noise barely compresses
    at all. Per-source rollup of the per-doc ratio (micro-unit
    integers, deterministic for a fixed zlib) gives the curation
    dashboard its compression column; thresholds combine with
    `repetition_filter_gopher` and `quality_filter_chain`.

    Oracle-gated audit (r12 promotion from rows-only — deflate itself
    is not SQL-expressible): the output is the exact per-source doc
    and UTF-8 byte counts plus two bound flags — every per-doc ratio
    in (0, 2.0x] OR within zlib's additive worst case
    (compressed <= n_bytes + 72, the arm that keeps the bound a real
    invariant for very short docs, where fixed header overhead alone
    exceeds any multiplicative ceiling) and the per-source MEAN strictly
    compressing (< 1.0x, the natural-text property the signal relies
    on). The oracle computes the exact sides (DuckDB strlen = UTF-8
    bytes) and asserts the bounds (TRUE literals); the ratio values
    stay internal, with the repetitive < natural < noise ordering
    pinned in pytest (`tests/test_compressibility.py`).

    Scale shape: one narrow Arrow-batched mapInPandas over the
    storage partitioning (text never shuffles), then a source-keyed
    rollup of fixed-width integers."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")

    def run(batches):
        import zlib

        for pdf in batches:
            texts = pdf["text"]
            nbytes = [len(t.encode("utf-8")) for t in texts]
            ratios = [
                (len(zlib.compress(t.encode("utf-8"), 6)) * 1_000_000)
                // max(nb, 1)
                for t, nb in zip(texts, nbytes)
            ]
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "ratio_micro": ratios,
                    "n_bytes": nbytes,
                }
            )

    scored = d.select("source", "text").mapInPandas(
        run, schema="source string, ratio_micro long, n_bytes long"
    )
    # per-doc ceiling: 2.0x for normal docs, but zlib's FIXED overhead
    # (~8-12 bytes of header/trailer plus 5 bytes per stored block)
    # pushes very short docs far past any multiplicative bound (a
    # 1-byte doc "compresses" to ~9 bytes = 9.0x), so the short-doc
    # escape is additive: compressed <= n_bytes + 72 covers zlib's
    # worst case whenever the 2.0x arm doesn't (they cross at ~12
    # bytes; 72 = 5*ceil(16383/16383) + 6 + slack, and for docs large
    # enough that stored-block overhead exceeds 72 the 2.0x arm is
    # loose by construction). ratio_micro*n_bytes <= compressed*1e6,
    # so the check stays in exact integer arithmetic.
    in_range = (F.col("ratio_micro") > 0) & (
        (F.col("ratio_micro") <= 2_000_000)
        | (
            F.col("ratio_micro") * F.col("n_bytes")
            <= (F.col("n_bytes") + F.lit(72)) * F.lit(1_000_000)
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.min(in_range).alias("ratios_in_range"),
            (
                (F.sum("ratio_micro") / F.count(F.lit(1))) < F.lit(1_000_000.0)
            ).alias("mean_compresses"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# r8 curation additions: mixture balance, n-gram novelty, URL
# canonicalization dedup.
# ---------------------------------------------------------------------------


@query(
    "topic_balance_entropy",
    oracle=f"""
    WITH cells AS (
        SELECT source, lang, count(*) AS c
        FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT source, sum(c) AS t, count(*) AS n_langs
            FROM cells GROUP BY source),
    ent AS (
        SELECT c.source,
               CAST(t.t AS BIGINT) AS n_docs,
               CAST(t.n_langs AS BIGINT) AS n_langs,
               -sum((CAST(c.c AS DOUBLE) / t.t)
                    * ln(CAST(c.c AS DOUBLE) / t.t)) AS h
        FROM cells c JOIN tot t USING (source)
        GROUP BY c.source, t.t, t.n_langs
    )
    SELECT source, n_docs, n_langs,
           {round_sql("h", 6)} AS entropy,
           {round_sql("exp(h)", 4)} AS effective_langs,
           {round_sql(
               "CASE WHEN n_langs > 1 THEN h / ln(CAST(n_langs AS DOUBLE)) "
               "ELSE 0.0 END", 4
           )} AS balance
    FROM ent ORDER BY source
    """,
)
def topic_balance_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix balance: Shannon entropy of the lang
    distribution, its exponential (effective number of languages —
    the perplexity of the mix), and entropy normalized by ln(K)
    (1.0 = perfectly balanced). The mixture-health dashboard a
    training-data curator reads before reweighting sources.

    Scale shape: one groupBy collapses the corpus to source×lang
    cells; everything after runs on that bounded cell table. The
    entropy sum spans ≤K≈5 terms per source, so float-order effects
    sit far below the 6-decimal rendering."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    tot = cells.groupBy("source").agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("n_langs")
    )
    p = F.col("c").cast("double") / F.col("t")
    ent = (
        cells.join(F.broadcast(tot), "source")
        .groupBy("source", "t", "n_langs")
        .agg((-F.sum(p * F.log(p))).alias("h"))
    )
    return ent.select(
        "source",
        F.col("t").cast("long").alias("n_docs"),
        F.col("n_langs").cast("long").alias("n_langs"),
        round_col(F.col("h"), 6).alias("entropy"),
        round_col(F.exp(F.col("h")), 4).alias("effective_langs"),
        round_col(
            F.when(
                F.col("n_langs") > 1,
                F.col("h") / F.log(F.col("n_langs").cast("double")),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("balance"),
    ).orderBy("source")


@query(
    "ngram_novelty_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS tokens
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(tokens[i:i+2], ' ') AS gram
        FROM toks, unnest(range(1, len(tokens) - 3 + 2)) AS t(i)
    ),
    owner AS (
        SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
    ),
    per_doc AS (
        SELECT g.doc_id, g.source,
               count(*) AS n_grams,
               count(*) FILTER (WHERE o.first_doc = g.doc_id) AS n_novel
        FROM grams g JOIN owner o ON g.gram = o.gram
        GROUP BY g.doc_id, g.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           {round_sql("avg(100.0 * n_novel / n_grams)", 4)}
               AS avg_novelty_pct,
           {round_sql("min(100.0 * n_novel / n_grams)", 4)}
               AS min_novelty_pct,
           {round_sql("max(100.0 * n_novel / n_grams)", 4)}
               AS max_novelty_pct
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram novelty: for each document, the share of its distinct
    trigrams whose FIRST appearance (by doc_id order) is in that
    document — low novelty flags near-boilerplate additions to a
    corpus; the per-source rollup ranks sources by how much genuinely
    new text they contribute.

    Scale shape: explode to (doc, trigram), one groupBy on the gram
    finds each gram's first owner, one co-keyed join marks novelty,
    one groupBy rolls up — every shuffle keys on gram or doc, no
    pairwise comparisons anywhere (contrast jaccard_pairs: novelty is
    the linear-cost screen you run BEFORE pairwise verification)."""
    d = load_table(spark, sf_dir, "documents")
    toks = _spread(
        d.select(
            "doc_id", "source", F.split("text", " ").alias("tokens")
        ).filter(F.size("tokens") >= 3),
        spark,
        "doc_id",
    )
    # r13 optimization: the per-doc gram distinct is
    # row-local (array_distinct before the explode — the old
    # explode→.distinct() Exchange is gone), and each gram's first
    # owner comes from min(doc_id) OVER (PARTITION BY gram) on the
    # same rows instead of a groupBy + join-back — one Exchange on
    # the gram replaces the old aggregate Exchange PLUS the join.
    # Plan: 4 Exchanges → 2 (gram window, per-doc rollup).
    grams = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("tokens") - 2),
                    lambda i: F.concat_ws(" ", F.slice("tokens", i, 3)),
                )
            )
        ).alias("gram"),
    )
    first_doc = F.min("doc_id").over(Window.partitionBy("gram"))
    per_doc = (
        grams.withColumn("first_doc", first_doc)
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    pct = F.lit(100.0) * F.col("n_novel") / F.col("n_grams")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            round_col(F.avg(pct), 4).alias("avg_novelty_pct"),
            round_col(F.min(pct), 4).alias("min_novelty_pct"),
            round_col(F.max(pct), 4).alias("max_novelty_pct"),
        )
        .orderBy("source")
    )


# Deterministic messy-URL builder for url_canonicalize_dedup: four
# raw variants per canonical target, keyed on doc_id % 4. The Spark
# and DuckDB expressions build IDENTICAL strings, so the
# canonicalizer is exercised on a fixture both engines agree on —
# the same synthetic-payload pattern the multimodal queries use.
_URL_CANON_STEPS = [
    # (description, regex, replacement) applied in order to lower(url)
    ("strip fragment", r"#.*$", ""),
    ("strip default https port", r":443/", "/"),
    ("strip www prefix", r"^https://www\.", "https://"),
    ("strip utm params", r"utm_[a-z]+=[^&#]*&?", ""),
    ("strip empty query tail", r"[?&]+$", ""),
    ("strip trailing slash", r"/$", ""),
]


@query(
    "url_canonicalize_dedup",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, source,
               CASE CAST(doc_id % 4 AS INT)
                 WHEN 0 THEN 'https://www.' || source ||
                      '.example.com/articles/' || (doc_id // 4)
                 WHEN 1 THEN 'HTTPS://WWW.' || upper(source) ||
                      '.EXAMPLE.COM/articles/' || (doc_id // 4)
                 WHEN 2 THEN 'https://www.' || source ||
                      '.example.com/articles/' || (doc_id // 4) ||
                      '/?utm_source=feed&utm_campaign=x'
                 ELSE 'https://www.' || source ||
                      '.example.com:443/articles/' || (doc_id // 4) ||
                      '#section-2'
               END AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id, source,
               regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(regexp_replace(
                   lower(url),
                   '#.*$', ''),
                   ':443/', '/'),
                   '^https://www\\.', 'https://'),
                   'utm_[a-z]+=[^&#]*&?', '', 'g'),
                   '[?&]+$', ''),
                   '/$', '') AS canonical_url
        FROM raw
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
           {round_sql(
               "100.0 * (count(*) - count(DISTINCT canonical_url)) "
               "/ count(*)", 4
           )} AS dup_pct,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM canon GROUP BY source ORDER BY source
    """,
)
def url_canonicalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup accounting: normalize scheme/host
    case, strip the default port, the `www.` prefix, fragments,
    `utm_*` tracking parameters, and trailing slashes, then count how
    many raw URLs collapse into each canonical form per source — the
    standard first dedup pass over a web crawl, where the same page
    arrives under dozens of surface spellings.

    The raw URLs are built deterministically from doc attributes
    (four messy variants per canonical target, selected by
    doc_id % 4) so both engines canonicalize an identical fixture;
    the canonicalizer itself is the regex chain in
    `_URL_CANON_STEPS`, applied in order.

    Scale shape: pure per-row string work (no UDF — built-in
    regexp_replace chains, JVM codegen) followed by one
    groupBy(source) with a distinct-count on the canonical key;
    at 100 TB the distinct-count shuffles on (source, canonical_url)
    — exactly the hash-dedup shuffle `dedup_exact` uses."""
    d = load_table(spark, sf_dir, "documents")
    n = (F.col("doc_id") / 4).cast("long")
    base = F.concat(
        F.lit("https://www."), F.col("source"),
        F.lit(".example.com/articles/"), n,
    )
    raw = d.select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 4 == 0, base)
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("HTTPS://WWW."), F.upper("source"),
                F.lit(".EXAMPLE.COM/articles/"), n,
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(base, F.lit("/?utm_source=feed&utm_campaign=x")),
        )
        .otherwise(
            F.concat(
                F.lit("https://www."), F.col("source"),
                F.lit(".example.com:443/articles/"), n,
                F.lit("#section-2"),
            )
        )
        .alias("url"),
    )
    canon = F.lower(F.col("url"))
    for _desc, pat, rep in _URL_CANON_STEPS:
        canon = F.regexp_replace(canon, pat, rep)
    canon_df = raw.select("doc_id", "source", canon.alias("canonical_url"))
    return (
        canon_df.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_raw"),
            F.countDistinct("canonical_url").cast("long").alias("n_canonical"),
            round_col(
                F.lit(100.0)
                * (F.count(F.lit(1)) - F.countDistinct("canonical_url"))
                / F.count(F.lit(1)),
                4,
            ).alias("dup_pct"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("source")
    )


# Bloom-filter membership prefilter: m = 69 words x 60 bits = 4140
# bit positions, k = 3 salted hashes. 60-bit words keep every mask
# 1<<b strictly positive in a signed 64-bit integer on both engines
# (1<<63 would overflow DuckDB's checked BIGINT shift).
_BLOOM_WORD_BITS = 60
_BLOOM_BITS = 4140
_BLOOM_K = 3


@query(
    "bloom_filter_prefilter",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id,
               md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp
        FROM documents
    ),
    corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id >= 100),
    batch AS (SELECT doc_id, fp FROM fp WHERE doc_id < 100),
    corpus_pos AS (
        SELECT DISTINCT
               CAST('0x' || substr(md5(fp || ':' || k), 1, 3) AS BIGINT)
                   % {_BLOOM_BITS} AS pos
        FROM corpus, unnest(range({_BLOOM_K})) AS t(k)
    ),
    bloom AS (
        SELECT pos // {_BLOOM_WORD_BITS} AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD_BITS} AS INT))
                   AS bits
        FROM corpus_pos GROUP BY 1
    ),
    probe AS (
        SELECT b.doc_id,
               CAST('0x' || substr(md5(b.fp || ':' || k), 1, 3) AS BIGINT)
                   % {_BLOOM_BITS} AS pos
        FROM batch b, unnest(range({_BLOOM_K})) AS t(k)
    ),
    hits AS (
        SELECT p.doc_id,
               CASE WHEN w.bits IS NOT NULL
                    AND (w.bits & (CAST(1 AS BIGINT)
                         << CAST(p.pos % {_BLOOM_WORD_BITS} AS INT)))
                        = (CAST(1 AS BIGINT)
                         << CAST(p.pos % {_BLOOM_WORD_BITS} AS INT))
                    THEN 1 ELSE 0 END AS hit
        FROM probe p LEFT JOIN bloom w ON w.word = p.pos // {_BLOOM_WORD_BITS}
    ),
    verdicts AS (
        SELECT doc_id, min(hit) AS bloom_pass FROM hits GROUP BY doc_id
    ),
    truth AS (
        SELECT b.doc_id,
               CASE WHEN EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
                    THEN 1 ELSE 0 END AS is_member
        FROM batch b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_batch,
           CAST(sum(t.is_member) AS BIGINT) AS n_members,
           CAST(sum(v.bloom_pass) AS BIGINT) AS n_bloom_pass,
           CAST(sum(CASE WHEN v.bloom_pass = 1 AND t.is_member = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(sum(CASE WHEN v.bloom_pass = 0 AND t.is_member = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
           {round_sql(
               "100.0 * sum(CASE WHEN v.bloom_pass = 1 AND t.is_member = 0 "
               "THEN 1 ELSE 0 END) "
               "/ greatest(count(*) - sum(t.is_member), 1)", 4
           )} AS fpr_pct
    FROM verdicts v JOIN truth t USING (doc_id)
    """,
)
def bloom_filter_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch distributed Bloom filter as the membership
    PREFILTER for incremental dedup: the corpus's 8-token-prefix
    fingerprints build a 4140-bit / 3-hash filter (69 sixty-bit
    words via bit_or — KILOBYTES of broadcastable state), the
    incoming batch probes it, and the output ledger counts bloom
    passes vs exact membership — n_false_neg is structurally 0 (the
    Bloom guarantee, asserted by pytest), and fpr_pct is the price
    of skipping the exact anti-join for the ~88% of the batch the
    filter clears. At 100 TB this replaces shipping the corpus hash
    index to every executor with a per-word OR-aggregate that
    reduces to a 69-row broadcast (Spark's own runtime bloom-join
    filters use exactly this shape; built manually here because
    `bloom_filter_agg` isn't in the public function registry).

    Portability: positions come from 3-hex-char md5 prefixes
    (CAST('0x'||... ) ≙ conv(...,16,10)), words are 60-bit so every
    mask stays positive in signed 64-bit on both engines, and all
    arithmetic is integer — the oracle is exact."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))
        ).alias("fp"),
    )
    corpus = fp.filter(F.col("doc_id") >= 100).select("fp").distinct()
    batch = fp.filter(F.col("doc_id") < 100)

    def positions(fp_col):
        return F.explode(
            F.array(
                *[
                    (
                        F.conv(
                            F.substring(
                                F.md5(F.concat(fp_col, F.lit(f":{k}"))), 1, 3
                            ),
                            16,
                            10,
                        ).cast("long")
                        % _BLOOM_BITS
                    )
                    for k in range(_BLOOM_K)
                ]
            )
        )

    # pyspark's F.shiftleft only takes a literal shift amount; the SQL
    # function accepts a column, so the mask goes through F.expr.
    word = F.expr(f"pos div {_BLOOM_WORD_BITS}")
    mask = F.expr(
        f"shiftleft(CAST(1 AS LONG), CAST(pos % {_BLOOM_WORD_BITS} AS INT))"
    )
    bloom = (
        corpus.select(positions(F.col("fp")).alias("pos"))
        .distinct()
        .select(word.alias("word"), mask.alias("m"))
        .groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
    )
    probe = batch.select("doc_id", positions(F.col("fp")).alias("pos")).select(
        "doc_id", word.alias("word"), mask.alias("m")
    )
    hits = probe.join(F.broadcast(bloom), "word", "left").select(
        "doc_id",
        F.when(
            F.col("bits").isNotNull()
            & (F.col("bits").bitwiseAND(F.col("m")) == F.col("m")),
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    verdicts = hits.groupBy("doc_id").agg(F.min("hit").alias("bloom_pass"))
    truth = batch.join(
        corpus.withColumnRenamed("fp", "cfp"),
        F.col("fp") == F.col("cfp"),
        "left_semi",
    ).select("doc_id").withColumn("m1", F.lit(1))
    labeled = (
        verdicts.join(truth, "doc_id", "left")
        .select(
            "bloom_pass", F.coalesce(F.col("m1"), F.lit(0)).alias("is_member")
        )
    )
    fpr = F.lit(100.0) * F.sum(
        F.when((F.col("bloom_pass") == 1) & (F.col("is_member") == 0), 1).otherwise(0)
    ) / F.greatest(
        F.count(F.lit(1)) - F.sum("is_member"), F.lit(1)
    )
    return labeled.agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.sum("is_member").cast("long").alias("n_members"),
        F.sum("bloom_pass").cast("long").alias("n_bloom_pass"),
        F.sum(
            F.when((F.col("bloom_pass") == 1) & (F.col("is_member") == 0), 1).otherwise(0)
        ).cast("long").alias("n_false_pos"),
        F.sum(
            F.when((F.col("bloom_pass") == 0) & (F.col("is_member") == 1), 1).otherwise(0)
        ).cast("long").alias("n_false_neg"),
        round_col(fpr, 4).alias("fpr_pct"),
    )


# ---------------------------------------------------------------------------
# dp_noisy_counts — ε-differentially-private release via a portable
# integer noise mechanism
# ---------------------------------------------------------------------------

def _dlap_thresholds(k_max: int = 16) -> list[tuple[str, int]]:
    """Inverse-CDF thresholds for the two-sided geometric (discrete
    Laplace) distribution with α = 1/2 — i.e. ε = ln 2 under unit
    sensitivity: P(0) = 1/3, P(±k) = (1/3)·2^{-k}. Computed with
    exact rationals and scaled to the 48-bit space of a 12-hex-char
    md5 prefix, so BOTH engines sample the identical noise from the
    identical hash with pure string comparison — no float, no libm,
    no RNG state. Tails beyond ±k_max (mass 2^{-k_max} ≈ 1.5e-5)
    clamp to ±k_max."""
    from fractions import Fraction

    scale = 16 ** 12
    cum = Fraction(0)
    out = []
    for k in range(-k_max, k_max):
        p = Fraction(1, 3) * Fraction(1, 2) ** abs(k)
        cum += p
        out.append((format(int(cum * scale), "012x"), k))
    return out  # u >= last threshold → k_max


def _dlap_case_sql(hash_expr: str) -> str:
    branches = "".join(
        f" WHEN {hash_expr} < '{t}' THEN CAST({k} AS BIGINT)"
        for t, k in _dlap_thresholds()
    )
    return f"(CASE{branches} ELSE CAST(16 AS BIGINT) END)"


@query(
    "dp_noisy_counts",
    oracle=f"""
    WITH counts AS (
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY o_orderpriority
    ),
    noised AS (
        SELECT o_orderpriority, n,
               {_dlap_case_sql("substr(md5(o_orderpriority || '|dp-r8'), 1, 12)")}
                   AS noise
        FROM counts
    )
    SELECT o_orderpriority,
           CAST(greatest(n + noise, 0) AS BIGINT) AS noisy_count
    FROM noised ORDER BY o_orderpriority
    """,
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private order counts per priority (ε = ln 2,
    sensitivity 1) via the GEOMETRIC MECHANISM — the discrete analog
    of Laplace noise (Ghosh-Roughgarden-Sundararajan's universally
    optimal mechanism for counts): noise ~ two-sided geometric with
    α = e^{-ε} = 1/2, added to each true count, clamped at 0.

    The release is reproducible-yet-private-in-form: noise is drawn
    by inverse-CDF lookup of a 48-bit md5 prefix of the group key
    against EXACT rational thresholds precomputed at plan-build time
    (`_dlap_thresholds`) — the whole mechanism is integer/string
    arithmetic, bit-identical across engines (production would swap
    the keyed hash for a fresh secret per release; the mechanism,
    sensitivity accounting, and clamping are exactly what ships).
    Tail mass beyond ±16 (≈1.5e-5) clamps — a ±16-bounded, still
    DP-valid variant. Scale shape: ONE grouped aggregate collapses
    the corpus; the noise CASE chain is constant-folded per group
    row. Only the noisy BIGINTs leave the engine."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    noise = F.expr(
        _dlap_case_sql("substr(md5(concat(o_orderpriority, '|dp-r8')), 1, 12)")
    )
    return (
        counts.select(
            "o_orderpriority",
            F.greatest(F.col("n") + noise, F.lit(0)).cast("long").alias(
                "noisy_count"
            ),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "neyman_allocation_sample",
    oracle=f"""
    WITH g AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS s1,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
        FROM documents GROUP BY source
    ),
    sig AS (
        SELECT source, n_docs,
               sqrt((CAST(n_docs AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                    / (CAST(n_docs AS DOUBLE) * (n_docs - 1))) AS sigma
        FROM g
    ),
    w AS (
        SELECT source, n_docs, sigma,
               n_docs * sigma AS wh,
               sum(n_docs * sigma) OVER () AS w_all
        FROM sig
    )
    SELECT source, n_docs,
           {round_sql("sigma", 4)} AS sigma_chars,
           CAST(floor(1000 * wh / w_all) AS BIGINT) AS n_alloc
    FROM w ORDER BY source
    """,
)
def neyman_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation: split a
    1000-document labeling/eval budget across sources proportional to
    N_h·σ_h (stratum size × within-stratum std-dev of document
    length) — the variance-minimizing allocation for estimating a
    corpus mean, and the principled upgrade over proportional
    allocation when strata differ in spread (the companion sampler
    `stratified_sample_per_source` draws the rows; this computes how
    many each stratum deserves).

    Determinism: σ comes from exact-BIGINT sufficient statistics
    (N·Σy²−(Σy)², order-independent integer sums; Σy² stays inside
    int64 through sf1 — beyond that, switch to centered two-pass
    moments), the only cross-engine float sum is the 5-term Σ N_hσ_h
    (partitionless window, ulp-level), and the floor allocation sits
    ~1e13 away from its rounding boundary. Scale shape: one grouped
    scan to k strata rows; everything after is scalar arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("s2"),
    )
    nd = F.col("n_docs").cast("double")
    sigma = F.sqrt(
        (nd * F.col("s2") - F.col("s1").cast("double") * F.col("s1"))
        / (nd * (F.col("n_docs") - 1))
    )
    sig = g.select("source", "n_docs", sigma.alias("sigma"))
    w_all = Window.partitionBy()
    w = sig.select(
        "source",
        "n_docs",
        "sigma",
        (F.col("n_docs") * F.col("sigma")).alias("wh"),
        F.sum(F.col("n_docs") * F.col("sigma")).over(w_all).alias("w_all"),
    )
    return w.select(
        "source",
        "n_docs",
        round_col(F.col("sigma"), 4).alias("sigma_chars"),
        F.floor(1000 * F.col("wh") / F.col("w_all")).cast("long").alias(
            "n_alloc"
        ),
    ).orderBy("source")


def _ht_pi_thresh(pi: float) -> str:
    return format(int(pi * 16 ** 12), "012x")


def _ht_case_sql(u: str) -> tuple[str, str]:
    """(include_predicate, y_over_pi) SQL fragments shared verbatim by
    the Spark query and the DuckDB oracle. The inclusion probabilities
    are fixed length bands (< 500, < 1500, < 3000 chars, else 1) with
    EXACTLY-REPRESENTABLE dyadic values 1/8, 1/4, 1/2, so y/pi is
    integer arithmetic (y*8, y*4, y*2, y) and the md5-prefix inclusion
    thresholds are exact 48-bit integers in both engines."""
    inc = (
        f"(CASE WHEN n_chars < 500 THEN {u} < '{_ht_pi_thresh(0.125)}' "
        f"WHEN n_chars < 1500 THEN {u} < '{_ht_pi_thresh(0.25)}' "
        f"WHEN n_chars < 3000 THEN {u} < '{_ht_pi_thresh(0.5)}' "
        f"ELSE TRUE END)"
    )
    yop = (
        "(CASE WHEN n_chars < 500 THEN n_chars * 8 "
        "WHEN n_chars < 1500 THEN n_chars * 4 "
        "WHEN n_chars < 3000 THEN n_chars * 2 "
        "ELSE n_chars END)"
    )
    return inc, yop


@query(
    "horvitz_thompson_total",
    oracle=(lambda inc, yop: f"""
    WITH marked AS (
        SELECT n_chars, {inc} AS inc, {yop} AS y_over_pi
        FROM (
            SELECT n_chars,
                   substr(md5(CAST(doc_id AS VARCHAR) || '|ht-r8'), 1, 12)
                       AS u
            FROM documents
        )
    )
    SELECT CAST(count(*) AS BIGINT) AS n_population,
           CAST(sum(CASE WHEN inc THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(sum(n_chars) AS BIGINT) AS true_total,
           CAST(sum(CASE WHEN inc THEN y_over_pi ELSE 0 END) AS BIGINT)
               AS ht_total,
           {round_sql(
               "(sum(CASE WHEN inc THEN y_over_pi ELSE 0 END)"
               " - CAST(sum(n_chars) AS DOUBLE))"
               " / sum(n_chars)", 6)} AS rel_err
    FROM marked
    """)(*_ht_case_sql("u")),
)
def horvitz_thompson_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimation of total corpus characters from an
    unequal-probability sample: long documents are sampled at higher
    rates (π ∈ {⅛,¼,½,1} by length band — the bands where the mass
    lives get the coverage), and the estimator Σ_{sampled} yᵢ/πᵢ is
    unbiased for the population total — the design-based foundation
    under every size-biased corpus audit, with the realized relative
    error reported against the exact total.

    Determinism: inclusion is an md5-prefix threshold against exact
    48-bit dyadic constants (same mechanism as `dp_noisy_counts`'s
    inverse-CDF — string compare, no RNG), and because every π is a
    power of two, yᵢ/πᵢ is INTEGER arithmetic — the estimate is an
    exact BIGINT in both engines; the only double is the final
    relative error. Scale shape: one scan, one aggregate — the
    sample never materializes."""
    d = load_table(spark, sf_dir, "documents")
    inc_sql, yop_sql = _ht_case_sql("u")
    marked = d.select(
        "n_chars",
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|ht-r8"))),
            1,
            12,
        ).alias("u"),
    ).select(
        "n_chars",
        F.expr(inc_sql).alias("inc"),
        F.expr(yop_sql).alias("y_over_pi"),
    )
    return marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_population"),
        F.sum(F.when(F.col("inc"), 1).otherwise(0)).cast("long").alias(
            "n_sampled"
        ),
        F.sum("n_chars").cast("long").alias("true_total"),
        F.sum(F.when(F.col("inc"), F.col("y_over_pi")).otherwise(0))
        .cast("long")
        .alias("ht_total"),
        round_col(
            (
                F.sum(F.when(F.col("inc"), F.col("y_over_pi")).otherwise(0))
                - F.sum("n_chars").cast("double")
            )
            / F.sum("n_chars"),
            6,
        ).alias("rel_err"),
    )


@query(
    "madow_systematic_pps",
    oracle="""
    WITH sized AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS y FROM documents
    ),
    cum AS (
        SELECT doc_id, y,
               CAST(sum(y) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS c
        FROM sized
    ),
    tot AS (SELECT CAST(max(c) AS BIGINT) AS s FROM cum),
    marked AS (
        SELECT doc_id, y,
               (c * 100) // s > ((c - y) * 100) // s AS sel
        FROM cum CROSS JOIN tot
    )
    SELECT CAST(count(*) AS BIGINT) AS n_population,
           CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
           CAST(sum(CASE WHEN sel THEN y ELSE 0 END) AS BIGINT)
               AS selected_chars,
           CAST(sum(CASE WHEN sel THEN doc_id ELSE 0 END) AS BIGINT)
               AS selected_id_sum
    FROM marked
    """,
)
def madow_systematic_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Madow systematic probability-proportional-to-size sampling: a
    100-unit PPS draw selects document i exactly when the scaled
    cumulative size ⌊Cᵢ·m/S⌋ advances past ⌊Cᵢ₋₁·m/S⌋ — each unit's
    inclusion probability is m·yᵢ/S with zero variance in the sample
    size, the classic companion draw to `horvitz_thompson_total`'s
    estimation and `neyman_allocation_sample`'s allocation (together:
    allocate → draw → estimate). Pure integer arithmetic end to end
    (BIGINT products, floor division) — no float anywhere.

    Scale shape: the global prefix sum is computed the DISTRIBUTED
    way — documents bucket by id range, per-bucket totals roll up in
    one aggregate and cumulate over the bucket-bounded relation
    (window over buckets, not rows), and each bucket's offset joins
    back so the intra-bucket window partitions by bucket — the
    two-level scan pattern every distributed prefix-sum uses; a plan
    test pins that no corpus-sized unpartitioned window exists. The
    selection fingerprints (count, char sum, id sum) make any
    off-by-one in the crossing rule break the value hash."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("y"),
        (F.col("doc_id") / 256).cast("long").alias("bkt"),
    )
    per_bucket = sized.groupBy("bkt").agg(F.sum("y").alias("by"))
    w_bkt = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "bkt",
        F.coalesce(F.sum("by").over(w_bkt), F.lit(0)).cast("long").alias(
            "offset"
        ),
    )
    w_intra = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        sized.join(F.broadcast(offsets), "bkt")
        .select(
            "doc_id",
            "y",
            (F.col("offset") + F.sum("y").over(w_intra))
            .cast("long")
            .alias("c"),
        )
    )
    tot = cum.agg(F.max("c").cast("long").alias("s"))
    # Spark's DIV is exact BIGINT division, matching DuckDB's `//` —
    # a float divide + floor could land one ulp below an exact
    # integer quotient and flip the crossing test
    marked = cum.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "y",
        F.expr("((c * 100) DIV s) > (((c - y) * 100) DIV s)").alias("sel"),
    )
    return marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_population"),
        F.sum(F.when(F.col("sel"), 1).otherwise(0)).cast("long").alias(
            "n_selected"
        ),
        F.sum(F.when(F.col("sel"), F.col("y")).otherwise(0))
        .cast("long")
        .alias("selected_chars"),
        F.sum(F.when(F.col("sel"), F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("selected_id_sum"),
    )


# ---------------------------------------------------------------------------
# t_closeness_audit — ordinal-EMD sensitive-attribute audit (r9)
# ---------------------------------------------------------------------------


@query(
    "t_closeness_audit",
    oracle=f"""
    WITH binned AS (
        SELECT c_mktsegment, c_nationkey,
               ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS bin
        FROM customer
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM binned),
    gbin AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS gc
        FROM binned GROUP BY bin
    ),
    classes AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(count(*) AS BIGINT) AS class_size
        FROM binned GROUP BY c_mktsegment, c_nationkey
    ),
    cbin AS (
        SELECT c_mktsegment, c_nationkey, bin,
               CAST(count(*) AS BIGINT) AS cc
        FROM binned GROUP BY c_mktsegment, c_nationkey, bin
    ),
    grid AS (
        SELECT cl.c_mktsegment, cl.c_nationkey, cl.class_size,
               g.bin, g.gc, coalesce(cb.cc, 0) AS cc
        FROM classes cl
        CROSS JOIN gbin g
        LEFT JOIN cbin cb
          ON cb.c_mktsegment = cl.c_mktsegment
         AND cb.c_nationkey = cl.c_nationkey
         AND cb.bin = g.bin
    ),
    cum AS (
        SELECT c_mktsegment, c_nationkey, class_size, bin,
               sum(cc) OVER (PARTITION BY c_mktsegment, c_nationkey
                   ORDER BY bin) AS cum_cc,
               sum(gc) OVER (PARTITION BY c_mktsegment, c_nationkey
                   ORDER BY bin) AS cum_gc
        FROM grid
    ),
    emd AS (
        SELECT c_mktsegment, c_nationkey, class_size,
               CAST(sum(abs(cum_cc * (SELECT n FROM tot)
                            - cum_gc * class_size)) AS BIGINT) AS sdiff
        FROM cum WHERE bin <= 9
        GROUP BY c_mktsegment, c_nationkey, class_size
    )
    SELECT c_mktsegment, c_nationkey, class_size,
           {round_sql(
               "CAST(sdiff AS DOUBLE)"
               " / (9.0 * (SELECT n FROM tot) * class_size)", 4
           )} AS emd_t,
           {round_sql(
               "CAST(sdiff AS DOUBLE)"
               " / (9.0 * (SELECT n FROM tot) * class_size)", 4
           )} > 0.2 AS violates_t02
    FROM emd
    ORDER BY CAST(sdiff AS DOUBLE)
             / (9.0 * (SELECT n FROM tot) * class_size) DESC,
             c_mktsegment, c_nationkey
    LIMIT 5
    """,
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li/Li/Venkatasubramanian, ICDE 2007) —
    completing the privacy-release trio with `k_anonymity_audit`
    (class sizes) and `l_diversity_audit`: even a large, diverse
    equivalence class leaks if its SENSITIVE-attribute distribution
    differs from the table's. Sensitive attribute = account-balance
    decile (ordinal), distance = the ordered-attribute Earth Mover's
    Distance (1/(m−1))Σ|CumP−CumQ|, classes = the same
    mktsegment×nationkey quasi-identifier as the k-anonymity audit.
    Output: the 5 worst classes and whether they breach t=0.2.

    Exactness: deciles come from ntile over the TOTAL order
    (c_acctbal, c_custkey) — identical in both engines; every
    cumulative is integer (|cum_cc·N − cum_gc·size| keeps the EMD
    numerator an exact BIGINT), so the single division per class is
    deterministic and the ORDER BY on the raw quotient agrees
    bit-for-bit. Scale shape: the audit runs on GROUP-COUNT-sized
    relations (classes × 10 bins); the one corpus-wide step is the
    decile sort, whose production form is broadcast percentile cuts
    (`decile_binning_broadcast_cuts`) — noted, not needed, at audit
    cadence."""
    c = load_table(spark, sf_dir, "customer")
    binned = c.select(
        "c_mktsegment",
        "c_nationkey",
        F.ntile(10)
        .over(Window.orderBy("c_acctbal", "c_custkey"))
        .alias("bin"),
    )
    tot = binned.agg(F.count(F.lit(1)).cast("long").alias("n"))
    gbin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("gc")
    )
    classes = binned.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("class_size")
    )
    cbin = binned.groupBy("c_mktsegment", "c_nationkey", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cc")
    )
    grid = (
        classes.crossJoin(F.broadcast(gbin))
        .join(
            cbin,
            ["c_mktsegment", "c_nationkey", "bin"],
            "left",
        )
        .select(
            "c_mktsegment",
            "c_nationkey",
            "class_size",
            "bin",
            "gc",
            F.coalesce(F.col("cc"), F.lit(0)).alias("cc"),
        )
    )
    wcum = (
        Window.partitionBy("c_mktsegment", "c_nationkey")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "c_mktsegment",
        "c_nationkey",
        "class_size",
        "bin",
        F.sum("cc").over(wcum).alias("cum_cc"),
        F.sum("gc").over(wcum).alias("cum_gc"),
    )
    emd = (
        cum.filter(F.col("bin") <= 9)
        .crossJoin(F.broadcast(tot))
        .groupBy("c_mktsegment", "c_nationkey", "class_size", "n")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_cc") * F.col("n")
                    - F.col("cum_gc") * F.col("class_size")
                )
            )
            .cast("long")
            .alias("sdiff")
        )
    )
    t = F.col("sdiff").cast("double") / (
        9.0 * F.col("n") * F.col("class_size")
    )
    return (
        emd.select(
            "c_mktsegment",
            "c_nationkey",
            "class_size",
            round_col(t, 4).alias("emd_t"),
            (round_col(t, 4) > 0.2).alias("violates_t02"),
            t.alias("_t"),
        )
        .orderBy(F.desc("_t"), "c_mktsegment", "c_nationkey")
        .limit(5)
        .drop("_t")
    )


# ---------------------------------------------------------------------------
# isotonic_calibration — PAVA via the minimax closed form (r9)
# ---------------------------------------------------------------------------


@query(
    "isotonic_calibration",
    oracle=f"""
    WITH hourly AS (
        SELECT CAST(extract(hour FROM ts) AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS w,
               CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS s
        FROM events GROUP BY 1
    ),
    seq AS (
        SELECT h, w, s,
               CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS i,
               CAST(sum(w) OVER (ORDER BY h) AS BIGINT) AS cw,
               CAST(sum(s) OVER (ORDER BY h) AS BIGINT) AS cs,
               CAST(coalesce(sum(w) OVER (ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cwp,
               CAST(coalesce(sum(s) OVER (ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS csp
        FROM hourly
    ),
    ranges AS (
        SELECT j.i AS j, k.i AS k,
               CAST(k.cs - j.csp AS DOUBLE) / (k.cw - j.cwp) AS avg_jk
        FROM seq j JOIN seq k ON j.i <= k.i
    ),
    inner_min AS (
        SELECT t.i, r.j, min(r.avg_jk) AS m
        FROM seq t JOIN ranges r ON r.j <= t.i AND r.k >= t.i
        GROUP BY t.i, r.j
    ),
    fit AS (
        SELECT i, max(m) AS iso
        FROM inner_min GROUP BY i
    )
    SELECT CAST(s2.h AS INT) AS hour, s2.w AS n_events,
           {round_sql("CAST(s2.s AS DOUBLE) / s2.w / 100.0", 4)} AS raw_avg,
           {round_sql("f.iso / 100.0", 4)} AS iso_avg
    FROM seq s2 JOIN fit f ON f.i = s2.i
    ORDER BY hour
    """,
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression (PAVA) of mean event value on
    hour-of-day, via the MINIMAX closed form fit(i) = max_{{j≤i}}
    min_{{k≥i}} weightedavg(y, j..k) — the calibration primitive
    behind monotone probability calibration of a quality classifier
    (`calibration_reliability` measures miscalibration; this is the
    standard fix) and monotone binning for `decile_feature_binning`.
    The sequential pool-adjacent-violators loop is replaced by an
    order-free algebraic identity, which is exactly what a
    distributed engine wants.

    Determinism: hourly weights and value sums fix to exact BIGINTs
    (cumulatives included), every candidate block average is ONE
    division of exact integers — bit-identical in both engines — and
    min/max over identical doubles is exact; 4dp rounding only at
    output. Scale shape: the corpus collapses to 24 (hour, w, s)
    rows in one shuffle; the j≤i≤k triple relation is 24³/6 ≈ 2.3k
    rows of scalar arithmetic — constant as data grows, the
    `theil_sen_trend` bounded-pairs discipline."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    hourly = e.groupBy(F.hour("ts").cast("long").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("w"),
        F.floor(F.sum("value") * 100 + F.lit(0.5)).cast("long").alias("s"),
    )
    wo = Window.orderBy("h")
    wprev = wo.rowsBetween(Window.unboundedPreceding, -1)
    seq = hourly.select(
        "h",
        "w",
        "s",
        F.row_number().over(wo).cast("long").alias("i"),
        F.sum("w").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cw"),
        F.sum("s").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cs"),
        F.coalesce(F.sum("w").over(wprev), F.lit(0)).cast("long").alias("cwp"),
        F.coalesce(F.sum("s").over(wprev), F.lit(0)).cast("long").alias("csp"),
    )
    j, k = seq.alias("j"), seq.alias("k")
    ranges = j.join(F.broadcast(k), F.col("j.i") <= F.col("k.i")).select(
        F.col("j.i").alias("j"),
        F.col("k.i").alias("k"),
        (
            (F.col("k.cs") - F.col("j.csp")).cast("double")
            / (F.col("k.cw") - F.col("j.cwp"))
        ).alias("avg_jk"),
    )
    t = seq.select(F.col("i"))
    inner_min = (
        t.join(
            F.broadcast(ranges),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("avg_jk").alias("m"))
    )
    fit = inner_min.groupBy("i").agg(F.max("m").alias("iso"))
    return (
        seq.join(fit, "i")
        .select(
            F.col("h").cast("int").alias("hour"),
            F.col("w").alias("n_events"),
            round_col(F.col("s").cast("double") / F.col("w") / 100.0, 4).alias(
                "raw_avg"
            ),
            round_col(F.col("iso") / 100.0, 4).alias("iso_avg"),
        )
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# moran_i_grid — spatial autocorrelation over the synthetic grid (r9)
# ---------------------------------------------------------------------------


@query(
    "moran_i_grid",
    oracle=f"""
    WITH pts AS (
        SELECT DISTINCT user_id,
               (user_id * 2654435761) % 100000 AS px,
               (user_id * 40503 + 12345) % 100000 AS py
        FROM events
    ),
    cells AS (
        SELECT px // 5000 AS cx, py // 5000 AS cy,
               CAST(count(*) AS BIGINT) AS cnt
        FROM pts GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS nc,
               CAST(sum(cnt) AS BIGINT) AS np
        FROM cells
    ),
    z AS (
        SELECT cx, cy, nc * cnt - np AS zi
        FROM cells CROSS JOIN tot
    ),
    adj AS (
        SELECT a.zi AS za, b.zi AS zb
        FROM z a JOIN z b
          ON (abs(a.cx - b.cx) + abs(a.cy - b.cy)) = 1
    ),
    sums AS (
        SELECT (SELECT nc FROM tot) AS nc,
               (SELECT CAST(count(*) AS BIGINT) FROM adj) AS w,
               (SELECT CAST(sum(za * zb) AS BIGINT) FROM adj) AS num,
               (SELECT CAST(sum(zi * zi) AS BIGINT) FROM z) AS den
    )
    SELECT nc AS n_cells, w AS w_pairs,
           {round_sql(
               "CAST(nc AS DOUBLE) * num / (CAST(w AS DOUBLE) * den)", 6
           )} AS moran_i,
           {round_sql("-1.0 / (nc - 1)", 6)} AS expected_i,
           {round_sql(
               "CAST(nc AS DOUBLE) * num / (CAST(w AS DOUBLE) * den)", 6
           )} > {round_sql("-1.0 / (nc - 1)", 6)} AS clustered
    FROM sums
    """,
)
def moran_i_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I spatial autocorrelation of point density over the
    `geo_grid_neighbor_pairs` grid (rook adjacency between 5000-unit
    cells): I = (n/W)·ΣΣw_ij z_i z_j / Σz_i² — the 'is density
    spatially clustered or dispersed' screen that decides whether
    spatial partitioning needs hot-cell splitting before the
    neighbor join runs (I > E[I] = −1/(n−1) means neighbors
    correlate: expect skewed cells).

    Determinism: coordinates are the same Knuth-hash integers as the
    grid join; deviations use the SCALED form zᵢ = n_cells·cntᵢ −
    n_points (exact BIGINT — no float mean), so the cross-product
    and variance sums are exact integers and the single division per
    output is deterministic. Safe while n_cells·cnt < 2⁶³ (trivially,
    with 400 cells). Scale shape: corpus → one row per CELL (≤400);
    the adjacency join and every sum run on that bounded relation —
    the aggregate-first discipline, spatial edition."""
    e = load_table(spark, sf_dir, "events")
    pts = e.select("user_id").distinct().select(
        ((F.col("user_id") * F.lit(2654435761)) % F.lit(100000)).alias("px"),
        ((F.col("user_id") * F.lit(40503) + F.lit(12345)) % F.lit(100000)).alias(
            "py"
        ),
    )
    cells = pts.select(
        F.expr("px DIV 5000").alias("cx"), F.expr("py DIV 5000").alias("cy")
    ).groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = cells.agg(
        F.count(F.lit(1)).cast("long").alias("nc"),
        F.sum("cnt").cast("long").alias("np"),
    )
    z = cells.crossJoin(F.broadcast(tot)).select(
        "cx", "cy", (F.col("nc") * F.col("cnt") - F.col("np")).alias("zi")
    )
    a, b = z.alias("a"), z.alias("b")
    adj = a.join(
        F.broadcast(b),
        (
            F.abs(F.col("a.cx") - F.col("b.cx"))
            + F.abs(F.col("a.cy") - F.col("b.cy"))
        )
        == 1,
    ).select(F.col("a.zi").alias("za"), F.col("b.zi").alias("zb"))
    wnum = adj.agg(
        F.count(F.lit(1)).cast("long").alias("w"),
        F.sum(F.col("za") * F.col("zb")).cast("long").alias("num"),
    )
    den = z.agg(F.sum(F.col("zi") * F.col("zi")).cast("long").alias("den"))
    sums = (
        tot.crossJoin(F.broadcast(wnum)).crossJoin(F.broadcast(den))
    )
    mi = F.col("nc").cast("double") * F.col("num") / (
        F.col("w").cast("double") * F.col("den")
    )
    ei = -1.0 / (F.col("nc") - 1)
    return sums.select(
        F.col("nc").alias("n_cells"),
        F.col("w").alias("w_pairs"),
        round_col(mi, 6).alias("moran_i"),
        round_col(ei, 6).alias("expected_i"),
        (round_col(mi, 6) > round_col(ei, 6)).alias("clustered"),
    )


# ---------------------------------------------------------------------------
# span_corruption_masking — T5-style deterministic denoising targets (r9)
# ---------------------------------------------------------------------------


@query(
    "span_corruption_masking",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    ),
    pos AS (
        SELECT doc_id, i, tokens[i] AS tok, len(tokens) AS n,
               CAST('0x' || substr(md5(doc_id || ':' || i), 1, 4)
                    AS BIGINT) % 8 = 0 AS st,
               1 + CAST('0x' || substr(md5(doc_id || ':' || i), 5, 1)
                        AS BIGINT) % 3 AS ln
        FROM toks, unnest(range(1, len(tokens) + 1)) AS t(i)
    ),
    flags AS (
        SELECT doc_id, i, tok, n, st,
               (st
                OR (lag(st, 1, false) OVER w AND lag(ln, 1, 0) OVER w > 1)
                OR (lag(st, 2, false) OVER w AND lag(ln, 2, 0) OVER w > 2))
                   AS masked
        FROM pos
        WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    runs AS (
        SELECT doc_id, i, tok, n, masked,
               masked AND NOT lag(masked, 1, false)
                   OVER (PARTITION BY doc_id ORDER BY i) AS run_start
        FROM flags
    ),
    numbered AS (
        SELECT doc_id, i, tok, n, masked, run_start,
               CAST(sum(CASE WHEN run_start THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS k
        FROM runs
    ),
    rendered AS (
        SELECT doc_id, max(n) AS n_tokens,
               CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_masked,
               CAST(sum(CASE WHEN run_start THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_spans,
               string_agg(
                   CASE WHEN run_start THEN '<X_' || (k - 1) || '>'
                        WHEN NOT masked THEN tok END, ' '
                   ORDER BY i) AS masked_text
        FROM numbered
        GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_masked, n_spans,
           masked_text
    FROM rendered ORDER BY doc_id LIMIT 10
    """,
)
def span_corruption_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020 §3.1.4) as a
    DETERMINISTIC corpus transform: ~12.5% of positions start a
    corruption span of 1-3 tokens (both drawn from md5(doc_id:pos) —
    no RNG, the `train_test_split_hash` reproducible-noise
    discipline), overlapping spans merge, and each masked run is
    replaced by a numbered sentinel <X_k> — the denoising-objective
    input every span-corruption pretraining pipeline materializes.
    Sits beside `pack_sequences_greedy` (batch shaping) and
    `chunk_documents_overlap` (context shaping) as the third
    training-data TRANSFORM.

    Determinism: span starts/lengths are integer arithmetic on md5
    hex prefixes (conv ≙ CAST('0x'||…)), the overlap-merge is three
    fixed lag comparisons, sentinel numbering is a cumulative sum
    over the doc-ordered positions, and the rendered text is an
    ORDERED aggregation — every byte identical cross-engine. Scale
    shape: explode → per-doc windows (bounded by doc length, never
    corpus-wide) → one doc-keyed ordered aggregation; TakeOrdered
    bounds the checked output while the plan itself maps the whole
    corpus."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = d.select("doc_id", F.split("text", " ").alias("tokens"))
    idx = F.sequence(F.lit(1), F.size("tokens"))
    pos = toks.select(
        "doc_id",
        F.size("tokens").alias("n"),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("i"),
                    F.element_at("tokens", i).alias("tok"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "n", "p.i", "p.tok")
    h = F.md5(F.concat_ws(":", "doc_id", "i"))
    pos = pos.select(
        "doc_id",
        "n",
        "i",
        "tok",
        (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % 8 == 0).alias(
            "st"
        ),
        (1 + F.conv(F.substring(h, 5, 1), 16, 10).cast("long") % 3).alias(
            "ln"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    st1 = F.coalesce(F.lag("st", 1).over(w), F.lit(False))
    ln1 = F.coalesce(F.lag("ln", 1).over(w), F.lit(0))
    st2 = F.coalesce(F.lag("st", 2).over(w), F.lit(False))
    ln2 = F.coalesce(F.lag("ln", 2).over(w), F.lit(0))
    flags = pos.select(
        "doc_id",
        "n",
        "i",
        "tok",
        "st",
        (F.col("st") | (st1 & (ln1 > 1)) | (st2 & (ln2 > 2))).alias("masked"),
    )
    runs = flags.select(
        "doc_id",
        "n",
        "i",
        "tok",
        "masked",
        (
            F.col("masked")
            & ~F.coalesce(F.lag("masked", 1).over(w), F.lit(False))
        ).alias("run_start"),
    )
    numbered = runs.select(
        "doc_id",
        "n",
        "i",
        "tok",
        "masked",
        "run_start",
        F.sum(F.when(F.col("run_start"), 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("k"),
    )
    # render value: sentinel at run starts, token when unmasked, NULL
    # for masked continuation rows — collect_list/string_agg skip
    # NULLs in BOTH engines, so counts aggregate over ALL positions
    # while the rendered stream drops the span interiors
    rv = F.when(
        F.col("run_start"),
        F.concat(
            F.lit("<X_"), (F.col("k") - 1).cast("string"), F.lit(">")
        ),
    ).when(~F.col("masked"), F.col("tok"))
    rendered = (
        numbered.groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("masked"), 1).otherwise(0))
            .cast("long")
            .alias("n_masked"),
            F.sum(F.when(F.col("run_start"), 1).otherwise(0))
            .cast("long")
            .alias("n_spans"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                rv.isNotNull(),
                                F.struct("i", rv.alias("v")),
                            )
                        )
                    ),
                    lambda s: s["v"],
                ),
                " ",
            ).alias("masked_text"),
        )
    )
    return rendered.orderBy("doc_id").limit(10)


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer training
# ---------------------------------------------------------------------------
#
# The second of the two standard subword-tokenizer families (Kudo 2018,
# arXiv:1804.10959), complementing `bpe_train_merges`: start from a
# seed vocabulary of frequent substrings, then alternate Viterbi
# segmentation of every word type under the current piece
# log-probabilities with usage-count re-estimation and pruning of the
# lowest-usage multi-char pieces (hard-EM — the Viterbi variant of
# SentencePiece's EM+prune schedule; single characters are never
# pruned so every word stays segmentable).
#
# Parity architecture: piece log-probs are computed DRIVER-side with
# CPython's libm (round6(ln c − ln T)) and shipped into the Spark plan
# as a literal map — the DuckDB oracle recomputes the identical values
# with its own libm (same glibc, and the 6-dp portable rounding
# absorbs any sub-ulp residue), so both engines run the SAME Viterbi
# DP on the SAME rounded doubles and the argmax can never diverge.
# Tie-breaks are pinned (score DESC, piece-length DESC, piece DESC)
# in both the fold's struct-max and the oracle's row_number.

import math

UNI_MAXP = 4        # max piece length considered
UNI_MAXW = 8        # word types truncated to this many chars for training
UNI_SEED_MULTI = 24 # multi-char pieces in the seed vocabulary
UNI_BUDGETS = (16, 12)  # multi-char pieces kept after prune rounds 1, 2
UNI_ROUNDS = 3


def _round6(x: float) -> float:
    """Python twin of exprs.round_col/round_sql at n=6 (portable
    half-up on the exact double, -0.0 normalized)."""
    if x >= 0:
        return math.floor(x * 1000000.0 + 0.5) / 1000000.0 + 0.0
    return -(math.floor(-x * 1000000.0 + 0.5) / 1000000.0) + 0.0


def _uni_logprobs(counts: dict[str, int]) -> dict[str, float]:
    t = float(sum(counts.values()))
    lt = math.log(t)
    return {p: _round6(math.log(float(c)) - lt) for p, c in counts.items()}


def _uni_fold_sql(model: dict[str, float]) -> str:
    """The Viterbi DP as ONE JVM-side `aggregate` fold per word type:
    the accumulator is the best (score, segmentation) per prefix
    length, each step takes a struct-max over the <=4 candidate last
    pieces (struct field order = the tie-break order), and the model
    is a literal map (driver-side metadata, like kmeans centroids).
    try_element_at: a piece outside the vocabulary scores the -1e9
    sentinel — single chars are always present, so a valid path
    always exists and the sentinel never wins."""
    entries = ", ".join(
        f"'{p}', CAST({lp!r} AS DOUBLE)" for p, lp in sorted(model.items())
    )
    m = f"map({entries})"
    cands = []
    for l in range(1, UNI_MAXP + 1):
        piece = f"substring(word, j - {l} + 1, {l})"
        cands.append(
            f"""CASE WHEN j >= {l} THEN named_struct(
            's', element_at(acc, j - {l} + 1).s
                 + coalesce(try_element_at({m}, {piece}), CAST(-1e9 AS DOUBLE)),
            'l', {l}, 'p', {piece},
            'g', CASE WHEN j = {l} THEN {piece}
                 ELSE concat(element_at(acc, j - {l} + 1).g, ' ', {piece}) END)
        ELSE named_struct('s', CAST(-1e30 AS DOUBLE), 'l', {l}, 'p', '', 'g', '') END"""
        )
    return f"""aggregate(
        sequence(1, length(word)),
        array(named_struct('s', CAST(0.0 AS DOUBLE), 'l', 0, 'p', '', 'g', '')),
        (acc, j) -> acc || array(array_max(array({", ".join(cands)}))),
        acc -> element_at(acc, length(word) + 1)
    )"""


def _unigram_trained(spark: SparkSession, sf_dir: str):
    """Run the unigram-LM training loop; returns (final segmentation
    DataFrame ``(word, wf, seg, n_seg)``, per-round stats rows,
    per-round models). Shared by `unigram_train_stats` and
    `tokenizer_apply_unigram`."""
    from ..iterate import checkpoint_flat

    d = load_table(spark, sf_dir, "documents")
    words = checkpoint_flat(
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .select(F.substring("tok", 1, UNI_MAXW).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wf"))
    )
    # Seed statistics: corpus-frequency-weighted substring counts.
    seedc = (
        words.select(
            "wf",
            F.explode(
                F.expr(
                    f"""flatten(transform(sequence(1, length(word)),
                        i -> transform(sequence(1, least({UNI_MAXP}, length(word) - i + 1)),
                                       l -> substring(word, i, l))))"""
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("wf").cast("long").alias("cnt"))
    )
    singles = {
        r["piece"]: r["cnt"]
        for r in seedc.filter(F.length("piece") == 1).collect()
    }
    top_multi = (
        seedc.filter(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), "piece")
        .limit(UNI_SEED_MULTI)
        .collect()
    )
    multis = {r["piece"]: r["cnt"] for r in top_multi}
    model = _uni_logprobs({**singles, **multis})

    stats, models, seg = [], [], None
    for r in range(1, UNI_ROUNDS + 1):
        models.append(dict(model))
        fin = F.expr(_uni_fold_sql(model))
        seg = words.select("word", "wf", fin.alias("f")).select(
            "word",
            "wf",
            F.col("f.g").alias("seg"),
            F.size(F.split(F.col("f.g"), " ")).alias("n_seg"),
        )
        tot = seg.agg(
            F.sum("wf").cast("long").alias("w"),
            F.sum(F.col("wf") * F.col("n_seg")).cast("long").alias("p"),
        ).collect()[0]
        n_multi = sum(1 for p in model if len(p) > 1)
        stats.append(
            (
                r,
                n_multi,
                len(model),
                int(tot["w"]),
                int(tot["p"]),
                _round6(float(tot["p"]) / float(tot["w"])),
            )
        )
        if r < UNI_ROUNDS:
            usage = {
                row["piece"]: row["u"]
                for row in seg.select(
                    F.explode(F.split("seg", " ")).alias("piece"), "wf"
                )
                .groupBy("piece")
                .agg(F.sum("wf").cast("long").alias("u"))
                .collect()
            }
            budget = UNI_BUDGETS[r - 1]
            kept_multi = sorted(
                ((p, u) for p, u in usage.items() if len(p) > 1),
                key=lambda kv: (-kv[1], kv[0]),
            )[:budget]
            counts = {p: usage.get(p, 0) + 1 for p in singles}
            counts.update({p: u + 1 for p, u in kept_multi})
            model = _uni_logprobs(counts)
    return seg, stats, models


def _uni_cte_chain() -> str:
    """The unrolled-CTE oracle body: seed counts -> model1 -> per
    round (8-position forward Viterbi DP with row_number tie-break,
    final segmentation, usage counts, prune + re-estimate). Every
    multiply-referenced CTE is MATERIALIZED (the kcore lesson: the
    chain re-expands exponentially otherwise)."""
    lp1 = round_sql("ln(CAST(cnt AS DOUBLE)) - ln(CAST(t AS DOUBLE))", 6)
    parts = [
        f"""toks AS (
        SELECT substr(token, 1, {UNI_MAXW}) AS word, count(*) AS wf
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> '' GROUP BY 1
    ),
    vocab0 AS MATERIALIZED (
        SELECT word, CAST(wf AS BIGINT) AS wf, length(word) AS len FROM toks
    ),
    seedc AS MATERIALIZED (
        SELECT substr(word, i, l) AS piece, CAST(sum(wf) AS BIGINT) AS cnt
        FROM vocab0,
             unnest(range(1, len + 1)) ri(i),
             unnest(range(1, {UNI_MAXP} + 1)) rl(l)
        WHERE i + l - 1 <= len
        GROUP BY 1
    ),
    sgl AS MATERIALIZED (
        SELECT piece, cnt FROM seedc WHERE length(piece) = 1),
    mdl1base AS MATERIALIZED (
        SELECT piece, cnt FROM sgl
        UNION ALL
        SELECT piece, cnt FROM (
            SELECT piece, cnt FROM seedc WHERE length(piece) > 1
            ORDER BY cnt DESC, piece LIMIT {UNI_SEED_MULTI}) tm
    ),
    model1 AS MATERIALIZED (
        SELECT piece, {lp1} AS lp
        FROM mdl1base, (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM mdl1base) tt
    )"""
    ]
    lpn = round_sql("ln(CAST(c AS DOUBLE)) - ln(CAST(t AS DOUBLE))", 6)
    for r in range(1, UNI_ROUNDS + 1):
        for j in range(1, UNI_MAXW + 1):
            cands = []
            for l in range(1, min(UNI_MAXP, j) + 1):
                piece = f"substr(v.word, {j - l + 1}, {l})"
                if l == j:
                    cands.append(f"""
            SELECT v.word, v.wf, v.len,
                   CAST(0.0 AS DOUBLE)
                   + coalesce(m.lp, CAST(-1e9 AS DOUBLE)) AS score,
                   {l} AS l, {piece} AS piece, {piece} AS seg
            FROM vocab0 v LEFT JOIN model{r} m ON m.piece = {piece}
            WHERE v.len >= {j}""")
                else:
                    cands.append(f"""
            SELECT v.word, v.wf, v.len,
                   v.score + coalesce(m.lp, CAST(-1e9 AS DOUBLE)) AS score,
                   {l} AS l, {piece} AS piece,
                   v.seg || ' ' || {piece} AS seg
            FROM dp{r}_{j - l} v LEFT JOIN model{r} m ON m.piece = {piece}
            WHERE v.len >= {j}""")
            union = " UNION ALL ".join(cands)
            parts.append(f"""
    dp{r}_{j} AS MATERIALIZED (
        SELECT word, wf, len, score, seg FROM (
            SELECT *, row_number() OVER (
                PARTITION BY word
                ORDER BY score DESC, l DESC, piece DESC) AS rn
            FROM ({union}) c
        ) b WHERE rn = 1
    )""")
        fin_union = " UNION ALL ".join(
            f"SELECT word, wf, seg FROM dp{r}_{j} WHERE len = {j}"
            for j in range(1, UNI_MAXW + 1)
        )
        parts.append(f"""
    fin{r} AS MATERIALIZED (
        SELECT word, wf, seg, len(string_split(seg, ' ')) AS n_seg
        FROM ({fin_union}) u
    )""")
        if r < UNI_ROUNDS:
            budget = UNI_BUDGETS[r - 1]
            parts.append(f"""
    usage{r} AS MATERIALIZED (
        SELECT piece, CAST(sum(wf) AS BIGINT) AS u
        FROM (SELECT unnest(string_split(seg, ' ')) AS piece, wf
              FROM fin{r}) x
        GROUP BY 1
    ),
    mdl{r + 1}base AS MATERIALIZED (
        SELECT s.piece, coalesce(u.u, 0) + 1 AS c
        FROM sgl s LEFT JOIN usage{r} u ON u.piece = s.piece
        UNION ALL
        SELECT piece, u + 1 AS c FROM (
            SELECT piece, u FROM usage{r} WHERE length(piece) > 1
            ORDER BY u DESC, piece LIMIT {budget}) km
    ),
    model{r + 1} AS MATERIALIZED (
        SELECT piece, {lpn} AS lp
        FROM mdl{r + 1}base,
             (SELECT CAST(sum(c) AS BIGINT) AS t FROM mdl{r + 1}base) tt
    )""")
    return ",".join(parts)


def _uni_stats_oracle() -> str:
    rows = " UNION ALL ".join(
        f"""SELECT CAST({r} AS INT) AS round,
        (SELECT CAST(count(*) AS INT) FROM model{r}
         WHERE length(piece) > 1) AS vocab_multi,
        (SELECT CAST(count(*) AS INT) FROM model{r}) AS vocab_total,
        CAST(sum(wf) AS BIGINT) AS corpus_words,
        CAST(sum(wf * n_seg) AS BIGINT) AS corpus_pieces,
        {round_sql("CAST(sum(wf * n_seg) AS DOUBLE) / sum(wf)", 6)}
            AS pieces_per_word
    FROM fin{r}"""
        for r in range(1, UNI_ROUNDS + 1)
    )
    return f"""
    WITH {_uni_cte_chain()}
    SELECT * FROM ({rows}) ORDER BY round
    """


@query("unigram_train_stats", oracle=_uni_stats_oracle())
def unigram_train_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018 SentencePiece, hard-EM
    variant): seed vocabulary = all single chars + the top-24
    frequency-weighted substrings (length <= 4) over the word-type
    relation; each of 3 rounds Viterbi-segments every word type under
    the current piece log-probabilities, re-estimates piece usage, and
    prunes the multi-char vocabulary to a shrinking budget (24 -> 16
    -> 12; chars are never pruned). Output: one bounded stats row per
    round — vocabulary sizes, corpus words/pieces under that round's
    segmentation, pieces-per-word (the compression curve a tokenizer
    report tracks; it degrades as pruning bites, which is the
    size/quality trade the budget chooses).

    Scale shape: the corpus collapses ONCE to word types (the BPE
    discipline); the model is driver-side metadata (<= ~50 pieces,
    like kmeans centroids) shipped back as a literal map, so each
    round is ONE JVM-side `aggregate` fold projection over |vocab|
    rows plus two bounded collects (usage counts, one stats row) —
    no joins, no shuffles beyond the usage groupBy, no growing plan
    (the word relation is static and checkpointed once). Parity: both
    engines run the identical DP on identical 6-dp-rounded log-probs;
    ties pinned (score DESC, piece-length DESC, piece DESC)."""
    _, stats, _ = _unigram_trained(spark, sf_dir)
    return spark.createDataFrame(
        stats,
        "round int, vocab_multi int, vocab_total int,"
        " corpus_words long, corpus_pieces long, pieces_per_word double",
    ).orderBy("round")


@query(
    "tokenizer_apply_unigram",
    oracle=f"""
    WITH {_uni_cte_chain()},
    {_WORD_COUNTS_SQL}
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_words,
           CAST(sum(c * n_seg) AS BIGINT) AS n_pieces,
           {round_sql("CAST(sum(c * n_seg) AS DOUBLE) / sum(c)", 6)}
               AS pieces_per_word
    FROM per JOIN fin{UNI_ROUNDS} f ON f.word = substr(per.word, 1, {UNI_MAXW})
    GROUP BY source ORDER BY source
    """,
)
def tokenizer_apply_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the TRAINED unigram-LM model — the
    inference half of `unigram_train_stats` (train -> apply is the
    full tokenizer lifecycle, mirroring `tokenizer_apply_bpe` for the
    BPE family): each word's final-round Viterbi segment count prices
    every occurrence, rolled up per source as words, pieces, and
    pieces-per-word. Sources that resist compression carry vocabulary
    the seed never captured — the same out-of-domain signal as the
    BPE twin, now under the probabilistic segmentation model.

    Scale shape: tokenization is a JOIN against the |vocab|-sized
    trained segmentation (broadcast it — it is model metadata);
    occurrence counts reduce to (source x word type) before the join.
    Training truncates word types to {UNI_MAXW} chars, so apply joins
    on the truncated form — deterministic in both engines."""
    d = load_table(spark, sf_dir, "documents")
    seg, _, _ = _unigram_trained(spark, sf_dir)
    per = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per.join(
            F.broadcast(seg.select(F.col("word").alias("tword"), "n_seg")),
            F.substring(per.word, 1, UNI_MAXW) == F.col("tword"),
        )
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("n_seg")).cast("long").alias("n_pieces"),
            round_col(
                F.sum(F.col("c") * F.col("n_seg")).cast("double") / F.sum("c"),
                6,
            ).alias("pieces_per_word"),
        )
        .orderBy("source")
    )


@query(
    "tokenizer_fertility_compare",
    oracle=f"""
    WITH {_bpe_cte_chain(BPE_N_MERGES)},
    {_uni_cte_chain()},
    bseg AS (SELECT word, len(syms) AS bpe_seg FROM words{BPE_N_MERGES}),
    {_WORD_COUNTS_SQL}
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_words,
           {round_sql("CAST(sum(c * b.bpe_seg) AS DOUBLE) / sum(c)", 6)}
               AS bpe_tokens_per_word,
           {round_sql("CAST(sum(c * u.n_seg) AS DOUBLE) / sum(c)", 6)}
               AS unigram_pieces_per_word,
           {round_sql(
               "(CAST(sum(c * u.n_seg) AS DOUBLE) / sum(c))"
               " / (CAST(sum(c * b.bpe_seg) AS DOUBLE) / sum(c))", 6
           )} AS unigram_vs_bpe_ratio
    FROM per
    JOIN bseg b ON b.word = per.word
    JOIN fin{UNI_ROUNDS} u ON u.word = substr(per.word, 1, {UNI_MAXW})
    GROUP BY source ORDER BY source
    """,
)
def tokenizer_fertility_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-by-side fertility (tokens-per-word) of the two trained
    tokenizer families — the model-selection table a tokenizer bakeoff
    produces: per source, words priced under BOTH the 8-merge BPE
    segmentation and the 3-round unigram-LM segmentation, plus the
    unigram/BPE fertility ratio (persistently > 1 on a source means
    the unigram prune schedule is too aggressive for that domain;
    < 1 means BPE's greedy merges under-serve it). Trains both models
    in-query (the same loops as `bpe_train_merges` /
    `unigram_train_stats`), so the comparison always reflects the
    current corpus.

    Scale shape: both trainings iterate over the word-TYPE relation
    only; the comparison itself is two broadcast-sized model joins
    against the reduced (source x word type) relation — one corpus
    scan total. Parity: integer segment counts from both engines'
    identical trainings; three rounded divisions."""
    d = load_table(spark, sf_dir, "documents")
    bwords, _ = _bpe_trained_segmentation(spark, sf_dir)
    bseg = bwords.select("word", F.size("syms").alias("bpe_seg"))
    useg, _, _ = _unigram_trained(spark, sf_dir)
    per = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bpw = F.sum(F.col("c") * F.col("bpe_seg")).cast("double") / F.sum("c")
    upw = F.sum(F.col("c") * F.col("n_seg")).cast("double") / F.sum("c")
    return (
        per.join(F.broadcast(bseg), "word")
        .join(
            F.broadcast(useg.select(F.col("word").alias("uw"), "n_seg")),
            F.substring(per.word, 1, UNI_MAXW) == F.col("uw"),
        )
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            round_col(bpw, 6).alias("bpe_tokens_per_word"),
            round_col(upw, 6).alias("unigram_pieces_per_word"),
            round_col(upw / bpw, 6).alias("unigram_vs_bpe_ratio"),
        )
        .orderBy("source")
    )


@query(
    "cross_modal_consistency_audit",
    oracle=f"""
    WITH {_MINHASH_BANDS_SQL},
    cand AS ({_BAND_PAIRS_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    dup AS (
        SELECT i.doc_a, i.doc_b, i.inter, za.n_sh + zb.n_sh - i.inter AS un
        FROM (
            SELECT c.doc_a, c.doc_b, count(*) AS inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
            GROUP BY 1, 2
        ) i
        JOIN sizes za ON za.doc_id = i.doc_a
        JOIN sizes zb ON zb.doc_id = i.doc_b
        WHERE 2 * i.inter >= za.n_sh + zb.n_sh - i.inter
    ),
    emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT d.doc_a, d.doc_b,
           {round_sql("CAST(d.inter AS DOUBLE) / d.un", 6)} AS jaccard,
           {stable_render_sql(
               "list_dot_product(ea.v, eb.v)"
               " / (sqrt(list_dot_product(ea.v, ea.v))"
               "    * sqrt(list_dot_product(eb.v, eb.v)))", 6
           )} AS cos_sim,
           CAST(CASE WHEN list_dot_product(ea.v, eb.v)
                / (sqrt(list_dot_product(ea.v, ea.v))
                   * sqrt(list_dot_product(eb.v, eb.v))) > 0.8
                THEN 1 ELSE 0 END AS INT) AS embedding_agrees
    FROM dup d
    JOIN emb ea ON ea.vec_id = d.doc_a
    JOIN emb eb ON eb.vec_id = d.doc_b
    ORDER BY doc_a, doc_b
    """,
)
def cross_modal_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal consistency audit — ties the TEXT near-dup family
    to the EMBEDDING store: every verified text near-duplicate pair
    (MinHash-LSH candidates, exact trigram Jaccard >= 0.5 in integer
    form) is scored by its embedding cosine, and pairs whose vectors
    DISAGREE (cos <= 0.8 despite near-identical text) are the audit's
    catch: stale re-embeds, corrupt vector rows, or an embedding
    model that missed a paraphrase family — exactly the rows that
    poison `semantic_dedup_centroid` and the ANN family if trusted
    blindly.

    Scale shape: the pair set is the (already sub-quadratic) verified
    near-dup relation, so the embedding join adds two vec_id-keyed
    lookups per pair — the audit rides the dedup pipeline's cost.
    Parity: integer Jaccard verify, fold-identical cosines
    (exprs.dot <=> list_dot_product), stable-rendered output, and the
    0.8 flag compares bit-identical doubles in both engines."""
    from ..exprs import dot
    from .llm import minhash_lsh_candidates

    d = load_table(spark, sf_dir, "documents")
    # r13 second pass: the old verify exploded EVERY
    # document's distinct shingles and consumed that corpus-sized
    # relation three times (both pair sides + the sizes rollup). The
    # candidate set is tiny, so: broadcast the candidate doc ids,
    # semi-filter the per-doc IN-ROW shingle arrays down to them in
    # ONE corpus pass, checkpoint that candidate-bounded relation, and
    # verify with size/array_intersect per pair (identical counts —
    # arrays are array_distinct'd; zero-intersection pairs fail the
    # 2·inter ≥ union gate exactly as the old inner join dropped
    # them). The pair list itself is also checkpointed — its band
    # pipeline would otherwise re-run for the id-list derivation.
    cand = minhash_lsh_candidates(spark, sf_dir).localCheckpoint()
    sets = d.select("doc_id", F.split("text", " ").alias("tokens")).filter(
        F.size("tokens") >= 3
    ).select("doc_id", shingle_set("tokens").alias("s"))
    cd = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    ss = sets.join(F.broadcast(cd), "doc_id").localCheckpoint()
    a, b = ss.alias("a"), ss.alias("b")
    dup = (
        cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(b, F.col("doc_b") == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("a.s", "b.s")).cast("long").alias("inter"),
            (F.size("a.s") + F.size("b.s")).cast("long").alias("szsum"),
        )
        .withColumn("un", F.col("szsum") - F.col("inter"))
        .filter(2 * F.col("inter") >= F.col("un"))
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ea = e.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("va"))
    eb = e.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"))
    cos = dot(F.col("va"), F.col("vb")) / (
        F.sqrt(dot(F.col("va"), F.col("va"))) * F.sqrt(dot(F.col("vb"), F.col("vb")))
    )
    return (
        dup.join(ea, "doc_a")
        .join(eb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            round_col(F.col("inter").cast("double") / F.col("un"), 6).alias(
                "jaccard"
            ),
            stable_render(cos, 6).alias("cos_sim"),
            F.when(cos > 0.8, 1).otherwise(0).cast("int").alias(
                "embedding_agrees"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (r11 batch 2)
# ---------------------------------------------------------------------------


@query(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH {_UNIGRAM_TOKS_SQL},
    freq AS (
        SELECT doc_id, count(*) OVER (PARTITION BY token) AS c
        FROM toks
    ),
    scored AS (
        SELECT doc_id, {round_sql("-avg(ln(CAST(c AS DOUBLE) / total))", 6)} AS nll
        FROM freq CROSS JOIN n GROUP BY doc_id, total
    ),
    ranked AS (
        SELECT doc_id, nll,
               row_number() OVER (ORDER BY nll, doc_id) AS rn,
               count(*) OVER () AS n_docs
        FROM scored
    ),
    cuts AS (
        SELECT max(CASE WHEN rn = CAST(ceil(n_docs / 3.0) AS BIGINT)
                        THEN nll END) AS t1,
               max(CASE WHEN rn = CAST(ceil(2.0 * n_docs / 3.0) AS BIGINT)
                        THEN nll END) AS t2
        FROM ranked
    ),
    bucketed AS (
        SELECT d.source,
               CASE WHEN s.nll <= c.t1 THEN 'head'
                    WHEN s.nll <= c.t2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               s.nll
        FROM scored s JOIN documents d USING (doc_id), cuts c
    )
    SELECT source, bucket, count(*) AS n_docs,
           {stable_render_sql("avg(nll)", 6)} AS avg_nll
    FROM bucketed
    GROUP BY source, bucket ORDER BY source, bucket
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with the corpus-unigram NLL proxy
    (`unigram_logprob_score`'s scoring), cut the corpus at the global
    tertiles, and report each source's head/middle/tail composition —
    the standard pre-training data triage that keeps 'head' outright,
    LM-filters 'middle', and drops or down-samples 'tail'.

    Tertile cutoffs use the explicit ceil(q·n) rank-selection
    convention (`percentile_disc_groups`) so both engines select the
    same RAW rounded score — no interpolation arithmetic to diverge.
    The ranked relation is one row per DOCUMENT (not per token); at
    100 TB the global row_number over doc scores swaps to an
    approx_percentile sketch for the two cutoffs — the bucketing and
    rollup stages are unchanged."""
    d = load_table(spark, sf_dir, "documents")
    scored = (
        _unigram_token_counts(spark, sf_dir)
        .groupBy("doc_id", "total")
        .agg(_unigram_nll().alias("nll"))
        .select("doc_id", "nll")
    )
    ranked = scored.withColumn(
        "rn", F.row_number().over(Window.orderBy("nll", "doc_id"))
    ).withColumn("n_docs", F.count(F.lit(1)).over(Window.partitionBy()))
    cuts = ranked.agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n_docs") / 3.0).cast("long"),
                F.col("nll"),
            )
        ).alias("t1"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(2.0 * F.col("n_docs") / 3.0).cast("long"),
                F.col("nll"),
            )
        ).alias("t2"),
    )
    bucket = (
        F.when(F.col("nll") <= F.col("t1"), "head")
        .when(F.col("nll") <= F.col("t2"), "middle")
        .otherwise("tail")
    )
    return (
        scored.join(d.select("doc_id", "source"), "doc_id")
        .crossJoin(F.broadcast(cuts))
        .select("source", bucket.alias("bucket"), "nll")
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            stable_render(F.avg("nll"), 6).alias("avg_nll"),
        )
        .orderBy("source", "bucket")
    )


# ---------------------------------------------------------------------------
# WordPiece tokenizer (third tokenizer family, r11 batch 2)
# ---------------------------------------------------------------------------

WP_MAXW = 10       # word types truncated to this many chars
WP_MAXP = 4        # max piece length considered
WP_TOP_INIT = 24   # multi-char word-initial pieces kept
WP_TOP_CONT = 24   # multi-char '##'-continuation pieces kept


def _wp_vocab(spark: SparkSession, sf_dir: str) -> tuple:
    """Derive the WordPiece vocabulary from the word-type relation:
    ALL single characters (word-initial, and '##'-prefixed
    continuation) plus the top-K multi-char pieces per class by
    corpus-frequency-weighted count. Returns (vocab keys set,
    word-type DataFrame). Vocabulary is bounded driver metadata
    (~100 keys), like the unigram/kmeans models."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .select(F.substring("tok", 1, WP_MAXW).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wf"))
    )
    pieces = words.select(
        "wf",
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, length(word)),
                    i -> transform(
                        sequence(1, least({WP_MAXP}, length(word) - i + 1)),
                        l -> CASE WHEN i = 1 THEN substring(word, i, l)
                             ELSE concat('##', substring(word, i, l)) END)))"""
            )
        ).alias("piece"),
    )
    plen = F.length(F.regexp_replace("piece", "^##", ""))
    counted = pieces.groupBy("piece").agg(F.sum("wf").cast("long").alias("cnt"))
    singles = [
        r["piece"] for r in counted.filter(plen == 1).collect()
    ]
    top_init = [
        r["piece"]
        for r in counted.filter((plen > 1) & (~F.col("piece").startswith("##")))
        .orderBy(F.desc("cnt"), "piece")
        .limit(WP_TOP_INIT)
        .collect()
    ]
    top_cont = [
        r["piece"]
        for r in counted.filter((plen > 1) & F.col("piece").startswith("##"))
        .orderBy(F.desc("cnt"), "piece")
        .limit(WP_TOP_CONT)
        .collect()
    ]
    return set(singles) | set(top_init) | set(top_cont), words


def _wp_fold_sql(vocab: set) -> str:
    """Greedy longest-match-first WordPiece matching as ONE JVM-side
    `aggregate` fold per word type: the accumulator is
    (next position, rendered pieces, unk count); each of the
    length(word) steps either consumes the longest vocabulary match at
    the current position (lengths tried 4..1, '##' prefix when not
    word-initial) or emits [UNK] and advances one char."""
    # escape backslashes FIRST, then single quotes: vocabulary pieces
    # are corpus-derived, and both apostrophes and backslashes (e.g.
    # Windows paths in crawl text) are live in real data — either one
    # unescaped would splice an unparseable or mis-parsed array literal
    arr = (
        "array("
        + ", ".join(
            "'" + p.replace("\\", "\\\\").replace("'", "\\'") + "'"
            for p in sorted(vocab)
        )
        + ")"
    )
    branches = []
    for l in range(WP_MAXP, 0, -1):
        key = (
            f"CASE WHEN acc.pos = 1 THEN substring(word, acc.pos, {l}) "
            f"ELSE concat('##', substring(word, acc.pos, {l})) END"
        )
        branches.append(
            f"""WHEN acc.pos + {l} - 1 <= length(word)
                 AND array_contains({arr}, {key})
            THEN named_struct(
                'pos', acc.pos + {l},
                'g', CASE WHEN acc.g = '' THEN {key}
                     ELSE concat(acc.g, ' ', {key}) END,
                'unk', acc.unk)"""
        )
    return f"""aggregate(
        sequence(1, length(word)),
        named_struct('pos', 1, 'g', '', 'unk', 0),
        (acc, j) -> CASE WHEN acc.pos > length(word) THEN acc
            {' '.join(branches)}
            ELSE named_struct(
                'pos', acc.pos + 1,
                'g', CASE WHEN acc.g = '' THEN '[UNK]'
                     ELSE concat(acc.g, ' [UNK]') END,
                'unk', acc.unk + 1) END,
        acc -> acc
    )"""


def _wp_oracle() -> str:
    """Vocabulary CTEs + a recursive-CTE replay of the greedy
    longest-match loop (DuckDB has no fold lambda with carried struct
    state; the recursion advances one matched piece per level, depth
    <= WP_MAXW + 1)."""
    key = lambda l: (
        f"CASE WHEN s.pos = 1 THEN substr(s.word, s.pos, {l}) "
        f"ELSE '##' || substr(s.word, s.pos, {l}) END"
    )
    return f"""
    WITH RECURSIVE words AS MATERIALIZED (
        SELECT substr(token, 1, {WP_MAXW}) AS word, CAST(count(*) AS BIGINT) AS wf
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> '' GROUP BY 1
    ),
    pieces AS MATERIALIZED (
        SELECT piece, sum(wf) AS cnt,
               length(replace(piece, '##', '')) AS plen,
               (piece LIKE '##%%') AS is_cont
        FROM (
            SELECT wf,
                   CASE WHEN i = 1 THEN substr(word, i, l)
                        ELSE '##' || substr(word, i, l) END AS piece
            FROM words,
                 unnest(range(1, length(word) + 1)) AS gi(i),
                 unnest(range(1, {WP_MAXP} + 1)) AS gl(l)
            WHERE i + l - 1 <= length(word)
        )
        GROUP BY piece
    ),
    vocab AS MATERIALIZED (
        SELECT piece FROM pieces WHERE plen = 1
        UNION ALL
        SELECT piece FROM (
            SELECT piece, row_number() OVER (ORDER BY cnt DESC, piece) AS rk
            FROM pieces WHERE plen > 1 AND NOT is_cont
        ) WHERE rk <= {WP_TOP_INIT}
        UNION ALL
        SELECT piece FROM (
            SELECT piece, row_number() OVER (ORDER BY cnt DESC, piece) AS rk
            FROM pieces WHERE plen > 1 AND is_cont
        ) WHERE rk <= {WP_TOP_CONT}
    ),
    seg AS (
        SELECT word, wf, 1 AS pos, '' AS g, 0 AS unk FROM words
        UNION ALL
        SELECT s.word, s.wf,
               s.pos + CASE WHEN v4.piece IS NOT NULL THEN 4
                            WHEN v3.piece IS NOT NULL THEN 3
                            WHEN v2.piece IS NOT NULL THEN 2
                            WHEN v1.piece IS NOT NULL THEN 1
                            ELSE 1 END,
               CASE WHEN s.g = '' THEN '' ELSE s.g || ' ' END ||
               coalesce(v4.piece, v3.piece, v2.piece, v1.piece, '[UNK]'),
               s.unk + CASE WHEN v1.piece IS NULL AND v2.piece IS NULL
                             AND v3.piece IS NULL AND v4.piece IS NULL
                       THEN 1 ELSE 0 END
        FROM seg s
        LEFT JOIN vocab v4
          ON s.pos + 3 <= length(s.word) AND v4.piece = {key(4)}
        LEFT JOIN vocab v3
          ON s.pos + 2 <= length(s.word) AND v3.piece = {key(3)}
        LEFT JOIN vocab v2
          ON s.pos + 1 <= length(s.word) AND v2.piece = {key(2)}
        LEFT JOIN vocab v1
          ON v1.piece = {key(1)}
        WHERE s.pos <= length(s.word)
    )
    SELECT word, wf, g AS pieces,
           CAST(len(string_split(g, ' ')) AS INT) AS n_pieces,
           CAST(unk AS INT) AS unk_count
    FROM seg
    WHERE pos = length(word) + 1
    ORDER BY wf DESC, word LIMIT 20
    """


@query("tokenizer_apply_wordpiece", oracle=_wp_oracle())
def tokenizer_apply_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenization (Wu et al. 2016; the BERT tokenizer) —
    the third standard tokenizer family next to `tokenizer_apply_bpe`
    and `tokenizer_apply_unigram`: greedy LONGEST-match-first against
    a vocabulary whose non-initial pieces carry the '##' continuation
    prefix, with [UNK] fallback.

    Same scale decomposition as the other two families: the corpus is
    touched once to build the WORD-TYPE relation (tokenization is a
    function of the word, so each distinct word is segmented once and
    results re-weight by frequency); the vocabulary is bounded driver
    metadata (~100 keys here) shipped back as an array literal; the
    greedy match runs as one JVM `aggregate` fold per word type —
    no Python in the loop, no shuffle beyond the word-type group-by.
    The oracle replays vocabulary selection and the greedy loop with
    a recursive CTE (depth <= WP_MAXW + 1)."""
    vocab, words = _wp_vocab(spark, sf_dir)
    fold = F.expr(_wp_fold_sql(vocab))
    return (
        words.select("word", "wf", fold.alias("f"))
        .select(
            "word",
            "wf",
            F.col("f.g").alias("pieces"),
            F.size(F.split(F.col("f.g"), " ")).cast("int").alias("n_pieces"),
            F.col("f.unk").cast("int").alias("unk_count"),
        )
        .orderBy(F.desc("wf"), "word")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection (r11 batch 3)
# ---------------------------------------------------------------------------

KCENTER_K = 8


def _kcenter_oracle(k: int = KCENTER_K) -> str:
    """Unrolled greedy farthest-point oracle: round t's pick maximizes
    the min squared-euclidean distance to rounds 1..t-1 (ties on
    vec_id), replaying the identical dot-product expansion."""
    sq = (
        "list_dot_product(r.v, r.v)"
        " - 2 * list_dot_product(r.v, s.v)"
        " + list_dot_product(s.v, s.v)"
    )
    cte = []
    for t in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id, v FROM sel{j}" for j in range(1, t)
        )
        cte.append(f"""
    selu{t - 1} AS MATERIALIZED ({prev}),
    sel{t} AS MATERIALIZED (
        SELECT r.vec_id, r.v, min({sq}) AS mind
        FROM base r, selu{t - 1} s
        WHERE r.vec_id NOT IN (SELECT vec_id FROM selu{t - 1})
        GROUP BY r.vec_id, r.v
        ORDER BY mind DESC, r.vec_id LIMIT 1
    )""")
    finals = "\n    UNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS pick_idx, vec_id,"
        f" {stable_render_sql('mind', 6)} AS min_dist_sq FROM sel{t}"
        for t in range(1, k + 1)
    )
    return f"""
    WITH base AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    sel1 AS MATERIALIZED (
        SELECT vec_id, v, 0.0 AS mind FROM base WHERE vec_id = 0
    ),
    {",".join(cte)}
    SELECT * FROM ({finals}) ORDER BY pick_idx
    """


@query("kcenter_coreset_selection", oracle=_kcenter_oracle())
def kcenter_coreset_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point-first, Gonzalez 1985) coreset
    selection over the embedding corpus: seed with vec_id 0, then k-1
    times pick the vector FARTHEST (max-min squared euclidean) from
    everything selected so far — the classic 2-approximation whose
    picks are the maximally-spread coreset used for eval-set seeding,
    active-learning batch selection, and diversity-first data pruning
    (`mmr_diverse_selection` trades relevance against diversity; this
    is the pure-diversity endpoint).

    Scale shape follows the MMR/kmeans discipline: the selected set is
    k-bounded INDEX METADATA unrolled as literal arrays; each round is
    one narrow min-over-k projection of the corpus ending in a
    TakeOrdered(1) — one 64-float row of driver traffic per round, no
    shuffle. Distances expand to dot-product folds (exprs.dot ≙
    list_dot_product) evaluated on identical doubles, so both engines
    make the same greedy pick every round (ties on vec_id)."""
    from ..exprs import dot

    e = load_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    seed = base.filter(F.col("vec_id") == 0).collect()[0]
    picks = [(1, int(seed["vec_id"]), 0.0)]
    sel_ids = [int(seed["vec_id"])]
    svals = [float(x) for x in seed["v"]]
    # r14: each literal vector's self-dot is a per-row constant
    # the HOF fold re-evaluated every row — computed driver-side.
    sel_vecs = [(F.lit(svals), F.lit(self_dot(svals)))]
    for t in range(2, KCENTER_K + 1):
        dists = [
            dot(F.col("v"), F.col("v"))
            - F.lit(2.0) * dot(F.col("v"), sv)
            + svd
            for sv, svd in sel_vecs
        ]
        mind = dists[0] if len(dists) == 1 else F.least(*dists)
        row = (
            base.filter(~F.col("vec_id").isin(sel_ids))
            .withColumn("mind", mind)
            .orderBy(F.desc("mind"), "vec_id")
            .limit(1)
            .collect()[0]
        )
        picks.append((t, int(row["vec_id"]), float(row["mind"])))
        sel_ids.append(int(row["vec_id"]))
        rvals = [float(x) for x in row["v"]]
        sel_vecs.append((F.lit(rvals), F.lit(self_dot(rvals))))
    out = spark.createDataFrame(picks, "pick_idx int, vec_id long, mind double")
    return out.select(
        "pick_idx", "vec_id", stable_render(F.col("mind"), 6).alias("min_dist_sq")
    ).orderBy("pick_idx")


# ---------------------------------------------------------------------------
# Packing-strategy advisor (r11 batch 6)
# ---------------------------------------------------------------------------

_PACK_W = 256  # context window (tokens per training bin)


def _pow2_case_sql(col: str) -> str:
    """Smallest power of two >= col (col in 1.._PACK_W), as an explicit
    CASE chain — identical integer arithmetic in both engines."""
    branches = " ".join(
        f"WHEN {col} <= {1 << b} THEN {1 << b}"
        for b in range(0, _PACK_W.bit_length())
    )
    return f"(CASE {branches} END)"


@query(
    "packing_strategy_advisor",
    oracle=f"""
    WITH t AS (
        SELECT least(len(list_filter(string_split(text, ' '), x -> x <> '')),
                     {_PACK_W}) AS n
        FROM documents
    ),
    tot AS (SELECT count(*) AS n_docs, sum(n) AS total FROM t),
    shelf AS (
        SELECT {_pow2_case_sql("n")} AS shelf_len,
               count(*) AS cnt, sum(n) AS bucket_tokens
        FROM t GROUP BY shelf_len
    ),
    shelf_bins AS (
        SELECT CAST(sum(
                   (cnt + ({_PACK_W} // shelf_len) - 1)
                   // ({_PACK_W} // shelf_len)) AS BIGINT) AS bins,
               CAST(sum(bucket_tokens) AS BIGINT) AS used
        FROM shelf
    ),
    rows_out AS (
        SELECT 'a_naive_one_per_bin' AS strategy,
               CAST(n_docs AS BIGINT) AS bins,
               CAST(n_docs * {_PACK_W} - total AS BIGINT) AS padded_tokens
        FROM tot
        UNION ALL
        SELECT 'b_length_bucket_shelf',
               b.bins,
               CAST(b.bins * {_PACK_W} - b.used AS BIGINT)
        FROM shelf_bins b
        UNION ALL
        SELECT 'c_concat_lower_bound',
               CAST((total + {_PACK_W} - 1) // {_PACK_W} AS BIGINT),
               CAST(((total + {_PACK_W} - 1) // {_PACK_W}) * {_PACK_W} - total
                    AS BIGINT)
        FROM tot
    )
    SELECT strategy, bins, padded_tokens,
           {round_sql(
               "1.0 - CAST(padded_tokens AS DOUBLE)"
               f" / (bins * {_PACK_W})", 6)} AS utilization
    FROM rows_out ORDER BY strategy
    """,
)
def packing_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing-strategy advisor at W=256: how many
    training bins and how much padding waste under (a) the naive
    one-document-per-padded-bin batcher, (b) length-bucketed shelf
    packing (round each doc up to the next power of two, fill bins
    with floor(W/shelf) same-shelf docs — what production LLM batchers
    actually do), and (c) the concatenation lower bound
    (`pack_sequences_greedy`'s regime, ceil(total/W)). Padding is pure
    FLOP waste at training time; the (a)→(b) delta is the payoff of
    adding a length-bucketing stage, and the (b)→(c) gap is what
    crossing document boundaries would still buy.

    Every strategy here is CLOSED-FORM from grouped counts — doc
    lengths reduce to 9 shelf buckets, so there is no sequential
    bin state, no window, no fold: one scan, one 9-row aggregate,
    3 output rows at any corpus size. Docs longer than W are clipped
    to W (they fill a bin exactly)."""
    d = load_table(spark, sf_dir, "documents")
    n = F.least(
        F.size(F.filter(F.split("text", " "), lambda x: x != "")),
        F.lit(_PACK_W),
    )
    t = d.select(n.alias("n"))
    tot = t.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("total")
    )
    shelf = (
        t.select(F.expr(_pow2_case_sql("n")).alias("shelf_len"), "n")
        .groupBy("shelf_len")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("n").alias("bucket_tokens"))
    )
    fit = F.floor(F.lit(_PACK_W) / F.col("shelf_len"))
    shelf_bins = shelf.agg(
        F.sum(F.ceil(F.col("cnt") / fit)).cast("long").alias("bins"),
        F.sum("bucket_tokens").cast("long").alias("used"),
    )
    a = tot.select(
        F.lit("a_naive_one_per_bin").alias("strategy"),
        F.col("n_docs").cast("long").alias("bins"),
        (F.col("n_docs") * _PACK_W - F.col("total")).cast("long").alias("padded_tokens"),
    )
    b = shelf_bins.select(
        F.lit("b_length_bucket_shelf").alias("strategy"),
        "bins",
        (F.col("bins") * _PACK_W - F.col("used")).cast("long").alias("padded_tokens"),
    )
    cbins = F.ceil(F.col("total") / F.lit(_PACK_W)).cast("long")
    c = tot.select(
        F.lit("c_concat_lower_bound").alias("strategy"),
        cbins.alias("bins"),
        (cbins * _PACK_W - F.col("total")).cast("long").alias("padded_tokens"),
    )
    util = F.lit(1.0) - F.col("padded_tokens").cast("double") / (
        F.col("bins") * F.lit(_PACK_W)
    )
    return (
        a.unionAll(b)
        .unionAll(c)
        .select("strategy", "bins", "padded_tokens", round_col(util, 6).alias("utilization"))
        .orderBy("strategy")
    )


# ---------------------------------------------------------------------------
# Power-iteration PCA over the embedding covariance block (r11 batch 6)
# ---------------------------------------------------------------------------

_PI_D = 8       # leading embedding dims (the covariance-block window)
_PI_STEPS = 8   # unrolled power-iteration steps


def _pi_fold(items: list[float]) -> float:
    """Left fold starting from the FIRST element — the exact
    accumulation DuckDB's init-less list_reduce performs."""
    acc = items[0]
    for x in items[1:]:
        acc = acc + x
    return acc


def _pi_oracle() -> str:
    steps = []
    prev = "v0"
    for t in range(1, _PI_STEPS + 1):
        steps.append(f"""
    w{t} AS MATERIALIZED (
        SELECT c.i, list_reduce(list(c.c * v.v ORDER BY c.j),
                                (a, b) -> a + b) AS w
        FROM cmat c JOIN {prev} v ON c.j = v.i GROUP BY c.i
    ),
    n{t} AS (SELECT sqrt(list_reduce(list(w * w ORDER BY i),
                                     (a, b) -> a + b)) AS nrm FROM w{t}),
    v{t} AS MATERIALIZED (
        SELECT i, {round_sql("w / nrm", 6)} AS v FROM w{t}, n{t}
    )""")
        prev = f"v{t}"
    return f"""
    WITH cells AS (
        SELECT i.i AS i, j.j AS j,
               {round_sql(
                   "covar_samp(CAST(embedding[i] AS DOUBLE),"
                   " CAST(embedding[j] AS DOUBLE))", 6)} AS c
        FROM embeddings,
             (SELECT unnest(range(1, {_PI_D} + 1)) AS i) i,
             (SELECT unnest(range(1, {_PI_D} + 1)) AS j) j
        GROUP BY i.i, j.j
    ),
    cmat AS MATERIALIZED (SELECT * FROM cells),
    v0 AS (SELECT i, CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END AS v
           FROM (SELECT unnest(range(1, {_PI_D} + 1)) AS i)),
    {",".join(steps)},
    wr AS (
        SELECT c.i, list_reduce(list(c.c * v.v ORDER BY c.j),
                                (a, b) -> a + b) AS w
        FROM cmat c JOIN v{_PI_STEPS} v ON c.j = v.i GROUP BY c.i
    ),
    ray AS (
        SELECT list_reduce(list(v.v * w.w ORDER BY v.i), (a, b) -> a + b)
            AS lam
        FROM v{_PI_STEPS} v JOIN wr w ON v.i = w.i
    ),
    tr AS (
        SELECT list_reduce(list(c ORDER BY i), (a, b) -> a + b) AS trace
        FROM cmat WHERE i = j
    ),
    top AS (
        SELECT i AS top_dim, v AS top_loading FROM v{_PI_STEPS}
        ORDER BY abs(v) DESC, i LIMIT 1
    )
    SELECT {stable_render_sql("lam", 6)} AS eigenvalue,
           CAST(top_dim AS INT) AS top_dim,
           {stable_render_sql("top_loading", 6)} AS top_loading,
           {stable_render_sql("lam / trace", 6)} AS anisotropy
    FROM ray, tr, top
    """


@query("embedding_power_iteration_pca", oracle=_pi_oracle())
def embedding_power_iteration_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the leading 8×8 embedding
    covariance block by power iteration — the PCA diagnostic behind
    whitening decisions and ANN health (a high anisotropy ratio
    λ₁/trace means the embedding space collapses toward one direction,
    which degrades cosine contrast and sign-LSH bucket balance; run
    this before `similarity_*` index builds, alongside
    `embedding_covariance_block` which reports the raw block).

    The 100 TB shape is the kmeans/centroid discipline taken to its
    logical end: ONE corpus scan computes the 64 co-moment cells
    (single-pass covar_samp aggregate), and the 8 power-iteration
    steps run on that 8×8 METADATA — driver-side here, each step an
    ascending-index left fold with 6-dp portable rounding of the
    normalized vector, so the oracle's init-less list_reduce replays
    it term-for-term. Corpus cost is independent of the step count."""
    import math

    e = load_table(spark, sf_dir, "embeddings")
    cols = [
        F.covar_samp(
            F.element_at("embedding", i).cast("double"),
            F.element_at("embedding", j).cast("double"),
        ).alias(f"c_{i}_{j}")
        for i in range(1, _PI_D + 1)
        for j in range(1, _PI_D + 1)
    ]
    row = e.agg(*cols).collect()[0]
    c = {
        (i, j): _round6(float(row[f"c_{i}_{j}"]))
        for i in range(1, _PI_D + 1)
        for j in range(1, _PI_D + 1)
    }
    v = [1.0] + [0.0] * (_PI_D - 1)
    for _step in range(_PI_STEPS):
        w = [
            _pi_fold([c[(i, j)] * v[j - 1] for j in range(1, _PI_D + 1)])
            for i in range(1, _PI_D + 1)
        ]
        nrm = math.sqrt(_pi_fold([x * x for x in w]))
        v = [_round6(x / nrm) for x in w]
    wr = [
        _pi_fold([c[(i, j)] * v[j - 1] for j in range(1, _PI_D + 1)])
        for i in range(1, _PI_D + 1)
    ]
    lam = _pi_fold([v[i] * wr[i] for i in range(_PI_D)])
    trace = _pi_fold([c[(i, i)] for i in range(1, _PI_D + 1)])
    top = max(range(_PI_D), key=lambda i: (abs(v[i]), -i))
    out = spark.createDataFrame(
        [(lam, top + 1, v[top], lam / trace)],
        "lam double, top_dim int, top_loading double, aniso double",
    )
    return out.select(
        stable_render(F.col("lam"), 6).alias("eigenvalue"),
        "top_dim",
        stable_render(F.col("top_loading"), 6).alias("top_loading"),
        stable_render(F.col("aniso"), 6).alias("anisotropy"),
    )


# ---------------------------------------------------------------------------
# r13 addition: fixed-size weighted reservoir sampling (A-Res).
# ---------------------------------------------------------------------------

_WRS_K = 40
#: u in (0,1]: first 8 md5 hex chars of the salted doc key, +1 so the
#: all-zero hash cannot produce u=0 (ln(0) = -inf), over 2^32.
_WRS_U_SQL = (
    "(CAST(('0x' || substr(md5('res:' || doc_id), 1, 8)) AS BIGINT) + 1)"
    " / 4294967296.0"
)


@query(
    "weighted_reservoir_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               {round_sql(f"ln({_WRS_U_SQL}) / GREATEST(n_chars, 1)", 9)}
                   AS res_key_r
        FROM documents
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           {stable_render_sql("res_key_r", 9)} AS res_key
    FROM keyed
    ORDER BY res_key_r DESC, doc_id
    LIMIT {_WRS_K}
    """,
)
def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size weighted sampling WITHOUT replacement via the
    Efraimidis-Spirakis A-Res reservoir (Inf. Proc. Letters 2006):
    each row draws a deterministic uniform u from the salted md5 of
    its key and keeps score u^(1/w) (compared as ln(u)/w, the same
    ordering with no tiny-exponent underflow); the global top-k by
    score IS a k-reservoir weighted by w — here w = n_chars, so
    inclusion probability tracks document length, the usual proxy for
    per-doc token cost. Unlike `data_mix_weighted_sample` (Bernoulli:
    rate fixed, size random) this returns an EXACTLY-k sample, the
    shape needed for fixed-budget eval panels and annotation batches.

    Shape: one projection pass (no RNG state — reruns and both
    engines agree bit-for-bit), then a TakeOrdered top-k: every
    partition keeps a local k-heap and only k rows per partition ever
    move, so there is NO corpus shuffle and the reservoir semantics
    distribute for free. Keys are rounded to 9 dp with doc_id
    tie-break so the cut agrees across engines; at 100 TB, k-heap
    merge traffic is k * n_partitions rows — independent of corpus
    size."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("res:"), F.col("doc_id"))), 1, 8), 16, 10)
        .cast("long")
        + F.lit(1)
    ) / F.lit(4294967296.0)
    res_key = round_col(
        F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)).cast("double"), 9
    )
    return (
        d.select("doc_id", "source", "n_chars", res_key.alias("res_key"))
        .orderBy(F.desc("res_key"), "doc_id")
        .limit(_WRS_K)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            stable_render(F.col("res_key"), 9).alias("res_key"),
        )
    )


# ---------------------------------------------------------------------------
# r13 addition: MinHash Jaccard-estimator error audit.
# ---------------------------------------------------------------------------

_MEE_H = 16
_MEE_EXACT_SQL = (
    "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)"
    " / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))"
)


@query(
    "minhash_estimate_error",
    oracle=f"""
    WITH
    {_MINHASH_EDGES_SQL},
    sets AS (
        SELECT doc_id, list(shingle) AS s,
               [{", ".join(f"min(md5(shingle || ':e{k}'))" for k in range(_MEE_H))}] AS es
        FROM sh GROUP BY doc_id
    ),
    scored AS (
        SELECT p.doc_a, p.doc_b,
               {_MEE_EXACT_SQL} AS exact,
               len(list_filter(range(1, {_MEE_H + 1}),
                               i -> a.es[i] = b.es[i])) / {_MEE_H}.0 AS est
        FROM pairs p
        JOIN sets a ON a.doc_id = p.doc_a
        JOIN sets b ON b.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b,
           {round_sql("exact", 4)} AS jac_exact,
           {round_sql("est", 4)} AS jac_est,
           {round_sql("abs(est - exact)", 4)} AS abs_err,
           CAST(CASE WHEN abs(est - exact)
                     <= 3 * sqrt(exact * (1 - exact) / {_MEE_H}.0)
                        + 1.0 / {_MEE_H}
                THEN 1 ELSE 0 END AS INT) AS within_bound
    FROM scored
    ORDER BY doc_a, doc_b
    """,
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard-ESTIMATOR error audit: for every LSH candidate
    pair, the signature-agreement estimate (matching slots / h over
    h=16 fresh salted min-hashes) next to the exact trigram
    Jaccard, the absolute error, and a 3-sigma binomial bound flag
    (|est - exact| <= 3*sqrt(J(1-J)/h) + 1/h, the quantization-slack
    form) replayed bit-exact by the oracle. Unlike the sketch audits
    (`approx_distinct_sketch`), the bound is NOT asserted as a
    literal: a 3-sigma binomial tail legitimately fires on ~0.3% of
    pairs (sf0.1 fixture: 2 of 573), so the honest contract is to
    REPORT violations — a systematic estimator break shows up as a
    flood of zeros in this column, while the asserted-literal form
    would be fixture-dependent (the compressibility-bound lesson).
    Completes the MinHash story:
    `minhash_lsh_candidates` (recall machinery),
    `minhash_verify_jaccard` (exact verdicts),
    `lsh_tuning_curve` (banding operating point), and now the
    estimator's calibration itself.

    Scale shape: the 16 extra min-aggregates ride the SAME
    per-doc shingle aggregation as the candidate signatures (one
    corpus pass, map-side combinable mins), and the audit join
    touches candidate pairs only — never all pairs. The exact leg
    exists BECAUSE this is an audit; the production path keeps only
    the estimate. At 100 TB the audit runs on a candidate sample."""
    d = load_table(spark, sf_dir, "documents")
    # r13 second pass: per-doc shingle set and the
    # _MEE_H estimator min-hashes are row-local (array_distinct +
    # array_min over the same set yield exactly the old
    # collect_set/min values), and only CANDIDATE docs' rows are ever
    # read — so broadcast the candidate id list, semi-filter the
    # arrays in ONE corpus pass, compute the estimator hashes on the
    # candidate-bounded rows only, and checkpoint that for the two
    # pair sides.
    cand = minhash_lsh_candidates(spark, sf_dir).localCheckpoint()
    toks = d.select("doc_id", F.split("text", " ").alias("tokens")).filter(
        F.size("tokens") >= 3
    )
    sets = toks.select("doc_id", shingle_set("tokens").alias("s"))
    cd = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    sets = (
        sets.join(F.broadcast(cd), "doc_id")
        .select(
            "doc_id",
            "s",
            F.array(
                *[
                    F.array_min(
                        F.transform(
                            "s",
                            lambda sh: F.md5(F.concat(sh, F.lit(f":e{k}"))),
                        )
                    )
                    for k in range(_MEE_H)
                ]
            ).alias("es"),
        )
        .localCheckpoint()
    )
    a, b = sets.alias("a"), sets.alias("b")
    joined = cand.join(a, cand.doc_a == F.col("a.doc_id")).join(
        b, cand.doc_b == F.col("b.doc_id")
    )
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    exact = inter.cast("double") / (
        F.size(F.col("a.s")) + F.size(F.col("b.s")) - inter
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("a.es"), F.col("b.es"), lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(float(_MEE_H))
    )
    bound = 3 * F.sqrt(exact * (1 - exact) / F.lit(float(_MEE_H))) + F.lit(
        1.0 / _MEE_H
    )
    return (
        joined.select(
            "doc_a",
            "doc_b",
            round_col(exact, 4).alias("jac_exact"),
            round_col(est, 4).alias("jac_est"),
            round_col(F.abs(est - exact), 4).alias("abs_err"),
            (F.abs(est - exact) <= bound).cast("int").alias("within_bound"),
        )
        .orderBy("doc_a", "doc_b")
    )
