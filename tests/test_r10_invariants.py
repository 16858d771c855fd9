"""Semantic invariants for the round-10 operator families — properties
the oracle value-hash can't express: the hash pins WHAT came out,
these pin WHY it is trustworthy (reconstruction identities, bounds,
monotonicity, internal consistency)."""

from __future__ import annotations

from pyspark.sql import functions as F

import heapdumpstardiver_spark as hds
from heapdumpstardiver_spark.catalog import load_table
from tests.conftest import SF_DIR


def _rows(spark, name):
    return hds.QUERIES[name](spark, SF_DIR).collect()


def test_incremental_lsh_batch_count_consistency(spark):
    """dup ⊆ candidates ⊆ batch per source, kept = batch − dup, and
    the fixture corpus must actually produce verified near-dups."""
    rows = _rows(spark, "incremental_dedup_lsh_batch")
    for r in rows:
        assert 0 <= r["dup_docs"] <= r["cand_docs"] <= r["batch_docs"]
        assert r["kept_docs"] == r["batch_docs"] - r["dup_docs"]
    assert sum(r["dup_docs"] for r in rows) > 0


def test_bpe_merges_are_wellformed_and_decreasingly_applied(spark):
    """Each merge row concatenates its pair; counts are positive; and
    the FIRST merge has the globally maximal pair count (later merges
    can rise — merged symbols create new pairs — but nothing may
    exceed merge 1's count, which argmaxed over the superset state)."""
    rows = _rows(spark, "bpe_train_merges")
    assert [r["merge_idx"] for r in rows] == list(range(1, 9))
    for r in rows:
        assert r["merged"] == r["sym_a"] + r["sym_b"]
        assert r["pair_cnt"] > 0
    assert rows[0]["pair_cnt"] == max(r["pair_cnt"] for r in rows)


def test_tokenizer_apply_compression_bounds(spark):
    """BPE tokens per word is ≥ 1 (segments can't beat one token) and
    ≤ the character upper bound; totals are internally consistent."""
    for r in _rows(spark, "tokenizer_apply_bpe"):
        assert r["n_bpe_tokens"] >= r["n_words"] >= 1
        assert 1.0 <= r["tokens_per_word"]


def test_saturation_curve_monotone_and_marginal_consistent(spark):
    rows = _rows(spark, "saturation_dedup_curve")
    assert [r["curve_point"] for r in rows] == list(range(1, 9))
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_docs"] > prev["n_docs"]
        assert cur["n_dup"] >= prev["n_dup"]
    for r in rows:
        assert 0.0 <= r["dup_rate"] <= 1.0
        assert 0.0 <= r["marginal_dup_rate"] <= 1.0
    # marginal numerators must reconcile with the cumulative deltas
    deltas = [
        (cur["n_dup"] - prev["n_dup"], cur["n_docs"] - prev["n_docs"])
        for prev, cur in zip(rows, rows[1:])
    ]
    for (dd, dn), r in zip(deltas, rows[1:]):
        assert abs(r["marginal_dup_rate"] - dd / dn) < 1e-4


def test_kneser_ney_nll_nonnegative(spark):
    """Interpolated KN probabilities are in (0, 1] by construction
    (discount < 1, continuation counts ≥ 1), so per-doc NLL ≥ 0."""
    rows = _rows(spark, "kneser_ney_trigram_score")
    assert len(rows) == 50
    for r in rows:
        assert float(r["nll"]) >= 0.0
        assert r["n_trigrams"] >= 1


def test_cdc_chunks_reconstruct_documents(spark):
    """The CDC chunking is a PARTITION of each document: concatenating
    a doc's chunks in order must reproduce the original text exactly
    (checked on the first 30 docs — the strongest possible pin on the
    boundary arithmetic)."""
    from heapdumpstardiver_spark.queries.llm import (
        _CDC_DIV,
        _CDC_MOD,
        _CDC_W,
        _CDC_WEIGHTS,
    )

    d = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 30)
    terms = " + ".join(
        f"element_at(cps, i - {j}) * {w}" for j, w in enumerate(_CDC_WEIGHTS)
    )
    # The boundaries are materialised before the check: left lazy, the
    # `rejoined != text` filter is pushed below the projections and
    # inlines `bs` and `cps`, re-evaluating the per-character transform
    # for every position, weight and boundary reference.
    bounds = (
        d.select(
            "doc_id",
            "text",
            F.expr(
                "transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1)))"
            ).alias("cps"),
        )
        .select(
            "doc_id",
            "text",
            F.expr(
                f"CASE WHEN length(text) >= {_CDC_W} THEN "
                f"filter(sequence({_CDC_W}, length(text)),"
                f" i -> (({terms}) % {_CDC_MOD}) % {_CDC_DIV} = 0) "
                "ELSE array() END"
            ).alias("bpos"),
        )
        .select(
            "doc_id",
            "text",
            F.expr(
                "concat(array(0L), transform(bpos, x -> cast(x AS LONG)),"
                " array(cast(length(text) AS LONG)))"
            ).alias("bs"),
        )
        .localCheckpoint()
    )
    recon = (
        bounds.select(
            "doc_id",
            "text",
            F.expr(
                "concat_ws('', transform(sequence(1, size(bs) - 1),"
                " k -> substring(text, cast(element_at(bs, k) AS INT) + 1,"
                " cast(element_at(bs, k + 1) - element_at(bs, k) AS INT))))"
            ).alias("rejoined"),
        )
    )
    bad = recon.filter(F.col("rejoined") != F.col("text")).count()
    assert bad == 0


def test_context_window_loss_monotone_in_window(spark):
    rows = _rows(spark, "context_window_loss")
    assert [r["window_tokens"] for r in rows] == [128, 512, 2048]
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_truncated"] <= prev["n_truncated"]
        assert cur["tokens_lost"] <= prev["tokens_lost"]
        assert cur["loss_rate"] <= prev["loss_rate"]
    for r in rows:
        assert 0.0 <= r["trunc_rate"] <= 1.0
        assert 0.0 <= r["loss_rate"] < 1.0


def test_good_turing_estimates_bounded(spark):
    row = _rows(spark, "good_turing_vocab_estimate")[0]
    assert 0.0 <= row["p_unseen"] <= 1.0
    assert row["chao1_vocab"] >= row["v_observed"]
    assert row["n1"] + row["n2"] <= row["v_observed"]
    assert row["n_tokens"] >= row["v_observed"]


def test_quantization_error_bounds(spark):
    row = _rows(spark, "embedding_quantization_error")[0]
    avg_cos, min_cos = float(row["avg_cos"]), float(row["min_cos"])
    assert min_cos <= avg_cos <= 1.0
    assert min_cos > 0.9  # int8 with per-vector scale is a mild quantizer
    assert float(row["avg_mse"]) >= 0.0
    assert float(row["max_mse"]) >= float(row["avg_mse"])


def test_mmr_picks_distinct_and_first_is_max_relevance(spark):
    rows = _rows(spark, "mmr_diverse_selection")
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == len(ids) == 8
    rels = [float(r["rel"]) for r in rows]
    assert float(rows[0]["mmr"]) == float(rows[0]["rel"])
    assert rels[0] >= max(rels[1:]) - 1e-6  # pick 1 argmaxed relevance
    # later picks: mmr = 0.7·rel − 0.3·maxsim with maxsim ∈ [−1, 1]
    for r in rows[1:]:
        assert abs(float(r["mmr"]) - 0.7 * float(r["rel"])) <= 0.3 + 1e-6


def test_kfold_balanced_and_complete(spark):
    rows = _rows(spark, "stratified_kfold_assignment")
    per_source: dict = {}
    for r in rows:
        assert 0 <= r["fold"] <= 4
        per_source.setdefault(r["source"], []).append(r)
    d = load_table(spark, SF_DIR, "documents")
    src_tot = {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for src, rws in per_source.items():
        assert sum(r["n_docs"] for r in rws) == src_tot[src]
        for r in rws:
            assert abs(r["rel_dev"] - (r["n_docs"] / r["exp_docs"] - 1)) < 1e-3


def test_random_projection_jl_concentration(spark):
    row = _rows(spark, "random_projection_distortion")[0]
    assert row["n_pairs"] >= 1000
    mn, mx, avg = (
        float(row["min_ratio"]),
        float(row["max_ratio"]),
        float(row["avg_ratio"]),
    )
    assert 0.0 < mn <= avg <= mx
    assert 0.7 <= avg <= 1.3  # JL concentration around 1 at 16 dims
    assert 0.0 <= row["frac_within_30pct"] <= 1.0
    assert row["frac_within_30pct"] >= 0.6
