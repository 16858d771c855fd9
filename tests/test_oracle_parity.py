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


def _verify_contract():
    import importlib.util
    import pathlib

    vc_path = pathlib.Path(__file__).parent.parent / "scripts" / "verify_contract.py"
    spec = importlib.util.spec_from_file_location("verify_contract", vc_path)
    vc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vc)
    return vc


_VC = _verify_contract()


@pytest.mark.parametrize("name", NAMES)
def test_parity(name, spark, oracle_con):
    """Each registered query, built once, gets every check:

    - its plan holds no CartesianProduct (an all-pairs join whose cost
      grows with the square of its input). The plan string is taken
      before the result is collected, so AQE's final plan cannot hide
      one;
    - it returns at least one row at sf0.01 (a vacuous oracle match
      proves nothing);
    - its oracle emits no HUGEINT/UHUGEINT/DECIMAL, and every Spark
      output column's type category matches its oracle twin. DuckDB
      `sum(BIGINT)` returns HUGEINT: the local fetch normalizes it to
      a Python int (parity looks exact), but the driver's pandas/Arrow
      fetch renders it float64/decimal128 — `150.0` vs Spark's BIGINT
      `150` — which flips the value hash while rows and schema stay
      green. That burned three driver rounds on the survival family
      (r7); this guard makes the bug class fail locally;
    - its rows equal the oracle's.
    """
    df = hds.QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    sdf = df.toPandas()
    assert "CartesianProduct" not in plan, f"{name}: plan has a CartesianProduct"
    assert len(sdf) > 0, f"{name}: empty result set"
    if name not in hds.ORACLE_SQL:
        return  # rows-only check
    rel = oracle_con.sql(hds.ORACLE_SQL[name])
    errs = _VC.type_guard_errors(df.dtypes, rel.columns, rel.types)
    assert not errs, f"{name}: oracle type-guard violations: {errs}"
    odf = oracle_con.execute(hds.ORACLE_SQL[name]).fetchdf()
    _assert_equal(name, _canon(sdf), _canon(odf))


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
