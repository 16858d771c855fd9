"""Property-based cross-engine determinism tests for exprs.py.

The oracle comparison depends on Spark and DuckDB producing
bit-identical doubles for every computed value. These tests drive the
portable helpers with hypothesis-generated inputs and assert exact
(not approximate) equality against DuckDB evaluating the SQL twin —
the strongest local guarantee that the driver's value-hash compare
can't be tripped by a pathological float.
"""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from heapdumpstardiver_spark.exprs import round_sql

finite = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
)


def py_round_halfup(x: float, n: int) -> float:
    # The reference semantics both engines implement via
    # floor(x*10^n + 0.5)/10^n with sign handling — plain Python floats
    # are IEEE doubles, so this is a third independent implementation.
    import math

    p = float(10**n)
    if x >= 0:
        return math.floor(x * p + 0.5) / p
    return -(math.floor(-x * p + 0.5) / p)


@settings(max_examples=300, deadline=None)
@given(x=finite, n=st.integers(min_value=0, max_value=6))
def test_round_sql_matches_ieee_reference(x, n):
    con = duckdb.connect()
    # The value is fed through a parameter (a column-like runtime
    # value), NOT a SQL literal: DuckDB's constant folder evaluates
    # double arithmetic on literals through a different path that can
    # disagree with its runtime path in the last ulp above 2^53.
    # Production expressions always operate on DOUBLE columns.
    got = con.execute(f"SELECT {round_sql('($1 + 0.0)', n)}", [x]).fetchone()[0]
    assert got == py_round_halfup(x, n)


@settings(max_examples=200, deadline=None)
@given(
    vec=st.lists(
        st.floats(allow_nan=False, allow_infinity=False, min_value=-1e3, max_value=1e3),
        min_size=1,
        max_size=64,
    )
)
def test_duckdb_dot_product_is_left_fold(vec):
    # exprs.dot relies on list_dot_product being a sequential left
    # fold; verify against a Python loop (IEEE doubles, same order).
    con = duckdb.connect()
    got = con.execute(
        "SELECT list_dot_product($1::DOUBLE[], $1::DOUBLE[])", [vec]
    ).fetchone()[0]
    acc = 0.0
    for x in vec:
        acc = acc + x * x
    assert got == acc


@pytest.mark.parametrize("n", [0, 2, 4])
def test_round_sql_and_spark_round_col_agree(spark, n):
    # One Spark round-trip over a grid of awkward values (halfway
    # points, negatives, subnormal-ish) — exact equality with DuckDB.
    from pyspark.sql import functions as F

    from heapdumpstardiver_spark.exprs import round_col

    values = [
        0.0, -0.0, 2.675, -2.675, 0.5, -0.5, 1.005, -1.005,
        123456.789555, -123456.789555, 1e-9, -1e-9, 0.49999999999999994,
    ]
    sdf = spark.createDataFrame([(v,) for v in values], ["x"])
    spark_out = [
        r["r"] for r in sdf.select(round_col(F.col("x"), n).alias("r")).collect()
    ]
    con = duckdb.connect()
    duck_out = [
        con.execute(f"SELECT {round_sql('($1 + 0.0)', n)}", [v]).fetchone()[0]
        for v in values
    ]
    assert spark_out == duck_out


@settings(max_examples=300, deadline=None)
@given(x=finite)
def test_qc_round6_matches_round_sql(x):
    """The driver-side rounding twin the trained classifier uses
    between GD rounds (`llm._qc_round6`) must agree bit-exactly with
    the SQL rounding the oracle unrolls — a disagreement on ANY
    double would silently diverge the weight trajectories."""
    from heapdumpstardiver_spark.queries.llm import _qc_round6

    con = duckdb.connect()
    got = con.execute(f"SELECT {round_sql('($1 + 0.0)', 6)}", [x]).fetchone()[0]
    want = _qc_round6(x)
    # round_sql normalizes -0.0 via + CAST(0 AS DOUBLE); _qc_round6
    # does the same with + 0.0 — compare bit patterns, not just ==
    import struct

    assert struct.pack("d", got) == struct.pack("d", want), (x, got, want)


def test_cosine_bn_is_bit_identical_to_cosine(spark):
    """r14: cosine_bn (norm-hoisted cosine) must produce the same
    IEEE doubles as the inline cosine — same quotient
    dot/(sqrt(aa)·bn), each factor evaluated once."""
    import math

    from pyspark.sql import functions as F

    from heapdumpstardiver_spark.exprs import cosine, cosine_bn, dot

    rows = [
        ([1.0, 2.5, -3.75, 0.125], [0.5, -1.5, 2.25, 4.0]),
        ([1e-12, -1e12, 3.14159, 2.71828], [1.0, 1.0, 1.0, 1.0]),
        ([0.1, 0.2, 0.3, 0.4], [-0.4, 0.3, -0.2, 0.1]),
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    out = df.select(
        cosine(F.col("a"), F.col("b")).alias("inline"),
        cosine_bn(
            F.col("a"), F.col("b"), F.sqrt(dot(F.col("b"), F.col("b")))
        ).alias("hoisted"),
    ).collect()
    for r in out:
        assert math.isclose(r["inline"], r["hoisted"], rel_tol=0, abs_tol=0) or (
            r["inline"] == r["hoisted"]
        ), (r["inline"], r["hoisted"])


@settings(max_examples=200, deadline=None)
@given(
    pair=st.integers(min_value=1, max_value=64).flatmap(
        lambda n: st.tuples(
            *[
                st.lists(
                    st.floats(
                        allow_nan=False,
                        allow_infinity=False,
                        min_value=-1e3,
                        max_value=1e3,
                    ),
                    min_size=n,
                    max_size=n,
                )
            ]
            * 2
        )
    )
)
def test_fold_dot_and_self_dot_match_duckdb_bit_for_bit(pair):
    """The Python folds stand in for ``list_dot_product`` in
    literal distances and norms, so they must agree on every bit."""
    import struct

    from heapdumpstardiver_spark.exprs import fold_dot, self_dot

    xs, ys = pair
    con = duckdb.connect()
    xy, xx = con.execute(
        "SELECT list_dot_product($1::DOUBLE[], $2::DOUBLE[]),"
        " list_dot_product($1::DOUBLE[], $1::DOUBLE[])",
        [xs, ys],
    ).fetchone()
    assert struct.pack("d", fold_dot(xs, ys)) == struct.pack("d", xy)
    assert struct.pack("d", self_dot(xs)) == struct.pack("d", xx)


def test_nearest_centroid_matches_brute_force_argmin(spark):
    """``nearest_centroid`` picks the centroid a Python argmin over
    (distance, cid) picks, ties going to the smaller cid whatever the
    order the centroids are listed in, and ``-negd`` is that
    distance."""
    from pyspark.sql import functions as F

    from heapdumpstardiver_spark.exprs import fold_dot, nearest_centroid, self_dot

    # cids 7 and 2 share a vector; (1, 0) is equidistant from the
    # first four and (1, -0.5) from cids 4 and 3, listed in that
    # order; the last centroid is nearest to nothing.
    cents = [
        (7, [1.0, 1.0]),
        (2, [1.0, 1.0]),
        (4, [0.0, 0.0]),
        (3, [2.0, 0.0]),
        (9, [-50.0, 40.0]),
    ]
    vecs = [
        [1.0, 1.0], [1.0, 0.0], [1.0, -0.5], [0.25, -0.5], [2.5, 0.125], [1.0, 0.5],
        [-3.0, 7.5], [0.0, 0.0], [1.5, 1.5],
    ]
    best = nearest_centroid(F.col("v"), cents)
    rows = (
        spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], "i int, v array<double>")
        .select("i", best.getField("cid").alias("cid"), (-best.getField("negd")).alias("dist"))
        .orderBy("i")
        .collect()
    )
    for r, v in zip(rows, vecs):
        dist, cid = min(
            (self_dot(v) - 2 * fold_dot(v, cv) + self_dot(cv), c) for c, cv in cents
        )
        assert (r["cid"], r["dist"]) == (cid, dist), (v, r)
    assert [r["cid"] for r in rows[:3]] == [2, 2, 3]


@pytest.mark.parametrize("n,stride", [(1, None), (3, None), (4, None), (3, 2), (4, 3)])
def test_shingle_hashes_match_python_md5(spark, n, stride):
    """``shingle_hashes`` is md5 over the space-joined token window at
    each start 1, 1 + stride, ... <= size - n + 1."""
    import hashlib

    from heapdumpstardiver_spark.exprs import shingle_hashes

    docs = [
        "a b c d e f g",
        "the quick brown fox",
        "x y z",
        "solo words with  double space",
        "one two three four five six seven eight nine ten",
    ]
    toks = [t.split(" ") for t in docs]
    got = [
        r["h"]
        for r in spark.createDataFrame([(i, t) for i, t in enumerate(toks)], "i int, tokens array<string>")
        .filter(f"size(tokens) >= {n}")
        .select("i", shingle_hashes("tokens", n, stride).alias("h"))
        .orderBy("i")
        .collect()
    ]
    want = [
        [
            hashlib.md5(" ".join(t[i - 1 : i - 1 + n]).encode()).hexdigest()
            for i in range(1, len(t) - n + 2, stride or 1)
        ]
        for t in toks
        if len(t) >= n
    ]
    assert got == want


@pytest.mark.parametrize("n_hashes,n_bands", [(4, 2), (8, 4)])
def test_minhash_bands_match_python(spark, n_hashes, n_bands):
    """Both caller shapes of ``minhash_bands`` — the in-row array_min
    and the groupBy min — give the bands a Python min-hash computes:
    h_k = min md5(shingle || ':k'), band b's bucket = md5 of its
    signature columns concatenated."""
    import hashlib

    from pyspark.sql import functions as F

    from heapdumpstardiver_spark.exprs import minhash_bands

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    sets = {
        1: ["a b c", "b c d", "c d e"],
        2: ["a b c", "b c d"],
        3: ["zz yy xx"],
        4: ["q r s", "r s t", "s t u", "t u v", "a b c"],
    }
    rows_per_band = n_hashes // n_bands
    want = set()
    for doc, shs in sets.items():
        sig = [min(md5(f"{s}:{k}") for s in shs) for k in range(n_hashes)]
        for b in range(n_bands):
            cols = sig[rows_per_band * b : rows_per_band * (b + 1)]
            want.add((doc, b, md5("".join(cols))))

    arr = spark.createDataFrame(list(sets.items()), "doc_id int, hs array<string>")
    sig, bb = minhash_bands(lambda h: F.array_min(F.transform("hs", h)), n_hashes, n_bands)
    in_row = arr.select("doc_id", *sig).select("doc_id", bb).select("doc_id", "bb.band", "bb.bucket")
    sig, bb = minhash_bands(lambda h: F.min(h(F.col("shingle"))), n_hashes, n_bands)
    grouped = (
        arr.select("doc_id", F.explode("hs").alias("shingle"))
        .groupBy("doc_id")
        .agg(*sig)
        .select("doc_id", bb)
        .select("doc_id", "bb.band", "bb.bucket")
    )
    for df in (in_row, grouped):
        assert {(r["doc_id"], r["band"], r["bucket"]) for r in df.collect()} == want
