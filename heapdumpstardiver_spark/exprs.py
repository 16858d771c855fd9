"""Engine-portable expression helpers.

The driver compares Spark results against a DuckDB oracle by value
hash, so every computed value must be bit-identical across engines.
Two engine quirks are neutralized here:

- ``round``: Spark rounds HALF_UP on the exact binary expansion of the
  double (2.675d → 2.67) while DuckDB rounds on the shortest decimal
  representation (2.675 → 2.68). ``round2``/``round_col`` instead use
  pure IEEE arithmetic — ``floor(x*10^n + 0.5)/10^n`` with sign
  handling — which evaluates identically in both engines.
- Spark ``F.floor`` returns LongType; dividing by a double literal
  restores DoubleType, matching DuckDB's double pipeline.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, Window
from pyspark.sql import functions as F


def round_col(col: Column, n: int = 2) -> Column:
    """Deterministic half-up rounding of a double column (Spark side).

    The trailing ``+ 0.0`` normalizes negative zero: a tiny negative
    value rounds to -0.0 through the neg branch, and whether the
    pre-round residual is +eps or -eps depends on engine accumulation
    order — observed as a repr-level ``0.0`` vs ``-0.0`` divergence on
    a CUSUM series' final row at sf0.1. IEEE ``-0.0 + 0.0 = +0.0``
    and ``x + 0.0 = x`` exactly for every other value."""
    p = float(10**n)
    pos = F.floor(col * p + F.lit(0.5)) / F.lit(p)
    neg = -(F.floor(-col * p + F.lit(0.5)) / F.lit(p))
    return F.when(col >= 0, pos).otherwise(neg) + F.lit(0.0)


def total_rows() -> Column:
    """The relation's row count on every row: count(1) over one
    unpartitioned, unbounded window frame."""
    return F.count(F.lit(1)).over(
        Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )


def lit_vec(xs) -> Column:
    """One array<double> literal as a SINGLE Literal node.

    ``F.array(*[F.lit(float(x)) for x in xs])`` builds O(d) expression
    nodes per use; at d=64 the per-round re-analysis/codegen of those
    trees measured ~25% of a k-means round's wall (r13). A plain
    ``F.lit(list)`` carries the same doubles as one node — values are
    bit-identical, only plan size changes."""
    return F.lit([float(x) for x in xs])


def round_sql(expr: str, n: int = 2) -> str:
    """The same rounding as :func:`round_col`, as a SQL fragment valid
    in BOTH dialects (DuckDB oracles, and Spark SQL for passthrough
    queries that share their text with the oracle). The divisor is
    CAST to DOUBLE because Spark parses a bare ``10000.0`` literal as
    DECIMAL(5,1) and ``floor()`` returns LONG — ``long / decimal``
    would silently turn the whole column into DECIMAL(28,7)."""
    p = float(10**n)
    return (
        f"((CASE WHEN ({expr}) >= 0 "
        f"THEN floor(({expr}) * {p} + 0.5) / CAST({p} AS DOUBLE) "
        f"ELSE -(floor(-({expr}) * {p} + 0.5) / CAST({p} AS DOUBLE)) END)"
        f" + CAST(0 AS DOUBLE))"
    )


def stable_render(col: Column, n: int = 6) -> Column:
    """Engine-stable rendering of a hashed double output column:
    deterministic half-up rounding → DECIMAL(18,n) → STRING.

    Used for columns whose pre-round value comes out of libm
    (exp/ln/pow chains): a ±1-ulp cross-engine divergence there can
    survive repr-level local parity yet flip a driver-side value hash
    on the raw double bytes. A fixed-scale decimal string has exactly
    one byte representation per rounded value in both engines.
    """
    return round_col(col, n).cast(f"decimal(18,{n})").cast("string")


def stable_render_sql(expr: str, n: int = 6) -> str:
    """The DuckDB/Spark-SQL twin of :func:`stable_render`."""
    return f"CAST(CAST({round_sql(expr, n)} AS DECIMAL(18,{n})) AS VARCHAR)"


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over two array<double> columns.

    Left fold in index order — the same operation order DuckDB's
    ``list_dot_product`` uses, so results are bit-comparable.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_bn(a: Column, b: Column, bn: Column) -> Column:
    """:func:`cosine` with ``b``'s norm precomputed
    (``bn == sqrt(dot(b, b))``, the identical fold): evaluates the same
    IEEE expression ``dot/(sqrt(aa)·bn)``, so values are bit-identical.

    Use when ``b`` is constant across rows (a broadcast query vector):
    the inline form re-runs b's 64-element fold + sqrt once PER ROW —
    cross-row redundancy codegen CSE cannot remove (r13's panel-scan
    hoist, extended r14 to the single-query scans).
    Hoisting ``a``'s own norm is NOT worth it unless the row fans out
    into multiple pairs (each output row computes it once; the r13
    within-projection hoist adjudication showed the extra Project
    boundary costs more than CSE-deduped folds save)."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * bn)


def fold_dot(xs: Sequence[float], ys: Sequence[float]) -> float:
    """Python twin of :func:`dot`: the same left fold in index order over
    Python floats, so it equals DuckDB ``list_dot_product`` (and the
    Spark fold) on the same doubles bit for bit."""
    acc = 0.0
    for x, y in zip(xs, ys):
        acc = acc + x * y
    return acc


def self_dot(xs: Sequence[float]) -> float:
    """A vector's squared norm, ``fold_dot(xs, xs)``."""
    return fold_dot(xs, xs)


def centroid_argmax(
    centroids: Sequence[tuple[int, Sequence[float]]],
    score: Callable[[Sequence[float]], Column],
    score_name: str = "negd",
    ncid_name: str = "ncid",
) -> Column:
    """The best-scoring centroid as one ``greatest()`` over
    ``struct(score(cv), -cid, cid)`` per centroid: highest score wins,
    ties go to the smaller cid. Read the winner with
    ``.getField("cid")``. The centroids are Python literals (k vectors), so
    the whole argmax is a narrow projection with no join."""
    return F.greatest(
        *[
            F.struct(
                score(cv).alias(score_name),
                F.lit(-cid).alias(ncid_name),
                F.lit(int(cid)).alias("cid"),
            )
            for cid, cv in centroids
        ]
    )


def nearest_centroid(
    vec: Column, centroids: Sequence[tuple[int, Sequence[float]]]
) -> Column:
    """:func:`centroid_argmax` by squared L2 distance, expanded as
    ``v·v - 2·v·c + c·c`` with ``c·c`` folded in Python: the
    ``cid`` field is the nearest centroid (ties to the smaller cid) and
    ``-negd`` its distance."""
    return centroid_argmax(
        centroids,
        lambda cv: -(dot(vec, vec) - 2 * dot(vec, lit_vec(cv)) + F.lit(self_dot(cv))),
    )


def shingle_hashes(tokens: str, n: int, stride: int | None = None) -> Column:
    """md5 of every space-joined ``n``-token window of the array column
    ``tokens``, at 1-based starts ``1, 1 + stride, ... <= size - n + 1``.

    Precondition: ``size(tokens) >= n``. A shorter array makes the
    start sequence count down past 1 and ``slice`` fails on start 0, so
    every caller filters on the size first."""
    starts = [F.lit(1), F.size(tokens) - n + 1]
    if stride is not None:
        starts.append(F.lit(stride))
    return F.transform(
        F.sequence(*starts),
        lambda i: F.md5(F.concat_ws(" ", F.slice(tokens, i, n))),
    )


def _salted_md5(k: int) -> Callable[[Column], Column]:
    return lambda s: F.md5(F.concat(s, F.lit(f":{k}")))


def minhash_bands(
    min_of: Callable[[Callable[[Column], Column]], Column],
    n_hashes: int,
    n_bands: int,
) -> tuple[list[Column], Column]:
    """MinHash signature and LSH band columns over salted md5 hex.

    ``min_of(h)`` reduces ``h(shingle)`` to its per-document minimum:
    ``lambda h: F.array_min(F.transform("hs", h))`` over a row's
    shingle array, or ``lambda h: F.min(h(F.col("shingle")))`` under a
    ``groupBy``. Hash ``k`` is ``md5(shingle || ':k')``; the
    lexicographic min over fixed-width lowercase hex equals the numeric
    min, in Spark and DuckDB alike.

    Returns the signature columns ``h0 .. h{n_hashes - 1}`` and the
    ``bb`` explode of one ``struct(band, bucket)`` per band, where band
    ``b``'s bucket is md5 over the concatenation of its
    ``n_hashes // n_bands`` signature columns. Select the explode over a
    relation that holds the signature columns."""
    rows = n_hashes // n_bands
    sig = [min_of(_salted_md5(k)).alias(f"h{k}") for k in range(n_hashes)]
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.md5(
                        F.concat(*[f"h{rows * bi + r}" for r in range(rows)])
                    ).alias("bucket"),
                )
                for bi in range(n_bands)
            ]
        )
    ).alias("bb")
    return sig, bands
