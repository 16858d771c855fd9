"""GC-root reachability over the heap object graph — BFS as iterative
DataFrame joins. This module is the only code that builds or walks
that graph.

The reference encodes the heap as a relational graph (field value =
object id → join, /root/reference/mcp_server/server.py:179-184) but can
only walk a fixed number of hops by writing one JOIN per hop; an
arbitrary-depth traversal ("is this object live?", "how much is
floating garbage?") is outside its SQL surface. Here it is a
first-class operator: build the edge list once from the warehouse,
then breadth-first-expand a frontier with anti-join de-duplication —
the same bounded-iteration shape as dedup_connected_components
(queries/pipeline.py), rounds bounded by graph diameter.

Edge sources (complete by construction of the warehouse):
- per-class Object-typed fields, discovered from ``_field_types``
  (the declared layout written at ingest — a class-registry-sized
  metadata read, same posture as the reference's schema pass);
- ``_object_arrays`` element lists (one explode);
- ``_static_fields`` refs (class object → referee).

Derived relations, one definition each: the distinct, checkpointed
edge list (:func:`heap_edges`), the live set (:func:`live_set`), the
per-type live census (:func:`live_census`), the in-degree /
sole-retainer map (:func:`retainers`, :func:`sole_retainers`) and the
driver-side graph index (:func:`heap_graph`). The edge list, the live
set and the index are memoised on the session's
:class:`~heapdumpstardiver_spark.catalog.Warehouse`
(``Warehouse.derived``): built once, shared by the session's liveness,
sole-retainer and dominator tools, held until the session closes,
dropped by ``Warehouse.invalidate()``. The rest is lazy.

Scale notes: the per-class loop is driver-side over the CLASS REGISTRY
(thousands), never over instances; each class contributes a
column-pruned scan of exactly (obj_id + its ref columns). Every BFS
round of the live-set walk is one join + one anti-join over
fixed-width (src, dst) longs. The index holds the edge list in driver
memory as numpy arrays (32 bytes per node plus 16 per edge, DEPLOY.md);
its walk is a handful of vectorised numpy calls per level of depth.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import Warehouse

#: Round cap of every frontier walk — a runaway backstop, not a
#: truncation: a walk still growing at the cap raises.
MAX_ROUNDS = 1024

#: Virtual super-root of the graph index, with an edge to every GC
#: root — the HPROF null id, so no real object carries it.
SUPER_ROOT = 0


def heap_edges(wh: Warehouse) -> DataFrame:
    """Distinct (src, dst) reference edges for the whole heap, dst != 0
    (the null sentinel, SURVEY §1.2, never creates an edge),
    checkpointed once per session.

    Every per-class / system table lookup tolerates a missing table:
    ingest only writes a table when it has >=1 row (loaded classes with
    zero instances are common in real dumps), so absence means "no
    edges from that source", not an error — the same guard
    default_mode.py:121-124 applies to the ref-resolution pass."""

    def build() -> DataFrame:
        ft = wh.table("_field_types").filter(F.col("field_type") == "Object")
        by_class: dict[str, list[str]] = {}
        # Driver-side over the class registry only (bounded like the
        # reference's schema generation, dump_to_parquet.rs:521-533).
        for r in ft.select("class_name", "field_name").collect():
            by_class.setdefault(r["class_name"], []).append(r["field_name"])

        sources = [
            ("_object_arrays", "obj_id", F.explode("elements")),
            ("_static_fields", "class_obj_id", F.col("ref_id")),
        ] + [
            (cls, "obj_id", F.explode(F.array(*[F.col(f"`{f}`") for f in fields])))
            for cls, fields in sorted(by_class.items())
        ]
        # The checkpoint keeps the union's size estimate; an empty
        # createDataFrame() would make it 8 EiB and draw runtime
        # bloom filters (two extra jobs) into every edge consumer.
        edges = wh.spark.range(0).select(
            F.col("id").alias("src"), F.col("id").alias("dst")
        )
        for name, src, dst in sources:
            try:
                t = wh.table(name)
            except KeyError:
                continue  # e.g. a class loaded with zero instances: no table
            edges = edges.unionByName(
                t.select(F.col(src).alias("src"), dst.alias("dst"))
            )
        return edges.filter(F.col("dst") != 0).distinct().localCheckpoint()

    return wh.derived("heap_edges", build)


def root_ids(wh: Warehouse) -> DataFrame:
    """(obj_id) of every distinct GC root, the null id dropped; empty
    for a dump with no GC-root records (then nothing is live)."""
    try:
        roots = wh.table("_gc_roots")
    except KeyError:
        return wh.spark.createDataFrame([], "obj_id long")
    return roots.filter(F.col("obj_id") != 0).select("obj_id").distinct()


def walk_frontier(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    what: str,
    max_rounds: int = MAX_ROUNDS,
) -> DataFrame:
    """Breadth-first closure of *seed* (rows keyed by ``obj_id``):
    *step* maps a frontier to its next hop, anti-joined against the
    visited set, until a round adds nothing — the only correct stop, as
    reference chains can be arbitrarily deep. A frontier still growing
    after *max_rounds* raises: a partial set would misreport live
    objects as garbage. One job per round: the lazy checkpoint's
    count() is both the emptiness probe and the materialization;
    ``visited`` stays a lazy union of checkpointed frontiers."""
    visited = frontier = seed.localCheckpoint()
    for _ in range(max_rounds):
        nxt = (
            step(frontier)
            .join(visited, "obj_id", "left_anti")
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            return visited
        visited = visited.unionByName(nxt)
        frontier = nxt
    raise RuntimeError(
        f"{what} did not converge within {max_rounds} rounds (frontier "
        "still growing); refusing to return a partial result"
    )


def reachable_from_roots(wh: Warehouse, max_rounds: int = MAX_ROUNDS) -> DataFrame:
    """(obj_id) of every object reachable from any GC root, recomputed
    on every call (:func:`live_set` is the session's memoised copy)."""
    edges = heap_edges(wh)
    return walk_frontier(
        root_ids(wh),
        lambda fr: edges.join(fr, edges.src == fr.obj_id)
        .select(F.col("dst").alias("obj_id"))
        .distinct(),
        "reachability BFS",
        max_rounds,
    )


def live_set(wh: Warehouse) -> DataFrame:
    """(obj_id) of every live object, computed once per session. A BFS
    that raises leaves nothing behind, so the next call retries."""
    return wh.derived("live_set", lambda: reachable_from_roots(wh))


class HeapGraph(NamedTuple):
    """The heap graph as numpy edge arrays over dense node numbers,
    walked once breadth-first from the super-root. Node ``root`` is the
    super-root; self-edges are dropped (they never change a path or a
    dominator)."""

    ids: np.ndarray  # object id of each node, ascending
    root: int  # node number of the super-root
    src: np.ndarray  # edges, sorted by (src, dst)
    dst: np.ndarray
    order: np.ndarray  # reachable nodes level by level, super-root first
    parent: np.ndarray  # previous node on the minimal root path; -1 unreachable
    depth: np.ndarray  # hops from the super-root; -1 unreachable


def heap_graph(wh: Warehouse) -> HeapGraph:
    """The session's :class:`HeapGraph`, built on first use from the
    memoised :func:`heap_edges` plus one super-root edge per
    :func:`root_ids` row, read back to the driver in one ``toArrow()``."""

    def build() -> HeapGraph:
        rooted = heap_edges(wh).unionByName(
            root_ids(wh).select(
                F.lit(SUPER_ROOT).cast("long").alias("src"),
                F.col("obj_id").alias("dst"),
            )
        )
        t = rooted.toArrow()
        return index_edges(t.column("src").to_numpy(), t.column("dst").to_numpy())

    return wh.derived("heap_graph", build)


def index_edges(src: np.ndarray, dst: np.ndarray) -> HeapGraph:
    """The :class:`HeapGraph` of (src, dst) object-id edges, GC roots
    entered as edges from :data:`SUPER_ROOT`.

    The walk keeps, for every reachable object, the root path that is
    minimal by (depth, path) with each path read as its sequence of
    object ids: one parent per node, taken level by level as the
    frontier parent whose own path sorts first."""
    src, dst = np.asarray(src, np.int64), np.asarray(dst, np.int64)
    src, dst = src[src != dst], dst[src != dst]
    ids, nodes = np.unique(np.concatenate([[SUPER_ROOT], src, dst]), return_inverse=True)
    root = int(nodes[0])
    src, dst = nodes[1 : 1 + src.size], nodes[1 + src.size :]
    by_src = np.argsort(src * ids.size + dst)  # by (src, dst)
    src, dst = src[by_src], dst[by_src]
    indptr = np.zeros(ids.size + 1, np.int64)
    np.cumsum(np.bincount(src, minlength=ids.size), out=indptr[1:])
    return HeapGraph(ids, root, src, dst, *_walk(indptr, dst, root))


def _walk(indptr, succ, root):
    """(order, parent, depth) of the breadth-first walk from *root*.
    Each level is kept in root-path order and each node's out-edges are
    sorted by target (node numbers follow object ids), so in a level's
    edge list the first edge to reach a new node comes from the parent
    whose path sorts first, and those first edges, in list order, are
    the next level in path order."""
    parent = np.full(indptr.size - 1, -1, np.int64)
    depth = np.full(indptr.size - 1, -1, np.int64)
    parent[root], depth[root] = root, 0
    levels = [np.array([root], np.int64)]
    while True:
        level = levels[-1]
        starts = indptr[level]
        deg = indptr[level + 1] - starts
        hop = np.repeat(starts - np.cumsum(deg) + deg, deg) + np.arange(deg.sum())
        src, dst = np.repeat(level, deg), succ[hop]
        fresh = depth[dst] < 0
        src, dst = src[fresh], dst[fresh]
        if not dst.size:
            return np.concatenate(levels), parent, depth
        first = np.sort(np.unique(dst, return_index=True)[1])
        nxt = dst[first]
        parent[nxt], depth[nxt] = src[first], len(levels)
        levels.append(nxt)


def live_census(wh: Warehouse) -> DataFrame:
    """(type_name, n_objects, n_reachable, n_unreachable) over
    ``_object_index``: one join against the live set (tiny next to the
    index, so the broadcast side) and one aggregation, lazy."""
    live = live_set(wh).withColumn("live", F.lit(1))
    return (
        wh.table("_object_index")
        .join(live, "obj_id", "left")
        .groupBy("type_name")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.sum(F.coalesce("live", F.lit(0))).cast("long").alias("n_reachable"),
            F.sum(F.when(F.col("live").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unreachable"),
        )
    )


def retainers(wh: Warehouse) -> DataFrame:
    """(dst, n, retainer) per referenced object: its in-degree over the
    distinct edge list and its smallest referrer — the sole retainer
    when n == 1 (freeing it frees the object), lazy."""
    return heap_edges(wh).groupBy("dst").agg(
        F.count(F.lit(1)).alias("n"), F.min("src").alias("retainer")
    )


def sole_retainers(wh: Warehouse) -> DataFrame:
    """(retainer, dst, retained_type, retainer_type, ...) for every
    object with exactly one referrer, both ends typed from
    ``_object_index``, lazy."""
    oi = wh.table("_object_index")
    typed = lambda key, name: oi.select(  # noqa: E731
        F.col("obj_id").alias(key), F.col("type_name").alias(name)
    )
    return (
        retainers(wh)
        .filter(F.col("n") == 1)
        .join(typed("dst", "retained_type"), "dst")
        .join(typed("retainer", "retainer_type"), "retainer")
    )


def unreachable_by_type(wh: Warehouse, k: int = 20) -> DataFrame:
    """Floating garbage census: objects in ``_object_index`` that no GC
    root reaches, counted per type — the "what is this dead weight"
    leak-triage view the reference's fixed-join SQL cannot express."""
    return (
        live_census(wh)
        .filter(F.col("n_unreachable") > 0)
        .select("type_name", "n_unreachable")
        .orderBy(F.desc("n_unreachable"), "type_name")
        .limit(k)
    )


def liveness_summary(wh: Warehouse) -> DataFrame:
    """One-row summary: total objects, reachable, unreachable."""
    cols = ("n_objects", "n_reachable", "n_unreachable")
    return live_census(wh).agg(*[F.sum(c).cast("long").alias(c) for c in cols])
