"""Dominator-tree retained size over the heap object graph — the
MAT-style "retained heap" metric, solved on the driver over the
session's graph index.

The reference attributes memory only by class histogram and (in this
engine's `single_retainer_bytes`) by sole-retainer in-degree; neither
answers "how many bytes become collectible if THIS object dies", which
needs dominators: d dominates n iff every path from a GC root to n
passes through d, and retained(d) = Σ shallow(m) over all m dominated
by d.

Both come from :func:`~.reachability.heap_graph`, the numpy CSR the
session builds once from its edge list, with a virtual super-root 0
(the HPROF null id) above every GC root:

1. immediate dominators by Cooper–Harvey–Kennedy ("A Simple, Fast
   Dominance Algorithm"): idom(n) is the nearest common ancestor of
   n's predecessors in the current tree, iterated to a fixpoint over
   the graph's breadth-first walk order. A dominator lies on every
   root path, the shortest one included, so it always precedes the
   nodes it dominates in that order — the numbering the ancestor climb
   needs. A node with one predecessor is dominated by it, so only
   nodes with several predecessors are revisited;
2. retained sizes as subtree sums over the idom tree, one level of
   walk depth at a time from the deepest up (an idom is always
   shallower than the nodes it dominates).

The solve is a Python loop over the multi-predecessor nodes only; the
idom array it returns is kept with the graph until the session
closes. Results reach Spark as DataFrames built from Arrow tables,
joined there to ``_object_index`` for type names.
"""

from __future__ import annotations

from array import array

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import Warehouse
from ..ingest.hprof import PRIM_WIDTHS
from .findings import OBJECT_HEADER
from .reachability import HeapGraph, heap_graph

# Field widths (bytes) for the additive shallow-size model: header +
# packed field bytes / array element bytes, references uncompressed.
_FIELD_WIDTHS = {"Object": 8, **PRIM_WIDTHS}


def shallow_sizes(wh: Warehouse) -> DataFrame:
    """(obj_id, shallow_bytes) for every object: header + field widths
    from the declared `_field_types` layout (instances) or header +
    element bytes (arrays). Class-registry-bounded metadata joins, one
    `size()` projection per array table — no per-object driver work.

    Robustness on real dumps: field widths are summed per
    class_obj_id FIRST, then collapsed per class name with max() —
    two same-named classes from different loaders must never have
    their layouts added together — and instances join the size map
    with a LEFT join + header-only fallback, so a zero-field class
    (java.lang.Object locks/sentinels, which have no `_field_types`
    rows at all) still contributes its header bytes instead of
    silently vanishing from every retained-size rollup. (The object
    index is name-keyed, mirroring the reference's name-keyed class
    tables, so per-loader disambiguation of INSTANCES is not
    representable; max() makes the name-level size an upper bound
    rather than a double count.)"""
    ft = wh.table("_field_types")
    per_class = ft.groupBy("class_obj_id", "class_name").agg(
        F.sum(
            F.coalesce(
                *[
                    F.when(F.col("field_type") == name, F.lit(w))
                    for name, w in _FIELD_WIDTHS.items()
                ]
            )
        ).alias("field_bytes")
    )
    class_sizes = per_class.groupBy("class_name").agg(
        (F.lit(OBJECT_HEADER) + F.max("field_bytes")).alias("shallow_bytes")
    )
    oi = wh.table("_object_index")
    # Arrays live in the object index too (`T[]` type names) but get
    # their sizes from the array tables below — keep them out of the
    # instance branch or the left join would emit a second,
    # header-only row for every array object.
    inst = oi.filter(~F.col("type_name").endswith("[]"))
    parts = [
        inst.join(
            F.broadcast(class_sizes),
            inst.type_name == class_sizes.class_name,
            "left",
        ).select(
            "obj_id",
            F.coalesce("shallow_bytes", F.lit(OBJECT_HEADER)).alias(
                "shallow_bytes"
            ),
        )
    ]
    for suffix, width in PRIM_WIDTHS.items():
        try:
            t = wh.table(f"_primitive_arrays_{suffix}")
        except KeyError:
            continue
        parts.append(
            t.select(
                "obj_id",
                (F.lit(OBJECT_HEADER) + F.size("values") * width)
                .cast("long")
                .alias("shallow_bytes"),
            )
        )
    try:
        oa = wh.table("_object_arrays")
        parts.append(
            oa.select(
                "obj_id",
                (F.lit(OBJECT_HEADER) + F.size("elements") * 8)
                .cast("long")
                .alias("shallow_bytes"),
            )
        )
    except KeyError:
        pass
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def immediate_dominators(g: HeapGraph) -> np.ndarray:
    """Immediate dominator (node number) of every reachable node, the
    super-root its own; -1 where unreachable."""
    live = g.depth[g.src] >= 0  # an unreachable referrer never counts
    src, dst = g.src[live], g.dst[live]
    indeg = np.bincount(dst, minlength=g.ids.size)
    # A lone predecessor is the walk parent and the idom. Nodes with
    # several start undefined and are solved in walk order; their
    # predecessor lists are laid out in that order.
    idom = np.where(indeg == 1, g.parent, -1)
    idom[g.root] = g.root
    pos = np.zeros(g.ids.size, np.int64)
    pos[g.order] = np.arange(g.order.size)
    shared = indeg[dst] > 1
    preds = src[shared][np.argsort(pos[dst[shared]], kind="stable")]
    multi = g.order[indeg[g.order] > 1]
    ends = np.cumsum(indeg[multi])
    # array("q"): 8 bytes a slot, and faster to index than a list
    idom, pos, preds, multi, starts, ends = (
        array("q", a.astype(np.int64).tobytes())
        for a in (idom, pos, preds, multi, ends - indeg[multi], ends)
    )
    first, changed = True, True
    while changed:
        changed = False
        for n, lo, hi in zip(multi, starts, ends):
            new = -1
            for p in preds[lo:hi]:
                if first and pos[p] > pos[n]:
                    continue  # not yet processed in the first pass
                if new < 0:
                    new = p
                    continue
                while p != new:  # climb to the nearest common ancestor
                    while pos[p] > pos[new]:
                        p = idom[p]
                    while pos[new] > pos[p]:
                        new = idom[new]
            if idom[n] != new:
                idom[n], changed = new, True
        first = False
    return np.frombuffer(idom, np.int64).copy()


def subtree_sums(g: HeapGraph, idom: np.ndarray, weight: np.ndarray) -> np.ndarray:
    """*weight* (one row per node) summed over each node's dominated
    set, itself included: deepest walk level first, as an idom is
    always shallower than the nodes it dominates."""
    acc = weight.copy()
    levels = np.split(g.order, np.flatnonzero(np.diff(g.depth[g.order])) + 1)
    for level in reversed(levels[1:]):
        np.add.at(acc, idom[level], acc[level])
    return acc


def _dominators(wh: Warehouse) -> tuple[HeapGraph, np.ndarray]:
    """The session's graph index and its idom array, solved once."""

    def solve() -> tuple[HeapGraph, np.ndarray]:
        g = heap_graph(wh)
        return g, immediate_dominators(g)

    return wh.derived("idoms", solve)


def dominator_tree(wh: Warehouse) -> DataFrame:
    """(obj_id, idom) — the immediate dominator of every reachable
    object. The super-root appears as idom 0: "kept alive directly by
    a GC root"."""
    g, idom = _dominators(wh)
    nodes = g.order[1:]
    return wh.spark.createDataFrame(
        pa.table({"obj_id": g.ids[nodes], "idom": g.ids[idom[nodes]]})
    )


def retained_sizes(wh: Warehouse) -> DataFrame:
    """(obj_id, type_name, idom, n_dominated, retained_bytes) per
    reachable object: the bytes that become collectible if the object
    dies — Σ shallow over its dominated set (itself included), the
    MAT "retained heap" column. Only objects with a
    :func:`shallow_sizes` row count toward ``n_dominated`` and
    ``retained_bytes``; an object whose dominated set has none is left
    out."""
    g, idom = _dominators(wh)
    sizes = shallow_sizes(wh).toArrow()
    obj = sizes.column("obj_id").to_numpy()
    at = np.minimum(np.searchsorted(g.ids, obj), g.ids.size - 1)
    hit = (g.ids[at] == obj) & (g.depth[at] > 0)
    acc = np.zeros((g.ids.size, 2), np.int64)  # (n_dominated, retained_bytes)
    np.add.at(acc[:, 0], at[hit], 1)
    size = sizes.column("shallow_bytes").fill_null(0).to_numpy()
    np.add.at(acc[:, 1], at[hit], size[hit].astype(np.int64))
    acc = subtree_sums(g, idom, acc)
    nodes = g.order[1:]
    nodes = nodes[acc[nodes, 0] > 0]
    retained = wh.spark.createDataFrame(
        pa.table(
            {
                "obj_id": g.ids[nodes],
                "idom": g.ids[idom[nodes]],
                "n_dominated": acc[nodes, 0],
                "retained_bytes": acc[nodes, 1],
            }
        )
    )
    oi = wh.table("_object_index").select("obj_id", "type_name")
    return (
        retained.join(oi, "obj_id")
        .select("obj_id", "type_name", "idom", "n_dominated", "retained_bytes")
        .orderBy(F.desc("retained_bytes"), "obj_id")
    )


def dominated_intervals(g: HeapGraph, idom: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Preorder number and subtree size of every reachable node in the
    idom tree: n dominates m iff pre[n] <= pre[m] < pre[n] + size[n].
    Siblings are numbered in node order, parents before children one
    walk level at a time."""
    size = subtree_sums(g, idom, np.ones(g.ids.size, np.int64))
    kids = g.order[1:]
    kids = kids[np.argsort(idom[kids], kind="stable")]
    before = np.cumsum(size[kids]) - size[kids]  # sizes of the nodes ahead
    first = np.r_[True, idom[kids[1:]] != idom[kids[:-1]]]
    offset = np.zeros(g.ids.size, np.int64)
    offset[kids] = before - np.maximum.accumulate(np.where(first, before, 0))
    pre = np.zeros(g.ids.size, np.int64)
    levels = np.split(g.order, np.flatnonzero(np.diff(g.depth[g.order])) + 1)
    for level in levels[1:]:
        pre[level] = pre[idom[level]] + 1 + offset[level]
    return pre, size


def retained_by_class(wh: Warehouse, k: int = 20) -> DataFrame:
    """Top-k classes by the bytes their instances retain together — the
    class-level triage view ("which TYPE holds the heap").
    ``total_retained`` is Σ shallow over the union of the instances'
    dominated sets: an instance dominated by another of its class is
    already inside that one's retained bytes, so only instances outside
    every earlier dominated interval of their class (in preorder) are
    summed. ``n_objects`` and ``max_retained`` are over every instance
    :func:`retained_sizes` lists."""
    g, idom = _dominators(wh)
    pre, size = dominated_intervals(g, idom)
    nodes = g.order[1:]
    intervals = wh.spark.createDataFrame(
        pa.table({"obj_id": g.ids[nodes], "pre": pre[nodes], "end": pre[nodes] + size[nodes]})
    )
    earlier = Window.partitionBy("type_name").orderBy("pre").rowsBetween(
        Window.unboundedPreceding, -1
    )
    outermost = F.coalesce(F.col("pre") >= F.max("end").over(earlier), F.lit(True))
    return (
        retained_sizes(wh)
        .join(intervals, "obj_id")
        .withColumn("outermost", outermost)
        .groupBy("type_name")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.sum(F.when(F.col("outermost"), F.col("retained_bytes")))
            .cast("long")
            .alias("total_retained"),
            F.max("retained_bytes").cast("long").alias("max_retained"),
        )
        .orderBy(F.desc("total_retained"), "type_name")
        .limit(k)
    )
