"""Dominator-tree retained size over the heap object graph — the
MAT-style "retained heap" metric as iterative DataFrame dataflow.

The reference attributes memory only by class histogram and (in this
engine's `single_retainer_bytes`) by sole-retainer in-degree; neither
answers "how many bytes become collectible if THIS object dies", which
needs dominators: d dominates n iff every path from a GC root to n
passes through d, and retained(d) = Σ shallow(m) over all m dominated
by d. Computed here with the classic dataflow equations

    dom(n) = {n} ∪ ⋂_{p ∈ preds(n)} dom(p)

iterated to the greatest fixpoint, entirely as joins/aggregations:

1. add a virtual super-root 0 with an edge to every GC root (0 is the
   HPROF null sentinel, so no real object carries it);
2. BFS from the super-root recording one tree path per node (the
   gc_root_path construction) — its node set is a valid upper bound
   for dom(n) (every dominator lies on EVERY root path, hence on this
   one), and because the bound comes from a tree, one dataflow step
   only shrinks it, so Kleene iteration converges downward to the
   greatest fixpoint = the dominator sets;
3. each round: explode dom(p) over the edge list, count votes per
   (n, candidate), keep candidates voted by ALL in-edges, re-add {n}.
   Fixpoint when the pair count stops shrinking (the sequence is
   strictly decreasing until convergence). Driver traffic is one
   scalar count per round; lineage is checkpoint-truncated.

idom(n) is then the deepest strict dominator (dominators of n are
totally ordered, so argmax by |dom(d)| is unique), and retained sizes
are one explode + join + groupBy over the final (node, dominator)
pair set.

Scale notes: state is the (node, dominator) pair list — Σ|dom(n)| =
Σ depth(n), the same bound as storing one root path per node
(gc_root_path). Heap graphs are shallow in practice; rounds are
fixpoint-bounded with a non-convergence guard like reachability's
BFS. At 100 TB the pair list shuffles on fixed-width longs only, and
per-round work is one join + one aggregation — no driver-side graph.

Adaptive small-graph fast path: below ``DRIVER_FALLBACK_EDGES`` the
edge list is broadcast-small, and the distributed loop's per-round
scheduling latency dwarfs the work — so the graph is collected and
solved in-process (Cooper-Harvey-Kennedy idom iteration), the same
collect-when-tiny trade Spark's broadcast-join threshold encodes.
Both paths produce the identical pair set (adversarially
cross-checked in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import Warehouse
from .reachability import heap_edges, root_ids

#: virtual super-root object id — the HPROF null sentinel, never a
#: real object id, so it cannot collide.
SUPER_ROOT = 0

# Primitive field widths (bytes) for the additive shallow-size model:
# 16-byte header + packed field bytes / array element bytes.
_PRIM_WIDTHS = {
    "Object": 8, "long": 8, "double": 8, "int": 4, "float": 4,
    "short": 2, "char": 2, "byte": 1, "boolean": 1,
}
_OBJ_HEADER = 16


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
                    for name, w in _PRIM_WIDTHS.items()
                ]
            )
        ).alias("field_bytes")
    )
    class_sizes = per_class.groupBy("class_name").agg(
        (F.lit(_OBJ_HEADER) + F.max("field_bytes")).alias("shallow_bytes")
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
            F.coalesce("shallow_bytes", F.lit(_OBJ_HEADER)).alias(
                "shallow_bytes"
            ),
        )
    ]
    for suffix, width in (
        ("byte", 1), ("boolean", 1), ("char", 2), ("short", 2),
        ("int", 4), ("float", 4), ("long", 8), ("double", 8),
    ):
        try:
            t = wh.table(f"_primitive_arrays_{suffix}")
        except KeyError:
            continue
        parts.append(
            t.select(
                "obj_id",
                (F.lit(_OBJ_HEADER) + F.size("values") * width)
                .cast("long")
                .alias("shallow_bytes"),
            )
        )
    try:
        oa = wh.table("_object_arrays")
        parts.append(
            oa.select(
                "obj_id",
                (F.lit(_OBJ_HEADER) + F.size("elements") * 8)
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


def _rooted_edges(wh: Warehouse) -> DataFrame:
    """Distinct (src, dst) edges with the virtual super-root attached
    to every GC root; self-edges dropped (they never affect
    dominance — any path using one revisits the node). Both halves are
    distinct and no heap edge leaves the super-root, so the union is."""
    roots = root_ids(wh).select(
        F.lit(SUPER_ROOT).cast("long").alias("src"), F.col("obj_id").alias("dst")
    )
    return heap_edges(wh).filter(F.col("src") != F.col("dst")).unionByName(roots)


def dominator_pairs(wh: Warehouse, max_rounds: int = 256) -> DataFrame:
    """(obj_id, dom) — every (node, dominator) pair over the reachable
    subgraph, including (n, n) self-pairs and the super-root's
    dominance of everything. Greatest-fixpoint dataflow per the module
    docstring; raises on non-convergence rather than returning an
    unsound over-approximation."""
    return dominator_pairs_from(wh.spark, _rooted_edges(wh), max_rounds)


#: Edge-count gate for the driver-side fast path — the same
#: "small enough to collect" scale Spark's broadcast-join threshold
#: encodes (100k fixed-width edges ≈ a couple of MB). Below it, the
#: per-round job-scheduling latency of the distributed fixpoint
#: (~0.2-0.5 s/round regardless of data) dwarfs the actual work, so
#: the graph is collected and solved in-process; above it, the
#: distributed dataflow runs unchanged. Exactly the adaptive
#: small-input strategy AQE applies to joins, applied to an
#: iterative fixpoint.
DRIVER_FALLBACK_EDGES = 100_000


def dominator_pairs_from(
    spark,
    rooted_edges: DataFrame,
    max_rounds: int = 256,
    force_distributed: bool = False,
) -> DataFrame:
    """Fixpoint core over an explicit (src, dst) edge DataFrame that
    already includes super-root→root edges (src=0). Exposed so tests
    can drive arbitrary synthetic graphs without an HPROF ingest.
    ``force_distributed`` bypasses the small-graph driver fast path so
    tests can pin the distributed dataflow on tiny graphs."""
    edges = rooted_edges.localCheckpoint()
    if not force_distributed and edges.count() <= DRIVER_FALLBACK_EDGES:
        return _dominator_pairs_driver(spark, edges)
    # Size-based (not parallelism-based) AQE coalescing for the
    # duration of the iterative loops: each round's state is one
    # shrinking relation, and coalescing its post-shuffle partitions
    # to the advisory size instead of defaultParallelism cuts the
    # per-round task count (measured ~15% wall on the bench fixture)
    # while staying correct at scale — a large pair set still gets
    # size-proportional partitions. Restored on exit.
    _PFIRST = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    prev_pfirst = spark.conf.get(_PFIRST, "true")
    spark.conf.set(_PFIRST, "false")
    try:
        return _dominator_pairs_loop(spark, edges, max_rounds)
    finally:
        spark.conf.set(_PFIRST, prev_pfirst)


def _dominator_pairs_driver(spark, edges: DataFrame) -> DataFrame:
    """In-process dominator solve for broadcast-small graphs:
    Cooper-Harvey-Kennedy iterative idom intersection over a
    BFS order, then the pair set expands along idom chains (the
    dominators of n ARE its idom-tree ancestors). The BFS index is a
    valid walk order for the intersect climb: a dominator always has
    strictly smaller BFS depth than the nodes it dominates, so
    idx[idom[n]] < idx[n] holds at the fixpoint (asserted below).
    Output contract is identical to the distributed loop: (obj_id,
    dom) over the reachable subgraph, self-pairs included."""
    from collections import deque

    rows = [(r[0], r[1]) for r in edges.collect() if r[0] != r[1]]
    succ: dict[int, list[int]] = {}
    for s, d in rows:
        succ.setdefault(s, []).append(d)
    order = [SUPER_ROOT]
    seen = {SUPER_ROOT}
    dq = deque([SUPER_ROOT])
    while dq:
        u = dq.popleft()
        for v in sorted(succ.get(u, ())):
            if v not in seen:
                seen.add(v)
                order.append(v)
                dq.append(v)
    idx = {n: i for i, n in enumerate(order)}
    preds: dict[int, list[int]] = {n: [] for n in order}
    for s, d in rows:
        if s in seen and d in seen:
            preds[d].append(s)

    idom: dict[int, int] = {SUPER_ROOT: SUPER_ROOT}

    def intersect(a: int, b: int) -> int:
        while a != b:
            while idx[a] > idx[b]:
                a = idom[a]
            while idx[b] > idx[a]:
                b = idom[b]
        return a

    changed = True
    while changed:
        changed = False
        for n in order[1:]:
            ps = [p for p in preds[n] if p in idom]
            if not ps:
                continue
            new = ps[0]
            for p in ps[1:]:
                new = intersect(new, p)
            if idom.get(n) != new:
                idom[n] = new
                changed = True
    for n in order[1:]:
        assert idx[idom[n]] < idx[n], "idom order invariant violated"
    pairs = []
    for n in order:
        pairs.append((n, n))
        d = n
        while d != SUPER_ROOT:
            d = idom[d]
            pairs.append((n, d))
    return spark.createDataFrame(pairs, "obj_id long, dom long")


def _dominator_pairs_loop(spark, edges: DataFrame, max_rounds: int) -> DataFrame:
    pad = lambda c: F.lpad(c.cast("string"), 20, "0")  # noqa: E731

    # BFS tree path per node, min-(depth, path) like gc_root_path.
    start = spark.createDataFrame([(SUPER_ROOT,)], "obj_id long").select(
        "obj_id", pad(F.col("obj_id")).alias("path")
    )

    def expand(fr: DataFrame) -> DataFrame:
        return (
            edges.join(fr, edges.src == fr.obj_id)
            .select(
                F.col("dst").alias("obj_id"),
                F.concat(F.col("path"), F.lit("|"), pad(F.col("dst"))).alias("path"),
            )
            .groupBy("obj_id")
            .agg(F.min("path").alias("path"))
        )

    # Iterative-loop wall time is dominated by per-action scheduling,
    # not data, once the state fits in a few partitions — so each
    # round materializes TWO hops in one eager checkpoint (halving the
    # action count; the per-action DAG is one join deeper, which the
    # scheduler amortizes far better than an extra job). The two-hop
    # merge keeps the parent-prefix tree invariant the dataflow seed
    # relies on: nxt2 paths extend nxt1's CHOSEN min paths, and nodes
    # already in nxt1 are anti-joined out of nxt2 so no node's chosen
    # path is rewritten after a child extended it. `visited` stays a
    # lazy union of checkpointed frontiers — each piece's lineage is
    # already truncated, so re-checkpointing the union every round
    # would re-cache all previous rows (O(depth²) writes) for nothing.
    # Lazy checkpoint + count(): the count action IS the materializing
    # job, so each round costs ONE job instead of an eager-checkpoint
    # job followed by an emptiness probe (count, not isEmpty, because
    # a partial-evaluation probe would leave checkpoint partitions
    # unmaterialized).
    visited, frontier = start.localCheckpoint(), start
    for _ in range(max_rounds):
        nxt1 = expand(frontier).join(visited, "obj_id", "left_anti")
        nxt2 = (
            expand(nxt1)
            .join(visited, "obj_id", "left_anti")
            .join(nxt1, "obj_id", "left_anti")
        )
        nxt = nxt1.unionByName(nxt2).localCheckpoint(eager=False)
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    else:
        raise RuntimeError(
            f"dominator BFS did not converge within {max_rounds} rounds"
        )

    reachable = visited.select("obj_id").localCheckpoint()
    # Init dom(n) = nodes on n's BFS tree path (a superset of dom(n)).
    dom = visited.select(
        "obj_id",
        F.explode(
            F.transform(F.split("path", r"\|"), lambda s: s.cast("long"))
        ).alias("dom"),
    ).localCheckpoint()

    # indeg is attached to the edge list ONCE (it is per-dst constant),
    # so each fixpoint round runs exactly two shuffles — the dom-set
    # propagation join and the vote count — instead of four (the old
    # shape re-aggregated indeg and re-joined it every round, then paid
    # a distinct() shuffle the self-pair filter below makes redundant).
    indeg = edges.join(reachable, edges.src == reachable.obj_id).groupBy(
        "dst"
    ).agg(F.count(F.lit(1)).alias("indeg"))
    redges = (
        edges.join(reachable, edges.src == reachable.obj_id)
        .select("src", "dst")
        .join(indeg, "dst")
        .localCheckpoint()
    )
    selfpairs = reachable.select("obj_id", F.col("obj_id").alias("dom"))

    def step(d: DataFrame) -> DataFrame:
        voted = (
            redges.join(d, redges.src == d.obj_id)
            .select("dst", "dom", "indeg")
            .groupBy("dst", "dom", "indeg")
            .agg(F.count(F.lit(1)).alias("votes"))
            .filter(F.col("votes") == F.col("indeg"))
            .select(F.col("dst").alias("obj_id"), "dom")
        )
        # voted is unique by construction (groupBy key) and the
        # self-pair filter makes the union disjoint, so no distinct():
        # set-wise, (voted \ selfpairs) ∪ selfpairs = voted ∪ selfpairs.
        return (
            voted.filter(F.col("obj_id") != F.col("dom"))
            .unionByName(selfpairs)
        )

    # Two dataflow applications per materialized round (same
    # action-count rationale as the BFS above). Sound termination:
    # the tree-path seed gives F(X) ⊆ X, so the iterate chain is
    # monotone decreasing — |F²(X)| = |X| forces F²(X) = F(X) = X,
    # i.e. an equal pair count across a DOUBLE step still certifies
    # the fixpoint, never a skipped oscillation.
    prev_n = dom.count()
    for _ in range(max_rounds):
        # lazy checkpoint: the convergence count doubles as the
        # materializing action — one job per round, lineage truncated.
        dom = step(step(dom)).localCheckpoint(eager=False)
        n = dom.count()
        if n == prev_n:
            return dom
        prev_n = n
    raise RuntimeError(
        f"dominator dataflow did not converge within {max_rounds} rounds"
    )


def dominator_tree(wh: Warehouse) -> DataFrame:
    """(obj_id, idom) — the immediate dominator of every reachable
    object (idom = the deepest strict dominator; unique because a
    node's dominators are totally ordered). The super-root appears as
    idom 0: "kept alive directly by a GC root"."""
    return dominator_tree_from_pairs(dominator_pairs(wh))


def retained_sizes(wh: Warehouse) -> DataFrame:
    """(obj_id, type_name, idom, n_dominated, retained_bytes) per
    reachable object: the bytes that become collectible if the object
    dies — Σ shallow over its dominated set (itself included), the
    MAT "retained heap" column. One explode-free join + aggregation
    over the dominator pair set."""
    # No extra materialization for the two consumers below: the
    # distributed path returns a checkpointed pair set, the
    # driver fast path a local-list DataFrame (trivially re-playable).
    dom = dominator_pairs(wh)
    sizes = shallow_sizes(wh)
    retained = (
        dom.filter(F.col("dom") != SUPER_ROOT)
        .join(sizes, "obj_id")
        .groupBy("dom")
        .agg(
            F.count(F.lit(1)).alias("n_dominated"),
            F.sum("shallow_bytes").cast("long").alias("retained_bytes"),
        )
        .withColumnRenamed("dom", "obj_id")
    )
    idom = dominator_tree_from_pairs(dom)
    oi = wh.table("_object_index").select("obj_id", "type_name")
    return (
        retained.join(oi, "obj_id")
        .join(idom, "obj_id")
        .select("obj_id", "type_name", "idom", "n_dominated", "retained_bytes")
        .orderBy(F.desc("retained_bytes"), "obj_id")
    )


def dominator_tree_from_pairs(dom: DataFrame) -> DataFrame:
    """idom extraction when the pair set is already materialized."""
    depths = dom.groupBy("obj_id").agg(F.count(F.lit(1)).alias("depth"))
    d_depth = depths.select(
        F.col("obj_id").alias("dom"), F.col("depth").alias("dom_depth")
    )
    return (
        dom.filter(F.col("dom") != F.col("obj_id"))
        .join(d_depth, "dom")
        .groupBy("obj_id")
        .agg(F.max_by("dom", "dom_depth").alias("idom"))
    )


def retained_by_class(wh: Warehouse, k: int = 20) -> DataFrame:
    """Top-k classes by total retained bytes of their instances — the
    class-level triage view ("which TYPE holds the heap")."""
    return (
        retained_sizes(wh)
        .groupBy("type_name")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.sum("retained_bytes").cast("long").alias("total_retained"),
            F.max("retained_bytes").cast("long").alias("max_retained"),
        )
        .orderBy(F.desc("total_retained"), "type_name")
        .limit(k)
    )
