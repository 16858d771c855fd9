"""Dominator-tree retained size vs an independent pure-Python
computation — over the purpose-built graph fixture dump (diamond,
multi-root confluence, chain, cycle, shared payload, garbage), over
randomized graphs (the driver-side solver checked against textbook
iterative dataflow computed in plain sets, and its root paths against
enumerated paths) and over a chain deeper than any round cap.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from heapdumpstardiver_spark.analytics.dominators import (
    dominated_intervals,
    dominator_tree,
    immediate_dominators,
    retained_by_class,
    retained_sizes,
    subtree_sums,
)
from heapdumpstardiver_spark.analytics.reachability import SUPER_ROOT, heap_graph, index_edges
from heapdumpstardiver_spark.catalog import Warehouse
from heapdumpstardiver_spark.ingest import ingest_hprof
from heapdumpstardiver_spark.ingest.hprof_writer import build_graph_dump


def py_dominators(edges: list[tuple[int, int]], roots: list[int]) -> dict[int, set[int]]:
    """Textbook iterative dataflow from the top (dom = all reachable
    nodes) — O(V^2) but an entirely independent construction from the
    Spark BFS-seeded version."""
    adj: dict[int, set[int]] = {}
    preds: dict[int, set[int]] = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        preds.setdefault(d, set()).add(s)
    for r in set(roots):
        adj.setdefault(SUPER_ROOT, set()).add(r)
        preds.setdefault(r, set()).add(SUPER_ROOT)
    # reachable set
    seen = {SUPER_ROOT}
    stack = [SUPER_ROOT]
    while stack:
        n = stack.pop()
        for m in adj.get(n, ()):
            if m not in seen:
                seen.add(m)
                stack.append(m)
    dom = {n: set(seen) for n in seen}
    dom[SUPER_ROOT] = {SUPER_ROOT}
    changed = True
    while changed:
        changed = False
        for n in seen:
            if n == SUPER_ROOT:
                continue
            ps = [p for p in preds.get(n, ()) if p in seen]
            new = set.intersection(*(dom[p] for p in ps)) | {n} if ps else {n}
            if new != dom[n]:
                dom[n] = new
                changed = True
    return dom


@pytest.fixture(scope="module")
def graph_wh(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("graphdump")
    path = os.path.join(d, "g.hprof")
    truth = build_graph_dump(path)
    wh_dir = os.path.join(d, "wh")
    ingest_hprof(spark, path, wh_dir, overwrite=True)
    return Warehouse(spark, wh_dir), truth


def test_retained_matches_python(graph_wh):
    wh, truth = graph_wh
    dom = py_dominators(truth["edges"], truth["roots"])
    shallow = {o: sz for o, _t, sz in truth["objects"]}
    want_retained: dict[int, int] = {}
    want_ndom: dict[int, int] = {}
    for n, ds in dom.items():
        for d in ds:
            if d == SUPER_ROOT:
                continue
            want_retained[d] = want_retained.get(d, 0) + shallow[n]
            want_ndom[d] = want_ndom.get(d, 0) + 1

    rows = retained_sizes(wh).collect()
    got = {r["obj_id"]: (r["n_dominated"], r["retained_bytes"]) for r in rows}
    assert got == {
        d: (want_ndom[d], want_retained[d]) for d in want_retained
    }


def test_idoms_on_fixture_shapes(graph_wh):
    """Spot-check the designed shapes: diamond head dominates the
    shared payload's siblings but the two-root confluence pushes C, D
    and PB up to the super-root; the chain and cycle idoms follow the
    list order."""
    wh, truth = graph_wh
    ids = truth["ids"]
    idom = {r["obj_id"]: r["idom"] for r in dominator_tree(wh).collect()}
    assert idom[ids["A"]] == ids["R"]
    assert idom[ids["B"]] == ids["A"]
    assert idom[ids["C"]] == SUPER_ROOT  # reachable via R->A->C and R2->C
    assert idom[ids["D"]] == SUPER_ROOT  # via B and via C
    assert idom[ids["PB"]] == SUPER_ROOT  # shared payload of B and C
    assert idom[ids["E1"]] == ids["D"]
    assert idom[ids["E2"]] == ids["E1"]
    assert idom[ids["F1"]] == ids["E4"]
    assert idom[ids["F2"]] == ids["F1"]  # cycle collapses onto entry
    assert idom[ids["PD"]] == ids["D"]
    # garbage never appears
    assert ids["G1"] not in idom and ids["G2"] not in idom


def test_retained_by_class(graph_wh):
    wh, truth = graph_wh
    rows = retained_by_class(wh).collect()
    by_type = {r["type_name"]: r for r in rows}
    # every reachable byte[] retains exactly itself (leaves)
    payloads = {16 + n for n in (400, 200, 64, 32)}
    assert by_type["byte[]"]["total_retained"] == sum(payloads)
    assert by_type["byte[]"]["max_retained"] == 416
    # Node instances: 12 reachable (all but G1, G2)
    assert by_type["com.graph.Node"]["n_objects"] == 12
    # their total is the bytes of the union of their dominated sets,
    # each object once although Node instances dominate one another
    dom = py_dominators(truth["edges"], truth["roots"])
    shallow = {o: sz for o, _t, sz in truth["objects"]}
    nodes = {o for o, t, _ in truth["objects"] if t == "com.graph.Node" and o in dom}
    held = {n for n, ds in dom.items() if ds & nodes}
    assert by_type["com.graph.Node"]["total_retained"] == sum(shallow[n] for n in held)


def py_root_paths(edges: list[tuple[int, int]], roots: list[int]) -> dict[int, tuple[int, ...]]:
    """Per reachable object, the (length, id sequence)-minimal simple
    path from a GC root, by enumerating every simple path."""
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    best: dict[int, tuple[int, ...]] = {}

    def visit(path: tuple[int, ...]) -> None:
        n = path[-1]
        if n not in best or (len(path), path) < (len(best[n]), best[n]):
            best[n] = path
        for m in adj.get(n, ()):
            if m not in path:
                visit(path + (m,))

    for r in set(roots):
        visit((r,))
    return best


def _random_graph(rng: random.Random) -> tuple[list[tuple[int, int]], list[int]]:
    """Arbitrary digraph: cycles, self-edges, multi-edges, one to three
    roots, often an unreachable island feeding into the reachable part."""
    n = rng.randint(1, 12)
    nodes = list(range(1, n + 1))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(rng.randint(0, 3 * n))]
    if rng.random() < 0.5:  # garbage island pointing at live objects
        island = list(range(100, 100 + rng.randint(1, 4)))
        edges += [(rng.choice(island), rng.choice(island + nodes)) for _ in range(5)]
    return edges, rng.sample(nodes, rng.randint(1, min(3, n)))


@pytest.mark.parametrize("shuffle_edges", [False, True])
def test_random_graphs_match_python(shuffle_edges):
    """Randomized adversarial check, no Spark: idoms, dominated-set
    sizes and minimal root paths of the graph index equal the textbook
    top-down dataflow and exhaustive path enumeration exactly — with the
    edges in generation order, and shuffled with duplicates added, as
    an edge table read back from Spark partitions arrives."""
    rng = random.Random(0xD0B)
    for trial in range(400):
        edges, roots = _random_graph(rng)
        rooted = edges + [(SUPER_ROOT, r) for r in roots]
        if shuffle_edges:
            rooted += rng.sample(rooted, len(rooted) // 2)
            rng.shuffle(rooted)
        g = index_edges([s for s, _ in rooted], [d for _, d in rooted])
        idom, obj = immediate_dominators(g), g.ids.tolist()
        got: dict[int, set[int]] = {}
        for n in g.order.tolist():
            got[obj[n]] = {obj[n]} | (got[obj[idom[n]]] if n != g.root else set())
        want = py_dominators(edges, roots)
        assert got == want, f"trial {trial}: {got} != {want}"

        n_dom = subtree_sums(g, idom, np.ones(g.ids.size, np.int64))
        want_n = {d: sum(d in ds for ds in want.values()) for d in want}
        assert {obj[n]: n_dom[n] for n in g.order.tolist()} == want_n

        pre, size = dominated_intervals(g, idom)
        reach = g.order.tolist()
        assert sorted(pre[reach].tolist()) == list(range(len(reach)))
        for n in reach:
            inside = {obj[m] for m in reach if pre[n] <= pre[m] < pre[n] + size[n]}
            assert inside == {m for m, ds in want.items() if obj[n] in ds}, f"trial {trial}"

        paths: dict[int, tuple[int, ...]] = {}
        for n in g.order[1:].tolist():
            paths[obj[n]] = paths.get(obj[g.parent[n]], ()) + (obj[n],)
            assert len(paths[obj[n]]) == g.depth[n]
        assert paths == py_root_paths(edges, roots), f"trial {trial}"


def _deep_chain_warehouse(spark, root: str, depth: int, leaves: int) -> Warehouse:
    """One GC root holding a *depth*-node chain (ids 1..depth, class
    chain.Cls with one reference field) and a second GC root, an
    Object[] (id 5000000), holding *leaves* distinct leaf objects."""
    ints = lambda xs: pa.array(xs, pa.int64())  # noqa: E731
    pq.write_table(
        pa.table(
            {
                "class_obj_id": ints([0x10]),
                "class_name": ["chain.Cls"],
                "field_name": ["nxt"],
                "field_type": ["Object"],
                "field_index": pa.array([0], pa.int32()),
            }
        ),
        f"{root}/sys_field_types.parquet",
    )
    chain = np.arange(1, depth + 1)
    pq.write_table(
        pa.table({"obj_id": ints(chain), "nxt": ints(np.r_[chain[1:], 0])}),
        f"{root}/chain.Cls.parquet",
    )
    arr = 5_000_000
    pq.write_table(
        pa.table(
            {
                "obj_id": ints([arr]),
                "elements": pa.array(
                    [np.arange(10_000_000, 10_000_000 + leaves)], pa.list_(pa.int64())
                ),
            }
        ),
        f"{root}/sys_object_arrays.parquet",
    )
    pq.write_table(pa.table({"obj_id": ints([1, arr])}), f"{root}/sys_gc_roots.parquet")
    pq.write_table(
        pa.table(
            {
                "obj_id": ints(np.r_[chain, arr]),
                "type_name": ["chain.Cls"] * depth + ["java.lang.Object[]"],
            }
        ),
        f"{root}/sys_object_index.parquet",
    )
    return Warehouse(spark, root)


def test_deep_chain_dominators_and_root_paths(spark, tmp_path):
    """A 3000-deep chain beside 100k other edges: every chain node is
    dominated by its predecessor, the head retains the whole chain, and
    the tail's root path runs down the chain — with no round cap and no
    edge-count gate between two solvers."""
    depth = 3000
    wh = _deep_chain_warehouse(spark, str(tmp_path), depth, leaves=100_000)
    idom = {r["obj_id"]: r["idom"] for r in dominator_tree(wh).collect()}
    assert len(idom) == depth + 1 + 100_000
    assert idom[1] == SUPER_ROOT
    assert all(idom[i] == i - 1 for i in range(2, depth + 1))

    head = retained_sizes(wh).filter("obj_id = 1").collect()[0]
    assert (head["n_dominated"], head["retained_bytes"]) == (depth, depth * (16 + 8))
    by_type = {r["type_name"]: r for r in retained_by_class(wh).collect()}
    chain = by_type["chain.Cls"]  # the head holds the rest: each node counted once
    assert (chain["n_objects"], chain["total_retained"]) == (depth, depth * (16 + 8))

    g = heap_graph(wh)
    tail = int(np.searchsorted(g.ids, depth))
    assert g.depth[tail] - 1 == depth - 1  # root-path depth: the root is depth 0
    walk, n = [], tail
    while n != g.root:
        walk.append(int(g.ids[n]))
        n = g.parent[n]
    assert walk == list(range(depth, 0, -1))
