"""GC-root reachability: the Spark BFS must agree object-for-object
with a pure-Python BFS over the same warehouse tables."""

from __future__ import annotations

import pytest

from heapdumpstardiver_spark import analytics as A
from heapdumpstardiver_spark.analytics import reachability
from heapdumpstardiver_spark.catalog import Warehouse
from heapdumpstardiver_spark.ingest import ingest_hprof
from heapdumpstardiver_spark.ingest.hprof_writer import build_test_dump
from heapdumpstardiver_spark.service import SessionManager


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("reach")
    p = str(d / "t.hprof")
    build_test_dump(p)
    out = str(d / "wh")
    ingest_hprof(spark, p, out)
    return Warehouse(spark, out)


def _python_ground_truth(wh):
    """Adjacency + BFS in plain Python from the same parquet tables."""
    ft = wh.table("_field_types").collect()
    obj_fields = {}
    for r in ft:
        if r["field_type"] == "Object":
            obj_fields.setdefault(r["class_name"], []).append(r["field_name"])
    adj: dict[int, set] = {}

    def add(s, t):
        if t != 0:
            adj.setdefault(s, set()).add(t)

    for cls, fields in obj_fields.items():
        for row in wh.table(cls).collect():
            for f in fields:
                add(row["obj_id"], row[f])
    for row in wh.table("_object_arrays").collect():
        for e in row["elements"]:
            add(row["obj_id"], e)
    for row in wh.table("_static_fields").collect():
        add(row["class_obj_id"], row["ref_id"])

    roots = {
        r["obj_id"] for r in wh.table("_gc_roots").collect() if r["obj_id"] != 0
    }
    seen, stack = set(roots), list(roots)
    while stack:
        n = stack.pop()
        for m in adj.get(n, ()):
            if m not in seen:
                seen.add(m)
                stack.append(m)
    return seen


def test_reachable_set_matches_python_bfs(wh):
    want = _python_ground_truth(wh)
    got = {r["obj_id"] for r in A.reachable_from_roots(wh).collect()}
    assert got == want and len(got) > 5


def test_liveness_summary_partitions_object_index(wh):
    want = _python_ground_truth(wh)
    index_ids = {r["obj_id"] for r in wh.table("_object_index").collect()}
    row = A.liveness_summary(wh).collect()[0]
    assert row["n_objects"] == len(index_ids)
    assert row["n_reachable"] == len(index_ids & want)
    assert row["n_unreachable"] == len(index_ids - want)
    assert row["n_reachable"] + row["n_unreachable"] == row["n_objects"]


def test_unreachable_by_type_counts(wh):
    want = _python_ground_truth(wh)
    idx = {r["obj_id"]: r["type_name"] for r in wh.table("_object_index").collect()}
    from collections import Counter

    expect = Counter(t for o, t in idx.items() if o not in want)
    got = {
        r["type_name"]: r["n_unreachable"]
        for r in A.unreachable_by_type(wh).collect()
    }
    assert got == dict(expect)


def test_missing_tables_tolerated(spark, tmp_path):
    """Classes listed in _field_types with zero instances have no
    backing table (common on real dumps); _object_arrays and
    _static_fields may be absent entirely. heap_edges must skip, not
    crash (ADVICE r3)."""
    root = str(tmp_path / "sparse_wh")
    ft = spark.createDataFrame(
        [
            (0x10, "ghost.Cls", "ref", "Object", 0),
            (0x11, "real.Cls", "ref", "Object", 0),
        ],
        "class_obj_id long, class_name string, field_name string, "
        "field_type string, field_index int",
    )
    ft.write.parquet(f"{root}/sys_field_types.parquet")
    spark.createDataFrame(
        [(1, 2), (2, 3), (3, 0)], "obj_id long, ref long"
    ).write.parquet(f"{root}/real.Cls.parquet")
    spark.createDataFrame([(1,)], "obj_id long").write.parquet(
        f"{root}/sys_gc_roots.parquet"
    )
    wh = Warehouse(spark, root)
    got = {r["obj_id"] for r in A.reachable_from_roots(wh).collect()}
    assert got == {1, 2, 3}
    edges = A.heap_edges(wh)
    assert {(r["src"], r["dst"]) for r in edges.collect()} == {(1, 2), (2, 3)}


def _chain_warehouse(spark, root: str) -> Warehouse:
    """A 10-object reference chain from one GC root, plus object 11,
    which nothing references."""
    ft = spark.createDataFrame(
        [(0x10, "chain.Cls", "nxt", "Object", 0)],
        "class_obj_id long, class_name string, field_name string, "
        "field_type string, field_index int",
    )
    ft.write.parquet(f"{root}/sys_field_types.parquet")
    chain = [(i, i + 1) for i in range(1, 10)] + [(10, 0)]
    spark.createDataFrame(chain, "obj_id long, nxt long").write.parquet(
        f"{root}/chain.Cls.parquet"
    )
    spark.createDataFrame([(1,)], "obj_id long").write.parquet(
        f"{root}/sys_gc_roots.parquet"
    )
    spark.createDataFrame(
        [(i, "chain.Cls") for i in range(1, 12)], "obj_id long, type_name string"
    ).write.parquet(f"{root}/sys_object_index.parquet")
    return Warehouse(spark, root)


def test_nonconvergence_raises(spark, tmp_path):
    """A frontier still alive at max_rounds must raise, never silently
    return a partial reachable set (ADVICE r3)."""
    wh = _chain_warehouse(spark, str(tmp_path / "chain_wh"))
    with pytest.raises(RuntimeError, match="did not converge"):
        A.reachable_from_roots(wh, max_rounds=3)
    got = {r["obj_id"] for r in A.reachable_from_roots(wh).collect()}
    assert got == set(range(1, 11))


def _liveness(wh) -> tuple[int, int, int]:
    row = A.liveness_summary(wh).collect()[0]
    return row["n_objects"], row["n_reachable"], row["n_unreachable"]


def test_failed_bfs_memoises_nothing(spark, tmp_path, monkeypatch):
    """A BFS that raises leaves no live set on the warehouse: the next
    call recomputes it and succeeds."""
    wh = _chain_warehouse(spark, str(tmp_path / "chain_wh"))
    bfs = reachability.reachable_from_roots
    monkeypatch.setattr(
        reachability, "reachable_from_roots", lambda w: bfs(w, max_rounds=3)
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        A.liveness_summary(wh)
    monkeypatch.undo()
    assert _liveness(wh) == (11, 10, 1)


def _truth_liveness(truth: dict) -> tuple[int, int, int]:
    adj: dict[int, list[int]] = {}
    for s, d in truth["edges"]:
        adj.setdefault(s, []).append(d)
    seen = {r for r in truth["roots"] if r != 0}
    stack = list(seen)
    while stack:
        for m in adj.get(stack.pop(), ()):
            if m not in seen:
                seen.add(m)
                stack.append(m)
    ids = {o for o, _t, _b in truth["objects"]}
    return len(ids), len(ids & seen), len(ids - seen)


def test_liveness_follows_reingest(spark, tmp_path):
    """The session memo never outlives the tables it was built from:
    after a different dump is re-ingested into the same directory,
    Warehouse.invalidate() and a re-opened session both report the new
    heap's liveness."""
    a, b = str(tmp_path / "a.hprof"), str(tmp_path / "b.hprof")
    want_a = _truth_liveness(build_test_dump(a))
    want_b = _truth_liveness(build_test_dump(b, extra_strings=6, hold_extras=True))
    assert want_a != want_b
    out = str(tmp_path / "wh")
    ingest_hprof(spark, a, out)
    wh = Warehouse(spark, out)
    mgr = SessionManager(spark)
    assert _liveness(wh) == _liveness(mgr.create_session(out, "s").warehouse) == want_a

    ingest_hprof(spark, b, out, overwrite=True)
    wh.invalidate()
    assert _liveness(wh) == want_b
    assert _liveness(mgr.create_session(out, "s").warehouse) == want_b
    mgr.close_session("s")
