"""MCP tool-surface tests: drive a session end-to-end through the tool
registry (convert → list → query → analyze → cleanup), exactly the
reference server's tool flow (mcp_server/server.py:238-601), without
requiring the optional mcp SDK transport."""

from __future__ import annotations

import json
import os

import pytest

from heapdumpstardiver_spark.ingest.hprof_writer import build_test_dump
from heapdumpstardiver_spark.mcp_tools import build_tools
from heapdumpstardiver_spark.service import SessionManager


@pytest.fixture(scope="module")
def tools(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("mcp_dump")
    hprof = str(d / "app.hprof")
    build_test_dump(hprof, id_size=8)
    mgr = SessionManager(spark)
    t = build_tools(mgr)
    yield t, hprof, mgr
    for sid in list(mgr.sessions):
        mgr.sessions[sid].close()


def test_convert_and_session_lifecycle(tools):
    t, hprof, mgr = tools
    out = json.loads(t["convert_heap_dump"](hprof))
    assert out["status"] == "ok" and out["session_id"] == "app"
    assert out["files_created"] > 0 and "java.lang.String" in out["tables"]

    sessions = json.loads(t["list_sessions"]())["sessions"]
    assert [s["session_id"] for s in sessions] == ["app"]

    files = json.loads(t["list_parquet_files"]())
    sys_names = {e["table"] for e in files["system_tables"]}
    assert {"_object_index", "_gc_roots"} <= sys_names
    cls = {e["table"]: e["row_count"] for e in files["class_tables"]}
    assert cls["java.lang.String"] > 0


def test_query_heap_tool(tools):
    t, _, mgr = tools
    view = mgr.get("app").view_name("_object_index")
    out = json.loads(
        t["query_heap"](f"SELECT type_name, count(*) AS n FROM {view} GROUP BY 1 ORDER BY n DESC")
    )
    assert out["row_count"] > 0
    assert out["columns"] == ["type_name", "n"]
    errs = json.loads(t["query_heap"]("SELECT * FROM nope"))
    assert "error" in errs


def test_analyze_heap_tool(tools):
    t, _, _ = tools
    out = json.loads(t["analyze_heap"](waste_tier=3))
    assert out["summary"]["total_objects"] > 0
    assert out["top_types"]
    assert any(f["check_name"] == "Duplicate Strings" for f in out["waste_findings"])
    assert out["total_estimated_waste_bytes"] >= 0


def test_analyze_liveness_tool(tools):
    t, _, _ = tools
    out = json.loads(t["analyze_liveness"]())
    s = out["summary"]
    assert s["n_objects"] == s["n_reachable"] + s["n_unreachable"]
    assert s["n_reachable"] > 0
    assert isinstance(out["top_unreachable_types"], list)


def test_retained_by_single_referrer_tool(tools):
    t, _, _ = tools
    out = json.loads(t["retained_by_single_referrer"]())
    pairs = {(p["retainer_type"], p["retained_type"]): p["n_objects"] for p in out["pairs"]}
    # fixture ground truth: 4 byte[]s solely retained by their Strings,
    # one String solely retained by the Object[]
    assert pairs[("java.lang.String", "byte[]")] == 4
    assert pairs[("java.lang.Object[]", "java.lang.String")] == 1


def test_retained_sizes_dominator_tool(tools):
    t, _, _ = tools
    out = json.loads(t["retained_sizes_dominator"](top_n=50))
    rows = out["top_retainers"]
    assert rows and not out["by_class"]
    by_id = {r["obj_id"]: r for r in rows}
    # every row carries a positive retained size >= its own shallow 16B
    assert all(r["retained_bytes"] >= 16 and r["n_dominated"] >= 1 for r in rows)
    # each String solely retaining its byte[] retains both objects
    strings = [r for r in rows if r["type_name"] == "java.lang.String"]
    assert any(r["n_dominated"] == 2 for r in strings)
    cls = json.loads(t["retained_sizes_dominator"](by_class=True))
    assert cls["by_class"] and cls["top_retainers"]


def test_session_builds_heap_graph_once(tools, spark, tmp_path, monkeypatch):
    """analyze_liveness, retained_by_single_referrer and
    retained_sizes_dominator in one session share one edge build and
    one BFS; a re-opened session starts over. Each edge build reads the
    `_static_fields` edge source once."""
    from heapdumpstardiver_spark.analytics import reachability
    from heapdumpstardiver_spark.ingest import ingest_hprof

    t, hprof, mgr = tools
    out = str(tmp_path / "wh")
    ingest_hprof(spark, hprof, out)
    bfs_runs: list[int] = []
    bfs = reachability.reachable_from_roots

    def counted_bfs(*a, **k):
        bfs_runs.append(1)
        return bfs(*a, **k)

    monkeypatch.setattr(reachability, "reachable_from_roots", counted_bfs)

    def run_tools(sid: str) -> list[str]:
        assert json.loads(t["open_session"](out, session_id=sid))["status"] == "ok"
        wh = mgr.get(sid).warehouse
        table = wh.table

        def counted_table(name: str):
            if name == "_static_fields":
                edge_reads.append(name)
            return table(name)

        monkeypatch.setattr(wh, "table", counted_table)
        return [
            t["analyze_liveness"](session_id=sid),
            t["retained_by_single_referrer"](session_id=sid),
            t["retained_sizes_dominator"](session_id=sid),
        ]

    edge_reads: list[str] = []
    replies = run_tools("graph_once")
    assert not any("error" in json.loads(r) for r in replies)
    assert (len(bfs_runs), len(edge_reads)) == (1, 1)

    t["close_session"]("graph_once")
    edge_reads.clear()
    assert run_tools("graph_once") == replies
    assert (len(bfs_runs), len(edge_reads)) == (2, 1)
    t["close_session"]("graph_once")


def test_cleanup_confirm_gate(tools):
    t, hprof, mgr = tools
    blocked = json.loads(t["cleanup_session"]("app"))
    assert "error" in blocked and "confirm" in blocked["error"]
    assert "app" in mgr.sessions

    parquet_dir = str(mgr.get("app").warehouse_dir)
    done = json.loads(t["cleanup_session"]("app", confirm=True))
    assert done["status"] == "ok" and done["deleted_files"] > 0
    assert not os.path.exists(parquet_dir)
    assert "app" not in mgr.sessions


def test_open_session_on_reference_layout(tools, spark, tmp_path):
    """open_session accepts a directory in the reference binary's flat
    naming scheme via the interop auto-detect."""
    from tests.heap_fixtures import convert_to_reference_layout, generate_heap_warehouse

    t, _, mgr = tools
    native = tmp_path / "nat"
    ref = tmp_path / "ref"
    native.mkdir()
    ref.mkdir()
    generate_heap_warehouse(str(native))
    convert_to_reference_layout(str(native), str(ref))
    out = json.loads(t["open_session"](str(ref), session_id="refsess"))
    assert out["status"] == "ok" and out["tables"] > 10
    q = json.loads(
        t["query_heap"](
            f"SELECT count(*) AS n FROM {mgr.get('refsess').view_name('_object_index')}",
            session_id="refsess",
        )
    )
    assert q["rows"][0]["n"] > 0
    json.loads(t["close_session"]("refsess"))


def _ensure_session(t, mgr, hprof):
    """Self-sufficient session setup: earlier tests may have cleaned up
    the module session (cleanup_confirm_gate deletes it)."""
    if "app" not in mgr.sessions:
        out = json.loads(t["convert_heap_dump"](hprof))
        assert out["status"] == "ok"


def test_explain_query_tool(tools):
    t, hprof, mgr = tools
    _ensure_session(t, mgr, hprof)
    view = mgr.get("app").view_name("_object_index")
    out = json.loads(
        t["explain_query"](
            f"SELECT count(*) FROM {view} WHERE type_name LIKE 'java%'"
        )
    )
    assert out["mode"] == "formatted"
    # plan text, not results: a scan node and the pushed filter appear
    assert "Scan" in out["plan"] and "type_name" in out["plan"]
    assert "error" in json.loads(t["explain_query"]("SELECT 1", mode="bogus"))
    # "simple" is Spark's default explain — no SIMPLE keyword exists,
    # so the tool must emit a bare EXPLAIN for it (regression guard).
    simple = json.loads(t["explain_query"]("SELECT 1", mode="simple"))
    assert "error" not in simple and "Physical Plan" in simple["plan"], simple


def test_profile_table_tool(tools):
    t, hprof, mgr = tools
    _ensure_session(t, mgr, hprof)
    out = json.loads(t["profile_table"](table="_object_index"))
    assert out["n_rows"] > 0
    cols = out["columns"]
    assert cols["type_name"]["n_nulls"] == 0
    assert cols["type_name"]["n_distinct"] > 1
    assert cols["type_name"]["distinct_exact"] is True
    assert cols["obj_id"]["min"] is not None
    assert "error" in json.loads(t["profile_table"](table="nope"))


def test_guide_resources_mirror_reference_surface():
    """The reference server registers three @mcp.resource markdown
    guides (mcp_server/server.py:70-236); our server must publish the
    same three URIs with Spark-engine content. SDK-free check: the
    registry is plain data, exactly like build_tools."""
    from heapdumpstardiver_spark.mcp_tools import build_resources

    res = build_resources()
    assert set(res) == {
        "heapdump://guides/setup",
        "heapdump://guides/sql-examples",
        "heapdump://guides/waste-checks",
    }
    for uri, (name, description, body) in res.items():
        assert name and description
        assert body.startswith("#"), f"{uri} must be markdown"
        assert len(body) > 400, f"{uri} guide is too thin to onboard anyone"


def test_guide_resources_mention_every_tool(tools):
    """Onboarding parity: every registered tool name appears in at
    least one guide, and each guide names the tools it teaches."""
    from heapdumpstardiver_spark.mcp_tools import build_resources

    t, _hprof, _mgr = tools
    bodies = "\n".join(b for _n, _d, b in build_resources().values())
    missing = [name for name in t if name not in bodies]
    assert not missing, f"tools undocumented in guides: {missing}"
    res = build_resources()
    assert "convert_heap_dump" in res["heapdump://guides/setup"][2]
    assert "query_heap" in res["heapdump://guides/sql-examples"][2]
    assert "analyze_heap" in res["heapdump://guides/waste-checks"][2]


def test_waste_guide_matches_check_inventory():
    """The waste-checks guide's table must name the real checks and
    severity thresholds from analytics.findings/waste — not a stale
    hand-written copy."""
    from heapdumpstardiver_spark.mcp_tools import build_resources

    body = build_resources()["heapdump://guides/waste-checks"][2]
    for check in (
        "Duplicate Strings",
        "Bad Collections (empty/single-element)",
        "Bad Object Arrays",
        "Bad Primitive Arrays",
        "Boxed Primitives",
        "Collection Sizing Issues",
        "Duplicate byte[] Arrays",
        "Class Count / Leak Detection",
        "GC Roots Breakdown",
        "DirectByteBuffer Off-Heap",
        "Thread Stacks",
        "Duplicate Object Arrays",
        "Estimated Shallow Size (top 50 types)",
    ):
        assert check in body, f"guide missing check {check!r}"
    for sev in ("CRITICAL", "HIGH", "MEDIUM", "LOW", "INFO"):
        assert sev in body


def test_analyze_heap_reports_skipped_checks(tools, monkeypatch, capsys):
    """A waste check that raises is listed in ``skipped_checks`` (and
    still logged to stderr); the other checks' findings are unchanged."""
    from heapdumpstardiver_spark.analytics import runner

    t, hprof, mgr = tools
    _ensure_session(t, mgr, hprof)
    clean = json.loads(t["analyze_heap"](waste_tier=1))
    assert clean["skipped_checks"] == []

    def check_explodes(wh):
        raise RuntimeError("boom")

    monkeypatch.setattr(runner, "ALL_CHECKS", [(check_explodes, 1)] + runner.ALL_CHECKS)
    out = json.loads(t["analyze_heap"](waste_tier=1))
    assert out["skipped_checks"] == [{"check": "check_explodes", "error": "boom"}]
    assert out["waste_findings"] == clean["waste_findings"]
    assert "WARNING: check_explodes failed: boom" in capsys.readouterr().err


def test_sql_guide_view_names_match_view_names():
    """The SQL guide's example view is the one ``view_names`` registers
    for an inner class (`$` folds to `_`, after the `s1__` prefix)."""
    from heapdumpstardiver_spark.catalog import view_names
    from heapdumpstardiver_spark.mcp_tools import build_resources

    body = build_resources()["heapdump://guides/sql-examples"][2]
    view = view_names(["java.util.HashMap$Node"], "s1__")["java.util.HashMap$Node"]
    assert f"FROM {view} e" in body
    assert "s1_java" not in body


def test_footer_row_counts_on_every_warehouse_kind(spark, tmp_path):
    """``Warehouse.row_count`` and ``list_parquet_files`` row counts
    equal ``table(name).count()`` on a native warehouse, a reference-
    layout warehouse (read through its symlinks) and a two-snapshot
    warehouse, opened plainly and pinned to each snapshot."""
    from heapdumpstardiver_spark.ingest import append_snapshot, ingest_hprof
    from heapdumpstardiver_spark.ingest.snapshots import SnapshotView
    from heapdumpstardiver_spark.interop import export_reference_layout

    a, b = str(tmp_path / "a.hprof"), str(tmp_path / "b.hprof")
    build_test_dump(a)
    build_test_dump(b, extra_strings=3, omit_base=True)
    native, ref, snaps = (str(tmp_path / d) for d in ("native", "ref", "snaps"))
    ingest_hprof(spark, a, native)
    export_reference_layout(spark, native, ref, robo=True, chunks=2)
    append_snapshot(spark, a, snaps, 1)
    append_snapshot(spark, b, snaps, 2)

    mgr = SessionManager(spark)
    t = build_tools(mgr)
    warehouses = []
    for sid, path in (("native", native), ("ref", ref), ("snaps", snaps)):
        assert json.loads(t["open_session"](path, session_id=sid))["status"] == "ok"
        listed = json.loads(t["list_parquet_files"](session_id=sid))
        wh = mgr.get(sid).warehouse
        for e in listed["system_tables"] + listed["class_tables"]:
            assert e["row_count"] == wh.table(e["table"]).count(), (sid, e["table"])
        warehouses.append(wh)
    warehouses += [SnapshotView(spark, snaps, 1), SnapshotView(spark, snaps, 2)]
    try:
        for wh in warehouses:
            for name in wh.table_names():
                assert wh.row_count(name) == wh.table(name).count(), (wh, name)
        counts = [{n: wh.row_count(n) for n in wh.table_names()} for wh in warehouses[2:]]
        assert counts[0]["java.lang.String"] == counts[1]["java.lang.String"] + counts[2]["java.lang.String"]
        assert counts[2]["java.lang.String"] == counts[1]["java.lang.String"] + 3
    finally:
        for sess in mgr.sessions.values():
            sess.close()
