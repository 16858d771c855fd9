"""Session manager + SQL passthrough tests (service surface)."""

from __future__ import annotations

import json
import shutil

import pytest

from heapdumpstardiver_spark.catalog import view_names
from heapdumpstardiver_spark.mcp_tools import build_tools
from heapdumpstardiver_spark.service import SessionManager, list_tables, query_heap
from tests.heap_fixtures import generate_heap_warehouse


@pytest.fixture()
def manager(spark, tmp_path):
    d = tmp_path / "wh1"
    d.mkdir()
    generate_heap_warehouse(str(d))
    mgr = SessionManager(spark)
    mgr.create_session(d)
    yield mgr
    for sid in list(mgr.sessions):
        mgr.sessions[sid].close()


def test_single_active_default_and_views(manager):
    sess = manager.get()  # no id → the only active session
    assert sess.session_id == "wh1"
    info = list_tables(manager)
    assert "_object_index" in info["tables"]
    assert info["tables"]["java.lang.String"]["view"] == "wh1__java_lang_String"


def test_views_for_dollar_and_colliding_class_names(spark, tmp_path):
    """Inner/anonymous classes (`$`) open as views, and `a.b_c` / `a_b.c`
    (same identifier after sanitizing) each get a view of their own."""
    d = tmp_path / "wh2"
    d.mkdir()
    truth = generate_heap_warehouse(str(d))
    mgr = SessionManager(spark)
    out = json.loads(build_tools(mgr)["open_session"](str(d)))
    assert out["status"] == "ok", out
    sess = mgr.get("wh2")
    try:
        tables = sess.warehouse.table_names()
        views = {t: sess.view_name(t) for t in tables}
        assert len(set(views.values())) == len(tables)
        assert views["java.lang.String"] == "wh2__java_lang_String"
        for cname, tag in truth["odd_name_classes"].items():
            out = query_heap(mgr, f"SELECT min(tag) AS lo, max(tag) AS hi FROM {views[cname]}")
            assert out["rows"] == [{"lo": tag, "hi": tag}], (cname, out)
    finally:
        sess.close()


def test_view_names_sanitize_and_disambiguate():
    names = ["java.lang.String", "_gc_roots", "Outer$Inner", "a.b_c", "a_b.c", "a_b_c_2", "x"]
    views = view_names(names, "s-1__")
    assert views["java.lang.String"] == "s_1__java_lang_String"
    assert views["_gc_roots"] == "s_1___gc_roots"
    assert views["Outer$Inner"] == "s_1__Outer_Inner"
    # collision: sorted order decides, and no suffix reuses a plain name
    assert (views["a.b_c"], views["a_b.c"]) == ("s_1__a_b_c", "s_1__a_b_c_3")
    assert views["a_b_c_2"] == "s_1__a_b_c_2"
    assert len(set(views.values())) == len(names)
    # a table already named as its identifier keeps it
    assert view_names(["a.b", "a_b"]) == {"a_b": "a_b", "a.b": "a_b_2"}
    assert view_names(["x"], "s-1__") == {"x": views["x"]}


def test_query_heap_pagination(manager):
    view = manager.get().view_name("_object_index")
    page1 = query_heap(manager, f"SELECT obj_id, type_name FROM {view} ORDER BY obj_id", limit=100)
    assert page1["row_count"] == 100 and page1["has_more"] and page1["next_offset"] == 100
    page2 = query_heap(
        manager,
        f"SELECT obj_id, type_name FROM {view} ORDER BY obj_id",
        limit=100,
        offset=page1["next_offset"],
    )
    assert page2["offset"] == 100
    assert page1["rows"][-1]["obj_id"] < page2["rows"][0]["obj_id"]


def test_pagination_without_order_by_warns(manager):
    view = manager.get().view_name("_object_index")
    paged = query_heap(manager, f"SELECT obj_id FROM {view}", limit=100)
    assert paged["has_more"] and "ORDER BY" in paged["warning"]
    ordered = query_heap(
        manager, f"SELECT obj_id FROM {view} ORDER BY obj_id", limit=100
    )
    assert "warning" not in ordered
    # a single complete page is order-stable — no warning either
    whole = query_heap(manager, f"SELECT obj_id FROM {view}", limit=100000)
    assert not whole["has_more"] and "warning" not in whole


def test_query_heap_error_isolation(manager):
    out = query_heap(manager, "SELECT * FROM nonexistent_view_xyz")
    assert "error" in out


def test_session_collision_and_close(manager, tmp_path, spark):
    d2 = tmp_path / "wh1x"
    shutil.copytree(tmp_path / "wh1", d2)
    s2 = manager.create_session(d2)
    assert s2.session_id == "wh1x"
    with pytest.raises(ValueError, match="Multiple active"):
        manager.get()
    manager.close_session("wh1x")
    assert manager.get().session_id == "wh1"
    # collision suffix: same stem creates _2
    s3 = manager.create_session(tmp_path / "wh1")
    assert s3.session_id == "wh1_2"
