"""A real JVM heap through the MCP tools: ``jvm/Main.java`` dumps its own
live heap (inner, anonymous and lambda classes, a 3000-node chain, a
20k-entry HashMap). Dump bytes differ across JDK builds, so the test
asserts what the program knows, never digests."""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

from heapdumpstardiver_spark.mcp_tools import build_tools
from heapdumpstardiver_spark.service import SessionManager

JAVA_SRC = os.path.join(os.path.dirname(__file__), "jvm", "Main.java")
CHAIN = 3000


@pytest.fixture(scope="module")
def jvm_session(spark, tmp_path_factory):
    if not (shutil.which("javac") and shutil.which("java")):
        pytest.skip("no JDK on PATH")
    d = tmp_path_factory.mktemp("jvm")
    subprocess.run(["javac", "-d", str(d), JAVA_SRC], check=True, timeout=120)
    hprof = str(d / "main.hprof")
    subprocess.run(
        ["java", "-Xmx256m", "-cp", str(d), "Main", hprof], check=True, timeout=120
    )
    mgr = SessionManager(spark)
    tools = build_tools(mgr)
    out = json.loads(tools["convert_heap_dump"](hprof))
    assert out.get("status") == "ok", out
    yield tools
    for sid in list(mgr.sessions):
        mgr.sessions[sid].close()


def _reply(raw: str) -> dict:
    out = json.loads(raw)
    assert "error" not in out, out["error"]
    return out


def test_inner_and_lambda_class_tables_answer_queries(jvm_session):
    files = _reply(jvm_session["list_parquet_files"]())
    tables = {e["table"]: e for e in files["class_tables"]}
    assert tables["Main$Node"]["row_count"] == CHAIN
    lambdas = [t for t in tables if t.startswith("Main$$Lambda")]
    assert lambdas and "Main$1" in tables
    for name in ["Main$Node", "Main$1", *lambdas]:
        got = _reply(
            jvm_session["query_heap"](f"SELECT count(*) AS n FROM {tables[name]['view']}")
        )
        assert got["rows"] == [{"n": tables[name]["row_count"]}], name


def test_analyze_heap_skips_no_check(jvm_session):
    out = _reply(jvm_session["analyze_heap"]())
    assert out["skipped_checks"] == []
    assert out["summary"]["total_objects"] > CHAIN


def test_chain_head_dominates_the_chain(jvm_session):
    """The static field ``Main.head`` is the chain's only way in, so the
    head dominates all 3000 nodes. (``analyze_liveness`` is left out:
    its Spark BFS takes one round per hop of the chain, ROADMAP item 1.)"""
    rows = _reply(jvm_session["retained_sizes_dominator"](top_n=50))["top_retainers"]
    nodes = [r for r in rows if r["type_name"] == "Main$Node"]
    assert nodes and nodes[0]["n_dominated"] == CHAIN
    by_class = _reply(jvm_session["retained_sizes_dominator"](by_class=True))
    cls = {r["type_name"]: r for r in by_class["top_retainers"]}["Main$Node"]
    # the head's retained bytes already hold every later node: counted once
    assert cls["n_objects"] == CHAIN
    assert cls["total_retained"] == cls["max_retained"] == nodes[0]["retained_bytes"]
