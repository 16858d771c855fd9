"""MCP tool surface over the session service.

Reproduces the reference MCP server's tool set
(/root/reference/mcp_server/server.py:238-601) — convert_heap_dump,
open_session, list_sessions, close_session, cleanup_session
(confirm-gated), list_parquet_files, query_heap, analyze_heap — backed
by the Spark engine: ingest instead of the native binary, Spark SQL
views instead of DuckDB ``read_parquet`` globs, and the DataFrame
waste/profile pipelines for analyze.

Every tool returns a JSON string (the reference's convention: tools
speak JSON so LLM clients can parse reliably).

Transport: when the official ``mcp`` SDK is importable, ``build_server``
registers the tools on a FastMCP instance and ``main()`` serves stdio.
The SDK is optional — the tool functions themselves are plain callables
closed over a :class:`~heapdumpstardiver_spark.service.SessionManager`,
registered in a dict, so the full surface is testable (and usable
in-process) without it.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Any, Callable

from .service import DEFAULT_PAGE_SIZE, SessionManager, on_session
from .service import explain_query as _svc_explain_query
from .service import list_tables as _svc_list_tables
from .service import profile_table as _svc_profile_table
from .service import query_heap as _svc_query_heap


def _json(obj: Any) -> str:
    return json.dumps(obj, default=str, indent=2)


def _fmt_bytes(n: int) -> str:
    if n >= 1024**3:
        return f"{n / 1024**3:.1f} GB"
    if n >= 1024**2:
        return f"{n / 1024**2:.1f} MB"
    if n >= 1024:
        return f"{n / 1024:.1f} KB"
    return f"{n} B"


def build_tools(manager: SessionManager) -> dict[str, Callable[..., str]]:
    """The tool registry: name → callable returning a JSON string."""

    def convert_heap_dump(
        hprof_path: str, session_id: str = "", split_mb: int = 64
    ) -> str:
        """Convert an HPROF heap dump to a Parquet warehouse and open an
        analysis session (robo mode). Output goes to
        <hprof_parent>/<session_id>/parquet/ — the reference's layout."""
        from .ingest import ingest_hprof

        dump = Path(hprof_path).resolve()
        if not dump.is_file():
            return _json({"error": f"no such HPROF file: {dump}"})
        sid = session_id if session_id else dump.stem
        parquet_dir = dump.parent / sid / "parquet"
        try:
            summary = ingest_hprof(
                manager.spark,
                str(dump),
                str(parquet_dir),
                target_split_bytes=split_mb * 1024 * 1024,
                overwrite=True,
            )
        except Exception as e:
            return _json({"error": f"Conversion failed: {e}"})
        sess = manager.create_session(parquet_dir, session_id=sid)
        files = sorted(parquet_dir.rglob("*.parquet"))
        return _json(
            {
                "status": "ok",
                "session_id": sess.session_id,
                "parquet_dir": str(parquet_dir),
                "files_created": len(files),
                "total_size": _fmt_bytes(sum(f.stat().st_size for f in files)),
                "tables": summary["tables"],
            }
        )

    def open_session(parquet_dir: str, session_id: str = "") -> str:
        """Open a session on an existing warehouse — native layout or a
        directory written by the reference binary (auto-detected)."""
        target = Path(parquet_dir).resolve()
        if not target.is_dir():
            return _json({"error": f"no such warehouse directory: {target}"})
        if not any(target.rglob("*.parquet")):
            return _json({"error": f"nothing .parquet under {target}"})
        sess = manager.create_session(target, session_id=session_id or None)
        return _json(
            {
                "status": "ok",
                "session_id": sess.session_id,
                "tables": len(sess.warehouse.table_names()),
            }
        )

    def list_sessions() -> str:
        return _json(
            {
                "sessions": [
                    {
                        "session_id": s.session_id,
                        "parquet_dir": str(s.warehouse_dir),
                        "active": s.is_active,
                    }
                    for s in manager.sessions.values()
                ]
            }
        )

    def close_session(session_id: str) -> str:
        try:
            manager.close_session(session_id)
        except KeyError as e:
            return _json({"error": str(e)})
        return _json({"status": "ok", "closed": session_id})

    def cleanup_session(session_id: str, confirm: bool = False) -> str:
        """Close a session AND delete its warehouse directory.
        Destructive — requires confirm=True (the reference's gate)."""
        if not confirm:
            return _json(
                {
                    "error": "cleanup_session deletes the Parquet directory. "
                    "Call again with confirm=true to proceed.",
                    "session_id": session_id,
                }
            )
        try:
            n_files, path = manager.cleanup_session(session_id)
        except KeyError as e:
            return _json({"error": str(e)})
        return _json({"status": "ok", "deleted_files": n_files, "path": path})

    def list_parquet_files(session_id: str = "") -> str:
        """Tables with schemas, split into system vs class tables and
        sorted by row count — the reference's DESCRIBE surface."""
        out = _svc_list_tables(manager, session_id or None)
        if "error" in out:
            return _json(out)
        system, classes = [], []
        for name, info in out["tables"].items():
            entry = {
                "table": name,
                "view": info["view"],
                "row_count": info["row_count"],
                "columns": [{"name": c, "type": t} for c, t in info["columns"]],
            }
            (system if name.startswith("_") else classes).append(entry)
        classes.sort(key=lambda e: e["row_count"], reverse=True)
        return _json(
            {
                "session_id": out["session_id"],
                "system_tables": system,
                "class_tables": classes,
            }
        )

    def query_heap(
        sql: str,
        session_id: str = "",
        limit: int = DEFAULT_PAGE_SIZE,
        offset: int = 0,
    ) -> str:
        """Arbitrary SQL over the session's views (paginated with the
        n+1 has_more probe). Reference tables by view name — see
        list_parquet_files."""
        return _json(
            _svc_query_heap(manager, sql, session_id or None, limit=limit, offset=offset)
        )

    def explain_query(sql: str, session_id: str = "", mode: str = "formatted") -> str:
        """Show the physical plan for a SQL query WITHOUT running it:
        scan pushdowns, join strategies, exchanges. Modes: formatted,
        extended, cost, codegen."""
        return _json(_svc_explain_query(manager, sql, session_id or None, mode=mode))

    def profile_table(session_id: str = "", table: str = "") -> str:
        """Per-column profile of one session table (rows, nulls,
        distinct counts, min/max) computed in a single scan."""
        return _json(_svc_profile_table(manager, table, session_id or None))

    def analyze_heap(
        session_id: str = "",
        waste: bool = True,
        waste_tier: int = 2,
        top_n: int = 30,
    ) -> str:
        """Automated heap analysis: summary, top types, categories,
        byte-array distribution + the tiered waste checks."""
        from .analytics import profile, run_waste_analysis

        def run(sess) -> dict[str, Any]:
            wh = sess.warehouse
            result: dict[str, Any] = {"session_id": sess.session_id}
            result["summary"] = [r.asDict() for r in profile.run_summary(wh).collect()][0]
            result["top_types"] = [
                r.asDict() for r in profile.run_top_types(wh, limit=top_n).collect()
            ]
            result["categories"] = [
                r.asDict() for r in profile.run_category_breakdown(wh).collect()
            ]
            result["byte_array_distribution"] = [
                r.asDict() for r in profile.run_byte_array_distribution(wh).collect()
            ]
            result["large_byte_arrays"] = [
                r.asDict() for r in profile.run_large_byte_arrays(wh).collect()
            ]
            if waste:
                findings = run_waste_analysis(wh, max_tier=waste_tier)
                total = sum(f.estimated_waste_bytes for f in findings)
                # serialized field set = the reference tool's JSON contract
                fields = (
                    "check_name tier severity affected_count "
                    "estimated_waste_bytes details recommendation sub_findings"
                ).split()
                result["waste_findings"] = [
                    dict(
                        {k: getattr(f, k) for k in fields},
                        estimated_waste_human=_fmt_bytes(f.estimated_waste_bytes),
                    )
                    for f in findings
                ]
                result["total_estimated_waste"] = _fmt_bytes(total)
                result["total_estimated_waste_bytes"] = total
                result["skipped_checks"] = findings.skipped
            return result

        return _json(on_session(manager, session_id, run))

    def analyze_liveness(session_id: str = "", top_n: int = 20) -> str:
        """GC-root reachability analysis (beyond the reference's tool
        surface): totals of reachable vs floating-garbage objects plus
        the top unreachable types — the "how much of this heap is
        actually live" question a fixed-JOIN SQL surface cannot
        answer. Runs the iterative-join BFS of
        analytics/reachability.py on the session warehouse."""
        from .analytics import liveness_summary, unreachable_by_type

        def run(sess) -> dict[str, Any]:
            summary = liveness_summary(sess.warehouse).collect()[0].asDict()
            top_dead = [
                r.asDict()
                for r in unreachable_by_type(sess.warehouse, k=top_n).collect()
            ]
            return {
                "session_id": sess.session_id,
                "summary": summary,
                "top_unreachable_types": top_dead,
            }

        return _json(on_session(manager, session_id, run))

    def retained_by_single_referrer(session_id: str = "", top_n: int = 20) -> str:
        """Memory attribution by sole retainer: for objects with
        exactly one incoming reference, which (retainer type →
        retained type) pairs hold the most objects, ranked by
        ``n_objects`` — the who-is-holding-this-memory triage view
        (exact without a dominator tree). In-degrees come from the
        session's heap edge list (analytics/reachability.py)."""
        from pyspark.sql import functions as F

        from .analytics.reachability import sole_retainers

        def run(sess) -> dict[str, Any]:
            pairs = (
                sole_retainers(sess.warehouse)
                .groupBy("retainer_type", "retained_type")
                .agg(F.count(F.lit(1)).alias("n_objects"))
                .orderBy(F.desc("n_objects"), "retainer_type", "retained_type")
                .limit(top_n)
            )
            return {
                "session_id": sess.session_id,
                "pairs": [r.asDict() for r in pairs.collect()],
            }

        return _json(on_session(manager, session_id, run))

    def retained_sizes_dominator(
        session_id: str = "", top_n: int = 20, by_class: bool = False
    ) -> str:
        """MAT-style retained heap via a true dominator tree: per
        object, the bytes that become collectible if it dies — Σ
        shallow over its dominated set. With by_class, per class: the
        bytes its instances retain together, each object counted once
        even where instances dominate one another (a linked list's
        head already retains the rest of the list). Dominators are
        solved once per session on the driver over the
        session's heap-graph index (analytics/dominators.py); idom 0
        means "held directly by a GC root". Strictly stronger than
        retained_by_single_referrer (which only attributes
        in-degree-1 objects)."""
        from .analytics.dominators import retained_by_class, retained_sizes

        def run(sess) -> dict[str, Any]:
            if by_class:
                rows = retained_by_class(sess.warehouse, k=top_n).collect()
            else:
                rows = retained_sizes(sess.warehouse).limit(top_n).collect()
            return {
                "session_id": sess.session_id,
                "by_class": by_class,
                "top_retainers": [r.asDict() for r in rows],
            }

        return _json(on_session(manager, session_id, run))

    return {
        "convert_heap_dump": convert_heap_dump,
        "open_session": open_session,
        "list_sessions": list_sessions,
        "close_session": close_session,
        "cleanup_session": cleanup_session,
        "list_parquet_files": list_parquet_files,
        "query_heap": query_heap,
        "explain_query": explain_query,
        "profile_table": profile_table,
        "analyze_heap": analyze_heap,
        "analyze_liveness": analyze_liveness,
        "retained_by_single_referrer": retained_by_single_referrer,
        "retained_sizes_dominator": retained_sizes_dominator,
    }


#: uri -> (name, description, markdown body). The reference server
#: publishes three onboarding guides under the same URIs
#: (mcp_server/server.py:70-236); the URIs and resource names are the
#: mirrored contract, but the bodies below are written from scratch
#: against THIS engine — Spark SQL over session temp views, the
#: DataFrame waste pipelines in ``analytics/waste.py``, and the pure
#: PySpark ingest — not adapted from the reference prose. Kept
#: SDK-optional like the tools so the content is testable (and
#: servable in-process) without the ``mcp`` package.
GUIDE_RESOURCES: dict[str, tuple[str, str, str]] = {
    "heapdump://guides/setup": (
        "Setup Guide",
        "How to set up the Spark engine and connect the MCP server",
        """\
# Running the Spark heap engine

There is nothing to compile: ingest, analysis, and the MCP tools are
all pure PySpark. A working install is

- `pyspark` 4.x plus `pyarrow` and `pandas` (Arrow is the ingest
  write path and the UDF transport),
- a JVM for Spark itself — Java 17 or newer, found via `JAVA_HOME`,
- optionally the `mcp` package, needed only by the stdio transport.
  Without it every tool still works as a plain Python callable
  (`build_tools(manager)` returns the full registry).

Launch the stdio server with

```bash
python -m heapdumpstardiver_spark.mcp_tools
```

One SparkSession is created lazily and shared by all sessions and
tools. It defaults to local mode; `SPARK_GRAFT_CPUS` controls the
`local[N]` thread count. Against a real cluster, configure the
session's master/deploy settings before importing the module — the
engine never assumes local mode.

## Session lifecycle

A *session* is a handle over one Parquet warehouse. You get one by
either

- `convert_heap_dump(hprof_path)` — runs the two-pass HPROF ingest
  (index pass, then parallel typed extraction over byte-range
  splits) and writes the warehouse next to the dump under
  `<session_id>/parquet/`, or
- `open_session(parquet_dir)` — attaches to a warehouse that already
  exists. Both this engine's layout and the reference converter's
  chunked layout are recognized, and reference-style ID columns are
  normalized transparently.

Once open: `list_parquet_files` enumerates the tables and their
registered view names, `profile_table` summarizes one table,
`query_heap` runs arbitrary Spark SQL (see
`heapdump://guides/sql-examples`), `explain_query` shows the
Catalyst plan without executing, and `analyze_heap` runs the tiered
waste checks (see `heapdump://guides/waste-checks`). For retained-
size questions there are three deeper tools: `analyze_liveness`,
`retained_by_single_referrer`, and `retained_sizes_dominator`.

`list_sessions` audits what is open. `close_session` drops the temp
views; `cleanup_session` additionally deletes the session's files on
disk and therefore refuses to run unless called with
`confirm=true`.
""",
    ),
    "heapdump://guides/sql-examples": (
        "SQL Examples",
        "Example Spark SQL for common heap-dump analysis over session views",
        """\
# Querying a session with query_heap

`query_heap` executes Spark SQL. Every warehouse table is registered
as the temp view `<session_id>__<table>` (double-underscore
separator) with every character outside `[A-Za-z0-9_]` (dots,
brackets, `$`) folded to an underscore, so the instance table for
`java.util.HashMap$Node` in session `s1` is the view
`s1__java_util_HashMap_Node`, and auxiliary tables — which already
start with `_` — end up with three underscores:
`s1___primitive_arrays_byte`. Two tables that fold to the same name
(`a.b_c` and `a_b.c`) get distinct views: one keeps the name, the
others gain `_2`, `_3`, and so on. When unsure, call
`list_parquet_files`: it prints each table next to its exact view
name. Results come back as JSON pages driven by the tool's
`limit`/`offset` arguments; always ORDER BY something when paging,
because Spark gives no stable row order on its own.

A few worked patterns, all against session id `s1`:

**Package-level census.** `_object_index` maps every object id to
its resolved type name, so package rollups are one aggregate:

```sql
SELECT substring_index(type_name, '.', 3) AS package3,
       COUNT(*) AS objects
FROM s1___object_index
WHERE type_name LIKE '%.%'
GROUP BY package3
ORDER BY objects DESC
LIMIT 15
```

**Shadowed superclass fields.** The ingest flattens inherited fields
into each instance table; when a subclass redeclares a field the
inherited copy is renamed `Superclass@field`. Backquote such columns:

```sql
SELECT obj_id, `count`, `java.util.AbstractList@modCount`
FROM s1__java_util_ArrayList
LIMIT 5
```

**Static constants.** `_static_fields` is the per-class static
layout: primitive values arrive as strings in `primitive_value`,
object references in `ref_id`.

```sql
SELECT class_name, field_name, field_type, primitive_value
FROM s1___static_fields
WHERE field_type <> 'Object' AND primitive_value <> '0'
ORDER BY class_name, field_name
```

**Heaviest primitive arrays.** Each of the eight
`_primitive_arrays_<type>` tables stores `(obj_id, values)` with
`values` a list column, so payload sizing is `size(values)` times
the element width:

```sql
SELECT obj_id, size(values) AS elems, size(values) * 8 AS approx_bytes
FROM s1___primitive_arrays_long
ORDER BY elems DESC
LIMIT 10
```

**Where a stack is deepest.** `_stack_traces.frame_ids` keeps frame
order, so `posexplode` preserves depth while joining frame metadata:

```sql
SELECT t.thread_serial, p.pos AS depth,
       f.class_name, f.method_name, f.source_file, f.line_num
FROM s1___stack_traces t
LATERAL VIEW posexplode(t.frame_ids) p AS pos, fid
JOIN s1___stack_frames f ON f.frame_id = p.fid
WHERE t.thread_serial = 1
ORDER BY depth
```

**Two-hop subclass walk.** `_class_hierarchy` links each class to
its direct superclass; chain self-joins for deeper levels (or use
the `hierarchy_transitive_closure` query shape from the analytics
layer):

```sql
SELECT g.class_name AS grandchild, c.class_name AS child
FROM s1___class_hierarchy c
JOIN s1___class_hierarchy g ON g.super_class_name = c.class_name
WHERE c.super_class_name = 'java.io.InputStream'
```

**Reverse references.** To ask "which X points at object N", filter
the referrer table's field column directly — reference fields hold
the target's `obj_id`:

```sql
SELECT e.obj_id AS entry_id, idx.type_name AS value_type
FROM s1__java_util_HashMap_Node e
JOIN s1___object_index idx ON idx.obj_id = e.value
WHERE e.key = 140021433
```

Before running anything expensive, feed the same SQL to
`explain_query` and check the formatted plan: filters should appear
under `PushedFilters` on the Parquet scan, and the scan's
`ReadSchema` should list only the columns you touch.
""",
    ),
    "heapdump://guides/waste-checks": (
        "Waste Checks Reference",
        "What each waste-analysis tier checks and what it detects",
        """\
# What analyze_heap actually runs

`analyze_heap(waste_tier=N)` executes the checks of tier ≤ N, each
an independent DataFrame pipeline in `analytics/waste.py`. A check
that throws is skipped and the remaining checks still run; the reply's
`skipped_checks` lists each skipped check as `{check, error}` (empty
when every check ran). Findings come back as JSON objects with the
fields `check_name`, `tier`, `severity`, `affected_count`,
`estimated_waste_bytes`, `details`, `recommendation`, and
`sub_findings`.

## Tier 1 — cheap single-table scans (5 checks)

- **Duplicate Strings** groups `java.lang.String` backing arrays by
  content hash; waste is (copies − 1) × payload per group.
- **Bad Collections (empty/single-element)** flags HashMap,
  ArrayList, LinkedList, TreeMap, and ConcurrentHashMap instances
  holding zero or one element — pure header/table overhead.
- **Bad Object Arrays** finds zero-length, all-null,
  single-element, and sparse (more than 70% null slots) object
  arrays.
- **Bad Primitive Arrays** does the same over all eight primitive
  array tables, including all-zero payloads.
- **Boxed Primitives** totals the wrapper-object overhead of
  Integer/Long/Double/etc. instances.

## Tier 2 — cross-table and census checks (6 more)

- **Collection Sizing Issues** measures utilization: HashMaps below
  one-third occupancy and ArrayLists whose backing array is far
  larger than `size`.
- **Duplicate byte[] Arrays** hashes byte arrays up to 10 KB and
  counts identical payloads.
- **Class Count / Leak Detection** fires only above 10,000 distinct
  loaded classes, then grades INFO, MEDIUM past 20,000, HIGH past
  50,000 — the classic classloader-leak curve.
- **GC Roots Breakdown** tallies roots by `root_type`; LOW past
  50,000 total roots, MEDIUM past 100,000.
- **DirectByteBuffer Off-Heap** sums off-heap capacity and counts
  empty buffers; it stays INFO unless total capacity exceeds 10 MB.
- **Thread Stacks** counts alive threads (MEDIUM above 1,000, HIGH
  above 2,000, CRITICAL above 5,000, ~512 KB stack each) and lists
  the hottest thread-pool-looking frame classes as sub-findings.

## Tier 3 — the expensive ones (2 more)

- **Duplicate Object Arrays** compares element sequences, not just
  lengths, so it shuffles the full arrays.
- **Estimated Shallow Size (top 50 types)** approximates per-type
  heap bytes from field layouts; always INFO, meant for orientation.

## Severity grading

Unless a check overrides it (the four thresholds called out above),
severity comes from estimated waste bytes via one ladder:

```text
> 100 MB  CRITICAL      > 1 MB   MEDIUM      otherwise  INFO
>  10 MB  HIGH          > 100 KB LOW
```

## Practical notes

- Tier 2 is the default and the right everyday setting; drop to
  tier 1 when you only want the fast scans, go to tier 3 only when
  you can afford full-array comparison on a big heap.
- On very large warehouses the duplicate scans switch to Bernoulli
  sampling and scale the estimates back up; such findings say so in
  `details` along with the sampled fraction.
- A firing check tells you *what kind* of waste exists; to learn
  *what keeps it alive*, follow up with `analyze_liveness`,
  `retained_by_single_referrer`, or `retained_sizes_dominator`.
""",
    ),
}


def build_resources() -> dict[str, tuple[str, str, str]]:
    """The resource registry: uri → (name, description, markdown)."""
    return dict(GUIDE_RESOURCES)


def build_server(manager: SessionManager):
    """Register the tools and guide resources on a FastMCP server
    (requires the ``mcp`` SDK; raises ImportError with a clear message
    when absent)."""
    try:
        from mcp.server.fastmcp import FastMCP
    except ImportError as e:  # pragma: no cover - SDK not in this container
        raise ImportError(
            "the 'mcp' package is required for the MCP transport; the tool "
            "functions in build_tools() work without it"
        ) from e
    server = FastMCP("heapdumpstardiver-spark")
    for name, fn in build_tools(manager).items():
        server.tool(name=name)(fn)
    # FastMCP validates the reader's signature against the URI template:
    # a parameter-free URI requires a ZERO-argument function (even a
    # defaulted `lambda _body=body:` fails its params check), hence the
    # closure factory.
    def _make_reader(body: str) -> Callable[[], str]:
        def _read() -> str:
            return body

        return _read

    for uri, (name, description, body) in build_resources().items():
        server.resource(
            uri, name=name, description=description, mime_type="text/markdown"
        )(_make_reader(body))
    return server


def main() -> int:  # pragma: no cover - needs the SDK + a stdio client
    from .session import get_spark

    manager = SessionManager(get_spark(app_name="hdsd-mcp"))
    build_server(manager).run()
    return 0


if __name__ == "__main__":  # pragma: no cover
    import sys

    sys.exit(main())
