"""Session/service surface (SURVEY.md §7 Phase 5).

Re-expresses the reference MCP server's session and query tools
(/root/reference/mcp_server/heap_state.py, server.py:479-601) on Spark:
a session is a named :class:`~heapdumpstardiver_spark.catalog.Warehouse`
with its tables registered as temp views under a session prefix; SQL
passthrough is ``spark.sql`` with the same LIMIT n+1 OFFSET m pagination
probe; the Rust-subprocess conversion step becomes an in-engine Spark
job (``heapdumpstardiver_spark.ingest``).
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable, Optional

from pyspark.sql import SparkSession

from .catalog import Warehouse, view_names

DEFAULT_PAGE_SIZE = 1000  # mirrors server.py:39


@dataclass
class HeapSession:
    """One heap-analysis session over a warehouse directory
    (≙ heap_state.py:37-57, with the DuckDB connection replaced by a
    set of registered temp views in the shared SparkSession)."""

    session_id: str
    warehouse_dir: Path
    spark: SparkSession = field(repr=False, default=None)
    _warehouse: Optional[Warehouse] = field(default=None, repr=False)
    _views: dict[str, str] = field(default_factory=dict, repr=False)

    def open(self) -> None:
        if self._warehouse is None:
            from .interop import open_warehouse

            # layout auto-detect: a session can point at a warehouse
            # written by the reference binary as-is (see interop.py)
            self._warehouse = open_warehouse(self.spark, str(self.warehouse_dir))
            self._views = view_names(self._warehouse.table_names(), f"{self.session_id}__")
            for name, view in self._views.items():
                self._warehouse.table(name).createOrReplaceTempView(view)

    def close(self) -> None:
        """Drop the session's views, keep files on disk."""
        for view in self._views.values():
            self.spark.catalog.dropTempView(view)
        self._views.clear()
        self._warehouse = None

    @property
    def is_active(self) -> bool:
        return self._warehouse is not None

    @property
    def warehouse(self) -> Warehouse:
        if self._warehouse is None:
            raise ValueError(f"Session '{self.session_id}' is closed.")
        return self._warehouse

    def view_name(self, table: str) -> str:
        """The table's view in this session, e.g. ``wh1__java_lang_String``
        (see :func:`~heapdumpstardiver_spark.catalog.view_names`)."""
        return self._views.get(table) or view_names([table], f"{self.session_id}__")[table]


class SessionManager:
    """Named sessions with single-active-default resolution
    (≙ heap_state.py:60-153)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.sessions: dict[str, HeapSession] = {}

    def _make_session_id(self, source: Path) -> str:
        base = source.stem or source.name
        if base not in self.sessions:
            return base
        n = 2
        while f"{base}_{n}" in self.sessions:
            n += 1
        return f"{base}_{n}"

    def create_session(
        self, warehouse_dir: str | Path, session_id: str | None = None
    ) -> HeapSession:
        warehouse_dir = Path(warehouse_dir)
        if session_id is None:
            session_id = self._make_session_id(warehouse_dir)
        if session_id in self.sessions:
            self.sessions[session_id].close()
        sess = HeapSession(session_id=session_id, warehouse_dir=warehouse_dir, spark=self.spark)
        sess.open()
        self.sessions[session_id] = sess
        return sess

    def get(self, session_id: str | None = None) -> HeapSession:
        if session_id:
            if session_id not in self.sessions:
                raise KeyError(
                    f"No session with ID '{session_id}'. "
                    f"Active sessions: {list(self.sessions.keys())}"
                )
            sess = self.sessions[session_id]
            if not sess.is_active:
                raise ValueError(f"Session '{session_id}' is closed.")
            return sess
        active = [s for s in self.sessions.values() if s.is_active]
        if len(active) == 1:
            return active[0]
        if not active:
            raise ValueError("No active sessions.")
        raise ValueError(
            f"Multiple active sessions — specify session_id. "
            f"Active: {[s.session_id for s in active]}"
        )

    def close_session(self, session_id: str) -> None:
        if session_id not in self.sessions:
            raise KeyError(f"No session with ID '{session_id}'.")
        self.sessions[session_id].close()

    def cleanup_session(self, session_id: str) -> tuple[int, str]:
        """Close and delete the warehouse directory (confirm-gated at the
        tool layer, ≙ server.py:380-408)."""
        if session_id not in self.sessions:
            raise KeyError(f"No session with ID '{session_id}'.")
        sess = self.sessions[session_id]
        sess.close()
        n_files = sum(1 for _ in Path(sess.warehouse_dir).rglob("*") if _.is_file())
        shutil.rmtree(sess.warehouse_dir, ignore_errors=True)
        del self.sessions[session_id]
        return n_files, str(sess.warehouse_dir)


def on_session(
    manager: SessionManager,
    session_id: str | None,
    fn: Callable[[HeapSession], dict[str, Any]],
) -> dict[str, Any]:
    """``fn(session)`` for the session *session_id* resolves to (the only
    active one when empty). A missing or ambiguous session, or anything
    *fn* raises, comes back in-band as ``{"error": message}``."""
    try:
        return fn(manager.get(session_id))
    except Exception as e:
        return {"error": str(e)}


def query_heap(
    manager: SessionManager,
    sql: str,
    session_id: str | None = None,
    limit: int = DEFAULT_PAGE_SIZE,
    offset: int = 0,
) -> dict[str, Any]:
    """Arbitrary SQL over a session's views with the reference's
    LIMIT n+1 OFFSET m pagination probe (server.py:479-534). In the SQL,
    reference tables by session view name (see
    :meth:`HeapSession.view_name`)."""

    def run(sess: HeapSession) -> dict[str, Any]:
        # n+1 probe: fetch one extra row to learn whether more pages exist.
        df = manager.spark.sql(sql).offset(offset).limit(limit + 1)
        rows = df.collect()
        has_more = len(rows) > limit
        rows = rows[:limit]
        # Unlike the single-threaded DuckDB reference, Spark result order
        # is non-deterministic across jobs, so OFFSET pagination without
        # ORDER BY can drop/duplicate rows between pages. Warn, don't fail.
        unstable = (
            (offset > 0 or has_more)
            and "order by" not in sql.lower()
        )
        out: dict[str, Any] = {
            "session_id": sess.session_id,
            "columns": df.columns,
            "row_count": len(rows),
            "offset": offset,
            "limit": limit,
            "has_more": has_more,
            "rows": [r.asDict() for r in rows],
        }
        if has_more:
            out["next_offset"] = offset + limit
        if unstable:
            out["warning"] = (
                "pagination without ORDER BY is unstable in a distributed "
                "engine: successive pages may drop or duplicate rows — add "
                "an ORDER BY to the query"
            )
        return out

    return on_session(manager, session_id, run)


def list_tables(manager: SessionManager, session_id: str | None = None) -> dict[str, Any]:
    """Catalog introspection: table → (view, row count, schema) — the
    `list_parquet_files`/DESCRIBE surface (server.py:427-449). Row
    counts come from the Parquet footers, with no Spark job."""

    def run(sess: HeapSession) -> dict[str, Any]:
        tables = {}
        for name in sess.warehouse.table_names():
            df = sess.warehouse.table(name)
            tables[name] = {
                "view": sess.view_name(name),
                "row_count": sess.warehouse.row_count(name),
                "columns": [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
            }
        return {"session_id": sess.session_id, "tables": tables}

    return on_session(manager, session_id, run)


def explain_query(
    manager: SessionManager,
    sql: str,
    session_id: str | None = None,
    mode: str = "formatted",
) -> dict[str, Any]:
    """Plan introspection WITHOUT execution — the "is my filter pushed
    down / which join strategy did I get / how many shuffles" question,
    answered through the service surface before anyone pays for a run.
    The reference has no counterpart (DuckDB's EXPLAIN exists but is
    not exposed through its MCP server); at 100 TB, inspecting the
    plan first is an operational necessity, so the engine exposes it
    as a first-class tool. *mode*: formatted | extended | cost |
    codegen (Spark EXPLAIN variants)."""
    if mode not in ("formatted", "extended", "cost", "codegen", "simple"):
        return {"error": f"unknown explain mode '{mode}'"}

    def run(sess: HeapSession) -> dict[str, Any]:
        # "simple" is Spark's DEFAULT explain — its grammar has no
        # SIMPLE keyword, so emit a bare EXPLAIN for it.
        kw = "" if mode == "simple" else f" {mode.upper()}"
        rows = manager.spark.sql(f"EXPLAIN{kw} {sql}").collect()
        return {
            "session_id": sess.session_id,
            "mode": mode,
            "plan": "\n".join(r[0] for r in rows),
        }

    return on_session(manager, session_id, run)


def profile_table(
    manager: SessionManager,
    table: str,
    session_id: str | None = None,
    max_distinct_cols: int = 32,
) -> dict[str, Any]:
    """Per-column profile of one session table — rows, nulls, distinct
    count, min/max — computed in a SINGLE scan (one wide aggregate;
    the generic-service twin of the oracle-paired `table_profile`
    query). Columns beyond *max_distinct_cols* skip the exact
    COUNT(DISTINCT) (each one widens the Expand) and report
    approx_count_distinct instead — the 100-TB default."""
    from pyspark.sql import functions as F

    def run(sess: HeapSession) -> dict[str, Any]:
        df = sess.warehouse.table(table)
        fields = df.schema.fields
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for i, f in enumerate(fields):
            c = F.col(f"`{f.name}`")
            aggs.append(F.count(c).alias(f"__nn_{i}"))
            if i < max_distinct_cols:
                aggs.append(F.count_distinct(c).alias(f"__nd_{i}"))
            else:
                aggs.append(F.approx_count_distinct(c).alias(f"__nd_{i}"))
            if f.dataType.simpleString() not in ("binary", "array<double>", "array<float>"):
                aggs.append(F.min(c).cast("string").alias(f"__mn_{i}"))
                aggs.append(F.max(c).cast("string").alias(f"__mx_{i}"))
        row = df.agg(*aggs).collect()[0].asDict()
        cols = {}
        for i, f in enumerate(fields):
            cols[f.name] = {
                "type": f.dataType.simpleString(),
                "n_nulls": row["__rows"] - row[f"__nn_{i}"],
                "n_distinct": row[f"__nd_{i}"],
                "distinct_exact": i < max_distinct_cols,
                "min": row.get(f"__mn_{i}"),
                "max": row.get(f"__mx_{i}"),
            }
        return {
            "session_id": sess.session_id,
            "table": table,
            "n_rows": row["__rows"],
            "columns": cols,
        }

    return on_session(manager, session_id, run)
