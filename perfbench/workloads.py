"""The three workloads. Each one is a closed loop with a single client:
the next call starts when the previous one returned.

A workload has ``prepare`` (repeated during set-up, so set-up time is a
median), ``warm`` (run once at the end of set-up, so JIT, codegen and
file-listing caches fill before timing), ``round`` (one timed unit of
work) and ``report`` (its own named figures); the read path also has
``check_trace`` for checks on the traced run. Every
call into the package goes through :meth:`Recorder.call`, which times it,
opens a trace span for it and checks its output; a wrong answer or an
exception counts as a failed operation instead of stopping the run.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import random
import shutil
import sys
import time
from typing import Any, Callable

from corpusgen import GENERATOR_VERSION as CORPUS_VERSION
from corpusgen import generate_corpus
from heapgen import HeapParams, cached_heap
from tracing import Tracer

# Dump for heap_ingest: big enough that one ingest is mostly parse/write
# work, small enough for several ingests in one run.
INGEST_HEAP = HeapParams(n_strings=150_000, n_distinct=15_000, n_maps=15_000, n_lists=15_000,
                         n_chains=1_000, segment_bytes=4 << 20)
# Dump behind the heap_triage warehouse: every session runs ~300 Spark
# jobs, so the heap is kept small and the session cost is mostly the
# per-job work of each tool.
TRIAGE_HEAP = HeapParams(n_strings=30_000, n_distinct=3_000, n_maps=3_000, n_lists=3_000, n_chains=240,
                         chain_depth=5)

# Tier<=2 waste checks the triage heap must trigger. "Class Count / Leak
# Detection" is tier 2 but fires only above 10,000 classes; its check
# still runs and reads _object_index.
EXPECTED_FINDINGS = {
    "Duplicate Strings", "Bad Collections (empty/single-element)", "Bad Object Arrays",
    "Bad Primitive Arrays", "Boxed Primitives", "Collection Sizing Issues",
    "Duplicate byte[] Arrays", "GC Roots Breakdown", "DirectByteBuffer Off-Heap", "Thread Stacks",
}

# Tables each tier<=2 waste check reads: the triage heap fills all of them.
CHECK_INPUTS = {
    "duplicate_strings": ["java.lang.String", "_primitive_arrays_byte"],
    "bad_collections": ["java.util.HashMap", "java.util.ArrayList"],
    "bad_object_arrays": ["_object_arrays"],
    "bad_primitive_arrays": ["_primitive_arrays_byte", "_primitive_arrays_int", "_primitive_arrays_long"],
    "boxed_numbers": ["java.lang.Integer", "java.lang.Long"],
    "collection_sizing": ["_object_arrays", "java.util.HashMap", "java.util.ArrayList"],
    "duplicate_byte_arrays": ["_primitive_arrays_byte"],
    "class_count": ["_object_index"],
    "gc_roots": ["_gc_roots"],
    "direct_byte_buffers": ["java.nio.DirectByteBuffer"],
    "thread_stacks": ["_stack_traces", "java.lang.Thread", "_stack_frames"],
}

# corpus_ops operators: one or two per family of the repository's
# headline operator set (relational, window, dedup/similarity, text
# retrieval), few enough that the oracle-checked cold pass fits the
# benchmark's time budget.
CORPUS_OPS = [
    "pricing_summary", "join_fact_fact", "window_rank_topk", "sessionize_lag", "dedup_exact",
    "ngram_shingle_overlap", "minhash_lsh_candidates", "embedding_near_dup_pairs", "tfidf_top_terms",
    "bm25_keyword_search",
]
# Operators that run Spark jobs while the DataFrame is built: their wall
# is construct + execute.
ITERATIVE = {"minhash_lsh_candidates", "bm25_keyword_search"}
CORPUS_SCALE = 0.01


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Recorder:
    """Operation log of one run: (round, kind, seconds) of every timed
    call, attempted / failed counts and the first few failure messages."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.ops: list[tuple[int, str, float]] = []
        self.round = -1
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.timing = True  # False during set-up and warm-up

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def check(self, what: str, cond: bool) -> None:
        """Count one check that needs no call into the package."""
        if cond:
            self.attempted += 1
        else:
            self.fail(what)

    def call(self, kind: str, layer: str, fn: Callable[[], Any], check: Callable[[Any], None]) -> Any:
        """Time ``fn()`` in a span, then run ``check(result)`` untimed."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, layer):
                out = fn()
        except Exception as e:  # a failed operation is counted, not fatal
            self.fail(f"{kind}: {type(e).__name__}: {str(e)[:300]}")
            return None
        dt = time.perf_counter() - t0
        try:
            check(out)
        except Exception as e:
            self.fail(f"{kind}: wrong output: {type(e).__name__}: {str(e)[:300]}")
            return out
        self.attempted += 1
        if self.timing:
            self.ops.append((self.round, kind, dt))
        return out


def _tree_stats(path: str) -> tuple[int, int]:
    """(parquet part files, parquet bytes) under *path*."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def check_manifest(spark, out_dir: str, manifest: dict, truth: dict) -> None:
    """Ingest summary and committed warehouse agree with the generator."""
    from heapdumpstardiver_spark.catalog import Warehouse

    expect(not manifest["truncated"], "ingest reported a truncated dump")
    for table, rows in truth["tables"].items():
        got = manifest["tables"].get(table)
        expect(got == rows, f"table {table}: {got} rows written, generator wrote {rows}")
    expect(manifest["tables"].get("_stack_traces") == truth["n_stack_traces"], "stack trace count")
    expect(manifest["tables"].get("_stack_frames") == truth["n_stack_frames"], "stack frame count")
    Warehouse(spark, out_dir, require_manifest=True)  # raises on a missing commit marker


class Context:
    def __init__(self, spark, tracer: Tracer, rec: Recorder, seed: int, work: str, cache: str,
                 inject: str | None = None):
        self.spark, self.tracer, self.rec = spark, tracer, rec
        self.seed, self.work, self.cache, self.inject = seed, work, cache, inject


def load_heap(ctx: Context, params: HeapParams) -> tuple[str, dict]:
    """The seeded dump and its truth, with ``--inject`` faults applied."""
    dump, truth = cached_heap(ctx.cache, ctx.seed, params)
    if ctx.inject == "truncated_dump":
        cut = os.path.join(ctx.work, "truncated.hprof")
        with open(dump, "rb") as src, open(cut, "wb") as dst:
            dst.write(src.read(truth["bytes"] * 2 // 3))
        dump = cut
    elif ctx.inject == "wrong_count":
        truth["n_reachable"] += 1
        truth["tables"]["java.lang.String"] += 1
    return dump, truth


def ingest(ctx: Context, dump: str, out: str, truth: dict, extra_check=None) -> dict:
    """One checked ``ingest_hprof(..., overwrite=True)``; returns the
    warehouse figures the per-layer report names (empty on failure)."""
    from heapdumpstardiver_spark.ingest import ingest_hprof

    stats: dict = {}

    def check(manifest: dict) -> None:
        check_manifest(ctx.spark, out, manifest, truth)
        if extra_check is not None:
            extra_check(manifest)
        files, size = _tree_stats(out)
        stats.update(n_splits=manifest["n_splits"], part_files=files, rows_written=manifest["total_rows"],
                     parquet_bytes_per_dump_byte=size / truth["bytes"], tables=len(manifest["tables"]))

    ctx.rec.call("ingest.ingest_hprof", "ingest", lambda: ingest_hprof(ctx.spark, dump, out, overwrite=True), check)
    return stats


class HeapIngest:
    """Write path: ``ingest_hprof(..., overwrite=True)`` on one dump, again and again."""

    PRIMARY = "ingest.ingest_hprof"  # the call kinds behind call_ms
    WARM_ROUNDS = 6  # ingest walls keep falling over the first few calls

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.out = os.path.join(ctx.work, "wh")
        self.ingest_stats: dict = {}

    def prepare(self) -> None:
        self.dump, self.truth = load_heap(self.ctx, INGEST_HEAP)
        with open(self.dump, "rb") as f:  # page cache: measure parse+write, not the disk
            while f.read(16 << 20):
                pass

    def warm(self) -> None:
        for _ in range(self.WARM_ROUNDS):
            self.round()

    def round(self) -> None:
        self.ingest_stats = ingest(self.ctx, self.dump, self.out, self.truth) or self.ingest_stats

    def report(self) -> dict:
        mb = self.truth["bytes"] / 1e6
        wall = _quantile(sorted(dt for _, _, dt in self.ctx.rec.ops), 0.5)
        return {
            "ingest_mb_per_s": (mb / wall, "MB/s"),
            "warehouse_bytes_per_dump_byte": (self.ingest_stats.get("parquet_bytes_per_dump_byte", 0), "ratio"),
            "dump_mb": (mb, "MB"),
        }


class HeapTriage:
    """Read path: one analyst session after another over one warehouse."""

    SID = "triage"
    PRIMARY = "service.query."
    # A run times the first session of a fresh Spark application, as an
    # analyst who starts the tools on a new dump meets it: a warm-up
    # session would make a run about 40% longer.
    COLD = True
    PAGES = 3  # 500-row pages of the ORDER BY + OFFSET query per session
    REPEATS = 3  # runs of each single-shot SQL kind per session: a median per kind

    def __init__(self, ctx: Context):
        from heapdumpstardiver_spark.mcp_tools import build_tools
        from heapdumpstardiver_spark.service import SessionManager

        self.ctx = ctx
        self.tools = build_tools(SessionManager(ctx.spark))
        self.wh = os.path.join(ctx.work, "wh")

    def prepare(self) -> None:
        def inputs_filled(manifest: dict) -> None:
            for check, tables in CHECK_INPUTS.items():
                for table in tables:
                    expect(manifest["tables"].get(table, 0) > 0, f"{check} would read an empty table {table}")

        self.dump, self.truth = load_heap(self.ctx, TRIAGE_HEAP)
        self.ingest_stats = ingest(self.ctx, self.dump, self.wh, self.truth, inputs_filled)
        self.n_tables = self.ingest_stats.pop("tables", 0)

    def warm(self) -> None:
        self.round()

    def _tool(self, kind: str, layer: str, name: str, check: Callable[[dict], None], **kw) -> None:
        def run() -> dict:
            out = json.loads(self.tools[name](**kw))
            if "error" in out:  # tools report failures in-band instead of raising
                raise CheckFailed(f"{name} returned error: {out['error'][:300]}")
            return out

        self.ctx.rec.call(kind, layer, run, check)

    def view(self, table: str) -> str:
        safe = table.replace(".", "_").replace("[", "_").replace("]", "_")
        return f"{self.SID}__{safe}"

    def round(self) -> None:
        t = self.truth
        sid = self.SID
        tool = self._tool
        oi, roots = self.view("_object_index"), self.view("_gc_roots")

        tool("catalog.open_session", "catalog", "open_session",
             lambda o: expect(o["tables"] == self.n_tables, f"{o['tables']} tables open"),
             parquet_dir=self.wh, session_id=sid)

        def check_listing(o: dict) -> None:
            rows = {e["table"]: e["row_count"] for e in o["system_tables"] + o["class_tables"]}
            for table, n in t["tables"].items():
                expect(rows.get(table) == n, f"list_parquet_files {table}: {rows.get(table)} != {n}")

        tool("service.list_parquet_files", "service", "list_parquet_files", check_listing, session_id=sid)

        for oid, type_name in t["lookup_ids"].items():
            tool("service.query.point_lookup", "service", "query_heap",
                 lambda o, tn=type_name: expect([r["type_name"] for r in o["rows"]] == [tn], "point lookup"),
                 sql=f"SELECT obj_id, type_name FROM {oi} WHERE obj_id = {oid}", session_id=sid)

        top = sorted(t["type_counts"].items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        for _ in range(self.REPEATS):
            tool("service.query.top_types", "service", "query_heap",
                 lambda o: expect([[r["type_name"], r["n"]] for r in o["rows"]] == [list(x) for x in top],
                                  "top types"),
                 sql=f"SELECT type_name, count(*) AS n FROM {oi} GROUP BY type_name ORDER BY n DESC, type_name LIMIT 10",
                 session_id=sid)

        for _ in range(self.REPEATS):
            tool("service.query.dup_strings", "service", "query_heap",
                 lambda o: expect([r["n"] for r in o["rows"]] == t["dup_counts_top"], "duplicate-string join"),
                 sql=(f"SELECT md5(concat_ws(',', CAST(b.`values` AS array<string>))) AS h, count(*) AS n "
                      f"FROM {self.view('java.lang.String')} s JOIN {self.view('_primitive_arrays_byte')} b "
                      f"ON s.value = b.obj_id GROUP BY 1 HAVING count(*) > 1 ORDER BY n DESC, h LIMIT 20"),
                 session_id=sid)

        for _ in range(self.REPEATS):
            tool("service.query.gc_root_join", "service", "query_heap",
                 lambda o: expect([[r["root_type"], r["type_name"], r["n"]] for r in o["rows"]] == t["root_types"],
                                  "GC-root join"),
                 sql=(f"SELECT r.root_type, o.type_name, count(*) AS n FROM {roots} r JOIN {oi} o "
                      f"ON r.obj_id = o.obj_id GROUP BY 1, 2 ORDER BY 1, 2"),
                 session_id=sid)

        longs = sorted(t["long_ids"])
        for page in range(self.PAGES):
            tool("service.query.paginate", "service", "query_heap",
                 lambda o, p=page: expect([r["obj_id"] for r in o["rows"]] == longs[p * 500:(p + 1) * 500],
                                          f"page {p}"),
                 sql=f"SELECT obj_id FROM {oi} WHERE type_name = 'java.lang.Long' ORDER BY obj_id",
                 session_id=sid, limit=500, offset=page * 500)

        tool("service.profile_table", "service", "profile_table",
             lambda o: expect(o["n_rows"] == t["tables"]["java.lang.String"], "profile_table rows"),
             session_id=sid, table="java.lang.String")

        def check_analyze(o: dict) -> None:
            expect(o["summary"]["total_objects"] == t["n_objects"], "summary total_objects")
            names = {f["check_name"] for f in o["waste_findings"]}
            expect(names == EXPECTED_FINDINGS, f"waste findings {sorted(names ^ EXPECTED_FINDINGS)} differ")
            dup = next(f for f in o["waste_findings"] if f["check_name"] == "Duplicate Strings")
            expect(dup["affected_count"] == t["dup_strings"], "duplicate string count")
            self.n_findings = len(o["waste_findings"])

        # run_waste_analysis logs a failing check to stderr and skips it
        err = io.StringIO()
        with contextlib.redirect_stderr(err):
            tool("analytics.analyze_heap", "service", "analyze_heap", check_analyze,
                 session_id=sid, waste_tier=2)
        if "WARNING:" in err.getvalue():
            self.ctx.rec.fail(f"analyze_heap: a waste check failed: {err.getvalue()[:300]}")
        sys.stderr.write(err.getvalue())

        def check_liveness(o: dict) -> None:
            s = o["summary"]
            expect((s["n_objects"], s["n_reachable"], s["n_unreachable"])
                   == (t["n_objects"], t["n_reachable"], t["n_unreachable"]), f"liveness {s}")

        tool("analytics.analyze_liveness", "service", "analyze_liveness", check_liveness, session_id=sid)
        tool("analytics.retained_by_single_referrer", "service", "retained_by_single_referrer",
             lambda o: expect([[p["retainer_type"], p["retained_type"], p["n_objects"]] for p in o["pairs"]]
                              == t["single_referrer_top"], "single-referrer pairs"),
             session_id=sid)

    def check_trace(self, layer: dict) -> None:
        """The traced BFS ran exactly as many rounds as the chains are deep."""
        rounds, depth = layer["reachability.bfs_rounds"], self.truth["bfs_depth"]
        self.ctx.rec.check(f"BFS ran {rounds} rounds, heap depth is {depth}",
                           rounds == depth == self.truth["chain_depth"])

    def report(self) -> dict:
        ms = lambda prefix: sorted(dt * 1000 for _, k, dt in self.ctx.rec.ops if k.startswith(prefix))
        q = ms("service.query.")
        analyze, live = ms("analytics.analyze_heap"), ms("analytics.analyze_liveness")
        return {
            "query_p50_ms": (_quantile(q, 0.5), "ms"),
            "query_p90_ms": (_quantile(q, 0.9), "ms"),
            "query_samples": (len(q), "count"),
            "analyze_heap_s": (_quantile(analyze, 0.5) / 1000, "s"),
            "liveness_s": (_quantile(live, 0.5) / 1000, "s"),
            "dump_mb": (self.truth["bytes"] / 1e6, "MB"),
            "warehouse_part_files": (self.ingest_stats.get("part_files", 0), "count"),
        }


def _quantile(sorted_values: list[float], q: float) -> float:
    if not sorted_values:
        return float("nan")
    return sorted_values[min(len(sorted_values) - 1, int(q * len(sorted_values)))]


def _digest(columns: list[str], rows: list) -> str:
    """Order-independent digest of a result, in the repository's contract
    canonicalization (columns sorted by name, rows sorted)."""
    from verify_contract import rowset

    return hashlib.sha256("\n".join(rowset(columns, rows)).encode()).hexdigest()


class CorpusOps:
    """LLM-data operators over a generated corpus, in a seeded order."""

    PRIMARY = "queries."
    WARM_ROUNDS = 2

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.order = list(CORPUS_OPS)
        random.Random(ctx.seed).shuffle(self.order)
        self.expected: dict[str, str] = {}

    def prepare(self) -> None:
        """Corpus files plus each operator's DuckDB oracle digest."""
        import duckdb
        from heapdumpstardiver_spark.registry import ORACLE_SQL
        from verify_contract import TABLES

        key = f"corpus-v{CORPUS_VERSION}-s{self.ctx.seed}-x{CORPUS_SCALE}"
        self.dir = os.path.join(self.ctx.cache, key)
        if not os.path.exists(os.path.join(self.dir, "_DONE")):
            shutil.rmtree(self.dir, ignore_errors=True)
            generate_corpus(self.dir, self.ctx.seed, CORPUS_SCALE)
            open(os.path.join(self.dir, "_DONE"), "w").close()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            self.oracle = {}
            for name in self.order:
                rel = con.sql(ORACLE_SQL[name])
                self.oracle[name] = (list(rel.columns), list(rel.types), rel.fetchall())
        finally:
            con.close()

    def warm(self) -> None:
        """Cold pass: every operator must match its oracle exactly (the
        repository's contract canonicalization); the digest of that
        result is what every timed run must reproduce."""
        from verify_contract import type_guard_errors

        for name in self.order:
            cols, types, rows = self.oracle[name]

            def check(res, cols=cols, types=types, rows=rows):
                scols, dtypes, srows = res
                expect(sorted(scols) == sorted(cols), f"schema {scols} vs oracle {cols}")
                expect(not type_guard_errors(dtypes, cols, types), "oracle type guard")
                expect(_digest(scols, srows) == _digest(cols, rows), "rows differ from DuckDB oracle")

            self.ctx.rec.call(f"queries.{name}", "queries", lambda n=name: self._run(n), check)
            self.expected[name] = _digest(cols, rows)
        if self.ctx.inject == "wrong_digest":
            self.expected[self.order[0]] = "0" * 64
        # the first two passes after the cold one are still measurably slower
        for _ in range(self.WARM_ROUNDS):
            self.round()

    def _run(self, name: str):
        import heapdumpstardiver_spark as hds

        df = hds.QUERIES[name](self.ctx.spark, self.dir)
        return list(df.columns), df.dtypes, [tuple(r) for r in df.collect()]

    def round(self) -> None:
        import heapdumpstardiver_spark as hds

        rec = self.ctx.rec
        for name in self.order:
            fn = hds.QUERIES[name]
            check = lambda res, n=name: expect(_digest(res[0], res[1]) == self.expected[n], f"{n} digest changed")
            if name in ITERATIVE:
                def run(fn=fn):
                    df = fn(self.ctx.spark, self.dir)
                    return df.columns, [tuple(r) for r in df.collect()]
            else:
                df = fn(self.ctx.spark, self.dir)  # built outside the timed call

                def run(df=df):
                    return df.columns, [tuple(r) for r in df.collect()]
            rec.call(f"queries.{name}", "queries", run, check)

    def report(self) -> dict:
        return {"operators": (len(self.order), "count")}


WORKLOADS = {"heap_ingest": HeapIngest, "heap_triage": HeapTriage, "corpus_ops": CorpusOps}
