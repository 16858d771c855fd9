"""Per-layer metrics of a traced run, derived from its spans.

Every name below is reported by every workload (0 where the workload
does not reach that layer), so the metric set is the same for all runs.
Durations are medians over the calls of one kind in traced rounds;
``<layer>.self_s`` / ``.spark_jobs`` / ``.tasks`` are medians over
traced rounds of the layer's per-round totals, where a span's self time
excludes its child spans and a Spark job belongs to the innermost span
open when it ran.
"""

from __future__ import annotations

from tracing import LAYERS, Tracer, median_or_zero

WASTE_CHECKS = [
    "duplicate_strings", "bad_collections", "bad_object_arrays", "bad_primitive_arrays",
    "boxed_numbers", "collection_sizing", "duplicate_byte_arrays", "class_count", "gc_roots",
    "direct_byte_buffers", "thread_stacks",
]
PROFILE_FNS = ["run_summary", "run_top_types", "run_category_breakdown",
               "run_byte_array_distribution", "run_large_byte_arrays"]
QUERY_KINDS = ["point_lookup", "top_types", "dup_strings", "gc_root_join", "paginate"]


def metric_names(corpus_ops: list[str]) -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    names = [("session.get_spark_s", "s")]
    names += [(f"ingest.{m}", u) for m, u in [
        ("build_index_s", "s"), ("convert_s", "s"), ("n_splits", "count"), ("part_files", "count"),
        ("rows_written", "count"), ("parquet_bytes_per_dump_byte", "ratio")]]
    names += [("catalog.open_session_s", "s"), ("catalog.tables", "count")]
    names += [(f"service.query_ms.{k}", "ms") for k in QUERY_KINDS]
    names += [("service.profile_table_ms", "ms"), ("service.list_parquet_files_ms", "ms"),
              ("service.list_parquet_files_jobs", "count")]
    names += [(f"profile.{f}_s", "s") for f in PROFILE_FNS]
    names += [("waste.run_waste_analysis_s", "s")] + [(f"waste.{c}_s", "s") for c in WASTE_CHECKS]
    names += [("waste.findings", "count")]
    names += [("reachability.heap_edges_s", "s"), ("reachability.reachable_from_roots_s", "s"),
              ("reachability.bfs_jobs", "count"), ("reachability.bfs_rounds", "count")]
    for op in corpus_ops:
        names += [(f"queries.{op}_s", "s"), (f"queries.{op}_jobs", "count")]
    for layer in LAYERS:
        names += [(f"{layer}.self_s", "s"), (f"{layer}.spark_jobs", "count"), (f"{layer}.tasks", "count")]
    names += [("spark.failed_tasks", "count"), ("bench.self_s", "s"), ("trace.overhead_s", "s")]
    return names


def per_layer(tracer: Tracer, wl, rounds: list[tuple[float, bool]], corpus_ops: list[str]) -> dict:
    """{name: (value, unit)} for every name of :func:`metric_names`."""
    spans = tracer.spans
    kids = tracer.children()
    traced = {i for i, (_, on) in enumerate(rounds) if on}
    in_rounds = [s for s in spans if s.op_id in traced]

    def durations(name: str) -> list[float]:
        return [s.duration for s in in_rounds if s.name == name]

    def jobs(name: str) -> list[int]:
        return [tracer.inclusive(s, kids, "jobs") for s in in_rounds if s.name == name]

    v: dict[str, float] = {}
    v["session.get_spark_s"] = median_or_zero([s.duration for s in spans if s.name == "session.get_spark"])
    v["ingest.build_index_s"] = median_or_zero(durations("ingest.build_index"))
    build = {s.op_id: s.duration for s in in_rounds if s.name == "ingest.build_index"}
    v["ingest.convert_s"] = median_or_zero(
        [s.duration - build.get(s.op_id, 0.0) for s in in_rounds if s.name == "ingest.ingest_hprof"])
    for k, x in getattr(wl, "ingest_stats", {}).items():
        v[f"ingest.{k}"] = x
    v["catalog.open_session_s"] = median_or_zero(durations("catalog.open_session"))
    v["catalog.tables"] = getattr(wl, "n_tables", 0)
    for k in QUERY_KINDS:
        v[f"service.query_ms.{k}"] = 1000 * median_or_zero(durations(f"service.query.{k}"))
    v["service.profile_table_ms"] = 1000 * median_or_zero(durations("service.profile_table"))
    v["service.list_parquet_files_ms"] = 1000 * median_or_zero(durations("service.list_parquet_files"))
    v["service.list_parquet_files_jobs"] = median_or_zero(jobs("service.list_parquet_files"))
    for f in PROFILE_FNS:
        v[f"profile.{f}_s"] = median_or_zero(durations(f"profile.{f}"))
    v["waste.run_waste_analysis_s"] = median_or_zero(durations("waste.run_waste_analysis"))
    for c in WASTE_CHECKS:
        v[f"waste.{c}_s"] = median_or_zero(durations(f"waste.{c}"))
    v["waste.findings"] = getattr(wl, "n_findings", 0)
    v["reachability.heap_edges_s"] = median_or_zero(durations("reachability.heap_edges"))
    v["reachability.reachable_from_roots_s"] = median_or_zero(durations("reachability.reachable_from_roots"))
    v["reachability.bfs_jobs"] = median_or_zero(jobs("reachability.reachable_from_roots"))
    # one count() per BFS round plus the final one that finds the frontier empty
    v["reachability.bfs_rounds"] = median_or_zero(
        [s.calls - 1 for s in in_rounds if s.name == "reachability.reachable_from_roots"])
    for op in corpus_ops:
        v[f"queries.{op}_s"] = median_or_zero(durations(f"queries.{op}"))
        v[f"queries.{op}_jobs"] = median_or_zero(jobs(f"queries.{op}"))

    per_round = {i: {layer: [0.0, 0, 0] for layer in LAYERS} for i in traced}
    top_level = {i: 0.0 for i in traced}
    for s in in_rounds:
        acc = per_round[s.op_id][s.layer]
        acc[0] += tracer.self_time(s, kids)
        acc[1] += s.jobs
        acc[2] += s.tasks
        if s.parent is None:
            top_level[s.op_id] += s.duration
    for layer in LAYERS:
        for j, stat in enumerate(("self_s", "spark_jobs", "tasks")):
            v[f"{layer}.{stat}"] = median_or_zero([per_round[i][layer][j] for i in traced])
    setup = [s for s in spans if s.layer == "session"]
    v["session.self_s"] = sum(s.duration for s in setup)
    v["session.spark_jobs"] = sum(s.jobs for s in setup)
    v["session.tasks"] = sum(s.tasks for s in setup)
    v["spark.failed_tasks"] = sum(s.failed_tasks for s in spans)
    v["bench.self_s"] = median_or_zero([rounds[i][0] - top_level[i] for i in traced])
    untraced = [w for w, on in rounds if not on]
    v["trace.overhead_s"] = (median_or_zero([rounds[i][0] for i in traced]) - median_or_zero(untraced)
                             if untraced else 0.0)
    return {name: (float(v.get(name, 0.0)), unit) for name, unit in metric_names(corpus_ops)}
