"""Waste-analysis orchestrator: runs all checks up to a tier with
per-check fault isolation, sorted by (-waste, severity) — mirrors
`run_waste_analysis` (analyze_heap_parquet.py:1104-1142)."""

from __future__ import annotations

import sys

from ..catalog import Warehouse
from . import waste
from .findings import WasteFinding

ALL_CHECKS = [
    (waste.check_duplicate_strings, 1),
    (waste.check_bad_collections, 1),
    (waste.check_bad_object_arrays, 1),
    (waste.check_bad_primitive_arrays, 1),
    (waste.check_boxed_numbers, 1),
    (waste.check_collection_sizing, 2),
    (waste.check_duplicate_byte_arrays, 2),
    (waste.check_class_count, 2),
    (waste.check_gc_roots, 2),
    (waste.check_direct_byte_buffers, 2),
    (waste.check_thread_stacks, 2),
    (waste.check_duplicate_object_arrays, 3),
    (waste.check_estimated_shallow_size, 3),
]


class WasteFindings(list):
    """The findings of one run, plus ``skipped``: a ``{"check",
    "error"}`` record for each check that raised."""

    def __init__(self):
        super().__init__()
        self.skipped: list[dict[str, str]] = []


def run_waste_analysis(
    wh: Warehouse, max_tier: int = 2, sample_fraction: float | None = None
) -> list[WasteFinding]:
    """Run all checks ≤ max_tier. A failing check is skipped, not fatal
    (the reference's try_query error isolation,
    analyze_heap_parquet.py:139-147,1137-1138): it is logged to stderr
    and recorded in the returned list's ``skipped``."""
    findings = WasteFindings()
    for check_fn, tier in ALL_CHECKS:
        if tier > max_tier:
            continue
        try:
            if check_fn is waste.check_duplicate_strings:
                result = check_fn(wh, sample_fraction=sample_fraction)
            else:
                result = check_fn(wh)
            if result is not None:
                findings.append(result)
        except Exception as e:  # per-check fault isolation
            print(f"WARNING: {check_fn.__name__} failed: {e}", file=sys.stderr)
            findings.skipped.append({"check": check_fn.__name__, "error": str(e)})
    findings.sort(key=lambda f: (-f.estimated_waste_bytes, f.severity_rank()))
    return findings
