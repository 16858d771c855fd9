"""Benchmark accounting guard: a corpus_ops operator that runs Spark
jobs while its DataFrame is *built* (eager localCheckpoint of an
intermediate, iterative convergence loops) must be in perfbench's
``ITERATIVE`` set. The corpus_ops round times only ``collect()`` for
the other operators, so construction-time work there would escape the
timed region.

The check is dynamic: each non-ITERATIVE operator is constructed under
its own job group and the status tracker must report zero jobs for
that group. A rewrite that adds an eager checkpoint to one of them
fails here until it joins ``ITERATIVE``.
"""

from __future__ import annotations

import os
import sys

import heapdumpstardiver_spark as hds

from conftest import SF_DIR

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
from workloads import CORPUS_OPS, ITERATIVE  # noqa: E402


def test_eagerly_checkpointing_headline_queries_are_iterative(spark):
    sc = spark.sparkContext
    offenders = {}
    for name in CORPUS_OPS:
        if name in ITERATIVE:
            continue
        # The first construction warms one-time session state (parquet
        # schema inference, footer row counts) that perfbench's warm-up
        # pays too. The second is what an eager checkpointer would
        # re-run every round: it must run zero jobs.
        hds.QUERIES[name](spark, SF_DIR)
        group = f"construction-guard-{name}"
        sc.setJobGroup(group, f"construction probe: {name}")
        try:
            hds.QUERIES[name](spark, SF_DIR)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        if jobs:
            offenders[name] = len(jobs)
    assert not offenders, (
        "corpus_ops operators run Spark jobs at construction but are not in "
        f"perfbench ITERATIVE (their timed wall would exclude that work): {offenders}"
    )


def test_known_eager_checkpointers_are_pinned_iterative():
    """Static pin of the corpus_ops operators known to checkpoint at
    construction, so an accidental ITERATIVE edit is caught even if
    the dynamic probe is skipped."""
    for name in ("minhash_lsh_candidates", "bm25_keyword_search"):
        assert name in CORPUS_OPS, name
        assert name in ITERATIVE, name
