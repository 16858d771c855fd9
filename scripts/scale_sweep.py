"""All-query scale sweep: run EVERY registered query once at sf0.1 and
once at the derived sf1 dataset, rank by wall-clock ratio.

Covering every registered query is what caught
`semantic_dedup_centroid` going 44x at 10x rows (cluster-only
blocking) and the explode-parallelism starvation in the multimodal
queries. A query whose ratio sits well past
~10x at 10x rows has a super-linear term; ratios under ~10x mean
fixed costs still dominate or the plan is genuinely sub-linear.

Usage: python scripts/scale_sweep.py   (builds .bench/sf1 if missing)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import heapdumpstardiver_spark as hds
    from make_scale_data import build_scale_dir
    from heapdumpstardiver_spark.session import get_spark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf1 = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(repo, ".bench", "sf1"))
    spark = get_spark(app_name="scale-sweep")
    build_scale_dir(spark, src, sf1)

    results: dict[str, dict[str, float | None]] = {}
    for sf_dir, label in [(src, "sf01"), (sf1, "sf1")]:
        for name, fn in hds.QUERIES.items():
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
            except Exception as e:  # keep sweeping; report at the end
                dt = None
                print(f"ERROR {label} {name}: {str(e)[:120]}", file=sys.stderr)
            results.setdefault(name, {})[label] = dt

    rows = sorted(
        (
            (r["sf1"] / r["sf01"], name, r["sf01"], r["sf1"])
            for name, r in results.items()
            if r.get("sf01") and r.get("sf1")
        ),
        reverse=True,
    )
    print(f"{'query':40s} {'sf0.1':>7s} {'sf1':>8s} {'ratio':>6s}")
    for ratio, name, a, b in rows:
        flag = "  <-- super-linear?" if ratio > 12 else ""
        print(f"{name:40s} {a:7.2f} {b:8.2f} {ratio:6.1f}{flag}")
    spark.stop()


if __name__ == "__main__":
    main()
