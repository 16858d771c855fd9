"""Repository benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload heap_triage --seed 3 --seconds 15 --trace 0

Run from the repository root. Set-up starts Spark on ``local[<nproc>]``
with ``nproc`` shuffle partitions, builds the workload's inputs from the
seed, repeats the workload's preparation ``SETUP_REPS`` times (set-up
time is their median, plus Spark start and the warm-up, which a workload
with ``COLD`` rounds runs only before a traced run), then runs rounds
back to back for ``--seconds``. Every output is checked;
failures are counted, not fatal.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run: rounds alternate between traced and untraced so
the same run also gives the tracing overhead. Spans are written to
``.perfbench_work/traces/``. A line ``{"report": ...}`` above the result
line carries the workload's own named figures, machine facts and the
first failures. ``--inject`` plants a wrong expected answer to show
the checks catch it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
CACHE_KEEP = 8  # generated inputs kept in the cache, newest first
INJECTIONS = ("truncated_dump", "wrong_count", "wrong_digest")


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def _environment(work: str) -> None:
    """Keep Spark, its Python workers and every temp file inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false --conf spark.sql.warehouse.dir={tmp}/sql "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]


def _prune_cache(cache: str) -> None:
    entries = sorted((os.path.join(cache, e) for e in os.listdir(cache)), key=os.path.getmtime, reverse=True)
    stems: list[str] = []
    for path in entries:
        stem = os.path.basename(path).split(".")[0]
        if stem not in stems:
            stems.append(stem)
        if stems.index(stem) >= CACHE_KEEP:
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)


def _descendants(pid: int) -> set[int]:
    """Every live process below ``pid``, from the parent links in /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    found, todo = set(), [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in found]
        found.update(kids)
        todo.extend(kids)
    return found


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def _shutdown(spark) -> None:
    """Stop Spark and its JVM and wait until they and the Python workers the
    JVM started have ended: ``spark.stop()`` alone leaves the JVM running for
    a moment after this process exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = _descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        left = {p for p in started if _running(p)}
        while left:
            if time.monotonic() > deadline:
                for p in left:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = float("inf")
            time.sleep(0.05)
            left = {p for p in left if _running(p)}


def _finite(x: float) -> float:
    """Metrics are plain JSON numbers: a figure with no samples (every
    call failed) reads 0 rather than NaN."""
    return x if math.isfinite(x) else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=INJECTIONS)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    cache = os.path.join(base, "cache")
    os.makedirs(cache, exist_ok=True)
    _environment(work)

    import pyspark

    import heapdumpstardiver_spark  # noqa: F401  (fails outside a checkout)
    from heapdumpstardiver_spark.session import get_spark
    from tracing import Tracer, instrument
    from workloads import CORPUS_OPS, WORKLOADS, Context, Recorder

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=bool(args.trace))
    rec = Recorder(tracer)
    spark = None
    # a terminated run still goes through the shutdown below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark", "session"):
            spark = get_spark(app_name="perfbench", cpus=nproc, shuffle_partitions=nproc)
        spark_s = time.perf_counter() - t0
        tracer.attach(spark.sparkContext)
        ctx = Context(spark, tracer, rec, args.seed, work, cache, args.inject)
        with instrument(tracer):
            wl = WORKLOADS[args.workload](ctx)
            rec.timing = False
            prep = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.prepare()
                prep.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            # a workload that times its cold first round warms up only before a
            # traced run, so that traced and untraced rounds compare like with like
            if args.trace or not getattr(wl, "COLD", False):
                wl.warm()
            warm_s = time.perf_counter() - t0
            setup_s = spark_s + statistics.median(prep) + warm_s

            rec.timing = True
            rounds: list[tuple[float, bool]] = []
            end = time.perf_counter() + args.seconds
            # a traced run needs one traced and one untraced round at least
            while time.perf_counter() < end or len(rounds) < 1 + args.trace:
                traced = bool(args.trace) and len(rounds) % 2 == 0
                tracer.enabled = traced
                tracer.op_id = rec.round = len(rounds)
                t0 = time.perf_counter()
                wl.round()
                rounds.append((time.perf_counter() - t0, traced))
            tracer.enabled, tracer.op_id = bool(args.trace), None
        _prune_cache(cache)

        # a round's time is the time of its calls into the package, without the checks
        round_call_s = [sum(dt for r, _, dt in rec.ops if r == i) for i in range(len(rounds))]
        round_s = statistics.median(round_call_s)
        # typical latency of the main call: median per call kind, geometric mean over kinds
        by_kind: dict[str, list[float]] = {}
        for _, kind, dt in rec.ops:
            if kind.startswith(wl.PRIMARY):
                by_kind.setdefault(kind, []).append(dt * 1000)
        call_ms = statistics.geometric_mean([statistics.median(v) for v in by_kind.values()]) if by_kind else 0.0
        report = {
            "workload": args.workload, "seed": args.seed, "rounds": len(rounds), "calls": len(rec.ops),
            "setup_s": setup_s, "spark_start_s": spark_s, "prepare_s": prep, "warm_s": warm_s,
            "round_s": round_s, "call_ms": call_ms, "call_kinds": len(by_kind),
            "calls_per_kind": {k: len(v) for k, v in by_kind.items()},
            "call_ms_per_kind": {k: statistics.median(v) for k, v in by_kind.items()},
            "round_call_s": round_call_s,
            "failed_frac": rec.failed / max(rec.attempted, 1),
            "nproc": nproc, "spark_version": pyspark.__version__, "git_commit": _git_commit(), "inject": args.inject,
            "errors": rec.errors,
        }
        report.update({k: {"value": _finite(v), "unit": u} for k, (v, u) in wl.report().items()})
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            with open(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"rounds": rounds, "spans": tracer.dump()}, f)
            from layers import per_layer

            metrics = per_layer(tracer, wl, rounds, CORPUS_OPS)
            if hasattr(wl, "check_trace"):
                wl.check_trace({k: v for k, (v, _) in metrics.items()})
        else:
            metrics = {"setup_s": (setup_s, "s"), "round_s": (round_s, "s"), "call_ms": (call_ms, "ms")}
        print(json.dumps({"report": report}))
        print(json.dumps({
            "correct": rec.failed == 0,
            "attempted": rec.attempted,
            "failed": rec.failed,
            "metrics": {k: {"value": _finite(v), "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
