"""Reference-shape vector-search benchmark.

    python3 perfbench/run.py --workload ivf_point --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It starts one Spark driver on
``local[4]`` through the engine's ``session.get_spark``, builds the
workload's index from seeded inputs, then serves operations from one
closed-loop client for ``--seconds`` and checks every answer against
NumPy. The last line of stdout is one JSON object: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
separate traced run (spans are written to ``.perfbench/spans/``).
``perfbench/METRICS.md`` defines the workloads and metrics.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

PACKAGE = "gpu_accelerated_vector_indexing_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4


def isolate(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the package
    importable in Spark's Python workers: they inherit PYTHONPATH from the
    driver JVM, which inherits it from this process."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--driver-java-options",
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]
    )
    sys.path.insert(0, ROOT)


def driver_alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def stop_driver(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it: the JVM exits
    when its stdin pipe closes."""
    from pyspark import SparkContext

    try:
        spark.stop()
    except Exception:
        traceback.print_exc(file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def per_query(samples: dict[str, list[float]], queries: dict[str, list[int]]) -> list[float]:
    """Each operation's sample divided by the queries it answered."""
    return [x / q for kind, xs in samples.items() for q, x in zip(queries[kind], xs)]


def end_to_end(recalls: list[float], out, n_ops: int, setup_cpu_s: float) -> dict:
    """Both times are CPU time (``cpu.py`` says why). CPU time per query
    is that of the first ``n_ops`` operations of the timed loop over the
    queries they answered. Those operations always run, so every run
    measures the same queries at the same point of the JVM's warm-up (a
    fast host would otherwise add later, cheaper calls), and a mean of a
    few samples spreads less than their median."""
    cpu = sum(x for xs in out.cpu_s.values() for x in xs[:n_ops])
    queries = sum(q for qs in out.queries.values() for q in qs[:n_ops])
    return {
        "setup_s": (setup_cpu_s, "s"),
        "query_cpu_ms": (cpu / queries * 1e3 if queries else 0.0, "ms"),
        "recall_at_10": (mean(recalls), "ratio"),
    }


def per_layer(
    wl, tr, out, loop_from: int, setup_s: float, session_s: float, pairs_per_s: float, overhead: float
) -> dict:
    """Setup spans are read whole; operation spans only from the timed
    loop (index ``loop_from`` on), so cold first calls do not count."""

    def dur(name, since=0):
        return [s["end"] - s["start"] for s in tr.of(name, since)]

    def per_op(names, key):
        by_op: dict = {}
        for n in names:
            for s in tr.of(n, loop_from):
                by_op[s["qid"]] = by_op.get(s["qid"], 0) + s.get(key, 0)
        return mean(list(by_op.values()))

    def jobs(name):
        return sum(s.get("jobs", 0) for s in tr.of(name))

    decode = dur("sources.decode")
    cands = getattr(wl, "candidates", [])
    point = ["engine.search_call", "engine.collect"]
    batch = ["ivf.plan", "ivf.exec"]
    gbatch = ["engine.graph_walk", "engine.graph_collect"]
    return {
        "client.setup_wall_s": (setup_s, "s"),
        "client.wall_ms_per_query": (median(per_query(out.latencies_s, out.queries)) * 1e3, "ms"),
        "session.start_s": (session_s, "s"),
        "session.failed_tasks": (tr.failed_tasks, "count"),
        "sources.list_s": (sum(dur("sources.read")), "s"),
        "sources.decode_rows_per_s": (getattr(wl, "N_APPEND", 0) / sum(decode) if decode else 0.0, "1/s"),
        "index_build.append_s": (sum(dur("index_build.append")), "s"),
        "index_build.append_jobs": (jobs("index_build.append"), "count"),
        "index_build.files": (getattr(wl, "files", 0), "count"),
        "index_build.bytes_per_input_byte": (getattr(wl, "index_bytes", 0) / getattr(wl, "input_bytes", 1), "ratio"),
        "engine.load_ms": (median(dur("engine.load")) * 1e3, "ms"),
        "engine.search_call_ms": (median(dur("engine.search_call", loop_from)) * 1e3, "ms"),
        "engine.collect_ms": (median(dur("engine.collect", loop_from)) * 1e3, "ms"),
        "engine.jobs_per_query": (per_op(point, "jobs"), "count"),
        "engine.stages_per_query": (per_op(point, "stages"), "count"),
        "engine.tasks_per_query": (per_op(point, "tasks"), "count"),
        "engine.candidates_per_query": (mean(cands), "count"),
        "engine.useful_ratio": (mean([10 / c for c in cands if c]), "ratio"),
        "ivf.build_s": (sum(dur("ivf.build")), "s"),
        "ivf.memo_s": (sum(dur("ivf.memo")), "s"),
        "ivf.plan_s": (median(dur("ivf.plan", loop_from)), "s"),
        "ivf.exec_s": (median(dur("ivf.exec", loop_from)), "s"),
        "ivf.jobs_per_batch": (per_op(batch, "jobs"), "count"),
        "ivf.tasks_per_batch": (per_op(batch, "tasks"), "count"),
        "vector.pairs_per_s": (pairs_per_s, "1/s"),
        "graph_ann.write_s": (sum(dur("graph_ann.write")), "s"),
        "engine.graph_walk_s": (median(dur("engine.graph_walk", loop_from)), "s"),
        "engine.graph_collect_s": (median(dur("engine.graph_collect", loop_from)), "s"),
        "engine.graph_jobs_per_batch": (per_op(gbatch, "jobs"), "count"),
        "trace.overhead_ratio": (overhead, "ratio"),
    }


VECTOR_PAIRS = 20_000


def vector_pairs_per_s(spark, tr) -> float:
    """``cosine_similarity_hoisted`` over a generated (vector, query) pairs
    relation into a ``noop`` sink."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.functions.vector import (
        cosine_similarity_hoisted,
        l2_norm,
    )

    dims = F.sequence(F.lit(0), F.lit(383))
    pairs = spark.range(VECTOR_PAIRS, numPartitions=CPUS).select(
        F.transform(dims, lambda j: F.sin(F.col("id") + j)).alias("v"),
        F.transform(dims, lambda j: F.cos(F.col("id") * 7 + j)).alias("q"),
    )
    scored = pairs.select(
        cosine_similarity_hoisted(F.col("v"), F.col("q"), l2_norm(F.col("q"))).alias("s")
    )
    with tr.span("vector.cosine_noop", jobs=True) as s:
        scored.write.format("noop").mode("overwrite").save()
    return VECTOR_PAIRS / (s["end"] - s["start"])


# The first operation runs in setup, then ``WARM`` more run untimed
# while the JVM compiles the serving path. Recall is taken over these
# and the first ``MIN_OPS`` operations of the timed loop, which always
# run, so every run scores the same queries whatever the host's speed;
# CPU time per query is taken over those ``MIN_OPS`` operations.
FIXED_OPS = 1


def run(args, work: str) -> dict:
    isolate(work)
    from cpu import tree_cpu_s
    from loop import Outcome, closed_loop
    from tracing import NullTracer, Tracer
    from workloads import WORKLOADS

    from gpu_accelerated_vector_indexing_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=CPUS)
    session_s = time.perf_counter() - t
    tr = Tracer(spark) if args.trace else NullTracer()
    wl = WORKLOADS[args.workload](spark, tr, work, args.seed)
    fixed, warm, out = Outcome(), Outcome(), Outcome()
    setup_s = setup_cpu_s = 0.0
    setup_ok = False
    pairs_per_s = overhead = 0.0
    loop_from = 0

    def alive():
        return driver_alive(spark)

    try:
        try:
            wl.prepare()
            wl.setup()
            fixed = closed_loop(wl.op, alive, min_ops=FIXED_OPS, max_ops=FIXED_OPS)
            setup_ok = True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            fixed.attempted += 1
            fixed.failed += 1
            fixed.driver_dead = not alive()
        setup_s = time.perf_counter() - T_START
        setup_cpu_s = tree_cpu_s()
        if setup_ok and not fixed.driver_dead:
            warm = closed_loop(wl.op, alive, first=FIXED_OPS, min_ops=wl.WARM, max_ops=wl.WARM)
        if setup_ok and not fixed.driver_dead and not warm.driver_dead:
            loop_from = len(getattr(tr, "spans", ()))
            before = getattr(tr, "overhead_s", 0.0)
            out = closed_loop(
                wl.op, alive, args.seconds, first=FIXED_OPS + wl.WARM, min_ops=wl.MIN_OPS, cpu=tree_cpu_s
            )
            overhead = (getattr(tr, "overhead_s", 0.0) - before) / max(out.wall_s, 1e-9)
            if args.trace and not out.driver_dead:
                # layer probes after the loop; a probe's answer check
                # counts as one more operation
                out.attempted += 1
                try:
                    pairs_per_s = vector_pairs_per_s(spark, tr)
                    problems = wl.probe() if hasattr(wl, "probe") else []
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    problems = ["probe raised"]
                if problems:
                    print(f"probe failed its check: {problems[:3]}", file=sys.stderr)
                    out.failed += 1
        elif fixed.driver_dead or warm.driver_dead:
            # a dead driver loses every operation still to come
            out.attempted = out.failed = wl.MIN_OPS + (wl.WARM if fixed.driver_dead else 0)
    finally:
        if args.trace:
            spans = os.path.join(ROOT, ".perfbench", "spans")
            os.makedirs(spans, exist_ok=True)
            tr.write(os.path.join(spans, f"{args.workload}-seed{args.seed}.jsonl"))
        stop_driver(spark)

    attempted = fixed.attempted + warm.attempted + out.attempted
    failed = fixed.failed + warm.failed + out.failed
    dead = fixed.driver_dead or warm.driver_dead or out.driver_dead
    if args.trace:
        metrics = per_layer(wl, tr, out, loop_from, setup_s, session_s, pairs_per_s, overhead)
    else:
        recalls = [r for op in fixed.recalls + warm.recalls + out.recalls[: wl.MIN_OPS] for r in op]
        metrics = end_to_end(recalls, out, wl.MIN_OPS, setup_cpu_s)
    print(
        f"{args.workload} seed={args.seed}: {attempted} ops, {failed} failed, "
        f"driver {'dead' if dead else 'alive'}, setup {setup_s:.2f} s ({setup_cpu_s:.2f} s CPU), "
        f"latencies { {k: [round(x, 2) for x in v] for k, v in out.latencies_s.items()} } s, "
        f"cpu { {k: [round(x, 2) for x in v] for k, v in out.cpu_s.items()} } s",
        file=sys.stderr,
    )
    return {
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
