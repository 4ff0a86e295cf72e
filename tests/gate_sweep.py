"""Full driver-gate simulation: run EVERY registered query against its
DuckDB oracle at sf0.01 with the driver's compare semantics
(row count + schema + order-insensitive value equality).

Not collected by pytest (no test_ prefix); run manually:
    python tests/gate_sweep.py [sf_dir] [--only name1,name2,...]
Cores and driver heap come from $SPARK_GRAFT_CPUS (default: every
core) and $SPARK_GRAFT_DRIVER_MEM (default 8g), as in session.get_spark.
Prints one line per query and a final summary; exit 1 on any failure.
"""

from __future__ import annotations

import os
import sys
import time
import traceback


def main() -> int:
    argv = list(sys.argv[1:])
    only: set[str] | None = None
    if "--only" in argv:
        i = argv.index("--only")
        if i + 1 >= len(argv):
            raise SystemExit("usage: gate_sweep.py [sf_dir] --only name1,name2,...")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    import duckdb
    from pyspark.sql import SparkSession

    from gpu_accelerated_vector_indexing_spark.queries import merged
    from tests.parity import _register_views, compare_frames

    # cores and heap as session.get_spark sizes them
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .appName("gate-sweep")
        .getOrCreate()
    )
    duck = duckdb.connect()
    _register_views(duck, sf_dir)
    queries, oracles = merged()
    if only is not None:
        unknown = only - queries.keys()
        if unknown:
            raise SystemExit(f"--only names not in registry: {unknown}")
        queries = {n: f for n, f in queries.items() if n in only}
    failures: list[str] = []
    for i, (name, fn) in enumerate(queries.items()):
        t0 = time.monotonic()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
            duck_pdf = duck.execute(oracles[name]).df()
            compare_frames(spark_pdf, duck_pdf, name)
            print(f"[{i + 1}/{len(queries)}] OK   {name}  "
                  f"rows={len(spark_pdf)}  {time.monotonic() - t0:.1f}s", flush=True)
        except Exception as exc:  # noqa: BLE001 — report and continue
            failures.append(name)
            print(f"[{i + 1}/{len(queries)}] FAIL {name}: {exc}", flush=True)
            traceback.print_exc()
    print(f"\n{len(queries) - len(failures)}/{len(queries)} green; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
