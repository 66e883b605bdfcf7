"""Python worker start-up probe: times the worker calls that the start-up
hook (``big_data_science_project_spark/worker_site/sitecustomize.py``)
keeps cheap, and prints one JSON line of medians over ``--reps``:

- ``load_s``: a cells ``spark.read.format("cells")...load()`` (data
  source planner worker calls on the driver: instance + schema);
- ``plan_s``: planning the image-id-filtered cells scan, up to the
  physical plan (planner worker calls: filter pushdown);
- ``invalidate_caches_s``: one ``importlib.invalidate_caches()`` inside a
  task worker, the call ``pyspark.worker_util.setup_spark_files`` makes on
  every task; it re-reads every zip archive still on the worker's path.

``worker_pyspark`` is where task workers imported pyspark from. With
``--stock`` the session's workers start as stock Spark starts them (hook
directory taken off their ``PYTHONPATH``), for a before/after on one host.
On a 4-core VM (CPython 3.11.7, Spark 4.1.2, ``--reps 7 --cpus 2``):
stock load 0.166 s, plan 0.303 s, invalidate_caches 0.214 s; hooked
0.040 s, 0.064 s, 0.0001 s.

Usage: python tools/worker_startup_probe.py [--reps 7] [--cpus 2] [--stock]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _invalidate_caches_s(batches):
    import importlib
    import time

    import pandas as pd
    import pyspark

    for _ in batches:
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        yield pd.DataFrame({"s": [time.perf_counter() - t0],
                            "origin": [pyspark.__file__]})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--cpus", type=int, default=2)
    ap.add_argument("--stock", action="store_true",
                    help="start workers without the start-up hook")
    args = ap.parse_args()
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")

    from pyspark.sql import functions as F

    from big_data_science_project_spark.session import WORKER_SITE, get_spark
    from big_data_science_project_spark.sources import cells_datasource

    spark = get_spark("worker_startup_probe", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if args.stock:
        env = spark.sparkContext.environment
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in env["PYTHONPATH"].split(os.pathsep) if p != WORKER_SITE)
    cells_datasource.register(spark)

    def load():
        return (spark.read.format("cells").option("n_images", 1000)
                .option("n_channels", 9).option("width", 32)
                .option("height", 32).option("numpartitions", args.cpus)
                .load())

    def timed(fn):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    load()  # starts the planner daemon, outside the timings
    load_s = [timed(load) for _ in range(args.reps)]
    plan_s = []
    for _ in range(args.reps):
        df = load()
        plan_s.append(timed(lambda: df.filter(
            (F.col("image_id") >= 100) & (F.col("image_id") < 200))
            ._jdf.queryExecution().executedPlan()))
    rows = (spark.range(args.reps, numPartitions=args.reps)
            .mapInPandas(_invalidate_caches_s, "s double, origin string")
            .collect())
    spark.stop()
    print(json.dumps({
        "hook": not args.stock,
        "reps": args.reps,
        "load_s": round(statistics.median(load_s), 4),
        "plan_s": round(statistics.median(plan_s), 4),
        "invalidate_caches_s": round(
            statistics.median(r["s"] for r in rows), 4),
        "worker_pyspark": sorted({r["origin"] for r in rows}),
    }))


if __name__ == "__main__":
    main()
