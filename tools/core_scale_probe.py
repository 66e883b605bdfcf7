"""Core-scaling probe (r14 verdict item 8): at sf0.1 every headline
query is dominated by fixed per-action driver cost, so the driver's
8-vs-32-core bench ratios sit near 1.0 and cannot DEMONSTRATE that the
shuffle-heavy plans parallelize. This probe runs a handful of
shuffle/compute-heavy queries over a 10x key-shifted replica
(tools/scale_probe.build_scaled — the same content-perturbed replica
the superlinearity probe uses) at local[8] and local[32] and records
the speedup, committed as CORE_SCALING.json next to STRAGGLER.json.
``--cores`` takes any number of counts: the artifact holds every
count's timings and each higher count's speedup over the lowest.

Each (cores, query) cell is min-of-N wall of the bench's own
checksum_count action, measured in a FRESH subprocess/session per core
count (a shared session would leak JIT/cache warmth across core
counts). The probe session lowers spark.sql.files.maxPartitionBytes to
16m because the replica is ONE parquet file per table — production
inputs arrive as many files, and without the lower split size the scan
stage of a ~100 MB single file is 1 task at any core count, measuring
the fixture's file layout rather than the plan's parallelism.

Usage: python tools/core_scale_probe.py [--rep 10] [--out CORE_SCALING.json]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "text_lm_perplexity",     # bigram explode + two count joins
    "dedup_incremental",      # digest + LSH tiers vs the index
    "q17_outlier_votes",      # lineitem-wide multi-agg + join
    "ml_gram_matrix",         # Arrow kernel pass (python-worker class)
    "q01_pricing_summary",    # scan+agg control (expected scan-bound)
]

_RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.chdir({repo!r})
from pyspark.sql import SparkSession
cores = int(sys.argv[1]); sf_dir = sys.argv[2]; reps = int(sys.argv[3])
spark = (SparkSession.builder.master(f"local[{{cores}}]")
         .appName(f"core_scale_{{cores}}")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.autoBroadcastJoinThreshold", str(64*1024*1024))
         .config("spark.sql.legacy.parquet.nanosAsLong", "true")
         .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
         .config("spark.sql.files.maxPartitionBytes", "16m")
         .config("spark.driver.memory", "16g")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as entry
from big_data_science_project_spark.functions.actions import checksum_count
queries = entry.queries()
spark.range(1000).count()
names = json.loads(sys.argv[4])
out = {{}}
for name in names:
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        n, ck = checksum_count(queries[name](spark, sf_dir))
        w = time.perf_counter() - t0
        best = w if best is None else min(best, w)
    out[name] = {{"sec": round(best, 3), "rows": n, "checksum": ck}}
print("CORE_SCALE_RESULT " + json.dumps(out))
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rep", type=int, default=10)
    ap.add_argument("--reps-per-query", type=int, default=2)
    ap.add_argument("--out", default="CORE_SCALING.json")
    ap.add_argument("--cores", default="8,32")
    args = ap.parse_args()

    from tools.scale_probe import SRC, build_scaled

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dst = tempfile.mkdtemp(prefix=f"core_scale_x{args.rep}_")
    print(f"building x{args.rep} replica at {dst}", file=sys.stderr)
    build_scaled(dst, args.rep)

    runner = _RUNNER.format(repo=repo)
    results = {}
    for cores in [int(c) for c in args.cores.split(",")]:
        print(f"running at local[{cores}]", file=sys.stderr, flush=True)
        r = subprocess.run(
            [sys.executable, "-c", runner, str(cores), dst,
             str(args.reps_per_query), json.dumps(QUERIES)],
            capture_output=True, text=True)
        line = [ln for ln in r.stdout.splitlines()
                if ln.startswith("CORE_SCALE_RESULT ")]
        if not line:
            print(r.stdout[-2000:], file=sys.stderr)
            print(r.stderr[-4000:], file=sys.stderr)
            raise SystemExit(f"runner at {cores} cores failed")
        results[str(cores)] = json.loads(line[0].split(" ", 1)[1])

    counts = sorted(int(c) for c in results)
    per_query = {}
    for name in QUERIES:
        cells = [results[str(c)][name] for c in counts]
        base = cells[0]
        for c, cell in zip(counts[1:], cells[1:]):
            if (cell["checksum"], cell["rows"]) != (base["checksum"],
                                                    base["rows"]):
                raise SystemExit(
                    f"{name}: result differs across core counts — "
                    f"{base} at {counts[0]} vs {cell} at {c}")
        entry = {"rows": base["rows"]}
        for c, cell in zip(counts, cells):
            entry[f"sec_{c}c"] = cell["sec"]
        # speedup of every higher count over the lowest
        for c, cell in zip(counts[1:], cells[1:]):
            entry[f"speedup_{c}c"] = round(base["sec"] / cell["sec"], 2)
        per_query[name] = entry
    artifact = {
        "replica_rep": args.rep, "src": SRC,
        "cores": counts,
        "reps_per_query": args.reps_per_query,
        "max_partition_bytes": "16m",
        "per_query": per_query,
    }
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(json.dumps(artifact["per_query"]))


if __name__ == "__main__":
    main()
