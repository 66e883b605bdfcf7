"""Benchmark harness for the engine: one workload per run, closed loop,
one client, on ``local[<cpus>]``.

    python3 perfbench/run.py --workload ifc_outlier --seed 1 --seconds 20 \
        --trace 0

Run from the repository root. Set-up (session start, inputs, expected
outputs, checked warm-up jobs) is timed as ``setup_s``; then jobs
run back to back for ``--seconds`` and each is checked against the
expected output. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The exit code is non-zero when any output is wrong or a job fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402
from contextlib import contextmanager  # noqa: E402

from workloads import TPCH_QUERIES, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
JOB_TIMEOUT_S = 60  # one timed job
PHASE_TIMEOUT_S = 120  # all of set-up, or all of a traced run's probes

# metric name -> unit
END_TO_END = {"setup_s": "s", "job_p50_s": "s", "items_per_s": "1/s",
              "peak_rss_mb": "MB"}


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def configure_env(root: str) -> None:
    """Harness settings, fixed without touching the engine: every core,
    a JVM heap that fits the host, all scratch inside ``root``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(root, "tmp")
    local = os.path.join(root, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(root, 'wh')}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell"]),
    })


class Context:
    def __init__(self, spark, root: str, tracer):
        from big_data_science_project_spark.functions.actions import (
            checksum_count)

        self.spark = spark
        self.sc = spark.sparkContext
        self.root = root
        self.tracer = tracer
        self.checksum_count = checksum_count

    @contextmanager
    def job_group(self, group: str, timeout: float = JOB_TIMEOUT_S):
        """Runs the body's Spark jobs under ``group``, cancelled after
        ``timeout`` seconds."""
        self.sc.setJobGroup(group, group)
        timer = threading.Timer(timeout, self.sc.cancelJobGroup, [group])
        timer.start()
        try:
            yield
        finally:
            timer.cancel()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — must not leave the JVM behind
            proc.kill()
            proc.wait()


def run(args, root: str, out) -> int:
    from tracing import RssSampler, Tracer, job_counters

    from big_data_science_project_spark.session import get_spark

    rss = RssSampler().start()
    # spans only in the loop's traced steps and the probes
    tracer = Tracer(enabled=False)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        ctx = Context(spark, root, tracer)
        wl = WORKLOADS[args.workload](args.seed)
        with ctx.job_group("setup", PHASE_TIMEOUT_S):
            setup_ok = wl.setup(ctx)
        setup_s = time.perf_counter() - T_START
        print(f"# {wl.name}: set-up {setup_s:.2f}s "
              f"(session {session_s:.2f}s), checked={setup_ok}, "
              f"peak so far {rss.peak / 1e6:.0f} MB", file=sys.stderr)

        times, traced, counters = [], [], []
        attempted = failed = items = 0
        loop_start = time.perf_counter()
        step = 0
        while time.perf_counter() - loop_start < args.seconds:
            # traced runs alternate untraced and traced loop steps, so the
            # difference of their job medians is the tracing overhead
            tracer.enabled = bool(args.trace) and step % 2 == 1
            for job in wl.unit():
                group = f"job-{attempted}"
                attempted += 1
                ok = False
                t = time.perf_counter()
                try:
                    with ctx.job_group(group), tracer.span("job", job=group):
                        n, ok = job(ctx)
                except Exception:  # noqa: BLE001 — a failed job is counted
                    traceback.print_exc()
                dt = time.perf_counter() - t
                if ok:
                    items += n
                    (traced if tracer.enabled else times).append(dt)
                else:
                    failed += 1
                if args.trace:
                    counters.append(job_counters(ctx.sc, group))
                wl.after_job()
            step += 1
        loop_s = time.perf_counter() - loop_start
        tracer.enabled = bool(args.trace)

        if args.trace:
            with ctx.job_group("probe", PHASE_TIMEOUT_S):
                layer = wl.probe(ctx)
            metrics = per_layer_metrics(layer, session_s, tracer, counters,
                                        times, traced)
            name = f"{wl.name}-seed{args.seed}-{os.getpid()}.json"
            tracer.dump(os.path.join(HERE, "traces", name))
        peak = rss.stop()
    finally:
        stop_spark(spark)

    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "job_p50_s": statistics.median(times) if times else 0.0,
            "items_per_s": items / loop_s,
            "peak_rss_mb": peak / 1e6,
        }
        units = END_TO_END
    else:
        units = PER_LAYER_UNITS
    print(f"# {wl.name}: {attempted} jobs in {loop_s:.2f}s, {failed} failed, "
          f"job seconds {[round(t, 2) for t in times + traced]}",
          file=sys.stderr)
    correct = setup_ok and failed == 0
    out.write(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units}}) + "\n")
    out.flush()
    return 0 if correct else 1


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "job.plan_s": "s",
    "job.exec_s": "s",
    "trace.overhead_s": "s",
    "spark.tasks_per_job": "count",
    "spark.stages_per_job": "count",
    "spark.failed_tasks": "count",
    "cells_datasource.scan_s": "s",
    "cells_datasource.scan_mb_per_s": "MB/s",
    "image_kernels.features_s": "s",
    "image_kernels.channel_rows": "count",
    "outlier.fit_s": "s",
    "outlier.votes_s": "s",
    "cells_datasource.write_s": "s",
    "cells_datasource.containers_written": "count",
    "cells_datasource.bytes_written_per_input_byte": "ratio",
    "cells_datasource.read_snapshot_s": "s",
    "relational.plan_s": "s",
    **{f"relational.{q}.exec_s": "s" for q in TPCH_QUERIES},
    "ingest.artifact_build_s": "s",
    "ingest.exact_gate_s": "s",
    "dedup.near_tier_s": "s",
    "text.lm_score_s": "s",
    "similarity.ann_gate_s": "s",
    "dedup.verified_per_candidate": "ratio",
}


def per_layer_metrics(layer: dict, session_s: float, tracer, counters,
                      untraced: list[float], traced: list[float]) -> dict:
    """Every per-layer metric; a layer this workload does not call
    reads 0."""
    med = statistics.median
    out = {k: 0.0 for k in PER_LAYER_UNITS}
    out.update(layer)
    out["session.start_s"] = session_s
    plans, execs = tracer.durations("plan"), tracer.durations("exec")
    out["job.plan_s"] = med(plans) if plans else 0.0
    out["job.exec_s"] = med(execs) if execs else 0.0
    if untraced and traced:
        out["trace.overhead_s"] = med(traced) - med(untraced)
    if counters:
        out["spark.stages_per_job"] = med(c[0] for c in counters)
        out["spark.tasks_per_job"] = med(c[1] for c in counters)
        out["spark.failed_tasks"] = sum(c[2] for c in counters)
    return out


def main() -> int:
    sys.path.insert(0, REPO)
    # the engine must be the checkout's own copy, else no result
    try:
        import big_data_science_project_spark as engine
    except ImportError as e:
        print(f"perfbench: engine not importable from {REPO}: {e}",
              file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(engine.__file__))) \
            != REPO:
        print(f"perfbench: engine imported from {engine.__file__}, "
              f"not from {REPO}", file=sys.stderr)
        return 2
    args = parse_args()
    # keep stdout for the result line alone: everything else, the
    # JVM's and workers' output included, goes to stderr
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    root = os.path.join(HERE, ".runs", uuid.uuid4().hex[:12])
    os.makedirs(root)
    try:
        configure_env(root)
        return run(args, root, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
