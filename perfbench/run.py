"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Every run generates its inputs from the
seed in a fresh temp root under ``.perfbench_tmp/`` (removed at exit),
then sets up (the program's Spark session on ``local[<half the usable cores>]``
and the workload's set-up, together ``setup_s``), measures
for ``--seconds``, checks every output, and prints two JSON lines: a
record with provenance and per-workload detail, then the result line
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (from a traced
segment that follows an untraced one).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("analytics_batch", "tsdb_serve")

END_TO_END = {
    "setup_s": "s",
    "op_geomean_ms": "ms",
    "throughput_per_s": "1/s",
}

#: Per-layer metrics, named after the module they measure.
PER_LAYER = {
    "registry.construct_s": "s",
    "registry.construct_jobs": "count",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "spark.plan_s": "s",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.exchanges": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "server.http_ms": "ms",
    "api.parse_ms": "ms",
    "api.shape_ms": "ms",
    "plans.plan_ms": "ms",
    "plans.expression_ms": "ms",
    "cache.hit_ratio": "ratio",
    "cache.subqueries": "count",
    "route.cache": "count",
    "route.fine": "count",
    "route.ladder": "count",
    "snapshot.resolve_ms": "ms",
    "snapshot.resolve_calls": "count",
    "commitlog.scan_ms": "ms",
    "commitlog.length": "count",
    "ingest.write_batch_ms": "ms",
    "ingest.write_batches": "count",
    "rollup.write_ms": "ms",
    "rollup.refresh_s": "s",
    "rollup.cascade_s": "s",
    "stream.batches": "count",
    "stream.add_batch_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.rows_per_batch": "count",
    "bus.publish_s": "s",
    "bus.batches": "count",
    "maintenance.files_before": "count",
    "maintenance.files_after": "count",
    "lake.files": "count",
    "lake.bytes_per_point": "bytes",
    "proc.peak_rss_mb": "MiB",
    "ops.samples": "count",
    "trace.overhead_pct": "%",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the smoke tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "mycenae_spark", "__init__.py")):
        print("perfbench: the program (mycenae_spark/) is not in this checkout",
              file=sys.stderr)
        return 2
    # import the package from the checkout root, never this directory's
    # modules under bare names (``trace`` would shadow the stdlib module)
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    run_root = os.path.join(
        ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    # a terminated run still stops the JVM and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # keep every temp file the program or Spark makes inside the checkout
    os.environ["TMPDIR"] = os.path.join(run_root, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]

    try:
        return _run(args, run_root)
    except Exception:  # noqa: BLE001 — report the failure, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_root))
        except OSError:
            pass  # another run is using it


def _run(args, run_root: str) -> int:
    from perfbench import analytics, serve
    from perfbench.common import (Run, cpu_ticks, driver_peak_rss_mb, dumps,
                                  provenance, steal_pct)
    from perfbench.trace import Tracer, spark_event_stats

    module = {"analytics_batch": analytics, "tsdb_serve": serve}[args.workload]
    r = Run(args.workload, args.seed, args.seconds, bool(args.trace),
            args.size, run_root)
    event_dir = r.fresh_dir("eventlog") if args.trace else None
    layers: dict = {}
    module.generate(r)
    ticks = cpu_ticks()
    try:
        with r.setup_step("session"):
            r.start_spark(event_dir)
        module.main(r)
        r.metric("setup_s", r.setup_s, "s")
        if args.trace:
            layers = module.traced(r, Tracer())
        jvm_rss = r.jvm_peak_rss_mb()
        record = provenance(r, ROOT)
    finally:
        try:
            getattr(module, "finish", lambda _r: None)(r)
        finally:
            r.stop_spark()

    if args.trace:
        # Spark's counts for the traced segment, from its event log
        ev = spark_event_stats(event_dir, layers["_window"])
        layers.setdefault("spark.execute_s", ev["job_s"])
        layers.update({
            "spark.jobs": ev["jobs"],
            "spark.tasks": ev["tasks"],
            "spark.exchanges": ev["exchanges"],
            "spark.shuffle_write_bytes": ev["shuffle_write_bytes"],
            "spark.spill_bytes": ev["spill_bytes"],
            "proc.peak_rss_mb": driver_peak_rss_mb() + jvm_rss,
        })
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
        record["layers_self_s"] = layers.get("_self", {})
    else:
        metrics = {k: {"value": float(r.metrics[k]["value"]), "unit": u}
                   for k, u in END_TO_END.items()}
    record.update({"detail": r.detail, "setup_steps_s": r.setup_steps,
                   "host_steal_pct": steal_pct(ticks, cpu_ticks()),
                   "checks_failed": r.failures})
    print(dumps({"perfbench_record": record}))
    print(dumps({
        "correct": r.correct,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
