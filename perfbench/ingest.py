"""The write path at volume, used by ``tsdb_serve``'s set-up to build its
lake: the two streaming ingest legs and a compaction, each timed, followed
by the ingest output checks.

Before set-up, the generator writes the first half of the points (time
order, a seeded share delivered late) as jsonl spool files and cuts the
second half into bus segments.  Set-up then runs

1. ``streaming.ingest.start_ingest`` (availableNow) over the spool files;
2. ``sources.bus.publish`` of the segments (timed apart, so publishing
   stays out of the bus throughput), then ``sources.bus.start_bus_ingest``
   (availableNow);
3. ``maintenance.compact_keyspace`` over the keyspace.

Afterwards the landed row count, the catalog series count and the
per-metric value sums must equal the generator's, and the 1m rollup sums
and counts must equal the raw ones.
"""

from __future__ import annotations

import json
import math
import os

from perfbench.common import Run
from perfbench.datagen import KSID, SeriesSet

LATE_SHARE = 0.1
SPOOL_FILE_POINTS = 9_000
BUS_PARTITIONS = 4
BUS_SEGMENT_POINTS = 9_000


def _await(job, what: str) -> list[dict]:
    """Wait for an availableNow job; returns its progress records."""
    if not job.awaitTermination(600):
        job.stop()
        raise TimeoutError(f"{what}: not drained in 600 s")
    if job.exception() is not None:
        raise RuntimeError(f"{what} failed: {job.exception()}")
    return [dict(json.loads(p.json), leg=what) for p in job.recentProgress]


def spool(series: SeriesSet, pts: list[dict], d: dict) -> dict:
    """The generator side, before set-up: writes the first half of ``pts``
    as spool files and cuts the second half into bus segments."""
    pts = sorted(pts, key=lambda p: p["timestamp"])
    half = len(pts) // 2
    file_pts = series.shuffled_out_of_order(pts[:half], LATE_SHARE)
    bus_pts = series.shuffled_out_of_order(pts[half:], LATE_SHARE)
    os.makedirs(d["spool"], exist_ok=True)
    for j in range(0, len(file_pts), SPOOL_FILE_POINTS):
        with open(os.path.join(d["spool"], f"part-{j:09d}.jsonl"), "w") as f:
            f.write("\n".join(json.dumps(p) for p in file_pts[j:j + SPOOL_FILE_POINTS]))
    per = math.ceil(len(bus_pts) / BUS_PARTITIONS)
    segments = []
    for p in range(BUS_PARTITIONS):
        part = bus_pts[p * per:(p + 1) * per]
        for j in range(0, len(part), BUS_SEGMENT_POINTS):
            segments.append((p, [json.dumps(x) for x in part[j:j + BUS_SEGMENT_POINTS]]))
    return {"file_points": len(file_pts), "bus_points": len(bus_pts),
            "segments": segments}


def bulk_load(r: Run, prep: dict, d: dict) -> dict:
    """Land the spooled points into ``d["lake"]`` / ``d["catalog"]`` /
    ``d["rollup"]`` through both legs, then compact; each step is a timed
    set-up step.  Returns progress records and compaction stats."""
    from mycenae_spark.maintenance import compact_keyspace
    from mycenae_spark.sources import bus
    from mycenae_spark.streaming.ingest import start_ingest

    with r.setup_step("file_leg"):
        job = start_ingest(r.spark, d["spool"], d["lake"], d["catalog"], d["ck_file"],
                           rollup_dir=d["rollup"])
        progress = _await(job, "file")
    with r.setup_step("bus_publish"):
        for p, lines in prep["segments"]:
            bus.publish(d["topic"], p, lines)
    with r.setup_step("bus_leg"):
        job = bus.start_bus_ingest(r.spark, d["topic"], d["lake"], d["catalog"], d["ck_bus"],
                                   rollup_dir=d["rollup"])
        progress += _await(job, "bus")
    with r.setup_step("compact"):
        stats = compact_keyspace(r.spark, d["lake"], KSID, min_files=2)
    return {
        "progress": progress,
        "files_before": sum(b for b, _ in stats.values()),
        "files_after": sum(a for _, a in stats.values()),
    }


def lake_files(lake: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under ``lake``, skipping the
    underscore-prefixed staging, commit and log dirs."""
    n = size = 0
    for base, dirs, files in os.walk(lake):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(base, f))
    return n, size


def check(r: Run, pts: list[dict], d: dict) -> None:
    """The ingest output checks (each counts as one op)."""
    import pyspark.sql.functions as F

    spark = r.spark
    sums: dict[str, float] = {}
    for p in pts:
        sums[p["metric"]] = sums.get(p["metric"], 0.0) + p["value"]
    n_series = len({(p["metric"], p["tags"]["host"]) for p in pts})
    lake = spark.read.parquet(d["lake"])
    n = lake.count()
    r.op(n == len(pts), "ingest:rows", f"{n} landed vs {len(pts)} written")
    cat = spark.read.parquet(d["catalog"]).count()
    r.op(cat == n_series, "ingest:catalog_series", f"{cat} vs {n_series}")
    raw = {row[0]: row[1] for row in lake.groupBy("metric").agg(F.sum("value")).collect()}
    roll = {row[0]: (row[1], row[2]) for row in spark.read.parquet(d["rollup"])
            .groupBy("metric").agg(F.sum("p_sum"), F.sum("p_count")).collect()}
    ok_sums = all(
        raw.get(m) is not None and math.isclose(raw[m], s, rel_tol=1e-9, abs_tol=1e-6)
        for m, s in sums.items())
    r.op(ok_sums, "ingest:metric_sums", f"lake {raw} vs generator {sums}")
    ok_roll = all(
        m in roll and math.isclose(roll[m][0], raw.get(m, math.nan), rel_tol=1e-9, abs_tol=1e-6)
        for m in sums)
    r.op(ok_roll, "ingest:rollup_sums", f"rollup {roll} vs lake {raw}")
    n_roll = sum(c for _s, c in roll.values())
    r.op(n_roll == n, "ingest:rollup_count", f"{n_roll} vs {n}")
