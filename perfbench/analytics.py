"""``analytics_batch``: closed loop, one client, passes over registry ids.

Each op builds one registry query (``QUERIES[id](spark, data_dir)``) and
runs ``.count()`` on it.  The seed makes the tables and permutes the id
order; they are written, with an empty index root, before set-up starts.
Set-up is the program's cold pass, which collects every id, and one warm
pass; between them the collected rows are checked against each id's
DuckDB oracle, untimed.  The measured loop runs whole passes in that
order for ``--seconds``.
"""

from __future__ import annotations

import contextlib
import math
import os
import time

import numpy as np

from perfbench import datagen
from perfbench.common import Run, geomean, median, tail

#: Ids whose construction launches eager Spark jobs.
CONSTRUCTION_BOUND = ("dedup_jaccard_prefix_clusters",)
#: Ids dominated by kernel execution.
EXECUTION_BOUND = ("dedup_simhash_pairs64",)
#: Thin TSDB/relational ids: per-query construction has a fixed cost.
THIN = (
    "downsample_avg_1m",
    "rate",
    "join_asof",
    "window_holtwinters",
    "agg_grouped",
    "series_gaps",
    "events_funnel",
    "points_last",
    "tsdb_pipeline_expression",
)
IDS = CONSTRUCTION_BOUND + EXECUTION_BOUND + THIN
#: The measured loop runs at least this many passes.
MIN_PASSES = 2



def _canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Order-insensitive, column-name-sorted rows with floats quantized
    (the registry's oracle comparison)."""
    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return round(v, 9) + 0.0
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return v

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def _oracle_check(r: Run, data: str, got: dict) -> None:
    import duckdb

    from mycenae_spark.registry import ORACLE
    from mycenae_spark.sources.tables import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for qid, (cols, rows) in got.items():
            if qid not in ORACLE:
                r.op(bool(cols), f"rows:{qid}", f"{len(rows)} rows")
                continue
            rel = con.sql(ORACLE[qid])
            d_cols, d_rows = rel.columns, rel.fetchall()
            ok = sorted(cols) == sorted(d_cols) and len(rows) == len(d_rows)
            msg = f"{len(rows)} rows vs oracle {len(d_rows)}"
            if ok:
                a, b = _canonical(cols, rows), _canonical(d_cols, d_rows)
                bad = [(x, y) for x, y in zip(a, b) if x != y]
                ok = not bad
                msg = f"{len(bad)} row mismatches; first {bad[:2]}" if bad else msg
            r.op(ok, f"oracle:{qid}", msg)
    finally:
        con.close()


def _op(r: Run, qid: str, data: str, expect: dict, tracer=None) -> tuple:
    """One op; returns (construct_s, op_s, construct_jobs).

    A traced op also puts construction and execution in job groups of
    their own and forces planning before the count: planning is lazy and
    cached on the query execution, so that moves it out of the count
    without adding work."""
    from mycenae_spark.registry import QUERIES

    sc = r.spark.sparkContext

    def span(name):
        return tracer.span(name) if tracer is not None else contextlib.nullcontext()

    if tracer is not None:
        sc.setJobGroup(f"construct:{qid}", qid)
    t0 = time.perf_counter()
    with span("registry.construct"):
        df = QUERIES[qid](r.spark, data)
    t1 = time.perf_counter()
    jobs = 0
    if tracer is not None:
        jobs = len(sc.statusTracker().getJobIdsForGroup(f"construct:{qid}"))
        sc.setJobGroup(f"execute:{qid}", qid)
        with span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
    with span("spark.execute"):
        n = df.count()
    out = (t1 - t0, time.perf_counter() - t0, jobs)
    if tracer is not None:
        sc.setJobGroup("", "")
    r.op(n == expect[qid], f"count:{qid}", f"{n} rows, checked {expect[qid]}")
    return out


def _pass(r: Run, order: list[str], data: str, expect: dict, tracer=None) -> dict:
    """One pass over ``order``: {id: (construct_s, op_s, construct_jobs)}."""
    return {qid: _op(r, qid, data, expect, tracer) for qid in order}


def generate(r: Run) -> None:
    """The inputs: seeded tables and id order, and an empty index root."""
    rng = np.random.default_rng(r.seed)
    order = [IDS[i] for i in rng.permutation(len(IDS))]
    data = r.fresh_dir("data")
    datagen.write_tables(data, r.seed, r.size)
    os.environ["MYCENAE_INDEX_ROOT"] = r.fresh_dir("index")
    r.params.update({"ids": list(IDS), "order": order,
                     "tables": datagen.TABLE_ROWS[r.size]})
    r.state.update({"order": order, "data": data})


def main(r: Run) -> None:
    from mycenae_spark.registry import QUERIES

    order, data = r.state["order"], r.state["data"]
    # set-up: the cold pass, collecting every id for the oracle check,
    # then one warm pass (passes speed up by ~15 % from the first warm
    # pass to the next as the JIT compiles)
    got = {}
    with r.setup_step("cold_pass"):
        for qid in order:
            df = QUERIES[qid](r.spark, data)
            got[qid] = (df.columns, [tuple(x) for x in df.collect()])
    _oracle_check(r, data, got)
    expect = {qid: len(rows) for qid, (_c, rows) in got.items()}
    with r.setup_step("warm_pass"):
        _pass(r, order, data, expect)
    r.settle()

    # whole passes, so every id weighs the same in both metrics; the loop
    # stops at the first pass boundary after --seconds, but never before
    # the second pass, so that there is a best of two
    passes = []
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < r.seconds:
        passes.append(_pass(r, order, data, expect))
    measured = time.perf_counter() - t_start

    op_ms = [1000 * op for ps in passes for (_c, op, _j) in ps.values()]
    pass_s = [sum(op for (_c, op, _j) in ps.values()) for ps in passes]
    # best of the passes: other tenants of a shared host only ever add
    # time, in spells of seconds to minutes; every id weighs the same in
    # the geometric mean, where a median pooled over the ops would be the
    # latency of whichever id sits in the middle
    best_ms = {q: 1000 * min(ps[q][1] for ps in passes) for q in order}
    r.metric("op_geomean_ms", geomean(list(best_ms.values())), "ms")
    r.metric("throughput_per_s", len(order) / min(pass_s), "1/s")
    r.detail.update({
        "op": "one registry id: construct + count",
        "op_samples": len(op_ms),
        "op_p50_ms": median(op_ms),
        "ops_per_s": len(op_ms) / measured,
        "op_tail": tail(op_ms),
        "passes": len(passes),
        "pass_s": pass_s,
        "batch_pass_s": median(pass_s),
        "batch_tsdb_s": median([sum(ps[q][1] for q in THIN) for ps in passes]),
        "construct_s_per_pass": median(
            [sum(v[0] for v in ps.values()) for ps in passes]),
        "per_id_ms": {q: [round(1000 * ps[q][1], 1) for ps in passes] for q in order},
    })
    r.state["expect"] = expect


def traced(r: Run, tracer) -> dict:
    """One traced pass between two untraced ones (the overhead compares it
    with their mean, since passes still speed up as the JIT warms);
    returns layer numbers as self times and the traced pass's wall-clock
    window (the caller adds Spark event-log counts over it)."""
    import mycenae_spark.registry.util as util
    import mycenae_spark.sources.tables as tables

    st = r.state
    def pass_s(res):
        return sum(op for (_c, op, _j) in res.values())

    before = pass_s(_pass(r, st["order"], st["data"], st["expect"]))
    tracer.wrap(util, "load_table", "sources.load_table")
    tracer.wrap(tables, "load_table", "sources.load_table")
    t0 = time.time()
    try:
        res = _pass(r, st["order"], st["data"], st["expect"], tracer)
    finally:
        tracer.restore()
    window = (int(t0 * 1000), int(time.time() * 1000))
    after = pass_s(_pass(r, st["order"], st["data"], st["expect"]))
    untraced = (before + after) / 2
    lay = tracer.layers()

    def self_s(name):
        return lay.get(name, {}).get("self_s", 0.0)

    return {
        "registry.construct_s": self_s("registry.construct"),
        "registry.construct_jobs": sum(v[2] for v in res.values()),
        "sources.load_table_calls": lay.get("sources.load_table", {}).get("calls", 0),
        "sources.load_table_s": self_s("sources.load_table"),
        "spark.plan_s": self_s("spark.plan"),
        "spark.execute_s": self_s("spark.execute"),
        "trace.overhead_pct": 100 * (pass_s(res) - untraced) / untraced,
        "ops.samples": len(res),
        "_self": {k: v["self_s"] for k, v in lay.items()},
        "_window": window,
    }
