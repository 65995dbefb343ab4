"""``tsdb_serve``: closed loop, two client threads speaking HTTP to
``mycenae_spark.server.serve()`` on 127.0.0.1 (dashboard panels that each
wait for their reply).

Before set-up, the generator makes 100 series at 1-minute resolution over
6 hours, spools half of their points as jsonl files and cuts the other
half into bus segments.  Set-up lands them through the write path at
volume (perfbench/ingest.py: the file-spool stream, the message bus, a
compaction, with 1m rollup on), writes a checkpoint (log-gated reads, so
the result cache is on), cascades a 1h ladder rung, starts the server and
serves one warm-up cycle on one client.  The ingest output checks run in
between, untimed.

The op schedule is seeded and runs in cycles of one op of each kind, in
this order: a raw query with a host filter, a ``1m-avg``, a ``1h-avg``
over 1h-aligned hours (it routes onto the rung while the rung is
current), an expression query, a repeat of a recent query on a metric not
put since (a result-cache hit), a put of a few points to a random metric,
and ``refresh_ladder`` as its own op once that put has returned.  No
workload trace in the repository gives a mix, so every kind runs once per
cycle.  The four fresh queries are never sent twice in a run, so each is
a result-cache miss; the geometric mean over their kinds of each kind's
median latency is the headline, and the repeats' latency and hit share
are reported apart.  The loop runs for ``--seconds`` and then finishes
the cycle it is in.  Every response, cache hits included, is checked
afterwards against answers computed in Python from the points written,
puts included.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import threading
import time
import urllib.request

import numpy as np

from perfbench import ingest
from perfbench.common import Run, geomean, median, tail
from perfbench.datagen import BASE_MS, HOUR_MS, KSID, MINUTE_MS, SeriesSet

SIZES = {
    # metrics, hosts, minutes of data
    "full": (4, 25, 360),
    "tiny": (2, 4, 240),
}
CLIENTS = 2
#: One op of each kind per cycle; a refresh follows the put.
CYCLE = ("raw", "1m", "1h", "expr", "repeat", "put")
#: Fresh queries, each new to the server: result-cache misses.
MISSES = ("raw", "1m", "1h", "expr")
PUT_POINTS = 5


# ---------------------------------------------------------------------------
# schedule


class Schedule:
    """The seeded, endless op stream.  Every cycle runs its kinds in
    ``CYCLE`` order: with two clients, which ops overlap then depends on
    the seed only through the ops' latencies.  Ops carry an ``id``;
    an op with ``after`` starts once that op has returned (a refresh after
    its put, a repeat after the query it repeats).  Put points are added
    to ``series`` under the put's id."""

    def __init__(self, seed: int, series: SeriesSet, end_ms: int):
        self.rng = np.random.default_rng(seed + 7)
        self.series = series
        self.end_ms = end_ms
        self.minutes = (end_ms - BASE_MS) // MINUTE_MS
        self.issued: set[str] = set()
        self.recent: list[dict] = []  # cacheable fresh queries, newest last
        self._ops = self._generate()
        self._next = None
        self._lock = threading.Lock()
        self._done: dict[int, threading.Event] = {}

    def peek(self) -> dict:
        if self._next is None:
            self._next = next(self._ops)
        return self._next

    def take(self) -> dict:
        op, self._next = self.peek(), None
        return op

    def done(self, op_id: int) -> threading.Event:
        with self._lock:
            return self._done.setdefault(op_id, threading.Event())

    def _fresh(self, kind: str) -> dict:
        """A query of ``kind`` not issued before in this run."""
        rng, s, mins = self.rng, self.series, self.minutes
        for _ in range(1000):
            m = s.metrics[int(rng.integers(0, len(s.metrics)))]
            dc = f"dc{int(rng.integers(0, 2))}"
            if kind == "raw":
                hosts = sorted(rng.choice(s.hosts, 2, replace=False).tolist())
                t0 = BASE_MS + int(rng.integers(0, mins - 120)) * MINUTE_MS
                q = {"body": {"start": t0, "end": t0 + 2 * HOUR_MS, "queries": [{
                    "metric": m, "aggregator": "sum",
                    "filters": [{"tagk": "host", "type": "literal_or",
                                 "filter": "|".join(hosts), "groupBy": True}]}]}}
            elif kind == "1m":
                t0 = BASE_MS + int(rng.integers(0, mins - 180)) * MINUTE_MS
                q = {"body": {"start": t0, "end": t0 + 3 * HOUR_MS, "queries": [{
                    "metric": m, "aggregator": "sum", "downsample": "1m-avg",
                    "filters": [{"tagk": "dc", "type": "literal_or",
                                 "filter": dc, "groupBy": False}]}]}}
            elif kind == "1h":
                span = int(rng.integers(1, 4))
                h0 = BASE_MS + int(rng.integers(0, mins // 60 - span + 1)) * HOUR_MS
                f = ({"tagk": "dc", "type": "wildcard", "filter": "*", "groupBy": True}
                     if rng.random() < 0.5 else
                     {"tagk": "dc", "type": "literal_or", "filter": dc, "groupBy": True})
                q = {"body": {"start": h0, "end": h0 + span * HOUR_MS, "queries": [{
                    "metric": m, "aggregator": "sum", "downsample": "1h-avg",
                    "filters": [f]}]}}
            else:  # expr, over the last 1 to 4 hours
                start = self.end_ms - int(rng.integers(60, 241)) * MINUTE_MS
                q = {"metric": m, "dc": dc, "start": start, "exp": (
                    f"merge(sum, downsample(1h, max, query({m}, {{dc={dc}}}, {start})))")}
            key = json.dumps(q, sort_keys=True)
            if key not in self.issued:
                self.issued.add(key)
                return q
        raise RuntimeError(f"no new {kind} query left to draw")

    def _generate(self):
        rng, series = self.rng, self.series
        n = itertools.count()
        for cycle in itertools.count():
            kinds = list(CYCLE)
            kinds.insert(kinds.index("put") + 1, "refresh")
            put_id = None
            for kind in kinds:
                op = {"id": next(n), "kind": kind, "cycle": cycle}
                if kind == "repeat" and not self.recent:
                    op["kind"] = kind = "1h"  # nothing cacheable left
                if kind in MISSES:
                    op.update(self._fresh(kind))
                    if kind != "expr":
                        self.recent = (self.recent + [op])[-8:]
                elif kind == "repeat":
                    src = self.recent[int(rng.integers(0, len(self.recent)))]
                    op.update(body=src["body"], of=src["kind"], after=src["id"])
                elif kind == "put":
                    m = series.metrics[int(rng.integers(0, len(series.metrics)))]
                    pts = []
                    for _ in range(PUT_POINTS):
                        h = series.hosts[int(rng.integers(0, len(series.hosts)))]
                        ts = series.fresh_ts(m, h, BASE_MS, self.end_ms)
                        p = series.point(m, h, ts, float(np.round(rng.uniform(0, 100), 2)))
                        series.add(p, op["id"])
                        pts.append(p)
                    op["points"] = pts
                    put_id = op["id"]
                    # a put makes cached answers on its metric stale
                    self.recent = [o for o in self.recent
                                   if o["body"]["queries"][0]["metric"] != m]
                else:  # refresh
                    op["after"] = put_id
                yield op


# ---------------------------------------------------------------------------
# Python answers


def _agg_sum(parts: list[dict[int, float]]) -> dict[int, float]:
    out: dict[int, float] = {}
    for d in parts:
        for k, v in d.items():
            out[k] = out.get(k, 0.0) + v
    return out


def _bucket(pts: dict[int, float], iv: int, how: str) -> dict[int, float]:
    groups: dict[int, list[float]] = {}
    for ts, v in pts.items():
        groups.setdefault(ts - ts % iv, []).append(v)
    if how == "avg":
        return {b: sum(vs) / len(vs) for b, vs in groups.items()}
    return {b: max(vs) for b, vs in groups.items()}


def expected(series: SeriesSet, op: dict, visible: set[int]) -> dict:
    """Answer to ``op`` over base points plus the puts (by op id) in
    ``visible``, as {(tags, aggregateTags): {ts_s: value}}."""
    kind = op.get("of", op["kind"])

    def pts(metric, host, lo, hi):
        return {ts: v for ts, (v, put) in series.points[(metric, host)].items()
                if lo <= ts < hi and (put < 0 or put in visible)}

    if kind == "expr":
        m, lo, hi = op["metric"], op["start"], 1 << 62
        per = [_bucket(pts(m, h, lo, hi), HOUR_MS, "max")
               for h in series.hosts if series.dc_of(h) == op["dc"]]
        groups = {((), ("dc",)): _agg_sum(per)}
    else:
        body = op["body"]
        q = body["queries"][0]
        lo, hi, m = body["start"], body["end"], q["metric"]
        f = q["filters"][0]
        if kind == "raw":
            hosts = f["filter"].split("|")
            groups = {((("host", h),), ()): pts(m, h, lo, hi) for h in hosts}
        elif kind == "1m":
            per = [_bucket(pts(m, h, lo, hi), MINUTE_MS, "avg")
                   for h in series.hosts if series.dc_of(h) == f["filter"]]
            groups = {((), ("dc",)): _agg_sum(per)}
        else:  # 1h, grouped by dc
            groups = {}
            for dc in (("dc0", "dc1") if f["filter"] == "*" else (f["filter"],)):
                per = [_bucket(pts(m, h, lo, hi), HOUR_MS, "avg")
                       for h in series.hosts if series.dc_of(h) == dc]
                groups[((("dc", dc),), ())] = _agg_sum(per)
    return {k: {str(ts // 1000): v for ts, v in d.items()}
            for k, d in groups.items() if d}


def _normalize(resp: list) -> dict:
    return {
        (tuple(sorted(g["tags"].items())), tuple(g["aggregateTags"])): g["dps"]
        for g in resp
    }


def _same(a: dict, b: dict) -> bool:
    if a.keys() != b.keys():
        return False
    for k in a:
        da, db = a[k], b[k]
        if da.keys() != db.keys():
            return False
        for t in da:
            x, y = da[t], db[t]
            if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                return False
    return True


def check_response(series: SeriesSet, rec: dict, puts: list[dict]) -> tuple[bool, str]:
    """A query's answer must equal the Python answer over every put that
    returned before it was sent, plus any subset of the puts that
    overlapped it in time."""
    sure = {p["put"] for p in puts if p["t1"] < rec["t0"]}
    maybe = [p["put"] for p in puts if p["t0"] < rec["t1"] and p["t1"] >= rec["t0"]]
    got = _normalize(rec["resp"])
    for k in range(len(maybe) + 1):
        for extra in itertools.combinations(maybe, k):
            if _same(got, expected(series, rec["op"], sure | set(extra))):
                return True, ""
    want = expected(series, rec["op"], sure)
    return False, (f"{rec['op']['kind']}: {sum(len(d) for d in got.values())} dps vs "
                   f"{sum(len(d) for d in want.values())} expected; groups "
                   f"{sorted(got)[:3]} vs {sorted(want)[:3]}")


# ---------------------------------------------------------------------------
# set-up and serving


class Served:
    """One lake, its schedule and its server."""

    def __init__(self, r: Run):
        """The generator side, before set-up: series, points, spool files,
        bus segments and the op schedule."""
        n_metrics, n_hosts, minutes = SIZES[r.size]
        self.series = SeriesSet(n_metrics, n_hosts, r.seed)
        self.end_ms = BASE_MS + minutes * MINUTE_MS
        root = r.fresh_dir("serve")
        self.dirs = {k: os.path.join(root, k) for k in
                     ("spool", "topic", "lake", "catalog", "rollup", "rollup_1h",
                      "ck_file", "ck_bus")}
        self.points = self.series.grid(BASE_MS, minutes)
        for p in self.points:
            self.series.add(p)
        self.prep = ingest.spool(self.series, self.points, self.dirs)
        self.ladder = {HOUR_MS: self.dirs["rollup_1h"]}
        self.schedule = Schedule(r.seed, self.series, self.end_ms)
        self.httpd = None
        #: puts that succeeded so far: {"put", "t0", "t1"}
        self.done_puts: list[dict] = []

    def build(self, r: Run) -> None:
        """Set-up: the lake (checked, untimed), a checkpoint, the 1h rung
        and the server."""
        from mycenae_spark.server import serve
        from mycenae_spark.streaming import snapshot
        from mycenae_spark.streaming.rollup import refresh_ladder

        d = self.dirs
        self.load = ingest.bulk_load(r, self.prep, d)
        ingest.check(r, self.points, d)
        with r.setup_step("checkpoint"):
            snapshot.write_checkpoint(d["lake"], d["catalog"], rollup_dir=d["rollup"])
        with r.setup_step("cascade"):
            refresh_ladder(r.spark, d["lake"], d["rollup"], self.ladder)
        with r.setup_step("server_start"):
            self.httpd, self.thread = serve(
                r.spark, d["lake"], d["catalog"], rollup_dir=d["rollup"],
                ladder=self.ladder)
        self.url = f"http://127.0.0.1:{self.httpd.server_address[1]}"

    def stop(self) -> None:
        if self.httpd is not None:
            self.httpd.shutdown()
            self.httpd.server_close()
            self.thread.join(timeout=30)
            self.httpd = None

    # -- one op ----------------------------------------------------------

    def _http(self, method: str, path: str, body=None):
        data = None if body is None else json.dumps(body).encode()
        req = urllib.request.Request(self.url + path, data=data, method=method,
                                     headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=150) as resp:
            return json.loads(resp.read())

    def do(self, r: Run, op: dict):
        kind = op["kind"]
        if kind == "put":
            return self._http("POST", "/api/put", op["points"])
        if kind == "refresh":
            from mycenae_spark.streaming.rollup import refresh_ladder

            return refresh_ladder(r.spark, self.dirs["lake"], self.dirs["rollup"], self.ladder)
        if kind == "expr":
            from urllib.parse import quote

            return self._http("GET", f"/keysets/{KSID}/api/query/expression?exp={quote(op['exp'])}")
        return self._http("POST", f"/keysets/{KSID}/api/query", op["body"])


class RouteLog:
    """Collects ``Engine.last_routes()`` from inside each handler thread
    (a light wrapper kept on in untraced runs: the route classes are an
    output check)."""

    def __init__(self):
        self.routes: list[str] = []
        self.lock = threading.Lock()
        self._orig = None

    def install(self):
        from mycenae_spark.server import Engine

        orig = self._orig = Engine.query
        log = self

        def query(engine, body):
            try:
                return orig(engine, body)
            finally:
                routes = engine.last_routes()
                with log.lock:
                    log.routes.extend(routes)

        Engine.query = query

    def uninstall(self):
        from mycenae_spark.server import Engine

        if self._orig is not None:
            Engine.query = self._orig
            self._orig = None

    def mark(self) -> int:
        with self.lock:
            return len(self.routes)

    def counts(self, since: int = 0) -> dict[str, int]:
        """Route classes served since ``mark()`` returned ``since``."""
        with self.lock:
            rs = self.routes[since:]
        return {
            "cache": sum(r == "cache" for r in rs),
            "fine": sum(r == "fine" for r in rs),
            "ladder": sum(r.startswith("ladder:") for r in rs),
            "subqueries": len(rs),
        }


def _drive(r: Run, srv: Served, seconds: float | None = None,
           clients: int = CLIENTS) -> tuple[list, float]:
    """Run the closed loop over ``srv.schedule``: for ``seconds`` and then
    to the end of the cycle in progress, or for one cycle when ``seconds``
    is None.  Returns op records and the wall time."""
    sched = srv.schedule
    lock = threading.Lock()
    records: list[dict] = []
    errors: list[BaseException] = []
    deadline = time.perf_counter() + (seconds or 0)
    cycle = [None]

    def next_op():
        """The next op, or None at a cycle end once the segment is over."""
        with lock:
            op = sched.peek()
            if op["cycle"] != cycle[0]:
                if cycle[0] is not None and (
                        seconds is None or time.perf_counter() >= deadline):
                    return None
                cycle[0] = op["cycle"]
            return sched.take()

    def client():
        try:
            while True:
                op = next_op()
                if op is None:
                    return
                if op.get("after") is not None:
                    sched.done(op["after"]).wait(timeout=300)
                rec = {"op": op, "t0": time.perf_counter()}
                try:
                    rec["resp"] = srv.do(r, op)
                    rec["ok"] = True
                except Exception as exc:  # noqa: BLE001 — a failed op
                    rec["resp"], rec["ok"] = repr(exc), False
                rec["t1"] = time.perf_counter()
                sched.done(op["id"]).set()
                with lock:
                    records.append(rec)
        except BaseException as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)
            raise

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=min(seconds or 0, 600) + 600)
    if any(t.is_alive() for t in threads) or errors:
        raise RuntimeError(f"client threads failed: {errors!r}")
    return records, time.perf_counter() - t0


def _check_all(r: Run, srv: Served, records: list[dict]) -> None:
    """Verify every op record (untimed, after the loop).  Puts from earlier
    segments stay in ``srv.done_puts``: a later answer must include them."""
    for rec in records:
        if rec["op"]["kind"] == "put" and rec["ok"]:
            srv.done_puts.append({"put": rec["op"]["id"], "t0": rec["t0"], "t1": rec["t1"]})
    for rec in records:
        op = rec["op"]
        if not rec["ok"]:
            r.op(False, f"serve:{op['kind']}", rec["resp"])
        elif op["kind"] == "put":
            n = len(op["points"])
            r.op(rec["resp"] == {"success": n, "failed": 0}, "serve:put", rec["resp"])
        elif op["kind"] == "refresh":
            r.op(isinstance(rec["resp"], dict), "serve:refresh", rec["resp"])
        else:
            ok, msg = check_response(srv.series, rec, srv.done_puts)
            r.op(ok, f"serve:{op['kind']}", msg)


def generate(r: Run) -> None:
    n_metrics, n_hosts, minutes = SIZES[r.size]
    r.params.update({"series": n_metrics * n_hosts, "minutes": minutes,
                     "clients": CLIENTS, "cycle": list(CYCLE) + ["refresh"],
                     "put_points": PUT_POINTS, "late_share": ingest.LATE_SHARE,
                     "bus_partitions": ingest.BUS_PARTITIONS})
    r.state["srv"] = Served(r)


def main(r: Run) -> None:
    srv = r.state["srv"]
    routes = r.state["routes"] = RouteLog()
    routes.install()
    srv.build(r)
    # the warm-up cycle, one client, in CYCLE order on a fresh cache and a
    # current rung: every route class (fine, ladder, cache) is served once
    with r.setup_step("warmup_cycle"):
        warm, _ = _drive(r, srv, clients=1)
    _check_all(r, srv, warm)
    r.settle()

    mark = routes.mark()
    records, measured = _drive(r, srv, r.seconds)
    _check_all(r, srv, records)
    rc = routes.counts(mark)
    seg = summarize(records, measured)
    r.metric("op_geomean_ms", seg["miss_ms"], "ms")
    r.metric("throughput_per_s", seg["throughput_per_s"], "1/s")
    total = routes.counts()
    r.check(total["cache"] > 0 and total["fine"] > 0 and total["ladder"] > 0,
            "serve:route_classes", f"routes over the run {total}")
    steps = r.setup_steps
    r.detail.update({
        "op": "one fresh /api/query or expression request, a result-cache miss "
              "(p50 per kind, geometric mean over kinds); throughput counts every op",
        "points": len(srv.points),
        "ingest_points_per_s": srv.prep["file_points"] / steps["file_leg"],
        "bus_points_per_s": srv.prep["bus_points"] / steps["bus_leg"],
        "bus_publish_s": steps["bus_publish"],
        "compact_s": steps["compact"],
        "cycles": len({rec["op"]["cycle"] for rec in records}),
        "serve_query_miss_ms": seg["miss_ms"],
        "serve_query_miss_p50_ms": median(seg["misses"]),
        "serve_query_miss_tail": tail(seg["misses"]),
        "serve_repeat_p50_ms": median(seg["lat"]["repeat"]) if seg["lat"].get("repeat") else None,
        "serve_put_p50_ms": median(seg["lat"]["put"]) if seg["lat"].get("put") else None,
        "serve_refresh_ms": seg["lat"].get("refresh", []),
        "serve_ops_per_s": seg["throughput_per_s"],
        "per_kind_p50_ms": {k: median(v) for k, v in seg["lat"].items()},
        "per_kind_n": {k: len(v) for k, v in seg["lat"].items()},
        "routes": rc,
        "cache_hit_ratio": rc["cache"] / rc["subqueries"] if rc["subqueries"] else None,
    })


def summarize(records: list[dict], measured: float) -> dict:
    """Latencies by op kind, the misses' latency and throughput of one
    segment.

    The misses' latency is the geometric mean over the fresh-query kinds
    of each kind's median.  Each kind runs once per cycle, so every kind
    weighs the same; the kinds' latencies form separate clusters (an
    expression query takes about half as long as a ``1h`` one), and a
    median pooled over them falls in a gap between clusters and jumps from
    run to run."""
    lat: dict[str, list[float]] = {}
    for rec in records:
        lat.setdefault(rec["op"]["kind"], []).append(1000 * (rec["t1"] - rec["t0"]))
    misses = [v for k in MISSES for v in lat.get(k, [])]
    kinds = [median(lat[k]) for k in MISSES if lat.get(k)]
    return {"lat": lat, "misses": misses, "miss_ms": geomean(kinds),
            "throughput_per_s": len(records) / measured}


def traced(r: Run, tracer) -> dict:
    """A traced segment of ``--seconds`` continuing the op schedule, then an
    untraced one of the same length; returns layer numbers (self times per
    call for ``*_ms``) and the traced segment's wall-clock window."""
    import mycenae_spark.server as server
    import mycenae_spark.streaming.commitlog as commitlog
    import mycenae_spark.streaming.ingest as ingest
    import mycenae_spark.streaming.rollup as rollup
    import mycenae_spark.streaming.snapshot as snapshot

    srv, routes = r.state["srv"], r.state["routes"]
    for name, layer in (("plan", "plans.plan"), ("parse_query_request", "api.parse"),
                        ("render_json", "api.render"),
                        ("prepare_points", "ingest.prepare"),
                        ("parse_expression", "plans.expression")):
        tracer.wrap(server, name, layer)
    shape = server.shape_response

    def shape_response(result, *a, **kw):
        # planning is lazy and cached on the query execution: forcing it
        # here moves it out of the collect without adding work
        with tracer.span("api.shape"):
            with tracer.span("spark.plan"):
                result._jdf.queryExecution().executedPlan()
            return shape(result, *a, **kw)

    tracer.patch(server, "shape_response", shape_response)
    tracer.wrap(snapshot, "resolve", "snapshot.resolve")
    tracer.wrap(commitlog, "entries", "commitlog.scan")
    tracer.wrap(ingest, "write_points_batch", "ingest.write_batch")
    tracer.wrap(rollup, "write_rollup_batch", "rollup.write")
    tracer.wrap(rollup, "refresh_ladder", "rollup.refresh")
    tracer.wrap(type(r.spark.range(1)), "collect", "spark.execute")
    for meth in ("query", "query_expression", "put"):
        tracer.wrap(server.Engine, meth, f"engine.{meth}")
    mark = routes.mark()
    t0 = time.time()
    try:
        records, measured = _drive(r, srv, r.seconds)
    finally:
        tracer.restore()
    window = (int(t0 * 1000), int(time.time() * 1000))
    rc = routes.counts(mark)
    # an untraced segment after the traced one: passes still speed up as
    # the JIT warms, so the overhead compares with both neighbours
    after, after_s = _drive(r, srv, r.seconds)
    srv.stop()
    routes.uninstall()
    _check_all(r, srv, records + after)
    lay = tracer.layers()
    seg = summarize(records, measured)
    untraced = (r.metrics["op_geomean_ms"]["value"] + summarize(after, after_s)["miss_ms"]) / 2
    qrecs = [x for x in records if x["op"]["kind"] not in ("put", "refresh")]
    client_ms = sum(1000 * (x["t1"] - x["t0"]) for x in qrecs)
    engine_ms = 1000 * (lay.get("engine.query", {}).get("total_s", 0.0)
                        + lay.get("engine.query_expression", {}).get("total_s", 0.0))

    def mean_ms(name):
        """Mean self time per call."""
        d = lay.get(name)
        return 1000 * d["self_s"] / d["calls"] if d else 0.0

    lake = srv.dirs["lake"]
    head = commitlog.latest_seq(lake)
    oldest = commitlog.oldest_seq(lake) or head
    out = {
        "server.http_ms": (client_ms - engine_ms) / len(qrecs) if qrecs else 0.0,
        "api.parse_ms": mean_ms("api.parse"),
        "api.shape_ms": mean_ms("api.shape"),
        "plans.plan_ms": mean_ms("plans.plan"),
        "plans.expression_ms": mean_ms("plans.expression"),
        "cache.hit_ratio": rc["cache"] / rc["subqueries"] if rc["subqueries"] else 0.0,
        "cache.subqueries": rc["subqueries"],
        "route.cache": rc["cache"],
        "route.fine": rc["fine"],
        "route.ladder": rc["ladder"],
        "snapshot.resolve_ms": mean_ms("snapshot.resolve"),
        "snapshot.resolve_calls": lay.get("snapshot.resolve", {}).get("calls", 0),
        "commitlog.scan_ms": mean_ms("commitlog.scan"),
        "commitlog.length": head - oldest + 1,
        "ingest.write_batch_ms": mean_ms("ingest.write_batch"),
        "ingest.write_batches": lay.get("ingest.write_batch", {}).get("calls", 0),
        "rollup.write_ms": mean_ms("rollup.write"),
        "rollup.refresh_s": lay.get("rollup.refresh", {}).get("self_s", 0.0),
        "rollup.cascade_s": r.setup_steps["cascade"],
        "spark.plan_s": lay.get("spark.plan", {}).get("self_s", 0.0),
        "ops.samples": len(records),
        "trace.overhead_pct": 100 * (seg["miss_ms"] - untraced) / untraced,
        "_self": {k: v["self_s"] for k, v in lay.items()},
        "_window": window,
    }
    out.update(_setup_layers(r, srv))
    return out


def _setup_layers(r: Run, srv: Served) -> dict:
    """Write-path layers of the set-up's bulk load: Spark's own progress
    records per micro-batch, the bus and the compaction stats."""
    load = srv.load
    prog = load["progress"]

    def mean(key):
        return float(np.mean([p.get("durationMs", {}).get(key, 0) for p in prog]))

    files, size = ingest.lake_files(srv.dirs["lake"])
    return {
        "stream.batches": len(prog),
        "stream.add_batch_ms": mean("addBatch"),
        "stream.trigger_ms": mean("triggerExecution"),
        "stream.wal_commit_ms": mean("walCommit"),
        "stream.rows_per_batch": float(np.mean([p.get("numInputRows", 0) for p in prog])),
        "bus.publish_s": r.setup_steps["bus_publish"],
        "bus.batches": sum(p["leg"] == "bus" for p in prog),
        "maintenance.files_before": load["files_before"],
        "maintenance.files_after": load["files_after"],
        "lake.files": files,
        "lake.bytes_per_point": size / len(srv.points),
    }


def finish(r: Run) -> None:
    srv = r.state.get("srv")
    if srv is not None:
        srv.stop()
    routes = r.state.get("routes")
    if routes is not None:
        routes.uninstall()
