"""Seeded input generators.  The program sees only what these write.

* :func:`write_tables` — the ten registry tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) as single-row-group parquet
  files with the schemas the registry reads, at a chosen size;
* :class:`SeriesSet` — TSDB series and their points for the serving and
  ingest workloads, kept in memory so answers can be computed in Python.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Table sizes by ``--size``.  ``full`` matches the registry's oracle scale
#: (sf0.01 row counts); ``tiny`` is for the smoke tests.
TABLE_ROWS = {
    "full": {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000, "events": 10000,
             "documents": 500, "embeddings": 500, "users": 150},
    "tiny": {"customer": 150, "supplier": 10, "part": 200,
             "orders": 1500, "lineitem": 6000, "events": 1000,
             "documents": 200, "embeddings": 200, "users": 15},
}

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "order stream group filter vector"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("red", "blue", "green", "black", "white", "small", "large", "steel")
NOUNS = ("ring", "widget", "bolt", "gear", "pipe", "valve", "spring", "plate")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_EPOCH = dt.datetime(1970, 1, 1)
_US_PER_DAY = 86_400_000_000


def _days_us(start: dt.datetime, days: np.ndarray) -> np.ndarray:
    base = int((start - _EPOCH).total_seconds()) * 1_000_000
    return base + days.astype(np.int64) * _US_PER_DAY


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, size: str = "full") -> None:
    """Write the ten tables under ``out_dir``."""
    n = TABLE_ROWS[size]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ts_us = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [
            f"{COLORS[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    odays = rng.integers(0, 2404, no)  # 1995-01-01 … 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array(_days_us(dt.datetime(1995, 1, 1), odays), ts_us),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    lorder = rng.integers(0, no, nl)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            _days_us(dt.datetime(1995, 1, 1), odays[lorder] + rng.integers(1, 122, nl)),
            ts_us,
        ),
    })

    ne = n["events"]
    span_us = 30 * _US_PER_DAY
    offs = np.sort(rng.integers(0, span_us, ne))
    base_us = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    _write(out_dir, "events", {
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(base_us + offs, ts_us),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.maximum(0.01, np.round(rng.lognormal(3.0, 1.0, ne), 2)).clip(max=490.0),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.08:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# ---------------------------------------------------------------------------
# TSDB points

#: 2024-01-01T00:00:00Z in ms: every generated series starts here.
BASE_MS = 1704067200000
MINUTE_MS = 60_000
HOUR_MS = 3_600_000
KSID = "bench"


class SeriesSet:
    """Series ``metric{host, dc}`` with points kept in memory.

    ``points[(metric, host)]`` maps ts_ms → (value, put): ``put`` is -1 for
    points of the initial load and the put op's id for points sent by a
    put, so Python answers can include exactly the puts a response may
    have seen."""

    def __init__(self, n_metrics: int, n_hosts: int, seed: int):
        self.metrics = [f"bench.m{i}" for i in range(n_metrics)]
        self.hosts = [f"h{i:02d}" for i in range(n_hosts)]
        self.rng = np.random.default_rng(seed)
        self.points: dict[tuple[str, str], dict[int, tuple[float, int]]] = {
            (m, h): {} for m in self.metrics for h in self.hosts
        }

    @staticmethod
    def dc_of(host: str) -> str:
        return f"dc{int(host[1:]) % 2}"

    def point(self, metric: str, host: str, ts_ms: int, value: float) -> dict:
        return {
            "metric": metric,
            "timestamp": ts_ms,
            "value": value,
            "tags": {"ksid": KSID, "host": host, "dc": self.dc_of(host)},
        }

    def add(self, p: dict, put: int = -1) -> None:
        self.points[(p["metric"], p["tags"]["host"])][p["timestamp"]] = (p["value"], put)

    def grid(self, start_ms: int, minutes: int) -> list[dict]:
        """One point per series per minute over ``minutes`` from
        ``start_ms``, seeded values with two decimals."""
        out = []
        vals = np.round(self.rng.uniform(0, 100, (len(self.points), minutes)), 2)
        for k, (m, h) in enumerate(self.points):
            for j in range(minutes):
                out.append(self.point(m, h, start_ms + j * MINUTE_MS, float(vals[k, j])))
        return out

    def fresh_ts(self, metric: str, host: str, lo_ms: int, hi_ms: int) -> int:
        """A whole-second timestamp in [lo, hi) not yet used by the series."""
        used = self.points[(metric, host)]
        while True:
            ts = int(self.rng.integers(lo_ms // 1000, hi_ms // 1000)) * 1000
            if ts not in used:
                return ts

    def shuffled_out_of_order(self, pts: list[dict], share: float,
                              max_delay: int = 5000) -> list[dict]:
        """``pts`` in time order, with ``share`` of them delivered late: each
        moved back by up to ``max_delay`` positions."""
        pts = sorted(pts, key=lambda p: p["timestamp"])
        keys = np.arange(len(pts), dtype=np.int64)
        n_late = int(len(pts) * share)
        if n_late:
            late = self.rng.choice(len(pts), n_late, replace=False)
            keys[late] += self.rng.integers(1, max_delay + 1, n_late)
        return [pts[i] for i in np.argsort(keys, kind="stable")]
