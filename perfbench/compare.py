"""Compare two sets of benchmark records, refusing mismatched hosts.

    python3 perfbench/compare.py --base a1.out a2.out ... --head b1.out b2.out ...

Each file is a run's captured stdout.  All records must share the
workload, trace mode, size, run length and host fingerprint (usable cores,
CPU model, memory, ``local[N]``, shuffle partitions); otherwise the
comparison is refused with exit code 3.  For each metric it prints both
sides' median and quartiles and the change of the medians.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def _load(path: str) -> dict:
    """A run's captured stdout: the record line, then the result line."""
    rec: dict = {}
    with open(path) as f:
        for line in f:
            if line.startswith("{"):
                rec.update(json.loads(line))
    return rec


def fingerprint(rec: dict) -> dict:
    p = rec["perfbench_record"]
    return {
        "host": p["host"],
        "master": p["master"],
        "shuffle_partitions": p["shuffle_partitions"],
        "workload": p["workload"],
        "trace": p["trace"],
        "size": p["size"],
        "seconds": p["seconds"],
    }


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--head", nargs="+", required=True)
    args = ap.parse_args(argv)
    base = [_load(p) for p in args.base]
    head = [_load(p) for p in args.head]
    prints = {json.dumps(fingerprint(r), sort_keys=True) for r in base + head}
    if len(prints) != 1:
        print("refused: records come from different hosts or settings:", file=sys.stderr)
        for fp in sorted(prints):
            print("  " + fp, file=sys.stderr)
        return 3
    names = sorted(set().union(*(r["metrics"] for r in base + head)))
    print(f"{'metric':34} {'unit':6} {'base median [q1, q3]':>30} "
          f"{'head median [q1, q3]':>30} {'change':>8}")
    for name in names:
        b = [r["metrics"][name]["value"] for r in base if name in r["metrics"]]
        h = [r["metrics"][name]["value"] for r in head if name in r["metrics"]]
        if not b or not h:
            continue
        unit = (base + head)[0]["metrics"].get(name, {}).get("unit", "")
        bq, hq = _quartiles(b), _quartiles(h)
        change = (hq[1] - bq[1]) / bq[1] * 100 if bq[1] else float("nan")
        print(f"{name:34} {unit:6} {bq[1]:>12.4g} [{bq[0]:.4g}, {bq[2]:.4g}]"
              f" {hq[1]:>12.4g} [{hq[0]:.4g}, {hq[2]:.4g}] {change:>7.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main())
