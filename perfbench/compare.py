"""Compare two sets of benchmark records (the JSON files run.py writes under
``.perfbench/records/``), per workload and metric, by median.

    python3 perfbench/compare.py <base record or dir> <change record or dir>

Records taken on different hosts are not comparable: the tool refuses when
any two records disagree on their host stamp (core count, memory, machine).
Traced records (``-t1``) in the change set also give the tracing overhead:
the traced operation median minus the untraced one.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


class HostMismatch(ValueError):
    pass


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "*-t[01].json"))) if os.path.isdir(p) else [p]
        for f in files:
            with open(f) as fh:
                out.append(json.load(fh))
    return out


def compare(base: list[dict], change: list[dict]) -> dict:
    """{workload: {metric: (base median, change median, change/base)}};
    raises HostMismatch unless every record carries the same host stamp."""
    hosts = {json.dumps(r["stamp"]["host"], sort_keys=True) for r in base + change}
    if len(hosts) > 1:
        raise HostMismatch(f"records come from {len(hosts)} different hosts: {sorted(hosts)}")
    base = [r for r in base if not r.get("trace")]
    change = [r for r in change if not r.get("trace")]
    out: dict[str, dict] = {}
    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in change}):
        rows = {}
        for m in next(r for r in base if r["workload"] == wl)["metrics"]:
            a = [r["metrics"][m] for r in base if r["workload"] == wl]
            b = [r["metrics"][m] for r in change if r["workload"] == wl]
            ma, mb = statistics.median(a), statistics.median(b)
            rows[m] = (ma, mb, mb / ma if ma else float("nan"))
        out[wl] = rows
    return out


def tracing_overhead(records: list[dict]) -> dict[str, float]:
    """{workload: traced op_p50 median - untraced op_p50 median, in s}."""
    out = {}
    for wl in sorted({r["workload"] for r in records}):
        traced = [r["per_layer"]["trace.op_p50_s"] for r in records
                  if r["workload"] == wl and r.get("trace")]
        plain = [r["metrics"]["op_p50_s"] for r in records
                 if r["workload"] == wl and not r.get("trace")]
        if traced and plain:
            out[wl] = statistics.median(traced) - statistics.median(plain)
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    try:
        result = compare(load([argv[0]]), load([argv[1]]))
    except HostMismatch as e:
        print(f"refused: {e}", file=sys.stderr)
        return 3
    for wl, rows in result.items():
        for m, (a, b, ratio) in rows.items():
            print(f"{wl:18s} {m:18s} {a:14.4f} {b:14.4f} {ratio:8.3f}")
    for wl, dt in tracing_overhead(load([argv[1]])).items():
        print(f"{wl:18s} tracing overhead   {dt:+.4f} s per operation")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
