"""Summarise benchmark records, or compare two sets of them.

    python3 perfbench/compare.py .perfbench/records/lake_and_stream-*-trace0-*.json
    python3 perfbench/compare.py HEAD_RECORDS... --base BASE_RECORDS...

For every workload and end-to-end metric it prints the median, the
quartile spread (``(q3 - q1) / median``, as ``statistics.quantiles(n=4)``
gives the quartiles) and, with ``--base``, the change of the median
against the base set and whether it stays within the metric's bound in
``BENCHMARK.json``. Records taken at different core counts are refused:
their timings are not comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths: list[str]) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = defaultdict(list)
    for p in paths:
        with open(p) as f:
            rec = json.load(f)
        if rec["trace"] == 0:
            by_workload[rec["workload"]].append(rec)
    return by_workload


def summary(values: list[float]) -> tuple[float, float]:
    """(median, quartile spread as a share of the median)."""
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("records", nargs="+")
    ap.add_argument("--base", nargs="*", default=[])
    args = ap.parse_args(argv)
    head, base = load(args.records), load(args.base)
    cores = {r["host"]["nproc"] for recs in (*head.values(), *base.values()) for r in recs}
    if len(cores) > 1:
        print(f"refused: records were taken at different core counts {sorted(cores)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    ok = True
    for workload, recs in sorted(head.items()):
        print(f"{workload}: {len(recs)} runs" + (f", base {len(base[workload])} runs" if base else ""))
        for m in metrics:
            med, spread = summary([r["end_to_end"][m["name"]] for r in recs])
            line = f"  {m['name']:<14} median {med:10.4f} {m['unit']:<3} spread {spread:6.1%} (bound {m['bound']:.0%})"
            if base.get(workload):
                bmed, _ = summary([r["end_to_end"][m["name"]] for r in base[workload]])
                worse = (med - bmed) / bmed if m["better"] == "lower" else (bmed - med) / bmed
                within = worse <= m["bound"]
                ok &= within
                line += f"  vs base {bmed:10.4f}: {worse:+6.1%} worse {'ok' if within else 'REGRESSED'}"
            print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
