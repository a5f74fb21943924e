#!/usr/bin/env python
"""Fold per-query MINIMA across same-protocol bench runs into a
promotable snapshot (the r11/r12 min-of-sweeps discipline, made a
script for r13).

Usage:
    python scripts/fold_bench_snapshots.py OUT.json IN1.json [IN2.json ...]

Each IN file is either a full-sweep sidecar (BENCH_QUERIES.latest.json
shape: {"queries": {...}}) or a bare {"name": seconds} map (hand-built
from gate solo adjudications / quiet BENCH_ONLY re-times — same solo
fresh-JVM protocol). The output records per-query MIN and the fold's
provenance, and carries ``"folded": true``: its values are minima of
medians, not one sweep's medians. Rationale: this host carries bursty
external co-tenant load (BASELINE.md); a per-query min across repeated
same-protocol runs converges on the query's cost, while any single
sweep carries 2-8x phantom inflation on whichever chunks a burst hit.
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit("usage: python scripts/fold_bench_snapshots.py OUT.json IN1.json [IN2.json ...]")
    out_path, *in_paths = sys.argv[1:]
    folded: dict[str, float] = {}
    sources = []
    for p in in_paths:
        with open(p) as f:
            doc = json.load(f)
        qs = doc.get("queries", doc)
        n_used = 0
        for name, med in qs.items():
            if isinstance(med, bool) or not isinstance(med, (int, float)) or med <= 0:
                continue
            if med < folded.get(name, float("inf")):
                folded[name] = med
                n_used += 1
        sources.append({"path": p, "n_queries": len(qs), "n_mins": n_used})
    out = {
        "metric": "per_query_median_s",
        "unit": "sec",
        "queries": dict(sorted(folded.items())),
        "sf": 0.1,
        "n_queries": len(folded),
        "missing": [],
        "folded": True,
        "fold": "per-query min across same-protocol runs",
        "fold_sources": sources,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    total = round(sum(folded.values()), 3)
    print(f"wrote {out_path}: {len(folded)} queries, folded total {total}s",
          file=sys.stderr)


if __name__ == "__main__":
    main()
