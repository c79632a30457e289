"""Summarize run records written by ``run.py`` into per-workload medians.

    python3 perfbench/summarize.py [RECORD.json ...]   # default: perfbench/.runs/*.json

For each workload and trace mode, prints every metric's median, first
and third quartile (``statistics.quantiles(values, n=4)``) and the
spread ``(q3 - q1) / median`` over the runs given, the median over the
runs of each op kind's p50 and p90, the runs' error rate (failed ops /
ops attempted) and the inputs they used.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import statistics
import sys


def summarize(paths: list[str]) -> dict:
    groups: dict[tuple[str, int], list[dict]] = collections.defaultdict(list)
    for path in paths:
        with open(path) as fh:
            rec = json.load(fh)
        groups[(rec["workload"], rec["trace"])].append(rec)
    out = {}
    for (workload, trace), recs in sorted(groups.items()):
        ops = [o for r in recs for p in r["phases"] if p["traced"] or not trace for o in p["ops"]]
        metrics = {}
        for name in recs[0]["metrics"]:
            values = [r["metrics"][name] for r in recs]
            med = statistics.median(values)
            q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
            metrics[name] = {
                "median": med,
                "q1": q1,
                "q3": q3,
                "spread": (q3 - q1) / med if med else None,
            }
        per_kind = {}
        for kind in sorted({k for r in recs for k in r["per_kind"]}):
            runs = [r["per_kind"][kind] for r in recs if kind in r["per_kind"]]
            per_kind[kind] = {
                "ops": sum(k["n"] for k in runs),
                "p50_s": statistics.median(k["p50_s"] for k in runs),
                "p90_s": statistics.median(k["p90_s"] for k in runs),
            }
        out[f"{workload}/trace{trace}"] = {
            "runs": len(recs),
            "seeds": sorted(r["seed"] for r in recs),
            "seconds": recs[0]["seconds"],
            "cpus": recs[0]["cpus"],
            "sf": recs[0]["sf"],
            "input_rows": recs[0]["input_rows"],
            "git_commit": recs[0]["git_commit"],
            "ops_attempted": len(ops),
            "error_rate": sum(1 for o in ops if not o["ok"]) / len(ops),
            "metrics": metrics,
            "per_kind": per_kind,
        }
    return out


def main() -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    paths = sys.argv[1:] or sorted(glob.glob(os.path.join(here, ".runs", "*.json")))
    if not paths:
        print("no run records", file=sys.stderr)
        return 1
    print(json.dumps(summarize(paths), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
