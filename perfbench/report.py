"""Per-layer table of one traced run.

    python3 perfbench/report.py .perfbench/traces/merge_incremental-seed1.json

For each span name: how many times it ran per traced call, and per call
(the median over traced calls) its wall time, self time (wall minus
direct children), the Spark jobs and tasks run in its own job group, and
the shuffle bytes it wrote. Jobs, tasks and shuffle bytes count the span's
own job group only, so the rows add up to the ``call`` totals.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict

from spans import self_time

COLUMNS = ("count", "wall_s", "self_s", "jobs", "tasks", "shuffle_bytes")


def per_call_rows(spans: list) -> dict:
    rows: dict = defaultdict(lambda: dict.fromkeys(COLUMNS, 0))
    for s in spans:
        r = rows[s["name"]]
        r["count"] += 1
        r["wall_s"] += s["end"] - s["start"]
        r["self_s"] += self_time(s, spans)
        r["jobs"] += s["self"]["jobs"]
        r["tasks"] += s["self"]["tasks"]
        r["shuffle_bytes"] += s["self"]["shuffle_write_bytes"]
    return rows


def table(trace: dict) -> str:
    calls = [per_call_rows(c["spans"]) for c in trace["calls"]]
    names = sorted({n for c in calls for n in c}, key=lambda n: (n != "call", n))
    info = trace["info"]
    lines = [
        f"{info['workload']} seed={info['seed']} cores={info['cores']} "
        f"traced calls={len(calls)} (medians per call)",
        f"{'span':40} {'count':>6} {'wall_s':>9} {'self_s':>9} {'jobs':>6} {'tasks':>6} {'shuffle_bytes':>14}",
    ]
    for n in names:
        med = {k: statistics.median(c[n][k] if n in c else 0 for c in calls) for k in COLUMNS}
        lines.append(
            f"{n:40} {med['count']:6g} {med['wall_s']:9.3f} {med['self_s']:9.3f} "
            f"{med['jobs']:6g} {med['tasks']:6g} {med['shuffle_bytes']:14,.0f}"
        )
    return "\n".join(lines)


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        print(table(json.load(fh)))
