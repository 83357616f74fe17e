"""Diff two traced-run span files layer by layer.

    python3 perfbench/layer_report.py perfbench_out/spans-A.json perfbench_out/spans-B.json

For every span name (a layer function, or ``call.<kind>`` for a whole
client call) prints the call count, the total and median self time — the
span's duration minus the part its child spans cover — and the Spark jobs
and stages submitted inside it, for run A, run B and B relative to A.
Rows are sorted by B's total self time, so the layers that hold the time
come first.
"""

from __future__ import annotations

import argparse
import json
import sys

from stats import median, self_time


def layer_table(doc: dict) -> dict[str, dict]:
    """Per span name: calls, total/median self ms, jobs and stages."""
    spans = doc["spans"]
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    rows: dict[str, dict] = {}
    for s in spans:
        if s["t1"] is None:
            continue
        r = rows.setdefault(s["name"], {"calls": 0, "self": [], "jobs": 0, "stages": 0})
        r["calls"] += 1
        r["self"].append(self_time(s, kids.get(s["id"], [])) * 1000)
        r["jobs"] += s.get("jobs", 0)
        r["stages"] += s.get("stages", 0)
    return {
        name: {
            "calls": r["calls"],
            "self_ms": sum(r["self"]),
            "self_p50_ms": median(r["self"]),
            "jobs": r["jobs"],
            "stages": r["stages"],
        }
        for name, r in rows.items()
    }


def _ratio(a: float, b: float) -> str:
    return f"{b / a:6.2f}x" if a else "     -"


def report(a: dict, b: dict) -> str:
    ta, tb = layer_table(a), layer_table(b)
    empty = {"calls": 0, "self_ms": 0.0, "self_p50_ms": 0.0, "jobs": 0, "stages": 0}
    names = sorted(set(ta) | set(tb), key=lambda n: -tb.get(n, empty)["self_ms"])
    head = (
        f"{'layer':34} {'calls A/B':>11} {'self ms A':>11} {'self ms B':>11} {'B/A':>7}"
        f" {'p50 self A':>10} {'p50 self B':>10} {'jobs A/B':>11} {'stages A/B':>11}"
    )
    lines = [
        f"A: {a.get('workload')} seed {a.get('seed')}    B: {b.get('workload')} seed {b.get('seed')}",
        head,
        "-" * len(head),
    ]
    for n in names:
        x, y = ta.get(n, empty), tb.get(n, empty)
        lines.append(
            f"{n:34} {x['calls']:>5}/{y['calls']:<5} {x['self_ms']:11.1f} {y['self_ms']:11.1f}"
            f" {_ratio(x['self_ms'], y['self_ms']):>7} {x['self_p50_ms']:10.1f} {y['self_p50_ms']:10.1f}"
            f" {x['jobs']:>5}/{y['jobs']:<5} {x['stages']:>5}/{y['stages']:<5}"
        )
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", help="span file of the base run")
    ap.add_argument("b", help="span file of the run to compare")
    args = ap.parse_args(argv)
    with open(args.a) as f:
        a = json.load(f)
    with open(args.b) as f:
        b = json.load(f)
    print(report(a, b))
    return 0


if __name__ == "__main__":
    sys.exit(main())
