#!/usr/bin/env python
"""Compare two BENCH_r*.json artifacts (and optionally BASELINE.json).

The headline suite compares against BASELINE.md's measured numbers (the 2x
criterion); the LLM tranche has no baseline, so its only signal is
round-over-round — this tool makes that diff one command:

    python tools/bench_compare.py BENCH_r04.json BENCH_r05.json

Flags any query slower than the previous round by more than WARN_RATIO
(1.5x — beyond shared-box noise for bench.py's median-of-5; a
median-of-3 round showed spurious 2.9x swings, see SURVEY §5 round-6 log),
any headline query over 2x its reference number parsed from BASELINE.md's
measured table (BASELINE.json carries only metadata, not timings), and any
query present last round but MISSING from the current one — a vanished
timing means the query stopped running, the worst regression of all.
"""

from __future__ import annotations

import json
import os
import re
import sys

WARN_RATIO = 1.5
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(path: str) -> dict:
    with open(path) as fh:
        rec = json.load(fh)
    # driver BENCH_r*.json wraps the bench.py line under "parsed"
    return rec.get("parsed", rec)


def _suite(rec: dict) -> dict[str, float]:
    out = dict(rec.get("queries", {}))
    out.update(rec.get("llm_queries", {}))
    return out


# BASELINE.md measured table rows look like:
#   | q_join_topk (c01+f01) | sec/query | 3.216 | 1.015 | 10 | ... |
# third cell = reference seconds at sf0.1.
_BASELINE_ROW = re.compile(r"^\|\s*(q_\w+)\s*\([^)|]*\)\s*\|\s*sec/query\s*\|\s*([0-9.]+)\s*\|")


def _baseline_from_md(path: str) -> dict[str, float]:
    if not os.path.exists(path):
        return {}
    out = {}
    with open(path) as fh:
        for line in fh:
            m = _BASELINE_ROW.match(line)
            if m:
                out[m.group(1)] = float(m.group(2))
    return out


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    prev, cur = _load(sys.argv[1]), _load(sys.argv[2])
    p, c = _suite(prev), _suite(cur)

    baseline = _baseline_from_md(os.path.join(REPO, "BASELINE.md"))

    regressions = 0
    print(f"{'query':32s} {'prev':>8s} {'cur':>8s} {'ratio':>7s}  flags")
    for name in sorted(set(p) | set(c)):
        a, b = p.get(name), c.get(name)
        if a is None or b is None:
            fa = "-" if a is None else f"{a:.3f}"
            fb = "-" if b is None else f"{b:.3f}"
            tag = "new" if a is None else "gone"
            if tag == "gone":  # timed last round, missing now: a regression
                regressions += 1
                tag = "GONE"
            print(f"{name:32s} {fa:>8} {fb:>8} {tag:>7s}")
            continue
        ratio = b / a if a else float("inf")
        flags = []
        if ratio > WARN_RATIO:
            flags.append(f"SLOWER than r-1 ({ratio:.2f}x)")
        bl = baseline.get(name)
        if bl and b > 2 * bl:
            flags.append(f"OVER 2x baseline ({b / bl:.2f}x)")
        regressions += bool(flags)
        print(f"{name:32s} {a:8.3f} {b:8.3f} {ratio:7.2f}  {'; '.join(flags)}")

    for key in ("value", "llm_suite_seconds"):
        if key in prev or key in cur:
            print(f"{key}: {prev.get(key)} -> {cur.get(key)}")
    print("regressions:", regressions)
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main())
