#!/usr/bin/env python
"""Physical-plan smell sweep across every registered query.

For each registry entry, prints counts of the plan nodes that matter at
100 TB: shuffles (Exchange), cartesian products, row-at-a-time Python
(BatchEvalPython), scans, and whole-stage-codegen spans — then flags:

- CartesianProduct anywhere except the queries that are cross joins by
  contract (c06) or broadcast a tiny side (checked by tests/test_plans.py);
- BatchEvalPython outside BATCH_EVAL_OK (k01 pickled scalar UDF and k05
  Python UDTF, where row-at-a-time Python IS the operator);
- exchange counts above the query's committed budget (tools/plan_budget.json,
  regenerate with --write-budget) or, for unbudgeted queries, EXCHANGE_WARN.

The exchange budget IS a gate: tests/test_plans.py sweeps the whole registry
against plan_budget.json, so a query that quietly grows shuffles between
rounds fails CI.  Usage: python tools/plan_audit.py [--write-budget]
[sf_dir] [prefix...]

Do NOT run concurrently with the test suite or t2_emulation at the same
sf_dir: building a write-query's plan executes its fixture setup (curated
writes, bucketed tables), and two sessions mutating the same `.scratch/`
layout corrupt each other's reads.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Fallback exchange cap for queries with no committed budget.  Rationale by
# family (measured sf0.01 plans, see plan_budget.json for per-query truth):
# pure map-side ops (b, h, most i-filters) need 0; a single groupBy or
# equi-join costs 1-2; windows legitimately reach 2-3 (partitionBy shuffle +
# final agg); the heaviest multi-stage shapes we ship (multiway join c11,
# banding i34, setop-over-join) top out at 5.  Six exchanges therefore means
# either a genuinely new plan shape (commit a budget for it) or an
# accidental extra shuffle (a bug) — nothing registered today needs it.
EXCHANGE_WARN = 6
CARTESIAN_OK = {"c06_cross"}       # cross join IS the operator
BATCH_EVAL_OK = {"k01_python_udf",   # pickled scalar UDF IS the operator
                 "k05_python_udtf"}  # Python table function IS the operator
BUDGET_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "plan_budget.json")


def count_smells(plan: str) -> dict:
    """Count the plan nodes that matter at scale in one executedPlan string.

    Real shuffles only — BroadcastExchange is the cheap shape we WANT, and
    ReusedExchange is a reuse, not a new shuffle.  A scan node counts
    once: "FileScan parquet" holds both scan names, and one left-to-right
    regex pass matches it only as "FileScan".
    """
    return {
        "exchanges": (plan.count("Exchange hashpartitioning")
                      + plan.count("Exchange rangepartitioning")
                      + plan.count("Exchange SinglePartition")),
        "cartesian": plan.count("CartesianProduct"),
        "py_udf": plan.count("BatchEvalPython"),
        "scans": len(re.findall("FileScan|Scan parquet", plan)),
        "wscg": plan.count("WholeStageCodegen"),
    }


def sweep(spark, sf_dir: str, prefixes: tuple[str, ...] = ("",)) -> dict:
    """Build every matching registry query's physical plan and count smells.

    Returns {name: counts-dict} with one record per matching query: a
    streaming query, or one whose plan fails to build, records
    {"skipped": reason} instead of counts.
    """
    from csv_to_parquet_aws_datalake_spark import registry

    registry.load_all()
    out = {}
    for name, fn in sorted(registry.QUERIES.items()):
        if not name.startswith(prefixes):
            continue
        if name in registry.STREAMING:
            # fn() DRAINS a real stream and returns a memory-table frame:
            # its "plan" is a vacuous table scan bought with a full drain.
            # The j-family tests gate those scale contracts (state
            # partitioning, no-data batch), not an exchange count.
            out[name] = {"skipped": "streaming-drain"}
            continue
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:
            out[name] = {"skipped": type(exc).__name__}
            continue
        out[name] = count_smells(plan)
    return out


def load_budget() -> dict[str, int]:
    if not os.path.exists(BUDGET_PATH):
        return {}
    with open(BUDGET_PATH) as fh:
        return json.load(fh)


def flags_for(name: str, counts: dict, budget: dict[str, int]) -> list[str]:
    flags = []
    if counts.get("cartesian") and name not in CARTESIAN_OK:
        flags.append("CARTESIAN")
    if counts.get("py_udf") and name not in BATCH_EVAL_OK:
        flags.append("ROW_PYTHON")
    n_ex = counts.get("exchanges", 0)
    cap = budget.get(name, EXCHANGE_WARN)
    if n_ex > cap:
        flags.append(f"EXCHANGES({n_ex}>{cap})")
    return flags


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--write-budget"]
    write_budget = len(argv) != len(sys.argv) - 1
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    prefixes = tuple(argv[1:]) or ("",)

    from csv_to_parquet_aws_datalake_spark.session import build_session

    spark = build_session("plan-audit", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    results = sweep(spark, sf_dir, prefixes)
    budget = load_budget()
    flagged = []
    print(f"{'query':34s} {'exch':>4s} {'cart':>4s} {'pyUDF':>5s} "
          f"{'scan':>4s} {'wscg':>4s}  flags")
    for name, counts in results.items():
        if "skipped" in counts:
            print(f"{name:34s} {'-':>4s} {'-':>4s} {'-':>5s} {'-':>4s} {'-':>4s}  "
                  f"skipped: {counts['skipped']}")
            # only a stream drain is skipped by design; a batch query
            # whose plan fails to build is a failure
            if counts["skipped"] != "streaming-drain":
                flagged.append((name, [f"PLAN_FAILED({counts['skipped']})"]))
            continue
        flags = flags_for(name, counts, budget)
        if flags:
            flagged.append((name, flags))
        print(f"{name:34s} {counts['exchanges']:4d} {counts['cartesian']:4d} "
              f"{counts['py_udf']:5d} {counts['scans']:4d} {counts['wscg']:4d}  "
              f"{','.join(flags)}")

    if write_budget:
        # merge into the committed budgets: a prefix-filtered sweep must
        # refresh only the queries it measured, never drop the rest
        new = dict(budget)
        new.update({n: c["exchanges"] for n, c in results.items()
                    if "skipped" not in c})
        with open(BUDGET_PATH, "w") as fh:
            json.dump(new, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {len(new)} budgets to {BUDGET_PATH} "
              f"({len(results)} refreshed)")

    print(f"\nflagged: {len(flagged)}")
    for name, flags in flagged:
        print(f"  {name}: {','.join(flags)}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
