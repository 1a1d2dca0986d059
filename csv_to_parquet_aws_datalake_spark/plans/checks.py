"""Physical-plan reading and the registry-wide anti-pattern lint — the
100 TB design is enforced here, not just described: every oracle-paired
query must clear :func:`assert_no_antipatterns`.

AQE caveat: before execution, ``physical_plan`` shows the INITIAL adaptive
plan (``isFinalPlan=false``) — static properties (PushedFilters,
ReadSchema, pinned broadcast hints) are valid there, but anything AQE can
rewrite at runtime (join strategy switches, coalesced reads, codegen
spans) is only trustworthy after the DataFrame has run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# Scale anti-patterns linted on EVERY oracle-paired query (wired into
# tests/test_differential.py, so the check is free — the DataFrame is
# already constructed there).  Queries whose CONTRACT is the anti-pattern
# opt out explicitly.
ANTIPATTERN_ALLOW: dict[str, set[str]] = {
    "c06_cross": {"cartesian"},                     # the cross-join row itself
    "i06_pairwise_sim_threshold": {"cartesian"},    # documented O(n^2) baseline
    "c08_range_theta": {"cartesian"},               # theta join, BNLJ/cartesian
    "k01_python_udf": {"python_row_udf"},           # the row-at-a-time contract row
    "k05_python_udtf": {"python_row_udf"},          # UDTFs evaluate row-at-a-time
}


def unpartitioned_window_nodes(df: DataFrame) -> list[str]:
    """Window nodes in the OPTIMIZED LOGICAL plan whose partitionSpec is
    EMPTY — the single-task global windows Spark warns about with "No
    Partition Defined".  Walking the plan tree and asking each logical
    Window for its partition spec is exact where re-parsing the plan
    STRING is not: a window expression that itself prints ``], [`` (two
    constant-folded array literals as adjacent arguments) mis-brackets a
    text splitter.  One logical Window covers every physical incarnation
    (WindowExec, WindowGroupLimit pushdowns, and the pandas GROUPED_AGG
    forms ArrowWindowPython / WindowInPandas — those are physical choices
    made AFTER this node).  Foldable partition keys
    (``partitionBy(lit(0))``) are removed by the optimizer before this
    plan, so they are correctly reported as unpartitioned.  Subquery
    expressions carry their own plan trees; they are walked too.
    """
    out: list[str] = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if (node.getClass().getSimpleName() == "Window"
                and node.partitionSpec().isEmpty()):
            out.append(node.simpleString(25))
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
        subq = node.subqueries()  # plans inside scalar/EXISTS/IN subqueries
        for i in range(subq.size()):
            stack.append(subq.apply(i))
    return out


def assert_no_antipatterns(name: str, df: DataFrame) -> None:
    """Fail if a query's physical plan contains a scale anti-pattern it has
    not explicitly opted into: an unbroadcast cartesian product,
    row-at-a-time Python evaluation (pickled round trips) where an
    Arrow-vectorized form exists, or a global (unpartitioned) window —
    the single-task total-order shape that serializes a table-sized input
    at 100 TB (global row numbers come from
    operators.windows.global_row_number instead).  The window test reads
    the logical plan's partitionSpec, not the plan string."""
    plan = physical_plan(df)
    allowed = ANTIPATTERN_ALLOW.get(name, set())
    if "CartesianProduct" in plan and "cartesian" not in allowed:
        raise AssertionError(
            f"{name}: CartesianProduct in plan — broadcast or re-key the join")
    if "BatchEvalPython" in plan and "python_row_udf" not in allowed:
        raise AssertionError(
            f"{name}: row-at-a-time Python UDF in plan — use a pandas/Arrow form")
    if "global_window" not in allowed:
        bad = unpartitioned_window_nodes(df)
        if bad:
            raise AssertionError(
                f"{name}: unpartitioned Window in plan (single-task global "
                f"order — use global_row_number or a bounded theta-join):\n"
                + "\n".join(bad))
