"""j13 stream-stream LEFT OUTER join: the sentinel/outer-semantics
mechanism pins, plus a batch-twin plan-shape pin (the streaming drain
is skipped by the exchange-budget sweep by design, so the shuffle shape
is gated here — the j12 convention).  Also j14 state-store inspection:
its state-metadata pins.  Oracle parity runs through the registry-wide
differential suite (tests/test_differential.py) like every registered
query."""

from __future__ import annotations

from pyspark.sql import functions as F

from csv_to_parquet_aws_datalake_spark import registry

registry.load_all()


def test_j13_outer_join_pins(spark, sf_dir):
    # mechanism pins behind the oracle: (1) OUTER semantics observable —
    # NULL-padded rows exist, and specifically for purchases in the last
    # delay+range of event time, the rows a sentinel-less drain would
    # withhold (the flush-sentinel's whole point); (2) the matched
    # subset equals the registered j08 INNER join row for row; (3) no
    # sentinel id leaks through the post-drain filter
    import datetime

    df = registry.QUERIES["j13_stream_outer_join"](spark, sf_dir)
    got_rows = [(r["pid"], r["cid"]) for r in df.collect()]
    got = set(got_rows)
    # sentinel pin UPSTREAM of the post-drain filter (asserting pid >= 0
    # on the filtered output is vacuous — ADVICE r16): the pre-filter
    # drained table must contain the (-1, -2) sentinel self-match, no
    # OTHER negative row on either column, and dropping that one pair
    # must yield exactly the registered output — proving the filter
    # removed the sentinel pair and nothing else.  The pre-filter table
    # rides on the returned frame as `j13_pre_filter`, asserted loudly
    # (ADVICE r18): any wrapper, select, or re-plan that returns a NEW
    # DataFrame silently drops the attribute, and this pin is the
    # contract's only observer.
    assert hasattr(df, "j13_pre_filter"), (
        "j13's pre-filter test surface is gone: the returned frame no "
        "longer carries the j13_pre_filter attribute — any wrapper, "
        "select, or re-plan that returns a NEW DataFrame silently drops "
        "it (ADVICE r18), so the sentinel pin would be unprovable")
    pre = {(r["pid"], r["cid"]) for r in df.j13_pre_filter.collect()}
    assert {(p, c) for p, c in pre if p < 0} == {(-1, -2)}
    assert not any(c is not None and c < 0 for p, c in pre if p >= 0)
    assert {(p, c) for p, c in pre if p >= 0} == got
    unmatched = {pid for pid, cid in got if cid is None}
    assert unmatched

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    ev_ts = [(r["event_id"], r["event_type"], r["user_id"], r["ts"])
             for r in ev.select("event_id", "event_type", "user_id", "ts")
             .collect() if r["ts"] is not None]
    pts = {eid: ts for eid, et, _, ts in ev_ts if et == "purchase"}

    # from-scratch pure-Python reference (the shared-arithmetic census
    # spirit): Spark join and DuckDB oracle share the equi+range LEFT
    # OUTER formulation, so both could be wrong the same way — recompute
    # the expected pair set from raw rows, pinning BETWEEN's inclusive
    # +/-10-minute boundary and the one-NULL-row-per-unmatched-purchase
    # contract independently of either engine
    import collections

    clicks_by_user = collections.defaultdict(list)
    for eid, et, uid, ts in ev_ts:
        if et == "click":
            clicks_by_user[uid].append((eid, ts))
    expected = set()
    for eid, et, uid, ts in ev_ts:
        if et != "purchase":
            continue
        matched = False
        for cid, cts in clicks_by_user.get(uid, ()):
            if abs((cts - ts).total_seconds()) <= 600:  # inclusive
                expected.add((eid, cid))
                matched = True
        if not matched:
            expected.add((eid, None))
    assert got == expected
    # multiplicity too (ADVICE r19): the set-compare alone would hide a
    # duplicate emission of the same (pid, cid) pair by the stream drain
    # — the reference pair set has multiplicity 1 everywhere (event ids
    # are unique), so the drained rows must too
    assert collections.Counter(got_rows) == collections.Counter(expected)
    # the query's global watermark is the MIN over both sides' (max seen
    # ts - 1h), so the sentinel-less withheld set is purchases with
    # pts + 10min >= min(max_purchase_ts, max_click_ts) - 1h — computing
    # the window from the purchase side alone could claim flush coverage
    # on a fixture whose clicks end much earlier (review r19: the same
    # unasserted-layout class as the r18 ADVICE items)
    max_ts = min(max(ts for _e, et, _u, ts in ev_ts if et == "purchase"),
                 max(ts for _e, et, _u, ts in ev_ts if et == "click"))
    flush_window = max_ts - datetime.timedelta(minutes=70)  # delay+range
    assert any(pts[pid] > flush_window for pid in unmatched), (
        "no late-tail unmatched purchase emitted — the sentinel flush "
        "is not observable on this fixture")

    inner = {(r["pid"], r["cid"]) for r in registry.QUERIES[
        "j08_stream_stream_join"](spark, sf_dir).collect()}
    assert {(p, c) for p, c in got if c is not None} == inner


def test_j13_batch_twin_plan_shape(spark, sf_dir):
    # the exchange-budget sweep skips stream-drain queries by design
    # (registry.STREAMING — building their "plan" costs a full drain),
    # so j13's shuffle shape is gated here on its BATCH TWIN: the
    # identical LEFT OUTER range join — same sides, same equi-key, same
    # ±10-minute range condition — built directly over the events table
    # in batch (no drain, no fixture write: one plan build).  The
    # contract at 100 TB (pre-measured in SURVEY §7.17: at sf0.001 the
    # click side broadcasts — BroadcastHashJoin LeftOuter on the user_id
    # equi-key with the range as residual condition, 0 real exchanges):
    # the join must be an EQUI-join on user_id with the range a residual
    # — never a cartesian or BroadcastNestedLoopJoin (the shape a
    # range-only condition would take) — and needs at most 2 real
    # exchanges (the SortMergeJoin form the same plan takes when neither
    # side fits the broadcast budget at scale).
    from csv_to_parquet_aws_datalake_spark.loader import load_table
    from csv_to_parquet_aws_datalake_spark.plans.checks import physical_plan

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("ts").isNotNull()))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", F.col("ts").alias("pts"),
                         F.col("event_id").alias("pid")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("ts").alias("cts"),
                      F.col("event_id").alias("cid")))
    twin = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & F.col("cts").between(F.col("pts") - F.expr("INTERVAL 10 MINUTES"),
                               F.col("pts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer").select("pid", "cid")
    import re

    plan = physical_plan(twin)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the equi-key and join type, pinned on the join node itself:
    # "<kind>HashJoin [user_id#..], [c_user#..], LeftOuter, ..., (range
    # residual)" — SortMergeJoin prints the same key/type prefix
    assert re.search(r"Join \[user_id#\d+L?\], \[c_user#\d+L?\], LeftOuter",
                     plan), plan
    n_ex = (plan.count("Exchange hashpartitioning")
            + plan.count("Exchange rangepartitioning")
            + plan.count("Exchange SinglePartition"))
    assert n_ex <= 2, plan


def test_j14_state_metadata_pins(spark, sf_dir):
    # the observability surface behind the oracle: the checkpoint's
    # state-metadata table must name the aggregation's state operator
    # and the 8 state partitions the drain was sized to, and the state
    # rows must actually spread across partitions (the read is
    # partition-parallel, not a single-file scan)
    from csv_to_parquet_aws_datalake_spark.sources.io_paths import (
        scratch_dir,
    )

    registry.QUERIES["j14_state_store_inspection"](spark, sf_dir).collect()
    ck = scratch_dir("j14", sf_dir) + "/ckpt"
    meta = spark.read.format("state-metadata").load(ck).collect()
    assert len(meta) == 1
    assert meta[0]["operatorName"] == "stateStoreSave"
    assert meta[0]["numPartitions"] == 8
    parts = (spark.read.format("statestore").load(ck)
             .select("partition_id").distinct().count())
    assert parts > 1
