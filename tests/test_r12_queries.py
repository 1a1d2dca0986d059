"""i56 Gopher-rule breakdown (registered round 12 — graduated from the
r9 staging module per the VERDICT r11 default registration): rule
partition invariants over the fixture corpus plus the map-side
single-rollup plan pin.  Oracle parity runs through the registry-wide
differential suite (tests/test_differential.py) like every registered
query."""

from __future__ import annotations

import pytest

from csv_to_parquet_aws_datalake_spark import registry
from csv_to_parquet_aws_datalake_spark.plans.checks import physical_plan

registry.load_all()


def test_i56_rules_partition_the_corpus(spark, sf_dir):
    # fail counts are per-rule (a doc can fail several), but n_pass must
    # complement the union of failures, and every count is bounded by
    # n_docs; the corpus must actually exercise BOTH sides of the length
    # rule (10-99-token docs straddle the 50 bound)
    fn = registry.QUERIES["i56_gopher_rule_breakdown"]
    rows = fn(spark, sf_dir).collect()
    tot_docs = sum(r["n_docs"] for r in rows)
    tot_pass = sum(r["n_pass"] for r in rows)
    tot_fail_len = sum(r["fail_len"] for r in rows)
    assert 0 < tot_fail_len < tot_docs  # both sides of the bound exist
    assert 0 < tot_pass < tot_docs
    for r in rows:
        for c in ("fail_len", "fail_wordlen", "fail_stop", "n_pass"):
            assert 0 <= r[c] <= r["n_docs"], (r["source"], c)
        assert r["n_pass"] + max(
            r["fail_len"], r["fail_wordlen"], r["fail_stop"]) <= r["n_docs"]
        assert r["pass_share"] == pytest.approx(
            r["n_pass"] / r["n_docs"], abs=1e-6)


def test_ann_assignment_ties_and_zero_norm(spark):
    # absolute labels, derived by hand.  Basis = v1..v3 (the first three
    # axes).  Centroids: cA = mean(v1,v2,v5,v7) = [.25,.25,-.25,.5]
    # (code 110=6), cZ = mean(v3,v4,v6,v8) = [0,0,.25,.25] (code 001=1).
    # Two occupied buckets and nprobe=3, so every vector scores both
    # centroids and the rounded-cosine argmax decides; the clabel
    # tie-break decides only on an exact tie.
    from csv_to_parquet_aws_datalake_spark.operators.llm_vectors import (
        assign_nearest_centroid_ann,
    )

    rows = [
        (1, "cA", [1.0, 0.0, 0.0, 0.0]),     # cA .377964 vs cZ 0
        (2, "cA", [0.0, 1.0, 0.0, 0.0]),     # cA .377964 vs cZ 0
        (3, "cZ", [0.0, 0.0, 1.0, 0.0]),     # cA -.377964 vs cZ .707107
        (4, "cZ", [-1.0, -1.0, -1.0, 1.0]),  # cA .188982 vs cZ 0
        (5, "cA", [1.0, 1.0, 0.0, 0.0]),     # cA .534522 vs cZ 0
        (6, "cZ", [1.0, 1.0, 1.0, 0.0]),     # cA .218218 vs cZ .408248
        (7, "cA", [-1.0, -1.0, -1.0, 2.0]),  # cA .428571 vs cZ .267261
        # zero norm: both cosines are 0/0.  _nan_safe_acos maps them to
        # the -2.0 sentinel, so the tie-break picks the lower clabel
        (8, "cZ", [0.0, 0.0, 0.0, 0.0]),
        # label-less (moves no centroid): orthogonal to both centroids,
        # an exact 0.0 tie that the lower clabel wins
        (9, None, [1.0, -1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        # under ANSI a plain 0/0 cosine would raise DIVIDE_BY_ZERO here
        got = {r["vec_id"]: r["clabel"]
               for r in assign_nearest_centroid_ann(df).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == {1: "cA", 2: "cA", 3: "cZ", 4: "cA", 5: "cA",
                   6: "cZ", 7: "cA", 8: "cA", 9: "cA"}


def test_i56_is_map_side_single_rollup(spark, sf_dir):
    # i25's idiom carried over: no explode-shuffle of tokens — the ONLY
    # exchange is the source rollup (plus AQE's coalesced read of it)
    fn = registry.QUERIES["i56_gopher_rule_breakdown"]
    plan = physical_plan(fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Generate explode" not in plan
    assert "partial_count" in plan or "partial_sum" in plan  # map-side agg


def test_streaming_state_queries_green_under_rocksdb(spark, oracle, sf_dir):
    # VERDICT r11 "what's missing" item 2: the RocksDB state store was
    # documented (SURVEY §7.4) but never exercised.  The five stateful
    # j-rows (tumbling/session aggs, dedup, applyInPandasWithState,
    # stream-stream join) re-run with the production state-store
    # provider and must still hash-match their oracles.  The provider
    # conf is read at QUERY start, so setting it on the shared session
    # and restoring in finally scopes it to this test; the bogus-class
    # probe below proves the conf path is honored (a typo'd provider
    # cannot silently fall back to the memory store).
    from tests.differential import compare

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    prior = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        for n in ("j01_stream_tumbling", "j03_stream_session",
                  "j04_stream_dedup", "j07_stateful_custom",
                  "j08_stream_stream_join"):
            compare(registry.QUERIES[n](spark, sf_dir), oracle,
                    registry.ORACLES[n])
        spark.conf.set(key, "com.example.NoSuchProvider")
        # match on the class name: ONLY the provider-load failure may
        # satisfy the probe (an unrelated error passing a bare
        # raises(Exception) would hide a silently-ignored conf)
        with pytest.raises(Exception, match="NoSuchProvider"):
            registry.QUERIES["j01_stream_tumbling"](spark, sf_dir).collect()
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
