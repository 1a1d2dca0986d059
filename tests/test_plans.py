"""Scale-plan regression tests: assert the physical plans are the ones a
100 TB deployment needs (SURVEY.md §4/§7.4) — pushdown reaches the parquet
scan, dimensions broadcast, top-k avoids global sorts, codegen is active.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from csv_to_parquet_aws_datalake_spark import registry
from csv_to_parquet_aws_datalake_spark.loader import load_table
from csv_to_parquet_aws_datalake_spark.plans.checks import physical_plan

registry.load_all()

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_returnflag") == "A").select("l_orderkey", "l_quantity")
    plan = physical_plan(df)
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,A)]" in plan
    # column pruning: the scan must not read all 11 columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double" in plan


def test_flagship_pushes_shipdate_filter(spark, sf_dir):
    df = registry.QUERIES["d01_groupby_core"](spark, sf_dir)
    plan = physical_plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate," in plan


def test_broadcast_join_pinned(spark, sf_dir):
    df = registry.QUERIES["c07_broadcast"](spark, sf_dir)
    assert "BroadcastHashJoin" in physical_plan(df)


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    df = registry.QUERIES["c11_multiway"](spark, sf_dir)
    assert "BroadcastHashJoin" in physical_plan(df)


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    df = registry.QUERIES["f01_topk"](spark, sf_dir)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_whole_stage_codegen_active(spark, sf_dir):
    df = registry.QUERIES["d01_groupby_core"](spark, sf_dir)
    df.collect()  # AQE only finalizes the plan on execution
    # codegen stages render as "*(n) Operator" in the plan string
    assert "*(1)" in physical_plan(df)


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    df = registry.QUERIES["d01_groupby_core"](spark, sf_dir)
    df.collect()
    assert "AQEShuffleRead coalesced" in physical_plan(df)


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    # partial_ functions before the exchange = map-side combine: the shuffle
    # carries one row per (partition, group), the crux of agg at 100 TB
    df = registry.QUERIES["d01_groupby_core"](spark, sf_dir)
    plan = physical_plan(df)
    assert "partial_sum" in plan and "partial_count" in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    # a07's whole point: bucketBy co-locates the join key at write time, so
    # neither join input needs a shuffle (AQE may still choose broadcast at
    # this tiny scale; on big-big inputs the same layout gives an
    # exchange-free sort-merge join)
    df = registry.QUERIES["a07_bucketed_join"](spark, sf_dir)
    plan = physical_plan(df)
    assert "SelectedBucketsCount: 8 out of 8" in plan
    assert "Exchange hashpartitioning(o_custkey" not in plan
    assert "Exchange hashpartitioning(c_custkey" not in plan


def test_partition_pruning_on_hive_layout(spark, sf_dir):
    # a03 wrote orders partitioned by o_orderstatus; a filter on the
    # partition key must prune directories (PartitionFilters), reading 1/3
    # of the data without touching row groups
    registry.QUERIES["a03_partitioned_write"](spark, sf_dir).collect()  # ensure layout
    from csv_to_parquet_aws_datalake_spark.sources.io_paths import scratch_dir
    out = scratch_dir("a03", sf_dir, "parquet")
    df = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F") \
        .select("o_orderkey")
    plan = physical_plan(df)
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
    assert "(o_orderstatus" in plan.split("PartitionFilters")[1][:120]


def test_semi_anti_stay_joins_not_subquery_loops(spark, sf_dir):
    for qid in ("c04_semi", "c05_anti"):
        plan = physical_plan(registry.QUERIES[qid](spark, sf_dir))
        assert "Join LeftSemi" in plan or "LeftSemi" in plan or "LeftAnti" in plan


def test_pii_redaction_is_shuffle_free(spark, sf_dir):
    # i26 is the pure map-side curation shape: scan + project, zero
    # exchanges, and the scan reads only the two columns it needs
    plan = physical_plan(registry.QUERIES["i26_pii_redaction"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_repetition_filter_is_shuffle_free(spark, sf_dir):
    # i25 computes the top-token count as the longest run of the per-doc
    # SORTED token array, so the query is scan + project with no
    # (doc, token) KEYED shuffle and no rejoin — the only exchange
    # permitted is widen_if_narrow's guarded round-robin redistribution
    # of the degenerate one-row-group local scan (r21; a no-op at corpus
    # scale, see the widen_if_narrow docstring), which is keyless by
    # construction.  Scan stays pruned to (doc_id, text).
    plan = physical_plan(registry.QUERIES["i25_repetition_filter"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    # an Exchange SinglePartition is the serialize-everything shape this
    # test exists to ban — count_smells counts it, so the pin must too
    # (ADVICE r21)
    assert "Exchange SinglePartition" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_variant_scan_keeps_pushdown_under_widen(spark, sf_dir):
    # h26's widen (r21) must never lift the props-notnull filter off the
    # parquet scan: the guarded repartition sits ABOVE the filter, so
    # pushdown survives locally and trivially at scale where the widen
    # no-ops (VERDICT r21 item 8)
    plan = physical_plan(
        registry.QUERIES["h26_variant_semistructured"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(props)]" in plan


@pytest.mark.parametrize("width,salted", [(8, True), (2, False)])
def test_semdedup_pair_join_salt_follows_shuffle_width(spark, width, salted):
    # semdedup_census salts the cluster-label pair join when the
    # assignment yields fewer clusters than the session's shuffle width
    # (the fixture-scale skew fix; a no-op at production k).  Two
    # clusters at width 8 take the salted shape, where both pair-side
    # exchange keys carry the salt columns; at width 2 they do not.  The
    # width is the session conf, never the host's core count, so both
    # branches are covered on any machine.  Result-correctness of both
    # paths is pinned by test_property's brute-force reference.
    from csv_to_parquet_aws_datalake_spark.operators.llm_vectors import (
        semdedup_census,
    )

    df = spark.createDataFrame(
        [(i, "ab"[i % 2], [float(i % 3 + 1), 1.0]) for i in range(1, 9)],
        "vec_id long, label string, embedding array<float>")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        plan = physical_plan(semdedup_census(df))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert ("sa#" in plan) is salted and ("sb#" in plan) is salted, plan
    assert "CartesianProduct" not in plan


def test_minhash_signature_md5_runs_once(spark):
    # The i34 signature builder relies on CollapseProject keeping the
    # multiply-referenced md5 transform arrays un-inlined — an optimizer
    # internal a Spark upgrade could change silently, making every md5
    # run 4x per shingle (ADVICE r21).  Pin it: the OPTIMIZED plan of the
    # pre-checkpoint signature frame must contain exactly the two
    # md5-bearing transforms (h0, h1), not eight inlined copies.
    from csv_to_parquet_aws_datalake_spark.operators.llm_text import (
        minhash_signatures,
    )

    d = spark.createDataFrame(
        [(1, "a b c d e"), (2, "b c d e f")], "doc_id long, text string")
    optimized = str(
        minhash_signatures(d)._jdf.queryExecution().optimizedPlan())
    assert optimized.count("md5") == 2, optimized


def test_offset_pagination_is_take_ordered(spark, sf_dir):
    # f03: offset+limit must still compile to per-partition heaps, never a
    # global Sort node
    plan = physical_plan(registry.QUERIES["f03_offset_pagination"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_lateral_join_decorrelates(spark, sf_dir):
    # c15: the correlated LATERAL subquery must become a ranked join, not a
    # per-outer-row nested loop re-scan of customer
    plan = physical_plan(registry.QUERIES["c15_lateral_topk"](spark, sf_dir))
    assert "row_number" in plan or "RunningWindowFunction" in plan or "Window" in plan
    assert "CartesianProduct" not in plan


def test_exists_compiles_to_semi_anti(spark, sf_dir):
    # c16: EXISTS/NOT EXISTS must rewrite to one semi + one anti join with
    # the correlated filters pushed into the lineitem scans
    plan = physical_plan(registry.QUERIES["c16_exists_subquery"](spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "PushedFilters" in plan and "GreaterThan(l_quantity,49" in plan


def test_decontamination_broadcasts_eval_grams(spark, sf_dir):
    # i33: the eval-set gram join must be a broadcast (corpus-linear), and
    # the documents scan pruned to the three needed columns
    plan = physical_plan(registry.QUERIES["i33_decontamination"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in plan


def test_quantize_is_shuffle_free(spark, sf_dir):
    # i31: pure per-row array math — scan + project, zero exchanges
    plan = physical_plan(registry.QUERIES["i31_embedding_quantize"](spark, sf_dir))
    assert "Exchange" not in plan


def test_minhash_banding_is_equi_join_not_cartesian(spark, sf_dir):
    # i34: candidate pairs must come from the (band, key) equi-join — the
    # near-linear LSH shape.  A CartesianProduct/BroadcastNestedLoop here
    # means the banding collapsed to all-pairs.
    plan = physical_plan(registry.QUERIES["i34_minhash_banding"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_shuffles_on_fingerprint_only(spark, sf_dir):
    # i35: the anti-join + grouped min both key on the md5 fingerprint, so
    # the ONLY shuffle keys are fp — never doc text.  At 100 TB the
    # existing-corpus side is a bucketed-on-fp index, so this shape is what
    # makes daily ingestion corpus-scan-free.
    plan = physical_plan(registry.QUERIES["i35_incremental_dedup"](spark, sf_dir))
    assert "LeftAnti" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "fp#" in line, f"non-fingerprint shuffle: {line.strip()}"
    assert "Exchange hashpartitioning(text" not in plan


def test_canonicalize_is_shuffle_free(spark, sf_dir):
    # i28: pure map-side string kernel — scan + project, zero exchanges
    plan = physical_plan(registry.QUERIES["i28_text_canonicalize"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_ivf_probe_join_broadcasts(spark, sf_dir):
    # i29: probed centroid ids and the query vector are tiny broadcast
    # sides; the corpus-sized assigned table must never shuffle for the
    # probe join (at 100 TB the probe is partition pruning)
    plan = physical_plan(registry.QUERIES["i29_ivf_multiprobe"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_zipf_partial_counts_then_bounded_rank_join(spark, sf_dir):
    # i30: the corpus-sized explode must combine map-side, and the rank/
    # cumsum theta-join must run over the PINNED top-50 frame (ExistingRDD
    # from the localCheckpoint), never the raw vocabulary — the top-k
    # itself executed distributedly (TakeOrderedAndProject) at pin time
    df = registry.QUERIES["i30_zipf_token_rank"](spark, sf_dir)
    plan = physical_plan(df)
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" in plan and "ExistingRDD" in plan
    assert 0 < df.count() <= 50  # vocab can be smaller than the top-k


def test_cooccurrence_self_join_is_equi_on_doc_id(spark, sf_dir):
    # i32: pair blow-up must be bounded per-document via the doc_id
    # equi-join — a cartesian here is corpus-quadratic
    plan = physical_plan(registry.QUERIES["i32_token_cooccurrence"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_hash_split_is_shuffle_free(spark, sf_dir):
    # i36: split assignment is a narrow projection fused into the scan —
    # zero exchanges, and only doc_id is read (the hash keys on it)
    plan = physical_plan(registry.QUERIES["i36_hash_split"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_stratified_sample_two_phase_rank(spark, sf_dir):
    # i37 (r10 bounded-key-window audit): TWO hash shuffles — the wide
    # one keyed on (lang, spark_partition_id()), a key that grows with
    # the corpus so the shuffle stays splittable, and the lang-keyed one
    # over the k-per-partition PRUNED frame only; never a global sort
    plan = physical_plan(registry.QUERIES["i37_stratified_sample"](spark, sf_dir))
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 2, f"expected 2 rank shuffles, got: {exchanges}"
    wide = [e for e in exchanges if "SPARK_PARTITION_ID" in e.upper()
            or "part#" in e]
    assert len(wide) == 1, exchanges  # phase 1 keys on (lang, part)
    assert all("lang#" in e for e in exchanges)
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_doc_chunking_is_shuffle_free_explode(spark, sf_dir):
    # i38: map-side explode — zero exchanges, output inherits the scan's
    # partitioning, and the scan reads only (doc_id, text, n_chars)
    plan = physical_plan(registry.QUERIES["i38_doc_chunking"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_sequence_packing_shuffles_per_shard_not_globally(spark, sf_dir):
    # i39: the running-offset window partitions by the shard key, so the
    # cumulative sum parallelizes per shard; hashpartitioning(lang) also
    # satisfies the (lang, bin) grouping, so there is exactly ONE exchange
    # — and no rangepartitioning (a global running sum would serialize)
    plan = physical_plan(registry.QUERIES["i39_sequence_packing"](spark, sf_dir))
    assert "Exchange rangepartitioning" not in plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1, f"expected 1 shard shuffle, got: {exchanges}"
    assert "lang#" in exchanges[0]


def test_multimodal_frame_ops_are_shuffle_free_arrow(spark, sf_dir):
    # k13/k14: decode-family ops must be map-side Arrow batches — a
    # MapInPandas over the scan with zero exchanges and no row-at-a-time
    # BatchEvalPython
    for qid in ("k13_frame_sample", "k14_image_resize"):
        plan = physical_plan(registry.QUERIES[qid](spark, sf_dir))
        assert "Exchange" not in plan, qid
        assert "MapInPandas" in plan, qid
        assert "BatchEvalPython" not in plan, qid


def test_integrity_audit_join_strategies(spark, sf_dir):
    # d23: customer is SF-proportional, so the anti-joins carry no
    # forced hint (r11 broadcast-bound audit); at fixture scale the
    # planner must still pick broadcast off the scan-size estimate
    # (this pin proves the hint was redundant where sizes are visible);
    # no cartesian anywhere in the four-branch union
    plan = physical_plan(registry.QUERIES["d23_integrity_audit"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_scd2_reuses_one_entity_shuffle(spark, sf_dir):
    # e16: both windows share (user_id | ts, event_id), so the change
    # filter and the interval stamping ride ONE hash exchange
    plan = physical_plan(registry.QUERIES["e16_scd2_history"](spark, sf_dir))
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1, f"expected 1 entity shuffle, got: {exchanges}"
    assert "user_id#" in exchanges[0]


def test_token_rarity_broadcasts_vocab(spark, sf_dir):
    # i40: the ranked vocabulary joins back onto the token stream via
    # broadcast — the token-stream side must never shuffle on tok
    plan = physical_plan(registry.QUERIES["i40_token_rarity_score"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan


def test_registry_exchange_budget(spark, sf_dir, monkeypatch):
    # The whole-registry shuffle gate (VERDICT r5 gap 3): every query's
    # physical plan must not exceed its committed exchange budget
    # (tools/plan_budget.json, regenerated with `plan_audit.py
    # --write-budget`).  A query that quietly grows shuffles between rounds
    # fails here instead of only printing a warning in the advisory sweep.
    # Budgets were generated at sf0.001, so sweep the same scale, and sweep
    # every registered query on every run.
    # NOTE: the sweep executes write-query fixture setups under .scratch/,
    # so this suite must run single-process (no pytest-xdist) — a parallel
    # worker mid-read of the same curated layout would see it rebuilt.
    monkeypatch.syspath_prepend(os.path.join(_REPO, "tools"))
    import plan_audit

    budget = plan_audit.load_budget()
    assert budget, "tools/plan_budget.json missing — run plan_audit.py --write-budget"
    results = plan_audit.sweep(spark, os.path.join(os.path.dirname(sf_dir), "sf0.001"))
    # one record per registered query: the gate can never shrink to a subset
    assert set(results) == set(registry.QUERIES)

    over, unbudgeted = [], []
    for name, counts in results.items():
        if "skipped" in counts:
            # the only legitimate skip is the streaming-drain marker; an
            # exception-skip (AnalysisException etc.) on a batch query
            # must FAIL here
            assert counts["skipped"] == "streaming-drain", \
                f"{name}: plan build failed: {counts['skipped']}"
            continue
        if name not in budget:
            unbudgeted.append(name)
            continue
        if counts["exchanges"] > budget[name]:
            over.append(f"{name}: {counts['exchanges']} > {budget[name]}")
        flags = [f for f in plan_audit.flags_for(name, counts, budget)
                 if not f.startswith("EXCHANGES")]
        assert not flags, f"{name}: {flags}"
    assert not over, "exchange budget exceeded:\n" + "\n".join(over)
    assert not unbudgeted, (
        "new queries need budgets (plan_audit.py --write-budget): "
        + ", ".join(unbudgeted))


def test_global_window_node_walk(spark):
    # the global-window lint asks each logical Window node for its
    # partitionSpec: unpartitioned windows (ordered, bare, folded-constant
    # keys, pandas GROUPED_AGG) are flagged and partitioned ones are not,
    # including a window EXPRESSION whose arguments print "], [" (two
    # constant-folded array literals), which a plan-string parser would
    # mis-bracket.
    from pyspark.sql.window import Window as W

    from csv_to_parquet_aws_datalake_spark.plans.checks import (
        unpartitioned_window_nodes,
    )

    df = spark.range(10)
    naive = df.select(F.row_number().over(W.orderBy("id")).alias("rn"))
    assert unpartitioned_window_nodes(naive)
    bare = df.select(F.sum("id").over(W.partitionBy()).alias("s"))
    assert unpartitioned_window_nodes(bare)
    part = df.select(
        F.row_number().over(
            W.partitionBy(F.col("id") % 2).orderBy("id")).alias("rn"))
    assert not unpartitioned_window_nodes(part)
    part_noord = df.select(
        F.count(F.lit(1)).over(W.partitionBy(F.col("id") % 2)).alias("c"))
    assert not unpartitioned_window_nodes(part_noord)
    # constant-folded partition keys are optimized away before the
    # optimized plan, so lit(0) does not disguise a global window
    folded = df.select(
        F.row_number().over(W.partitionBy(F.lit(0)).orderBy("id")).alias("rn"))
    assert unpartitioned_window_nodes(folded)
    # the mis-bracket counterexample: first_value over a PARTITIONED spec,
    # where the window expression's printed arguments contain "], [" —
    # arrays_zip of two foldable array literals.  Partitioned → clean.
    tricky = df.select(
        F.first(F.arrays_zip(F.array(F.lit(1), F.lit(2)),
                             F.array(F.lit(3), F.lit(4))))
        .over(W.partitionBy(F.col("id") % 2).orderBy("id")).alias("z"))
    assert not unpartitioned_window_nodes(tricky)
    # and the same tricky expression over a GLOBAL spec is still caught
    tricky_global = df.select(
        F.first(F.arrays_zip(F.array(F.lit(1), F.lit(2)),
                             F.array(F.lit(3), F.lit(4))))
        .over(W.orderBy("id")).alias("z"))
    assert unpartitioned_window_nodes(tricky_global)
    # a GROUPED_AGG pandas UDF window is still a logical Window (the
    # ArrowWindowPython/WindowInPandas split happens in the physical
    # planner, after this node) — the walk covers it with no extra case
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def _pmean2(v: pd.Series) -> float:
        return float(v.mean())

    pandas_global = df.select(
        _pmean2("id").over(W.orderBy("id").rowsBetween(
            W.unboundedPreceding, W.currentRow)).alias("m"))
    assert unpartitioned_window_nodes(pandas_global)
    pandas_part = df.select(
        _pmean2("id").over(
            W.partitionBy(F.col("id") % 2).orderBy("id").rowsBetween(
                W.unboundedPreceding, W.currentRow)).alias("m"))
    assert not unpartitioned_window_nodes(pandas_part)
