"""j12 streaming near-dup ingest: the signature-equality and
reingest-guarantee mechanism pins, plus a batch-twin exchange pin (the
streaming drain is skipped by the exchange-budget sweep by design, so
the shuffle shape is gated here).  Also c18 Bloom-filter semi-join
reduction: its false-negative and plan-shape pins.  Oracle parity runs
through the registry-wide differential suite
(tests/test_differential.py) like every registered query."""

from __future__ import annotations

from pyspark.sql import functions as F

from csv_to_parquet_aws_datalake_spark import registry

registry.load_all()


def test_minhash_signatures_match_grouped_min(spark, sf_dir):
    # the signature kernel's per-row array form (array_min over transform,
    # the form i34, i68 and j12 run) must equal the textbook
    # explode + groupBy-min formulation slot for slot: same distinct
    # shingle set, same md5 slot substrings, same (string) min
    from csv_to_parquet_aws_datalake_spark.functions.text import (
        ngrams,
        tokens,
    )
    from csv_to_parquet_aws_datalake_spark.operators.llm_text import (
        minhash_signatures,
    )

    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .filter(F.col("text").isNotNull()))
    sig = minhash_signatures(d)
    toks = d.withColumn("t", tokens()).filter(F.size("t") >= 3)
    sh = toks.select(
        "doc_id",
        F.explode(F.array_distinct(ngrams("t", 3))).alias("sh"))
    hashed = sh.select(
        "doc_id",
        F.md5(F.concat(F.lit("0|"), F.col("sh"))).alias("h0"),
        F.md5(F.concat(F.lit("1|"), F.col("sh"))).alias("h1"))
    kern_sig = hashed.groupBy("doc_id").agg(*[
        F.min(F.substring(f"h{k // 4}", (k % 4) * 8 + 1, 8)).alias(f"s{k}")
        for k in range(8)])

    got = {r["doc_id"]: tuple(r[f"s{k}"] for k in range(8))
           for r in sig.collect()}
    want = {r["doc_id"]: tuple(r[f"s{k}"] for k in range(8))
            for r in kern_sig.collect()}
    assert got == want and got


def test_j12_reingest_guarantee(spark, sf_dir):
    # every re-crawled src19 doc with >= 3 tokens must surface its
    # corpus original at n_band_hits = 4 (identical text -> identical
    # bands on all 4 — the minhash_band_pairs no-false-negative
    # guarantee, observed through the streaming path)
    from csv_to_parquet_aws_datalake_spark.streaming.queries import (
        _J12_REKEY,
    )

    rows = registry.QUERIES["j12_stream_neardup_ingest"](
        spark, sf_dir).collect()
    hits = {(r["batch_doc"], r["corpus_doc"]): r["n_band_hits"]
            for r in rows}
    originals = [
        r["doc_id"]
        for r in (spark.read.parquet(f"{sf_dir}/documents.parquet")
                  .filter(F.col("source") == "src19")
                  .filter(F.col("text").isNotNull())
                  .filter(F.size(F.split("text", " ")) >= 3)
                  .select("doc_id").collect())
    ]
    assert originals
    for doc in originals:
        assert hits.get((doc + _J12_REKEY, doc)) == 4, doc


def test_j12_batch_twin_plan_shape(spark, sf_dir):
    # the exchange-budget sweep skips stream-drain queries by design
    # (registry.STREAMING — building their "plan" costs a full drain and
    # budgets a vacuous table scan), so j12's shuffle shape is gated
    # here on its BATCH TWIN: the identical band pipeline — same
    # minhash_signatures + band_keys kernels, same re-keyed src19 batch
    # side — built directly over the documents table in batch (no drain,
    # no fixture write: this test costs one plan build — review r17).  The
    # contract at 100 TB: candidates come from a (b, bk) EQUI-join
    # (never all-pairs — no CartesianProduct, no non-equi join),
    # signatures are map-side expressions (no per-doc aggregation
    # before the join), and the whole shape needs at most 3 real
    # exchanges (band join sides + the pair-count aggregation; a
    # broadcast of the small side may remove some at this SF).
    from csv_to_parquet_aws_datalake_spark.loader import load_table
    from csv_to_parquet_aws_datalake_spark.operators.llm_text import (
        band_keys,
        minhash_signatures,
    )
    from csv_to_parquet_aws_datalake_spark.plans.checks import physical_plan
    from csv_to_parquet_aws_datalake_spark.streaming.queries import _J12_REKEY

    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull()))
    corpus = (band_keys(minhash_signatures(d))
              .withColumnRenamed("doc_id", "corpus_doc"))
    batch = (d.filter(F.col("source") == "src19")
             .select((F.col("doc_id") + _J12_REKEY).alias("doc_id"), "text"))
    twin = (band_keys(minhash_signatures(batch))
            .withColumnRenamed("doc_id", "batch_doc")
            .join(corpus, ["b", "bk"])
            .groupBy("batch_doc", "corpus_doc")
            .agg(F.count(F.lit(1)).alias("n_band_hits")))
    plan = physical_plan(twin)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_ex = (plan.count("Exchange hashpartitioning")
            + plan.count("Exchange rangepartitioning")
            + plan.count("Exchange SinglePartition"))
    assert n_ex <= 3, plan


def test_c18_bloom_reduces_without_false_negatives(spark, sf_dir):
    # the two properties the oracle cannot show separately: (1) the
    # Bloom probe actually REDUCES the fact side (a vacuous always-true
    # filter would also pass the oracle), and (2) no false negative —
    # every fact row whose key IS in the dim survives the probe (a
    # false negative silently drops rows; here it is checked directly
    # on the key sets, not via the aggregate).
    from csv_to_parquet_aws_datalake_spark.operators.joins import (
        _C18_SEEDS,
        _c18_bit_pos,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    urgent = {r["o_orderkey"] for r in orders.filter(
        F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey").collect()}

    # recompute the bitmap + probe in Python over the same md5 idiom
    import hashlib

    def bits_of(key):
        out = []
        for seed in _C18_SEEDS:
            h = hashlib.md5(f"{seed}|{key}".encode()).hexdigest()
            out.append(int(h[:4], 16))  # 4 hex digits span [0, 2^16)
        return out

    bitmap = set()
    for k in urgent:
        bitmap.update(bits_of(k))
    fact_keys = [r["l_orderkey"] for r in li.select("l_orderkey").collect()]
    kept = [k for k in fact_keys if all(p in bitmap for p in bits_of(k))]
    # no false negative: every genuinely-matching fact row survives
    matching = [k for k in fact_keys if k in urgent]
    assert set(matching) <= set(kept)
    # genuine reduction: the probe must kill a large share of the
    # non-matching 80% (false-positive rate is ~0.3% by geometry, so
    # kept should sit close to the matching share, far below half)
    assert len(kept) < 0.5 * len(fact_keys)
    assert len(kept) >= len(matching)

    # and the Spark-side bit positions equal the Python re-derivation
    # (the idiom contract, one row is enough to pin endianness/substr)
    probe = (spark.createDataFrame([(42,)], "k long")
             .select(*[_c18_bit_pos("k", s).alias(s)
                       for s in _C18_SEEDS]).collect()[0])
    assert [probe[s] for s in _C18_SEEDS] == bits_of(42)


def test_c18_plan_shape(spark, sf_dir):
    # both Bloom probes must be BROADCAST hash joins (the bitmap is
    # geometry-bounded, never SF-bounded) and the probe filters must
    # sit below the main join; no cartesian, no Python in the hot path
    from csv_to_parquet_aws_datalake_spark.plans.checks import physical_plan

    plan = physical_plan(
        registry.QUERIES["c18_bloom_semijoin_reduce"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
