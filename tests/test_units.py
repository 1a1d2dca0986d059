"""Unit tests on literal-constructed frames for the semantics that the
oracle corpus exercises only statistically: as-of join edges, null
handling, deterministic dedup, and the §7.3 hazard cases.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F
from pyspark.testing import assertDataFrameEqual

from csv_to_parquet_aws_datalake_spark.loader import load_table
from csv_to_parquet_aws_datalake_spark.operators.joins import asof_join_last_prior

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_asof_join_edges(spark):
    events = spark.createDataFrame(
        [
            (1, 100, _ts("2024-01-01T10:00:00")),  # before any purchase -> NULL
            (1, 101, _ts("2024-01-01T12:00:00")),  # equal ts -> inclusive match
            (1, 102, _ts("2024-01-01T15:00:00")),  # after both -> latest (14:00)
            (2, 200, _ts("2024-01-01T09:00:00")),  # user with no purchases -> NULL
        ],
        "user_id long, event_id long, ts timestamp",
    )
    purchases = spark.createDataFrame(
        [(1, _ts("2024-01-01T12:00:00")), (1, _ts("2024-01-01T14:00:00")),
         (1, _ts("2024-01-01T14:00:00"))],  # duplicate purchase collapses
        "user_id long, ts timestamp",
    )
    out = asof_join_last_prior(events, purchases, key="user_id",
                               left_ts="ts", right_ts="ts",
                               left_id="event_id", out_col="purchase_ts")
    expected = spark.createDataFrame(
        [
            (100, None),
            (101, _ts("2024-01-01T12:00:00")),
            (102, _ts("2024-01-01T14:00:00")),
            (200, None),
        ],
        "event_id long, purchase_ts timestamp",
    )
    assertDataFrameEqual(out, expected)


def test_events_nanos_normalization(spark, sf_dir):
    # the §7.3/1 landmine: ts must arrive as microsecond TimestampType
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    row = ev.orderBy("event_id").first()
    assert row.ts.year == 2024


@pytest.fixture
def ntz_locked_events(spark, sf_dir, monkeypatch):
    # the round-4 landmine (SURVEY §1.3): untagged timestamp[us] parquet
    # reads as TIMESTAMP_NTZ when inferTimestampNTZ is on.  configure()
    # turns it off, but a host session may lock confs — the loader's NTZ
    # cast fallback must still deliver TimestampType, value-preserving
    # under the UTC session zone.  The lock is simulated for real: the
    # conf stays 'true' and the loader's configure() is a no-op, so the
    # column READS as NTZ and the fallback branch is the only thing
    # standing between us and a schema mismatch.  Yields the raw read.
    from csv_to_parquet_aws_datalake_spark import loader

    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        if dict(raw.dtypes).get("ts") != "timestamp_ntz":
            pytest.skip("testdata is not in the untagged-us layout this round")
        monkeypatch.setattr(loader, "configure", lambda s: s)
        yield raw
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def test_loader_normalizes_ntz_when_host_locks_conf(spark, sf_dir,
                                                    ntz_locked_events):
    from csv_to_parquet_aws_datalake_spark import loader

    baseline = ntz_locked_events.selectExpr("cast(ts as timestamp) AS ts") \
        .orderBy("ts").first().ts
    ev = loader.load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.orderBy("ts").first().ts == baseline


def test_events_stream_normalizes_ntz_when_host_locks_conf(
        spark, sf_dir, ntz_locked_events, monkeypatch):
    # the j-family's events stream takes its schema from the file footer,
    # so under the locked conf it reads NTZ too; it must come out of the
    # loader's normalization as the batch table does
    from csv_to_parquet_aws_datalake_spark.streaming import queries

    monkeypatch.setattr(queries, "configure", lambda s: s)
    ev = queries._events_stream(spark, sf_dir)
    assert ev.isStreaming
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_division_by_zero_semantics(spark):
    # Spark 4 runs ANSI mode by default: x/0 ERRORS (like DuckDB), updating
    # the pre-ANSI §7.3/3 note; the portable guard is nullif(denominator, 0)
    import pytest as _pytest
    from pyspark.errors import ArithmeticException

    with _pytest.raises(ArithmeticException):
        spark.range(1).select((F.lit(1.0) / F.lit(0.0)).alias("x")).collect()
    guarded = spark.range(1).select(
        (F.lit(1.0) / F.expr("nullif(0.0, 0.0)")).alias("x")).first()
    assert guarded.x is None


def test_dropduplicates_subset_vs_deterministic_keep_first(spark):
    # §7.3/4: bare dropDuplicates(subset) picks an ARBITRARY row; the
    # deterministic pattern is row_number over an explicit order
    from pyspark.sql.window import Window as W
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 30)], "k int, v string, x int")
    w = W.partitionBy("k").orderBy("x")
    kept = (df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn"))
    assert sorted((r.k, r.v) for r in kept.collect()) == [(1, "a"), (2, "c")]


def test_null_sort_defaults_differ_so_we_always_specify(spark):
    df = spark.createDataFrame([(None,), (1,), (2,)], "x int")
    # Spark ASC default: nulls FIRST (DuckDB: nulls last) — the reason every
    # ordered-LIMIT query spells out the null position (§7.3/5)
    assert [r.x for r in df.orderBy("x").collect()] == [None, 1, 2]
    assert [r.x for r in df.orderBy(F.col("x").asc_nulls_last()).collect()] == [1, 2, None]


def test_sort_array_fixes_collect_list_nondeterminism(spark):
    df = spark.createDataFrame([(1, "b"), (1, "a"), (1, "c")], "k int, v string")
    out = df.groupBy("k").agg(
        F.array_join(F.sort_array(F.collect_list("v")), ",").alias("vs"))
    assert out.first().vs == "a,b,c"


def test_exact_decimal_revenue_is_4dp(spark, sf_dir):
    # the invariant behind the e06/e07 decimal discipline: price(2dp) *
    # (1 - discount(2dp)) is exactly representable at 4 decimals
    li = load_table(spark, sf_dir, "lineitem").limit(1000)
    chk = li.select(
        ((F.col("l_extendedprice") * (1 - F.col("l_discount")))
         .cast("decimal(18,4)").cast("double")
         - F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4))
        .alias("diff"))
    mx = chk.agg(F.max(F.abs("diff"))).first()[0]
    assert mx == 0.0


def test_i06_quadratic_guard_raises_above_cap(spark, sf_dir, monkeypatch):
    # the all-pairs baseline must refuse to run a disguised cartesian at
    # scale unless explicitly overridden
    import pytest

    from csv_to_parquet_aws_datalake_spark.operators import llm_vectors as lv

    monkeypatch.setattr(lv, "I06_ROW_CAP", 10)
    with pytest.raises(ValueError) as excinfo:
        lv.i06_pairwise_sim_threshold(spark, sf_dir)
    # exact message text: a refactor must not silently widen this guard
    assert str(excinfo.value) == (
        "i06 is the O(n^2) all-pairs baseline and the input exceeds 10 "
        "vectors; use i18_ann_bucketed / i19_euclidean_lsh / "
        "i34_minhash_banding at scale, or pass allow_quadratic=True to "
        "override."
    )
    # the override builds the plan (no collect needed to prove no raise)
    df = lv.i06_pairwise_sim_threshold(spark, sf_dir, allow_quadratic=True)
    assert df.columns == ["va", "vb", "cos"]


def test_i22_iteration_cap_fails_loudly(spark, sf_dir, monkeypatch):
    # min-label propagation converges in graph-diameter rounds; hitting the
    # cap must raise (pointing at i27), not loop forever
    import pytest

    from csv_to_parquet_aws_datalake_spark.operators import llm_text as lt

    monkeypatch.setattr(lt, "I22_MAX_ITERS", 0)
    with pytest.raises(AssertionError) as excinfo:
        lt.i22_dedup_clusters(spark, sf_dir)
    # exact message text: a refactor must not silently widen this guard
    assert str(excinfo.value) == (
        "i22 min-label propagation did not converge in 0 iterations "
        "(expected graph-diameter rounds); check the edge set, or use "
        "i27_cc_bigstar (O(log n) rounds) for high-diameter graphs."
    )


def test_queries_ordering_prioritizes_unproven_s2_rows():
    # the driver records only ~50 entries per round in dict order, so
    # queries() must rank: failed > unproven SURVEY-2 rows > unproven
    # extensions > proven-green.  Guarantees every SURVEY-2 row meets the
    # oracle before any extension burns a slot.
    import __spark_entry__ as entry_mod

    record = entry_mod._driver_record()
    names = list(entry_mod.queries().keys())
    assert len(names) == len(set(names))

    def block(n):
        if n in record:
            return 0 if not record[n][0] else 3
        return 1 if entry_mod._is_s2(n) else 2

    blocks = [block(n) for n in names]
    assert blocks == sorted(blocks), "queries() order violates rank blocks"
    # within the green block, stalest recording round first so spare driver
    # slots re-prove the rows with the most churn since their last check
    green_rounds = [record[n][1] for n in names if block(n) == 3]
    assert green_rounds == sorted(green_rounds), "greens not staleness-ordered"
    assert entry_mod._is_s2("h12_struct") and not entry_mod._is_s2("h13_unpivot")
    assert entry_mod._is_s2("a01_scan_agg") and not entry_mod._is_s2("a07_bucketed_join")


def test_oracle_sql_order_matches_queries_order():
    # the driver keys artifacts by name, but symmetric ordering keeps the
    # per-round CORRECTNESS/BENCH diffs auditable
    import __spark_entry__ as entry_mod

    qnames = [n for n in entry_mod.queries() if n in entry_mod.oracle_sql()]
    assert list(entry_mod.oracle_sql()) == qnames


def test_i38_chunks_reassemble_to_original(spark, sf_dir):
    # semantic invariant beyond the oracle: chunk 0 + each later chunk
    # minus its 20-char overlap reproduces every document exactly, so no
    # character is lost or duplicated by the chunking parameters
    from csv_to_parquet_aws_datalake_spark.operators.llm_pipeline import (
        i38_doc_chunking,
    )

    docs = {r.doc_id: r.text
            for r in load_table(spark, sf_dir, "documents").collect()}
    chunks = {}
    for r in i38_doc_chunking(spark, sf_dir).collect():
        chunks.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk
    assert set(chunks) == set(docs)
    for doc_id, by_idx in chunks.items():
        assert sorted(by_idx) == list(range(len(by_idx)))  # contiguous ids
        rebuilt = by_idx[0] + "".join(by_idx[i][20:] for i in range(1, len(by_idx)))
        assert rebuilt == docs[doc_id], f"doc {doc_id} reassembly mismatch"


def test_i36_split_is_total_stable_and_proportional(spark, sf_dir):
    from csv_to_parquet_aws_datalake_spark.operators.llm_pipeline import (
        i36_hash_split,
    )

    a = {r.doc_id: r.split for r in i36_hash_split(spark, sf_dir).collect()}
    b = {r.doc_id: r.split for r in i36_hash_split(spark, sf_dir).collect()}
    assert a == b  # deterministic across runs
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(a) == n_docs  # total: every doc gets exactly one split
    frac_train = sum(1 for s in a.values() if s == "train") / n_docs
    # 80.1% nominal; loose bounds absorb small-sample noise at sf0.001
    assert 0.7 < frac_train < 0.9, frac_train


def test_i39_packing_conserves_tokens_and_docs(spark, sf_dir):
    from csv_to_parquet_aws_datalake_spark.operators.llm_pipeline import (
        i39_sequence_packing,
    )

    d = load_table(spark, sf_dir, "documents")
    expected_docs = d.count()
    expected_toks = (d.selectExpr("sum(size(split(text, ' '))) AS t")
                     .collect()[0].t)
    rows = i39_sequence_packing(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == expected_docs
    assert sum(r.sum_toks for r in rows) == expected_toks
    for r in rows:
        assert r.bin >= 0


def test_e16_versions_are_contiguous_and_single_current(spark, sf_dir):
    # semantic invariants beyond the oracle: per user, exactly one open
    # version (is_current), each version's valid_to equals the next
    # version's valid_from (contiguous history, no gaps or overlaps), and
    # consecutive versions never repeat the attribute value (true SCD2)
    from csv_to_parquet_aws_datalake_spark.operators.windows import (
        e16_scd2_history,
    )

    by_user = {}
    for r in e16_scd2_history(spark, sf_dir).collect():
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user_id, rows in by_user.items():
        rows.sort(key=lambda r: r.valid_from)
        assert sum(r.is_current for r in rows) == 1, user_id
        assert rows[-1].is_current == 1 and rows[-1].valid_to is None
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to == b.valid_from, user_id   # contiguous
            assert a.event_type != b.event_type, user_id  # real change


# ---------------------------------------------------------------------------
# Invariant pins for the rows-only queries (VERDICT r4 item 3): the driver
# only row-counts these, so gross breakage in the approximate/seeded value
# paths would otherwise go unseen.  Each pin is a mathematical bound the
# correct implementation satisfies with huge margin.
# ---------------------------------------------------------------------------


def test_d15_approx_percentiles_within_exact_brackets(spark, sf_dir):
    # accuracy=10000 bounds rank error at n/10000; at sf0.01 n≈60k per the
    # largest group, so approx pXX must land inside the exact (XX±5) bracket.
    from csv_to_parquet_aws_datalake_spark.operators.aggregation import (
        d15_percentile_approx,
    )

    exact = {
        r.l_returnflag: r
        for r in load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag")
        .agg(*[F.expr(f"percentile(l_extendedprice, {q})").alias(n)
               for n, q in [("p45", 0.45), ("p55", 0.55), ("p85", 0.85),
                            ("p95", 0.95), ("p98", 0.98), ("p100", 1.0)]])
        .collect()
    }
    rows = d15_percentile_approx(spark, sf_dir).collect()
    assert rows
    for r in rows:
        e = exact[r.l_returnflag]
        assert e.p45 <= r.p50 <= e.p55, r.l_returnflag
        assert e.p85 <= r.p90 <= e.p95, r.l_returnflag
        assert e.p98 <= r.p99 <= e.p100, r.l_returnflag


def test_d22_hll_estimate_within_15pct_of_exact(spark, sf_dir):
    from csv_to_parquet_aws_datalake_spark.operators.aggregation import (
        d22_hll_sketch_rollup,
    )

    exact = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events").groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n")).collect()
    }
    rows = d22_hll_sketch_rollup(spark, sf_dir).collect()
    assert set(r.event_type for r in rows) == set(exact)
    for r in rows:
        assert abs(r.approx_users - exact[r.event_type]) <= 0.15 * exact[r.event_type], \
            (r.event_type, r.approx_users, exact[r.event_type])


def test_b06_sampled_fractions_within_binomial_bounds(spark, sf_dir):
    from csv_to_parquet_aws_datalake_spark.operators.projection import (
        b06_stratified_sample,
    )

    fracs = {"view": 0.1, "click": 0.1, "error": 0.5,
             "signup": 1.0, "purchase": 1.0}
    totals = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events").groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {r.event_type: r.n for r in b06_stratified_sample(spark, sf_dir).collect()}
    for et, p in fracs.items():
        n_total = totals[et]
        n_got = got.get(et, 0)
        if p == 1.0:
            assert n_got == n_total, et     # keep-all strata are exact
        else:
            # 6-sigma binomial bound: P(violation) < 1e-8 per stratum
            slack = 6 * (n_total * p * (1 - p)) ** 0.5 + 1
            assert abs(n_got - n_total * p) <= slack, (et, n_got, n_total)


def test_j05_late_rows_are_dropped_not_counted(spark, sf_dir):
    # append mode + 30-min watermark must (a) drop the late-replayed rows
    # and (b) withhold unfinalized windows, so the finalized total is
    # strictly below the input total yet still the bulk of it.
    from csv_to_parquet_aws_datalake_spark.streaming.queries import (
        j05_stream_late_drop,
    )

    total = load_table(spark, sf_dir, "events").count()
    rows = j05_stream_late_drop(spark, sf_dir).collect()
    finalized = sum(r.n for r in rows)
    assert 0 < finalized < total, (finalized, total)
    assert finalized >= 0.5 * total, (finalized, total)


def test_readme_coverage_table_matches_registry():
    # VERDICT r4 items 4/5: the README family extents drifted once (i39 vs
    # i40); this pins them to the registry so drift is a test failure, not
    # a judge finding.  Each coverage row's id cell ("xNN–xMM" spans and/or
    # bare "xNN" singletons, comma-separated) must equal the registered id
    # set for that family EXACTLY.  Gaps are legal since r11 — a staged
    # or retired candidate reserves its number (r12: i60–i64 banked,
    # i55/i57/i58 retired, i56/i59 registered) — so the cell documents
    # the true set rather than a contiguous range.
    import collections
    import re

    from csv_to_parquet_aws_datalake_spark import registry

    registry.load_all()
    fam = collections.defaultdict(set)
    for qid in registry.QUERIES:
        m = re.match(r"([a-z])(\d+)_", qid)
        assert m, f"unparseable query id: {qid}"
        fam[m.group(1)].add(int(m.group(2)))

    readme = open(os.path.join(_REPO, "README.md"), encoding="utf-8").read()
    spans = {}
    for cell in re.findall(r"^\| [a-z]\.[^|]*\| ([a-z]\d[^|]*?) \|",
                           readme, re.M):
        letter, nums = None, set()
        for tok in cell.split(","):
            tok = tok.strip()
            m = re.fullmatch(r"([a-z])(\d+)(?:[–-]\1(\d+))?", tok)
            assert m, f"unparseable README id token: {tok!r}"
            assert letter in (None, m.group(1)), cell
            letter = m.group(1)
            hi = int(m.group(3) or m.group(2))
            nums |= set(range(int(m.group(2)), hi + 1))
        spans[letter] = nums
    assert set(spans) == set(fam), (sorted(spans), sorted(fam))
    for f, nums in fam.items():
        assert spans[f] == nums, \
            f"README {f} ids {sorted(spans[f])} != registry {sorted(nums)}"


def test_widen_if_narrow_file_scan_path(spark, sf_dir):
    # the hot-path callers (i34/i48/i51/i54) hand it a scan-rooted frame;
    # the split count comes from file metadata, so a single-file local
    # scan widens to the session's shuffle width and the projection
    # above the scan does not hide the files
    from csv_to_parquet_aws_datalake_spark.loader import (
        load_table, widen_if_narrow,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert len(d.inputFiles()) < 4  # precondition: degenerate local scan
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        assert widen_if_narrow(d).rdd.getNumPartitions() == 8
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_scan_split_estimate_is_size_based(spark, sf_dir, tmp_path):
    # the estimate is bytes/maxPartitionBytes, not the file count — many
    # tiny packed files still estimate 1 (the single-task hazard is
    # caught), and enough bytes estimate wide even from ONE file (no
    # spurious at-scale repartition); a frame with no files is healthy
    from csv_to_parquet_aws_datalake_spark.loader import (
        scan_split_estimate, widen_if_narrow,
    )

    assert scan_split_estimate(spark.range(0, 10).coalesce(1)) == 0
    ten = str(tmp_path / "ten_tiny")
    spark.range(0, 100).repartition(10).write.parquet(ten)
    tiny = spark.read.parquet(ten)
    assert len(tiny.inputFiles()) == 10
    assert scan_split_estimate(tiny) == 1  # Spark would pack these
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        assert widen_if_narrow(tiny) is not tiny
        # shrink the packing target so one modest file estimates "wide":
        # documents.parquet is tens of KB even at sf0.001
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4k")
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        assert scan_split_estimate(d) >= 4
        assert widen_if_narrow(d) is d  # healthy: no shuffle added
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
        spark.conf.set("spark.sql.shuffle.partitions", prev_width)


def test_a05_dropmalformed_complements_corrupt_count(spark, sf_dir):
    # the semantic tie between the two CSV modes: DROPMALFORMED keeps
    # exactly the rows PERMISSIVE did NOT flag as corrupt
    from csv_to_parquet_aws_datalake_spark.operators.scans import (
        a05_csv_malformed,
    )

    r = a05_csv_malformed(spark, sf_dir).first()
    assert r.n_corrupt > 0                       # the fixture is dirty
    assert r.n_dropmalformed == r.n_total - r.n_corrupt
    assert 0 < r.n_dropmalformed < r.n_total


def test_i04_lsh_pairs_respect_threshold_and_order(spark, sf_dir):
    # engine-seeded MinHashLSH is rows-only at the driver; pin the join
    # contract locally: every candidate pair is within the 0.9 Jaccard-
    # distance threshold, canonically ordered, and emitted exactly once
    from csv_to_parquet_aws_datalake_spark.operators.llm_text import (
        i04_minhash_lsh,
    )

    rows = i04_minhash_lsh(spark, sf_dir).collect()
    assert rows
    pairs = [(r.da, r.db) for r in rows]
    assert len(pairs) == len(set(pairs))
    for r in rows:
        assert r.da < r.db
        assert 0.0 <= r.dist <= 0.9


def test_i19_lsh_distances_are_exact_euclidean(spark, sf_dir):
    # BucketedRandomProjectionLSH's distCol is the TRUE euclidean distance
    # of each candidate pair (bucketing only prunes candidates), so every
    # returned distance must equal a recomputation from the raw vectors
    from csv_to_parquet_aws_datalake_spark.operators.llm_vectors import (
        i19_euclidean_lsh,
    )

    out = i19_euclidean_lsh(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    recomputed = (
        out.join(emb.select(F.col("vec_id").alias("va"), F.col("v").alias("xa")), "va")
        .join(emb.select(F.col("vec_id").alias("vb"), F.col("v").alias("xb")), "vb")
        .select(
            "va", "vb", "dist",
            F.round(F.sqrt(F.aggregate(
                F.zip_with("xa", "xb", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, x: acc + x)), 4).alias("exact"),
        )
    ).collect()
    assert recomputed
    for r in recomputed:
        assert r.va < r.vb
        assert r.dist <= 1.2
        assert abs(r.dist - r.exact) <= 1e-4, (r.va, r.vb, r.dist, r.exact)


def test_bench_compare_flags_regressions(tmp_path, capsys, monkeypatch):
    # the round-over-round LLM-tranche signal depends on this tool reading
    # both raw bench.py lines and driver-wrapped BENCH_r*.json artifacts
    import json
    import sys

    monkeypatch.syspath_prepend(os.path.join(_REPO, "tools"))
    import bench_compare

    prev = {"value": 1.0, "queries": {"q_a": 0.5, "i34": 1.0}}
    cur = {"parsed": {"value": 2.0, "queries": {"q_a": 0.6},
                      "llm_queries": {"i34": 2.0}}}  # 2.0x slower -> flagged
    p1, p2 = tmp_path / "prev.json", tmp_path / "cur.json"
    p1.write_text(json.dumps(prev))
    p2.write_text(json.dumps(cur))
    monkeypatch.setattr(sys, "argv", ["bench_compare", str(p1), str(p2)])
    rc = bench_compare.main()
    out = capsys.readouterr().out
    assert rc == 1
    assert "SLOWER" in out and "i34" in out
    assert "regressions: 1" in out


def test_bench_compare_baseline_parsed_from_md(tmp_path, capsys, monkeypatch):
    # the 2x-baseline flag must actually fire: numbers come from BASELINE.md's
    # measured table (BASELINE.json is metadata-only)
    import json
    import sys

    monkeypatch.syspath_prepend(os.path.join(_REPO, "tools"))
    import bench_compare

    baseline = bench_compare._baseline_from_md(os.path.join(_REPO, "BASELINE.md"))
    assert baseline.get("q_join_topk") == 3.216, baseline
    assert len(baseline) == 10

    # a query over 2x its baseline (but not slower than prev) flags exactly
    # once, and a query timed last round but MISSING now counts as a
    # regression too (it stopped running — the worst outcome)
    prev = {"queries": {"q_join_topk": 7.0, "q_zero": 0.0}}
    cur = {"queries": {"q_join_topk": 7.0}}  # > 2 * 3.216, ratio 1.0
    p1, p2 = tmp_path / "prev.json", tmp_path / "cur.json"
    p1.write_text(json.dumps(prev))
    p2.write_text(json.dumps(cur))
    monkeypatch.setattr(sys, "argv", ["bench_compare", str(p1), str(p2)])
    rc = bench_compare.main()
    out = capsys.readouterr().out
    assert rc == 1
    assert "OVER 2x baseline" in out
    assert "GONE" in out  # q_zero vanished from the current round
    assert "regressions: 2" in out  # one over-baseline + one gone
    # a legitimate 0.0 prev timing renders as 0.000, not '-'
    assert "0.000" in out


def test_i34_banding_never_misses_exact_duplicates(spark):
    # LSH banding is probabilistic for NEAR-dups but exact for exact dups:
    # identical text -> identical signatures -> identical band keys.  The
    # testdata corpus has no exact text dups, so pin the guarantee on a
    # constructed frame: every injected duplicate pair must surface with a
    # full 8/8 signature match, regardless of the surrounding corpus.
    import itertools
    import random

    from csv_to_parquet_aws_datalake_spark.operators.llm_text import (
        minhash_band_pairs,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    dup_groups = []
    doc_id = 0
    for g in range(5):  # 5 duplicate groups of sizes 2..4
        text = " ".join(rng.choices(vocab, k=rng.randint(5, 30)))
        ids = []
        for _ in range(2 + g % 3):
            rows.append((doc_id, text))
            ids.append(doc_id)
            doc_id += 1
        dup_groups.append(ids)
    for _ in range(40):  # unique fillers
        rows.append((doc_id, " ".join(rng.choices(vocab, k=rng.randint(5, 30)))))
        doc_id += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.da, r.db): r.n_sig_match
           for r in minhash_band_pairs(df).collect()}
    for ids in dup_groups:
        for a, b in itertools.combinations(sorted(ids), 2):
            assert out.get((a, b)) == 8, (a, b, out.get((a, b)))


def test_scratch_dir_invalidates_on_source_regen(tmp_path, monkeypatch):
    # the driver regenerates testdata in place between rounds; the scratch
    # tag must change with the source files' stat identity so reuse-aware
    # fixtures (_SUCCESS short-circuits) never replay stale data — even
    # within ONE process (the fingerprint is deliberately uncached)
    import os

    from csv_to_parquet_aws_datalake_spark.sources import io_paths

    monkeypatch.setattr(io_paths, "_BASE", str(tmp_path / "scratch"))
    src = tmp_path / "sfX"
    src.mkdir()
    f = src / "documents.parquet"
    f.write_bytes(b"v1")
    d1 = io_paths.scratch_dir("t99", str(src))
    f.write_bytes(b"v2-bigger")
    os.utime(f, ns=(1, 1))
    d2 = io_paths.scratch_dir("t99", str(src))
    assert d1 != d2


def test_i42_entropy_matches_direct_definition(spark, monkeypatch):
    # i42 and its oracle share the algebraic identity H = ln(T) - sum(c ln c)/T,
    # so the differential cannot catch an algebra error present in BOTH; pin
    # the Spark side against the direct definition -sum(p ln p) instead
    import math
    from collections import Counter

    from csv_to_parquet_aws_datalake_spark.operators import llm_text as lt

    corpus = [(1, "a a b c"), (2, "x x x x"), (3, "u v w z")]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    monkeypatch.setattr(lt, "load_table", lambda s, d, n: docs)
    rows = {r.doc_id: r for r in
            lt.i42_token_entropy(spark, "ignored").collect()}

    def direct(toks):
        c, t = Counter(toks), len(toks)
        return -sum(v / t * math.log(v / t) for v in c.values())

    for doc_id, text in corpus:
        toks = text.split()
        assert rows[doc_id].n_tokens == len(toks)
        assert rows[doc_id].n_unique == len(set(toks))
        assert abs(rows[doc_id].entropy_nats - direct(toks)) <= 1e-6, doc_id
    assert rows[2].entropy_nats == 0.0          # one repeated token
    assert abs(rows[3].entropy_nats - math.log(4)) <= 1e-6  # uniform: ln(n)


def test_e17_twa_matches_direct_recomputation(spark, monkeypatch):
    # e17's oracle mirrors the same lead-interval formula, so pin the Spark
    # side against a from-scratch Python recomputation: hold each value for
    # [reading, next) microseconds, last reading per user drops out
    import datetime

    from csv_to_parquet_aws_datalake_spark.operators import windows as wmod

    def ts(s):
        return datetime.datetime.fromisoformat(s)

    rows = [
        # user 1: 10.0 held 60s, 20.0 held 30s -> twa (10*60+20*30)/90
        (1, 10, ts("2024-01-01T00:00:00"), 10.0),
        (1, 11, ts("2024-01-01T00:01:00"), 20.0),
        (1, 12, ts("2024-01-01T00:01:30"), 99.0),   # last: dropped
        # user 2: equal-ts tie broken by event_id -> 5.0 held 0us then 7.0 held 60s
        (2, 20, ts("2024-01-01T00:00:00"), 5.0),
        (2, 21, ts("2024-01-01T00:00:00"), 7.0),
        (2, 22, ts("2024-01-01T00:01:00"), 1.0),    # last: dropped
        # user 3: single reading -> no interval, user absent from output
        (3, 30, ts("2024-01-01T00:00:00"), 42.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double")
    monkeypatch.setattr(wmod, "load_table", lambda s, d, n: ev)
    out = {r.user_id: r for r in
           wmod.e17_time_weighted_avg(spark, "ignored").collect()}

    assert set(out) == {1, 2}                      # user 3 has no interval
    assert out[1].n_intervals == 2
    assert abs(out[1].twa - round((10 * 60 + 20 * 30) / 90, 4)) <= 1e-9
    # user 2: the zero-length interval contributes 0 weight to value 5.0
    assert out[2].n_intervals == 2
    assert abs(out[2].twa - 7.0) <= 1e-9


def test_e18_running_distinct_matches_direct(spark, monkeypatch):
    # e18's first-flag + running-sum rewrite is mirrored in its oracle; pin
    # the Spark side against a literal "count distinct types seen so far"
    import datetime

    from csv_to_parquet_aws_datalake_spark.operators import windows as wmod

    def ts(s):
        return datetime.datetime.fromisoformat(s)

    rows = [
        (1, 10, ts("2024-01-01T00:00:00"), "a"),
        (1, 11, ts("2024-01-01T00:01:00"), "b"),
        (1, 12, ts("2024-01-01T00:02:00"), "a"),   # repeat: stays 2
        (1, 13, ts("2024-01-01T00:03:00"), "c"),
        (2, 20, ts("2024-01-01T00:00:00"), "a"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string")
    monkeypatch.setattr(wmod, "load_table", lambda s, d, n: ev)
    out = {r.event_id: r.distinct_types_so_far for r in
           wmod.e18_cumulative_distinct(spark, "ignored").collect()}

    seen: dict[int, set] = {}
    for user_id, event_id, _, etype in rows:
        seen.setdefault(user_id, set()).add(etype)
        assert out[event_id] == len(seen[user_id]), event_id


def test_k15_peak_frame_tie_breaks_earliest(spark, monkeypatch):
    # two bit-identical frames produce an exact rms tie; the -1e-9 penalty
    # must pick the EARLIEST frame on both engines — pin the Spark side
    from csv_to_parquet_aws_datalake_spark.operators import multimodal as mm

    frame = "z" * 64            # one 64-byte frame
    quiet = " " * 64            # lower-energy frame (0x20 < 0x7a)
    docs = spark.createDataFrame(
        [(1, quiet + frame + frame),   # tie between frames 1 and 2 -> 1
         (2, frame + quiet)],          # peak is frame 0
        "doc_id long, text string")
    monkeypatch.setattr(mm, "load_table", lambda s, d, n: docs)
    out = {r.doc_id: r for r in
           mm.k15_audio_energy(spark, "ignored").collect()}
    assert out[1].n_frames == 3 and out[1].peak_frame == 1
    assert out[2].n_frames == 2 and out[2].peak_frame == 0
    assert out[2].peak_rms == 122.0  # ord('z') exactly, uniform frame


def test_b08_all_null_group_stays_null(spark, monkeypatch):
    # a language whose every value is nulled (all doc_id % 5 == 0) has no
    # median; the fill must leave NULL + was_imputed=true, not crash or
    # invent a value — an edge the fixture corpus never produces
    from csv_to_parquet_aws_datalake_spark.operators import projection as pj

    docs = spark.createDataFrame(
        [(1, "en", 10), (2, "en", 20), (5, "en", 99),
         (10, "zz", 7), (15, "zz", 8)],       # zz: only %5==0 ids
        "doc_id long, lang string, n_chars long")
    monkeypatch.setattr(pj, "load_table", lambda s, d, n: docs)
    out = {r.doc_id: r for r in
           pj.b08_median_impute(spark, "ignored").collect()}
    assert out[5].was_imputed and out[5].filled == 15   # median(10, 20)
    assert not out[1].was_imputed and out[1].filled == 10
    for i in (10, 15):                                  # no median exists
        assert out[i].was_imputed and out[i].filled is None


def test_i45_snapshot_diff_classifies_all_four_ways(spark, monkeypatch):
    # pin each branch of the full-outer classification, including the
    # palindrome case where the simulated edit is a fingerprint no-op
    from csv_to_parquet_aws_datalake_spark.operators import llm_pipeline as lp

    docs = spark.createDataFrame(
        [(3, "a"),    # 3 % 11 == 3: absent from old     -> added
         (5, "b"),    # 5 % 13 == 5: absent from new     -> removed
         (7, "ab"),   # 7 % 7 == 0: old fp is reversed   -> changed
         (21, "aa"),  # reversal of a palindrome         -> same
         (1, "c")],   # untouched                        -> same
        "doc_id long, text string")
    monkeypatch.setattr(lp, "load_table", lambda s, d, n: docs)
    out = {r.doc_id: r.status for r in
           lp.i45_snapshot_diff(spark, "ignored").collect()}
    assert out == {3: "added", 5: "removed", 7: "changed",
                   21: "same", 1: "same"}


def test_cc_components_kernel_on_constructed_graph(spark):
    # the extracted i27 kernel: a chain (diameter > round count would
    # break plain propagation), a triangle, and a 2-clique must each
    # label to their component minimum; isolated nodes are the caller's
    # job and must NOT appear
    from csv_to_parquet_aws_datalake_spark.operators.llm_text import cc_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),    # chain 1-5
         (10, 11), (11, 12), (10, 12),      # triangle
         (20, 21)],                         # pair
        "a long, b long")
    out = {r.doc_id: r.mn for r in cc_components(edges).collect()}
    for node in (2, 3, 4, 5):
        assert min(node, out[node]) == 1, (node, out[node])
    for node in (11, 12):
        assert min(node, out[node]) == 10
    assert min(21, out[21]) == 20
    assert 99 not in out and set(out) <= {1, 2, 3, 4, 5, 10, 11, 12, 20, 21}


def test_i43_weight_endpoints_are_hash_independent(spark, monkeypatch):
    # the weight endpoints must not depend on the hash: weight >= 1.0
    # (n_chars >= 400) keeps the doc for EVERY hash value, weight 0
    # (n_chars = 0) never keeps it — only the middle is probabilistic
    from csv_to_parquet_aws_datalake_spark.operators import llm_pipeline as lp

    docs = spark.createDataFrame(
        [(i, 400 + i) for i in range(50)]        # all weight 1.0
        + [(100 + i, 0) for i in range(50)],     # all weight 0.0
        "doc_id long, n_chars long")
    monkeypatch.setattr(lp, "load_table", lambda s, d, n: docs)
    kept = {r.doc_id for r in lp.i43_weighted_sample(spark, "ignored").collect()}
    assert kept == set(range(50)), "full-weight docs must all be kept"


def test_i46_quantile_filter_keeps_boundary_values(spark, monkeypatch):
    # 21 lengths 0..20 put the exact 5th/95th percentiles at 1.0 and 19.0
    # (position p*(n-1)); the filter is inclusive so 1 and 19 stay
    from csv_to_parquet_aws_datalake_spark.operators import llm_pipeline as lp

    docs = spark.createDataFrame(
        [(i, i) for i in range(21)], "doc_id long, n_chars long")
    monkeypatch.setattr(lp, "load_table", lambda s, d, n: docs)
    kept = sorted(r.n_chars for r in
                  lp.i46_length_quantile_filter(spark, "ignored").collect())
    assert kept == list(range(1, 20))


def test_i44_token_ids_are_gapless_and_frequency_ordered(spark, monkeypatch):
    # the vocabulary index contract: ids are 0..V-1 with no gaps, ordered
    # by (count DESC, token) — an id gap or swap silently corrupts any
    # embedding table sized off this output
    from csv_to_parquet_aws_datalake_spark.operators import llm_text as lt

    docs = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a c c")], "doc_id long, text string")
    monkeypatch.setattr(lt, "load_table", lambda s, d, n: docs)
    rows = sorted(lt.i44_vocab_index(spark, "ignored").collect(),
                  key=lambda r: r.token_id)
    assert [r.token_id for r in rows] == [0, 1, 2]
    assert [(r.tok, r.cnt) for r in rows] == [("a", 3), ("b", 3), ("c", 3)]


def test_i47_centroids_match_hand_average(spark, monkeypatch):
    # component-wise mean over a posexploded join: two known vectors per
    # language must average exactly, and n_vecs counts vectors per (lang,
    # pos) — docs without an embedding drop out of the id join
    from csv_to_parquet_aws_datalake_spark.operators import llm_vectors as lv

    docs = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "fr"), (9, "fr")],  # 9 has no vector
        "doc_id long, lang string")
    embs = spark.createDataFrame(
        [(1, [1.0, 3.0]), (2, [3.0, 5.0]), (3, [10.0, 0.0])],
        "vec_id long, embedding array<double>")

    def fake_load(s, d, n):
        return docs if n == "documents" else embs

    monkeypatch.setattr(lv, "load_table", fake_load)
    out = {(r.lang, r.pos): r for r in
           lv.i47_lang_centroids(spark, "ignored").collect()}
    assert out[("en", 0)].centroid_v == 2.0 and out[("en", 0)].n_vecs == 2
    assert out[("en", 1)].centroid_v == 4.0
    assert out[("fr", 0)].centroid_v == 10.0 and out[("fr", 0)].n_vecs == 1
    assert len(out) == 4


def test_d24_support_threshold_is_strict(spark, monkeypatch):
    # the 0.05% support cut is STRICT (cnt * 2000 > n): a key at exactly
    # the threshold must be excluded — off-by-one here silently changes
    # which keys get salted at scale
    from csv_to_parquet_aws_datalake_spark.operators import aggregation as ag

    # n = 2000 rows: key 1 appears twice (0.1%, keep), key 2 exactly once
    # (cnt*2000 == n, strict cut -> drop), the rest are unique fillers
    rows = ([(1,)] * 2 + [(2,)] + [(100 + i,) for i in range(1997)])
    li = spark.createDataFrame(rows, "l_partkey long")
    monkeypatch.setattr(ag, "load_table", lambda s, d, n: li)
    out = {r.l_partkey: r for r in ag.d24_heavy_hitters(spark, "ignored").collect()}
    assert 1 in out and out[1].cnt == 2 and out[1].permille == 1.0
    assert 2 not in out


def test_i41_corpus_shares_sum_to_one(spark, monkeypatch):
    # every document lands in exactly one (source, lang) cell, so the
    # share column must partition the corpus
    from csv_to_parquet_aws_datalake_spark.operators import llm_text as lt

    docs = spark.createDataFrame(
        [(1, "s1", "en", 10, "a b"), (2, "s1", "en", 20, "c"),
         (3, "s2", "fr", 30, "d e f"), (4, "s2", "en", 40, "g")],
        "doc_id long, source string, lang string, n_chars long, text string")
    monkeypatch.setattr(lt, "load_table", lambda s, d, n: docs)
    rows = lt.i41_source_reputation(spark, "ignored").collect()
    assert sum(r.docs for r in rows) == 4
    assert abs(sum(r.corpus_share for r in rows) - 1.0) <= 1e-9
    cell = {(r.source, r.lang): r for r in rows}
    assert cell[("s1", "en")].docs == 2 and cell[("s1", "en")].toks == 3


def test_global_row_number_matches_naive_window(spark):
    # the distributed three-stage formulation must reproduce the naive
    # unpartitioned row_number exactly, at several input partitionings
    # (invariance is the helper's contract), including desc order keys
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from csv_to_parquet_aws_datalake_spark.operators.windows import (
        global_row_number,
    )

    rng = random.Random(704)
    rows = [(i, rng.randint(0, 9)) for i in range(257)]  # heavy value ties
    base = spark.createDataFrame(rows, "k long, v long")
    naive = {
        r["k"]: r["rn"] for r in base.select(
            "k", F.row_number().over(W.orderBy(F.desc("v"), "k")).alias("rn")
        ).collect()
    }
    for parts in (1, 3, 8):
        got = global_row_number(
            base.repartition(parts), [("v", "desc"), "k"],
            out="rn", total="n")
        rows_got = got.collect()
        assert {r["k"]: r["rn"] for r in rows_got} == naive, parts
        assert all(r["n"] == 257 for r in rows_got)


def test_e04_ntile_formula_matches_spark_ntile(spark):
    # the closed-form (rn, N) tile arithmetic must equal Spark's own
    # ntile across N % 4 in {0,1,2,3} — including N < 4 (q = 0)
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    for n_rows in (3, 16, 17, 18, 19):
        df = spark.range(n_rows).select(F.col("id").alias("k"))
        expected = {
            r["k"]: r["t"] for r in df.select(
                "k", F.ntile(4).over(W.orderBy("k")).alias("t")).collect()
        }
        q, r = n_rows // 4, n_rows % 4
        got = {}
        for rn in range(1, n_rows + 1):
            if rn <= r * (q + 1):
                got[rn - 1] = (rn - 1) // (q + 1) + 1
            else:
                got[rn - 1] = r + (rn - r * (q + 1) - 1) // q + 1
        assert got == expected, n_rows


def test_vectorized_multimodal_kernels_handle_empty_payloads(spark, monkeypatch):
    # the batch-vectorized decode kernels (k07/k13/k14/k15) must keep the
    # per-row edge semantics of the old per-payload loops: zero-byte blobs
    # degrade to 'empty' in k07, sub-frame payloads contribute no rows to
    # k13/k15, and sub-64-byte docs are excluded from k14 upstream
    from csv_to_parquet_aws_datalake_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(1, "", 0),                       # zero bytes
         (2, "ab", 2),                     # < one frame everywhere
         (3, "x" * 70, 70),                # 2 k13-frames, 1 k15-frame, k14 ok
         (4, "y" * 64, 64)],               # exactly one image/frame
        "doc_id long, text string, n_chars long")
    monkeypatch.setattr(mm, "load_table", lambda s, d, n: docs)

    k07 = {r["doc_id"]: r for r in
           mm.k07_multimodal_decode(spark, "ignored").collect()}
    assert k07[1]["decode_status"] == "empty" and k07[1]["mean_byte"] == 0
    assert k07[3]["mean_byte"] == ord("x") and k07[3]["n_bytes"] == 70

    k13 = mm.k13_frame_sample(spark, "ignored").collect()
    by = {}
    for r in k13:
        by.setdefault(r["doc_id"], []).append((r["frame_id"], r["frame_mean"]))
    assert 1 not in by and 2 not in by
    assert by[3] == [(0, ord("x"))]        # frames 0..1, every 4th => frame 0
    assert by[4] == [(0, ord("y"))]

    k14 = mm.k14_image_resize(spark, "ignored").collect()
    k14_docs = {r["doc_id"] for r in k14}
    assert k14_docs == {3, 4}
    assert len(k14) == 32 and all(r["pool"] in (ord("x"), ord("y"))
                                  for r in k14)

    k15 = {r["doc_id"]: r for r in mm.k15_audio_energy(spark, "ignored").collect()}
    assert set(k15) == {3, 4}
    assert k15[3]["n_frames"] == 1 and k15[3]["peak_rms"] == float(ord("x"))


def test_global_row_number_rejects_unsafe_frames(spark):
    import pytest as _pytest

    from csv_to_parquet_aws_datalake_spark.operators.windows import (
        global_row_number,
    )

    # payload columns would be materialized by the internal pin (and, pre-r8,
    # defeated the exchange reuse — review r7 finding) — rejected loudly
    df = spark.createDataFrame([(1, 2)], "k long, payload long")
    with _pytest.raises(ValueError, match="keys-only"):
        global_row_number(df, ["k"])
    # an order key whose name collides with a scratch/output column would
    # silently corrupt the offsets join
    df2 = spark.createDataFrame([(1, 2)], "k long, rn long")
    with _pytest.raises(ValueError, match="collision"):
        global_row_number(df2, ["rn", "k"], out="rn")


def test_global_row_number_survives_exchange_reuse_off(spark):
    # ADVICE r7 (medium): pre-r8 the ranking and counting branches agreed on
    # range-bucket assignment only because ReuseExchange ran the shuffle
    # once; with reuse disabled the two RangePartitioners could sample
    # boundaries independently and rank/count rows in DIFFERENT buckets.
    # The r8 localCheckpoint pin makes bucket agreement plan-independent —
    # pin that by running the exact hazard configuration.
    import random

    from csv_to_parquet_aws_datalake_spark.operators.windows import (
        global_row_number,
    )

    rng = random.Random(808)
    rows = [(i, rng.randint(0, 9)) for i in range(311)]
    # restore whatever the fixture had, not a hardcoded "true" (ADVICE r8)
    prev = spark.conf.get("spark.sql.exchange.reuse", None)
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        got = global_row_number(
            spark.createDataFrame(rows, "k long, v long").repartition(7),
            ["v", "k"], out="rn", total="n").collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.exchange.reuse")
        else:
            spark.conf.set("spark.sql.exchange.reuse", prev)
    expected = {
        k: i + 1
        for i, (k, _) in enumerate(sorted(rows, key=lambda kv: (kv[1], kv[0])))
    }
    assert {r["k"]: r["rn"] for r in got} == expected
    assert all(r["n"] == 311 for r in got)

def test_dsir_weight_guard_fires_past_bigint_headroom(spark):
    # ADVICE r15: the i66 weight product (tt+1)*(rall+B)*SCALE had a
    # documented-but-unenforced BIGINT bound — in a non-ANSI session a
    # corpus past it would wrap silently into wrong scores.  The guard
    # in _DSIR_WB_SQL must (1) be exact-identical to the unguarded
    # formula in range, and (2) raise with the named remedy past the
    # bound, on both the numerator (tt side) and denominator (r side).
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from csv_to_parquet_aws_datalake_spark.operators.llm_pipeline import (
        _DSIR_B,
        _DSIR_SCALE,
        _DSIR_WB_SQL,
    )

    schema = "b long, r long, tt long, rall long, tall long"

    def wb(rows):
        return [r["wb"] for r in spark.createDataFrame(rows, schema)
                .selectExpr("b", _DSIR_WB_SQL).orderBy("b").collect()]

    in_range = [(0, 9, 3, 100, 30), (1, 0, 0, 100, 30),
                (2, 10**6, 10**5, 10**8, 10**7)]
    want = [((tt + 1) * (rall + _DSIR_B) * _DSIR_SCALE)
            // ((r + 1) * (tall + _DSIR_B))
            for _, r, tt, rall, tall in in_range]
    assert wb(in_range) == want

    big = 9223372036854775807
    # numerator overflow: tt * rall * SCALE past BIGINT
    with pytest.raises(SparkRuntimeException, match="log-ratio"):
        wb([(0, 10**10, 10**9, 10**11, 10**10)])
    # denominator overflow with the numerator IN range (tt=0, tiny
    # rall), so the OR's second arm is the one that fires
    with pytest.raises(SparkRuntimeException, match="log-ratio"):
        wb([(0, big // 2, 0, 100, big // 2)])


def test_streaming_marker_is_explicit_and_complete():
    # ADVICE r16: the budget sweep's streaming skip keys on
    # registry.STREAMING, not the "j" name prefix.  Pin the marker's
    # integrity WITHOUT re-coupling it to a location proxy (review r17:
    # a strict equality with streaming/queries.py's registrations would
    # forbid the exact case the marker exists for — a stream-drain
    # homed in another family): every marked name is registered, every
    # registration homed in the streaming module is marked (forgetting
    # streaming=True there fails here instead of drain-sweeping), and
    # the marked set is non-empty.
    from csv_to_parquet_aws_datalake_spark import registry

    registry.load_all()
    assert registry.STREAMING <= set(registry.QUERIES)
    drains = {n for n, fn in registry.QUERIES.items()
              if fn.__module__.endswith("streaming.queries")}
    assert drains <= registry.STREAMING and drains


def test_count_smells_counts_each_scan_once(spark, sf_dir, monkeypatch):
    # a "FileScan parquet" node holds both scan names; it must count once
    monkeypatch.syspath_prepend(os.path.join(_REPO, "tools"))
    import plan_audit

    from csv_to_parquet_aws_datalake_spark import registry

    registry.load_all()
    for name, n_scans in (("a01_scan_agg", 1), ("c01_inner_equi", 2)):
        df = registry.QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == n_scans, plan
        assert plan_audit.count_smells(plan)["scans"] == n_scans, name


def test_plan_audit_fails_on_batch_plan_build_error(monkeypatch):
    # only a stream drain is a legitimate skip: a batch query whose plan
    # fails to build must make the CLI exit non-zero
    import sys
    import types

    monkeypatch.syspath_prepend(os.path.join(_REPO, "tools"))
    import plan_audit

    from csv_to_parquet_aws_datalake_spark import session

    monkeypatch.setattr(session, "build_session", lambda *a, **k: types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None)))
    monkeypatch.setattr(sys, "argv", ["plan_audit.py", "unused_sf_dir"])
    drain = {"j01_stream": {"skipped": "streaming-drain"}}
    monkeypatch.setattr(plan_audit, "sweep", lambda *a: drain)
    assert plan_audit.main() == 0
    failed = {**drain, "a01_scan_agg": {"skipped": "AnalysisException"}}
    monkeypatch.setattr(plan_audit, "sweep", lambda *a: failed)
    assert plan_audit.main() == 1


def test_i67_rank_construction_ties_at_the_cut(spark):
    # VERDICT r16 item 6: i67's fusion FORMULA has a pure-Python
    # reference (tests/test_r16_queries.py), but the RANK CONSTRUCTION
    # (rounded-score ties, doc_id tie-breaks, the top-N cut) shares
    # rank-then-sum arithmetic with the oracle — the both-engines-wrong
    # class.  Drive the exact exported operators on a hand-built frame
    # where a 3-way score tie STRADDLES the top-N boundary, and check
    # against an independent pure-Python ranking.
    from csv_to_parquet_aws_datalake_spark.operators.llm_vectors import (
        _RRF_K,
        _RRF_SCALE,
        rrf_fuse,
        rrf_ranked,
        rrf_topn_branch,
    )

    TOPN = 3
    # ranker A, probe q: tie at score 8.0 across docs 12/7/30 straddles
    # the N=3 cut (positions 2-4); the cut must keep docs 7 and 12 (the
    # LOWEST ids among the tied), never doc 30
    side_a = [("q", 5, 9.0), ("q", 12, 8.0), ("q", 7, 8.0),
              ("q", 30, 8.0), ("q", 2, 7.0)]
    # ranker B overlaps on docs 7/5: docs 40 and 9 tie at 1.5 filling
    # positions 2-3 (id order decides WHICH rank each gets), pushing
    # docs 5 and 99 past B's cut — doc 5 must then fuse from A alone
    side_b = [("q", 7, 3.5), ("q", 40, 1.5), ("q", 9, 1.5),
              ("q", 5, 0.5), ("q", 99, 0.25)]
    schema = "query_id string, doc_id long, score double"
    df_a = spark.createDataFrame(side_a, schema)
    df_b = spark.createDataFrame(side_b, schema)

    fused = rrf_fuse(
        rrf_ranked([rrf_topn_branch(df_a, "q", TOPN)]).unionByName(
            rrf_ranked([rrf_topn_branch(df_b, "q", TOPN)])))
    got = {(r["query_id"], r["doc_id"]): (r["n_rankers"], r["rrf_e6"])
           for r in fused.collect()}

    # independent pure-Python recomputation of the whole contract
    def py_ranks(rows):
        top = sorted(rows, key=lambda r: (-r[2], r[1]))[:TOPN]
        return {doc: i + 1 for i, (_, doc, _) in enumerate(top)}

    want = {}
    for ranks in (py_ranks(side_a), py_ranks(side_b)):
        for doc, rnk in ranks.items():
            n, s = want.get(("q", doc), (0, 0))
            want[("q", doc)] = (n + 1, s + _RRF_SCALE // (_RRF_K + rnk))
    assert got == want
    # the tie-straddle is real: doc 30 (tied at 8.0, highest id) is cut
    # from A, docs 7/12 survive; in B the 1.5 tie ranks doc 9 (lower id)
    # rank 2 and doc 40 rank 3, so their fused scores DIFFER; doc 5,
    # pushed past B's cut by the tie pair, fuses from A alone
    assert ("q", 30) not in got and ("q", 12) in got
    assert got[("q", 7)][0] == 2  # fused across both rankers
    assert got[("q", 9)][1] > got[("q", 40)][1]
    assert got[("q", 5)][0] == 1 and ("q", 99) not in got


def test_i03_jaccard_boundary_on_crafted_frame(spark):
    # i03's shingling, distinct-set counts, and >= 0.1 threshold all
    # share their arithmetic with the oracle (the both-engines-wrong
    # class the i67 tie pin closed for RRF — r17 extends the discipline
    # here).  Drive the exported kernel on a crafted frame where the
    # Jaccard sits EXACTLY on the threshold, just below it, and where
    # repeated shingles make array_distinct load-bearing, against a
    # from-scratch pure-Python recomputation.
    from csv_to_parquet_aws_datalake_spark.operators.llm_text import (
        shingle_jaccard_pairs,
    )

    rows = [
        # A: 5 distinct shingles, shares exactly {t1 t2 t3} with B and C
        (1, "t1 t2 t3 a1 a2 a3 a4"),
        # B: 6 distinct -> jac(A,B) = 1/(5+6-1) = 0.1 EXACTLY (kept)
        (2, "x1 x2 t1 t2 t3 x3 x4 x5"),
        # C: 7 distinct -> jac(A,C) = 1/11 ~ 0.090909 (cut)
        (3, "y1 y2 t1 t2 t3 y3 y4 y5 y6"),
        # D: repeated tokens -> shingle MULTISET of size 3 but ONE
        # distinct shingle; E shares it -> jac(D,E) = 1/(1+3-1) = 1/3
        (4, "t t t t t"),
        (5, "t t t z1 z2"),
        # F: under 3 tokens -> no shingles, never a candidate
        (6, "t t"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # 6 rows through three 32-partition shuffles is pure task overhead
    # (measured 21.8 s); one partition reads the same semantics in ~4 s
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        got = {(r["da"], r["db"]): r["jac"]
               for r in shingle_jaccard_pairs(df).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    def shingles(text):
        t = text.split(" ")
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    sets = {i: shingles(tx) for i, tx in rows if len(tx.split(" ")) >= 3}
    want = {}
    for a in sorted(sets):
        for b in sorted(sets):
            if a < b and sets[a] & sets[b]:
                j = round(len(sets[a] & sets[b])
                          / len(sets[a] | sets[b]), 6)
                if j >= 0.1:
                    want[(a, b)] = j
    assert got == want
    # the boundary is real: the exact-0.1 pair is kept, the 1/11 pair
    # cut, and the repeated-shingle pair proves distinct-set semantics
    assert (1, 2) in got and got[(1, 2)] == 0.1
    assert (1, 3) not in got
    assert (4, 5) in got and got[(4, 5)] == round(1 / 3, 6)
    assert not any(6 in pair for pair in got)


def test_i21_rolling_hash_matches_pure_python(spark):
    # i21's fold (acc*31 + tokval) % 1e9+7 and its token-value formula
    # are MIRRORED into both engine dialects — the both-engines-wrong
    # class.  Recompute from scratch in Python over crafted token
    # classes: empty token (scores length-only = 0), single char,
    # multibyte first/last chars (Spark ascii() = codepoint, matching
    # ord()), a repeated-token doc (order sensitivity: swapped tokens
    # must hash differently), and a long doc exercising the modulus.
    from csv_to_parquet_aws_datalake_spark.operators.llm_text import (
        rolling_hash_frame,
    )

    rows = [
        (1, "hello world"),
        (2, "world hello"),            # same multiset, different order
        (3, "a"),
        (4, " doubled  spaces"),       # split(' ') yields EMPTY tokens
        (5, "émoji \U0001F600 ünïcode"),
        (6, "x " * 499 + "x"),         # 500 tokens, folds past the mod
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["rh"] for r in rolling_hash_frame(df).collect()}

    def tokval(x):
        v = len(x) * 131
        if x:
            v += ord(x[0]) * 7 + ord(x[-1])
        return v

    want = {}
    for doc_id, text in rows:
        rh = 0
        for x in text.split(" "):
            rh = (rh * 31 + tokval(x)) % 1000000007
        want[doc_id] = rh
    assert got == want
    assert got[1] != got[2]  # order sensitivity is the operator's point


def test_i16_simhash_matches_pure_python(spark):
    # the i16 digit/bit arithmetic is generated once and mirrored
    # verbatim into both dialects — a wrong bit-index derivation would
    # be wrong on both engines.  Recompute the FULL 16-bit fingerprint
    # from scratch (hashlib md5 -> first 4 hex digits -> 4 bits each ->
    # frequency-weighted sign sums -> fp bits where sum > 0) on crafted
    # docs: a single token (every bit-sum is +-1, no zeros), a 2-token
    # doc (bits where the tokens' md5 bits DIFFER sum to exactly 0 and
    # must score 0 — the > 0 boundary), and a repeated-token doc
    # proving frequency weighting (t's bits dominate x's).
    import hashlib

    from csv_to_parquet_aws_datalake_spark.operators.llm_text import (
        simhash_frame,
    )

    rows = [
        (1, "solo"),
        (2, "alpha beta"),
        (3, "t t t x"),
        (4, "émoji \U0001F600"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["fp"] for r in simhash_frame(df).collect()}

    def simhash(text):
        sums = [0] * 16
        for tok in text.split(" "):
            h = hashlib.md5(tok.encode()).hexdigest()
            for p in range(4):
                d = int(h[p], 16)
                for b in range(4):
                    sums[p * 4 + b] += 2 * ((d >> b) & 1) - 1
        return sum(1 << i for i in range(16) if sums[i] > 0)

    want = {doc_id: simhash(text) for doc_id, text in rows}
    assert got == want
    # the zero-sum boundary is exercised: alpha/beta's md5 first-16
    # bits differ somewhere, so doc 2 has at least one cancelled bit —
    # fp must differ from the would-be ">= 0" scoring
    a, b = (hashlib.md5(t.encode()).hexdigest() for t in ("alpha", "beta"))
    cancelled = [p * 4 + bb for p in range(4) for bb in range(4)
                 if ((int(a[p], 16) >> bb) & 1) != ((int(b[p], 16) >> bb) & 1)]
    assert cancelled
    ge_scoring = want[2] + sum(1 << i for i in cancelled)
    assert got[2] != ge_scoring


def test_srp_code_sign_boundary_on_crafted_vectors(spark):
    # the SRP sign-code arithmetic (bit i set iff dot > 0) is mirrored
    # into the i18/i59 oracles — the both-engines-wrong class — and its
    # two boundary cases never occur in the corpus: a dot of EXACTLY 0
    # (must leave the bit unset: > 0, not >= 0) and a missing basis id
    # (NULL column -> constantly-0 bit, the srp_basis docstring
    # contract).  Craft both and recompute the codes in Python.
    from pyspark.sql import functions as F

    from csv_to_parquet_aws_datalake_spark.operators.llm_vectors import (
        srp_basis,
        srp_code,
    )

    # basis: b1 = [1,0], b2 = [0,1], vec_id 3 ABSENT -> b3 is NULL
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]),
         (10, [0.5, 0.0]),    # dot b1 > 0, dot b2 == 0 (boundary), b3 NULL
         (11, [-0.5, 0.25]),  # dot b1 < 0, dot b2 > 0
         (12, [0.0, 0.0]),    # every dot exactly 0 -> code 0
         (13, [2.0, 3.0])],   # both positive
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["code"]
           for r in emb.crossJoin(F.broadcast(srp_basis(emb)))
           .select("vec_id", srp_code("embedding").alias("code"))
           .collect()}

    basis = {1: [1.0, 0.0], 2: [0.0, 1.0], 3: None}
    vecs = {1: [1.0, 0.0], 2: [0.0, 1.0], 10: [0.5, 0.0],
            11: [-0.5, 0.25], 12: [0.0, 0.0], 13: [2.0, 3.0]}

    def code(v):
        c = 0
        for i in (1, 2, 3):
            b = basis[i]
            if b is not None and sum(x * y for x, y in zip(v, b)) > 0:
                c += 1 << (3 - i)
        return c

    assert got == {k: code(v) for k, v in vecs.items()}
    assert got[10] == 4   # the dot==0 bit stayed unset
    assert got[12] == 0   # all-zero vector lands in bucket 0
    assert all(c < 8 for c in got.values())  # b3's NULL bit never set


def test_i68_calibration_buckets_on_crafted_frame(spark):
    # i68's bucket construction (slot agreement, band-collision
    # candidates) and its jacc_e6 = (shared * 1e6) div (na + nb -
    # shared) fixed-point arithmetic all mirror the oracle — the
    # both-engines-wrong class the r17 census closed for i03/i21/i16.
    # Drive the registered kernel on a crafted frame whose pairs land
    # in FOUR different buckets (4/5/7/8 — including two multi-pair
    # buckets exercising the integer-mean division and an exact dup
    # pinning the J = 1.0 identity), against a from-scratch pure-Python
    # recomputation via hashlib — signatures, bands, candidates, shared
    # counts, and the bucket census all recomputed independently.
    import hashlib
    import itertools

    from csv_to_parquet_aws_datalake_spark.operators.llm_text import (
        lsh_calibration_frame,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "the quick brown fox leaps over the lazy dog tonight"),
        (4, "a completely different document about spark engines here"),
        (5, "the quick brown fox jumps over the lazy dog tonight"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # tiny frame: 32-partition shuffles are pure task overhead (the
    # r17 census suite-cost lesson)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        got = {r["n_sig_match"]:
               (r["n_pairs"], r["mean_jacc_e6"],
                r["min_jacc_e6"], r["max_jacc_e6"])
               for r in lsh_calibration_frame(df).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    def shingles(text: str) -> set[str]:
        t = text.split(" ")
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    def sig(shs: set[str]) -> list[str]:
        return [min(md5(f"{k // 4}|{sh}")[(k % 4) * 8:(k % 4) * 8 + 8]
                    for sh in shs) for k in range(8)]

    def bands(s: list[str]) -> set[tuple[int, str]]:
        return {(j, md5(s[2 * j] + s[2 * j + 1])) for j in range(4)}

    sets = {i: shingles(tx) for i, tx in rows}
    sigs = {i: sig(v) for i, v in sets.items()}
    bds = {i: bands(s) for i, s in sigs.items()}
    buckets: dict[int, list[int]] = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        if not bds[a] & bds[b]:
            continue
        nm = sum(sigs[a][k] == sigs[b][k] for k in range(8))
        shared = len(sets[a] & sets[b])
        buckets.setdefault(nm, []).append(
            shared * 1_000_000 // (len(sets[a]) + len(sets[b]) - shared))
    want = {nm: (len(js), sum(js) // len(js), min(js), max(js))
            for nm, js in buckets.items()}
    assert got == want
    # the fixture is non-vacuous as crafted: four distinct buckets, two
    # of them multi-pair (the mean division is load-bearing), a genuine
    # partial overlap strictly inside (0, 1e6), the exact-dup identity
    # at exactly 1e6, and the unrelated doc 4 in no bucket at all
    assert set(got) == {4, 5, 7, 8}
    assert got[5][0] == 2 and got[7][0] == 2
    assert 0 < got[4][1] < 1_000_000
    assert got[8] == (1, 1_000_000, 1_000_000, 1_000_000)
    assert not any(4 in (a, b)
                   for a, b in itertools.combinations(sorted(sets), 2)
                   if bds[a] & bds[b])


def test_assign_nearest_centroid_prebuilt_cenarr_is_identical(spark):
    # r22: assign_nearest_centroid grew an optional pre-built centroid
    # frame so i29 can pin ONE table for both of its broadcast subtrees.
    # The parameter must be behavior-neutral: handing in the pinned
    # output of _centroid_table yields exactly the internal-build result.
    from csv_to_parquet_aws_datalake_spark.operators.llm_vectors import (
        _centroid_table,
        assign_nearest_centroid,
    )

    df = spark.createDataFrame(
        [(i, "abc"[i % 3], [float(i % 4), float((i * 7) % 5), 1.0])
         for i in range(1, 13)],
        "vec_id long, label string, embedding array<float>")
    internal = {(r["vec_id"], r["clabel"])
                for r in assign_nearest_centroid(df).collect()}
    pinned = _centroid_table(df).localCheckpoint()
    handed = {(r["vec_id"], r["clabel"])
              for r in assign_nearest_centroid(df, cenarr=pinned).collect()}
    assert internal == handed and len(internal) == 12


def test_profile_tool_records_three_layers_and_counters(sf_dir):
    # tools/profile.py on a write query (a09: an eager curated write in its
    # builder) and an iterative kernel (i27: checkpointed star rounds):
    # both carry the three-layer split with build-time jobs, event-log
    # counters and a plan fingerprint; no job ran outside a query's span.
    import json
    import subprocess
    import sys

    env = {"SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_DRIVER_MEM": "2g", **os.environ}
    proc = subprocess.run(
        [sys.executable, "tools/profile.py", os.path.join(os.path.dirname(sf_dir), "sf0.001"),
         "a09", "i27"],
        cwd=_REPO, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    with open(os.path.join(_REPO, ".scratch", "profile.json")) as fh:
        out = json.load(fh)
    assert out["failed"] == [] and out["unattributed"] == []
    assert sorted(out["queries"]) == ["a09_curated_write", "i27_cc_bigstar"]
    seconds = ("cold_s", "warm_s", "build_s", "execute_s", "transfer_s")
    for name, r in out["queries"].items():
        assert name in proc.stdout and r["build_jobs"] > 0, name
        assert all(isinstance(r[k], float) for k in seconds), name
        assert min(r["shuffle_read_bytes"], r["shuffle_write_bytes"], r["spill_bytes"]) >= 0
        assert r["task_skew"] >= 1.0 and {"exchanges", "scans", "py_udf"} <= set(r["plan"])
    # the checkpoint rounds shuffle, and the counters must see it
    assert out["queries"]["i27_cc_bigstar"]["shuffle_write_bytes"] > 0
    # every generated class is compiled in the cold run and reused after
    for name, r in out["queries"].items():
        assert r["cold_compiles"] > 0 and r["warm_compiles"] == 0, (name, r)
    # a sibling script run from tools/ has tools/ first on sys.path, where
    # profile.py must not shadow the standard library's `profile` (cProfile
    # imports it, and pyspark imports cProfile)
    code = ("import sys; sys.path.insert(0, 'tools'); import pyspark.sql, profile; "
            "assert profile.Profile and 'tools' not in profile.__file__")
    subprocess.run([sys.executable, "-c", code], cwd=_REPO, check=True, timeout=120)


def test_second_call_compiles_no_new_classes(spark, sf_dir):
    # build_session sizes Spark's codegen cache to the registry's working
    # set; under Spark's 100-entry default, i59 (97 generated classes)
    # recompiled 21-47 of them in Janino on every repeat call
    from csv_to_parquet_aws_datalake_spark.operators.llm_vectors import (
        i59_semdedup_census_ann,
    )

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    i59_semdedup_census_ann(spark, sf).collect()
    c0 = compiles()
    i59_semdedup_census_ann(spark, sf).collect()
    assert compiles() - c0 == 0


# (id, text): NULL, empty, a single token, exactly two, a doubled space
# (an empty-string token), a leading space, and 6 and 7 tokens
_TEXT_EDGE_ROWS = [(1, None), (2, ""), (3, "a"), (4, "a b"), (5, "a  b c"),
                   (6, " a b c d e"), (7, "a b c d e f"),
                   (8, "a b c d e f g")]
_TEXT_EDGE_TOKENS = {
    1: None, 2: [""], 3: ["a"], 4: ["a", "b"], 5: ["a", "", "b", "c"],
    6: ["", "a", "b", "c", "d", "e"], 7: ["a", "b", "c", "d", "e", "f"],
    8: ["a", "b", "c", "d", "e", "f", "g"],
}
_TEXT_EDGE_NGRAMS = {
    2: {1: [], 2: [], 3: [], 4: ["a b"], 5: ["a ", " b", "b c"],
        6: [" a", "a b", "b c", "c d", "d e"],
        7: ["a b", "b c", "c d", "d e", "e f"],
        8: ["a b", "b c", "c d", "d e", "e f", "f g"]},
    3: {1: [], 2: [], 3: [], 4: [], 5: ["a  b", " b c"],
        6: [" a b", "a b c", "b c d", "c d e"],
        7: ["a b c", "b c d", "c d e", "d e f"],
        8: ["a b c", "b c d", "c d e", "d e f", "e f g"]},
    5: {1: [], 2: [], 3: [], 4: [], 5: [],
        6: [" a b c d", "a b c d e"],
        7: ["a b c d e", "b c d e f"],
        8: ["a b c d e", "b c d e f", "c d e f g"]},
}
_TEXT_EDGE_CHUNKS = {
    2: {1: [], 2: [""], 3: ["a"], 4: ["a b"], 5: ["a ", "b c"],
        6: [" a", "b c", "d e"], 7: ["a b", "c d", "e f"],
        8: ["a b", "c d", "e f", "g"]},
    3: {1: [], 2: [""], 3: ["a"], 4: ["a b"], 5: ["a  b", "c"],
        6: [" a b", "c d e"], 7: ["a b c", "d e f"],
        8: ["a b c", "d e f", "g"]},
    5: {1: [], 2: [""], 3: ["a"], 4: ["a b"], 5: ["a  b c"],
        6: [" a b c d", "e"], 7: ["a b c d e", "f"],
        8: ["a b c d e", "f g"]},
}


@pytest.mark.parametrize("n", [2, 3, 5])
def test_text_builders_on_edge_rows(spark, n):
    # short documents are where Spark's descending sequence(1, 0) would
    # hand slice a zero start; under ANSI that raises, so the builders
    # must answer with an empty array instead (NULL text included)
    from csv_to_parquet_aws_datalake_spark.functions.text import (
        chunks,
        ngrams,
        tokens,
    )

    t = (spark.createDataFrame(_TEXT_EDGE_ROWS, "id long, text string")
         .select("id", tokens().alias("t")))
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = t.select("id", "t", ngrams("t", n).alias("g"),
                        chunks("t", n).alias("c")).collect()
        pos = t.select("id", F.posexplode(ngrams("t", n))).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert {r["id"]: r["t"] for r in rows} == _TEXT_EDGE_TOKENS
    assert {r["id"]: r["g"] for r in rows} == _TEXT_EDGE_NGRAMS[n]
    assert {r["id"]: r["c"] for r in rows} == _TEXT_EDGE_CHUNKS[n]
    # posexplode numbers each document's grams from 0, the position of
    # the gram's first token (the span kernels' `pos`)
    assert sorted((r["id"], r["pos"], r["col"]) for r in pos) == sorted(
        (i, p, g) for i, gs in _TEXT_EDGE_NGRAMS[n].items()
        for p, g in enumerate(gs))


def _balanced(depth: int) -> str:
    """Regex for one parenthesized group nested at most ``depth`` deep."""
    group = r"\([^()]*\)"
    for _ in range(depth - 1):
        group = rf"\((?:[^()]|{group})*\)"
    return group


@pytest.mark.parametrize("pattern,owner", [
    # functions/text.py alone decides how text becomes tokens and tokens
    # become grams; a hand-rolled split or sequence-indexed transform
    # elsewhere would reopen the short-document trap
    (r"F\.split\(|(?<![\w.])split\(|transform\(sequence\(",
     "functions/text.py"),
    # every plan width is spark.sql.shuffle.partitions; a plan keyed on
    # the host's core count takes a different branch on every machine
    # (bracketed so that a grep of the tree does not find this line)
    (r"default[P]arallelism", None),
    # a Python lambda's variable is named from a process-wide counter, so
    # the plan text would depend on what the process built before; SQL
    # text keeps one fixed name
    (r"F\.(?:transform|aggregate|filter|transform_values|map_filter"
     rf"|zip_with)\((?:[^()]|{_balanced(4)})*?\blambda\b", None),
    # operators/llm_text.py alone owns the MinHash slot hash
    # md5('<k//4>|' || shingle), Spark side and oracle side; a second copy
    # elsewhere would fork the signature contract
    (r"md5\(concat\('[\d{][^']*\||md5\('\d\|' \|\|",
     "operators/llm_text.py"),
], ids=["tokenizer", "width", "hof-lambda", "minhash"])
def test_idiom_has_one_owner(pattern, owner):
    import re

    pkg = os.path.join(_REPO, "csv_to_parquet_aws_datalake_spark")
    rx = re.compile(pattern)
    hits = []
    for root, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            rel = os.path.relpath(path, pkg)
            if not f.endswith(".py") or rel == owner:
                continue
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            hits += [f"{rel}:{src.count(chr(10), 0, m.start()) + 1}: "
                     f"{m.group(0)[:80]}" for m in rx.finditer(src)]
    assert not hits, "\n".join(hits)
