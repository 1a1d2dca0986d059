"""j11 TTL stream dedup: the TTL-lifecycle mechanism pins, plus i67's
independent reference.  Oracle parity runs through the registry-wide
differential suite (tests/test_differential.py) like every registered
query."""

from __future__ import annotations

import collections
import datetime

from csv_to_parquet_aws_datalake_spark import registry

registry.load_all()


def test_j11_ttl_lifecycle_pins(spark, sf_dir):
    # mechanism pins behind the oracle: (1) burst keys emit EXACTLY
    # twice — once at first sight, once at the post-eviction
    # recurrence; (2) the T0+5min echo (inside the TTL, in a LATER
    # micro-batch than the first sighting) never emits for a burst key,
    # proving cross-batch suppression, not just intra-batch distinct;
    # (3) the re-emission timestamp is the burst-1 time, proving state
    # was evicted rather than the first row replayed
    rows = registry.QUERIES["j11_stream_dedup_ttl"](spark, sf_dir).collect()
    t0 = datetime.datetime(2024, 1, 1, 0, 0)
    per_key = collections.defaultdict(list)
    for r in rows:
        per_key[r["key"]].append(r["ts"])
    # a NULL user_id yields a NULL dedup key; the r16 null-stripe probe
    # pinned that it states and re-emits exactly like a burst key
    # (DISTINCT's one-NULL-key treatment on both engines), so classify
    # None explicitly instead of letting `None < 100` raise (ADVICE r16)
    burst_keys = [k for k in per_key if k is None or k < 100]
    assert burst_keys
    for k in burst_keys:
        assert sorted(per_key[k]) == [
            t0, t0 + datetime.timedelta(minutes=180)]
    assert all(len(per_key[k]) == 1
               for k in per_key if k is not None and k >= 100)


def test_j11_fixture_is_five_ordered_files(spark, sf_dir):
    # the 5-micro-batch replay is the observable-TTL contract's
    # foundation: the fixture must be exactly 5 files and the file
    # stream source must see them in schedule order — (mtime, path)
    # agreeing — or "eviction before burst 1" is no longer guaranteed
    import os

    from csv_to_parquet_aws_datalake_spark.streaming.queries import (
        j11_fixture_dir,
    )

    registry.QUERIES["j11_stream_dedup_ttl"](spark, sf_dir)  # builds it
    src = j11_fixture_dir(sf_dir)
    names = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert names == [f"{i:02d}.parquet" for i in range(5)]
    mtimes = [os.stat(os.path.join(src, f)).st_mtime_ns for f in names]
    assert mtimes == sorted(mtimes)


def test_i67_matches_pure_python_rrf(spark, sf_dir):
    # independent reference: both rankers and the fusion recomputed in
    # Python from raw text/embeddings (the shared-formula hazard guard);
    # bm25 comes from the r15 reference helper so the two tests share
    # one ground truth for the lexical side.
    from csv_to_parquet_aws_datalake_spark.operators.llm_vectors import (
        _RRF_K,
        _RRF_SCALE,
        _RRF_TOPN,
        _rrf_probes,
    )
    from tests.test_r15_queries import _python_bm25

    got = {(r["query_id"], r["doc_id"]): (r["n_rankers"], r["rrf_e6"])
           for r in registry.QUERIES["i67_rrf_hybrid_rank"](
               spark, sf_dir).collect()}

    bm_scores = _python_bm25(spark, sf_dir)
    emb = {r["vec_id"]: r["embedding"]
           for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .collect()
           if r["embedding"] is not None and len(r["embedding"]) > 0
           and all(x is not None and x == x and abs(x) < 1e12
                   for x in r["embedding"])}

    def cos(a, b):
        # half-up like Spark F.round / DuckDB round — builtin round()'s
        # banker's rounding could flip a rank on an exact 6-decimal tie
        from tests.differential import round6_half_up

        num = sum(x * y for x, y in zip(a, b))
        den = (sum(x * x for x in a) ** 0.5) * (sum(y * y for y in b) ** 0.5)
        return round6_half_up(num / den)

    want: dict[tuple[str, int], list[int]] = {}
    for qid, vec in _rrf_probes():
        bm_top = sorted(
            ((d, s) for (q, d), s in bm_scores.items() if q == qid),
            key=lambda x: (-x[1], x[0]))[:_RRF_TOPN]
        qv = emb[vec]
        cs_top = sorted(
            ((v, cos(e, qv)) for v, e in emb.items() if v != vec),
            key=lambda x: (-x[1], x[0]))[:_RRF_TOPN]
        for side in (bm_top, cs_top):
            for rnk, (d, _) in enumerate(side, start=1):
                want.setdefault((qid, d), []).append(rnk)
    expected = {k: (len(rs), sum(_RRF_SCALE // (_RRF_K + r) for r in rs))
                for k, rs in want.items()}
    assert got == expected
    # the fusion must actually fuse on this fixture: at least one doc
    # ranked by both sides (recomputed above, not assumed)
    assert any(n == 2 for n, _ in expected.values())


def test_i67_plan_shape(spark, sf_dir):
    # top-N extraction is per-probe TakeOrderedAndProject branches (3
    # bm25 + 3 cosine — the i64 convention; never a window over the
    # full candidate sets), no cartesian, no row-at-a-time Python; the
    # rank windows run over the capped union and are partitioned
    # (assert_no_antipatterns in the differential sweep covers that)
    from csv_to_parquet_aws_datalake_spark.plans.checks import (
        physical_plan,
    )

    plan = physical_plan(
        registry.QUERIES["i67_rrf_hybrid_rank"](spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") == 6
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
