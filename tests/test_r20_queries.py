"""k18 audio silence segmentation: the pure-Python-reference,
crafted-payload, and plan-shape pins.  Also h26 VARIANT semi-structured
extraction: its try-semantics and plan pins.  Oracle
parity runs through the registry-wide differential suite
(tests/test_differential.py) like every registered query; both exchange
budgets are pinned in tools/plan_budget.json at the §7.18 pre-measured
count of 1 (k18: one doc_id hash exchange reused by the islands window
and both aggregations; h26: map-side parse + extraction into the
4-group aggregate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from csv_to_parquet_aws_datalake_spark import registry
from csv_to_parquet_aws_datalake_spark.plans.checks import physical_plan

registry.load_all()


def test_k18_matches_pure_python_segments(spark, sf_dir):
    # independent reference: framing, integer energy threshold, and
    # run-length census recomputed in Python from raw text bytes (the
    # shared-formula hazard guard — Spark kernel and DuckDB oracle both
    # frame via byte arithmetic, so both could mis-bracket the same
    # way), plus non-vacuity: the threshold must actually segment (some
    # multi-segment doc exists)
    from csv_to_parquet_aws_datalake_spark.operators.multimodal import (
        _K18_TAU2,
    )

    got = {r["doc_id"]: (r["n_segments"], r["n_active_frames"],
                         r["longest_run"], r["first_active_frame"])
           for r in registry.QUERIES["k18_audio_silence_segments"](
               spark, sf_dir).collect()}

    want = {}
    for r in (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .select("doc_id", "text").collect()):
        if r["text"] is None:
            continue
        b = r["text"].encode("utf-8")
        runs, cur = [], 0
        first = None
        for fi in range(len(b) // 64):
            frame = b[fi * 64:(fi + 1) * 64]
            if sum(x * x for x in frame) >= _K18_TAU2:
                if first is None:
                    first = fi
                cur += 1
            elif cur:
                runs.append(cur)
                cur = 0
        if cur:
            runs.append(cur)
        if runs:
            want[r["doc_id"]] = (len(runs), sum(runs), max(runs), first)
    assert got == want and got
    assert any(n > 1 for n, _, _, _ in want.values())


def test_k18_plan_shape(spark, sf_dir):
    # the framing kernel must be ONE ArrowEvalPython/mapInPandas stage
    # straight over the scan with no exchange before the threshold
    # filter, and the islands window must be doc_id-partitioned (the
    # registry-wide anti-pattern sweep rejects unpartitioned windows;
    # this pins the positive form).  The exchange COUNT itself is gated
    # by tools/plan_budget.json (entry: 1) through the budget sweep.
    plan = physical_plan(registry.QUERIES["k18_audio_silence_segments"](
        spark, sf_dir))
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_k18_kernel_on_crafted_payloads(spark):
    # the corpus may not exercise every boundary class — prove the
    # kernel on a crafted frame: payload shorter than one frame
    # (excluded), a single all-silent frame (excluded), a single active
    # frame, active-silent-active alternation (two segments), multibyte
    # text whose BYTE framing differs from its character count, and a
    # payload whose tail bytes past the last full frame must be ignored
    from csv_to_parquet_aws_datalake_spark.operators.multimodal import (
        _K18_TAU2,
        audio_segments_frame,
    )

    rows = [
        (1, "x" * 30),                       # < 64 bytes: no frame
        (2, " " * 64),                       # one silent frame (32^2*64)
        (3, "z" * 64),                       # one active frame (122^2*64)
        (4, "z" * 64 + " " * 64 + "z" * 64),  # active,silent,active
        (5, "é" * 64),                  # 128 BYTES -> 2 active frames
        (6, "z" * 64 + " " * 40),            # 40 tail bytes ignored
    ]
    assert 32 * 32 * 64 < _K18_TAU2 <= 122 * 122 * 64  # classes as built
    df = spark.createDataFrame(rows, "doc_id long, text string") \
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    got = {r["doc_id"]: (r["n_segments"], r["n_active_frames"],
                         r["longest_run"], r["first_active_frame"])
           for r in audio_segments_frame(df).collect()}
    assert got == {
        3: (1, 1, 1, 0),
        4: (2, 2, 1, 0),
        5: (1, 2, 2, 0),
        6: (1, 1, 1, 0),
    }


def test_h26_variant_try_semantics(spark, sf_dir):
    # the try-typed extraction contract, pinned per shape: the numeric
    # shape types every k (n_k_typed = n), the string shape types NONE
    # (its "id<k>" never casts to bigint) while the untyped extraction
    # sees all of them, and the meta-less shape extracts nothing; and
    # the whole path stays JVM-side map-side (no Python, no cartesian)
    df = registry.QUERIES["h26_variant_semistructured"](spark, sf_dir)
    rows = {r["kind"]: r for r in df.collect()}
    assert set(rows) == {"click", "buy", "ping"}
    click, buy, ping = rows["click"], rows["buy"], rows["ping"]
    assert click["n_k_typed"] == click["n"] == click["n_k_any"]
    assert buy["n_k_typed"] == 0 and buy["n_k_any"] == buy["n"]
    assert buy["sum_k"] == 0
    assert ping["n_k_typed"] == ping["n_k_any"] == 0
    assert ping["sum_k"] == ping["sum_path1"] == 0
    assert click["sum_path1"] > 0

    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_h26_integral_k_guard_on_hostile_payloads(spark, tmp_path):
    # review r20: the integral-k embedding invariant is ENFORCED, not
    # assumed of the fixture — a decimal k (the engines' variant/JSON
    # casts diverge on it), a quoted k (builds invalid JSON the strict
    # parse_json would throw on), a missing k, and a NULL props row are
    # all dropped by the identical anchored ASCII-digit regex on both
    # engines, while integral k (positive AND negative) survives
    import json as _json

    import duckdb

    rows = [(0, 10, _json.dumps({"k": 5})),      # click shape, integral
            (1, 11, _json.dumps({"k": -7})),     # buy shape, negative int
            (2, 12, _json.dumps({"k": 3})),      # ping shape
            (3, 13, _json.dumps({"k": 1.5})),    # decimal -> dropped
            (4, 14, _json.dumps({"k": 'a"b'})),  # quote -> dropped
            (5, 15, _json.dumps({"x": 1})),      # k missing -> dropped
            (6, 16, None),                       # NULL props -> dropped
            # ADVICE r21: leading-zero digit strings pass an all-digits
            # test but splice into an INVALID JSON number literal
            # ('{"k":007,...}') that crashes strict parse_json AND the
            # oracle's CAST(j AS JSON) — the tightened
            # ^-?(0|[1-9][0-9]*)$ must drop them.  event_id 9 (% 3 == 0)
            # is the click shape where the crash lives; event_id 7
            # (% 3 == 1) is the buy shape, which would NOT crash (the k
            # splices inside a string) but must drop all the same
            (9, 17, _json.dumps({"k": "007"})),  # click, leading zero
            (7, 18, _json.dumps({"k": "-01"}))]  # buy, negative l.z.
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, props string")
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = registry.QUERIES["h26_variant_semistructured"](spark, d)
    scols = sorted(got.columns)
    srows = sorted(tuple(r[c] for c in scols) for r in got.collect())
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"'{d}/events.parquet/*.parquet'")
        orows = sorted(
            tuple(r[c] for c in scols) for _, r in con.execute(
                registry.ORACLES["h26_variant_semistructured"])
            .fetchdf().iterrows())
    finally:
        con.close()
    assert srows == orows
    # non-vacuity: exactly the three integral-k rows survive, one per
    # shape, and the guard demonstrably dropped the hostile six
    by_kind = {r["kind"]: r for r in got.collect()}
    assert set(by_kind) == {"click", "buy", "ping"}
    assert all(r["n"] == 1 for r in by_kind.values())
    assert by_kind["click"]["sum_k"] == 5
    assert by_kind["buy"]["n_k_typed"] == 0 and by_kind["buy"]["n_k_any"] == 1
