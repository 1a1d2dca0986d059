"""i59 semdedup-ANN (registered round 11 — graduated from the r10
staging module): hand-computed routing/nprobe pins, pseudo-random sweeps
of the SRP-routed assignment against a pure-Python reference of the SAME
approximate algorithm, and census invariants + unpinned-assignment plan
lints."""

from __future__ import annotations

import pytest

from csv_to_parquet_aws_datalake_spark import registry
from csv_to_parquet_aws_datalake_spark.operators.llm_vectors import (
    assign_nearest_centroid_ann,
)
from csv_to_parquet_aws_datalake_spark.plans.checks import (
    physical_plan,
    unpartitioned_window_nodes,
)
from tests.differential import round6_half_up as _round6_half_up

registry.load_all()


def test_ann_assignment_routing_and_nprobe(spark):
    # hand-computed frame pinning the routing semantics at both nprobe
    # settings.  Basis = vectors 1..3 (the axes).  Centroids:
    # c0 = mean(v1,v2,v3,v5) = [.5,.5,.5,0] (code 111=7), c1 = v4 =
    # [-1,-1,-1,1] (code 000=0).  v5 codes 7 -> its own bucket
    # (Hamming 0) -> c0; v4 codes 0 -> c1.  v1/v2/v3 code 100/010/001 —
    # buckets with NO centroid.  At nprobe=1 each one-hot code routes
    # ONLY to occupied bucket 0 (distance 1 beats bucket 7's 2), so all
    # three land on c1 even though c0 is the dense-cosine winner — the
    # single-probe recall loss, pinned so a semantics change is loud.
    # At the default nprobe=3 both occupied buckets are probed and the
    # assignment recovers the dense answer.
    rows = [
        (1, "c0", [1.0, 0.0, 0.0, 0.0]),
        (2, "c0", [0.0, 1.0, 0.0, 0.0]),
        (3, "c0", [0.0, 0.0, 1.0, 0.0]),
        (4, "c1", [-1.0, -1.0, -1.0, 1.0]),
        (5, "c0", [1.0, 1.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>")
    got1 = {r["vec_id"]: r["clabel"]
            for r in assign_nearest_centroid_ann(df, nprobe=1).collect()}
    assert got1 == {1: "c1", 2: "c1", 3: "c1", 4: "c1", 5: "c0"}
    got3 = {r["vec_id"]: r["clabel"]
            for r in assign_nearest_centroid_ann(df).collect()}
    assert got3 == {1: "c0", 2: "c0", 3: "c0", 4: "c1", 5: "c0"}


def _assign_ann_py(rows, bits=3, nprobe=3):
    # pure-Python mirror of assign_nearest_centroid_ann: exact-mean
    # centroids, data-derived sign basis (vec_ids 1..bits; missing ->
    # bit constantly 0), code -> nprobe-nearest-occupied-buckets Hamming
    # routing (lowest-bucket tie-break), round6-cosine argmax with label
    # tie-break among the probed buckets' centroids
    import math

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * 1.0 * y
        return s

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    vec = {vid: v for vid, _, v in rows}
    labels = sorted({lb for _, lb, _ in rows})
    cen = {}
    for lb in labels:
        mem = [v for _, l2, v in rows if l2 == lb]
        cen[lb] = [sum(col) / len(mem) for col in zip(*mem)]
    basis = [vec.get(i) for i in range(1, bits + 1)]

    def code(v):
        c = 0
        for i, b in enumerate(basis):
            if b is not None and dot(v, b) > 0:
                c += 1 << (bits - 1 - i)
        return c

    cbuck = {lb: code(c) for lb, c in cen.items()}
    occupied = sorted(set(cbuck.values()))

    def route(c):
        ranked = sorted(occupied,
                        key=lambda b: (bin(c ^ b).count("1"), b))
        return set(ranked[:nprobe])

    out = {}
    for vid, _, v in rows:
        probed = route(code(v))
        cands = [lb for lb in labels if cbuck[lb] in probed]
        out[vid] = min(
            cands, key=lambda lb: (-_round6_half_up(cos(v, cen[lb])), lb))
    return out


@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize("nprobe", [1, 3])
def test_ann_assignment_matches_pure_python(spark, seed, nprobe):
    # deterministic pseudo-random integer vector sets (md5-free local
    # LCG) sweep bucket occupancy, Hamming routing, and argmax ties the
    # constructed example can't; integer values keep every intermediate
    # bit-identical between the engines and the reference.  FOUR labels
    # (up to 4 occupied buckets) and an nprobe=1 leg keep the routing
    # stage discriminating — with fewer occupied buckets than nprobe,
    # every vector probes everything and the sweep would degenerate to
    # dense argmax, pinning nothing about the routing (r10 second
    # review)
    state = seed * 2654435761 % (2**32)

    def rnd(n):
        nonlocal state
        state = (1103515245 * state + 12345) % (2**31)
        return state % n

    n = 8 + rnd(5)
    rows = [(i, "abcd"[rnd(4)],
             [float(1 + rnd(3)), float(rnd(4)), float(rnd(4))])
            for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>")
    got = {r["vec_id"]: r["clabel"]
           for r in assign_nearest_centroid_ann(df, nprobe=nprobe).collect()}
    assert got == _assign_ann_py(rows, nprobe=nprobe)


def test_i59_census_totals_and_plan(spark, sf_dir):
    from csv_to_parquet_aws_datalake_spark.loader import load_table

    df = registry.QUERIES["i59_semdedup_census_ann"](spark, sf_dir)
    rows = df.collect()
    n_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(r["n_vectors"] for r in rows) == n_emb
    for r in rows:
        assert 0 <= r["n_dup"] < r["n_vectors"], r
        assert r["dup_share"] == pytest.approx(
            r["n_dup"] / r["n_vectors"], abs=1e-6)

    # census plan: the pair stage stays an equi-join on the assigned
    # cluster — no cartesian anywhere
    assert "CartesianProduct" not in physical_plan(df)

    # UNPINNED assignment plan (the localCheckpoint pin hides it from
    # the census plan — the i58 lesson): the bucketed scoring is an
    # EQUI join (BroadcastHashJoin on the SRP code), never an
    # unbroadcast cartesian, and every window is vec_id-partitioned
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = assign_nearest_centroid_ann(emb)
    aplan = physical_plan(assigned)
    assert "BroadcastHashJoin" in aplan
    assert "CartesianProduct" not in aplan
    assert not unpartitioned_window_nodes(assigned)
