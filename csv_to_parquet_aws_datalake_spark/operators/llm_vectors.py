"""LLM-data-pipeline vector operators (SURVEY.md §2.9): cosine kNN,
pairwise similarity, embedding norms, and a bucketed (LSH-style) ANN path.

Scale design (§7.4): brute-force cosine is O(n·q) — correct baseline, dead
at 100 TB.  The scale path is i18's sign-random-projection bucketing: a
vector joins only its bucket (and at production scale, neighboring buckets
for recall), turning ANN into an equi-join + per-bucket top-k
(TakeOrderedAndProject), both shuffle-light and skew-tolerant.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import cosine, dot, norm
from ..loader import load_table, widen_if_narrow
from ..registry import query


def valid_embeddings(emb: DataFrame) -> DataFrame:
    """The vector family's input contract, enforced identically on both
    engines: an embedding is VALID iff non-NULL, non-empty, and every
    element is non-NULL and FINITE.  NULLs were contracted out in the
    r12 null sweep; the r13 EMPTY-ARRAY probe found the zero-length
    sibling broke 9 of 10 vector checks four different ways (ANSI
    DIVIDE_BY_ZERO on the 0/0 cosine, pyspark.ml gemv dimension crash
    in i19, DuckDB list-dimension errors the oracle cannot even express
    leniently, and two genuine value divergences in i11/i31); the r14
    NON-FINITE-ELEMENT probe found NaN/Inf elements broke 9 of 9 — Spark
    SQL orders NaN GREATEST and treats it as >= any threshold (NaN rows
    won i05/i18 top-k slots and flooded ~19k phantom pairs through
    i06's similarity gate) while four oracles hard-ERRORED casting NaN
    (the malformed-JSON class on the vector axis) — and NULL elements
    inside a non-NULL array are the same family (DuckDB's list kernels
    reject them outright, the r12 list_inner_product finding).  A
    100 TB corpus WILL contain embedding rows a broken upstream model
    filled with NaNs, so every query excludes them up front, map-side.
    The r14 EXTREME-MAGNITUDE leg then showed finite junk is the same
    class: a finite 1e20/3e38 element (float32 holds up to ~3.4e38)
    crashed the exact-decimal centroid landing (i23/i29/i59 — Spark
    NUMERIC_VALUE_OUT_OF_RANGE on DECIMAL(18,6), DuckDB the mirror
    error) and skewed i11's norms, so the element bound is the
    family's tightest landing capacity: |x| < 1e12 (which subsumes the
    Inf test — a real embedding is O(1)-magnitude, so anything near
    the bound is upstream garbage).  The element sweep remains an
    exact predicate (isnan / |x| >= 1e12, no float-threshold
    sensitivity at realistic magnitudes — unlike the rejected norm>0
    form).  The SQL twin is :func:`_valid_emb_sql`."""
    return emb.filter(
        F.col("embedding").isNotNull()
        & (F.size("embedding") > 0)
        & ~F.expr("exists(embedding, x -> x IS NULL OR isnan(x)"
                  " OR abs(x) >= 1e12D)"))


def _valid_emb_sql(col: str = "embedding") -> str:
    """DuckDB predicate twin of :func:`valid_embeddings`."""
    return (f"{col} IS NOT NULL AND len({col}) > 0"
            f" AND len(list_filter({col}, x -> x IS NULL OR isnan(x)"
            f" OR abs(x) >= 1e12)) = 0")


@query(
    "i05_cosine_knn",
    oracle=f"""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
               round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS cos
        FROM embeddings, q
        WHERE vec_id <> 0 AND {_valid_emb_sql()}
        ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def i05_cosine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k cosine neighbors of vec_id=0 (survey-validated
    formulation).  The 1-row query side is a broadcast; top-k compiles to
    TakeOrderedAndProject, so no global sort materializes."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        valid_embeddings(emb).crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select("vec_id",
                F.round(cosine("embedding", "qv"), 6).alias("cos"))
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
    )


I06_ROW_CAP = 10_000


@query(
    "i06_pairwise_sim_threshold",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings WHERE {_valid_emb_sql()}
        )
        SELECT a.vec_id AS va, b.vec_id AS vb,
               round(list_cosine_similarity(a.emb, b.emb), 6) AS cos
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.3
    """,
)
def i06_pairwise_sim_threshold(
    spark: SparkSession, sf_dir: str, *, allow_quadratic: bool = False
) -> DataFrame:
    """Embedding-cosine near-dup, exact all-pairs baseline (cos >= 0.3).

    O(n^2) theta join — the CORRECTNESS baseline only.  Hard-capped at
    I06_ROW_CAP input vectors (the probe reads at most cap+1 rows, not the
    full table): at corpus scale this is a disguised cartesian product, and
    a docstring alone does not stop anyone from running it there.  The
    production paths are i18_ann_bucketed (sign-random-projection
    bucketing, candidates only within a bucket), i19_euclidean_lsh
    (BucketedRandomProjectionLSH distance-threshold join), and
    i34_minhash_banding — all registered queries.  Pass
    ``allow_quadratic=True`` to override deliberately."""
    emb = valid_embeddings(load_table(spark, sf_dir, "embeddings"))
    if not allow_quadratic:
        n = emb.limit(I06_ROW_CAP + 1).count()
        if n > I06_ROW_CAP:
            raise ValueError(
                f"i06 is the O(n^2) all-pairs baseline and the input exceeds "
                f"{I06_ROW_CAP} vectors; use i18_ann_bucketed / "
                f"i19_euclidean_lsh / i34_minhash_banding at scale, or pass "
                f"allow_quadratic=True to override."
            )
    # hoist each vector's norm out of the pair join: norm(v) is evaluated
    # once per VECTOR (n left-folds) instead of twice per PAIR (n^2) — the
    # same doubles in the same fold order, so values are bit-identical to
    # the unhoisted form, but per-pair work drops to one dot product
    # widen the STREAMED side: a one-file scan is one task, which would run
    # every pair's higher-order-function dot product on a single core (33 s
    # for 2k vectors at sf0.1; 1.6 s widened).  No-op on multi-split
    # inputs, and row-wise work is order-independent, so output is
    # bit-identical.
    a = widen_if_narrow(
        emb.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"),
                   norm("embedding").alias("na")))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"),
                   norm("embedding").alias("nb"))
    c = F.round(dot("ea", "eb") / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, F.col("va") < F.col("vb"))
        .select("va", "vb", c.alias("cos"))
        .filter(F.col("cos") >= 0.3)
    )


@query(
    "i11_embedding_norms",
    oracle=f"""
        SELECT label,
               round(avg(sqrt(list_sum(list_transform(embedding, x -> x * 1.0 * x)))), 6)
                   AS avg_norm,
               count(*) AS n
        FROM embeddings WHERE {_valid_emb_sql()} GROUP BY 1
    """,
)
def i11_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = valid_embeddings(load_table(spark, sf_dir, "embeddings"))
    return emb.groupBy("label").agg(
        F.round(F.avg(norm("embedding")), 6).alias("avg_norm"),
        F.count(F.lit(1)).alias("n"),
    )


def _centroid_table(emb: DataFrame) -> DataFrame:
    """Per-label mean centroids as (clabel, carr) — exact DECIMAL(18,6)
    dimension sums (fold-order-proof, cf. e06) so both engines derive
    byte-identical centroids.  Shared by i23 and i29.

    Training rows need BOTH a label and a VALID embedding (r12 null-emb
    sweep + r13 empty-array probe): a NULL label would mint a phantom
    centroid, and a NULL/empty embedding silently skews the mean divisor
    cross-engine (Spark's posexplode emits no rows for it while the
    oracle's fixed range join counts it in count(*)) — excluded
    explicitly on both engines (_CENTROID_CTES_SQL carries the same
    WHERE)."""
    emb = valid_embeddings(emb.filter(F.col("label").isNotNull()))
    pos = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v"))
    cen = pos.groupBy("label", "pos").agg(
        (F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
         / F.count(F.lit(1))).alias("c"))
    return cen.groupBy(F.col("label").alias("clabel")).agg(
        F.expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
        .alias("carr"))


def assign_nearest_centroid(emb: DataFrame,
                            cenarr: DataFrame | None = None) -> DataFrame:
    """(vec_id, clabel, embedding): every vector paired with its nearest
    exact-decimal centroid — broadcast k-row centroid table, rounded
    cosine, vec_id-partitioned argmax window with a clabel tie-break.
    Single-sourced (r9 review: this block existed verbatim in i29 and
    the since-retired staged i58; a tie-break or rounding change must
    hit every consumer at once).  ``_ASSIGNED_CTE_SQL`` is the oracle-side twin.

    ``cenarr`` lets a caller that ALSO consumes the centroid table in a
    second broadcast subtree (i29's probe ranking) hand in one pinned
    frame — broadcast subtrees never share work, so without it the
    full-corpus centroid aggregation runs once per subtree (r22, the
    same defect class fixed in the ANN assigner's pin)."""
    from pyspark.sql.window import Window as W

    if cenarr is None:
        cenarr = _centroid_table(emb)
    # assignment needs only a VALID embedding (label-less vectors still
    # get a cluster); NULL/empty embeddings are out of contract on both
    # engines (r12 null sweep + r13 empty-array probe)
    return (
        valid_embeddings(emb)
        .crossJoin(F.broadcast(cenarr))
        .select("vec_id", "clabel", "embedding",
                F.round(cosine("embedding", "carr"), 6).alias("acos"))
        .withColumn("rn", F.row_number().over(
            W.partitionBy("vec_id").orderBy(F.desc("acos"), "clabel")))
        .filter(F.col("rn") == 1)
        .select("vec_id", "clabel", "embedding")
    )


# assign_nearest_centroid's oracle twin; expects cenarr in scope
# (_CENTROID_CTES_SQL) and binds (vec_id, clabel, emb)
_ASSIGNED_CTE_SQL = f"""
        assigned AS (
            SELECT e.vec_id, c.clabel, CAST(e.embedding AS DOUBLE[]) AS emb
            FROM embeddings e CROSS JOIN cenarr c
            WHERE {_valid_emb_sql("e.embedding")}
            QUALIFY row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(list_cosine_similarity(
                         CAST(e.embedding AS DOUBLE[]), carr), 6) DESC,
                         c.clabel) = 1
        )
"""


# i23's centroid CTE chain, shared verbatim with i29's oracle
_CENTROID_CTES_SQL = f"""
        pos AS (
            SELECT vec_id, label, p.pos, embedding[p.pos] AS v
            FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) p
            WHERE label IS NOT NULL AND {_valid_emb_sql()}
        ), cen AS (
            SELECT label, pos,
                   CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS c
            FROM pos GROUP BY 1, 2
        ), cenarr AS (
            SELECT label AS clabel, list(c ORDER BY pos) AS carr
            FROM cen GROUP BY 1
        )
"""


@query(
    "i23_nearest_centroid",
    oracle=f"""
        WITH {_CENTROID_CTES_SQL}, assigned AS (
            SELECT e.vec_id, e.label, c.clabel,
                   round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                carr), 6) AS cos
            FROM embeddings e CROSS JOIN cenarr c
            WHERE {_valid_emb_sql("e.embedding")}
            QUALIFY row_number() OVER (PARTITION BY e.vec_id
                                       ORDER BY cos DESC, c.clabel) = 1
        )
        SELECT label, clabel AS assigned, count(*) AS n
        FROM assigned GROUP BY 1, 2
    """,
)
def i23_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (one k-means step / centroid
    classifier): per-label centroids from posexplode + exact DECIMAL(18,6)
    dimension sums (fold-order-proof, cf. the e06 discipline), then every
    vector joins the broadcast 10-row centroid table and takes its
    highest-cosine centroid.  Output is the label-vs-assigned confusion
    census.  At 100 TB this is the IVF training loop shape: centroid agg is
    one shuffle on (label, dim); assignment is map-side vs broadcast
    centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    cenarr = _centroid_table(emb)
    from pyspark.sql.window import Window as W
    # assignment side: NULL/empty embeddings out of contract (label may
    # be NULL — a label-less vector still classifies, and GROUP BY groups
    # the NULL identically on both engines)
    scored = (
        valid_embeddings(emb)
        .crossJoin(F.broadcast(cenarr))
        .select("vec_id", "label", "clabel",
                F.round(cosine("embedding", "carr"), 6).alias("cos"))
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos"), "clabel")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("label", F.col("clabel").alias("assigned"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("i19_euclidean_lsh")  # projection seeds engine-specific -> rows-only
def i19_euclidean_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean ANN via BucketedRandomProjectionLSH (pyspark.ml): vectors
    hashing to the same projection bucket become join candidates — the
    production-scale alternative to i06's quadratic scan for distance-
    thresholded pairs."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # pin the vector conversion: the fit and BOTH join sides consume it,
    # and unpinned each re-scans and re-converts (same fix as i04; output
    # identical under the fixed seed).  NULL/empty embeddings are out of
    # contract for the vector family (r12 null-emb sweep: array_to_vector's
    # UDF fails outright on NULL; r13 empty-array probe: the LSH model's
    # gemv crashes on a 0-dim vector).  The scan is widened BEFORE the
    # checkpoint (r21): the one-row-group local fixture otherwise pins a
    # single-partition frame, serializing the hash-table explode and the
    # candidate self-join on one core (3.7 s -> 1.1 s warm at sf0.1;
    # no-op at corpus scale per the widen_if_narrow guard)
    emb = (valid_embeddings(widen_if_narrow(load_table(spark, sf_dir, "embeddings")))
           .select("vec_id",
                   array_to_vector(F.col("embedding").cast("array<double>"))
                   .alias("features"))
           .localCheckpoint())
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=1.0, numHashTables=4, seed=42)
    model = lsh.fit(emb)
    # 1.2 ~ the 1st percentile of the pairwise distance distribution: the
    # join returns genuinely-near pairs, not most of the n^2 space
    pairs = model.approxSimilarityJoin(emb, emb, 1.2, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("va"),
            F.col("datasetB.vec_id").alias("vb"),
            F.round("dist", 4).alias("dist"),
        )
    )


# the SRP code width of i18 and i59 (srp_basis/srp_code).  Both oracles'
# three-basis-vector CASE blocks and 4/2/1 bit weights are STRUCTURALLY
# three-bit, which the raise below _ANN_ASSIGNED_CTES_SQL guards —
# changing the constant without rewriting them fails at import, not as a
# hash mismatch.
_SRP_BITS = 3


def srp_basis(emb: DataFrame) -> DataFrame:
    """1-row frame b1..b<_SRP_BITS>: the data-derived
    sign-random-projection basis — embeddings ``vec_id 1.._SRP_BITS``
    (deterministic, no RNG, so oracles can reproduce it).
    Single-sourced for i18 and the i59 assignment: a basis-rule change
    must hit every consumer at once.  A missing basis id leaves its
    column NULL, which ``srp_code`` degrades to a constantly-0 bit on
    both engines."""
    return emb.filter(F.col("vec_id").isin(*range(1, _SRP_BITS + 1))).agg(
        *[F.max(F.when(F.col("vec_id") == i, F.col("embedding")))
          .alias(f"b{i}") for i in range(1, _SRP_BITS + 1)])


def srp_code(col: str):
    """The _SRP_BITS-bit sign code of ``col`` against basis columns
    b1..b<_SRP_BITS> in scope: bit i set iff dot(col, b_i) > 0 (NULL > 0
    is false-y in the CASE on both engines).  srp_basis's expression
    twin."""
    b = F.lit(0)
    for i in range(1, _SRP_BITS + 1):
        b = b + F.when(dot(col, f"b{i}") > 0,
                       F.lit(1 << (_SRP_BITS - i))).otherwise(0)
    return b


@query(
    "i18_ann_bucketed",
    oracle=f"""
        WITH basis AS (
            SELECT max(CASE WHEN vec_id = 1 THEN CAST(embedding AS DOUBLE[]) END) AS b1,
                   max(CASE WHEN vec_id = 2 THEN CAST(embedding AS DOUBLE[]) END) AS b2,
                   max(CASE WHEN vec_id = 3 THEN CAST(embedding AS DOUBLE[]) END) AS b3
            FROM embeddings WHERE vec_id IN (1, 2, 3)
        ), coded AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
                   (CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), b1) > 0
                         THEN 4 ELSE 0 END
                  + CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), b2) > 0
                         THEN 2 ELSE 0 END
                  + CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), b3) > 0
                         THEN 1 ELSE 0 END) AS bucket
            FROM embeddings CROSS JOIN basis
            WHERE {_valid_emb_sql()}
        ), q AS (
            SELECT emb AS qv, bucket AS qb FROM coded WHERE vec_id = 0
        )
        SELECT vec_id,
               round(list_cosine_similarity(emb, qv), 6) AS cos
        FROM coded CROSS JOIN q
        WHERE bucket = qb AND vec_id <> 0
        ORDER BY cos DESC, vec_id LIMIT 5
    """,
)
def i18_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via sign-random-projection bucketing (the IVF/LSH scale path).
    Projection basis = embeddings 1..3 (data-derived, deterministic — no
    RNG, so the oracle can reproduce it).  Probes only the query's bucket:
    1/8 of the corpus in expectation; recall is traded for the candidate
    set size, exactly like production IVF with nprobe=1.

    Scale note: a FIXED bit count saturates — mean bucket size is n/2^bits,
    so candidate work per query grows linearly with corpus size once the
    2^bits buckets fill.  The production knob is bits ≈ log2(n / target
    bucket size): growing bits with log n keeps per-query candidates
    constant.  3 bits here is sized for the fixture's ~10^3 vectors; at
    10^9 vectors the same plan wants ~20 projection bits (and nprobe
    multi-probe for recall, the i29 pattern)."""
    emb = load_table(spark, sf_dir, "embeddings")
    coded = (
        valid_embeddings(emb).crossJoin(F.broadcast(srp_basis(emb)))
        .select("vec_id", "embedding",
                srp_code("embedding").alias("bucket"))
    )
    q = (coded.filter(F.col("vec_id") == 0)
         .select(F.col("embedding").alias("qv"), F.col("bucket").alias("qb")))
    return (
        coded.join(F.broadcast(q), F.col("bucket") == F.col("qb"))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(cosine("embedding", "qv"), 6).alias("cos"))
        .orderBy(F.desc("cos"), "vec_id")
        .limit(5)
    )


@query(
    "i29_ivf_multiprobe",
    oracle=f"""
        WITH {_CENTROID_CTES_SQL}, q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id = 0
        ), probes AS (
            SELECT clabel
            FROM cenarr CROSS JOIN q
            ORDER BY round(list_cosine_similarity(carr, qv), 6) DESC, clabel
            LIMIT 3
        ), {_ASSIGNED_CTE_SQL}
        SELECT a.vec_id,
               round(list_cosine_similarity(a.emb, q.qv), 6) AS cos
        FROM assigned a JOIN probes p ON a.clabel = p.clabel CROSS JOIN q
        WHERE a.vec_id <> 0
        ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def i29_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF similarity search with multi-probe — the production ANN shape
    end-to-end: a coarse quantizer (the i23 label-mean centroids) assigns
    every vector to its nearest-centroid partition once at index-build
    time; a query then ranks centroids, probes only the nprobe=3 nearest
    partitions, and brute-forces cosine top-10 INSIDE them — ~3/10 of the
    corpus scanned instead of all of it, with recall controlled by nprobe
    (i18 is the nprobe=1 corner).  At 100 TB the assignment is a parquet
    partition key, so probing is partition pruning: the query literally
    never reads the other partitions' files.  Centroids/assignment reuse
    i23's exact-DECIMAL machinery and rounding so both engines pick
    identical partitions; final top-k is TakeOrderedAndProject."""
    emb = load_table(spark, sf_dir, "embeddings")
    # ONE pinned centroid table feeds both broadcast subtrees (probe
    # ranking + assignment) — unpinned, each subtree re-ran the
    # full-corpus centroid aggregation (r22: 1.25 s -> 0.95 s median-of-5,
    # rows identical; k-row pin, O(k) at any corpus scale)
    cenarr = _centroid_table(emb).localCheckpoint()
    assigned = assign_nearest_centroid(emb, cenarr=cenarr)
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("embedding").alias("qv")))
    probes = (
        cenarr.crossJoin(F.broadcast(q))
        .orderBy(F.round(cosine("carr", "qv"), 6).desc(), "clabel")
        .limit(3).select("clabel")
    )
    return (
        assigned.join(F.broadcast(probes), "clabel")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine("embedding", "qv"), 6).alias("cos"))
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
    )


@query(
    "i31_embedding_quantize",
    oracle=f"""
        WITH s AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xd,
                   nullif(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                                  x -> abs(x))), 0) AS scale
            FROM embeddings
            WHERE {_valid_emb_sql()}
        ),
        q AS (
            SELECT vec_id,
                   list_transform(xd, x -> CAST(floor(x / scale * 127) AS BIGINT))
                       AS qv
            FROM s
        )
        SELECT vec_id, list_min(qv) AS q_min, list_max(qv) AS q_max,
               CAST(list_sum(qv) AS BIGINT) AS q_sum
        FROM q
    """,
)
def i31_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the standard 4×
    storage/bandwidth cut before ANN serving.  Per-vector absmax scale,
    then floor(x/scale*127): floor (not round) because IEEE pins the
    division/multiply exactly but half-up-vs-half-even rounding does not
    agree cross-engine.  All-zero vectors are nulled via nullif rather
    than erroring under ANSI division.  Entirely JVM higher-order
    functions over the array column — map-side, no UDF, no shuffle; the
    emitted min/max/sum are the exact-integer audit of the codes."""
    emb = valid_embeddings(load_table(spark, sf_dir, "embeddings"))
    s = (emb.withColumn("xd",
                        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
         .withColumn("absmax", F.expr("array_max(transform(xd, x -> abs(x)))"))
         .withColumn("scale", F.when(F.col("absmax") != 0, F.col("absmax"))))
    q = s.withColumn("qv", F.expr("transform(xd, x -> floor(x / scale * 127))"))
    return q.select(
        "vec_id",
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        F.expr("aggregate(qv, 0L, (x, y) -> x + y)").alias("q_sum"),
    )


@query(
    "i47_lang_centroids",
    oracle=f"""
        WITH j AS (
            SELECT d.lang AS lang, e.embedding AS embedding
            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
            WHERE {_valid_emb_sql("e.embedding")}
        ), u AS (
            SELECT lang,
                   unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) - 1 AS pos
            FROM j
        )
        SELECT lang, CAST(pos AS BIGINT) AS pos,
               round(avg(v), 6) AS centroid_v,
               count(*) AS n_vecs
        FROM u GROUP BY 1, 2
    """,
)
def i47_lang_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language embedding centroids — the seed step for language-aware
    clustering / nearest-centroid routing (i23).  Joins the document
    metadata to its vector by id, then averages component-wise via
    posexplode + groupBy(lang, pos): every partial sum is map-side
    combined, the group space is |langs| x dim (tiny and fixed), and no
    vector ever has to fit anywhere special.  At 100 TB this is one
    co-partitioned id join plus one bounded-key aggregate."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    e = valid_embeddings(load_table(spark, sf_dir, "embeddings"))
    j = d.join(e, d["doc_id"] == e["vec_id"]).select(
        "lang", F.posexplode("embedding").alias("pos", "v"))
    return j.groupBy("lang", "pos").agg(
        F.round(F.avg("v"), 6).alias("centroid_v"),
        F.count(F.lit(1)).alias("n_vecs"),
    ).select("lang", F.col("pos").cast("long").alias("pos"),
             "centroid_v", "n_vecs")


# ---------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): per-cluster semantic-duplicate census.
# The shared census kernel lives here (registered home; the staged i58
# dense-assignment baseline imported it until its r12 retirement —
# superseded by the registered i59).
# ---------------------------------------------------------------------


_SEMDEDUP_TAU = 0.35  # between within-cluster pair-cosine p99 and p99.9
#                       at sf0.001/0.01/0.1 (measured), so every SF yields
#                       a small but non-empty duplicate set


def semdedup_census(emb: DataFrame, tau: float = _SEMDEDUP_TAU,
                    assign=assign_nearest_centroid) -> DataFrame:
    """The SemDeDup census kernel over any (vec_id, label, embedding)
    frame — factored out so constructed-frame tests drive the registered
    formulation.
    ``assign`` swaps the centroid-assignment step: the default is the
    DENSE exact scorer; ``assign_nearest_centroid_ann`` (below) is the
    SRP-bucketed scale path (r10, the i06<->i18 relationship applied to
    assignment — see the scale-tension paragraph below).

    SemDeDup (Abbas et al. 2023): assign every vector to its nearest
    centroid (here i23's per-label exact-decimal centroids stand in for
    the paper's k-means step, which at production scale sizes k so
    clusters stay bounded), then within each cluster mark every vector
    whose rounded cosine to a LOWER-vec_id cluster-mate reaches ``tau``
    as a duplicate (the i02 keep-first rule, the paper's keep-one
    policy).  Reported per cluster: membership, duplicates, share.

    Scale shape: the assignment is the shared
    ``llm_vectors.assign_nearest_centroid`` (broadcast k-row centroids,
    map-side scoring, vec_id argmax window — single-sourced with i29, r9
    review); the pair stage is an EQUI-join on the assigned cluster —
    candidates never cross clusters, the bucketing that separates this
    from i06's all-pairs baseline.  MEASURED scale tension (r10, on
    K-fold amplified corpora): amplifying by verbatim vector copies
    read "2.3x vs linear at K=4", but that was an AMPLIFIER ARTIFACT —
    copies make every replica's centroids identical, so the clabel
    tie-break funnels ALL replicas into the lexicographically-first
    replica's clusters (measured at K=4: 10 of 40 clusters non-empty,
    max size 920 vs 225) and the PAIR stage, not the assignment, grows
    ∝ K².  Under an isometric sign-flip amplifier (per-replica workload
    exactly preserved, replicas separable) the dense census is
    sublinear at this absolute scale (11.1 s at K=16 vs ANN's 10.7 s).
    The dense assignment's O(n·k) term is still real — assignment-only
    timing grows 4.3x per 4x data on the K=4->16 step (vs 2.15x for
    the SRP-bucketed variant, already 1.4x faster at K=16) — it is
    just emergent, not dominant, at 32k vectors x 160 centroids.  The
    scale path is therefore ``assign_nearest_centroid_ann`` below
    (SRP-bucket the CENTROIDS, i18's machinery; registered as i59,
    round 11), with this dense form as the exact contract baseline
    (the i06/i18 relationship, one family over).  Norms hoist out of
    the pair join (i06's discipline: n folds, not n²).  The assignment is pinned: three
    consumers (membership census, both pair sides) would otherwise
    re-run the centroid scoring; a multi-session 100 TB pipeline would
    persist assignments to storage instead, as llm_text.py:16's
    pin-policy note already prescribes.  (The pin also hides the
    scoring join from the census plan — tests lint the unpinned
    assignment plan separately.)"""
    assigned = assign(emb).localCheckpoint()
    # Membership census materialized FIRST (it was always computed as the
    # rollup's left side — pinning it costs no extra pass over `assigned`
    # and both the salt decision below and the final rollup read it).
    memb = (assigned.groupBy(F.col("clabel").alias("cluster"))
            .agg(F.count(F.lit(1)).alias("n_vectors"))
            .localCheckpoint())
    # Adaptive pair-join salt (guide §2.5 hot-key skew): the pair stage is
    # an equi-join on the bare cluster label, so its parallelism is capped
    # by the number of DISTINCT clusters — r22 measured the fixture at 10
    # clusters of 32 cores, serializing the O(sum n_c^2) cosine work onto
    # 10 tasks (4.3 s of i59's 6.9 s).  When clusters < width, salt the
    # left side by pmod(xxhash64(va), s) (deterministic — retry-safe per
    # guide §2.5) and explode the right side s ways, joining on
    # (cluster, salt): every (va < vb) pair still meets exactly once, in
    # the left row's single salt bucket, so the pair set — and therefore
    # the census — is unchanged.  4x over-decomposition spreads the
    # s * n_clusters keys evenly across the hash space (guide §2.5's
    # "20-100x more keys than partitions" guidance, bounded by the tiny
    # cluster count).  At production scale SemDeDup sizes k with the
    # corpus (clusters >> width), so n_salt is 1 and the plan is exactly
    # the unsalted one — the right side is never replicated at scale.
    # The width is spark.sql.shuffle.partitions, the pair join's task
    # count, never the host's core count, so the branch taken is the
    # session's choice on any machine.
    # memb.count() is a driver action over the pinned k-row frame, not a
    # data pass.
    width = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_clusters = memb.count()
    n_salt = (1 if n_clusters >= width
              else math.ceil(4 * width / max(n_clusters, 1)))
    a = assigned.select(
        F.col("clabel").alias("cl"), F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"), norm("embedding").alias("na"))
    b = assigned.select(
        F.col("clabel").alias("cl"), F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"), norm("embedding").alias("nb"))
    cond = (F.col("cl") == F.col("clb")) & (F.col("va") < F.col("vb"))
    if n_salt > 1:
        a = a.withColumn(
            "sa", F.pmod(F.xxhash64("va"), F.lit(n_salt)).cast("int"))
        b = b.withColumn(
            "sb", F.explode(F.expr(f"sequence(0, {n_salt - 1})")))
        cond = cond & (F.col("sa") == F.col("sb"))
    cosp = F.round(dot("ea", "eb") / (F.col("na") * F.col("nb")), 6)
    dups = (
        a.join(b.withColumnRenamed("cl", "clb"), cond)
        .filter(cosp >= tau)
        .select("cl", "vb").distinct()
    )
    dc = dups.groupBy("cl").agg(F.count(F.lit(1)).alias("n_dup"))
    return (
        memb
        .join(dc, F.col("cluster") == F.col("cl"), "left")
        .select(
            "cluster", "n_vectors",
            F.coalesce(F.col("n_dup"), F.lit(0)).alias("n_dup"),
            F.round(F.coalesce(F.col("n_dup"), F.lit(0)).cast("double")
                    / F.col("n_vectors"), 6).alias("dup_share"))
    )


# the census stage of the i59 oracle (and the retired i58's) —
# single-sourced so dense/ANN twins cannot diverge by transcription
# (the r9-review single-source lesson); expects an ``assigned`` CTE
# binding (vec_id, clabel, emb)
_SEMDEDUP_CENSUS_TAIL_SQL = f"""
        dups AS (
            SELECT DISTINCT a.clabel, b.vec_id AS vb
            FROM assigned a JOIN assigned b
              ON a.clabel = b.clabel AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.emb, b.emb), 6)
                  >= {_SEMDEDUP_TAU}
        ), dc AS (
            SELECT clabel, CAST(count(*) AS BIGINT) AS n_dup
            FROM dups GROUP BY 1
        )
        SELECT a.clabel AS cluster,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(coalesce(max(dc.n_dup), 0) AS BIGINT) AS n_dup,
               round(CAST(coalesce(max(dc.n_dup), 0) AS DOUBLE) / count(*),
                     6) AS dup_share
        FROM assigned a LEFT JOIN dc ON a.clabel = dc.clabel
        GROUP BY a.clabel
"""


def _nan_safe_acos(vec_col: str, cen_col: str):
    """Rounded cosine with the zero-norm edge pinned to -2.0 (below any
    real cosine), so a zero-norm embedding or centroid deterministically
    loses the desc argmax window: its vector takes the lowest routed
    clabel.  Under ANSI mode (Spark 4's default, and the driver's
    conf-free session) a plain division would THROW DIVIDE_BY_ZERO deep
    inside the job, so this uses try_divide (NULL on zero divisor —
    bit-identical to ``/`` for every nonzero norm); coalesce + nanvl
    pin that NULL, and the NaN of NaN-bearing inputs (which Spark sorts
    GREATEST, so it would otherwise win), to the sentinel."""
    raw = F.try_divide(dot(vec_col, cen_col), norm(vec_col) * norm(cen_col))
    return (F.coalesce(F.nanvl(F.round(raw, 6), F.lit(-2.0)), F.lit(-2.0))
            .alias("acos"))


# the registered i59 probe count — single-sourced so the Spark default and
# the oracle CTE below cannot drift apart
_I59_NPROBE = 3


def assign_nearest_centroid_ann(emb: DataFrame,
                                nprobe: int = _I59_NPROBE) -> DataFrame:
    """(vec_id, clabel, embedding): approximate nearest-centroid
    assignment — each vector scores only the centroids of the ``nprobe``
    buckets its SRP code routes to.

    Basis = embeddings ``vec_id 1.._SRP_BITS`` (data-derived,
    deterministic — i18's convention, so the oracle can reproduce it; a
    missing basis id leaves that bit constantly 0 on BOTH engines, since
    NULL > 0 is false-y in the CASE on each, degrading resolution, never
    diverging).  Centroids (k rows, broadcast) and vectors get the sign
    code; a ROUTING TABLE maps every possible code to its ``nprobe``
    nearest OCCUPIED centroid buckets by Hamming distance (integer
    bit_count(xor), exact on both engines; lowest-bucket tie-break) —
    an occupied code routes to itself first at distance 0, so one table
    subsumes the same-bucket case and the empty-bucket fallback in a
    single code path.  The table is the one-shot 2^bits × |occupied|
    cross-product ranking: at most 64 integer rows, independent of n
    and k.  Scoring is then two broadcast equi-joins (code -> probed
    buckets -> their centroids) and the dense argmax semantics: rounded
    cosine desc, clabel tie-break, vec_id-partitioned row_number.

    Scale story (the fix for the dense assignment's O(n·k) term —
    measured 4.3× per 4× data on the K=4→16 assignment-only step): each
    vector scores only the probed buckets' centroids.  Two measured
    dead-ends shaped this design (r10 staging): a DENSE fallback for
    centroid-less-bucket vectors re-grew an O(n·k) term (orphan share
    36-46%, not a corner), and SINGLE-probe routing under sparse
    occupancy funneled half the corpus into one cluster (978/2000 at
    the fixture — 2.7× the pair work and a downstream skew hazard).
    nprobe is i29's recall knob doing double duty as the BALANCE knob:
    more probed buckets per code spreads borderline vectors toward
    their true nearest centroid.  Join sizing (r11 second review —
    both hints are DELIBERATE): the ROUTING table broadcast is bounded
    by nprobe x 2^bits two-int rows.  The CENTROID table broadcast is
    bounded by k x dim — the designer's cluster budget — and is FORCED
    because Spark cannot estimate a post-aggregate dimension table's
    size: hint-free, the static planner picks a sort-merge join that
    shuffle-writes the ENTIRE n-row vector side onto the
    <=2^bits-cardinality bucket key (AQE's runtime broadcast conversion
    still pays the map-side write).  Measured: the hint-free form
    worsened the amplified K=16 run from ~0.19x to 0.32x vs linear.

    Zero-norm embeddings (NaN cosine) are normalized to a -2.0 sentinel
    by ``_nan_safe_acos``, so they deterministically lose and take the
    lowest routed clabel.  Zero-norm stays OUT of the differential
    contract deliberately: ``valid_embeddings``/``_valid_emb_sql``
    require non-NULL, non-empty arrays with every ELEMENT valid
    (non-NULL, non-NaN, |x| < 1e12 as of the r14 probes) — an all-zeros
    vector passes every element test, so a zero-norm vector still flows
    through the filter into DuckDB's list_cosine_similarity, which
    errors/NaNs on a zero divisor — the oracle cannot express the
    lenient semantics, the same class as the r12/r13 NULL-element
    findings.  The Spark-side sentinel is therefore a strict SUPERSET
    of the contract — defensive determinism for corpora the oracle
    could not even score, not a parity surface; extending the contract
    itself was rejected because a norm>0 predicate is
    float-underflow-sensitive (FLOAT[] x*x can flush to zero on one
    engine and not the other), which would make the validity filter
    itself a divergence source."""
    from pyspark.sql.window import Window as W

    cenarr = _centroid_table(emb)
    basis = F.broadcast(srp_basis(emb))
    cbuck = (cenarr.crossJoin(basis)
             .select("clabel", "carr", srp_code("carr").alias("cbucket")))
    # Pin the centroid lineage ONCE, up front (r22): cbuck is read through
    # TWO independent broadcast subtrees — the routing build's `occupied`
    # and the scoring join's centroid table — and broadcast subtrees never
    # share work (no ReuseExchange across them), so the unpinned plan
    # re-ran the full-corpus centroid aggregation twice inside its one
    # action (measured: assignment 1.88 s -> 1.45 s median-of-5 with the
    # pin).  The pinned payload is k rows (the designer's cluster budget,
    # broadcast-sized by contract), so the pin costs O(k) at any corpus
    # scale and saves a full corpus pass under the second broadcast.
    cbuck = cbuck.localCheckpoint()
    occupied = cbuck.select("cbucket").distinct()
    codes = (emb.sparkSession.range(1 << _SRP_BITS)
             .select(F.col("id").cast("int").alias("code")))
    nearest = W.partitionBy("code").orderBy("ham", "cbucket")
    routing = (codes.crossJoin(F.broadcast(occupied))
               .withColumn("ham", F.expr("bit_count(code ^ cbucket)"))
               .withColumn("rn", F.row_number().over(nearest))
               .filter(F.col("rn") <= nprobe)
               .select("code", "cbucket"))
    # assignment needs only a VALID embedding; NULL/empty embeddings
    # are out of contract on both engines (r12 null sweep + r13
    # empty-array probe — the oracle's list_inner_product ERRORS on a
    # NULL-element or dimension-mismatched list, it cannot even express
    # a lenient form)
    vbuck = (valid_embeddings(emb)
             .crossJoin(basis)
             .select("vec_id", "embedding", srp_code("embedding").alias("code")))
    w = W.partitionBy("vec_id").orderBy(F.desc("acos"), "clabel")
    return (
        vbuck.join(F.broadcast(routing), "code")
        .join(F.broadcast(cbuck), "cbucket")
        .select("vec_id", "clabel", "embedding",
                _nan_safe_acos("embedding", "carr"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "clabel", "embedding"))


# oracle twin of assign_nearest_centroid_ann at the i59 sizing; expects
# cenarr in scope (_CENTROID_CTES_SQL) and binds
# assigned(vec_id, clabel, emb)
_ANN_ASSIGNED_CTES_SQL = f"""
        basis AS (
            SELECT max(CASE WHEN vec_id = 1
                            THEN CAST(embedding AS DOUBLE[]) END) AS b1,
                   max(CASE WHEN vec_id = 2
                            THEN CAST(embedding AS DOUBLE[]) END) AS b2,
                   max(CASE WHEN vec_id = 3
                            THEN CAST(embedding AS DOUBLE[]) END) AS b3
            FROM embeddings WHERE vec_id IN (1, 2, 3)
        ), cbuck AS (
            SELECT clabel, carr,
                   (CASE WHEN list_dot_product(carr, b1) > 0
                         THEN 4 ELSE 0 END
                  + CASE WHEN list_dot_product(carr, b2) > 0
                         THEN 2 ELSE 0 END
                  + CASE WHEN list_dot_product(carr, b3) > 0
                         THEN 1 ELSE 0 END) AS cbucket
            FROM cenarr CROSS JOIN basis
        ), routing AS (
            SELECT code, cbucket FROM (
                SELECT c.code, b.cbucket,
                       bit_count(xor(c.code, b.cbucket)) AS ham
                FROM (SELECT CAST(unnest(range(0, {1 << _SRP_BITS}))
                                  AS INT) AS code) c
                CROSS JOIN (SELECT DISTINCT cbucket FROM cbuck) b
            )
            QUALIFY row_number() OVER (PARTITION BY code
                                       ORDER BY ham, cbucket)
                <= {_I59_NPROBE}
        ), vbuck AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
                   (CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
                                               b1) > 0 THEN 4 ELSE 0 END
                  + CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
                                               b2) > 0 THEN 2 ELSE 0 END
                  + CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
                                               b3) > 0 THEN 1 ELSE 0 END)
                       AS code
            FROM embeddings CROSS JOIN basis
            WHERE {_valid_emb_sql()}
        ), assigned AS (
            SELECT v.vec_id, cb.clabel, v.emb
            FROM vbuck v
            JOIN routing r ON v.code = r.code
            JOIN cbuck cb ON r.cbucket = cb.cbucket
            QUALIFY row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY round(list_cosine_similarity(v.emb, cb.carr),
                                    6) DESC, cb.clabel) = 1
        )
"""

# the CTE's basis/weights block (and i18's) is structurally three-bit
# (see the constant's comment): rewriting them is part of changing
# _SRP_BITS.  A raise, not an assert — asserts vanish under python -O,
# and this guard exists precisely to fail at import instead of as an
# inscrutable differential hash mismatch
if _SRP_BITS != 3:
    raise ImportError("rewrite the i18 oracle and _ANN_ASSIGNED_CTES_SQL's "
                      "basis blocks before changing _SRP_BITS")


@query(
    "i59_semdedup_census_ann",
    oracle=f"""
        WITH {_CENTROID_CTES_SQL}, {_ANN_ASSIGNED_CTES_SQL},
        {_SEMDEDUP_CENSUS_TAIL_SQL}
    """,
)
def i59_semdedup_census_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup census with SRP-bucketed (approximate) centroid
    assignment: ``semdedup_census`` with the dense assignment swapped for
    ``assign_nearest_centroid_ann``.  The pair stage, the keep-first
    rule, the census rollup and the assignment pin are the SHARED code
    path, so the only semantic difference from the dense form is which
    centroid a borderline vector lands on.  Routing removes the dense
    assignment's O(n·k) scoring term (measured emergent, not yet
    dominant, at fixture scale — see semdedup_census).  The dense exact
    form remains available as ``semdedup_census`` with the default
    assigner, mirroring the registry's i06 (exact pairs) <-> i18 (SRP
    buckets) relationship."""
    emb = widen_if_narrow(load_table(spark, sf_dir, "embeddings"))
    return semdedup_census(emb, assign=assign_nearest_centroid_ann)


# ---- i67: RRF hybrid retrieval fusion (registered round 16, pulled
# ---- forward from the r16 bank's r17 slot — the r15 k17/i66 precedent)

#: probe surface shared by both engines: each BM25 benchmark query pairs
#: with a query VECTOR (vec_ids 1-3 — data-derived contract rows the
#: null-embeddings fixture keeps intact, the i05 convention for vec 0),
#: each ranker contributes its top-N, and RRF sums 1/(K + rank) in e6
#: fixed point.
def _rrf_probes() -> tuple:
    from .llm_text import _BM25_QUERY_SETS
    return tuple(
        (qid, vec) for (qid, _), vec in zip(_BM25_QUERY_SETS, (1, 2, 3)))


_RRF_K = 60
_RRF_TOPN = 20
_RRF_SCALE = 1_000_000


#: the i67 rank construction, exported piecewise so the tie-at-the-cut
#: pin (tests/test_units.py) can drive the EXACT operators on a crafted
#: frame — the fusion formula has a pure-Python reference in
#: tests/test_r16_queries.py, but rank construction (rounded-score
#: ties, doc_id tie-breaks, the top-N cut) shares rank-then-sum
#: arithmetic with the oracle (§5's both-engines-wrong class), so it
#: gets its own from-scratch recomputation on deliberate boundary ties.
def rrf_topn_branch(scored: DataFrame, qid, topn: int) -> DataFrame:
    """One probe's capped candidate branch: top-``topn`` of
    ``(query_id, doc_id, score)`` by (score DESC, doc_id) — ties at the
    cut keep the LOWEST doc_ids (TakeOrderedAndProject, never a full
    sort)."""
    return (scored.filter(F.col("query_id") == qid)
            .select("query_id", "doc_id", "score")
            .orderBy(F.desc("score"), "doc_id").limit(topn))


def rrf_ranked(branches: list[DataFrame]) -> DataFrame:
    """Union one ranker's capped branches and rank per probe — the
    window runs only over the capped union (<= |probes| x N rows), so
    its partitioning is irrelevant to scale."""
    from functools import reduce

    from pyspark.sql.window import Window

    side = reduce(DataFrame.unionByName, branches)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (side.withColumn("rnk", F.row_number().over(w))
            .select("query_id", "doc_id", "rnk"))


def rrf_fuse(ranked_union: DataFrame) -> DataFrame:
    """Sum ``SCALE div (K + rank)`` per (query_id, doc_id) — integer
    divisions of non-negative operands, exact on both engines."""
    return (ranked_union.groupBy("query_id", "doc_id")
            .agg(F.count(F.lit(1)).alias("n_rankers"),
                 F.sum(F.expr(f"{_RRF_SCALE} div ({_RRF_K} + rnk)"))
                 .alias("rrf_e6")))


def _i67_oracle() -> str:
    from .llm_text import _BM25_SCORED_CTES_SQL
    return f"""
        WITH {_BM25_SCORED_CTES_SQL},
        bm AS (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY bm25 DESC, doc_id) AS rnk
            FROM scored
            QUALIFY rnk <= {_RRF_TOPN}
        ),
        pmap AS (
            SELECT * FROM (VALUES
                {", ".join(f"('{q}', {v})" for q, v in _rrf_probes())}
            ) p(query_id, vid)
        ),
        cq AS (
            SELECT p.query_id, p.vid,
                   CAST(e.embedding AS DOUBLE[]) AS qv
            FROM pmap p JOIN embeddings e ON e.vec_id = p.vid
            WHERE {_valid_emb_sql("e.embedding")}
        ),
        cs AS (
            SELECT query_id, vec_id AS doc_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY round(list_cosine_similarity(
                           CAST(embedding AS DOUBLE[]), qv), 6) DESC,
                           vec_id) AS rnk
            FROM embeddings, cq
            WHERE vec_id <> vid AND {_valid_emb_sql()}
            QUALIFY rnk <= {_RRF_TOPN}
        ),
        u AS (SELECT query_id, doc_id, rnk FROM bm
              UNION ALL SELECT query_id, doc_id, rnk FROM cs)
        SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_rankers,
               CAST(sum({_RRF_SCALE} // ({_RRF_K} + rnk)) AS BIGINT)
                   AS rrf_e6
        FROM u GROUP BY 1, 2
    """


@query("i67_rrf_hybrid_rank", oracle=_i67_oracle())
def i67_rrf_hybrid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, Cormack et al. 2009) of two
    registered ranker families per benchmark probe: the BM25 lexical
    ranker (i64's ``bm25_query_scores`` kernel) and the embedding-cosine
    ranker (i05's formulation, query vectors vec_id 1-3 mapped to the
    three probes).  Each ranker contributes its top-{_RRF_TOPN}
    candidates; a fused candidate scores sum(1e6 div ({_RRF_K} + rank))
    over the rankers that ranked it — the standard hybrid-retrieval
    shape (lexical recall + semantic recall, rank-space fusion so the
    incomparable score scales never mix).

    Determinism: ranks are row_numbers over ROUNDED scores (bm25 and
    cosine both e6-rounded, the family convention) with id tie-breaks,
    and the fused score is a sum of integer divisions of non-negative
    operands — exact on both engines, no float ever aggregated.

    Scale shape: the heavy step — selecting top-N from millions of
    scored candidates — is per-probe TakeOrderedAndProject branches (the
    i64 convention; a probe-partitioned window over the FULL candidate
    sets would funnel every scoring doc into |probes| unsplittable
    partitions, the i48 hazard class).  The rank window then runs over
    the CAPPED union (<= |probes| x {_RRF_TOPN} rows per ranker), so its
    partitioning is irrelevant to scale; the fusion groupBy is over
    <= 2 x probes x N rows.  The BM25 scored frame is pinned once and
    feeds all three probe branches (the i64 localCheckpoint contract);
    each query vector is a broadcast 1-row attach (the i05 shape)."""
    from .llm_text import bm25_query_scores

    emb = valid_embeddings(load_table(spark, sf_dir, "embeddings"))

    scored = (bm25_query_scores(spark, sf_dir)
              .withColumnRenamed("bm25", "score").localCheckpoint())
    bm_branches = [rrf_topn_branch(scored, qid, _RRF_TOPN)
                   for qid, _ in _rrf_probes()]
    cos_branches = []
    for qid, vec in _rrf_probes():
        qv = (emb.filter(F.col("vec_id") == vec)
              .select(F.col("embedding").alias("qv")))
        cos_scored = (
            emb.crossJoin(F.broadcast(qv))
            .filter(F.col("vec_id") != vec)
            .select(F.lit(qid).alias("query_id"),
                    F.col("vec_id").alias("doc_id"),
                    F.round(cosine("embedding", "qv"), 6).alias("score")))
        cos_branches.append(rrf_topn_branch(cos_scored, qid, _RRF_TOPN))

    return rrf_fuse(
        rrf_ranked(bm_branches).unionByName(rrf_ranked(cos_branches)))
