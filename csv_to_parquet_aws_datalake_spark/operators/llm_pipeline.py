"""Training-data pipeline primitives: splits, sampling, chunking, packing.

The four operations every large-scale pretraining data pipeline runs after
curation (BASELINE.json north star; complements the dedup/ANN families in
llm_text.py / llm_vectors.py):

- i36 deterministic hash split — train/val/test assignment that is stable
  across reruns, cluster sizes, and row order (unlike ``randomSplit``,
  whose assignment depends on partitioning).  Pure map-side expression.
- i37 stratified sampling — exactly k docs per stratum, chosen by a
  content-hash order so the sample is deterministic yet unbiased w.r.t.
  ingestion order.  One shuffle on the stratum key.
- i38 document chunking — fixed-size overlapping character windows
  (the pre-tokenization chunking step).  Map-side explode, no shuffle.
- i39 sequence packing — greedy fixed-boundary packing of documents into
  context-window bins by running token offset.  Packing is per-shard
  (window partitioned by the shard key), never a global sort: at 100 TB a
  single global cumulative sum would serialize on one task, and training
  pipelines only need intra-shard sequential semantics anyway.

Every op is engine-deterministic (md5 / integer arithmetic only), so each
has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import ngrams, tokens
from ..loader import load_table, scan_split_estimate
from ..registry import query

# md5-hex digit -> 0..15, the cross-engine idiom established by i16_simhash
# (llm_text.py): locate/strpos into the hex alphabet, 1-based, minus one.
_HEXPOS_SPARK = "(locate(substring({h}, {p}, 1), '0123456789abcdef') - 1)"
_HEXPOS_DUCK = "(strpos('0123456789abcdef', substr({h}, {p}, 1)) - 1)"


def _bucket256(h: str, spark_side: bool) -> str:
    """First two hex digits of md5 column ``h`` as an int in 0..255."""
    pos = _HEXPOS_SPARK if spark_side else _HEXPOS_DUCK
    return f"({pos.format(h=h, p=1)} * 16 + {pos.format(h=h, p=2)})"


@query(
    "i36_hash_split",
    oracle=f"""
        WITH h AS (
            SELECT doc_id, md5(concat('split-seed-1:', CAST(doc_id AS VARCHAR))) AS hx
            FROM documents
        )
        SELECT doc_id, {_bucket256('hx', False)} AS bucket,
               CASE WHEN {_bucket256('hx', False)} < 205 THEN 'train'
                    WHEN {_bucket256('hx', False)} < 230 THEN 'val'
                    ELSE 'test' END AS split
        FROM h
    """,
)
def i36_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test split keyed on document id.

    bucket = first byte of md5('split-seed-1:' || doc_id) -> 0..255;
    train < 205 (80.1%), val < 230 (9.8%), test otherwise (10.2%).  The
    seed string versions the split: changing it reassigns every doc, so a
    pipeline can keep historical splits addressable.  At 100 TB this is a
    shuffle-free narrow projection fused into the scan; the same
    expression evaluated on any engine yields the same assignment, which
    is what makes the split auditable.
    """
    d = load_table(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.lit("split-seed-1:"), F.col("doc_id").cast("string")))
    bucket = F.expr(_bucket256("hx", True))
    return (
        d.select("doc_id", hx.alias("hx"))
        .select(
            "doc_id",
            bucket.alias("bucket"),
            F.when(bucket < 205, "train")
             .when(bucket < 230, "val")
             .otherwise("test").alias("split"),
        )
    )


@query(
    "i37_stratified_sample",
    oracle="""
        WITH ranked AS (
            SELECT lang, doc_id,
                   row_number() OVER (PARTITION BY lang
                       ORDER BY md5(concat('samp-seed-1:', text)), doc_id) AS rk
            FROM documents WHERE text IS NOT NULL
        )
        SELECT lang, doc_id, rk FROM ranked WHERE rk <= 20
    """,
)
def i37_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample (k=20 per language).

    Rank within each stratum by md5 of the content (salted), tie-broken by
    doc_id, keep the top k: deterministic across reruns and independent of
    ingestion order, unlike ``sampleBy`` (probabilistic fractions) or
    ``limit`` (partitioning-dependent).

    TWO-PHASE rank (r10 bounded-key-window audit): the stratum key is
    dimension-BOUNDED (~5 languages), so a single lang-partitioned
    window would sort corpus/5 rows in one unsplittable task at scale.
    Phase 1 ranks within (lang, salt) — a key that GROWS with the
    corpus, so the wide shuffle stays splittable — and keeps each
    group's local top-k, which provably contains the global per-stratum
    top-k (any globally-top row is top within its own group, for ANY
    assignment of rows to groups).  Phase 2 re-ranks the pruned
    k×groups rows per lang — the only lang-partitioned window runs over
    a frame thousands of times smaller than the corpus.  The salt is
    ``pmod(xxhash64(doc_id), n_salt)`` with ``n_salt`` sized from the
    scan-split estimate — DETERMINISTIC, unlike the r10 form's
    ``spark_partition_id()`` (r10 ADVICE: a nondeterministic prune key
    is output-identical here but can re-evaluate differently during
    partial stage recomputation after executor loss, forcing wider
    recompute, and blocks some Catalyst pushdown/reorder moves that
    refuse to cross nondeterministic expressions).  Output is identical
    to the one-phase form (same (md5, doc_id) total order; the salt
    only affects which SUPERSET phase 2 sees), proven by the unchanged
    oracle."""
    # ONE binding for k: phase 1 must prune to AT LEAST the final k or
    # phase 2 ranks a frame missing true top-k rows (r10 fourth review —
    # two independently-edited literals were a silent-wrong-output trap;
    # the oracle's literal 20 is the contract's third copy, caught by
    # the differential if either side drifts)
    k = 20
    d = load_table(spark, sf_dir, "documents")
    # salt modulus grows with the corpus (scan_split_estimate, a public
    # loader API — the call runs eagerly at plan-BUILD time and lists
    # the input files), floored at the session's shuffle width
    # (spark.sql.shuffle.partitions) so a single-file local fixture
    # still fans phase 1 out across every shuffle partition.  The floor
    # is a session conf, not the host's core count, so the plan is the
    # same on any machine; output is provably unaffected by it, since
    # phase 1 keeps a superset at any salt
    n_salt = max(int(spark.conf.get("spark.sql.shuffle.partitions")),
                 scan_split_estimate(d))
    # NULL-text docs are excluded by contract on both engines (r12
    # null-docs sweep — unfiltered, DuckDB's concat SKIPS the NULL and
    # ranks the doc by md5('samp-seed-1:') while Spark's concat
    # propagates NULL, reordering the sample)
    d = d.filter(F.col("text").isNotNull())
    keyed = d.select(
        "lang", "doc_id",
        F.md5(F.concat(F.lit("samp-seed-1:"), F.col("text"))).alias("skey"))
    w_local = (Window.partitionBy("lang", "part")
               .orderBy("skey", "doc_id"))
    pruned = (
        keyed.withColumn(
            "part", F.pmod(F.xxhash64("doc_id"), F.lit(n_salt)))
        .withColumn("lrk", F.row_number().over(w_local))
        .filter(F.col("lrk") <= k)
        .drop("part", "lrk"))
    w = Window.partitionBy("lang").orderBy("skey", "doc_id")
    return (
        pruned.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= k)
    )


@query(
    "i38_doc_chunking",
    oracle="""
        WITH c AS (
            SELECT doc_id, text,
                   unnest(range(0, (greatest(n_chars - 100, 0) + 79) // 80 + 1))
                       AS i
            FROM documents
        )
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
               substr(text, CAST(i * 80 + 1 AS INTEGER), 100) AS chunk,
               CAST(length(substr(text, CAST(i * 80 + 1 AS INTEGER), 100))
                    AS BIGINT) AS chunk_len
        FROM c
    """,
)
def i38_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping character chunks (size 100, stride 80).

    chunk i covers [i*80, i*80 + 100); the last chunk starts at the last
    stride boundary below ``n_chars`` so every character lands in at least
    one chunk and consecutive chunks overlap by 20 chars (the standard
    context-continuity overlap before tokenization).  Chunk count is the
    exact integer ``(max(n_chars - 100, 0) + 79) div 80`` (+1 for chunk 0)
    — integer arithmetic on both engines, no float ceil.  At 100 TB this
    is a map-side explode: no shuffle, output partitioning inherits the
    scan, and downstream tokenization sees bounded-length strings.
    """
    d = load_table(spark, sf_dir, "documents")
    hi = F.expr("(greatest(n_chars - 100, 0) + 79) div 80")
    return (
        d.select("doc_id", "text",
                 F.explode(F.sequence(F.lit(0), hi)).alias("chunk_id"))
        .select(
            "doc_id",
            "chunk_id",
            F.expr("substring(text, chunk_id * 80 + 1, 100)").alias("chunk"),
            F.expr("length(substring(text, chunk_id * 80 + 1, 100))")
             .alias("chunk_len"),
        )
    )


def packing_bins(d: DataFrame) -> DataFrame:
    """(lang, bin, n_docs, bin_toks): the ONE greedy fixed-boundary
    packing definition — doc's bin is ``floor(tokens_before_it / 512)``
    within its language shard, docs in doc_id order.
    Shared by i39 (the packing itself) and i53 (its efficiency census) so
    the census can never silently describe a packing that no longer
    exists (the same convention as dup_gram_positions for i48/i54).

    Packing is per-shard ON PURPOSE: the window partitions by ``lang``,
    so the cumulative sum runs independently per shard after one hash
    shuffle, and HashPartitioning(lang) also satisfies the (lang, bin)
    aggregate — one exchange total.  A global (unkeyed) running sum
    would force a 1-task sort, the exact anti-pattern the window linter
    rejects; training pipelines only need intra-shard sequential
    placement.  Honest 100 TB caveat:
    ``lang`` is dimension-bounded (~5 values), so each per-lang
    partition is still corpus/5 rows in one sort task at full scale —
    a production packing run shards FINER ((lang, sub-shard) with
    sub-shard ∝ corpus, placement staying sequential within each
    sub-shard), or computes per-chunk token partials and broadcasts
    prefix offsets (two-phase prefix sum).  The per-lang form is this
    query's CONTRACT (bins numbered within the whole language), kept
    because the oracle must agree on bin identity.
    """
    toks = d.select(
        "lang", "doc_id", F.size(tokens()).alias("n_toks"))
    w = (
        Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = toks.withColumn("run_sum", F.sum("n_toks").over(w)).select(
        "lang", "n_toks",
        F.expr("(run_sum - n_toks) div 512").alias("bin"),
    )
    return placed.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("bin_toks"))


@query(
    "i39_sequence_packing",
    oracle="""
        WITH toks AS (
            SELECT lang, doc_id, len(string_split(text, ' ')) AS n_toks
            FROM documents
        ), placed AS (
            SELECT lang, n_toks,
                   CAST((sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_toks) // 512 AS BIGINT) AS bin
            FROM toks
        )
        SELECT lang, bin, count(*) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS sum_toks
        FROM placed GROUP BY lang, bin
    """,
)
def i39_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into 512-token context bins by running offset —
    see :func:`packing_bins` for the definition and the per-shard scale
    rationale."""
    d = load_table(spark, sf_dir, "documents")
    return packing_bins(d).select(
        "lang", "bin", "n_docs", F.col("bin_toks").alias("sum_toks"))


@query(
    "i43_weighted_sample",
    oracle=f"""
        WITH h AS (
            SELECT doc_id, n_chars,
                   md5(concat('wsamp-seed-1:', CAST(doc_id AS VARCHAR))) AS hx
            FROM documents
        )
        SELECT doc_id, n_chars,
               CAST({_bucket256('hx', False)} AS BIGINT) AS bucket,
               round(least(1.0, n_chars / 400.0) * 256, 4) AS threshold
        FROM h
        WHERE {_bucket256('hx', False)} < least(1.0, n_chars / 400.0) * 256
    """,
)
def i43_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: keep a document with
    probability proportional to a quality proxy (here length capped at 400
    chars), implemented as hash-uniform < weight.  Unlike ``sample()``,
    membership is a pure function of (seed, doc_id, weight) — rerunning at
    any scale or partitioning keeps the identical subset, which is what
    makes sampled corpora reproducible.  Shuffle-free: the hash, the
    weight, and the filter all fuse into the scan."""
    d = load_table(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.lit("wsamp-seed-1:"), F.col("doc_id").cast("string")))
    bucket = F.expr(_bucket256("hx", True))
    thresh = F.least(F.lit(1.0), F.col("n_chars") / 400.0) * 256
    return (
        d.select("doc_id", "n_chars", hx.alias("hx"))
        .filter(bucket < thresh)
        .select(
            "doc_id", "n_chars",
            bucket.cast("long").alias("bucket"),
            F.round(thresh, 4).alias("threshold"),
        )
    )


@query(
    "i45_snapshot_diff",
    oracle="""
        WITH old AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN md5(reverse(text))
                        ELSE md5(text) END AS fp
            FROM documents WHERE doc_id % 11 <> 3
        ), new AS (
            SELECT doc_id, md5(text) AS fp
            FROM documents WHERE doc_id % 13 <> 5
        )
        SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
               CASE WHEN old.doc_id IS NULL THEN 'added'
                    WHEN new.doc_id IS NULL THEN 'removed'
                    WHEN old.fp <> new.fp THEN 'changed'
                    ELSE 'same' END AS status
        FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    """,
)
def i45_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot reconciliation: classify every document as
    added/removed/changed/same between two crawl snapshots by comparing
    content fingerprints under a full outer join on doc_id.  The snapshots
    are derived deterministically from the one test corpus (mod-11 drops
    simulate additions, mod-13 drops simulate removals, mod-7 text
    reversal simulates edits).  At 100 TB both sides shuffle once on
    doc_id and the join carries only (id, 32-byte fingerprint) — the
    incremental-ingest primitive that i35 builds its dedup on."""
    d = load_table(spark, sf_dir, "documents")
    old = (
        d.filter(F.col("doc_id") % 11 != 3)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0, F.md5(F.reverse("text")))
             .otherwise(F.md5("text")).alias("fp"))
    )
    new = (
        d.filter(F.col("doc_id") % 13 != 5)
        .select("doc_id", F.md5("text").alias("fp"))
    )
    o, n = old.alias("o"), new.alias("n")
    return (
        o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
        .select(
            F.coalesce("o.doc_id", "n.doc_id").alias("doc_id"),
            F.when(F.col("o.doc_id").isNull(), "added")
             .when(F.col("n.doc_id").isNull(), "removed")
             .when(F.col("o.fp") != F.col("n.fp"), "changed")
             .otherwise("same").alias("status"),
        )
    )


@query(
    "i46_length_quantile_filter",
    oracle="""
        WITH q AS (
            SELECT quantile_cont(n_chars, 0.05) AS lo,
                   quantile_cont(n_chars, 0.95) AS hi
            FROM documents
        )
        SELECT doc_id, n_chars FROM documents CROSS JOIN q
        WHERE n_chars >= lo AND n_chars <= hi
    """,
)
def i46_length_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim the length-distribution tails: keep documents between the 5th
    and 95th percentile of n_chars — the outlier filter that removes both
    truncated fragments and concatenation blobs before training.  The
    percentiles are a 1-row aggregate broadcast back over the corpus, so
    the filter itself is map-side.  At 100 TB the exact percentile would
    be swapped for approx_percentile (same plan shape, sketch-mergeable);
    exact interpolation here keeps the oracle byte-identical."""
    d = load_table(spark, sf_dir, "documents")
    q = F.broadcast(d.agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi")))
    return (
        d.crossJoin(q)
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .select("doc_id", "n_chars")
    )


def aes_sampling_key():
    """The i49 A-ES key expression, single-sourced (r9 review): the
    registered query and BOTH its test pins (partitioning invariance,
    rank-50/51 ULP margin) build the key from here, so a kernel change
    (seed, hash slice, weight guard) re-points every pin automatically
    instead of leaving a stale inline copy green.  Expects ``doc_id``
    and ``n_chars`` columns; see i49's docstring for the formula's
    derivation and determinism story."""
    hx = F.md5(F.concat(F.lit("aes-seed-1:"), F.col("doc_id").cast("string")))
    u = (F.conv(F.substring(hx, 1, 8), 16, 10).cast("double") + 0.5) \
        / F.lit(4294967296.0)
    return -F.log(u) / F.greatest(F.col("n_chars"), F.lit(1))


@query(
    "i49_weighted_topk_sample",
    oracle="""
        WITH keyed AS (
            SELECT doc_id, n_chars,
                   -ln((CAST(concat('0x', substr(md5(concat('aes-seed-1:',
                            CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                        + 0.5) / 4294967296.0)
                   / greatest(n_chars, 1) AS k
            FROM documents
        )
        SELECT doc_id, n_chars, round(k, 6) AS aes_key
        FROM keyed ORDER BY k ASC, doc_id LIMIT 50
    """,
)
def i49_weighted_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via order statistics
    (Efraimidis–Spirakis A-ES): doc i draws u uniform in (0,1) and keeps
    key E_i = -ln(u)/w_i with weight w = n_chars — an Exponential(w_i)
    variate, so the k SMALLEST keys are exactly the A-ES weighted sample
    (the classical u^(1/w)-largest formulation under the monotone map
    k = -ln(·)/w; the exponential form spreads keys across (0, inf)
    instead of compressing them toward 1.0, so a cross-engine 1-ULP libm
    difference cannot flip a near-boundary membership — ADVICE r6; the
    rank-50/51 gap on the test corpus is pinned at >64 ULPs by
    tests/test_r7_queries.py — ADVICE r7).  u is
    the md5-uniform kernel (first 8 hex digits of a seeded doc_id hash,
    +0.5, /2^32), the same deterministic idiom as i36/i43, so membership
    is a pure function of (seed, doc_id, w) and both engines compute the
    identical sample.  greatest(n_chars, 1) guards the zero-length-doc
    division identically on both sides (ADVICE r6: bare 1/0 is NULL in
    DuckDB but IEEE on Spark 4.1 — a latent cross-engine divergence).

    Unlike i43's Bernoulli gate (independent per-doc coin, random output
    SIZE), A-ES yields EXACTLY k rows — what a budgeted curation pass
    needs.  Map-side key + TakeOrderedAndProject top-k: no global sort,
    no shuffle beyond the k-row reduction, scale-indifferent.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "n_chars", aes_sampling_key().alias("k"))
        .orderBy(F.asc("k"), "doc_id").limit(50)
        .select("doc_id", "n_chars", F.round("k", 6).alias("aes_key"))
    )


@query(
    "i50_domain_mixture",
    oracle="""
        WITH src AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_toks
            FROM documents GROUP BY source
        ),
        shared AS (
            SELECT source, n_docs, n_toks,
                   n_toks / (SELECT CAST(sum(n_toks) AS DOUBLE) FROM src)
                       AS share
            FROM src
        ),
        tempered AS (
            SELECT *, sqrt(share)
                       / (SELECT sum(sqrt(share)) FROM shared)
                       AS temp_share
            FROM shared
        )
        SELECT source, n_docs, n_toks, round(share, 6) AS share,
               round(temp_share, 6) AS temp_share,
               round((temp_share / share)
                     / (SELECT max(temp_share / share) FROM tempered), 6)
                   AS keep_p,
               round((temp_share / share)
                     / (SELECT max(temp_share / share) FROM tempered)
                     * n_toks, 4) AS kept_toks
        FROM tempered
    """,
)
def i50_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (α = 0.5): flatten per-source token
    shares to share^α (renormalized), then convert the reweighting to
    downsample-only keep probabilities by dividing out the largest
    upsampling ratio — the standard mixture step that keeps small domains
    from vanishing without replicating any data.

    Plan shape at 100 TB: ONE map-side-combined aggregate over the corpus
    produces the per-source census (#sources rows, i.e. tiny), pinned with
    ``localCheckpoint`` (llm_text.py policy) so the share / tempering /
    normalization arithmetic — three levels of totals, each a broadcast
    1-row aggregate — reuses the census instead of re-scanning the corpus
    once per total.  Every post-pin exchange moves #sources rows.  The
    keep_p column then drives a hash-uniform gate exactly like i43's.

    Float determinism (review r7 finding): share^α uses ``sqrt`` — IEEE
    requires sqrt correctly rounded, so each term is BIT-IDENTICAL across
    engines, unlike ``pow(x, 0.5)`` whose libm implementations may differ
    by 1 ULP per term.  The remaining exposure is the fold order of
    sum(sqrt(share)) over #sources (~20) doubles; a boundary flip of the
    6th rounded decimal needs a ≥half-ULP disagreement to land exactly on
    a .5e-6 edge — accepted, like the d-family's round-before-hash
    convention, and bounded by the tiny census size.
    """
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens())).alias("n_toks"),
    ).localCheckpoint()  # reused 4x (totals + output): pin the corpus scan
    tot = src.agg(F.sum("n_toks").cast("double").alias("tot"))
    shared = src.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "n_toks",
        (F.col("n_toks") / F.col("tot")).alias("share"))
    tw = shared.agg(F.sum(F.sqrt("share")).alias("tw_sum"))
    tempered = shared.crossJoin(F.broadcast(tw)).select(
        "*", (F.sqrt("share") / F.col("tw_sum")).alias("temp_share"))
    mx = tempered.agg(
        F.max(F.col("temp_share") / F.col("share")).alias("max_ratio"))
    keep = (F.col("temp_share") / F.col("share")) / F.col("max_ratio")
    return tempered.crossJoin(F.broadcast(mx)).select(
        "source", "n_docs", "n_toks",
        F.round("share", 6).alias("share"),
        F.round("temp_share", 6).alias("temp_share"),
        F.round(keep, 6).alias("keep_p"),
        F.round(keep * F.col("n_toks"), 4).alias("kept_toks"),
    )


@query("i52_quantile_drift")  # sketch values are engine-specific -> rows-only
def i52_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-drift dashboard: per language, exact p50/p90 of n_chars next
    to approx_percentile's sketch answer (accuracy 100) and the relative
    drift.  The monitoring query a pipeline runs to decide whether its
    cheap sketches are still trustworthy as the corpus shifts.

    Rows-only by design (like d10): the KLL/GK sketch answer is an
    engine-specific value, so no cross-engine hash can match.  The local
    invariant pin (tests/test_r7_queries.py) brackets each sketch answer
    between the exact (q ± 1/accuracy ± 2 ranks) quantiles — the error
    bound approx_percentile documents.  At 100 TB only the sketch side is
    runnable (mergeable, bounded memory); the exact side exists to
    measure it, here at test scale.
    """
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.5)).alias("exact_p50"),
        F.percentile("n_chars", F.lit(0.9)).alias("exact_p90"),
        F.percentile_approx("n_chars", F.lit(0.5), F.lit(100))
         .cast("double").alias("approx_p50"),
        F.percentile_approx("n_chars", F.lit(0.9), F.lit(100))
         .cast("double").alias("approx_p90"),
    )
    drift = (lambda a, e:
             F.round(F.abs(F.col(a) - F.col(e)) / F.col(e), 6))
    return g.select(
        "lang",
        F.round("exact_p50", 4).alias("exact_p50"),
        "approx_p50",
        F.round("exact_p90", 4).alias("exact_p90"),
        "approx_p90",
        drift("approx_p50", "exact_p50").alias("drift_p50"),
        drift("approx_p90", "exact_p90").alias("drift_p90"),
    )


@query(
    "i53_packing_census",
    oracle="""
        WITH toks AS (
            SELECT lang, doc_id, len(string_split(text, ' ')) AS n_toks
            FROM documents
        ), placed AS (
            SELECT lang, n_toks,
                   CAST((sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_toks) // 512 AS BIGINT) AS bin
            FROM toks
        ), bins AS (
            SELECT lang, bin, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS bin_toks
            FROM placed GROUP BY lang, bin
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_bins,
               CAST(sum(n_docs) AS BIGINT) AS n_docs,
               CAST(sum(bin_toks) AS BIGINT) AS total_toks,
               round(avg(bin_toks), 4) AS avg_bin_toks,
               CAST(max(bin_toks) AS BIGINT) AS max_bin_toks,
               round(sum(bin_toks) / (count(*) * 512.0), 6) AS fill_rate,
               CAST(sum(CASE WHEN bin_toks > 512 THEN 1 ELSE 0 END)
                    AS BIGINT) AS overflow_bins
        FROM bins GROUP BY lang
    """,
)
def i53_packing_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency census over i39's 512-token bins: per language,
    how many bins the greedy fixed-boundary packing produced, the average
    and worst bin load, the overall fill rate, and how many bins overflow
    (a doc straddling the boundary lands in its starting bin, so bins CAN
    exceed 512 — the overflow count is the truncation the tokenizer will
    actually perform).

    Plan: the SHARED packing_bins kernel (i39's per-shard running-sum
    window, one hash shuffle on lang — sharing it means the census is of
    the actual i39 packing by construction), then a final aggregation
    that reuses the lang partitioning — HashPartitioning(lang) satisfies
    the clustering requirement of the (lang, bin) aggregate AND the
    final lang aggregate, so the census adds ZERO exchanges beyond the
    packing's own window shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    bins = packing_bins(d)
    return bins.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("bin_toks").alias("total_toks"),
        F.round(F.avg("bin_toks"), 4).alias("avg_bin_toks"),
        F.max("bin_toks").alias("max_bin_toks"),
        F.round(F.sum("bin_toks") / (F.count(F.lit(1)) * F.lit(512.0)), 6)
         .alias("fill_rate"),
        F.sum(F.when(F.col("bin_toks") > 512, 1).otherwise(0))
         .alias("overflow_bins"),
    )


# ---- i66: DSIR importance scoring (registered round 15, from the r15 bank)

#: DSIR hyper-surface, shared by both engines: B hash buckets, the
#: target language, and the e4 fixed-point scale
_DSIR_B = 256
_DSIR_TARGET_LANG = "en"
_DSIR_SCALE = 10000

#: the per-bucket weight expression WITH its BIGINT-headroom guard: the
#: scaled numerator (tt+1)*(rall+B)*SCALE binds first (the denominator
#: lacks the SCALE factor), and past the bound a non-ANSI session wraps
#: silently into wrong scores rather than erroring (ADVICE r15) — so
#: both products are pre-checked with divisions (overflow-free by
#: construction) and a corpus past the bound raises with the named
#: remedy instead.  Evaluated only over the {B}-row weight table, so
#: the guard costs nothing at any scale.
_DSIR_WB_SQL = (
    f"CASE WHEN (tt + 1) > (9223372036854775807 div {_DSIR_SCALE})"
    f" div (rall + {_DSIR_B})"
    f" OR (r + 1) > 9223372036854775807 div (tall + {_DSIR_B})"
    " THEN CAST(raise_error('i66: weight product exceeds BIGINT headroom;"
    " switch to the DSIR log-ratio form') AS BIGINT)"
    f" ELSE ((tt + 1) * (rall + {_DSIR_B}) * {_DSIR_SCALE})"
    f" div ((r + 1) * (tall + {_DSIR_B})) END AS wb"
)


@query(
    "i66_dsir_importance",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, lang, string_split(text, ' ') AS t
            FROM documents
            WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2
        ), bg AS (
            SELECT doc_id, lang, {_bucket256('h', spark_side=False)} AS b
            FROM (
                SELECT doc_id, lang,
                       unnest(list_transform(range(1, len(t)),
                              i -> md5(t[i] || ' ' || t[i + 1]))) AS h
                FROM d
            )
        ), freq AS (
            SELECT b, CAST(count(*) AS BIGINT) AS r,
                   CAST(coalesce(sum(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                                          THEN 1 END), 0) AS BIGINT) AS tt
            FROM bg GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(r) AS BIGINT) AS rall,
                   CAST(sum(tt) AS BIGINT) AS tall
            FROM freq
        ), w AS (
            SELECT b, ((tt + 1) * (rall + {_DSIR_B}) * {_DSIR_SCALE})
                      // ((r + 1) * (tall + {_DSIR_B})) AS wb
            FROM freq CROSS JOIN tot
        )
        SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
               CAST(sum(wb) // count(*) AS BIGINT) AS dsir_e4
        FROM bg JOIN w USING (b)
        GROUP BY 1
    """,
)
def i66_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (Xie et al. 2023): how target-like is
    each document, measured on hashed n-gram features — the data-
    SELECTION member the curation families lack (quality says "is it
    good", DSIR says "is it the distribution I want to train on").

    Per bucket b of {_DSIR_B} md5-hashed bigram slots, the importance
    weight is the Laplace-smoothed frequency ratio

        wb = p_target(b) / p_raw(b)
           = ((tt_b + 1) / (T + B)) / ((r_b + 1) / (R + B))

    held in e4 fixed point; a document's score is the mean weight of
    its bigrams (10000 = neutral, higher = more target-like).  The
    target here is the corpus's own '{_DSIR_TARGET_LANG}' slice — a
    deterministic stand-in for the external target corpus (the i65
    weight-table convention: a real deployment swaps the target-count
    aggregation for the target corpus's own scan, changing neither
    plan shape nor census).

    Determinism by construction (the i65 lesson at design time): every
    count is an exact BIGINT, the weight and the per-doc mean are
    integer divisions of NON-NEGATIVE operands (Spark ``div`` truncates
    toward zero, DuckDB ``//`` floors — they agree only there), and the
    per-doc sum is an integer sum, fold-order-free.  The scaled-integer
    weight product (tt_b+1)*(R+B)*1e4 needs BIGINT headroom; since the
    per-bucket target count tt_b itself grows with the corpus
    (~f*R/B for target fraction f under uniform hashing), the product
    overflows once tt_max * R approaches 9e14 — around R ~ 1e9-1e10
    total bigrams for a substantial target slice, NOT at R ~ 9e14 as
    this contract originally claimed.  The bound is ENFORCED, not just
    documented: `_DSIR_WB_SQL` pre-checks both products
    with overflow-free divisions and raises with the named remedy past
    it, so a non-ANSI session can never wrap silently into wrong
    scores.  Past the bound, a production run swaps the weight
    expression for the paper's double log-ratio (one expression, plan
    unchanged) and accepts float summation.

    Scale shape: ONE conditional aggregation computes raw and target
    counts together (count + count-if-target over the same exploded
    pass — never two corpus scans for two distributions); the weight
    table is {_DSIR_B} rows, broadcast; totals are a broadcast 1-row
    crossJoin attach; the per-doc mean is a doc-keyed aggregation with
    map-side partial combine (explode keeps rows doc-clustered, so the
    partial agg collapses to one row per doc before the shuffle).  Two
    corpus passes total — the DSIR paper's own streaming shape.
    Docs with fewer than two tokens have no bigram and are excluded by
    contract on both engines, and so are NULL-text docs."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull())
         .select("doc_id", "lang", "text"))
    return dsir_importance_frame(d)


def dsir_importance_frame(d: DataFrame) -> DataFrame:
    """The i66 kernel over any (doc_id, lang, text) frame — factored
    out (the i65/i64 convention) so property tests drive the registered
    formulation; callers pre-filter NULL text."""
    bg = (
        d.select("doc_id", "lang", tokens().alias("t"))
        .select("doc_id", "lang", ngrams("t", 2).alias("g"))
        .selectExpr("doc_id", "lang",
                    "explode(transform(g, x -> md5(x))) AS h")
        .selectExpr("doc_id", "lang",
                    f"CAST({_bucket256('h', spark_side=True)} AS LONG) AS b")
    )
    freq = bg.groupBy("b").agg(
        F.count(F.lit(1)).alias("r"),
        F.coalesce(F.sum(F.when(
            F.col("lang") == _DSIR_TARGET_LANG, 1)), F.lit(0)).alias("tt")) \
        .localCheckpoint()  # pin: <=256 rows feed tot AND w — without it
    #                         each derivation re-runs the corpus pass
    tot = F.broadcast(freq.agg(F.sum("r").alias("rall"),
                               F.sum("tt").alias("tall")))
    w = F.broadcast(freq.crossJoin(tot).selectExpr("b", _DSIR_WB_SQL))
    return (bg.join(w, "b")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_feats"),
                 F.expr("sum(wb) div count(1)").alias("dsir_e4")))
