"""LLM-data-pipeline text operators (SURVEY.md §2.9 + BASELINE.json north
star): dedup (exact / keep-first / shingle-Jaccard / MinHash-LSH / SimHash),
token statistics, tf-idf, n-grams, language-ID, quality scoring, document
fingerprinting, histograms.

Scale notes (§7.4):
- exact dedup shuffles on a hash of the row — for wide rows pre-hash to
  sha2/md5 (i15 is exactly that fingerprint) so the shuffle carries 32 bytes;
- shingle-Jaccard (i03) is the quadratic-candidate path, fine to ~1M docs
  per shingle bucket; the near-linear scale path is MinHash banding (i04)
  where only band-collisions join;
- SimHash (i16/i17) reduces near-dup detection to a 64-bit hamming join —
  at 100 TB you block on 4x16-bit sub-keys (pigeonhole) so each probe is an
  equi-join.

Input precondition — ``doc_id`` is the documents table's ENTITY KEY and
is assumed unique.  The r14 duplicate-key probe (25 exact-duplicate rows
appended) showed 53 of 59 oracled documents consumers are
duplicate-insensitive; the 6 that diverge do so by GRAIN, not by bug:
the per-row map-side engines stay correct while doc_id self-joins in
their oracles fan out (i24/i25/i03/i32), and the clustering rows
(i22/i27) are inherently one-row-per-entity.  The enforcement step IS
part of this registry — i01/i02 exact dedup, themselves proven
duplicate-correct by the same probe — so a pipeline composes
dedup -> downstream exactly as a production curation stack does.
Enforcing uniqueness inside every downstream operator instead would add
a doc_id shuffle to each of the 50+ map-side queries (a committed-plan-
budget violation and a 100 TB scale regression) to defend against a
state the upstream stage exists to remove.  The same probe found the
embeddings (vec_id, 9/9) and events (event_id, 30/30) families fully
duplicate-insensitive.  tests/test_differential.py pins the fixture
tables' key uniqueness so a regenerated corpus cannot silently void
the precondition.

localCheckpoint policy: every multi-reuse or iterative frame here is pinned
with ``localCheckpoint()``, which is EAGER — it runs a job at call time and
stores partitions on the executors.  That is deliberate: unlike ``persist()``
(lazy, keeps the full lineage) it truncates the growing plans of the
label-propagation / star loops so analysis cost stays constant per round, and
unlike ``checkpoint()`` it needs no checkpoint dir on a driver-provided
session.  Trade-off: the pinned data is lost with an executor, so a cluster
deployment that wants fault tolerance swaps these for reliable checkpoints.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.text import chunks, ngrams, tokens
from ..loader import load_table, widen_if_narrow
from ..registry import query


@query("i01_dedup_exact", oracle="SELECT DISTINCT lang, source FROM documents")
def i01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("lang", "source").distinct()


@query(
    "i02_dedup_keep_first",
    oracle="""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) = 1
    """,
)
def i02_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic representative per key — bare dropDuplicates(subset)
    # keeps an ARBITRARY row (§7.3/4), so take the min-doc_id row instead.
    # As a HASH AGGREGATE (min + min_by on the unique doc_id), not a
    # (lang, source)-partitioned row_number window: the key space is
    # dimension-BOUNDED (~|langs|x|sources|), so at corpus scale each
    # window partition would hold corpus/100 rows in ONE unsplittable
    # sort task, while the aggregate form combines map-side and lets AQE
    # split a hot key (the r10 bounded-key-window audit; same result,
    # proven by the unchanged oracle).
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(F.min("doc_id").alias("doc_id"),
             F.min_by("n_chars", "doc_id").alias("n_chars"))
        .select("doc_id", "lang", "source", "n_chars")
    )


# ---- the near-dup kernel family: shingle sets, signatures, band keys ------
#
# One contract, owned here and nowhere else.  A document's shingles are its
# DISTINCT 3-token shingles; a document under 3 tokens (NULL text included)
# has none and no row.  MinHash slot k is the min over them of hex digits
# [8*(k%4)+1, +8) of md5('<k//4>|' || shingle): two md5 calls per shingle
# yield all 8 32-bit slots, and fixed-width hex makes the lexicographic min
# both engines compute the numeric min.  Band j's key is
# md5(s_{2j} || s_{2j+1}): 4 bands x 2 rows.  i03, i04, i34, i68 and j12
# build on the Spark functions below, and their oracles on the CTE strings.

#: binds toks(doc_id, t) and sh(doc_id, sh), the DuckDB twin of shingle_sets
SHINGLE_CTES_SQL = """toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE len(string_split(text, ' ')) >= 3
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> array_to_string(t[i:i+2], ' '))) AS sh
            FROM toks
        )"""

#: over sh, binds counts(doc_id, n) and pairs(da, db, shared), the DuckDB
#: twin of shared_shingle_counts
_SHARED_SHINGLES_CTES_SQL = """counts AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
        ), pairs AS (
            SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )"""


def _signature_ctes_sql() -> str:
    mins = ",\n                   ".join(
        f"min(substr(h{k // 4}, {(k % 4) * 8 + 1}, 8)) AS s{k}"
        for k in range(8))
    bands = "\n            UNION ALL ".join(
        f"SELECT doc_id, {j} AS b, md5(s{2*j} || s{2*j+1}) AS bk FROM sig"
        for j in range(4))
    return f"""hashed AS (
            SELECT doc_id, md5('0|' || sh) AS h0, md5('1|' || sh) AS h1
            FROM sh
        ), sig AS (
            SELECT doc_id,
                   {mins}
            FROM hashed GROUP BY 1
        ), bands AS (
            {bands}
        )"""


#: over sh, binds sig(doc_id, s0..s7) and bands(doc_id, b, bk), the DuckDB
#: twin of minhash_signatures and band_keys
SIGNATURE_CTES_SQL = _signature_ctes_sql()


def shingle_sets(d: DataFrame) -> DataFrame:
    """(doc_id, sha, n): each document's distinct-shingle array and its
    size, from any (doc_id, text, ...) frame.  The count is a map-side
    size(), not an explode + groupBy(doc_id) re-group, and a caller that
    pins this frame pins one array row per document, not one row per
    shingle."""
    return (d.withColumn("t", tokens()).filter(F.size("t") >= 3)
            .select("doc_id", F.array_distinct(ngrams("t", 3)).alias("sha"))
            .withColumn("n", F.size("sha")))


def shared_shingle_counts(sets: DataFrame) -> DataFrame:
    """(da, db, shared) for every document pair da < db with at least one
    shingle in common, over a :func:`shingle_sets` frame.  Candidates come
    from an equi-join on the shingle, so only documents sharing one are
    ever compared.  Both join sides explode ``sets``; callers pin it."""
    sh = sets.select("doc_id", F.explode("sha").alias("sh"))
    return (
        sh.alias("a")
        .join(sh.alias("b"),
              (F.col("a.sh") == F.col("b.sh"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )


def minhash_signatures(d: DataFrame) -> DataFrame:
    """(doc_id, s0..s7) MinHash signatures of any (doc_id, text, ...)
    frame, batch or stream.

    Every shingle of a document is already in ONE row, so each slot's min
    is an array aggregation (array_min over a substring view of the md5
    arrays), not an explode + re-group: it needs no shuffle and no state,
    so the same expressions run inside any micro-batch.  The md5 arrays
    are built once per row in their own projection: CollapseProject keeps
    multiply-referenced non-cheap expressions un-inlined, so each md5
    runs exactly once per shingle (tests/test_plans.py::
    test_minhash_signature_md5_runs_once pins it)."""
    hashed = shingle_sets(d).select(
        "doc_id",
        F.expr("transform(sha, s -> md5(concat('0|', s)))").alias("h0"),
        F.expr("transform(sha, s -> md5(concat('1|', s)))").alias("h1"),
    )
    return hashed.select("doc_id", *[
        F.array_min(F.expr(
            f"transform(h{k // 4}, x -> substring(x, {(k % 4) * 8 + 1}, 8))"
        )).alias(f"s{k}")
        for k in range(8)
    ])


def band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, b, bk): the 4 LSH band keys of each signature row, emitted
    by one explode pass (the same rows as a 4-arm union, one scan)."""
    return sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(j).alias("b"),
                F.md5(F.concat(F.col(f"s{2*j}"), F.col(f"s{2*j+1}"))).alias("bk"))
            for j in range(4)
        ])).alias("band"),
    ).select("doc_id", "band.b", "band.bk")


# i03's oracle, reused verbatim by i22's cluster oracle so both derive the
# same near-dup pair set
_I03_PAIRS_SQL = f"""
        WITH {SHINGLE_CTES_SQL}, {_SHARED_SHINGLES_CTES_SQL}
        SELECT da, db,
               round(shared * 1.0 / (ca.n + cb.n - shared), 6) AS jac
        FROM pairs
        JOIN counts ca ON da = ca.doc_id
        JOIN counts cb ON db = cb.doc_id
        WHERE round(shared * 1.0 / (ca.n + cb.n - shared), 6) >= 0.1
"""


@query("i03_shingle_jaccard", oracle=_I03_PAIRS_SQL)
def i03_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates: 3-token shingles, exact Jaccard >= 0.1 on the
    distinct-shingle sets.  Candidates come from an equi-join on shingle, so
    only documents sharing at least one shingle are ever compared.

    The scan is widened (i34/i48 precedent — the local documents
    fixture is one parquet row group, so the shingle build otherwise
    runs on a single core; no-op at corpus scale): 3.2 s -> 1.1 s warm
    at sf0.1 together with the kernel's array-count form."""
    return shingle_jaccard_pairs(
        widen_if_narrow(load_table(spark, sf_dir, "documents"), "doc_id"))


def shingle_jaccard_pairs(d: DataFrame) -> DataFrame:
    """The i03 pipeline over an explicit (doc_id, text) frame — exported
    (the i67 precedent) so the tie/boundary pin in tests/
    test_units.py can drive the EXACT operators on crafted frames: the
    shingling, the distinct-set counts, and the threshold comparison
    all share their arithmetic with the oracle (the both-engines-wrong
    class), so they get a from-scratch pure-Python recomputation.

    The pinned frame holds one row per doc with the distinct-shingle
    array and its size (5 K array rows instead of 260 K exploded rows);
    the explode to shingle rows happens on both self-join sides, a cheap
    generator over the pinned arrays, not a recompute of the shingling."""
    base = shingle_sets(d).localCheckpoint()  # reused 3x (counts + both
    #                                           join sides)
    counts = base.select("doc_id", "n")
    pairs = shared_shingle_counts(base)
    jac = F.round(
        F.col("shared") / (F.col("ca.n") + F.col("cb.n") - F.col("shared")), 6)
    return (
        pairs.join(counts.alias("ca"), F.col("da") == F.col("ca.doc_id"))
        .join(counts.alias("cb"), F.col("db") == F.col("cb.doc_id"))
        .select("da", "db", jac.alias("jac"))
        .filter(F.col("jac") >= 0.1)
    )


# connected-component clustering CTE chain over the i03 pair set; shared by
# the i22 and i24 oracles so a threshold/formula change cannot drift them
_CLUSTERS_CTES_SQL = f"""near AS ({_I03_PAIRS_SQL}),
        edges AS (
            SELECT da AS a, db AS b FROM near
            UNION
            SELECT db, da FROM near
        ),
        reach(src, dst) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ),
        clusters AS (
            SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY 1
        )"""


I22_MAX_ITERS = 20


@query(
    "i22_dedup_clusters",
    oracle=f"""
        WITH RECURSIVE {_CLUSTERS_CTES_SQL}
        SELECT doc_id, cluster FROM clusters
    """,
)
def i22_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components over the near-dup pair graph
    (i03 edges), each document labeled with the smallest doc_id reachable —
    so one representative per duplicate CLUSTER can be kept, not just per
    pair.  Implemented as Pregel-style iterative min-label propagation:
    each round is one shuffle (edges ⋈ labels, groupBy min), looped until a
    fixed point; iteration count is the graph diameter (tiny for dup
    clusters).  localCheckpoint truncates the growing lineage.  The oracle
    is a recursive-CTE transitive closure (fine at oracle scale, quadratic
    in cluster size so never the production path).

    i22 (and i24, which runs it) keeps this loop rather than calling i27's
    cc_components: near-dup clusters have a tiny diameter, and on the
    benchmark lake (sf 0.002, local[4], median of 7 warm calls, generated
    classes reused) this loop took 19 jobs and 1.5 CPU s per call against
    the star kernel's 29 jobs and 2.4 CPU s.

    Iterations are bounded at I22_MAX_ITERS: min-label propagation
    converges in graph-diameter rounds, so hitting the cap means a bug or
    a pathological edge set — fail loudly instead of looping forever.  For
    graphs whose diameter could be large, the production path is
    i27_cc_bigstar (large-star/small-star, O(log n) rounds)."""
    edges = i03_shingle_jaccard(spark, sf_dir).select("da", "db")
    sym = edges.union(edges.select(F.col("db").alias("da"),
                                   F.col("da").alias("db")))
    sym = sym.localCheckpoint()  # tiny edge set; pin it once
    d = load_table(spark, sf_dir, "documents")
    labels = d.select("doc_id", F.col("doc_id").alias("cluster"))
    for _ in range(I22_MAX_ITERS):
        neigh = (
            sym.join(labels, sym.db == labels.doc_id)
            .groupBy("da").agg(F.min("cluster").alias("nmin"))
        )
        # The changed-label count is a ROW-WISE fact of the update (new
        # vs old cluster of the same row), so it folds into the
        # checkpoint job as an observed metric (r22, guide §1.5 driver
        # round-trips) — the former separate count action re-joined
        # new_labels to labels on doc_id every round to rediscover a
        # difference both operands of least() already knew.
        obs = Observation()
        upd = (
            labels.join(neigh, labels.doc_id == neigh.da, "left")
            .select(
                "doc_id",
                F.least("cluster", F.coalesce("nmin", "cluster")).alias("ncl"),
                F.col("cluster").alias("ocl"),
            )
            .observe(obs, F.sum((F.col("ncl") != F.col("ocl"))
                                .cast("long")).alias("changed"))
        )
        labels = (upd.select("doc_id", F.col("ncl").alias("cluster"))
                  .localCheckpoint())
        if (obs.get["changed"] or 0) == 0:
            return labels
    raise AssertionError(
        f"i22 min-label propagation did not converge in {I22_MAX_ITERS} "
        f"iterations (expected graph-diameter rounds); check the edge set, "
        f"or use i27_cc_bigstar (O(log n) rounds) for high-diameter graphs."
    )


@query(
    "i24_curation_pipeline",
    oracle=f"""
        WITH RECURSIVE {_CLUSTERS_CTES_SQL},
        quality AS (
            SELECT doc_id,
                   (least(len(string_split(text, ' ')), 100)
                    * ((len(list_distinct(string_split(text, ' '))) * 10000)
                       // len(string_split(text, ' ')))) // 100 AS score_e4
            FROM documents
        )
        SELECT d.lang, d.source,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN c.cluster = d.doc_id AND q.score_e4 >= 2500
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM documents d
        JOIN clusters c USING (doc_id)
        JOIN quality q USING (doc_id)
        GROUP BY 1, 2
    """,
)
def i24_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation, composed from the engine's own
    operators: near-dup clustering (i22) keeps one representative per
    duplicate cluster (the smallest doc_id), the fixed-point quality score
    (i14) gates low-diversity documents (threshold = corpus median), and
    the output is the per (lang, source) kept-vs-total census a data
    pipeline reports.  Note: the cluster labels are materialized EAGERLY —
    i22's fixed-point loop runs at construction time — while the quality
    gate and census stay lazy on the returned plan."""
    d = load_table(spark, sf_dir, "documents")
    clusters = i22_dedup_clusters(spark, sf_dir)
    quality = i14_quality_score(spark, sf_dir).select("doc_id", "score_e4")
    return (
        d.join(clusters, "doc_id")
        .join(quality, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when((F.col("cluster") == F.col("doc_id"))
                         & (F.col("score_e4") >= 2500), 1).otherwise(0))
             .alias("n_kept"),
        )
    )


@query("i04_minhash_lsh")  # hash seeds are engine-specific -> rows-only
def i04_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable near-dup via MinHash banding: shingle -> binary feature
    vector -> MinHashLSH -> approxSimilarityJoin.  Near-linear: candidate
    pairs only materialize when a band collides, unlike i03's full
    shingle-group expansion.

    The scan is widened (i34/i48 precedent — one-row-group local
    fixture, no-op at corpus scale), so the shingle + HashingTF feature
    build parallelizes into the localCheckpoint: 2.7 s -> 0.9 s warm at
    sf0.1, identical output (params and seed fixed)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = widen_if_narrow(load_table(spark, sf_dir, "documents"), "doc_id")
    docs = shingle_sets(d).select("doc_id", "sha")
    tf = HashingTF(inputCol="sha", outputCol="features",
                   numFeatures=1 << 18, binary=True)
    # pin the feature build: approxSimilarityJoin consumes it as BOTH join
    # sides (plus the fit), and unpinned each consumer re-runs the full
    # shingle + hashing pipeline (measured 6.4s -> 2.1s at sf0.1; output
    # identical — params and seed are fixed)
    feats = tf.transform(docs).localCheckpoint()
    lsh = MinHashLSH(inputCol="features", outputCol="bands",
                     numHashTables=8, seed=42)
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 0.9, distCol="jaccard_dist")
    return (
        joined.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("da"),
            F.col("datasetB.doc_id").alias("db"),
            F.round(F.col("jaccard_dist"), 6).alias("dist"),
        )
    )


@query(
    "i07_token_stats",
    oracle="""
        SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1 ORDER BY tf DESC, tok LIMIT 30
    """,
)
def i07_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide term and document frequencies (the vocabulary-build
    aggregate), cut to a bounded top-30 TakeOrdered."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("tf"), "tok")
        .limit(30)
    )


@query(
    "i08_tfidf",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ), tf AS (
            SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2
        ), df AS (
            SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
        ), n AS (SELECT count(*) AS nd FROM documents)
        SELECT doc_id, tf.tok AS tok,
               round(c * ln(nd * 1.0 / df), 6) AS tfidf
        FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
        QUALIFY row_number() OVER (PARTITION BY doc_id
                 ORDER BY c * ln(nd * 1.0 / df) DESC, tf.tok) <= 3
    """,
)
def i08_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, term) tf-idf, top-3 terms per document.  Two aggregations
    + a broadcast of the tiny df table; at corpus scale df is itself huge,
    so it stays a shuffle join on term.  The corpus size N enters as a
    broadcast 1-row aggregate (not a driver-side count), so the whole query
    is a single lazy job."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = F.broadcast(d.agg(F.count(F.lit(1)).alias("nd")))
    tok = d.select("doc_id", F.explode(tokens()).alias("tok"))
    # pin tf: both the score join and the df aggregate consume it, and
    # Catalyst plans unpinned subtrees twice (column pruning makes the two
    # copies non-canonical, so ReusedExchange never fires) — without the
    # pin the corpus would be scanned and exploded twice
    tf = (tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
          .localCheckpoint())
    # df derives from tf — one row per (doc, term) means count(*) per term
    # IS the distinct-doc count, so the countDistinct becomes a plain count
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df, "tok").crossJoin(n_docs).withColumn(
        "tfidf_raw",
        F.col("c") * F.log(F.col("nd").cast("double") / F.col("df")))
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf_raw"), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", F.round("tfidf_raw", 6).alias("tfidf"))
    )


@query(
    "i09_ngrams",
    oracle="""
        SELECT bg, count(*) AS n
        FROM (
            SELECT unnest(list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i+1])) AS bg
            FROM (SELECT string_split(text, ' ') AS t FROM documents)
        )
        GROUP BY 1 ORDER BY n DESC, bg LIMIT 20
    """,
)
def i09_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("t", tokens())
        .select(F.explode(ngrams("t", 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bg")
        .limit(20)
    )


_SOURCES = [f"src{i}" for i in range(20)]


@query(
    "i10_pivot_lang_source",
    oracle="SELECT lang, "
           + ", ".join(
               f"CAST(sum(CASE WHEN source = '{s}' THEN 1 ELSE 0 END)"
               f" AS BIGINT) AS {s}"
               for s in _SOURCES)
           + " FROM documents GROUP BY 1",
)
def i10_pivot_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit pivot value list: skips the extra distinct-values job AND
    # keeps the output schema stable across scale factors
    d = load_table(spark, sf_dir, "documents")
    piv = d.groupBy("lang").pivot("source", _SOURCES).count()
    return piv.select(
        "lang", *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in _SOURCES])


@query(
    "i12_length_histogram",
    oracle="""
        SELECT n_chars // 100 AS bucket, count(*) AS n,
               round(avg(n_chars), 4) AS avg_chars
        FROM documents GROUP BY 1
    """,
)
def i12_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.expr("n_chars div 100").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("n_chars"), 4).alias("avg_chars"))
    )


_LANG_LISTS = {
    "en": ("join", "select", "hash"),
    "de": ("scan", "filter", "index"),
    "es": ("row", "batch", "merge"),
}


@query(
    "i13_language_id",
    oracle="""
        WITH t AS (
            SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
            FROM documents
        ), hits AS (
            SELECT doc_id, lang,
                   len(list_filter(toks, x -> list_contains(['join','select','hash'], x))) AS en_hits,
                   len(list_filter(toks, x -> list_contains(['scan','filter','index'], x))) AS de_hits,
                   len(list_filter(toks, x -> list_contains(['row','batch','merge'], x))) AS es_hits
            FROM t
        )
        SELECT doc_id, lang, en_hits, de_hits, es_hits,
               CASE WHEN en_hits >= de_hits AND en_hits >= es_hits THEN 'en'
                    WHEN de_hits >= es_hits THEN 'de'
                    ELSE 'es' END AS guess
        FROM hits
    """,
)
def i13_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword-overlap language ID heuristic.  The synthetic corpus
    shares one vocabulary, so the marker lists are engine terms; with real
    corpora the lists become per-language stopwords — the plan (map-side
    array_intersect, no shuffle) is identical."""
    d = load_table(spark, sf_dir, "documents")
    t = d.withColumn("toks", F.array_distinct(tokens()))
    hits = {
        f"{k}_hits": F.size(F.array_intersect(
            "toks", F.array(*[F.lit(x) for x in v])))
        for k, v in _LANG_LISTS.items()
    }
    for name, col in hits.items():
        t = t.withColumn(name, col)
    guess = (
        F.when((F.col("en_hits") >= F.col("de_hits"))
               & (F.col("en_hits") >= F.col("es_hits")), "en")
        .when(F.col("de_hits") >= F.col("es_hits"), "de")
        .otherwise("es")
    )
    return t.select("doc_id", "lang", "en_hits", "de_hits", "es_hits",
                    guess.alias("guess"))


@query(
    "i14_quality_score",
    oracle="""
        WITH t AS (
            SELECT doc_id, n_chars,
                   len(string_split(text, ' ')) AS n_toks,
                   len(list_distinct(string_split(text, ' '))) AS n_uniq
            FROM documents
        )
        SELECT doc_id, n_toks,
               (n_uniq * 10000) // n_toks AS uniq_e4,
               ((n_chars - n_toks + 1) * 100) // n_toks AS toklen_e2,
               (least(n_toks, 100) * ((n_uniq * 10000) // n_toks)) // 100 AS score_e4
        FROM t
    """,
)
def i14_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (length / lexical diversity / token length).
    All ratios are fixed-point integers (x10^4) — integer div is the only
    cross-engine-deterministic rounding (cf. e07)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("toks", tokens())
        .withColumn("n_toks", F.size("toks"))
        .withColumn("n_uniq", F.size(F.array_distinct("toks")))
        .selectExpr(
            "doc_id", "n_toks",
            "(n_uniq * 10000) div n_toks AS uniq_e4",
            "((n_chars - n_toks + 1) * 100) div n_toks AS toklen_e2",
            "(least(n_toks, 100) * ((n_uniq * 10000) div n_toks)) div 100 AS score_e4",
        )
    )


@query(
    "i15_fingerprint",
    oracle="""
        SELECT md5(text) AS fp, count(*) AS n, min(doc_id) AS first_doc
        FROM documents GROUP BY 1
    """,
)
def i15_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # content fingerprint = md5(text): cross-engine deterministic, and the
    # scale pattern for exact dedup of wide rows — shuffle 16 bytes, not docs
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("fp")).agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("first_doc"))


@query(
    "i20_token_count",
    oracle="""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_ws,
               len(regexp_extract_all(concat(text, ' v', CAST(doc_id AS VARCHAR), '.txt'),
                                      '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
               (n_chars + 3) // 4 AS n_approx
        FROM documents WHERE text IS NOT NULL
    """,
)
def i20_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace tokens, a BPE-ish regex
    (letter runs / digit runs / single punctuation — the pre-tokenizer
    shape of GPT-style BPE), and the chars/4 heuristic.  The fixture text
    is pure lowercase+spaces, which would leave the digit/punctuation
    regex branches untested — so the BPE count runs over the text plus a
    synthetic ' v<doc_id>.txt' suffix, forcing every branch to match on
    every row (identical construction on both sides).  NULL-text docs are
    excluded by contract on both engines (the i25/i56 convention; r12
    null-docs sweep — unfiltered, DuckDB's NULL-skipping concat() and
    Spark's NULL-propagating concat() diverge on the BPE count)."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.size(tokens()).alias("n_ws"),
        F.expr("size(regexp_extract_all("
               "concat(text, ' v', CAST(doc_id AS STRING), '.txt'),"
               " '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))").alias("n_bpe"),
        F.expr("(n_chars + 3) div 4").alias("n_approx"),
    )


_ROLLING_TOKEN_VALUE_SPARK = (
    "length(x) * 131 + CASE WHEN length(x) > 0 THEN"
    " ascii(substring(x, 1, 1)) * 7 + ascii(substring(x, length(x), 1))"
    " ELSE 0 END"
)
_ROLLING_TOKEN_VALUE_DUCK = (
    "length(x) * 131 + CASE WHEN length(x) > 0 THEN"
    " ord(substr(x, 1, 1)) * 7 + ord(substr(x, length(x), 1))"
    " ELSE 0 END"
)


@query(
    "i21_rolling_hash",
    oracle=f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents WHERE text IS NOT NULL)
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(toks,
                           x -> CAST({_ROLLING_TOKEN_VALUE_DUCK} AS BIGINT))),
                   (acc, x) -> (acc * 31 + x) % 1000000007) AS rh
        FROM t
    """,
)
def i21_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: a polynomial rolling hash
    folded over the token stream (unlike md5 in i15, prefix-incremental —
    the building block of content-defined chunking).  Exact integer
    arithmetic mod 1e9+7; the DuckDB fold seeds the accumulator by
    prepending 0, replicating aggregate()'s init.

    Per-token value uses codepoint-indexed substring for first/last chars,
    NOT reverse(): DuckDB reverses grapheme clusters while Spark reverses
    codepoints, and DuckDB ord('') is -1 where Spark ascii('') is 0 — both
    divergences guarded here (empty tokens score length-only).  NULL-text
    docs are excluded by contract on both engines (r12 null-docs sweep —
    unfiltered, DuckDB's list_prepend(0, NULL) folds to 0 while Spark's
    aggregate(NULL) is NULL)."""
    return rolling_hash_frame(load_table(spark, sf_dir, "documents"))


def rolling_hash_frame(d: DataFrame) -> DataFrame:
    """The i21 fold over an explicit (doc_id, text) frame — exported
    (r17) so the pure-Python recomputation pin in tests/test_units.py
    can drive the EXACT expression on crafted token classes: the fold
    and token-value formulas are mirrored into both dialects, the
    both-engines-wrong class."""
    return (
        d.filter(F.col("text").isNotNull()).withColumn("toks", tokens())
        .select(
            "doc_id",
            F.expr(
                "aggregate(toks, 0L, (acc, x) -> "
                f"(acc * 31 + ({_ROLLING_TOKEN_VALUE_SPARK})) % 1000000007)"
            ).alias("rh"),
        )
    )


# ---- SimHash (16-bit, md5-derived, frequency-weighted) --------------------
# bit i of the fingerprint = sign of sum over tokens of (2*bit_i(md5) - 1);
# the hex-digit -> bit arithmetic is generated once and mirrored verbatim
# into both dialects, so the fingerprints are cross-engine checkable.

def _simhash_digit_exprs(hexcol: str, spark_side: bool) -> list[str]:
    pos = "locate(substring({h}, {p}, 1), '0123456789abcdef')" if spark_side \
        else "strpos('0123456789abcdef', substr({h}, {p}, 1))"
    return [f"({pos.format(h=hexcol, p=p)} - 1)" for p in (1, 2, 3, 4)]


def _simhash_bit_sql(digit: str, b: int, spark_side: bool) -> str:
    div = "div" if spark_side else "//"
    return f"(({digit} {div} {1 << b}) % 2)"


def _simhash_oracle() -> str:
    digits = _simhash_digit_exprs("h", spark_side=False)
    sums = ", ".join(
        f"sum(2 * {_simhash_bit_sql(f'd{p}', b, False)} - 1) AS s{p * 4 + b}"
        for p in range(4) for b in range(4))
    fp = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16))
    return f"""
        WITH tok AS (
            SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents
        ), dig AS (
            SELECT doc_id, {digits[0]} AS d0, {digits[1]} AS d1,
                   {digits[2]} AS d2, {digits[3]} AS d3
            FROM tok
        ), sums AS (
            SELECT doc_id, {sums} FROM dig GROUP BY 1
        )
        SELECT doc_id, CAST({fp} AS BIGINT) AS fp FROM sums
    """


@query("i16_simhash", oracle=_simhash_oracle())
def i16_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_frame(load_table(spark, sf_dir, "documents"))


def simhash_frame(d: DataFrame) -> DataFrame:
    """The i16 fingerprint over an explicit (doc_id, text) frame —
    exported (r17) so the pure-Python pin in tests/test_units.py can
    drive the EXACT generated expressions on crafted frames: the
    digit/bit arithmetic is mirrored verbatim into both dialects (the
    both-engines-wrong class), and the sign boundary (a ZERO bit-sum
    scores 0, not 1) only shows on constructed cancellations."""
    tok = (
        d.select("doc_id", F.explode(tokens()).alias("tok"))
        .select("doc_id", F.md5("tok").alias("h"))
    )
    digits = _simhash_digit_exprs("h", spark_side=True)
    dig = tok.select(
        "doc_id",
        *[F.expr(digits[p]).alias(f"d{p}") for p in range(4)])
    sums = dig.groupBy("doc_id").agg(*[
        F.sum(F.expr(f"2 * {_simhash_bit_sql(f'd{p}', b, True)} - 1"))
         .alias(f"s{p * 4 + b}")
        for p in range(4) for b in range(4)
    ])
    fp = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16))
    return sums.select("doc_id", F.expr(f"CAST({fp} AS BIGINT)").alias("fp"))


@query(
    "i17_simhash_pairs",
    oracle=f"""
        WITH fps AS ({_simhash_oracle()})
        SELECT bit_count(xor(a.fp, b.fp)) AS hd, count(*) AS n
        FROM fps a JOIN fps b ON a.doc_id < b.doc_id
        GROUP BY 1 HAVING bit_count(xor(a.fp, b.fp)) <= 4
    """,
)
def i17_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair census by SimHash hamming distance (<=4 of 16 bits).
    At 100 TB: pigeonhole-block on 4-bit sub-keys so candidates arrive via
    equi-join instead of this demonstration cross-join."""
    # pin the fingerprint table: both sides of the quadratic join would
    # otherwise recompute the full explode+md5+16-column aggregation
    fps = i16_simhash(spark, sf_dir).localCheckpoint()
    a, b = fps.alias("a"), fps.alias("b")
    hd = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(hd.alias("hd"))
        .groupBy("hd").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("hd") <= 4)
    )


def top_run_count(arr_sql: str) -> str:
    """SQL expression: the count of the most frequent element of the string
    array ``arr_sql``, computed map-side as the longest equal run of the
    SORTED array (max frequency == max run length after sorting).  The
    accumulator carries (prev element, current run, best run); ``<=>``
    handles the null-prev seed.  O(n log n) per row, zero shuffles — the
    kernel that lets i25 avoid an explode + (doc, token) count shuffle.
    Pinned against Python's Counter in tests/test_property.py."""
    return f"""aggregate(
               array_sort({arr_sql}),
               named_struct('prev', cast(null AS string),
                            'run', 0L, 'best', 0L),
               (acc, t) -> named_struct(
                   'prev', t,
                   'run', IF(t <=> acc.prev, acc.run + 1, 1L),
                   'best', greatest(acc.best,
                                    IF(t <=> acc.prev, acc.run + 1, 1L))),
               acc -> acc.best)"""


@query(
    "i25_repetition_filter",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), tri AS (
            SELECT doc_id, len(toks) AS n,
                   CASE WHEN len(toks) >= 3
                        THEN list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                        ELSE [] END AS tg
            FROM t
        ), tstats AS (
            SELECT doc_id, n, len(tg) AS n_tri,
                   len(list_distinct(tg)) AS n_uniq_tri
            FROM tri
        ), topt AS (
            SELECT doc_id, max(c) AS top_cnt FROM (
                SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                GROUP BY 1, 2
            ) GROUP BY 1
        )
        SELECT s.doc_id,
               CASE WHEN n_tri > 0
                    THEN ((n_tri - n_uniq_tri) * 10000) // n_tri
                    ELSE 0 END AS dup3_e4,
               (top_cnt * 10000) // n AS top_e4,
               (CASE WHEN n_tri > 0
                     THEN ((n_tri - n_uniq_tri) * 10000) // n_tri
                     ELSE 0 END) < 2000
                 AND (top_cnt * 10000) // n < 2000 AS keep
        FROM tstats s JOIN topt USING (doc_id)
    """,
)
def i25_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style repetition filters: fraction of duplicate 3-grams
    and most-frequent-token share per document, fixed-point e4 integers
    (integer div — the only cross-engine-deterministic rounding), plus the
    combined keep gate (<20% on both axes).

    Scale shape: pure map-side, ZERO exchanges at corpus scale.  The
    trigram stats are array expressions (transform/array_distinct, no
    explode); the top-token count is the longest run in the per-doc
    SORTED token array (max frequency == max run length after sorting),
    an O(n log n)-per-doc aggregate lambda — so the 100 TB cost is
    exactly one scan+project, with no (doc, token) shuffle and no
    rejoin.  Per-doc sort beats the explode/shuffle form at any scale
    because the doc_id key space is the corpus itself: both shuffles it
    replaces moved every token.  Locally the per-doc sort+lambda CPU is
    the heaviest map work in the i-family, and the documents scan is one
    row group — i34/i48 precedent, widen the degenerate scan so it does
    not serialize on one core (0.74 s -> 0.42 s median noop at sf0.1;
    a real multi-split corpus scan is untouched by the guard)."""
    d = load_table(spark, sf_dir, "documents")
    # NULL-text docs must drop: the oracle's `JOIN topt` discards them
    # (unnest of a NULL list yields no rows) — without this filter the
    # shuffle-free form would keep them with NULL metrics (fixture texts
    # are never NULL, but the operator must not depend on that)
    t = (widen_if_narrow(d.filter(F.col("text").isNotNull())
                         .select("doc_id", "text"))
         .select("doc_id", tokens().alias("toks")))
    # build the trigram array ONCE per row (Catalyst does not CSE
    # higher-order-function lambdas), then take both sizes from it —
    # mirroring the oracle's tri/tstats CTE split
    tstats = t.select(
        "doc_id",
        F.size("toks").alias("n"),
        ngrams("toks", 3).alias("tg"),
        F.expr(top_run_count("toks")).alias("top_cnt"),
    ).selectExpr(
        "doc_id", "n", "top_cnt",
        "size(tg) AS n_tri",
        "size(array_distinct(tg)) AS n_uniq_tri",
    )
    return tstats.selectExpr(
        "doc_id",
        "CASE WHEN n_tri > 0 THEN ((n_tri - n_uniq_tri) * 10000) div n_tri"
        " ELSE 0 END AS dup3_e4",
        "(top_cnt * 10000) div n AS top_e4",
        "(CASE WHEN n_tri > 0 THEN ((n_tri - n_uniq_tri) * 10000) div n_tri"
        " ELSE 0 END) < 2000 AND (top_cnt * 10000) div n < 2000 AS keep",
    )


@query(
    "i56_gopher_rule_breakdown",
    oracle="""
        WITH t AS (
            SELECT doc_id, source, string_split(text, ' ') AS toks
            FROM documents WHERE text IS NOT NULL
        ), m AS (
            SELECT source, len(toks) AS n,
                   CAST(list_sum(list_transform(toks, x -> len(x)))
                        AS DOUBLE) / len(toks) AS mwl,
                   len(list_intersect(list_distinct(toks), ['the', 'a']))
                       AS n_stop
            FROM t
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n < 50 OR n > 100000
                             THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
               CAST(sum(CASE WHEN mwl < 3 OR mwl > 10
                             THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordlen,
               CAST(sum(CASE WHEN n_stop < 2
                             THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
               CAST(sum(CASE WHEN n >= 50 AND n <= 100000
                              AND mwl >= 3 AND mwl <= 10 AND n_stop >= 2
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
               round(CAST(sum(CASE WHEN n >= 50 AND n <= 100000
                                    AND mwl >= 3 AND mwl <= 10
                                    AND n_stop >= 2
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS pass_share
        FROM m GROUP BY source
    """,
)
def i56_gopher_rule_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source breakdown of Gopher's document-quality gates (Rae et
    al. 2021 §A1.1): word-count bounds [50, 100000], mean word length in
    [3, 10], and >=2 distinct stop words — the corpus's articles
    {'the', 'a'} stand in for Gopher's English stop list.  Reported as
    per-rule failure counts plus the all-rules pass share, the table a
    curation run reads to see WHICH rule is cutting a source.
    Registered round 12 (staged since round 9; completes the i25
    quality-filter family).

    Scale shape (i25's idiom): every per-doc stat is an array expression
    — no explode, no (doc, token) shuffle — so the only exchange is the
    final source rollup with map-side partial aggregation.  Mean word
    length is an exact integer sum divided once, identical cross-engine;
    the rule thresholds compare that one double the same way on both."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull()))
    m = (d.select("source", tokens().alias("toks"))
         .selectExpr(
             "source",
             "size(toks) AS n",
             "cast(aggregate(toks, 0L, (acc, x) -> acc + length(x))"
             " AS double) / size(toks) AS mwl",
             "size(array_intersect(array_distinct(toks),"
             " array('the', 'a'))) AS n_stop"))
    ok = ("n >= 50 AND n <= 100000 AND mwl >= 3 AND mwl <= 10"
          " AND n_stop >= 2")
    return m.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr("CASE WHEN n < 50 OR n > 100000 THEN 1 ELSE 0 END"))
         .alias("fail_len"),
        F.sum(F.expr("CASE WHEN mwl < 3 OR mwl > 10 THEN 1 ELSE 0 END"))
         .alias("fail_wordlen"),
        F.sum(F.expr("CASE WHEN n_stop < 2 THEN 1 ELSE 0 END"))
         .alias("fail_stop"),
        F.sum(F.expr(f"CASE WHEN {ok} THEN 1 ELSE 0 END")).alias("n_pass"),
        F.round(
            F.sum(F.expr(f"CASE WHEN {ok} THEN 1 ELSE 0 END"))
            .cast("double") / F.count(F.lit(1)), 6).alias("pass_share"),
    )


@query(
    "i26_pii_redaction",
    oracle="""
        WITH bodies AS (
            SELECT doc_id,
                   text || ' contact u' || CAST(doc_id AS VARCHAR)
                        || '@mail.example.com'
                        || CASE WHEN doc_id % 3 = 0
                                THEN ' and backup b' || CAST(doc_id AS VARCHAR)
                                     || '@alt.example.org'
                                ELSE '' END
                        || ' or call 555-' || CAST(doc_id % 10000 AS VARCHAR)
                        || ' now' AS body
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(body, '[a-z0-9.]+@[a-z0-9.]+')) AS n_email,
               len(regexp_extract_all(body, '555-[0-9]+')) AS n_phone,
               md5(regexp_replace(regexp_replace(body,
                   '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                   '555-[0-9]+', '<PHONE>', 'g')) AS red_fp
        FROM bodies
    """,
)
def i26_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing, the redaction pass every training-data pipeline runs
    before anything else: count and replace email/phone spans with typed
    placeholder tags.  The corpus text is lowercase words only, so a
    deterministic synthetic contact block (keyed off doc_id, identical
    construction on both engines, cf. i20's suffix trick) is appended to
    exercise the patterns — 1 or 2 emails plus one phone per document.
    md5 of the redacted body proves replacement byte-equality cross-engine.

    Patterns stay in the RE2-compatible subset (character classes, +) so
    Java regex (Spark) and RE2 (DuckDB) match identically; DuckDB needs the
    'g' flag to mirror Spark's replace-all default.  Pure map-side — the
    100 TB plan is scan + project, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"), F.lit(" contact u"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" and backup b"), F.col("doc_id").cast("string"),
                        F.lit("@alt.example.org"))).otherwise(""),
        F.lit(" or call 555-"), (F.col("doc_id") % 10000).cast("string"),
        F.lit(" now"))
    email, phone = "[a-z0-9.]+@[a-z0-9.]+", "555-[0-9]+"
    red = F.regexp_replace(F.regexp_replace(body, email, "<EMAIL>"),
                           phone, "<PHONE>")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(body, F.lit(email), F.lit(0))).alias("n_email"),
        F.size(F.regexp_extract_all(body, F.lit(phone), F.lit(0))).alias("n_phone"),
        F.md5(red).alias("red_fp"),
    )


@query(
    "i27_cc_bigstar",
    oracle=f"""
        WITH RECURSIVE {_CLUSTERS_CTES_SQL}
        SELECT doc_id, cluster FROM clusters
    """,
)
def i27_cc_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component dedup clusters via alternating large-star /
    small-star rounds (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — the production-scale alternative to i22's plain label
    propagation: converges in O(log n) rounds independent of component
    DIAMETER, so a 100 TB near-dup graph with long chains still finishes.

    Each round is two grouped aggregations keyed by node (min-neighbor) and
    two doc_id equi-joins — no collect_set, no per-node neighbor lists, so
    a hot node (a boilerplate document near-dup to millions) stays a
    streaming aggregate instead of an OOM array.  Same output contract as
    i22 (doc_id -> min doc_id of its cluster) and the same recursive-CTE
    oracle, so the two implementations police each other."""
    edges = i03_shingle_jaccard(spark, sf_dir).select(
        F.col("da").alias("a"), F.col("db").alias("b"))
    nbmin = cc_components(edges)
    # isolated docs label themselves
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id").join(nbmin, "doc_id", "left")
        .select("doc_id",
                F.least(F.col("doc_id"), F.coalesce("mn", F.col("doc_id")))
                 .alias("cluster"))
    )


def cc_components(edges: DataFrame) -> DataFrame:
    """The i27 kernel over any undirected (a, b) long-id edge frame:
    alternating large-star / small-star rounds to a fixed point, returning
    (doc_id, mn) where mn is the minimum node id reachable from doc_id
    (i.e. its component label candidate; label = least(doc_id, mn)).  Only
    nodes with at least one edge appear — callers handle isolated nodes.
    Factored out so unit tests drive it on constructed edge sets."""
    def large_star(sym: DataFrame) -> DataFrame:
        # connect every neighbor v > u to m(u) = min(N(u) + {u}); the
        # duplicates this can emit are removed by small_star's distinct()
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("u"), F.col("mn"))
        out = (sym.join(mins, "u")
               .filter(F.col("v") > F.col("u"))
               .select(F.col("v").alias("a"), m.alias("b")))
        return out.filter(F.col("a") != F.col("b"))

    def small_star(und: DataFrame) -> DataFrame:
        # orient each edge large -> small, then connect all smaller
        # neighbors (and the center) to the minimum
        o = und.select(F.greatest("a", "b").alias("u"),
                       F.least("a", "b").alias("v"))
        mins = o.groupBy("u").agg(F.min("v").alias("mn"))
        nbr = (o.join(mins, "u")
               .select(F.col("v").alias("a"), F.col("mn").alias("b")))
        ctr = mins.select(F.col("u").alias("a"), F.col("mn").alias("b"))
        return (nbr.union(ctr)
                .filter(F.col("a") != F.col("b")).distinct())

    # `prev` is the canonical edge set: a > b strictly, distinct.  Self
    # loops are dropped up front; large_star never connects a node to
    # itself, so they change no label.  Its size comes from an observed
    # metric of the checkpoint job, not a separate count() action.
    seed = Observation()
    prev = (edges.select(F.greatest("a", "b").alias("a"),
                         F.least("a", "b").alias("b"))
            .filter(F.col("a") != F.col("b")).distinct()
            .observe(seed, F.count(F.lit(1)).alias("n"))
            .localCheckpoint())
    prev_n = seed.get["n"]
    # big-star/small-star converges in O(log n) rounds; bound the loop at
    # ceil(log2(n)) + slack, n the symmetric edge count, and fail loudly —
    # a regression in the star transforms must not hang the run.
    max_rounds = max(8, math.ceil(math.log2(2 * prev_n + 2)) + 4)
    # The fixed-point test is folded into each round's checkpoint job.
    # small_star's output is canonical like `prev` (nbr rows pair v with
    # mn = min over its group, filtered a != b; ctr rows pair u with
    # mn < u; then distinct), so with matched = |stars ∩ prev| observed
    # by an (a, b) equi-join during the checkpoint,
    # stars == prev as sets  ⟺  matched == |stars| ∧ matched == |prev|.
    for _round in range(max_rounds + 1):
        if _round == max_rounds:
            raise AssertionError(
                f"i27 big-star/small-star did not converge in {max_rounds} "
                f"rounds (expected O(log n)); the star transforms or the "
                f"edge set are pathological."
            )
        # a > b and distinct, so the symmetric union is distinct too
        stars = small_star(large_star(
            prev.select(F.col("a").alias("u"), F.col("b").alias("v"))
                .union(prev.select(F.col("b").alias("u"), F.col("a").alias("v")))))
        obs = Observation()
        prev = (
            stars.join(prev.withColumn("_seen", F.lit(1)), ["a", "b"], "left")
            .observe(obs, F.count(F.lit(1)).alias("n"),
                     F.sum("_seen").alias("matched"))
            .select("a", "b").localCheckpoint())
        n, matched = obs.get["n"], obs.get["matched"] or 0
        if n == matched == prev_n:
            break
        prev_n = n
    # converged: stars centered at component minima
    sym = (prev.select(F.col("a").alias("doc_id"), F.col("b").alias("nb"))
           .union(prev.select(F.col("b").alias("doc_id"), F.col("a").alias("nb"))))
    return sym.groupBy("doc_id").agg(F.min("nb").alias("mn"))


@query(
    "i28_text_canonicalize",
    oracle="""
        WITH messy AS (
            SELECT doc_id, text,
                   '  ' || upper(substr(text, 1, 5)) || substr(text, 6)
                        || CASE WHEN doc_id % 2 = 0 THEN '!!' ELSE ' .' END
                        || '  ' AS body
            FROM documents
        ), canon AS (
            SELECT doc_id, text,
                   length(body) AS n_raw,
                   trim(regexp_replace(regexp_replace(lower(body),
                        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS c
            FROM messy
        )
        SELECT doc_id, n_raw,
               length(c) AS n_canon,
               md5(c) AS canon_fp,
               c = text AS matches_original
        FROM canon
    """,
)
def i28_text_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization before exact dedup: lowercase, strip punctuation,
    collapse runs of whitespace, trim — so near-identical crawls ("Same
    text!!" vs "same text .") collide on one md5 fingerprint instead of
    escaping exact dedup (i01/i15 operate downstream of this).  The corpus
    text is already canonical, so a deterministic mess (case-flip + edge
    punctuation + padding, keyed off doc_id, identical construction on
    both engines) is applied first; `matches_original` then proves the
    normalizer inverts exactly the mess it was given.  Pure map-side
    string kernel — scan + project, no shuffle at any scale."""
    d = load_table(spark, sf_dir, "documents")
    body = F.concat(
        F.lit("  "), F.upper(F.substring("text", 1, 5)),
        F.expr("substring(text, 6)"),
        F.when(F.col("doc_id") % 2 == 0, "!!").otherwise(" ."), F.lit("  "))
    canon = F.trim(F.regexp_replace(F.regexp_replace(
        F.lower(body), "[^a-z0-9 ]", ""), " +", " "))
    return d.select(
        "doc_id",
        F.length(body).alias("n_raw"),
        F.length(canon).alias("n_canon"),
        F.md5(canon).alias("canon_fp"),
        (canon == F.col("text")).alias("matches_original"),
    )


@query(
    "i30_zipf_token_rank",
    oracle="""
        WITH raw AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        counts AS (
            SELECT tok, count(*) AS n FROM raw WHERE tok <> '' GROUP BY 1
        ),
        total AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
        ranked AS (
            SELECT tok, n,
                   row_number() OVER (ORDER BY n DESC, tok) AS rnk,
                   CAST(sum(n) OVER (ORDER BY n DESC, tok
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM counts
        )
        SELECT tok, n, rnk, (cum * 10000) // total AS cum_bp
        FROM ranked, total
        ORDER BY rnk
        LIMIT 50
    """,
)
def i30_zipf_token_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf curve of the corpus vocabulary: global token rank + cumulative
    corpus share in basis points, for the top 50 tokens.  Share is
    computed with BIGINT floor division ((cum*10000) div total) — exact in
    both engines, no float quotient to flap (README determinism rule 3).

    Scale shape: the heavy explode+count reduces corpus -> vocabulary
    map-side; since the OUTPUT is only the top 50, the top-k happens
    FIRST (TakeOrderedAndProject — distributed per-partition heaps, never
    a vocabulary-wide sort), and rank + cumulative sum over those 50 rows
    come from a bounded 50x50 broadcast theta-join: row a's rank is the
    count of rows at-or-before it in (n DESC, tok) order, its cum the sum
    of their counts.  Every row ranked <= 50 globally is in the top-50
    frame, so ranks computed inside it equal the global ranks.  No
    unpartitioned window anywhere (formerly a vocabulary-sized single-task
    rank window — r6's accepted-but-bounded shape, now eliminated);
    total is a broadcast 1-row agg, not a driver collect."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens()).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    top = counts.orderBy(F.desc("n"), F.asc("tok")).limit(50).localCheckpoint()
    a, b = top.alias("a"), top.alias("b")
    at_or_before = (F.col("b.n") > F.col("a.n")) | (
        (F.col("b.n") == F.col("a.n")) & (F.col("b.tok") <= F.col("a.tok")))
    ranked = (
        a.join(F.broadcast(b), at_or_before)
        .groupBy(F.col("a.tok").alias("tok"), F.col("a.n").alias("n"))
        .agg(F.count(F.lit(1)).cast("int").alias("rnk"),
             F.sum("b.n").alias("cum"))
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .select("tok", "n", "rnk",
                F.expr("(cum * 10000) div total").alias("cum_bp"))
        .orderBy("rnk")
    )


@query(
    "i32_token_cooccurrence",
    oracle="""
        WITH raw AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        toks AS (SELECT DISTINCT doc_id, tok FROM raw WHERE tok <> '')
        SELECT t1.tok AS tok_a, t2.tok AS tok_b, count(*) AS n
        FROM toks t1 JOIN toks t2
          ON t1.doc_id = t2.doc_id AND t1.tok < t2.tok
        GROUP BY 1, 2
        ORDER BY n DESC, tok_a, tok_b
        LIMIT 50
    """,
)
def i32_token_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level token co-occurrence counts — the integer sufficient
    statistics for PMI / association mining, deliberately emitted as raw
    counts (downstream PMI needs log(), which IEEE does not pin
    cross-engine).  Per-doc distinct tokens via array_distinct BEFORE the
    explode (map-side, no dedup shuffle), then a self-equi-join on doc_id:
    pair blow-up is bounded by (tokens/doc)^2 per document, never corpus-
    quadratic.  At 100 TB the standard pruning is a vocabulary filter
    (drop tokens below a count floor / above a doc-frequency ceiling)
    before the self-join; top-k compiles to TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id",
                 F.explode(F.array_distinct(tokens())).alias("tok"))
        .filter(F.col("tok") != "")
    )
    t1 = toks.alias("t1")
    t2 = toks.alias("t2")
    return (
        t1.join(t2, (F.col("t1.doc_id") == F.col("t2.doc_id"))
                & (F.col("t1.tok") < F.col("t2.tok")))
        .groupBy(F.col("t1.tok").alias("tok_a"), F.col("t2.tok").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok_a", "tok_b")
        .limit(50)
    )


@query(
    "i33_decontamination",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
        ),
        ng AS (
            SELECT doc_id, source,
                   unnest(list_transform(generate_series(0, len(t) - 5),
                                         i -> array_to_string(t[i+1:i+5], ' ')))
                       AS g
            FROM toks WHERE len(t) >= 5
        ),
        bench AS (SELECT DISTINCT g FROM ng WHERE source = 'src0'),
        corpus AS (SELECT DISTINCT doc_id, g FROM ng WHERE source <> 'src0')
        SELECT doc_id, count(*) AS n_hits
        FROM corpus JOIN bench USING (g)
        GROUP BY 1
    """,
)
def i33_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag training documents sharing any
    5-gram with the held-out set (here: source 'src0' plays the eval
    suite).  The canonical pre-training hygiene pass: n-gram the eval set
    once (distinct grams, tiny), n-gram the corpus, and count distinct
    matching grams per document via a broadcast equi-join — corpus-linear,
    one shuffle for the per-doc count.  At 100 TB the broadcast of eval
    grams (millions of rows, not billions) still fits; if not, the same
    plan runs as a shuffled semi-join with a bloom-filter pushdown.
    Gram construction is sequence+slice+concat_ws, all JVM higher-order
    functions — no Python in the hot path.  Gram dedup happens AFTER the
    selective broadcast join (countDistinct per doc), so the only
    corpus-wide shuffle carries matching grams — normally a sliver of the
    stream — instead of a distinct over every (doc, gram).

    The shared scan is widened BEFORE the eval/corpus branch split
    (i34/i48 precedent; 0.89 s -> 0.68 s median noop at sf0.1): the
    documents fixture is one parquet row group, so both branches' gram
    explodes otherwise serialize on a single core.  The branch filters
    move above the widening exchange (no longer scan-pushed), which at
    local scale is the right trade — the exchange moves ~600 KB once and
    buys 32-way gram CPU twice; at corpus scale the guard makes the
    whole thing a no-op and the filters push down exactly as before."""
    d = load_table(spark, sf_dir, "documents")
    toks = (widen_if_narrow(d.select("doc_id", "source", "text"))
            .select("doc_id", "source", tokens().alias("t")))
    ng = toks.select("doc_id", "source", F.explode(ngrams("t", 5)).alias("g"))
    bench = ng.filter(F.col("source") == "src0").select("g").distinct()
    corpus = ng.filter(F.col("source") != "src0").select("doc_id", "g")
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hits"))
    )


# i34's oracle: candidate pairs (da < db) sharing any band key, with their
# count of agreeing slots; i68's oracle reads it as its candidate set
_I34_PAIRS_SQL = f"""
        WITH {SHINGLE_CTES_SQL}, {SIGNATURE_CTES_SQL}, cand AS (
            SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id
        )
        SELECT da, db, {" + ".join(
            f"(CASE WHEN sa.s{k} = sb.s{k} THEN 1 ELSE 0 END)"
            for k in range(8))} AS n_sig_match
        FROM cand
        JOIN sig sa ON da = sa.doc_id
        JOIN sig sb ON db = sb.doc_id
"""


@query("i34_minhash_banding", oracle=_I34_PAIRS_SQL)
def i34_minhash_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding built from first principles with a
    cross-engine-deterministic hash (the slot and band contract above
    `shingle_sets`): two md5 calls per shingle yield all 8 slots, 4x
    less hashing than one digest per slot for the CPU-bound step, and
    unlike i04's engine-seeded MinHashLSH the pipeline is fully
    oracle-checkable.
    4 bands x 2 rows: documents agreeing on any band key become candidate
    pairs via an equi-join on (band, key) — the near-linear LSH shape
    (never all-pairs); the emitted n_sig_match (0-8 agreeing slots) is
    the integer Jaccard estimate.  At 100 TB: signatures are pure
    map-side array aggregation per document (no shingle explode, no
    doc_id re-group); band join cost is bounded by bucket collision
    counts, the knob being (bands, rows-per-band)."""
    d = load_table(spark, sf_dir, "documents")
    # 2 md5 calls per shingle is CPU-bound; widen the degenerate one-file
    # scan (no-op on a real multi-split corpus scan).  doc_id key kept so
    # the local plan stays hash-partitioned on the id the pair joins use.
    return minhash_band_pairs(widen_if_narrow(d, "doc_id"))


def minhash_band_pairs(d: DataFrame) -> DataFrame:
    """The i34 kernel over any (doc_id, text, ...) frame.

    Guarantee the tests pin: documents with IDENTICAL text have identical
    shingle sets, hence identical signatures and band keys, so every
    exact-duplicate pair is emitted with n_sig_match = 8 — banding has no
    false negatives on exact duplicates (only near-dups are probabilistic).
    """
    sig = minhash_signatures(d).localCheckpoint()  # reused 3x (band
    #                                 explode + both pair sides)
    bands = band_keys(sig)
    cand = (
        bands.alias("a")
        .join(bands.alias("b"),
              (F.col("a.b") == F.col("b.b")) & (F.col("a.bk") == F.col("b.bk"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    n_match = sum(
        (F.col(f"sa.s{k}") == F.col(f"sb.s{k}")).cast("int") for k in range(8))
    return (
        cand.join(sig.alias("sa"), F.col("da") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("db") == F.col("sb.doc_id"))
        .select("da", "db", n_match.alias("n_sig_match"))
    )


@query(
    "i35_incremental_dedup",
    oracle="""
        WITH fp AS (SELECT doc_id, source, md5(text) AS fp
                    FROM documents WHERE text IS NOT NULL),
        existing AS (SELECT DISTINCT fp FROM fp WHERE source <> 'src19'),
        batch AS (SELECT doc_id, fp FROM fp WHERE source = 'src19')
        SELECT fp, min(doc_id) AS doc_id
        FROM batch
        WHERE fp NOT IN (SELECT fp FROM existing)
        GROUP BY fp
    """,
)
def i35_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-snapshot) dedup — the ingestion-time variant of
    i01: a NEW batch (source 'src19' stands in for today's crawl) is
    deduplicated against the EXISTING corpus by content fingerprint, then
    within itself (min doc_id per fingerprint).  Shape: anti-join on
    md5(text) + one grouped min — both shuffle on the fingerprint, and at
    100 TB the existing-corpus side is a pre-built fingerprint index
    (bucketed on fp), so daily ingestion touches the index, never the
    corpus text.  The md5 fingerprint is engine-identical, making the
    whole path oracle-checkable.  NULL-text docs are excluded by contract
    on both engines (r12 null-docs sweep — unfiltered, a single NULL
    fingerprint in the existing corpus turns the oracle's NOT IN into
    UNKNOWN for every row, the classic three-valued-logic trap, while
    Spark's anti-join lets NULL-fp batch rows through)."""
    d = load_table(spark, sf_dir, "documents")
    fp = (d.filter(F.col("text").isNotNull())
          .select("doc_id", "source", F.md5("text").alias("fp")))
    existing = (fp.filter(F.col("source") != "src19")
                .select("fp").distinct())
    batch = fp.filter(F.col("source") == "src19").select("doc_id", "fp")
    return (
        batch.join(existing, "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )


@query(
    "i40_token_rarity_score",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ), vocab AS (
            SELECT tok, dense_rank() OVER (ORDER BY count(*) DESC, tok) AS rar
            FROM tok GROUP BY tok
        )
        SELECT t.doc_id, count(*) AS n_toks,
               CAST(sum(v.rar) * 100 // count(*) AS BIGINT) AS mean_rarity_e2
        FROM tok t JOIN vocab v ON t.tok = v.tok
        GROUP BY t.doc_id
    """,
)
def i40_token_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rarity score: rank every vocabulary token by corpus
    frequency (rank 1 = most common; the (cnt, tok) order is tie-free so
    dense_rank == row_number), then score each doc by the mean rank of
    its token stream (fixed-point x100).  This is the integer-exact proxy
    for unigram surprisal: documents full of rare tokens score high,
    boilerplate scores low — the same signal as a unigram log-prob
    quality filter but with no cross-engine float-log hazard.  Scale
    shape: corpus-sized explode partial-aggregates map-side; the
    vocabulary ranking is the DISTRIBUTED global_row_number (range
    partition + per-bucket rank + broadcast offsets — windows.py), so
    the RANKING no longer serializes on one task at any vocabulary size
    (formerly a vocabulary-sized single-task window, VERDICT r6 item 7).
    The join back onto the token stream is an explicit broadcast, which
    is the right plan while vocab ≪ corpus (the realistic 10^5-10^6
    regime); a pathological 10^8-entry vocabulary would outgrow a
    broadcast, and the remedy THERE is dropping the hint (tok-keyed
    shuffle join) or a frequency floor — the ranking stage stays valid
    either way."""
    from .windows import global_row_number

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("tok"))
    vocab = global_row_number(
        tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")),
        [("cnt", "desc"), "tok"], out="rar",
    ).select("tok", "rar")
    return (
        tok.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_toks"),
             F.expr("CAST(sum(rar) * 100 div count(1) AS BIGINT)")
              .alias("mean_rarity_e2"))
    )


@query(
    "i41_source_reputation",
    oracle="""
        WITH s AS (
            SELECT source, lang, count(*) AS docs,
                   round(avg(n_chars), 4) AS avg_chars,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
            FROM documents GROUP BY 1, 2
        ), t AS (SELECT count(*) AS n FROM documents)
        SELECT source, lang, docs, avg_chars, toks,
               round(docs * 1.0 / n, 6) AS corpus_share
        FROM s CROSS JOIN t
    """,
)
def i41_source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, language) corpus profile: doc counts, mean length,
    token volume, and share of the whole corpus.  This is the table a
    curation pipeline consults before up/down-weighting a crawl source.
    One map-side-combined aggregate over (source, lang) — a tiny group
    space regardless of corpus size — plus a broadcast 1-row total, so at
    100 TB the only shuffle carries one row per (source, lang)."""
    d = load_table(spark, sf_dir, "documents")
    total = F.broadcast(d.agg(F.count(F.lit(1)).alias("n")))
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.sum(F.size(tokens())).alias("toks"),
        )
        .crossJoin(total)
        .select(
            "source", "lang", "docs", "avg_chars", "toks",
            F.round(F.col("docs") / F.col("n"), 6).alias("corpus_share"),
        )
    )


@query(
    "i42_token_entropy",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ), c AS (
            SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_unique,
               round(ln(CAST(sum(c) AS DOUBLE))
                     - sum(c * ln(c)) / CAST(sum(c) AS DOUBLE), 6) AS entropy_nats
        FROM c GROUP BY 1
    """,
)
def i42_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats) — the
    classic gibberish/boilerplate detector: near-zero entropy means one
    token repeated, high entropy means diverse vocabulary.  Uses the
    algebraic form H = ln(T) - (sum c*ln c)/T so one pass over the
    (doc, token) counts suffices.  Two shuffles — (doc_id, tok) then
    doc_id — both map-side combined; nothing global, so the shape is
    corpus-linear."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("tok"))
    c = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    t = F.sum("c")
    return c.groupBy("doc_id").agg(
        t.alias("n_tokens"),
        F.count(F.lit(1)).alias("n_unique"),
        F.round(
            F.log(t.cast("double"))
            - F.sum(F.col("c") * F.log("c")) / t.cast("double"), 6)
         .alias("entropy_nats"),
    )


@query(
    "i44_vocab_index",
    oracle="""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ), c AS (
            SELECT tok, count(*) AS cnt FROM tok GROUP BY 1
        )
        SELECT tok, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, tok) - 1 AS BIGINT)
                   AS token_id
        FROM c
    """,
)
def i44_vocab_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous token-id assignment by global frequency rank — the
    vocabulary build step before tokenizer training or embedding-table
    sizing.  The corpus-sized work is the map-side-combined token count;
    the global numbering is the DISTRIBUTED global_row_number (range
    partition + per-bucket rank + broadcast offsets — windows.py), so a
    10^8-entry multilingual vocabulary still ranks in parallel instead of
    serializing on one task (formerly a single-partition window justified
    by Heaps' law; VERDICT r6 item 7 noted that bound does not hold for
    the largest corpora)."""
    from .windows import global_row_number

    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(tokens()).alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    )
    idx = global_row_number(c, [("cnt", "desc"), "tok"], out="_rn")
    return idx.select(
        "tok", "cnt", (F.col("_rn") - 1).cast("long").alias("token_id"))


# ---- span-level substring dedup (Lee et al. 2022) -------------------------
# Shared 5-gram CTE, the oracle twin of ngrams(t, 5): DuckDB list slicing
# t[a:b] is 1-based inclusive, and gram i starts at 0-based token pos i —
# the same position posexplode gives the Spark-side gram.
_GRAMS_CTE = """
    toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, source, CAST(i AS BIGINT) AS pos,
               array_to_string(t[i+1:i+5], ' ') AS g
        FROM toks, unnest(range(0, len(t) - 5 + 1)) AS u(i)
        WHERE len(t) >= 5
    )
"""

# dup grams + their per-doc gaps-and-islands grouping (i48's oracle)
_DUP_SPAN_HITS_CTE = """
        dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
        hits AS (
            SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                       AS grp
            FROM grams WHERE g IN (SELECT g FROM dup)
        )
"""


def _spark_grams(d: DataFrame, *extra: str) -> DataFrame:
    """(doc_id, *extra, pos, g) positional 5-grams, map-side only."""
    return (
        d.select("doc_id", *extra, tokens().alias("t"))
        .select("doc_id", *extra,
                F.posexplode(ngrams("t", 5)).alias("pos", "g"))
        .withColumn("pos", F.col("pos").cast("long"))
    )


def dup_gram_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, pos) of every 5-gram occurring more than once corpus-wide.
    Shared by the span kernel (island merge) and the coverage census
    (token union — the two aggregate DIFFERENTLY, see i54).

    Shape (r9, ADVICE r7): per-gram counts via ``groupBy(g)`` — whose
    map-side partial aggregation collapses a hot gram to ONE row per map
    task before the shuffle — then a left-semi join of the grams against
    the ``n > 1`` survivors.  The previous form was a COUNT window
    partitioned by the gram: one shuffle fewer on paper, but a window
    partition cannot be split, so a stop-phrase gram at web scale
    (billions of occurrences of one key) converged on a single window
    task — the straggler/OOM shape the linter exists to flag, just hidden
    behind a partitioned spec.  The semi-join pays for skew-safety with a
    second map-side gram explode over a second scan (column pruning makes
    the count branch text-only, which is also why the branches are not
    ReuseExchange-identical — embarrassingly parallel either way).  When
    the dup-gram set fits the broadcast threshold the probe never
    shuffles at all (the locally-observed plan); past it, the probe-side
    shuffle on ``g`` still concentrates a hot gram, but a shuffled JOIN
    partition, unlike a window partition, is exactly what AQE's
    skew-join optimization can split (the small build side is replicated).
    Corpora dominated by stop-phrase grams can additionally cut grams
    made entirely of top-frequency tokens, as i51 documents — a semantic
    change this exact kernel deliberately does not make."""
    grams = _spark_grams(docs)
    dup = (grams.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
           .filter(F.col("n") > 1).select("g"))
    return grams.join(dup, "g", "left_semi").select("doc_id", "pos")


def dup_token_cover(hits: DataFrame) -> DataFrame:
    """(doc_id, dup_toks): exact count of tokens covered by at least one
    duplicated 5-gram, from dup_gram_positions output.  Each position
    contributes ``min(pos - prev_pos, 5)`` fresh tokens (5 for the first
    in its doc) — the exact interval union, NOT a sum of i48 span lengths
    (which double-counts islands 1-4 positions apart).  One shared
    implementation, called by both i54 and its independent test pin."""
    w = W.partitionBy("doc_id").orderBy("pos")
    return (
        hits.withColumn("prev", F.lag("pos").over(w))
        .select(
            "doc_id",
            F.when(F.col("prev").isNull(), F.lit(5))
             .otherwise(F.least(F.col("pos") - F.col("prev"), F.lit(5)))
             .alias("fresh"))
        .groupBy("doc_id").agg(F.sum("fresh").alias("dup_toks"))
    )


def span_dedup_spans(docs: DataFrame) -> DataFrame:
    """Kernel behind i48: (doc_id, text) -> maximal spans of corpus-
    duplicated 5-grams.  Factored out so constructed-frame tests drive
    it — the skew-safe dup-gram test (partial-agg count +
    semi-join, see dup_gram_positions) followed by one doc-keyed island
    merge, every stage corpus-linear and hot-gram-splittable."""
    hits = dup_gram_positions(docs)
    w = W.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn(
        "grp", F.col("pos") - F.row_number().over(w).cast("long"))
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(4)).cast("long").alias("span_end"),
        F.count(F.lit(1)).alias("span_grams"),
    ).drop("grp")


@query(
    "i48_span_dedup",
    oracle=f"""
        WITH {_GRAMS_CTE},
        {_DUP_SPAN_HITS_CTE}
        SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) + 4 AS BIGINT) AS span_end,
               CAST(count(*) AS BIGINT) AS span_grams
        FROM hits GROUP BY doc_id, grp
    """,
)
def i48_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact substring duplication (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", 2022): find, per
    document, the maximal token spans made entirely of 5-grams that occur
    more than once in the corpus — the spans substring-dedup would cut,
    where document-level dedup (i01) sees nothing.

    Plan: positional 5-grams (map-side posexplode), then the skew-safe
    duplicate test in ``dup_gram_positions`` — a partially-aggregated
    per-gram count semi-joined back, never a gram-partitioned window
    (see its docstring for the hot-gram straggler this avoids and the
    cost it pays).  The surviving sliver then takes the gaps-and-islands
    merge per document (pos − row_number is constant on consecutive
    positions).  At 100 TB every stage keys on gram resp. doc_id, a hot
    gram is AQE-splittable, and no suffix array is materialized.  Width
    5 matches i33's contamination gram.
    """
    d = load_table(spark, sf_dir, "documents")
    # i34 precedent: parallelize the CPU-heavy gram explode on degenerate
    # one-file local scans; a real multi-split corpus scan is untouched
    return span_dedup_spans(widen_if_narrow(d.select("doc_id", "text")))


@query(
    "i51_contamination_matrix",
    oracle=f"""
        WITH {_GRAMS_CTE},
        sg AS (SELECT DISTINCT source, g FROM grams),
        cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams
                FROM sg GROUP BY source),
        pairs AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(count(*) AS BIGINT) AS shared_grams
            FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT source_a, source_b, shared_grams,
               round(shared_grams
                     / CAST(ca.n_grams + cb.n_grams - shared_grams AS DOUBLE),
                     6) AS jaccard
        FROM pairs
        JOIN cnt ca ON ca.source = source_a
        JOIN cnt cb ON cb.source = source_b
    """,
)
def i51_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination audit: for every source pair, the number
    of distinct 5-grams they share and the gram-set Jaccard — i33's
    eval-vs-corpus check widened to an all-pairs matrix (which crawl is
    leaking into which).

    Scale: the (source, gram) frame is deduped FIRST, so the gram self-
    join fans out at most C(#sources, 2) rows per gram — bounded by the
    square of the source count (tens), never by corpus size.  One shuffle
    for the dedup, one gram-keyed join, one tiny pair aggregate; the
    per-source gram counts are a #sources-row broadcast.  On web-scale
    corpora a stop-gram cut (drop grams present in nearly all sources,
    which contribute no discrimination) caps the hot-gram fanout — at
    vocab-31 test scale every gram is hot, which is exactly the stress.
    The deduped (source, gram) frame is localCheckpoint-pinned: it feeds
    three consumers (both self-join sides + the per-source counts), and
    without the pin each would re-explode the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    # i48/i54 precedent: widen the CPU-heavy gram explode on degenerate
    # one-file local scans, or the eager pin below serializes on one core
    wide = widen_if_narrow(d.select("doc_id", "source", "text"))
    sg = _spark_grams(wide, "source").select("source", "g").distinct() \
        .localCheckpoint()  # reused 3x: pin the corpus gram explode
    cnt = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a, b = sg.alias("a"), sg.alias("b")
    pairs = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"),
                 F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    ca = cnt.select(F.col("source").alias("source_a"),
                    F.col("n_grams").alias("na"))
    cb = cnt.select(F.col("source").alias("source_b"),
                    F.col("n_grams").alias("nb"))
    return (
        pairs.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a", "source_b", "shared_grams",
            F.round(
                F.col("shared_grams")
                / (F.col("na") + F.col("nb") - F.col("shared_grams"))
                .cast("double"), 6).alias("jaccard"),
        )
    )


@query(
    "i54_span_coverage",
    oracle=f"""
        WITH {_GRAMS_CTE},
        dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
        hits AS (
            SELECT doc_id, pos,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM grams WHERE g IN (SELECT g FROM dup)
        ),
        cover AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN prev IS NULL THEN 5
                                 ELSE least(pos - prev, 5) END) AS BIGINT)
                       AS dup_toks
            FROM hits GROUP BY doc_id
        )
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(d.text, ' '))) AS BIGINT)
                   AS total_toks,
               CAST(sum(coalesce(cover.dup_toks, 0)) AS BIGINT) AS dup_toks,
               round(sum(coalesce(cover.dup_toks, 0))
                     / CAST(sum(len(string_split(d.text, ' '))) AS DOUBLE), 6)
                   AS dup_share
        FROM documents d LEFT JOIN cover ON d.doc_id = cover.doc_id
        GROUP BY d.source
    """,
)
def i54_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The number substring-dedup decisions are made on: per source, the
    fraction of tokens covered by at least one corpus-duplicated 5-gram.

    Coverage is an exact TOKEN-interval union, not a sum of i48 span
    lengths: i48's islands are maximal in GRAM-position space, but two
    islands separated by a 1-4 position gap still overlap in token space
    (each gram covers 5 tokens), so summing span lengths double-counts
    and can push dup_share past 1.0 (three-doc counterexample pinned in
    tests/test_r7_queries.py).  Instead each duplicated gram position
    contributes ``min(pos - prev_pos, 5)`` fresh tokens (5 for the first
    in its doc) — the exact union length, one lag window in doc order.

    Plan: the shared dup_gram_positions kernel (skew-safe partial-agg
    count + semi-join since r9, see its docstring), a doc_id-partitioned
    lag + aggregate that REUSE one doc_id exchange, then a doc_id-keyed
    left join against per-doc token counts and a per-source rollup —
    everything keys on doc_id or source, and the hits side carries two
    integers per duplicated gram.
    """
    d = load_table(spark, sf_dir, "documents")
    hits = dup_gram_positions(widen_if_narrow(d.select("doc_id", "text")))
    cover = dup_token_cover(hits)
    toks = d.select("doc_id", "source",
                    F.size(tokens()).alias("n_toks"))
    per_doc = toks.join(cover, "doc_id", "left").select(
        "source", "n_toks", F.coalesce("dup_toks", F.lit(0)).alias("dup_toks"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("total_toks"),
        F.sum("dup_toks").alias("dup_toks"),
        F.round(F.sum("dup_toks") / F.sum("n_toks").cast("double"), 6)
         .alias("dup_share"),
    )


def _doc_lines(d: DataFrame, block: int) -> DataFrame:
    """(doc_id, idx, line): the deterministic ``block``-token pseudo-line
    segmentation the i63 rewrite (and its boilerplate census stage) key
    on.  This corpus has no newlines, so a "line" is the consecutive
    ``block``-token window — swapping in a real newline split changes
    only this expression, not the plan."""
    return (d.select("doc_id", tokens().alias("t"))
            .select("doc_id", F.posexplode(chunks("t", block))
                    .alias("idx", "line")))


@query(
    "i63_line_dedup_rewrite",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t
            FROM documents WHERE text IS NOT NULL
        ), lines AS (
            SELECT doc_id, CAST(i AS BIGINT) AS idx,
                   array_to_string(t[(i * 10 + 1):(i * 10 + 10)], ' ')
                       AS line
            FROM toks, unnest(range(0, (len(t) + 9) // 10)) AS u(i)
        ), boiler AS (
            SELECT line, CAST(min(doc_id) AS BIGINT) AS keep_doc
            FROM lines GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
        ), flagged AS (
            SELECT l.doc_id, l.idx, l.line,
                   (b.line IS NULL OR l.doc_id = b.keep_doc) AS kept
            FROM lines l LEFT JOIN boiler b ON l.line = b.line
        )
        SELECT doc_id,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_dropped,
               coalesce(string_agg(CASE WHEN kept THEN line END, ' '
                                   ORDER BY idx), '') AS clean_text
        FROM flagged GROUP BY doc_id
    """,
)
def i63_line_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORMATION half of C4-style boilerplate removal (Raffel et
    al. 2020 drop repeated lines across documents; registered r13 from
    the staged bank, where its census sibling i62 retired same-family):
    every document rewritten with its cross-document duplicate lines
    dropped — except in the keep-first representative, which retains
    them (the keep-one policy, i02's rule at line granularity).  Output
    per doc: kept/dropped line counts and the reconstructed clean text,
    so ``n_dropped = 0`` documents round-trip byte-identically (pinned
    in tests).

    Scale shape: the same pseudo-line explode feeds the boilerplate
    aggregate and the join probe (two column-pruned passes over the
    map-side segmentation — the i48 semi-join idiom's documented
    price); the boilerplate set joins line-keyed (broadcast while
    small, AQE-skew-splittable when a web-scale "all rights reserved"
    line makes it hot — a hot line is a splittable hash KEY here, never
    a window partition), and the reconstruction is ONE doc-keyed
    aggregate — collect_list over kept (idx, line) structs, array_sort,
    concat_ws — bounded by per-doc length exactly like e19's per-user
    fold.  Cross-engine determinism: the null-skipping collect_list
    mirrors string_agg's CASE-filtered null skip, array_sort on
    (idx, line) mirrors ORDER BY idx (idx unique per doc), and the
    empty-kept edge is pinned to '' on BOTH engines (Spark's concat_ws
    over an empty array vs the oracle's coalesce over string_agg's
    NULL)."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull()))
    return line_dedup_rewrite(widen_if_narrow(d.select("doc_id", "text")))


def line_dedup_rewrite(d: DataFrame, block: int = 10) -> DataFrame:
    """The i63 kernel over any (doc_id, text) frame; see the registered
    query's docstring for semantics and the scale story."""
    lines = _doc_lines(d, block)
    boiler = (lines.groupBy("line")
              .agg(F.countDistinct("doc_id").alias("nd"),
                   F.min("doc_id").alias("keep_doc"))
              .filter(F.col("nd") > 1)
              .select("line", "keep_doc"))
    flagged = (lines.join(boiler, "line", "left")
               .withColumn("kept", F.col("keep_doc").isNull()
                           | (F.col("doc_id") == F.col("keep_doc"))))
    return flagged.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("n_dropped"),
        F.concat_ws(" ", F.expr(
            "transform(array_sort(collect_list(CASE WHEN kept THEN"
            " struct(idx, line) END)), x -> x.line)")).alias("clean_text"),
    )


@query(
    "i65_quality_classifier",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_transform(string_split(text, ' '), x -> md5(x)) AS hs
            FROM documents WHERE text IS NOT NULL
        ), m AS (
            SELECT doc_id, len(hs) AS n,
                   list_sum(list_transform(hs, h ->
                       (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
                     - 128)) AS sw
            FROM t
        )
        SELECT doc_id, CAST(n AS BIGINT) AS n_toks,
               CAST(((sw + 128 * n) * 10000) // (n * 256) AS BIGINT)
                   AS score_e4,
               ((sw + 128 * n) * 10000) // (n * 256) >= 5000 AS keep
        FROM m
    """,
)
def i65_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based document quality scoring — the fastText-shaped
    linear-classifier filter of the C4/CCNet/LLaMA pipelines (Joulin et
    al. 2016; Wenzek et al. 2020 use exactly this inference shape for
    quality LM filtering), completing the quality family: i14 is
    heuristic ratios, i25/i56 are rule gates, this is the learned-model
    member (registered r14 from the staged bank, the §7.12 ledger's
    named candidate).  Inference = mean of per-token weights looked up
    by hashed feature, thresholded.  The weight table is a
    deterministic stand-in (the multimodal decode-stub convention):
    w(tok) = the first two md5 hex digits as an integer minus 128,
    i.e. a fixed random-looking [-128, 127] projection both engines
    derive identically — a real deployment swaps ONE expression (the
    lambda body) for a broadcast weight-map lookup, changing neither
    the plan nor the census.

    Determinism by construction: weights are INTEGERS, so the per-doc
    sum is exact and fold-order-free (no float accumulation ordering,
    the i25 lesson applied at design time); the score is normalized as
    ((sw + 128*n) * 10000) div (256*n) — an integer in [0, 10000] —
    with the shift making every operand NON-NEGATIVE, because Spark's
    ``div`` truncates toward zero while DuckDB's ``//`` floors, and the
    two only agree on non-negative operands.  keep = score >= 5000
    (the mean-weight midpoint; both SF-probed sides are non-empty).

    Scale shape (the i25/i56 idiom): transform + aggregate over the
    token array — no explode, no (doc, token) shuffle, ZERO exchanges;
    the 100 TB cost is one scan+project.  NULL-text docs excluded by
    contract on both engines (the r12 convention)."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull()))
    w = ("(locate(substring(h, 1, 1), '0123456789abcdef') - 1) * 16"
         " + (locate(substring(h, 2, 1), '0123456789abcdef') - 1) - 128")
    return (
        d.select("doc_id", tokens().alias("t"))
        .selectExpr("doc_id", "transform(t, x -> md5(x)) AS hs")
        .selectExpr(
            "doc_id",
            "size(hs) AS n",
            f"aggregate(hs, 0L, (acc, h) -> acc + ({w})) AS sw")
        .selectExpr(
            "doc_id",
            "CAST(n AS LONG) AS n_toks",
            "((sw + 128 * n) * 10000) div (n * 256) AS score_e4",
            "((sw + 128 * n) * 10000) div (n * 256) >= 5000 AS keep")
    )


#: fixed query sets for i64 — three benchmark probes x three
#: corpus-vocabulary terms, all distinct so the per-(query, position)
#: pivot is total (moved with the kernel from the staged bank at r15
#: registration; i61, the standalone top-k sibling, retired then)
_BM25_QUERY_SETS = (
    ("q_ops", ("join", "scan", "merge")),
    ("q_dims", ("customer", "part", "window")),
    ("q_core", ("hash", "batch", "table")),
)
_BM25_ALL_TERMS = tuple(t for _, ts in _BM25_QUERY_SETS for t in ts)

#: the BM25 oracle CTE chain, binding scored(query_id, doc_id, bm25) —
#: single-sourced with the Spark kernel's expression order so the two
#: sides cannot silently diverge
_BM25_SCORED_CTES_SQL = f"""
        d AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE text IS NOT NULL
        ), dl AS (SELECT doc_id, len(toks) AS n FROM d),
        st AS (SELECT CAST(count(*) AS BIGINT) AS nd, avg(n) AS avgdl
               FROM dl),
        qmap AS (
            SELECT * FROM (VALUES
                {", ".join(f"('{q}', {p + 1}, '{t}')"
                           for q, ts in _BM25_QUERY_SETS
                           for p, t in enumerate(ts))}
            ) v(query_id, pos, tok)
        ),
        tf AS (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
            WHERE tok IN ({", ".join(f"'{t}'" for t in _BM25_ALL_TERMS)})
            GROUP BY 1, 2
        ),
        dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf
                GROUP BY 1),
        contrib AS (
            SELECT q.query_id, q.pos, tf.doc_id,
                   ln(1.0 + (nd - df + 0.5) / (df + 0.5))
                   * (c * 2.2)
                   / (c + 1.2 * (0.25 + 0.75 * dl.n / avgdl)) AS w
            FROM tf
            JOIN qmap q USING (tok)
            JOIN dfq USING (tok)
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN st
        ),
        piv AS (
            SELECT query_id, doc_id,
                   max(CASE WHEN pos = 1 THEN w END) AS w1,
                   max(CASE WHEN pos = 2 THEN w END) AS w2,
                   max(CASE WHEN pos = 3 THEN w END) AS w3
            FROM contrib GROUP BY 1, 2
        ),
        scored AS (
            SELECT query_id, doc_id,
                   round(coalesce(w1, 0) + coalesce(w2, 0)
                         + coalesce(w3, 0), 6) AS bm25
            FROM piv
        )
"""

_DECON_TAU = 1.10  # between the per-query score p95 and max at every SF
#                    (measured: p95 1.03-1.20, p99 1.10-1.27, max
#                    1.13-1.39) so each probe yields a small, non-empty
#                    candidate set


def bm25_query_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNPINNED (query_id, doc_id, bm25) frame behind i64 — every
    nonzero-scoring document for each benchmark probe; thin loader
    wrapper over :func:`bm25_scores_frame`, shared by i64 and i67."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull()))
    return bm25_scores_frame(d)


def bm25_scores_frame(d: DataFrame) -> DataFrame:
    """The i64 kernel over any (doc_id, text) frame (Okapi BM25,
    k1=1.2, b=0.75, the Robertson/Sparck Jones formulation); callers
    pre-filter NULL text (the registered wrapper's contract).

    Determinism (the i57-era design carried to query sets): per-term
    contributions pivot into POSITION columns w1..w3 — every query has
    exactly 3 distinct terms, so the pivot is total — and the score
    sums them in one fixed expression order on both engines, then
    rounds to 6 places so downstream comparisons are fold-order-free.

    Scale shape: tf is computed ONCE for the union of all query terms
    (9-token IN-filter before the aggregation, so the (doc, term)
    frame stays |terms|-bounded per doc); the query map, df table, and
    corpus stats are broadcast 9-row/1-row frames; the pivot groupBy
    keys on (query_id, doc_id).  Doc lengths pin once (i08's
    rationale: stats + join branches, one scan)."""
    spark = d.sparkSession
    dl = (d.select("doc_id", F.size(tokens()).alias("n"))
          .localCheckpoint())  # pin: stats + join branches, one scan
    st = F.broadcast(dl.agg(F.count(F.lit(1)).alias("nd"),
                            F.avg("n").alias("avgdl")))
    qmap = F.broadcast(spark.createDataFrame(
        [(q, p + 1, t) for q, ts in _BM25_QUERY_SETS
         for p, t in enumerate(ts)],
        "query_id string, pos int, tok string"))
    tf = (d.select("doc_id", F.explode(tokens()).alias("tok"))
          .filter(F.col("tok").isin(*_BM25_ALL_TERMS))
          .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c")))
    dfq = F.broadcast(tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df")))
    contrib = (
        tf.join(qmap, "tok").join(dfq, "tok").join(dl, "doc_id")
        .crossJoin(st)
        .selectExpr(
            "query_id", "pos", "doc_id",
            "ln(1.0 + (nd - df + 0.5) / (df + 0.5))"
            " * (c * 2.2)"
            " / (c + 1.2 * (0.25 + 0.75 * n / avgdl)) AS w"))
    piv = contrib.groupBy("query_id", "doc_id").agg(
        F.max(F.expr("CASE WHEN pos = 1 THEN w END")).alias("w1"),
        F.max(F.expr("CASE WHEN pos = 2 THEN w END")).alias("w2"),
        F.max(F.expr("CASE WHEN pos = 3 THEN w END")).alias("w3"))
    return piv.select(
        "query_id", "doc_id",
        F.round(F.expr("coalesce(w1, 0D) + coalesce(w2, 0D)"
                       " + coalesce(w3, 0D)"), 6).alias("bm25"))


@query(
    "i64_bm25_decontamination",
    oracle=f"""
        WITH {_BM25_SCORED_CTES_SQL}, cand AS (
            SELECT query_id, doc_id, bm25 FROM scored
            WHERE bm25 >= {_DECON_TAU}
        ), top AS (
            SELECT query_id, doc_id AS top_doc, bm25 AS top_bm25
            FROM cand
            QUALIFY row_number() OVER (PARTITION BY query_id
                     ORDER BY bm25 DESC, doc_id) = 1
        )
        SELECT c.query_id,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(max(t.top_doc) AS BIGINT) AS top_doc,
               max(t.top_bm25) AS top_bm25
        FROM cand c JOIN top t ON c.query_id = t.query_id
        GROUP BY c.query_id
    """,
)
def i64_bm25_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft decontamination census — the retrieval-based complement of
    i33's exact-gram decontamination (registered r15 from the staged
    bank, the §7.12 ledger's named candidate; i61, the standalone
    top-k sibling over the same kernel, retired in the same commit).
    Exact gram matching misses paraphrases; ranked retrieval catches
    near-verbatim leakage that still scores high (the BM25-vs-n-gram
    contamination-audit pairing of the GPT-3 and Llama 2 appendix
    methodology).  Each query set stands in for a benchmark probe, and
    documents scoring BM25 >= tau against it are contamination
    CANDIDATES.  Per probe: candidate count plus the deterministic top
    candidate (rounded-score desc, doc_id tie-break).

    Composes ``bm25_query_scores`` (one corpus pass for all probes,
    broadcast query/df/stats sides) pinned once; the threshold filter
    is map-side; the census is a |queries|-key aggregate; the top
    candidate per probe is a per-query TakeOrderedAndProject branch
    (the audit-safe shape — never a bounded-key window: with |probes|
    partitions each holding every matching document, a query_id-
    partitioned row_number window is an unsplittable-partition hazard
    at corpus scale, the exact class the r9 span fix removed).  At
    100 TB a real benchmark suite has thousands of probes: the same
    plan swaps the literal branch union for a probe-keyed aggregation
    of max_by pairs, and tau calibrates per probe from held-out score
    quantiles exactly as _DECON_TAU was."""
    scored = bm25_query_scores(spark, sf_dir).localCheckpoint()
    cand = scored.filter(F.col("bm25") >= _DECON_TAU)
    tops = [
        cand.filter(F.col("query_id") == q)
        .orderBy(F.desc("bm25"), "doc_id").limit(1)
        .select("query_id", F.col("doc_id").alias("top_doc"),
                F.col("bm25").alias("top_bm25"))
        for q, _ in _BM25_QUERY_SETS
    ]
    from functools import reduce

    top = reduce(DataFrame.unionByName, tops)
    census = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_candidates"))
    return (census.join(top, "query_id")
            .select("query_id", "n_candidates", "top_doc", "top_bm25"))


# ---- i68: LSH calibration census (estimated vs exact Jaccard) --------------

_I68_ORACLE_SQL = f"""
        WITH {SHINGLE_CTES_SQL}, {_SHARED_SHINGLES_CTES_SQL},
        m AS ({_I34_PAIRS_SQL}), jx AS (
            SELECT m.n_sig_match,
                   (coalesce(p.shared, 0) * 1000000)
                     // (ca.n + cb.n - coalesce(p.shared, 0)) AS jacc_e6
            FROM m
            LEFT JOIN pairs p ON m.da = p.da AND m.db = p.db
            JOIN counts ca ON m.da = ca.doc_id
            JOIN counts cb ON m.db = cb.doc_id
        )
        SELECT CAST(n_sig_match AS BIGINT) AS n_sig_match,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(jacc_e6) // count(*) AS BIGINT) AS mean_jacc_e6,
               CAST(min(jacc_e6) AS BIGINT) AS min_jacc_e6,
               CAST(max(jacc_e6) AS BIGINT) AS max_jacc_e6
        FROM jx GROUP BY 1
"""


# cap under which i68's candidate-id set is force-broadcast: 2M pairs
# -> <= 4M distinct ids (~32 MB of longs framed), far below the 8 GB /
# 512M-row broadcast-relation cap, yet large enough that every realistic
# calibration census (pairs are banding collisions, sublinear by design)
# takes the broadcast path; past it the planner/AQE choose from runtime
# sizes instead of a hint that could OOM the driver
_I68_BROADCAST_MAX_PAIRS = 2_000_000


def lsh_calibration_frame(d: DataFrame) -> DataFrame:
    """The i68 kernel over any (doc_id, text, ...) frame — factored out
    (the i65/i64 convention) so crafted-frame tests drive the exact
    registered formulation.

    Shape (guide §2.3 "shuffle fewer bytes" / §3.2 "reduce the big side
    before shuffling"): the exact-Jaccard side only matters for the LSH
    CANDIDATE pairs; shared-shingle counts for EVERY doc pair sharing any
    shingle would be, at sf0.1, a 1.27M-row shingle self-join feeding
    1.13M (da, db) groups, of which the calibration join keeps 759 (a
    1500x overcompute), and the corpus-wide self-join on the shingle key
    is quadratic in hot-shingle frequency (the exact blowup the banding
    exists to avoid).  So the candidate doc ids (bounded by the banding
    collision count, the quantity LSH keeps sublinear by design) are
    semi-joined into the corpus FIRST, so the shingle sets, their counts
    and i03's shared-shingle self-join all run over candidate docs only."""
    pairs = minhash_band_pairs(d).localCheckpoint()  # reused: ids + join
    cand_ids = (pairs.select(F.col("da").alias("doc_id"))
                .union(pairs.select(F.col("db").alias("doc_id"))).distinct())
    # Broadcast hint GUARDED on the measured candidate count:
    # banding collisions grow with duplicate-heavy corpora, so a forced
    # broadcast could blow the 8 GB relation cap at corpus scale where an
    # unhinted plan would fall back to a shuffle join.  pairs is pinned,
    # so the count is one cheap action over materialized rows; the id set
    # is <= 2 * n_pairs longs, comfortably broadcastable below the cap.
    if pairs.count() <= _I68_BROADCAST_MAX_PAIRS:
        cand_ids = F.broadcast(cand_ids)

    cand_docs = (shingle_sets(d.join(cand_ids, "doc_id", "left_semi"))
                 .localCheckpoint())  # candidates only — tiny; reused 3x
    counts = cand_docs.select("doc_id", "n")
    jx = (
        pairs.join(shared_shingle_counts(cand_docs), ["da", "db"], "left")
        .withColumn("shared", F.coalesce(F.col("shared"), F.lit(0)))
        .join(counts.alias("ca"), F.col("da") == F.col("ca.doc_id"))
        .join(counts.alias("cb"), F.col("db") == F.col("cb.doc_id"))
        .select(
            F.col("n_sig_match").cast("long").alias("n_sig_match"),
            F.expr("(shared * 1000000)"
                   " div (ca.n + cb.n - shared)").alias("jacc_e6"))
    )
    return jx.groupBy("n_sig_match").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("sum(jacc_e6) div count(1)").alias("mean_jacc_e6"),
        F.min("jacc_e6").alias("min_jacc_e6"),
        F.max("jacc_e6").alias("max_jacc_e6"))


@query("i68_lsh_calibration", oracle=_I68_ORACLE_SQL)
def i68_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH calibration census: for every banding CANDIDATE pair, compare
    the signature-side similarity estimate (n_sig_match of 8 slots —
    what the engine can see cheaply) against the EXACT shingle Jaccard
    (what it is estimating), bucketed by slot agreement — the
    measurement a production corpus runs before choosing its band
    geometry (the bands x rows trade-off every LSH docstring in this
    repo cites as "the LSH knob") and the empirical form of the MinHash
    identity E[slot agreement] = J.  Composes the two REGISTERED
    kernels rather than forking them: candidates + slot counts from
    i34's `minhash_band_pairs`, exact Jaccard from i03's
    `shared_shingle_counts` (shared shingles via equi-join, never
    all-pairs), held in e6 fixed point so the mean is an integer
    division — no float is ever aggregated.

    A band-key collision between docs sharing ZERO shingles is
    astronomically unlikely but handled: the shared-shingle join is a
    LEFT join with shared coalesced to 0 (exact Jaccard 0), so such a
    pair lands in its bucket instead of vanishing.

    Scale shape: both inputs are the registered formulations with their
    own measured sublinearity rows (minhash-band, i03's shingle
    equi-join); the calibration itself is a bounded join between the
    candidate set and the shared-count set followed by a 9-row-key
    aggregation with map-side combine.

    The scan is widened like i34's: both the signature md5s and the
    exact-Jaccard shingle explode are CPU-bound map work, and the local
    documents fixture is one parquet row group — without the guarded
    widening every hash ran on a single core (measured 5.7 s warm in a
    registry sweep; the guard no-ops at corpus scale)."""
    return lsh_calibration_frame(
        widen_if_narrow(load_table(spark, sf_dir, "documents"), "doc_id"))
