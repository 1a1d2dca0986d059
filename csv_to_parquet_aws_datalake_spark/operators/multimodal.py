"""Multimodal column plumbing (BASELINE.json north star: image/audio/video
as opaque binary + typed metadata).

The container has no image/audio codecs, so the DECODE step is a
deterministic stub (mean-byte "feature") — but everything Spark-side is
real and tested: binary columns, typed metadata structs, Arrow-batched
``mapInPandas`` with the exact signature a real decoder would use
(iterator of pandas batches in, schema-declared batches out).  Swapping the
stub for PIL/ffmpeg changes one function body, not the plan.

At 100 TB: binary payloads ride the columnar format untouched (parquet
binary), the decode UDF is map-side only, and batch size is governed by
spark.sql.execution.arrow.maxRecordsPerBatch — no shuffle anywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..loader import load_table
from ..registry import query


def _hx_byte(pos: str) -> str:
    """DuckDB expression for the value of BYTE ``pos`` (1-based) of a
    payload exposed as ``hx = hex(encode(text))`` — true UTF-8 byte
    arithmetic, not ord(substr(...)) code points (r13 unicode probe:
    the old character form silently diverged from the kernels' byte
    views on any multibyte text; ASCII corpora hid it)."""
    return (f"(strpos('0123456789ABCDEF', substr(hx, 2 * ({pos}) - 1, 1))"
            f" - 1) * 16"
            f" + strpos('0123456789ABCDEF', substr(hx, 2 * ({pos}), 1)) - 1")


@query(
    "k06_multimodal_meta",
    oracle="""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               hex(encode(substring(text, 1, 4))) AS head_hex,
               'utf8_text' AS media_kind
        FROM documents
    """,
)
def k06_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # opaque binary payload + typed metadata, all JVM-side expressions
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    return d.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        # substring BEFORE encode: DuckDB has no BLOB substring, and for the
        # oracle's sake both sides must slice identically (ASCII => same bytes)
        F.hex(F.encode(F.substring("text", 1, 4), "utf-8")).alias("head_hex"),
        F.lit("utf8_text").alias("media_kind"),
    )


@query(
    "k07_multimodal_decode",
    oracle=f"""
        WITH h AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS n_bytes
            FROM documents WHERE text IS NOT NULL
        ), b AS (
            SELECT doc_id, n_bytes,
                   list_sum(list_transform(range(1, n_bytes + 1),
                            i -> {_hx_byte("i")})) AS bsum
            FROM h
        )
        SELECT doc_id, n_bytes,
               CAST(CASE WHEN n_bytes = 0 THEN 0 ELSE bsum // n_bytes END
                    AS BIGINT) AS mean_byte,
               CASE WHEN n_bytes = 0 THEN 'empty' ELSE 'stub_ok' END AS decode_status
        FROM b
    """,
)
def k07_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode / feature-extract over binary payloads via mapInPandas.
    The stub computes mean byte value; a real decoder (image resize, audio
    frame-sample) would replace `_stub_decode` only.  The oracle recomputes
    the byte arithmetic in SQL over hex(encode(text)) — true UTF-8
    bytes, valid for any corpus (r13 unicode probe; the old
    ord(substr) code-point form held only on ASCII)."""
    import numpy as np

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # whole-batch vectorized (VERDICT r6 item 6): one concatenated
        # uint8 view over the batch, per-payload sums via add.reduceat on
        # the segment starts — no per-row Python beyond the byte joins.
        # int64 before reduceat: uint8 accumulation would wrap at 255.
        for pdf in batches:
            payloads = list(pdf["payload"])
            n = np.fromiter((len(p) for p in payloads), dtype=np.int64,
                            count=len(payloads))
            cat = np.frombuffer(b"".join(payloads), dtype=np.uint8) \
                .astype(np.int64)
            starts = np.cumsum(n) - n
            sums = np.zeros(len(n), dtype=np.int64)
            nz = np.flatnonzero(n)
            if nz.size:
                # zero-length segments are excluded: their starts would
                # duplicate a neighbor's and reduceat would mis-bracket;
                # the spans between consecutive NONZERO starts are exact
                # because empty segments contribute no bytes in between
                sums[nz] = np.add.reduceat(cat, starts[nz])
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": n,
                "mean_byte": np.where(n > 0, sums // np.maximum(n, 1), 0),
                "decode_status": np.where(n > 0, "stub_ok", "empty"),
            })

    d = load_table(spark, sf_dir, "documents")
    # NULL payloads (missing media) are DROPPED by contract, explicitly on
    # both engines (r12 null-docs sweep: the kernel's whole-batch byte
    # join crashes on None, and a production pipeline quarantines
    # undecodable rows before the decode stage anyway)
    binary = (d.filter(F.col("text").isNotNull())
              .select("doc_id", F.encode("text", "utf-8").alias("payload")))
    return binary.mapInPandas(
        decode_batches,
        "doc_id long, n_bytes long, mean_byte long, decode_status string",
    )


@query(
    "k13_frame_sample",
    oracle=f"""
        WITH h AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS nb
            FROM documents WHERE text IS NOT NULL
        ), f AS (
            SELECT doc_id, hx, unnest(range(0, nb // 32)) AS frame_id
            FROM h
        )
        SELECT doc_id, CAST(frame_id AS BIGINT) AS frame_id,
               CAST(list_sum(list_transform(range(1, 33),
                        j -> {_hx_byte("frame_id * 32 + j")}))
                    // 32 AS BIGINT) AS frame_mean
        FROM f WHERE frame_id % 4 = 0
    """,
)
def k13_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque media payloads (video stand-in).

    The payload is chunked into fixed 32-byte frames (tail dropped, as a
    real fixed-GOP sampler would) and every 4th frame is kept; the
    "feature" per kept frame is its integer mean byte.  A real video
    pipeline swaps the frame slicing for an ffmpeg keyframe extractor — the Spark
    side (Arrow-batched mapInPandas, one row per sampled frame, map-side
    only) is exactly this shape.  The oracle recomputes the byte
    arithmetic in SQL over hex(encode(text)) — true UTF-8 bytes, valid
    for any corpus (r13 unicode probe).
    """
    import numpy as np

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # whole-batch vectorized (VERDICT r6 item 6): tail-trimmed payloads
        # concatenate into ONE (total_frames, 32) matrix, frame means and
        # the every-4th mask compute over the entire batch at once — the
        # only per-row Python is the trim slice feeding the join.
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            n_fr = np.fromiter((len(p) // 32 for p in pdf["payload"]),
                               dtype=np.int64, count=len(pdf))
            trimmed = b"".join(
                p[: f * 32] for p, f in zip(pdf["payload"], n_fr) if f)
            frames = np.frombuffer(trimmed, dtype=np.uint8) \
                .astype(np.int64).reshape(-1, 32)
            doc_rep = np.repeat(ids, n_fr)
            fid = np.arange(len(frames)) - np.repeat(np.cumsum(n_fr) - n_fr,
                                                     n_fr)
            keep = fid % 4 == 0
            yield pd.DataFrame({"doc_id": doc_rep[keep],
                                "frame_id": fid[keep],
                                "frame_mean": frames.sum(axis=1)[keep] // 32})

    d = load_table(spark, sf_dir, "documents")
    # NULL payloads dropped by contract (the oracle's range(length(NULL))
    # already emits no frames for them; r12 null-docs sweep)
    binary = (d.filter(F.col("text").isNotNull())
              .select("doc_id", F.encode("text", "utf-8").alias("payload")))
    return binary.mapInPandas(
        sample_batches, "doc_id long, frame_id long, frame_mean long")


@query(
    "k14_image_resize",
    oracle=f"""
        WITH px AS (
            SELECT doc_id, hex(encode(text)) AS hx, unnest(range(0, 4)) AS py
            FROM documents
            WHERE n_chars >= 64 AND text IS NOT NULL
        ), cells AS (
            SELECT doc_id, hx, py, unnest(range(0, 4)) AS px FROM px
        )
        SELECT doc_id, CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px,
               CAST(({_hx_byte("py * 16 + px * 2 + 1")}
                   + {_hx_byte("py * 16 + px * 2 + 2")}
                   + {_hx_byte("py * 16 + px * 2 + 9")}
                   + {_hx_byte("py * 16 + px * 2 + 10")})
                    // 4 AS BIGINT) AS pool
        FROM cells
    """,
)
def k14_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize / downsample over opaque payloads (2x block-mean pool).

    The first 64 payload bytes are an 8x8 single-channel "image"; 2x2
    block-mean pooling resizes it to 4x4 (one output row per pooled pixel:
    py, px, integer mean of the 4 source bytes).  Docs shorter than 64
    bytes are skipped, as a real decoder would reject truncated images.
    A real pipeline swaps the numpy pooling for PIL/cv2 resize — the
    plumbing (binary column in, Arrow batches, schema-declared rows out,
    zero shuffles) is the production shape.  Oracle: same integer
    arithmetic via hex(encode(text)) byte extraction (true UTF-8 bytes,
    r13 unicode probe) — row py of the 8x8 image starts at byte
    2*py*8, so pooled cell (py,px) averages bytes {py*16 + px*2 + {1,2}}
    and the row below at +8 (1-based substr).
    """
    import numpy as np

    def pool_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # whole-batch vectorized (VERDICT r6 item 6): the 64-byte heads
        # stack into ONE (B, 8, 8) tensor and the 2x2 pooling is four
        # strided slices over the entire batch — the former per-doc 4x4
        # Python cell loop (16 iterations/row) is gone.  Docs shorter than
        # 64 bytes were filtered Spark-side; the mask is defense in depth.
        for pdf in batches:
            ok = np.fromiter((len(p) >= 64 for p in pdf["payload"]),
                             dtype=bool, count=len(pdf))
            ids = pdf["doc_id"].to_numpy()[ok]
            heads = np.frombuffer(
                b"".join(p[:64] for p, k in zip(pdf["payload"], ok) if k),
                dtype=np.uint8).astype(np.int64).reshape(-1, 8, 8)
            pooled = (heads[:, 0::2, 0::2] + heads[:, 0::2, 1::2]
                      + heads[:, 1::2, 0::2] + heads[:, 1::2, 1::2]) // 4
            b = len(ids)
            yield pd.DataFrame({
                "doc_id": np.repeat(ids, 16),
                "py": np.tile(np.repeat(np.arange(4), 4), b),
                "px": np.tile(np.arange(4), 4 * b),
                "pool": pooled.reshape(-1),
            })

    d = load_table(spark, sf_dir, "documents")
    # text IS NOT NULL: n_chars is a SEPARATE column, so a NULL-text row
    # with n_chars >= 64 would reach the kernel as a None payload and
    # crash the whole-batch byte join (r12 null-docs sweep)
    binary = (d.filter((F.col("n_chars") >= 64) & F.col("text").isNotNull())
              .select("doc_id", F.encode("text", "utf-8").alias("payload")))
    return binary.mapInPandas(
        pool_batches, "doc_id long, py long, px long, pool long")


@query(
    "k15_audio_energy",
    oracle=f"""
        WITH h AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS nb
            FROM documents WHERE text IS NOT NULL
        ), f AS (
            SELECT doc_id, hx, unnest(range(0, nb // 64)) AS frame_id
            FROM h
        ), e AS (
            SELECT doc_id, frame_id,
                   sqrt(list_sum(list_transform(range(1, 65),
                        i -> CAST({_hx_byte("frame_id * 64 + i")}
                                  AS DOUBLE) ^ 2)) / 64.0) AS rms
            FROM f
        )
        SELECT doc_id,
               count(*) AS n_frames,
               round(avg(rms), 6) AS mean_rms,
               round(max(rms), 6) AS peak_rms,
               CAST(arg_max(frame_id, rms + (-frame_id) * 1e-9) AS BIGINT)
                   AS peak_frame
        FROM e GROUP BY 1
    """,
)
def k15_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over opaque binary: frame the payload into
    64-sample windows and compute per-frame RMS energy, then per-clip
    mean/peak/argmax — the silence-trim / loudness-normalize primitive.
    The "decoder" treats each byte as one PCM sample (the container has no
    audio codecs; swapping in a real one changes only `_frame_rms`).  Same
    contract as k07/k13: Arrow-batched mapInPandas straight over the scan,
    zero exchanges before the per-clip aggregate, whose key space is one
    row per clip.  peak_frame ties break to the EARLIEST frame (the 1e-9
    frame-id penalty mirrors arg_max's tie behavior cross-engine)."""
    import numpy as np

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # whole-batch vectorized (VERDICT r6 item 6): all tail-trimmed
        # payloads form ONE (total_frames, 64) float matrix, the RMS is a
        # single vectorized expression over it (identical float64
        # arithmetic to the former per-doc loop, so values are unchanged)
        for pdf in batches:
            n_fr = np.fromiter((len(p) // 64 for p in pdf["payload"]),
                               dtype=np.int64, count=len(pdf))
            trimmed = b"".join(
                p[: f * 64] for p, f in zip(pdf["payload"], n_fr) if f)
            x = np.frombuffer(trimmed, dtype=np.uint8) \
                .astype(np.float64).reshape(-1, 64)
            yield pd.DataFrame({
                "doc_id": np.repeat(pdf["doc_id"].to_numpy(), n_fr),
                "frame_id": np.arange(len(x))
                - np.repeat(np.cumsum(n_fr) - n_fr, n_fr),
                "rms": np.sqrt((x * x).mean(axis=1)),
            })

    d = load_table(spark, sf_dir, "documents")
    # NULL payloads dropped by contract (the oracle's range(length(NULL))
    # already emits no frames for them; r12 null-docs sweep)
    binary = (d.filter(F.col("text").isNotNull())
              .select("doc_id", F.encode("text", "utf-8").alias("payload")))
    frames = binary.mapInPandas(
        frame_batches, "doc_id long, frame_id long, rms double")
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.round(F.avg("rms"), 6).alias("mean_rms"),
        F.round(F.max("rms"), 6).alias("peak_rms"),
        F.expr("max_by(frame_id, rms + (-frame_id) * 1e-9)").alias("peak_frame"),
    )


# ---- k18: audio silence segmentation (registered round 20, from the ----
# ---- r16 bank — the ledger's final named move)                       ----

#: a frame is ACTIVE iff its integer sum-of-squares >= TAU^2 * 64 —
#: the exact-arithmetic form of "RMS >= TAU"; no float is ever
#: computed or compared on either engine.  TAU = 99 sits just below
#: the corpus's median frame RMS (probed at sf0.01: p50 ssq = 628204
#: ~ RMS 99.07), the threshold that maximizes observable segmentation
#: (446/486 docs active, 206 multi-segment).
_K18_TAU = 99
_K18_TAU2 = _K18_TAU * _K18_TAU * 64


@query(
    "k18_audio_silence_segments",
    oracle=f"""
        WITH h AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS nb
            FROM documents WHERE text IS NOT NULL
        ), f AS (
            SELECT doc_id, hx, unnest(range(0, nb // 64)) AS frame_id
            FROM h
        ), e AS (
            SELECT doc_id, frame_id,
                   list_sum(list_transform(
                       list_transform(range(1, 65),
                           i -> CAST({_hx_byte("frame_id * 64 + i")}
                                     AS BIGINT)),
                       b -> b * b)) AS ssq
            FROM f
        ), act AS (
            SELECT doc_id, frame_id,
                   frame_id - row_number() OVER (PARTITION BY doc_id
                       ORDER BY frame_id) AS grp
            FROM e WHERE ssq >= {_K18_TAU2}
        ), seg AS (
            SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS seg_len,
                   min(frame_id) AS seg_start
            FROM act GROUP BY 1, 2
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
               CAST(sum(seg_len) AS BIGINT) AS n_active_frames,
               CAST(max(seg_len) AS BIGINT) AS longest_run,
               CAST(min(seg_start) AS BIGINT) AS first_active_frame
        FROM seg GROUP BY 1
    """,
)
def k18_audio_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio silence segmentation: frame each clip into 64-sample
    windows (k15's byte-as-PCM framing contract), classify frames
    active/silent by an EXACT integer energy threshold (sum-of-squares
    >= TAU^2 * 64 — the no-float form of "RMS >= TAU"; k15's float RMS
    is for reporting, a float threshold comparison would be a
    cross-engine divergence seed), then census the active RUNS per clip
    via gaps-and-islands — n_segments, active frames, longest run,
    first active frame: the silence-trim primitive k15's docstring
    names, and the registry's first multimodal x window-function
    composition.  Clips whose every frame is silent (or too short to
    frame) are excluded by contract on both engines.

    Scale shape: the framing kernel is whole-batch numpy over Arrow
    batches (one concatenated uint8 view, one vectorized square-sum —
    the k15 kernel emitting exact int64 instead of float RMS), map-side
    with zero exchanges before the threshold filter, which drops ~half
    the frames BEFORE the only shuffle.  The islands window partitions
    by doc_id (never global — per-clip work is bounded by clip length,
    the i38 chunking pre-pass bounding it further for pathological
    clips), and both aggregations are doc-keyed with map-side combine."""
    d = load_table(spark, sf_dir, "documents")
    binary = (d.filter(F.col("text").isNotNull())
              .select("doc_id", F.encode("text", "utf-8").alias("payload")))
    return audio_segments_frame(binary)


def audio_segments_frame(binary: DataFrame) -> DataFrame:
    """The k18 kernel over any (doc_id, payload binary) frame — factored
    out (the i65/i64 convention) so crafted-frame tests drive the exact
    registered formulation; callers pre-filter NULL payloads."""
    import numpy as np
    from pyspark.sql.window import Window

    def ssq_batches(batches):
        # whole-batch vectorized (the k15/VERDICT r6 convention): all
        # tail-trimmed payloads form ONE (total_frames, 64) int matrix;
        # int64 squares of uint8 values cannot overflow (max 64*255^2)
        for pdf in batches:
            n_fr = np.fromiter((len(p) // 64 for p in pdf["payload"]),
                               dtype=np.int64, count=len(pdf))
            trimmed = b"".join(
                p[: f * 64] for p, f in zip(pdf["payload"], n_fr) if f)
            x = np.frombuffer(trimmed, dtype=np.uint8) \
                .astype(np.int64).reshape(-1, 64)
            yield pd.DataFrame({
                "doc_id": np.repeat(pdf["doc_id"].to_numpy(), n_fr),
                "frame_id": np.arange(len(x))
                - np.repeat(np.cumsum(n_fr) - n_fr, n_fr),
                "ssq": (x * x).sum(axis=1),
            })

    frames = binary.mapInPandas(
        ssq_batches, "doc_id long, frame_id long, ssq long")
    act = frames.filter(F.col("ssq") >= _K18_TAU2)
    w = Window.partitionBy("doc_id").orderBy("frame_id")
    seg = (act.withColumn("grp", F.col("frame_id") - F.row_number().over(w))
           .groupBy("doc_id", "grp")
           .agg(F.count(F.lit(1)).alias("seg_len"),
                F.min("frame_id").alias("seg_start")))
    return seg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("seg_len").alias("n_active_frames"),
        F.max("seg_len").alias("longest_run"),
        F.min("seg_start").alias("first_active_frame"))


# ---- k17: pHash band near-dup (registered round 15, from the r10 bank) ----

def phash_codes(binary_df: DataFrame) -> DataFrame:
    """(doc_id, payload) -> (doc_id, phash): 8-bit average-hash codes,
    k17's kernel (moved to staged_r10 when k16, the exact-bucket census
    over the same codes, was retired in round 12 — k17's radius-0 pairs
    ARE the exact matches, making k16 the weaker same-family form; moved
    HERE with k17's round-15 registration).  Whole-batch numpy over Arrow
    batches (k07's convention): one concatenated byte view, block sums
    via cumsum gathers (no reduceat — its segment-end semantics
    mis-bracket when a payload's tail bytes sit between block 7 and the
    next payload), and the block-vs-overall mean test as an exact integer
    cross-multiply ``bsum * L > tot * W`` so no float ever enters the
    hash.  Callers must pre-filter payloads shorter than 8 bytes (W
    would be 0)."""
    import numpy as np

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = list(pdf["payload"])
            ln = np.fromiter((len(p) for p in payloads), dtype=np.int64,
                             count=len(payloads))
            cat = np.frombuffer(b"".join(payloads), dtype=np.uint8) \
                .astype(np.int64)
            csum = np.concatenate([[0], np.cumsum(cat)])
            starts = np.cumsum(ln) - ln
            w = ln // 8
            bstart = starts[:, None] + np.arange(8)[None, :] * w[:, None]
            bsum = csum[bstart + w[:, None]] - csum[bstart]
            tot = csum[starts + ln] - csum[starts]
            bits = (bsum * ln[:, None]) > (tot[:, None] * w[:, None])
            phash = (bits << (7 - np.arange(8))[None, :]).sum(axis=1)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": phash})

    return binary_df.mapInPandas(hash_batches, "doc_id long, phash long")


# the aHash computation for the k17 banding oracle (single-source
# discipline); binds hashed(doc_id, phash).  Byte-TRUE since r13: the
# original ord(substr) form indexed characters and code points — equal
# to byte offsets/values only on ASCII, the divergence class the r13
# unicode probe exposed in k07/k13/k14/k15 — so it extracts real UTF-8
# bytes from hex(encode(text)) via the shared _hx_byte expression,
# matching the kernel's byte view on ANY corpus.  The >= 8 filter stays
# CHARACTER length to mirror the Spark side's F.length(text) pre-filter
# (chars >= 8 implies bytes >= 8, so the kernel's W > 0 precondition
# still holds).
_PHASH_CTES_SQL = f"""
        base AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS L,
                   octet_length(encode(text)) // 8 AS W
            FROM documents WHERE length(text) >= 8
        ), wtot AS (
            SELECT doc_id, hx, L, W,
                   list_sum(list_transform(range(1, L + 1),
                            i -> {_hx_byte("i")})) AS tot
            FROM base
        ), blocks AS (
            SELECT doc_id, L, W, tot, b.b,
                   list_sum(list_transform(
                       range(b.b * W + 1, (b.b + 1) * W + 1),
                       i -> {_hx_byte("i")})) AS bsum
            FROM wtot CROSS JOIN (SELECT unnest(range(0, 8)) AS b) b
        ), hashed AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN bsum * L > tot * W
                                 THEN 1 << (7 - CAST(b AS INT))
                                 ELSE 0 END) AS BIGINT) AS phash
            FROM blocks GROUP BY doc_id
        )
"""


@query(
    "k17_phash_band_neardup",
    oracle=f"""
        WITH {_PHASH_CTES_SQL}, bands AS (
            SELECT doc_id, phash, 0 AS band, phash // 16 AS bval FROM hashed
            UNION ALL
            SELECT doc_id, phash, 1 AS band, phash % 16 AS bval FROM hashed
        ), cand AS (
            SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                   CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT)
                       AS hamming
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bval = b.bval
             AND a.doc_id < b.doc_id
        )
        SELECT da, db, hamming FROM cand WHERE hamming <= 1
    """,
)
def k17_phash_band_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate media pairs at Hamming distance <= 1 over 8-bit
    aHash codes (``phash_codes``) — the multimodal dedup operator: the
    radius-0 pairs are exact-code duplicates (what the retired k16
    census bucketed) and radius-1 pairs are the off-by-one-bit
    perceptual near-misses an 8-bit aHash maps small image edits to.

    EXACT by the i34 band guarantee: the 8-bit code splits into two
    4-bit bands, and a pair at Hamming <= 1 differs in at most one bit,
    so at least one band matches (pigeonhole) — the band equi-join
    enumerates every qualifying pair, never all-pairs; candidates
    sharing a band but differing by > 1 bit are dropped by the exact
    integer bit_count(xor) verify.  Identical-code pairs match on both
    bands, hence the DISTINCT.  Scale shape: map-side Arrow hashing
    (phash_codes, pinned — both join sides consume it), one band-keyed
    equi-join exactly like i34's MinHash bands, integer verify, no
    window.  Output size is inherently quadratic in duplicate-GROUP
    size (pair enumeration, the i34/i17 contract); production layers
    an exact-code keep-first census over the same codes first (one
    phash-keyed groupBy, the retired k16 form) and reserves this
    for the near-miss tail, and a 64-bit production hash would band
    into 4x16-bit chunks with the identical plan."""
    from ..loader import widen_if_narrow

    d = load_table(spark, sf_dir, "documents")
    binary = widen_if_narrow(
        d.filter(F.length("text") >= 8)
        .select("doc_id", F.encode("text", "utf-8").alias("payload")))
    codes = phash_codes(binary).localCheckpoint()  # pin: both join sides
    bands = codes.selectExpr(
        "doc_id", "phash",
        "stack(2, 0, phash div 16, 1, pmod(phash, 16)) AS (band, bval)")
    a = bands.select(F.col("doc_id").alias("da"),
                     F.col("phash").alias("pa"), "band", "bval")
    b = bands.select(F.col("doc_id").alias("db"),
                     F.col("phash").alias("pb"), "band", "bval")
    return (
        a.join(b, ["band", "bval"])
        .filter(F.col("da") < F.col("db"))
        .select("da", "db",
                F.expr("CAST(bit_count(pa ^ pb) AS LONG)").alias("hamming"))
        .filter(F.col("hamming") <= 1)
        .distinct()
    )
