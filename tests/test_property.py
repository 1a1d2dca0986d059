"""Property-based differential testing (SURVEY.md §5.4): hypothesis
generates random predicate/aggregation compositions in the shared ANSI-SQL
subset, executed by BOTH engines over the same literal frame — catching
semantic drift the fixed query corpus misses (comparison coercions, NULL
propagation, three-valued logic).

Aggregates are integer-only on purpose: float fold order is engine
nondeterminism, not a semantics bug, and the fixed corpus already covers
the decimal/rounding discipline.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from tests.differential import round6_half_up as _round6_half_up

ROWS = 60
PDF = pd.DataFrame({
    "i": [(x * 7919) % 100 - 50 for x in range(ROWS)],          # ints incl. negatives
    "j": [(x * 31) % 13 for x in range(ROWS)],                  # small ints
    "g": [["red", "green", "blue", None][x % 4] for x in range(ROWS)],  # group w/ NULL
    "s": [f"name{x % 9}" for x in range(ROWS)],
})

_num_col = st.sampled_from(["i", "j"])
_str_col = st.sampled_from(["g", "s"])
_cmp = st.sampled_from(["<", "<=", "=", ">", ">=", "<>"])
_const = st.integers(min_value=-60, max_value=60)


@st.composite
def predicate(draw, depth: int = 2) -> str:
    choice = draw(st.integers(0, 5 if depth > 0 else 3))
    if choice == 0:
        return f"{draw(_num_col)} {draw(_cmp)} {draw(_const)}"
    if choice == 1:
        vals = ", ".join(f"'{v}'" for v in draw(
            st.lists(st.sampled_from(["red", "green", "blue", "name1", "name3"]),
                     min_size=1, max_size=3)))
        return f"{draw(_str_col)} IN ({vals})"
    if choice == 2:
        return f"{draw(_str_col)} IS {'NOT ' if draw(st.booleans()) else ''}NULL"
    if choice == 3:
        return f"{draw(_num_col)} % {draw(st.integers(2, 9))} = 0"
    op = draw(st.sampled_from(["AND", "OR"]))
    a = draw(predicate(depth=depth - 1))
    b = draw(predicate(depth=depth - 1))
    if draw(st.booleans()):
        a = f"NOT ({a})"
    return f"({a}) {op} ({b})"


@pytest.fixture(scope="module")
def prop_env(spark):
    sdf = spark.createDataFrame(PDF)
    sdf.createOrReplaceTempView("prop_t")
    con = duckdb.connect()
    con.register("prop_t", PDF)
    yield spark, con
    con.close()


@settings(max_examples=30, deadline=None, derandomize=True)
@given(pred=predicate())
def test_filter_agg_agreement(prop_env, pred):
    spark, con = prop_env
    sql = f"""
        SELECT g, count(*) AS n, sum(i) AS si, min(j) AS mj, max(i) AS mx
        FROM prop_t WHERE {pred} GROUP BY g
    """
    def norm(rows):
        # None-safe sort key (§7.3/6: Python tuples with None don't compare)
        normed = [tuple(int(v) if v is not None and not isinstance(v, str) else v
                        for v in r) for r in rows]
        return sorted(normed, key=repr)

    s_rows = norm(tuple(r) for r in spark.sql(sql).collect())
    d_rows = norm(con.execute(sql).fetchall())
    assert s_rows == d_rows, f"divergence for predicate: {pred}"


RIGHT_PDF = pd.DataFrame({
    "j": [x % 13 for x in range(20)],
    "tag": [f"t{x % 5}" for x in range(20)],
})


@settings(max_examples=15, deadline=None, derandomize=True)
@given(
    # bare SEMI/ANTI: the syntax both dialects accept (DuckDB rejects LEFT SEMI)
    jtype=st.sampled_from(["JOIN", "LEFT JOIN", "SEMI JOIN", "ANTI JOIN"]),
    pred=predicate(depth=1),
)
def test_join_shape_agreement(prop_env, jtype, pred):
    # random join type x random residual predicate over the same two frames;
    # exercises Catalyst's semi/anti rewrites against DuckDB's
    spark, con = prop_env
    spark.createDataFrame(RIGHT_PDF).createOrReplaceTempView("prop_r")
    try:
        con.register("prop_r", RIGHT_PDF)
    except Exception:
        pass  # already registered
    proj = "l.i, l.j" if "SEMI" in jtype or "ANTI" in jtype else "l.i, l.j, r.tag"
    sql = f"""
        SELECT {proj}
        FROM (SELECT * FROM prop_t WHERE {pred}) l
        {jtype} prop_r r ON l.j = r.j
    """
    def norm(rows):
        return sorted([tuple(int(v) if v is not None and not isinstance(v, str)
                             else v for v in r) for r in rows], key=repr)
    s_rows = norm(tuple(r) for r in spark.sql(sql).collect())
    d_rows = norm(con.execute(sql).fetchall())
    assert s_rows == d_rows, f"divergence for {jtype} with predicate: {pred}"


# i28's canonicalization kernel on both engines; alphabet excludes quote
# chars so literals can be inlined, and stays ASCII on purpose — the op's
# contract (DuckDB reverses graphemes, Spark codepoints; §7.3)
_canon_text = st.text(alphabet=" abcXYZ09.!?-", min_size=0, max_size=40)


def _canon_spark(spark, s: str) -> str:
    # parameterized, not spliced — safe for any future alphabet widening
    return spark.sql(
        "SELECT trim(regexp_replace(regexp_replace(lower(:s),"
        " '[^a-z0-9 ]', ''), ' +', ' ')) AS c", args={"s": s}).collect()[0][0]


def _canon_duck(con, s: str) -> str:
    return con.execute(
        "SELECT trim(regexp_replace(regexp_replace(lower(?),"
        " '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))", [s]).fetchone()[0]


@settings(max_examples=25, deadline=None, derandomize=True)
@given(s=_canon_text)
def test_canonicalize_kernel_agreement(prop_env, s):
    spark, con = prop_env
    sp, du = _canon_spark(spark, s), _canon_duck(con, s)
    assert sp == du, f"kernel divergence for {s!r}: spark={sp!r} duckdb={du!r}"
    # canonicalization must be idempotent: a second pass is a no-op
    assert _canon_duck(con, du) == du, f"not idempotent for {s!r}"


# the md5-hex -> integer-bucket kernel behind i36's split assignment (and
# the i16 simhash digit extraction it generalizes): both engines must map
# ANY key string to the same 0..255 bucket, or split membership would
# silently diverge between the engine and external auditors
_key_text = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789:-", min_size=0, max_size=30)


@settings(max_examples=40, deadline=None, derandomize=True)
@given(key=_key_text)
def test_hash_bucket_kernel_agreement(prop_env, key):
    from csv_to_parquet_aws_datalake_spark.operators.llm_pipeline import _bucket256

    spark, con = prop_env
    sp = spark.sql(
        f"SELECT {_bucket256('hx', True)} AS b FROM "
        "(SELECT md5(:k) AS hx)", args={"k": key}).collect()[0].b
    du = con.execute(
        f"SELECT {_bucket256('hx', False)} FROM (SELECT md5(?) AS hx)",
        [key]).fetchone()[0]
    assert sp == du, f"bucket divergence for {key!r}: spark={sp} duckdb={du}"
    assert 0 <= sp <= 255


# the sorted-run kernel behind i25's shuffle-free top-token count: for ANY
# token multiset, the longest equal run of the sorted array must equal the
# max element frequency (what the explode+groupBy form — and the DuckDB
# oracle — computes)
_tokens = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=3), min_size=0, max_size=12)


@settings(max_examples=40, deadline=None, derandomize=True)
@given(toks=_tokens)
def test_top_run_count_matches_counter(prop_env, toks):
    from collections import Counter

    from csv_to_parquet_aws_datalake_spark.operators.llm_text import top_run_count

    spark, _ = prop_env
    sp = spark.sql(
        f"SELECT {top_run_count('t')} AS best FROM "
        "(SELECT split(:s, ',') AS t)",
        args={"s": ",".join(toks)}).collect()[0].best
    # split(':s', ',') of the joined string re-yields toks, except the
    # empty list which arrives as [''] — mirror that on the Python side
    py_toks = ",".join(toks).split(",")
    assert sp == max(Counter(py_toks).values()), (toks, sp)


# ---------------------------------------------------------------------------
# global_row_number (operators/windows.py): the distributed three-stage
# formulation must equal sorted-enumerate for ANY value multiset and ANY
# input partitioning, provided the order is tie-broken (the helper's
# documented precondition).  Fewer examples than the SQL properties — each
# runs three Spark jobs — but randomized values, duplicates, and partition
# counts cover the boundary cases (empty-ish partitions, all-equal values,
# single row).
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    vals=st.lists(st.integers(min_value=-5, max_value=5), min_size=1,
                  max_size=40),
    parts=st.integers(min_value=1, max_value=9),
    desc=st.booleans(),
)
def test_global_row_number_matches_sorted_enumerate(spark, vals, parts, desc):

    from csv_to_parquet_aws_datalake_spark.operators.windows import (
        global_row_number,
    )

    df = spark.createDataFrame(
        [(k, v) for k, v in enumerate(vals)], "k long, v long"
    ).repartition(parts)
    order = [("v", "desc") if desc else "v", "k"]
    got = global_row_number(df, order, out="rn", total="n").collect()
    expected = {
        k: i + 1
        for i, (k, _) in enumerate(sorted(
            enumerate(vals), key=lambda kv: (-kv[1] if desc else kv[1], kv[0])))
    }
    assert {r["k"]: r["rn"] for r in got} == expected
    assert all(r["n"] == len(vals) for r in got)


# ---------------------------------------------------------------------------
# dup_token_cover (llm_text.py, the i54 kernel): the min(pos-prev, 5)
# interval-union formula must equal a brute-force union of [p, p+4] token
# ranges over corpus-duplicated 5-gram positions, for ANY random corpus.
# The fixed three-doc counterexample in test_r7_queries.py pins the known
# failure (span-sum overcount); this sweeps for unknown ones.
# ---------------------------------------------------------------------------


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    texts=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=18)
        .map(" ".join),
        min_size=2, max_size=12),
)
def test_dup_token_cover_matches_bruteforce_union(spark, texts):
    from collections import Counter

    from csv_to_parquet_aws_datalake_spark.operators.llm_text import (
        dup_gram_positions, dup_token_cover,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc_id"]: r["dup_toks"]
           for r in dup_token_cover(dup_gram_positions(df)).collect()}

    grams = Counter()
    per_doc: dict[int, list[int]] = {}
    for doc_id, text in enumerate(texts):
        toks = text.split(" ")
        per_doc[doc_id] = [i for i in range(len(toks) - 4)]
        for i in per_doc[doc_id]:
            grams[" ".join(toks[i:i + 5])] += 1
    expected = {}
    for doc_id, text in enumerate(texts):
        toks = text.split(" ")
        covered = set()
        for i in per_doc[doc_id]:
            if grams[" ".join(toks[i:i + 5])] > 1:
                covered.update(range(i, i + 5))
        if covered:
            expected[doc_id] = len(covered)
    assert got == expected


# ---------------------------------------------------------------------------
# phash_codes (multimodal.py, the k17 kernel): the whole-batch numpy
# cumsum-gather implementation vs a per-payload pure-Python reference —
# the property pins the batch indexing (block boundaries, tail bytes
# excluded beyond 8*W, strict mean inequality) that a fixed example
# can't sweep.


def _phash_py(payload: bytes) -> int:
    L = len(payload)
    w = L // 8
    tot = sum(payload)
    code = 0
    for b in range(8):
        bsum = sum(payload[b * w:(b + 1) * w])
        if bsum * L > tot * w:
            code |= 1 << (7 - b)
    return code


@given(st.lists(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=8, max_size=50),
    min_size=1, max_size=12))
@settings(max_examples=8, deadline=None, derandomize=True)
def test_phash_kernel_matches_pure_python(spark, texts):
    from pyspark.sql import functions as F

    from csv_to_parquet_aws_datalake_spark.operators.multimodal import (
        phash_codes,
    )

    rows = list(enumerate(texts))
    df = (spark.createDataFrame(rows, "doc_id long, text string")
          .select("doc_id", F.encode("text", "utf-8").alias("payload")))
    got = {r["doc_id"]: r["phash"] for r in phash_codes(df).collect()}
    want = {i: _phash_py(t.encode()) for i, t in rows}
    assert got == want


# ---------------------------------------------------------------------------
# semdedup_census (llm_vectors.py, the registered i59 kernel) vs a
# brute-force pure-
# Python reference: random small integer vector sets sweep centroid
# migration, rounding-boundary assignment ties, and keep-first chains
# that the fixed constructed-cluster example can't.  Integer-valued
# vectors keep every intermediate (decimal centroid sums, left-fold
# dots) bit-identical between engines and the reference.


def _semdedup_py(rows, tau):
    # rows: (vec_id, label, [ints]); mirrors semdedup_census exactly:
    # exact-mean centroids, round6 cosine argmax w/ clabel tie-break,
    # keep-first pairs at rounded cosine >= tau within a cluster
    import math

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * 1.0 * y
        return s

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    labels = sorted({lb for _, lb, _ in rows})
    cen = {}
    for lb in labels:
        mem = [v for _, l2, v in rows if l2 == lb]
        cen[lb] = [sum(d) / len(mem) for d in zip(*mem)]
    assigned = {}
    for vid, _, v in rows:
        best = min(((-_round6_half_up(cos(v, cen[lb])), lb) for lb in labels))
        assigned[vid] = best[1]
    out = {}
    for lb in labels:
        mem = sorted(vid for vid, a in assigned.items() if a == lb)
        vec = {vid: v for vid, _, v in rows}
        dups = {vb for i, vb in enumerate(mem) for va in mem[:i]
                if _round6_half_up(cos(vec[va], vec[vb])) >= tau}
        if mem:
            out[lb] = (len(mem), len(dups))
    return out


@given(
    st.lists(st.tuples(
        st.sampled_from(["a", "b"]),
        st.tuples(st.integers(1, 3), st.integers(0, 3), st.integers(0, 3))),
        min_size=4, max_size=10),
    st.sampled_from([0.5, 0.9, 0.99]))
@settings(max_examples=6, deadline=None, derandomize=True)
def test_semdedup_kernel_matches_bruteforce(spark, vecs, tau):
    from csv_to_parquet_aws_datalake_spark.operators.llm_vectors import (
        semdedup_census,
    )

    rows = [(i, lb, [float(x) for x in v]) for i, (lb, v) in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>")
    want = _semdedup_py(rows, tau)
    # at most two labels: shuffle width 1 takes the unsalted pair join
    # and width 8 the salted one, whatever the host's core count
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for width in ("1", "8"):
            spark.conf.set("spark.sql.shuffle.partitions", width)
            got = {r["cluster"]: (r["n_vectors"], r["n_dup"])
                   for r in semdedup_census(df, tau=tau).collect()}
            assert got == want, width
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# ---------------------------------------------------------------------------
# line_dedup_rewrite (llm_text.py, the i63 kernel — registered r13; its
# census sibling i62 retired same-family in the §7.9 review) vs a
# pure-Python reference: random tiny-vocabulary corpora at block=3 sweep
# multi-line docs, within-doc repeats, cross-doc keep-first chains, and
# the empty-text edge the fixed corpus can't.


def _line_dedup_py(rows, block):
    # rows: (doc_id, text); mirrors _doc_lines + boiler census + rewrite
    lines: dict[str, list] = {}
    per_doc: dict[int, list] = {}
    for did, text in rows:
        t = text.split(" ")
        n = (len(t) + block - 1) // block
        dl = [" ".join(t[i * block:(i + 1) * block]) for i in range(n)]
        per_doc[did] = dl
        for ln in dl:
            lines.setdefault(ln, []).append(did)
    boiler = {ln: min(set(occ)) for ln, occ in lines.items()
              if len(set(occ)) > 1}
    rewrite = {}
    for did, dl in per_doc.items():
        kept = [ln for ln in dl if boiler.get(ln, did) == did]
        rewrite[did] = (len(kept), len(dl) - len(kept), " ".join(kept))
    return rewrite


@given(st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), max_size=12).map(" ".join),
    min_size=2, max_size=6))
@settings(max_examples=8, deadline=None, derandomize=True)
def test_line_dedup_kernel_matches_pure_python(spark, texts):
    from csv_to_parquet_aws_datalake_spark.operators.llm_text import (
        line_dedup_rewrite,
    )

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want_rewrite = _line_dedup_py(rows, block=3)
    got_rewrite = {r["doc_id"]: (r["n_kept"], r["n_dropped"], r["clean_text"])
                   for r in line_dedup_rewrite(df, block=3).collect()}
    assert got_rewrite == want_rewrite


# adversarial doubles including every r14 probe class: non-finite, huge
# finite (decimal/bigint/moment overflow), boundary-adjacent, tiny,
# negative zero, and NULL
_adversarial_doubles = st.lists(
    st.one_of(
        st.none(),
        st.sampled_from([
            float("nan"), float("inf"), float("-inf"),
            1e300, -1e300, 1e150, 1e100, 9e18, 9.3e18, 1e14,
            99999999999999.9, 3.3e13, -0.0, 5e-324, 12345.6789,
        ]),
        st.floats(allow_nan=True, allow_infinity=True, width=64),
    ),
    min_size=1, max_size=40)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(vals=_adversarial_doubles)
def test_measure_guards_match_sql_twins(spark, vals):
    # the r14 contract helpers vs their documented DuckDB twins, pinned
    # at the EXPRESSION level over adversarial doubles — a drift in
    # either side (e.g. a Spark isnan/abs change, or an edit that forks
    # a CASE twin) fails here before it can surface as an oracle
    # mismatch in some downstream query
    from csv_to_parquet_aws_datalake_spark.functions.scalar import (
        BIGINT_BOUND, DECIMAL18_4_BOUND, MOMENT_BOUND,
        finite_or_null, representable_or_null)

    from pyspark.sql import functions as F

    rows = list(enumerate(vals))
    df = spark.createDataFrame(rows, "i long, v double")
    got = {r["i"]: (r["f"], r["d"], r["b"], r["m"], r["t"]) for r in df.select(
        "i",
        finite_or_null("v").alias("f"),
        representable_or_null("v", DECIMAL18_4_BOUND).alias("d"),
        representable_or_null("v", BIGINT_BOUND).alias("b"),
        representable_or_null("v", MOMENT_BOUND).alias("m"),
        F.col("v").try_cast("int").alias("t"),
    ).collect()}

    con = duckdb.connect()
    try:
        con.register("t", pd.DataFrame(rows, columns=["i", "v"]))
        want = {r[0]: tuple(r[1:]) for r in con.execute("""
            SELECT i,
                   CASE WHEN isfinite(v) THEN v END,
                   CASE WHEN isfinite(v) AND abs(v) < 1e14  THEN v END,
                   CASE WHEN isfinite(v) AND abs(v) < 9e18  THEN v END,
                   CASE WHEN isfinite(v) AND abs(v) < 1e150 THEN v END,
                   TRY_CAST(v AS INT)
            FROM t
        """).fetchall()}
    finally:
        con.close()

    def norm(i, t):
        # NaN cannot leak out of any guard; compare the rest exactly
        assert all(x == x for x in t if x is not None)
        # the try_cast leg is cross-engine-equal only off the
        # truncate-vs-round zone: Spark truncates 2.7 -> 2 where DuckDB
        # rounds -> 3 (b05's documented out-of-contract case; its
        # l_quantity is integral).  Compare it only for integral /
        # out-of-range / non-finite / NULL inputs.  The bound is
        # 2**31 + 1, not 2**31: a fractional v in
        # [-2147483648.99, -2147483648.5] truncates into INT range
        # (Spark -> -2147483648) while rounding away from zero
        # overflows it (DuckDB -> NULL), so the divergence zone extends
        # one past the INT boundary (ADVICE r14).
        v = vals[i]
        fractional_in_range = (
            v is not None and v == v and abs(v) != float("inf")
            and abs(v) < 2**31 + 1 and not float(v).is_integer())
        return t[:4] + (None if fractional_in_range else t[4],)

    assert {k: norm(k, v) for k, v in got.items()} == \
           {k: norm(k, v) for k, v in want.items()}


# ---------------------------------------------------------------------------
# dsir_importance_frame (llm_pipeline.py, the registered i66 kernel) vs a
# per-corpus pure-Python reference — the property sweeps the degenerate
# corpus shapes the fixture can't: all-target (tall == rall), NO-target
# (tall == 0), single-doc corpora, docs at the 2-token bigram minimum,
# and repeated bigrams within one doc (r counts OCCURRENCES, not
# distinct features).


@given(docs=st.lists(
    st.tuples(
        st.sampled_from(["en", "zh", "de"]),
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
                 min_size=2, max_size=6)),
    min_size=1, max_size=8))
@settings(max_examples=10, deadline=None, derandomize=True)
def test_dsir_kernel_matches_pure_python(spark, docs):
    import hashlib

    from csv_to_parquet_aws_datalake_spark.operators.llm_pipeline import (
        _DSIR_B,
        _DSIR_SCALE,
        _DSIR_TARGET_LANG,
        dsir_importance_frame,
    )

    rows = [(i, lang, " ".join(toks)) for i, (lang, toks) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: (r["n_feats"], r["dsir_e4"])
           for r in dsir_importance_frame(df).collect()}

    r_cnt = [0] * _DSIR_B
    t_cnt = [0] * _DSIR_B
    feats = {}
    for doc_id, lang, text in rows:
        toks = text.split(" ")
        bs = [int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:2], 16)
              for a, b in zip(toks, toks[1:])]
        feats[doc_id] = bs
        for b in bs:
            r_cnt[b] += 1
            if lang == _DSIR_TARGET_LANG:
                t_cnt[b] += 1
    rall, tall = sum(r_cnt), sum(t_cnt)
    w = [((t_cnt[b] + 1) * (rall + _DSIR_B) * _DSIR_SCALE)
         // ((r_cnt[b] + 1) * (tall + _DSIR_B)) for b in range(_DSIR_B)]
    want = {doc: (len(bs), sum(w[b] for b in bs) // len(bs))
            for doc, bs in feats.items()}
    assert got == want


# ---------------------------------------------------------------------------
# the MinHash signature kernel (operators/llm_text.py minhash_signatures,
# shared by i34, i68 and j12) vs a pure-Python recomputation of the slot
# contract: the property sweeps the short-doc boundary (exactly 3 tokens =
# one shingle) and repeated-shingle texts (array_distinct load-bearing),
# complementing the corpus-level slot-equality pin in
# tests/test_r17_queries.py.


@given(texts=st.lists(
    st.lists(st.sampled_from(["x", "y", "zz", "w"]), min_size=3, max_size=9),
    min_size=1, max_size=6))
@settings(max_examples=10, deadline=None, derandomize=True)
def test_minhash_signature_matches_slot_contract(spark, texts):
    import hashlib

    from csv_to_parquet_aws_datalake_spark.operators.llm_text import (
        minhash_signatures,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(texts)]
    df = minhash_signatures(
        spark.createDataFrame(rows, "doc_id long, text string"))
    got = {r["doc_id"]: tuple(r[f"s{k}"] for k in range(8))
           for r in df.collect()}

    want = {}
    for doc_id, text in rows:
        toks = text.split(" ")
        shingles = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        hexes = {seed: [hashlib.md5(f"{seed}|{sh}".encode()).hexdigest()
                        for sh in shingles] for seed in (0, 1)}
        want[doc_id] = tuple(
            min(h[(k % 4) * 8:(k % 4) * 8 + 8] for h in hexes[k // 4])
            for k in range(8))
    assert got == want and got


# ---------------------------------------------------------------------------
# the c18 Bloom bit-position idiom (operators/joins.py, registered r17 —
# conv(substring(md5('<seed>|<key>'), 1, 4), 16, 10) in [0, 2^16)) vs a
# pure-Python hashlib recomputation: the corpus pin covers the fixture's
# keys; the property sweeps arbitrary longs — negatives (cast-to-string
# includes the sign), 0, and 2^63-boundary magnitudes — plus digests
# whose leading hex nibbles are zero (conv must parse them as a smaller
# number, not mis-strip).  Position equality makes the no-false-negative
# property algebraic: a member key's own bits are set by construction.


@given(keys=st.lists(
    st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
    min_size=1, max_size=24, unique=True))
@settings(max_examples=5, deadline=None, derandomize=True)
def test_c18_bit_positions_match_python(spark, keys):
    # 5 derandomized examples (not 10): each example is a Spark
    # round-trip (~1.7 s) and derandomize makes the battery fixed
    # anyway — 5 lists x up to 24 keys already cover sign, zero, and
    # 2^63 boundaries (suite-time audit r17)
    import hashlib

    from csv_to_parquet_aws_datalake_spark.operators.joins import (
        _C18_SEEDS,
        _c18_bit_pos,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {r["k"]: [r[s] for s in _C18_SEEDS]
           for r in df.select("k", *[_c18_bit_pos("k", s).alias(s)
                                     for s in _C18_SEEDS]).collect()}
    want = {k: [int(hashlib.md5(f"{s}|{k}".encode()).hexdigest()[:4], 16)
                for s in _C18_SEEDS] for k in keys}
    assert got == want
    assert all(0 <= p < (1 << 16) for ps in got.values() for p in ps)
