"""Scalar function surface (SURVEY.md §2.8, rows h01-h12): string, regex,
date, math, array, map, JSON, conditional, hash, struct.

All expressions are built-in `pyspark.sql.functions` — JVM-side, folded into
whole-stage codegen; zero Python in the row path.  Dialect hazards
(dayofweek offset, date_diff arg order, DuckDB top-level unnest) are handled
per SURVEY.md §7.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import (BIGINT_BOUND, finite_or_null,
                                representable_or_null)
from ..functions.text import tokens
from ..loader import load_table, widen_if_narrow
from ..registry import query


@query(
    "h01_string_core",
    oracle="""
        SELECT c_custkey,
               upper(c_name) AS up,
               lower(c_name) AS lo,
               length(c_name) AS len,
               substring(c_name, 1, 8) AS sub,
               lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
               concat_ws('|', c_mktsegment, c_name) AS joined,
               replace(c_name, 'Customer', 'Cust') AS repl,
               trim(concat('  ', c_name, '  ')) AS trimmed
        FROM customer
    """,
)
def h01_string_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.lower("c_name").alias("lo"),
        F.length("c_name").alias("len"),
        F.substring("c_name", 1, 8).alias("sub"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("joined"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("repl"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias("trimmed"),
    )


@query(
    "h02_regex",
    oracle="""
        SELECT p_partkey,
               regexp_extract(p_type, '^([A-Z]+)', 1) AS type_word,
               regexp_replace(p_brand, '[0-9]+', '#') AS brand_norm,
               regexp_extract(p_name, '([a-z]+)$', 1) AS last_word
        FROM part
    """,
)
def h02_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    # POSIX-simple patterns only — Java vs RE2 dialects agree on these
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", r"^([A-Z]+)", 1).alias("type_word"),
        F.regexp_replace("p_brand", r"[0-9]+", "#").alias("brand_norm"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
    )


@query(
    "h03_split_explode",
    oracle="""
        SELECT tok, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1 ORDER BY n DESC, tok LIMIT 20
    """,
)
def h03_split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DuckDB needs unnest in a subquery to GROUP over it (SURVEY.md §7.3/3)
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(20)
    )


@query(
    "h04_date_parts",
    oracle="""
        SELECT o_orderkey,
               year(o_orderdate)  AS y,
               month(o_orderdate) AS m,
               day(o_orderdate)   AS d,
               hour(o_orderdate)  AS h,
               dayofweek(o_orderdate) AS dow
        FROM orders
    """,
)
def h04_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark dayofweek: 1=Sunday; DuckDB: 0=Sunday — map explicitly (§7.3/3)
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.hour("o_orderdate").alias("h"),
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
    )


@query(
    "h05_date_arith",
    oracle="""
        SELECT o_orderkey,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS days_to_98,
               CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
                    AS TIMESTAMP) AS plus3m,
               o_orderdate + INTERVAL 36 HOUR AS plus36h
        FROM orders
    """,
)
def h05_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    # arg-order hazard: Spark datediff(end, start) == DuckDB
    # date_diff('day', start, end)  (SURVEY.md §7.3/3)
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.lit("1998-01-01").cast("date"),
                   F.col("o_orderdate").cast("date")).alias("days_to_98"),
        F.add_months(F.col("o_orderdate").cast("date"), 3).cast("timestamp")
         .alias("plus3m"),
        (F.col("o_orderdate") + F.expr("INTERVAL 36 HOURS")).alias("plus36h"),
    )


@query(
    "h06_math",
    oracle="""
        WITH li AS (
            SELECT *,
                   CASE WHEN isfinite(l_extendedprice)
                         AND abs(l_extendedprice) < 9e18
                        THEN l_extendedprice END AS price,
                   CASE WHEN isfinite(l_quantity)
                        THEN l_quantity END AS qty,
                   CASE WHEN isfinite(l_discount)
                        THEN l_discount END AS disc
            FROM lineitem
        )
        SELECT l_orderkey, l_linenumber,
               abs(l_discount - 0.05) AS ad,
               CAST(ceil(price)  AS BIGINT) AS ce,
               CAST(floor(price) AS BIGINT) AS fl,
               round(sqrt(CASE WHEN qty >= 0 THEN qty END), 6) AS sq,
               round(pow(qty, 2), 2) AS p2,
               round(ln(price), 6) AS ln_p,
               round(exp(l_discount), 6) AS ex,
               l_orderkey % 97 AS md,
               CAST(sign(disc - 0.05) AS INT) AS sg
        FROM li
    """,
)
def h06_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    # inputs are MISSING wherever the landing cannot hold them on both
    # engines (r14 probes): ceil/floor land in BIGINT (DuckDB hard-errors
    # casting NaN or a finite 1e300; Spark's ceil CLAMPS the overflow to
    # Long.Max, which is not a value), sign lands in INT (Spark ANSI
    # CAST_OVERFLOW on NaN), and sqrt is additionally DOMAIN-guarded to
    # x >= 0 (DuckDB errors on any negative, Spark yields NaN).  abs and
    # exp stay raw — their double landings agree NaN-for-NaN and
    # Inf-for-Inf across engines, proven by the probes; pow's double
    # landing agrees too, but it receives the finite-guarded qty on both
    # sides because it shares the input with the guarded sqrt leg
    # (ADVICE r14: the guard is input-sharing, not a pow landing need).
    li = load_table(spark, sf_dir, "lineitem")
    price = representable_or_null("l_extendedprice", BIGINT_BOUND)
    qty = finite_or_null("l_quantity")
    disc = finite_or_null("l_discount")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("ad"),
        F.ceil(price).alias("ce"),
        F.floor(price).alias("fl"),
        F.round(F.sqrt(F.when(qty >= 0, qty)), 6).alias("sq"),
        F.round(F.pow(qty, 2.0), 2).alias("p2"),
        F.round(F.log(price), 6).alias("ln_p"),
        F.round(F.exp("l_discount"), 6).alias("ex"),
        (F.col("l_orderkey") % 97).alias("md"),
        F.signum(disc - 0.05).cast("int").alias("sg"),
    )


@query(
    "h07_array_funcs",
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        SELECT doc_id,
               len(toks) AS n_toks,
               len(list_distinct(toks)) AS n_uniq,
               CAST(list_contains(toks, 'join') AS INT) AS has_join,
               array_to_string(list_sort(toks)[1:3], ',') AS first3,
               len(list_filter(toks, x -> length(x) > 6)) AS n_long,
               round(list_sum(list_transform(toks, x -> length(x) * 1.0))
                     / len(toks), 4) AS avg_len
        FROM t
    """,
)
def h07_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # higher-order functions (transform/filter/aggregate) stay JVM-side —
    # no UDF needed for per-element logic
    d = load_table(spark, sf_dir, "documents")
    return d.withColumn("toks", tokens()).select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        F.array_contains("toks", "join").cast("int").alias("has_join"),
        F.array_join(F.slice(F.sort_array("toks"), 1, 3), ",").alias("first3"),
        F.expr("size(filter(toks, x -> length(x) > 6))").alias("n_long"),
        F.round(
            F.expr("aggregate(toks, 0.0D, (x, y) -> x + length(y) * 1.0D)")
            / F.size("toks"), 4,
        ).alias("avg_len"),
    )


@query(
    "h08_map_funcs",
    oracle="""
        SELECT o_orderkey, 'status' AS key, o_orderstatus AS value FROM orders
        UNION ALL
        SELECT o_orderkey, 'priority', o_orderpriority FROM orders
    """,
)
def h08_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # build a map, then flatten it back to rows (§2 convention 2: outputs
    # are plain scalars, nested values are exploded)
    o = load_table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    return o.select("o_orderkey", F.explode(m).alias("key", "value"))


@query(
    "h09_json",
    oracle="""
        SELECT CAST(TRY_CAST(props AS JSON) ->> 'k' AS INT) AS k, count(*) AS n
        FROM events GROUP BY 1
    """,
)
def h09_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.get_json_object("props", "$.k").cast("int").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "h18_bitops",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               l_orderkey & 255 AS lo_byte,
               l_orderkey | 15 AS or_mask,
               xor(l_orderkey, l_partkey) AS x,
               l_orderkey >> 4 AS shr,
               (l_orderkey & 1023) << 2 AS shl,
               bit_count(l_orderkey) AS pop
        FROM lineitem
    """,
)
def h18_bitops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bitwise surface (&, |, xor, shifts, popcount) — exact integer ops,
    # the primitives under the SimHash/hamming family (i16/i17)
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.expr("l_orderkey & 255").alias("lo_byte"),
        F.expr("l_orderkey | 15").alias("or_mask"),
        F.col("l_orderkey").bitwiseXOR(F.col("l_partkey")).alias("x"),
        F.expr("shiftright(l_orderkey, 4)").alias("shr"),
        F.expr("shiftleft(l_orderkey & 1023, 2)").alias("shl"),
        F.bit_count("l_orderkey").alias("pop"),
    )


@query(
    "h16_from_json",
    oracle="""
        SELECT event_type,
               min(CAST(TRY_CAST(props AS JSON) ->> 'k' AS INT)) AS min_k,
               max(CAST(TRY_CAST(props AS JSON) ->> 'k' AS INT)) AS max_k,
               count(DISTINCT CAST(TRY_CAST(props AS JSON) ->> 'k' AS INT)) AS n_k
        FROM events GROUP BY 1
    """,
)
def h16_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # schema-declared JSON parsing (vs h09's path extraction): from_json
    # materializes a typed struct once, the efficient form when several
    # fields are consumed downstream
    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    return (
        ev.withColumn("p", F.from_json("props", schema))
        .groupBy("event_type")
        .agg(
            F.min("p.k").alias("min_k"),
            F.max("p.k").alias("max_k"),
            F.countDistinct("p.k").alias("n_k"),
        )
    )


@query(
    "h17_array_setops",
    oracle="""
        WITH halves AS (
            SELECT doc_id,
                   list_distinct(string_split(substring(text, 1, n_chars // 2), ' ')) AS a,
                   list_distinct(string_split(substring(text, n_chars // 2 + 1, n_chars), ' ')) AS b
            FROM documents
        )
        SELECT doc_id,
               len(list_distinct(list_concat(a, b))) AS n_union,
               len(list_filter(a, x -> list_contains(b, x))) AS n_inter,
               len(list_filter(a, x -> NOT list_contains(b, x))) AS n_minus
        FROM halves
    """,
)
def h17_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # array_union / array_intersect / array_except between the distinct
    # token sets of each document's two halves — all JVM-side set algebra
    d = load_table(spark, sf_dir, "documents")
    a = F.array_distinct(tokens(F.expr("substring(text, 1, n_chars div 2)")))
    b = F.array_distinct(tokens(
        F.expr("substring(text, n_chars div 2 + 1, n_chars)")))
    return (
        d.withColumn("a", a).withColumn("b", b)
        .select(
            "doc_id",
            F.size(F.array_union("a", "b")).alias("n_union"),
            F.size(F.array_intersect("a", "b")).alias("n_inter"),
            F.size(F.array_except("a", "b")).alias("n_minus"),
        )
    )


@query(
    "h10_conditional",
    oracle="""
        SELECT o_orderkey,
               coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS st,
               greatest(o_totalprice, 100000.0) AS gp,
               least(o_totalprice, 100000.0) AS lp
        FROM orders
    """,
)
def h10_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(F.expr("nullif(o_orderstatus, 'P')"), F.lit("PENDING")).alias("st"),
        F.greatest(F.col("o_totalprice"), F.lit(100000.0)).alias("gp"),
        F.least(F.col("o_totalprice"), F.lit(100000.0)).alias("lp"),
    )


@query(
    "h11_hash_md5",
    oracle="""
        SELECT c_custkey, md5(c_name) AS h_md5, sha256(c_name) AS h_sha256
        FROM customer
    """,
)
def h11_hash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # md5/sha2 are bit-deterministic cross-engine — also the basis of the
    # scale path for wide-row dedup (pre-hash before shuffle, §7.4)
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("h_md5"),
        F.sha2("c_name", 256).alias("h_sha256"),
    )


_DATE_SPINE_SQL = """
    WITH RECURSIVE months(m) AS (
        SELECT DATE '1995-01-01'
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
        WHERE m < DATE '2000-12-01'
    )
    SELECT CAST(m AS TIMESTAMP) AS m, count(o_orderkey) AS n
    FROM months LEFT JOIN {orders} ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
    GROUP BY 1
"""


@query("h14_recursive_cte", oracle=_DATE_SPINE_SQL.format(orders="orders"))
def h14_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): a monthly date spine left-joined to orders,
    so months with zero orders appear — the classic gap-filling query that
    plain GROUP BY cannot express.  Identical SQL text runs on both engines."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("rc_orders")
    return spark.sql(_DATE_SPINE_SQL.format(orders="rc_orders"))


@query(
    "h13_unpivot",
    oracle="""
        SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS val FROM orders
        UNION ALL
        SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE) FROM orders
    """,
)
def h13_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # wide -> long via the native unpivot (melt) operator
    o = load_table(spark, sf_dir, "orders")
    prepared = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
    )
    return prepared.unpivot(
        ids=["o_orderkey"], values=["totalprice", "custkey"],
        variableColumnName="metric", valueColumnName="val",
    )


@query(
    "h15_map_hof",
    oracle="""
        SELECT o_orderkey, 'total' AS key, o_totalprice + 1000.0 AS value
        FROM orders WHERE o_totalprice + 1000.0 > 300000
        UNION ALL
        SELECT o_orderkey, 'triple', o_totalprice * 3 + 1000.0
        FROM orders WHERE o_totalprice * 3 + 1000.0 > 300000
    """,
)
def h15_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    # map higher-order functions: transform_values + map_filter, JVM-side,
    # flattened back to rows; the oracle unrolls the two entries
    o = load_table(spark, sf_dir, "orders")
    m = F.expr(
        "map_filter(transform_values("
        "map('total', o_totalprice, 'triple', o_totalprice * 3),"
        " (x, y) -> y + 1000.0D), (x, y) -> y > 300000)")
    return o.select("o_orderkey", F.explode(m).alias("key", "value"))


@query(
    "h12_struct",
    oracle="""
        SELECT o_orderkey, o_orderstatus AS st, round(o_totalprice, 2) AS tp
        FROM orders
    """,
)
def h12_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # build a struct, project its fields back out as scalars
    o = load_table(spark, sf_dir, "orders")
    s = F.struct(F.col("o_orderstatus").alias("st"), F.col("o_totalprice").alias("tp"))
    return o.withColumn("s", s).select(
        "o_orderkey",
        F.col("s").getField("st").alias("st"),
        F.round(F.col("s").getField("tp"), 2).alias("tp"),
    )


@query(
    "h19_url_parse",
    oracle="""
        WITH urls AS (
            SELECT o_orderkey,
                   'https://shop' || CAST(o_custkey % 20 AS VARCHAR)
                     || '.example.com/cat/item-' || CAST(o_orderkey AS VARCHAR)
                     || '?s=' || lower(o_orderstatus)
                     || '&p=' || CAST(o_custkey % 7 AS VARCHAR) AS url
            FROM orders
        )
        SELECT o_orderkey,
               regexp_extract(url, '^https://([^/]+)/', 1) AS host,
               regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
               regexp_extract(url, '[?&]s=([^&]*)', 1) AS q_s,
               regexp_extract(url, '[?&]p=([^&]*)', 1) AS q_p
        FROM urls
    """,
)
def h19_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition — the first projection over any web-crawl corpus:
    host / path / individual query parameters, extracted with anchored
    regular expressions in the RE2-compatible subset so Spark (Java regex)
    and DuckDB (RE2) capture identically.  URLs are synthesized
    deterministically from order keys (the i26 construction trick: the
    fixtures carry no URLs, and both engines build byte-identical input).
    Spark's parse_url() exists but regexp keeps the oracle symmetric and
    the whole query inside whole-stage codegen; pure map-side either way,
    and at 100 TB host becomes the partition/bucketing key for
    per-site crawl dedup."""
    o = load_table(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://shop"), (F.col("o_custkey") % 20).cast("string"),
        F.lit(".example.com/cat/item-"), F.col("o_orderkey").cast("string"),
        F.lit("?s="), F.lower("o_orderstatus"),
        F.lit("&p="), (F.col("o_custkey") % 7).cast("string"))
    return o.select(
        "o_orderkey",
        F.regexp_extract(url, r"^https://([^/]+)/", 1).alias("host"),
        F.regexp_extract(url, r"^https://[^/]+(/[^?]*)", 1).alias("path"),
        F.regexp_extract(url, r"[?&]s=([^&]*)", 1).alias("q_s"),
        F.regexp_extract(url, r"[?&]p=([^&]*)", 1).alias("q_p"),
    )


@query(
    "h20_sequence_explode",
    oracle="""
        SELECT o_orderkey, unnest(generate_series(1, o_orderkey % 5 + 1)) AS n
        FROM orders
    """,
)
def h20_sequence_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row generation: sequence() + explode is Spark's generate_series —
    the standard way to densify (calendar spines, per-unit expansion of a
    quantity column) without a driver-side range.  Pure map-side row
    multiplication inside whole-stage codegen; at 100 TB the expansion
    factor (here <=5x) is the only sizing concern, no shuffle appears."""
    o = load_table(spark, sf_dir, "orders")
    seq = F.sequence(F.lit(1).cast("long"), F.col("o_orderkey") % 5 + 1)
    return o.select("o_orderkey", F.explode(seq).alias("n"))


@query(
    "h21_edit_distance",
    oracle="""
        SELECT c_custkey,
               levenshtein(c_name, 'Customer#000000000') AS d_name,
               levenshtein(c_mktsegment, 'BUILDING')     AS d_seg
        FROM customer
    """,
)
def h21_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance — fuzzy string matching for entity
    resolution / near-dup candidate scoring.  Both engines implement the
    identical integer DP, so outputs agree exactly (unlike the float
    jaro_winkler variants, deliberately avoided).  O(len^2) per row but
    JVM-side and embarrassingly parallel; at scale it is the RE-RANKER
    after a cheap blocking join (i03/i17), never the pairing predicate."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.levenshtein("c_name", F.lit("Customer#000000000")).alias("d_name"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("d_seg"),
    )


@query(
    "h22_binary_encode",
    oracle="""
        SELECT o_orderkey,
               to_base64(encode(o_orderpriority))          AS b64,
               hex(o_orderpriority)                        AS hx,
               decode(from_base64(to_base64(encode(o_orderpriority)))) AS rt
        FROM orders
    """,
)
def h22_binary_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary <-> text codecs (base64 / hex) with a proven round-trip —
    the plumbing layer for opaque payload columns (k06 multimodal bytes
    travel through exactly these casts when serialized to JSON/CSV).
    Byte-identical across engines: both emit RFC-4648 base64 and
    uppercase hex over the UTF-8 bytes.  Map-side codegen, no shuffle."""
    o = load_table(spark, sf_dir, "orders")
    b64 = F.base64(F.col("o_orderpriority").cast("binary"))
    return o.select(
        "o_orderkey",
        b64.alias("b64"),
        F.hex(F.col("o_orderpriority")).alias("hx"),
        F.unbase64(b64).cast("string").alias("rt"),
    )


@query(
    "h23_string_shape",
    oracle="""
        SELECT c_custkey,
               lpad(CAST(c_custkey AS VARCHAR), 10, '0')  AS padded,
               translate(c_mktsegment, 'AEIOU', 'aeiou')  AS tr,
               reverse(c_name)                            AS rev,
               trim(rpad(c_mktsegment, 12, ' '))          AS rt,
               repeat('-', CAST(c_custkey % 4 AS INT))    AS dashes
        FROM customer
    """,
)
def h23_string_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width shaping primitives (pad / translate / reverse / trim /
    repeat) — the formatting layer for key normalization and legacy
    fixed-width exports.  All JVM codegen, map-side; lpad-with-zeros is
    the canonical sortable-string key trick (padded keys sort
    lexicographically = numerically, which range-partitioners rely on)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("tr"),
        F.reverse("c_name").alias("rev"),
        F.trim(F.rpad("c_mktsegment", 12, " ")).alias("rt"),
        F.expr("repeat('-', CAST(c_custkey % 4 AS INT))").alias("dashes"),
    )


@query(
    "h24_epoch_micros",
    oracle="""
        SELECT event_id,
               epoch_us(ts)                        AS us,
               make_timestamp(epoch_us(ts))        AS ts2,
               epoch_us(ts) // 1000000             AS sec
        FROM events
    """,
)
def h24_epoch_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp <-> epoch conversions on the EXACT integer path:
    unix_micros/epoch_us and timestamp_micros/make_timestamp are lossless
    BIGINT round-trips in both engines, unlike epoch-seconds (DuckDB's
    epoch() is DOUBLE and fractional).  Epoch integers are also the right
    wire format for timestamps at 100 TB: sortable, partition-prunable,
    and immune to session-timezone drift (the UTC session conf pins the
    reverse conversion)."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    return e.select(
        "event_id",
        us.alias("us"),
        F.timestamp_micros(us).alias("ts2"),
        F.expr("unix_micros(ts) div 1000000").alias("sec"),
    )


@query(
    "h25_printf_format",
    oracle="""
        SELECT o_orderkey,
               printf('ORD-%07d/%s', o_orderkey, lower(o_orderstatus)) AS tag,
               chr(65 + CAST(o_custkey % 26 AS INT)) AS bucket,
               ascii(o_orderstatus)                  AS code
        FROM orders
    """,
)
def h25_printf_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """printf-style key formatting + chr/ascii codepoint primitives — the
    id-minting layer (zero-padded order tags, letter bucketing).  Integer
    and string conversions only: %f is deliberately excluded because Java's
    Formatter (HALF_UP) and C printf (half-even) disagree on halfway
    floats.  Pure map-side codegen."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.format_string("ORD-%07d/%s", F.col("o_orderkey"),
                        F.lower("o_orderstatus")).alias("tag"),
        F.chr(F.lit(65) + (F.col("o_custkey") % 26).cast("int")).alias("bucket"),
        F.ascii("o_orderstatus").alias("code"),
    )


# ---- h26: VARIANT semi-structured extraction (Spark 4 native type; ---------
# ---- registered round 20, pulled forward from the r16 bank)        ---------

#: the per-event heterogeneous JSON both engines construct identically
#: from integer columns (k = the props payload's integer, shapes keyed
#: on event_id % 3): a numeric k, a STRING k, and a shape with no meta
#: at all — heterogeneity is the VARIANT type's reason to exist.  All
#: embedded values are integral or non-numeric strings: Spark's variant
#: cast parses "5" -> 5 while DuckDB's TRY_CAST parses '5' -> 5, but
#: the two DISAGREE on decimal strings (Spark truncates, DuckDB
#: rejects), so no decimal is ever embedded (probed before design).
_H26_BRANCHES = (
    ('{"kind":"click","meta":{"k":', ',"path":[', "]}}"),
    ('{"kind":"buy","meta":{"k":"id', '"}}'),
    ('{"kind":"ping"}',),
)


@query(
    "h26_variant_semistructured",
    oracle="""
        WITH src0 AS (
            SELECT event_id, user_id,
                   TRY_CAST(props AS JSON) ->> 'k' AS k
            FROM events WHERE props IS NOT NULL
        ), src AS (
            SELECT * FROM src0 WHERE regexp_matches(k, '^-?(0|[1-9][0-9]*)$')
        ), js AS (
            SELECT CASE
                WHEN event_id % 3 = 0 THEN
                    '{"kind":"click","meta":{"k":' || k || ',"path":['
                    || user_id || ',' || (event_id % 7) || ']}}'
                WHEN event_id % 3 = 1 THEN
                    '{"kind":"buy","meta":{"k":"id' || k || '"}}'
                ELSE '{"kind":"ping"}' END AS j
            FROM src
        ), x AS (
            SELECT CAST(j AS JSON) AS v FROM js
        ), e AS (
            SELECT v ->> '$.kind' AS kind,
                   TRY_CAST(v ->> '$.meta.k' AS BIGINT) AS kb,
                   v ->> '$.meta.k' AS ks,
                   TRY_CAST(v ->> '$.meta.path[1]' AS BIGINT) AS p1
            FROM x
        )
        SELECT kind, CAST(count(*) AS BIGINT) AS n,
               CAST(coalesce(sum(kb), 0) AS BIGINT) AS sum_k,
               CAST(count(kb) AS BIGINT) AS n_k_typed,
               CAST(count(ks) AS BIGINT) AS n_k_any,
               CAST(coalesce(sum(p1), 0) AS BIGINT) AS sum_path1
        FROM e GROUP BY 1
    """,
)
def h26_variant_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's native VARIANT type
    (binary semi-structured values — the schema-FLEXIBLE complement of
    h09/h16's static-schema JSON ops): heterogeneous per-row JSON
    (numeric field, string-typed field, missing subtree — shapes keyed
    on event_id % 3) is parsed ONCE into VARIANT with ``parse_json``
    and fields are extracted with ``try_variant_get``, whose
    try-semantics the census makes observable — the string-typed
    ``"id<k>"`` never types as BIGINT (n_k_typed counts only the
    numeric shape) while the untyped string extraction sees both
    (n_k_any).  VARIANT survives parquet roundtrips natively (probed;
    the shredded-storage path is the 100 TB story: parse once at
    ingest, store binary, extract columnar — never re-parse JSON text
    per query).  The oracle constructs the identical JSON from the same
    integer columns and mirrors the extraction with DuckDB's JSON
    operators; only integral or non-numeric values are embedded (see
    `_H26_BRANCHES` for why), and since the r20 registration review the
    integral-k contract is ENFORCED by an identical anchored
    ASCII-digit regex filter on both engines, not assumed of the
    fixture.

    Scale shape: parse + extraction are map-side expressions over the
    scan (one whole-stage-codegen span, zero KEYED exchanges before the
    4-group aggregate with map-side combine).  Locally the scan is
    widened (r21, i34/i48 precedent): the JSON splice + variant parse +
    three extractions per row are the heaviest per-row map work in the
    h-family, and the one-row-group events fixture otherwise runs them
    on a single core (1.52 s -> 0.73 s median collect at sf0.1; the
    guard no-ops on a real multi-split scan, where the props-notnull
    filter pushes to the scan exactly as before)."""
    ev = (widen_if_narrow(
              load_table(spark, sf_dir, "events")
              .filter(F.col("props").isNotNull())
              .select("event_id", "user_id", "props"))
          .select("event_id", "user_id",
                  F.get_json_object("props", "$.k").alias("k"))
          # ENFORCE the integral-k embedding invariant (review r20: it
          # was fixture convention only) — a decimal k would make the
          # engines' variant/JSON casts diverge (see the branch note), a
          # quote or backslash would build invalid JSON that the strict
          # parse_json throws on, and a NULL k would NULL out two of the
          # three branch payloads; the identical anchored ASCII-digit
          # regex on both engines drops all three classes by contract.
          # Leading-zero digit strings ("007", "-01") are rejected too
          # (ADVICE r20): spliced into the click payload they form a
          # leading-zero number literal — invalid JSON that both the
          # strict parse_json and the oracle's CAST(j AS JSON) throw on,
          # so admitting them would crash the query instead of guarding it
          .filter(F.col("k").rlike("^-?(0|[1-9][0-9]*)$")))
    js = ev.select(F.when(F.col("event_id") % 3 == 0, F.concat(
        F.lit('{"kind":"click","meta":{"k":'), F.col("k"),
        F.lit(',"path":['), F.col("user_id").cast("string"), F.lit(","),
        (F.col("event_id") % 7).cast("string"), F.lit("]}}"),
    )).when(F.col("event_id") % 3 == 1, F.concat(
        F.lit('{"kind":"buy","meta":{"k":"id'), F.col("k"), F.lit('"}}'),
    )).otherwise(F.lit('{"kind":"ping"}')).alias("j"))
    e = js.select(F.parse_json("j").alias("v")).selectExpr(
        "try_variant_get(v, '$.kind', 'string') AS kind",
        "try_variant_get(v, '$.meta.k', 'bigint') AS kb",
        "try_variant_get(v, '$.meta.k', 'string') AS ks",
        "try_variant_get(v, '$.meta.path[1]', 'bigint') AS p1",
    )
    return e.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("kb"), F.lit(0)).alias("sum_k"),
        F.count("kb").alias("n_k_typed"),
        F.count("ks").alias("n_k_any"),
        F.coalesce(F.sum("p1"), F.lit(0)).alias("sum_path1"))
