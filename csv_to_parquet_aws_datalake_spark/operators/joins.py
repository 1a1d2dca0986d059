"""Join operators (SURVEY.md §2.3, rows c01-c11).

Spark picks the physical algorithm (broadcast-hash / shuffled-hash /
sort-merge / BNLJ) from stats + hints; we declare join *types* and only pin
physicals where the 100 TB plan demands it:

- dimension tables (region/nation, and customer at the flagship shapes) are
  broadcast — no shuffle of the fact side on a cluster;
- the interval self-join (c10) is written as an equi-join on user_id with a
  range residual, so it shuffles once on the key rather than exploding into
  a cross product (at 100 TB you'd additionally bucket by time window);
- the as-of join (c09) avoids any join at all: it is a union + one window
  pass, i.e. a single shuffle on (user_id) — the classic scale-safe plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..loader import load_table
from ..registry import query


@query(
    "c01_inner_equi",
    oracle="""
        SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    """,
)
def c01_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@query(
    "c02_left_outer",
    oracle="""
        SELECT c_custkey, count(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY 1
    """,
)
def c02_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "c03_full_outer",
    oracle="""
        SELECT coalesce(c_custkey, o_custkey) AS k,
               CAST(c_custkey IS NOT NULL AS INT) AS has_left,
               CAST(o_custkey IS NOT NULL AS INT) AS has_right
        FROM (SELECT c_custkey FROM customer WHERE c_custkey <= 75) l
        FULL JOIN (SELECT DISTINCT o_custkey FROM orders WHERE o_custkey >= 25) r
          ON c_custkey = o_custkey
    """,
)
def c03_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    left = c.filter(F.col("c_custkey") <= 75).select("c_custkey")
    right = o.filter(F.col("o_custkey") >= 25).select("o_custkey").distinct()
    return left.join(right, left.c_custkey == right.o_custkey, "full").select(
        F.coalesce("c_custkey", "o_custkey").alias("k"),
        F.col("c_custkey").isNotNull().cast("int").alias("has_left"),
        F.col("o_custkey").isNotNull().cast("int").alias("has_right"),
    )


@query(
    "c04_semi",
    oracle="""
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def c04_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    f_orders = o.filter(F.col("o_orderstatus") == "F")
    return (
        c.join(f_orders, c.c_custkey == f_orders.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
    )


@query(
    "c05_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def c05_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


@query(
    "c06_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def c06_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "c07_broadcast",
    oracle="""
        SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    """,
)
def c07_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same logical result as c01, physical plan pinned to broadcast-hash:
    # the forced hint IS this row's contract — the §2 operator being
    # demonstrated is the broadcast join itself (tests assert
    # BroadcastHashJoin; the i06-cartesian precedent).  r11
    # broadcast-bound audit caveat: customer is SF-proportional, so at
    # corpus scale this row's technique applies to genuinely bounded
    # dimensions (region/nation-sized) — c01 is the unhinted form whose
    # strategy the planner sizes, and c11 shows the mixed star shape.
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@query(
    "c08_range_theta",
    oracle="""
        SELECT o_orderstatus, count(*) AS n
        FROM lineitem JOIN orders
          ON l_orderkey = o_orderkey
         AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY 1
    """,
)
def c08_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # equi-key + range residual: Catalyst plans the equi part as the join key
    # and evaluates the inequality as a post-join filter — no cross product.
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return li.join(o, cond, "inner").groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )


def asof_join_last_prior(left: DataFrame, right: DataFrame,
                         key: str, left_ts: str, right_ts: str,
                         left_id: str, out_col: str) -> DataFrame:
    """Generic as-of join core: for each left row, the greatest right_ts of
    the same key with right_ts <= left_ts (inclusive), as ``out_col``.

    Scale-safe plan: union + last(ignorenulls) over one (key) window — a
    single shuffle, no join, no per-row probe.  Unit-tested on literal
    frames in tests/test_units.py; c09 runs it over the events table.

    NULL keys take SQL equi-join semantics (r12 — found by the
    null-bearing differential fixture, which the fixture corpus could
    never exercise): a NULL-key left row matches NOTHING (out_col NULL)
    and a NULL-key right row matches nothing, exactly like the oracle's
    ``ON e.user_id = p.user_id`` — the previous form let Spark's
    partitionBy group every NULL key into ONE window partition,
    silently implementing IS-NOT-DISTINCT-FROM matching AND funneling
    an anonymous-heavy corpus's whole NULL stripe into a single task
    (the skew shape the e10 sessionize docstring already warns about).
    NULL TIMESTAMPS take the same routing (r13 null-ts probe): an
    un-timestamped left row has no "prior" instant, so it yields
    out_col NULL, and an un-timestamped right row can never be anyone's
    prior — DuckDB's native ASOF would otherwise place NULLs by its own
    sort default and invent matches Spark's window (NULLS FIRST) never
    sees.  Both NULL classes are routed AROUND the window: unmatched
    rights are filtered, unmatchable lefts union back with a
    literal-NULL out_col — so the window never sees a NULL partition or
    a NULL order key at any scale."""
    # literal-NULL placeholder types derive from the INPUT schemas (ADVICE
    # r12: hardcoded timestamp/long casts would silently type-mismatch the
    # unionByName for a caller whose right_ts / left_id differ)
    pts_type = right.schema[right_ts].dataType
    lid_type = left.schema[left_id].dataType
    null_left = (
        left.filter(F.col(key).isNull() | F.col(left_ts).isNull())
        .select(F.col(left_id),
                F.lit(None).cast(pts_type).alias(out_col)))
    base = left.filter(F.col(key).isNotNull()
                       & F.col(left_ts).isNotNull()).select(
        F.col(key).alias("k"), F.col(left_ts).alias("t"),
        F.lit(None).cast(pts_type).alias("pts"),
        F.col(left_id).alias("lid"), F.lit(1).alias("tag"),
    )
    rights = right.filter(F.col(key).isNotNull()
                          & F.col(right_ts).isNotNull()).select(
        F.col(key).alias("k"), F.col(right_ts).alias("t"),
    ).distinct().select(
        "k", "t", F.col("t").alias("pts"),
        F.lit(None).cast(lid_type).alias("lid"), F.lit(0).alias("tag"),
    )
    # tag orders right rows before left rows at equal ts => inclusive as-of
    w = (
        W.partitionBy("k")
        .orderBy("t", "tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        base.unionByName(rights)
        .withColumn(out_col, F.last("pts", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select(F.col("lid").alias(left_id), out_col)
        .unionByName(null_left)
    )


@query(
    "c09_asof",
    oracle="""
        SELECT e.event_id, p.ts AS purchase_ts
        FROM (SELECT * FROM events WHERE ts IS NOT NULL) e
        ASOF LEFT JOIN (SELECT DISTINCT user_id, ts FROM events
                        WHERE event_type = 'purchase'
                          AND ts IS NOT NULL) p
          ON e.user_id = p.user_id AND e.ts >= p.ts
        UNION ALL
        -- un-timestamped events cannot be time-matched (r13 null-ts
        -- probe: DuckDB's ASOF places a NULL e.ts by its sort default
        -- and invents a match; the helper routes them to NULL instead)
        SELECT event_id, CAST(NULL AS TIMESTAMP) AS purchase_ts
        FROM events WHERE ts IS NULL
    """,
)
def c09_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event paired with the user's most recent prior
    purchase (inclusive).  Spark has no native ASOF; see
    :func:`asof_join_last_prior`.  DuckDB's native ASOF JOIN is the oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return asof_join_last_prior(
        ev, purchases, key="user_id", left_ts="ts", right_ts="ts",
        left_id="event_id", out_col="purchase_ts")


@query(
    "c10_interval",
    oracle="""
        SELECT a.user_id, count(*) AS n_pairs
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_id < b.event_id
         AND b.ts BETWEEN a.ts - INTERVAL 5 MINUTE AND a.ts + INTERVAL 5 MINUTE
        GROUP BY 1
    """,
)
def c10_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # event pairs of the same user within ±5 minutes.  The equi-key keeps
    # this a hash join; at 100 TB you would additionally bucket ts into
    # 5-minute bins and join adjacent bins to bound the per-key fan-out.
    ev = load_table(spark, sf_dir, "events")
    a = ev.alias("a")
    b = ev.alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_id") < F.col("b.event_id"))
        & F.col("b.ts").between(
            F.col("a.ts") - F.expr("INTERVAL 5 MINUTES"),
            F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"),
        )
    )
    return (
        a.join(b, cond, "inner")
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "c13_scalar_subquery",
    oracle="""
        SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS bal
        FROM customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def c13_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # correlated scalar subquery: Catalyst decorrelates it into an
    # aggregate + join (§4 DecorrelateInnerQuery) — no per-row re-execution
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("sq_customer")
    return spark.sql("""
        SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS bal
        FROM sq_customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM sq_customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
    """)


@query(
    "c12_upsert_merge",
    oracle="""
        SELECT c_custkey,
               round(CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000
                          ELSE c_acctbal END, 2) AS bal,
               CAST(c_custkey % 10 = 0 AS INT) AS updated
        FROM customer
    """,
)
def c12_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / SCD-style upsert emulated without a lakehouse format:
    left-join the update set, coalesce per column, flag provenance.  The
    update side here is 10% OF THE TARGET — corpus-proportional, not a
    bounded dimension — so it carries no broadcast hint (r11
    broadcast-bound audit): the planner sizes it off the scan and
    auto-broadcasts at fixture scale, while a real 100 TB merge either
    shuffles on the key or, better, buckets the target on the merge key
    so the join is exchange-free (a07)."""
    c = load_table(spark, sf_dir, "customer")
    updates = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select(F.col("c_custkey").alias("u_key"),
                (F.col("c_acctbal") + 1000).alias("new_bal"))
    )
    return (
        c.join(updates, c.c_custkey == updates.u_key, "left")
        .select(
            "c_custkey",
            F.round(F.coalesce("new_bal", "c_acctbal"), 2).alias("bal"),
            F.col("u_key").isNotNull().cast("int").alias("updated"),
        )
    )


@query(
    "c11_multiway",
    oracle="""
        SELECT r_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM region
        JOIN nation   ON r_regionkey = n_regionkey
        JOIN customer ON n_nationkey = c_nationkey
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2
    """,
)
def c11_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q5-shaped 5-way star join.  region and nation are BOUNDED
    # dimensions (5 / 25 rows) and carry forced broadcasts; customer is
    # SF-PROPORTIONAL (150k rows per SF — billions at the 100 TB north
    # star), so the customer-bearing chain is deliberately NOT hinted
    # (r11 broadcast-bound audit): its size comes straight off the
    # parquet scan, so the planner auto-broadcasts it at fixture scale
    # and falls back to the standard Q5 key-shuffled customer<->orders
    # join beyond the broadcast budget — a forced hint would pin the
    # fixture plan onto a 100 TB OOM.
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dims = (
        c.join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
    )
    return (
        o.join(dims.select("r_name", "n_name", "c_custkey"),
               F.col("c_custkey") == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "c14_salted_join",
    oracle="""
        SELECT c_mktsegment, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    """,
)
def c14_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join: the manual remedy when one join key holds a
    disproportionate share of the fact side (AQE's skew split only kicks in
    per shuffle-partition; a single pathological key inside one partition
    still needs salting).  The fact side gets a deterministic salt
    (o_orderkey % 8) and the dimension side is replicated once per salt
    value, so the composite key (custkey, salt) spreads each hot customer
    over 8 reducers; every fact row still matches exactly one replicated
    dim row, which the c01-identical oracle proves.  Cost: dim side x8 —
    why salting is reserved for genuinely skewed keys (at 100 TB, salt
    ONLY the keys above a frequency threshold and union the rest through
    the plain join)."""
    buckets = 8
    o = load_table(spark, sf_dir, "orders").withColumn(
        "salt", (F.col("o_orderkey") % buckets).cast("int"))
    c = load_table(spark, sf_dir, "customer")
    salts = spark.range(buckets).select(F.col("id").cast("int").alias("salt"))
    c_rep = c.select("c_custkey", "c_mktsegment").crossJoin(salts)
    return (
        o.join(c_rep, (o.o_custkey == c_rep.c_custkey)
               & (o.salt == c_rep.salt), "inner")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@query(
    "c15_lateral_topk",
    oracle="""
        SELECT n_name, c.c_custkey, round(c.c_acctbal, 2) AS bal
        FROM nation n,
        LATERAL (SELECT c_custkey, c_acctbal FROM customer
                 WHERE c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey
                 LIMIT 2) c
    """,
)
def c15_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join — "top-2 customers per nation" phrased the
    way an app developer writes it.  Catalyst decorrelates the lateral
    subquery into a window-rank over the inner side joined back to the
    outer (DecorrelateInnerQuery), so execution is ONE ranked shuffle of
    customer, not |nation| re-scans — the property that makes lateral
    joins survive 100 TB.  Both engines pick identical rows because the
    inner ORDER BY is total (acctbal DESC, custkey)."""
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    n.createOrReplaceTempView("lat_nation")
    c.createOrReplaceTempView("lat_customer")
    return spark.sql("""
        SELECT n_name, c.c_custkey, round(c.c_acctbal, 2) AS bal
        FROM lat_nation n,
        LATERAL (SELECT c_custkey, c_acctbal FROM lat_customer
                 WHERE c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey
                 LIMIT 2) c
    """)


_C16_SQL = """
    SELECT s_suppkey, s_name
    FROM {supplier} s
    WHERE EXISTS (SELECT 1 FROM {lineitem} l
                  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49)
      AND NOT EXISTS (SELECT 1 FROM {lineitem} l2
                      WHERE l2.l_suppkey = s.s_suppkey
                        AND l2.l_returnflag = 'R'
                        AND l2.l_quantity > 45)
"""


@query(
    "c16_exists_subquery",
    oracle=_C16_SQL.format(supplier="supplier", lineitem="lineitem"),
)
def c16_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS — the SQL spelling of c04/c05's
    semi/anti joins, kept as its own row because Catalyst must PLAN the
    decorrelation (RewritePredicateSubquery folds both predicates into one
    left-semi + one left-anti join against the same fact scan).  The
    correlated side carries extra filters, so predicate pushdown into the
    lineitem scans is the thing to watch in the plan at 100 TB."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("ex_supplier")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("ex_lineitem")
    return spark.sql(_C16_SQL.format(supplier="ex_supplier",
                                     lineitem="ex_lineitem"))


@query(
    "c17_null_safe_join",
    oracle="""
        WITH o2 AS (SELECT o_orderkey, nullif(o_orderstatus, 'P') AS st
                    FROM orders),
        dim AS (SELECT DISTINCT st FROM o2)
        SELECT d.st, count(*) AS n
        FROM o2 o JOIN dim d ON o.st IS NOT DISTINCT FROM d.st
        GROUP BY 1
    """,
)
def c17_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH
    each other instead of vanishing — the semantics dimension lookups with
    an explicit 'unknown' bucket need.  Spark plans <=> as a hash join on
    the null-safe key (EqualNullSafe stays sargable), not a nested loop;
    the NULL group's row count proves the rows a plain equi-join would
    silently drop."""
    o = load_table(spark, sf_dir, "orders")
    o2 = o.select("o_orderkey",
                  F.expr("nullif(o_orderstatus, 'P')").alias("st")).alias("o")
    dim = o2.select("st").distinct().alias("d")
    return (
        o2.join(F.broadcast(dim), F.expr("o.st <=> d.st"))
        .groupBy(F.col("d.st").alias("st"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---- c18: Bloom-filter semi-join reduction (first principles; registered
# ---- round 17, pulled forward from the r16 bank's spares — the r15/r16
# ---- over-delivery precedent) -----------------------------------------------

#: Bloom geometry: 2^16 bits packed into 1024 longs, K=2 md5-derived
#: hashes.  At the dim side's ~20% key selectivity the false-positive
#: rate is (1 - e^(-2n/m))^2 ~ 0.3% at sf0.1 (n ~ 30k urgent orders,
#: m = 65536) — and CORRECTNESS never depends on it: false positives
#: are removed by the real join that follows; false negatives are
#: impossible by construction (every dim key sets its own bits).
_C18_BITS = 1 << 16
_C18_SEEDS = ("b0", "b1")


def _c18_bit_pos(col: str, seed: str):
    """md5-derived bit position in [0, 2^16): first 4 hex digits of
    md5('<seed>|<key>') — the family's deterministic-hash idiom
    (i36/_bucket256), exact on any engine, no seed state."""
    # 4 hex digits span [0, 2^16) exactly — _C18_BITS by construction,
    # so no modulo is needed (changing the geometry means changing the
    # substring length with it)
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + "|"),
                                   F.col(col).cast("string"))), 1, 4),
        16, 10).cast("long")


@query(
    "c18_bloom_semijoin_reduce",
    oracle="""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY 1
    """,
)
def c18_bloom_semijoin_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction, built from first principles
    (Spark's BloomFilterAggregate exists but is not SQL-public, and the
    optimizer's runtime row-level filtering only fires on its own cost
    heuristics — this operator makes the technique explicit and
    plan-pinned): the selective dim side (urgent orders, ~20% of keys)
    builds a 2^16-bit Bloom bitmap as a <= 1024-row (word, bits)
    table — one `bit_or(shiftleft(1L, pos % 64))` aggregation over the
    exploded K=2 md5 bit positions — which is BROADCAST to the fact
    side; each fact row probes both its bit positions with two broadcast
    equi-joins on the word index + a bit test, dropping non-member rows
    MAP-SIDE before the real join's exchange.  The real join then
    removes Bloom false positives, so the result is EXACTLY the plain
    join (the oracle runs the plain join — a single false NEGATIVE, the
    bug class that silently drops rows, breaks the hash).

    At 100 TB this is the shape that matters when the dim side exceeds
    the broadcast budget: the full dim must shuffle, but its KEY BITMAP
    (8 KB here, fixed by geometry not by SF) still broadcasts, so the
    80% non-matching fact rows die before the shuffle instead of
    traveling through it.  The bitmap table carries an explicit
    broadcast hint — legitimate under the r11 broadcast-bound audit
    because its size is bounded by the Bloom GEOMETRY (1024 rows), not
    by the scale factor.  The main join carries NO hint (orders is
    SF-proportional; the planner decides, the c07/j10 rule)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dim = (orders.filter(F.col("o_orderpriority") == "1-URGENT")
           .select("o_orderkey"))
    words = F.broadcast(
        dim.select(F.explode(F.array(*[
            _c18_bit_pos("o_orderkey", s) for s in _C18_SEEDS
        ])).alias("p"))
        .groupBy(F.expr("p div 64").alias("w"))
        .agg(F.expr("bit_or(shiftleft(cast(1 as bigint),"
                    " cast(p % 64 as int)))").alias("bits")))

    fact = li.select("l_orderkey", "l_returnflag",
                     "l_extendedprice", "l_discount")
    for i, seed in enumerate(_C18_SEEDS):
        pos, w, bits = f"_p{i}", f"_w{i}", f"bits{i}"
        fact = (fact.withColumn(pos, _c18_bit_pos("l_orderkey", seed))
                .withColumn(w, F.expr(f"{pos} div 64"))
                .join(words.select(F.col("w").alias(w),
                                   F.col("bits").alias(bits)), w)
                .filter(F.expr(f"(shiftright({bits},"
                               f" cast({pos} % 64 as int)) & 1) = 1"))
                .drop(pos, w, bits))

    joined = fact.join(dim, fact.l_orderkey == dim.o_orderkey)
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))), 2).alias("revenue"))
