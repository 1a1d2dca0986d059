"""Window-function operators (SURVEY.md §2.5, rows e01-e10).

Each window is one shuffle on its partition keys; frames evaluate without
further exchange.  Global total-order functions (e04 ntile, e05
percent_rank/cume_dist) do NOT use an unpartitioned window — that funnels
the whole table through one task ("No Partition Defined" warning, the
scale-killer VERDICT r6 named).  They ride :func:`global_row_number`:
range-partition on the order keys, rank within each range bucket, add
broadcast per-bucket offsets — every stage distributed, the rank formulas
(ntile bucket arithmetic, (rn-1)/(N-1), rn/N) pure map-side after it.
``plans.checks.assert_no_antipatterns`` enforces the absence of
unpartitioned windows mechanically on every registered query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.scalar import DECIMAL18_4_BOUND, representable_or_null
from ..loader import load_table
from ..registry import query


def global_row_number(df: DataFrame, order_cols: list,
                      out: str = "rn", total: str | None = None) -> DataFrame:
    """Distributed global row numbering over a TOTAL order.

    ``order_cols`` entries are column NAMES — a plain ``str`` for
    ascending or ``(name, "desc")`` for descending — and MUST be
    tie-free: callers tie-break on a unique key, which also makes the
    result partitioning-invariant.  Returns ``df`` plus column ``out`` =
    the 1-based global row number, and (if ``total``) the total row
    count.

    Every column of ``df`` must be an order key (enforced): callers with
    payload columns rank a keys-only projection and join the rank back on
    the unique keys themselves.  The keys-only rule bounds what the pin
    below materializes to the sorted KEY stream, never payload bytes.

    The ranged frame is pinned with ``localCheckpoint`` (the repo-wide
    pin policy, llm_text.py:16) so the ranking and counting branches read
    the SAME materialized bucket assignment by construction.  Before r8
    they instead relied on Catalyst ReuseExchange deduplicating the range
    shuffle — correct, but silently load-bearing (ADVICE r7): with reuse
    disabled or canonicalization drift, the two RangePartitioners would
    sample boundaries independently (seed derives from RDD id) and a row
    could be RANKED in bucket i but COUNTED in bucket i+1, wrong with no
    error.  The pin makes bucket agreement plan-independent, and as a
    side effect the count branch now reads cached blocks instead of
    re-walking the exchange.  Cost of the pin (ADVICE r8): localCheckpoint
    is EAGER — calling this helper runs the range shuffle at DataFrame-
    construction time (plan-only callers pay a job) and keeps the keys-only
    stream on executors until the RDD is GC'd, with lineage truncated (an
    executor loss is unrecoverable mid-query).  Acceptable for the local
    harness; a fault-tolerant deployment would switch to a reliable
    ``checkpoint()`` against the cluster's checkpoint dir, same semantics.

    The scale-safe replacement for ``row_number().over(W.orderBy(...))``:

    1. ``repartitionByRange`` on the order keys — partition i holds
       strictly smaller keys than partition i+1 (one table-sized shuffle,
       the same price the single-task window pays to move the data, but
       spread over the cluster);
    2. ``row_number`` partitioned by ``spark_partition_id()`` — each range
       bucket ranks locally in parallel (``spark_partition_id`` is
       nondeterministic-flagged, so Catalyst never moves it across the
       exchanges that define it);
    3. per-bucket row counts (#partitions rows) turned into starting
       offsets via a broadcast theta-join (b.pid < a.pid) — deliberately
       NOT a window: an unpartitioned window here, however tiny, would
       re-introduce the exact node this helper exists to eliminate, and
       the linter in plans/checks.py flags it with no size information.
    """
    names = [c if isinstance(c, str) else c[0] for c in order_cols]
    # NULL position is EXPLICIT (r12 TPC-H null probe: Spark's asc
    # default is NULLS FIRST, DuckDB's is NULLS LAST — an oracle that
    # leans on either default diverges the moment an order key turns
    # nullable); asc_nulls_first/desc_nulls_last are Spark's own
    # defaults, so existing callers are bit-identical, and every
    # oracle twin spells NULLS FIRST on its nullable asc keys
    exprs = [
        F.asc_nulls_first(c) if isinstance(c, str)
        else (F.desc_nulls_last(c[0]) if c[1] == "desc"
              else F.asc_nulls_first(c[0]))
        for c in order_cols
    ]
    payload = set(df.columns) - set(names)
    if payload:
        raise ValueError(
            f"global_row_number requires a keys-only frame; payload columns "
            f"{sorted(payload)} would be materialized by the internal pin — "
            f"pre-project to the order keys and join the rank back on them")
    reserved = {"_gpid", "_lrn", "_off", out} | ({total} if total else set())
    clash = reserved & set(df.columns)
    if clash:
        # a silent collision would overwrite caller data or corrupt the
        # scratch columns; every current caller passes clean projections
        raise ValueError(f"global_row_number scratch-name collision: {clash}")
    order_cols = exprs
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ranged = (df.repartitionByRange(width, *order_cols)
              .withColumn("_gpid", F.spark_partition_id())
              .localCheckpoint())  # pin: ranking+counting read ONE bucket map
    local = ranged.withColumn(
        "_lrn", F.row_number().over(W.partitionBy("_gpid").orderBy(*order_cols)))
    cnts = ranged.groupBy("_gpid").agg(F.count(F.lit(1)).alias("_pn"))
    a, b = cnts.alias("a"), cnts.alias("b")
    offs = (
        a.join(F.broadcast(b), F.col("b._gpid") < F.col("a._gpid"), "left")
        .groupBy(F.col("a._gpid").alias("_gpid"))
        .agg(F.coalesce(F.sum("b._pn"), F.lit(0)).alias("_off"))
    )
    res = local.join(F.broadcast(offs), "_gpid").withColumn(
        out, (F.col("_off") + F.col("_lrn")).cast("long"))
    if total is not None:
        tot = cnts.agg(F.sum("_pn").cast("long").alias(total))
        res = res.crossJoin(F.broadcast(tot))
    return res.drop("_gpid", "_lrn", "_off")


@query(
    "e01_row_number_topk",
    oracle="""
        SELECT * FROM (
            SELECT o_custkey, o_orderkey,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rk
            FROM orders
        ) WHERE rk <= 2
    """,
)
def e01_row_number_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("o_custkey", "o_orderkey", "rk")
    )


@query(
    "e02_rank_dense",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               rank()       OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_orderpriority NULLS FIRST) AS rnk,
               dense_rank() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_orderpriority NULLS FIRST) AS drnk
        FROM orders
    """,
)
def e02_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rank/dense_rank depend only on the order-key VALUE, so heavy ties
    # (5 distinct priorities) are still deterministic.
    o = load_table(spark, sf_dir, "orders")
    # NULLS FIRST explicit on both engines (the r12 probe class)
    w = W.partitionBy("o_orderstatus").orderBy(
        F.asc_nulls_first("o_orderpriority"))
    return o.select(
        "o_orderkey", "o_orderstatus",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "e03_lag_lead",
    oracle="""
        SELECT user_id, event_id,
               epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us,
               lead(event_id) OVER w AS next_event
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    """,
)
def e03_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    # integer microsecond arithmetic — exact cross-engine (no float
    # seconds).  NULL position EXPLICIT on both sides (r13 null-ts
    # probe — the r12 e02 ordering class on the time axis): Spark ASC
    # defaults to NULLS FIRST, DuckDB to NULLS LAST, so an un-timestamped
    # row would take opposite stream positions; asc_nulls_first is
    # Spark's own default, a pristine no-op.
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc_nulls_first("ts"), "event_id")
    return ev.select(
        "user_id", "event_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)))
            .alias("gap_us"),
        F.lead("event_id").over(w).alias("next_event"),
    )


@query(
    "e04_ntile",
    oracle="""
        SELECT c_custkey,
               ntile(4) OVER (ORDER BY c_acctbal NULLS FIRST, c_custkey) AS quartile
        FROM customer
    """,
)
def e04_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) from the distributed global row number: with N rows the
    first N mod 4 tiles take ceil(N/4) rows and the rest floor(N/4) — the
    exact SQL ntile layout, reproduced with integer arithmetic on
    (rn, N) so the whole query needs no unpartitioned window."""
    c = load_table(spark, sf_dir, "customer")
    rn = global_row_number(
        c.select("c_custkey", "c_acctbal"),
        ["c_acctbal", "c_custkey"], out="rn", total="n")
    big = F.col("_r") * (F.col("_q") + 1)  # rows living in the larger tiles
    return (
        rn.withColumn("_q", F.expr("n div 4"))
        .withColumn("_r", F.col("n") % 4)
        .select(
            "c_custkey",
            F.when(F.col("rn") <= big,
                   F.expr("(rn - 1) div (_q + 1) + 1"))
             .otherwise(F.col("_r") + F.expr("(rn - _r * (_q + 1) - 1) div _q")
                        + 1)
             .cast("int").alias("quartile"),
        )
    )


@query(
    "e05_percent_cume",
    oracle="""
        SELECT c_custkey,
               round(percent_rank() OVER (ORDER BY c_acctbal NULLS FIRST, c_custkey), 6) AS pr,
               round(cume_dist()    OVER (ORDER BY c_acctbal NULLS FIRST, c_custkey), 6) AS cd
        FROM customer
    """,
)
def e05_percent_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist from the distributed global row number: the
    order key (c_acctbal, c_custkey) is tie-free, so rank == row_number
    and the two functions are closed-form map-side arithmetic on (rn, N)
    — pr = (rn-1)/(N-1), cd = rn/N — with no unpartitioned window."""
    c = load_table(spark, sf_dir, "customer")
    rn = global_row_number(
        c.select("c_custkey", "c_acctbal"),
        ["c_acctbal", "c_custkey"], out="rn", total="n")
    return rn.select(
        "c_custkey",
        F.round(F.when(F.col("n") > 1,
                       (F.col("rn") - 1) / (F.col("n") - 1))
                 .otherwise(F.lit(0.0)), 6).alias("pr"),
        F.round(F.col("rn") / F.col("n"), 6).alias("cd"),
    )


_DAILY_ORACLE = """
    WITH daily AS (
        SELECT l_returnflag, CAST(l_shipdate AS DATE) AS d,
               sum(CAST(CASE WHEN isfinite(l_extendedprice * (1 - l_discount))
                              AND abs(l_extendedprice * (1 - l_discount)) < 1e14
                             THEN l_extendedprice * (1 - l_discount) END
                        AS DECIMAL(18,4)))
                   AS daily_rev
        FROM lineitem GROUP BY 1, 2
    )
"""


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # price(2dp) * (1 - discount(2dp)) is EXACT at 4 decimals, so sums stay
    # DECIMAL end-to-end: double sums flapped across a .005 rounding boundary
    # depending on fold order (§7.3/2), and DuckDB's window aggregation
    # (segment tree) folds in a different order than a sequential scan —
    # only exact arithmetic is order-insensitive.
    # A revenue the DECIMAL(18,4) landing cannot hold is MISSING on both
    # engines (r14 probes: DuckDB's DECIMAL cast hard-errors on NaN while
    # Spark's legacy cast silently nulls it, and a finite 1e300 raises
    # Spark NUMERIC_VALUE_OUT_OF_RANGE mid-job — one junk row must not
    # kill a 100 TB run).
    li = load_table(spark, sf_dir, "lineitem")
    raw = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = representable_or_null(raw, DECIMAL18_4_BOUND).cast("decimal(18,4)")
    return (
        li.groupBy("l_returnflag", F.col("l_shipdate").cast("date").alias("d"))
        .agg(F.sum(rev).alias("daily_rev"))
    )


@query(
    "e06_running_sum",
    oracle=_DAILY_ORACLE + """
        SELECT l_returnflag, CAST(d AS TIMESTAMP) AS d,
               CAST(sum(daily_rev) OVER (PARTITION BY l_returnflag
                     ORDER BY d NULLS FIRST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE) AS cum_rev
        FROM daily
    """,
)
def e06_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # d leaves as TIMESTAMP on both sides: Spark DATE -> pandas object(date)
    # but DuckDB DATE -> datetime64, and the driver hash is type-sensitive
    daily = _daily_revenue(spark, sf_dir)
    # NULLS FIRST explicit on both engines (the r12 probe class: a NULL
    # ship date must take the same window position on each side)
    w = (W.partitionBy("l_returnflag").orderBy(F.asc_nulls_first("d"))
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return daily.select(
        "l_returnflag", F.col("d").cast("timestamp").alias("d"),
        # exact decimal cum -> double at the very end; no 2-dp recast, since
        # decimal->decimal casts round differently across engines
        F.sum("daily_rev").over(w).cast("double").alias("cum_rev"),
    )


@query(
    "e07_moving_avg",
    oracle=_DAILY_ORACLE + """
        , win AS (
            SELECT l_returnflag, d,
                   CASE WHEN abs(sum(daily_rev) OVER w) < 9e13
                        THEN CAST(sum(daily_rev) OVER w * 10000 AS BIGINT)
                   END AS s_e4,
                   count(daily_rev) OVER w AS n7
            FROM daily
            WINDOW w AS (PARTITION BY l_returnflag
                         ORDER BY d NULLS FIRST
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT l_returnflag, CAST(d AS TIMESTAMP) AS d,
               (((10 * s_e4) // n7 + 5) // 10) / 10000.0 AS ma7
        FROM win
    """,
)
def e07_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 7-row moving average.  sum/count quotients land EXACTLY on .xxx5
    # decimal boundaries (4-dp sums over counts of 7), where engines' double
    # rounding disagrees — so the half-up rounding is done in exact bigint
    # space (scale to 1e-4 units, integer-divide, +5 // 10) and only the
    # final deterministic integer is converted to double.  The fixed-point
    # intermediate needs |sum| * 1e5 to fit BIGINT, so a window sum past
    # 9e13 is MISSING on both engines (r14 extreme-magnitude probe: Spark
    # raised ARITHMETIC_OVERFLOW mid-job — one junk window must not kill
    # a 100 TB run; the guard is the landing's capacity, not a data guess).
    daily = _daily_revenue(spark, sf_dir)
    # NULLS FIRST explicit on both engines (the r12 probe class)
    w = (W.partitionBy("l_returnflag").orderBy(F.asc_nulls_first("d"))
         .rowsBetween(-6, 0))
    win_sum = F.sum("daily_rev").over(w)
    return (
        daily.select(
            "l_returnflag", "d",
            F.when(F.abs(win_sum) < 9e13,
                   (win_sum * 10000).cast("long")).alias("s_e4"),
            F.count("daily_rev").over(w).alias("n7"),
        )
        .select(
            "l_returnflag", F.col("d").cast("timestamp").alias("d"),
            (F.expr("((10 * s_e4) div n7 + 5) div 10") / 10000.0).alias("ma7"),
        )
    )


@query(
    "e08_range_frame",
    # the oracle stays the ORIGINAL single-level RANGE-window formulation
    # (not the per-size + theta-join algorithm the Spark side uses), so the
    # differential remains an INDEPENDENT check on the reformulation — a
    # shared formula would be blind to its own bugs (review r7 finding;
    # same hazard class i48's pure-Python pin exists for)
    oracle="""
        SELECT p_partkey, p_size,
               CAST(sum(CAST(CASE WHEN isfinite(p_retailprice)
                                   AND abs(p_retailprice) < 1e14
                                  THEN p_retailprice END AS DECIMAL(18,2)))
                    OVER (ORDER BY p_size
                          RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS range_sum
        FROM part
    """,
)
def e08_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum over RANGE BETWEEN 2 PRECEDING AND CURRENT ROW on p_size: a
    value-range frame on an integer key, where all peers of a size share
    the frame — so the frame sum is a function of the SIZE, not the row.
    Computed scale-safe as per-size totals (one map-side-combined shuffle
    keyed on p_size), a theta-join over the value-DISTINCT set (≤50 sizes
    regardless of table size — bounded, broadcast, window-free), and a
    broadcast join back onto the table.  The former unpartitioned range
    window moved every row through one task (VERDICT r6 scale-killer).

    retailprice is 2-dp exact, so both engines sum DECIMAL(18,2) —
    order-insensitive exact arithmetic — and convert the exact total to
    double only at the end (double fold order would differ between this
    two-level aggregation and the oracle's flat sum otherwise).
    """
    p = load_table(spark, sf_dir, "part")
    per = p.groupBy("p_size").agg(
        # a retailprice the exact-decimal landing cannot hold is MISSING
        # on both engines (the _daily_revenue contract; r14 probes).
        # The 1e14 bound is DELIBERATELY shared with _daily_revenue's
        # DECIMAL(18,4) contract even though this landing is
        # DECIMAL(18,2) (capacity ~1e16): one money-column bound, one
        # oracle predicate — conservatism, not a divergence (ADVICE r14)
        F.sum(representable_or_null("p_retailprice", DECIMAL18_4_BOUND)
              .cast("decimal(18,2)"))
         .alias("_ssum"))
    a, b = per.alias("a"), per.alias("b")
    rng = (
        a.join(F.broadcast(b),
               (F.col("b.p_size") >= F.col("a.p_size") - 2)
               & (F.col("b.p_size") <= F.col("a.p_size")))
        .groupBy(F.col("a.p_size").alias("p_size"))
        .agg(F.sum("b._ssum").cast("double").alias("range_sum"))
    )
    return p.join(F.broadcast(rng), "p_size") \
        .select("p_partkey", "p_size", "range_sum")


@query(
    "e09_first_last",
    oracle="""
        SELECT o_custkey, o_orderkey,
               first_value(o_orderkey) OVER w AS first_order,
               last_value(o_orderkey)  OVER w AS last_order
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def e09_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit full frame: default frame would make last_value = current row
    o = load_table(spark, sf_dir, "orders")
    w = (W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    return o.select(
        "o_custkey", "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
    )


@query(
    "e12_resample_locf",
    oracle="""
        WITH grid AS (
            SELECT u.user_id, g.gts
            FROM (SELECT DISTINCT user_id FROM events) u,
                 (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                                TIMESTAMP '2024-01-08',
                                                INTERVAL 6 HOUR)) AS gts) g
        )
        SELECT grid.user_id, grid.gts, e.value AS last_value
        FROM grid ASOF LEFT JOIN
             (SELECT user_id, ts, value FROM events
              WHERE value IS NOT NULL AND ts IS NOT NULL) e
          ON grid.user_id = e.user_id AND grid.gts >= e.ts
    """,
)
def e12_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with gap-fill: sample every user's stream on
    a fixed 6-hour grid, carrying the last observation forward (LOCF) —
    NULL before the first event.  Same scale-safe shape as the as-of join
    (c09): union grid + events, one window pass over (user_id), no join —
    the standard downsampling plan for feature snapshots at 100 TB.

    NULL user_ids (r12, the null-bearing differential fixture): the
    grid KEEPS the NULL user (both engines' DISTINCT emits it, so both
    emit its 29 grid rows), but NULL-user observations fill NOTHING —
    the oracle's ASOF ``grid.user_id = e.user_id`` never matches a
    NULL, while the unfiltered window form LOCF'd anonymous events into
    the anonymous grid (IS-NOT-DISTINCT-FROM semantics, silently).
    Filtering the obs side leaves the NULL window partition holding
    exactly the 29 grid rows — bounded, so no skew hazard here (unlike
    c09's left side, which scales with the corpus and routes around).

    NULL values (r12, the value-bearing variant probe): LOCF carries the
    last OBSERVATION forward, and a NULL measurement is not an
    observation — NULL-value events are skipped, explicitly on both
    engines (Spark's last(ignorenulls) already skipped them silently;
    the oracle's ASOF join would instead have taken the latest ROW and
    returned its NULL — the filter makes the two literal mirrors, and
    skipping is the point of a gap-FILL operator)."""
    ev = load_table(spark, sf_dir, "events")
    grid_ts = F.expr(
        "sequence(to_timestamp('2024-01-01'), to_timestamp('2024-01-08'),"
        " interval 6 hours)")
    grid = (
        ev.select("user_id").distinct()
        .select("user_id", F.explode(grid_ts).alias("gts"))
        .select("user_id", F.col("gts").alias("ts"),
                F.lit(None).cast("double").alias("v"), F.lit(1).alias("tag"))
    )
    # ts IS NOT NULL (r13 null-ts probe): an observation without a time
    # cannot be placed on the grid — Spark's nulls-first window order
    # would have LOCF'd it into the EARLIEST grid point while the
    # oracle's ASOF gts >= NULL matches nothing
    obs = (ev.filter(F.col("user_id").isNotNull()
                     & F.col("value").isNotNull()
                     & F.col("ts").isNotNull())
           .select("user_id", "ts", F.col("value").alias("v"),
                   F.lit(0).alias("tag")))
    w = (W.partitionBy("user_id").orderBy("ts", "tag")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        grid.unionByName(obs)
        .withColumn("last_value", F.last("v", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select("user_id", F.col("ts").alias("gts"), "last_value")
    )


@query(
    "e11_funnel_conversion",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
            FROM events GROUP BY 1
        )
        SELECT count(*) AS n_users,
               CAST(sum(CASE WHEN first_signup IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_signup,
               CAST(sum(CASE WHEN first_signup IS NOT NULL
                             AND first_purchase > first_signup THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_converted
        FROM per_user
    """,
)
def e11_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analytics: users whose first purchase follows their first
    signup.  One shuffle on user_id with conditional-min partials — the
    shape that replaces per-user sequence scans at scale."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
         .alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
         .alias("first_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("first_signup").isNotNull(), 1).otherwise(0))
         .alias("n_signup"),
        F.sum(F.when(F.col("first_signup").isNotNull()
                     & (F.col("first_purchase") > F.col("first_signup")), 1)
               .otherwise(0)).alias("n_converted"),
    )


@query(
    "e10_sessionize_batch",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
            SELECT user_id, ts,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
            FROM flagged
        )
        SELECT user_id, CAST(sess AS BIGINT) AS sess, count(*) AS n_events,
               epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
        FROM sessions GROUP BY 1, 2
    """,
)
def e10_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: new session when the gap to the
    previous event exceeds 30 minutes.  One shuffle on user_id; the
    streaming twin is j03 (session_window)."""
    return sessionize(load_table(spark, sf_dir, "events"))


def sessionize(ev: DataFrame) -> DataFrame:
    """The e10 kernel over any (user_id, ts, event_id, ...) frame: a gap
    of more than 30 minutes opens a new session.  One
    user_id window shuffle; the session agg reuses the window's
    partitioning.
    Un-timestamped events are excluded by contract on both engines (r13
    null-ts probe): a gap to an event with no time is undefined, and the
    engines' opposite NULL-ordering defaults would otherwise place such
    rows at opposite ends of every user's stream."""
    ev = ev.filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("sess", F.sum("is_new").over(wsum))
        .groupBy("user_id", "sess")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
        )
    )


@query(
    "e13_resample_interp",
    oracle="""
        WITH grid AS (
            SELECT u.user_id, g.gts
            FROM (SELECT DISTINCT user_id FROM events) u,
                 (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                                TIMESTAMP '2024-01-08',
                                                INTERVAL 6 HOUR)) AS gts) g
        ), unioned AS (
            SELECT user_id, gts AS ts, CAST(NULL AS DOUBLE) AS v,
                   CAST(NULL AS TIMESTAMP) AS ots, 1 AS tag
            FROM grid
            UNION ALL
            SELECT user_id, ts, min(value), ts, 0
            FROM events WHERE ts IS NOT NULL GROUP BY user_id, ts
        ), wnd AS (
            SELECT user_id, ts, tag,
                   last_value(v IGNORE NULLS) OVER wp AS pv,
                   last_value(ots IGNORE NULLS) OVER wp AS pt,
                   first_value(v IGNORE NULLS) OVER wf AS nv,
                   first_value(ots IGNORE NULLS) OVER wf AS nt
            FROM unioned
            WINDOW wp AS (PARTITION BY user_id ORDER BY ts, tag
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY user_id ORDER BY ts, tag
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, ts AS gts,
               round(CASE
                   WHEN pv IS NULL OR nv IS NULL THEN coalesce(pv, nv)
                   ELSE pv + (nv - pv)
                        * (epoch_us(ts) - epoch_us(pt)) * 1.0
                        / (epoch_us(nt) - epoch_us(pt))
               END, 6) AS interp
        FROM wnd WHERE tag = 1
    """,
)
def e13_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with LINEAR interpolation — e12's LOCF
    sibling: each 6-hour grid point takes
    prev + (next - prev) * (t - t_prev) / (t_next - t_prev), edge grid
    points falling back to the single available neighbor.  Same union +
    window plan as e12 (one shuffle on user_id, no join): the preceding
    frame carries the last observation, the following frame the next one.
    Observations are pre-aggregated to one row per (user_id, ts) —
    min(value), deterministic and float-exact in any fold order — so
    (ts, tag) is a TOTAL order and last/first tie resolution cannot
    diverge between engines if a user ever has two events on one
    timestamp.  The (ts, tag) ordering puts a same-timestamp observation
    INSIDE the preceding frame, so the fraction is exactly 0 there and the
    grid point reproduces the observation; t_next > t >= t_prev strictly,
    so the divisor can never be zero (ANSI-safe).  Timestamps enter the
    fraction as exact integer micros; both engines then divide identical
    doubles."""
    ev = load_table(spark, sf_dir, "events")
    grid_ts = F.expr(
        "sequence(to_timestamp('2024-01-01'), to_timestamp('2024-01-08'),"
        " interval 6 hours)")
    grid = (
        ev.select("user_id").distinct()
        .select("user_id", F.explode(grid_ts).alias("ts"),
                F.lit(None).cast("double").alias("v"),
                F.lit(None).cast("timestamp").alias("ots"),
                F.lit(1).alias("tag"))
    )
    # un-timestamped observations excluded by contract (r13 null-ts
    # probe; the e12 rationale)
    obs = (ev.filter(F.col("ts").isNotNull())
           .groupBy("user_id", "ts").agg(F.min("value").alias("v"))
           .select("user_id", "ts", "v",
                   F.col("ts").alias("ots"), F.lit(0).alias("tag")))
    wp = (W.partitionBy("user_id").orderBy("ts", "tag")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    wf = (W.partitionBy("user_id").orderBy("ts", "tag")
          .rowsBetween(W.currentRow, W.unboundedFollowing))
    frac = ((F.unix_micros("ts") - F.unix_micros("pt")).cast("double")
            / (F.unix_micros("nt") - F.unix_micros("pt")).cast("double"))
    interp = (F.when(F.col("pv").isNull() | F.col("nv").isNull(),
                     F.coalesce("pv", "nv"))
              .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac))
    return (
        grid.unionByName(obs)
        .withColumn("pv", F.last("v", ignorenulls=True).over(wp))
        .withColumn("pt", F.last("ots", ignorenulls=True).over(wp))
        .withColumn("nv", F.first("v", ignorenulls=True).over(wf))
        .withColumn("nt", F.first("ots", ignorenulls=True).over(wf))
        .filter(F.col("tag") == 1)
        .select("user_id", F.col("ts").alias("gts"),
                F.round(interp, 6).alias("interp"))
    )


@query(
    "e14_islands_gaps",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id,
                   date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_n
            FROM events
        ),
        numbered AS (
            SELECT user_id, day_n,
                   day_n - row_number() OVER (PARTITION BY user_id
                                              ORDER BY day_n) AS grp
            FROM days
        )
        SELECT user_id,
               min(day_n) AS start_day,
               max(day_n) AS end_day,
               count(*)   AS n_days
        FROM numbered
        GROUP BY user_id, grp
    """,
)
def e14_islands_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each user's activity into maximal runs of
    CONSECUTIVE days (streak detection / retention analysis).  The classic
    day_n - row_number() trick turns every run into a constant group key,
    so the whole operator is one window + one aggregate — both partitioned
    by user_id, so at 100 TB the single hash exchange on user_id is reused
    by the window sort AND the final groupBy (no second shuffle).  Days
    are epoch-day integers end to end: the banned DATE dtype never reaches
    the output and the arithmetic is exact."""
    e = load_table(spark, sf_dir, "events")
    days = (e.select(
                "user_id",
                F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day_n"))
            .distinct())
    w = W.partitionBy("user_id").orderBy("day_n")
    numbered = days.withColumn("grp", F.col("day_n") - F.row_number().over(w))
    return (numbered.groupBy("user_id", "grp")
            .agg(F.min("day_n").alias("start_day"),
                 F.max("day_n").alias("end_day"),
                 F.count(F.lit(1)).alias("n_days"))
            .select("user_id", "start_day", "end_day", "n_days"))


@query(
    "e15_rank_ties_topk",
    oracle="""
        SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS tp, rnk
        FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   rank() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC) AS rnk
            FROM orders
        ) t
        WHERE rnk <= 3
    """,
)
def e15_rank_ties_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group WITH ties: rank() <= k keeps every row tied at the
    boundary (e01's row_number() cuts arbitrarily; when the metric has
    duplicates, rank is what "top 3 prices" actually means, and its output
    is deterministic as a SET without any tie-break column).  Same
    single-window shape as e01 — one hash exchange on the partition key;
    at 100 TB a pre-filter on a per-group threshold sketch would shrink
    the window input first."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"))
    return (
        o.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey",
                F.round("o_totalprice", 2).alias("tp"), "rnk")
    )


@query(
    "e16_scd2_history",
    oracle="""
        WITH changes AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER w AS prev_type
            FROM events WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), versions AS (
            SELECT user_id, event_type, ts AS valid_from, event_id,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS valid_to
            FROM changes
            WHERE prev_type IS NULL OR prev_type <> event_type
        )
        SELECT user_id, event_type, valid_from, valid_to,
               CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
        FROM versions
    """,
)
def e16_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 history build from a change log:
    collapse consecutive rows with an unchanged attribute, then stamp each
    surviving version with [valid_from, valid_to) via lead(), open-ended
    (NULL valid_to, is_current=1) for the latest version per key.  Two
    windows over the SAME (user_id | ts, event_id) partitioning+ordering,
    so Catalyst plans ONE hash exchange and one sort — the change-filter
    and the interval stamping reuse the partitioning.  This is the
    standard warehouse pattern for turning event streams into versioned
    dimensions, and it scales as a single shuffle on the entity key."""
    ev = load_table(spark, sf_dir, "events")
    # un-timestamped changelog rows cannot be versioned — excluded by
    # contract on both engines (r13 null-ts probe): the engines'
    # opposite NULL-ordering defaults would otherwise disagree on which
    # neighbor a NULL-ts change collapses into
    ev = ev.filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "event_type", "ts", "event_id",
                  F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNull()
                | (F.col("prev_type") != F.col("event_type")))
    )
    w2 = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        changes.select(
            "user_id", "event_type", F.col("ts").alias("valid_from"),
            F.lead("ts").over(w2).alias("valid_to"))
        .withColumn("is_current",
                    F.when(F.col("valid_to").isNull(), 1).otherwise(0))
    )


@query(
    "e17_time_weighted_avg",
    oracle="""
        WITH s AS (
            SELECT user_id, value,
                   lead(epoch_us(ts)) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) - epoch_us(ts) AS dur
            FROM events
        )
        SELECT user_id,
               round(sum(value * dur) / CAST(sum(dur) AS DOUBLE), 4) AS twa,
               count(*) AS n_intervals
        FROM s WHERE dur IS NOT NULL
        GROUP BY 1
    """,
)
def e17_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per user: each reading is held
    until the next one arrives, so its weight is the interval length in
    microseconds (``unix_micros`` on both engines — DuckDB's ``epoch()``
    truncates to whole seconds and would diverge).  The lead window and the
    per-user aggregate share one hashpartitioning(user_id) exchange; the
    last reading of each user has no successor and drops out, mirroring the
    half-open [reading, next) interval semantics of metering pipelines."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    s = (
        e.select("user_id", "value", (F.lead(us).over(w) - us).alias("dur"))
        .filter(F.col("dur").isNotNull())
    )
    return s.groupBy("user_id").agg(
        F.round(F.sum(F.col("value") * F.col("dur")) / F.sum("dur").cast("double"), 4)
         .alias("twa"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


@query(
    "e18_cumulative_distinct",
    oracle="""
        WITH f AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN row_number() OVER (
                            PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) = 1
                        THEN 1 ELSE 0 END AS is_first
            FROM events WHERE ts IS NOT NULL
        )
        SELECT event_id, user_id,
               CAST(sum(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS distinct_types_so_far
        FROM f
    """,
)
def e18_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count-distinct over an event stream — "how many distinct
    event types has this user touched so far?".  COUNT(DISTINCT) is not a
    windowable aggregate on either engine, so the standard rewrite marks
    the first occurrence of each (user, type) with one window and running-
    sums the 0/1 flags with a second.  Two exchanges — (user_id, event_type)
    then (user_id) — both on bounded keys; no per-row state beyond the sort,
    so the shape scales to arbitrarily long histories."""
    e = load_table(spark, sf_dir, "events")
    # an un-timestamped event has no stream position — excluded by
    # contract on both engines (r13 null-ts probe)
    e = e.filter(F.col("ts").isNotNull())
    w_first = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (W.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    flagged = e.select(
        "event_id", "user_id", "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("is_first"),
    )
    return flagged.select(
        "event_id", "user_id",
        F.sum("is_first").over(w_run).alias("distinct_types_so_far"),
    )


def funnel_census(ev: DataFrame) -> DataFrame:
    """The e19 kernel over any (user_id, ts, event_id, event_type) frame —
    factored out so constructed-frame tests can drive the empty-funnel
    edge (nullif ratio).

    ONE user-keyed shuffle: per-user sorted event arrays folded
    left-to-right through a (stage, last_ts) state machine — the i25
    "per-key sorted scan beats repeated shuffles" discipline.  The census
    rollup is a single broadcast-sized row.  The ratio divisor is
    nullif-guarded: a corpus with zero view events yields NULL on both
    engines (ADVICE r9c — under ANSI mode a bare division would instead
    raise DIVIDE_BY_ZERO).  NULL user_ids are excluded up front (r10
    ADVICE: the driver fixture is non-null, but on a corpus with
    anonymous events a groupBy would fold them into ONE phantom user
    while the oracle's count(DISTINCT user_id) ignores NULLs — a latent
    cross-engine divergence; a funnel is only meaningful for
    identifiABLE users, so both engines now scope to them
    explicitly)."""
    fold = """
        aggregate(
            array_sort(evs),
            named_struct('stage', 0, 't', CAST(NULL AS TIMESTAMP)),
            (acc, x) -> CASE
                WHEN acc.stage = 0 AND x.et = 'view'
                    THEN named_struct('stage', 1, 't', x.ts)
                WHEN acc.stage = 1 AND x.et = 'click' AND x.ts > acc.t
                    THEN named_struct('stage', 2, 't', x.ts)
                WHEN acc.stage = 2 AND x.et = 'purchase' AND x.ts > acc.t
                    THEN named_struct('stage', 3, 't', x.ts)
                ELSE acc END,
            acc -> acc.stage) AS stage
    """
    per_user = (
        ev.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(F.collect_list(F.struct(
            F.col("ts"), F.col("event_id").alias("eid"),
            F.col("event_type").alias("et"))).alias("evs"))
        .selectExpr("user_id", fold)
    )
    # sums coalesce to 0: over an EMPTY per_user frame (all-anonymous or
    # empty corpus) a global sum is NULL on Spark while the oracle's
    # count(*) over empty CTEs is 0 (r11 review — the residual case of
    # the NULL-user scoping above)
    return per_user.agg(
        F.count(F.lit(1)).alias("users_total"),
        F.coalesce(F.sum(F.expr("CASE WHEN stage >= 1 THEN 1 ELSE 0 END")),
                   F.lit(0).cast("long")).alias("reached_view"),
        F.coalesce(F.sum(F.expr("CASE WHEN stage >= 2 THEN 1 ELSE 0 END")),
                   F.lit(0).cast("long")).alias("reached_click"),
        F.coalesce(F.sum(F.expr("CASE WHEN stage >= 3 THEN 1 ELSE 0 END")),
                   F.lit(0).cast("long")).alias("reached_purchase"),
    ).withColumn(
        "view_to_purchase",
        F.round(F.col("reached_purchase").cast("double")
                / F.expr("nullif(reached_view, 0)"), 6))


@query(
    "e19_funnel_census",
    oracle="""
        WITH v AS (
            -- ts IS NOT NULL (r13 null-ts probe): a user whose only view
            -- is un-timestamped must not count as reached_view — min(ts)
            -- skips the NULL but the group row would survive; the later
            -- stages' e.ts > ... comparisons already self-exclude NULLs
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' AND user_id IS NOT NULL
              AND ts IS NOT NULL GROUP BY 1
        ), c AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN v USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1
        ), p AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1
        )
        SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
                   AS users_total,
               (SELECT CAST(count(*) AS BIGINT) FROM v) AS reached_view,
               (SELECT CAST(count(*) AS BIGINT) FROM c) AS reached_click,
               (SELECT CAST(count(*) AS BIGINT) FROM p) AS reached_purchase,
               round((SELECT CAST(count(*) AS DOUBLE) FROM p)
                     / nullif((SELECT count(*) FROM v), 0), 6)
                   AS view_to_purchase
    """,
)
def e19_funnel_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel census over the event stream: how many users
    progressed view -> click -> purchase in strictly increasing event
    time (the greedy earliest-match subsequence, which is reachability-
    optimal: if ANY ordered subsequence exists, the greedy one finds
    it).  The product-analytics primitive behind conversion dashboards;
    e11's unordered twin covers only a 2-stage first-vs-first rule.

    Registered round 10 from the r9 staging module (the one staged
    candidate judged worth a permanent freshness slot — VERDICT r9 item
    3).  DELIBERATELY different algorithms on the two engines (the
    strongest differential form — no shared formula to transcribe
    wrong): the oracle takes three min-aggregate + join passes (earliest
    view, then earliest later click, then earliest later purchase),
    while Spark makes ONE user-keyed shuffle — see funnel_census.  Both
    enforce STRICT ts increase between stages, so same-timestamp ties
    cannot diverge the engines; a third pure-Python formulation is
    pinned in tests.  At 100 TB the collect_list is bounded by per-user
    activity (the e10 sessionize assumption) and the census rollup is a
    broadcast-sized single row."""
    return funnel_census(load_table(spark, sf_dir, "events"))
