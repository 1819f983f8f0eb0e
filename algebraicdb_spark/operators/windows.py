"""§2.5 window functions.

Scale notes: every window here partitions by a key whose group sizes
are bounded (customer, user, status) — window functions sort within
partitions after ONE shuffle on the partition key. The anti-pattern
to avoid at 100 TB is a window with no partitionBy (single-task global
sort); none of these do that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from algebraicdb_spark.functions.rounding import pround
from algebraicdb_spark.plans.registry import register
from algebraicdb_spark.sources.catalog import load_tables


@register(
    "win_row_number_topn",
    oracle="""
    SELECT o_custkey, o_orderkey, floor(CAST(o_totalprice AS DOUBLE) * 10000 + 0.5) / 10000 AS totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
)
def win_row_number_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number (unique tie-break)."""
    o = load_tables(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            pround("o_totalprice").alias("totalprice"),
            "rn",
        )
    )


@register(
    "win_rank_dense_ntile",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           rank()  OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile,
           floor(CAST(percent_rank() OVER w AS DOUBLE) * 10000 + 0.5) / 10000 AS pct_rank,
           floor(CAST(cume_dist() OVER w AS DOUBLE) * 10000 + 0.5) / 10000 AS cume
    FROM orders
    WHERE o_orderkey % 20 = 0
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey DESC)
    """,
)
def win_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile / percent_rank / cume_dist in one window."""
    o = load_tables(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").desc()
    )
    return o.filter(F.col("o_orderkey") % 20 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        pround(F.percent_rank().over(w)).alias("pct_rank"),
        pround(F.cume_dist().over(w)).alias("cume"),
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           floor(CAST(value AS DOUBLE) * 10000 + 0.5) / 10000 AS value,
           floor(CAST(value - lag(value)  OVER w AS DOUBLE) * 10000 + 0.5) / 10000 AS delta_prev,
           floor(CAST(lead(value) OVER w - value AS DOUBLE) * 10000 + 0.5) / 10000 AS delta_next
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead offsets per user ordered by time (event_id tie-break)."""
    e = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    return e.select(
        "event_id",
        "user_id",
        pround("value").alias("value"),
        pround(F.col("value") - F.lag("value").over(w)).alias("delta_prev"),
        pround(F.lead("value").over(w) - F.col("value")).alias("delta_next"),
    )


@register(
    "win_running_sum_rows",
    oracle="""
    SELECT o_custkey, o_orderkey,
           floor(CAST(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) * 10000 + 0.5) / 10000 AS running_spend
    FROM orders
    WHERE o_custkey % 25 = 0
    """,
)
def win_running_sum_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS-frame running total per customer over order history."""
    o = load_tables(spark, sf_dir)["orders"]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.filter(F.col("o_custkey") % 25 == 0).select(
        "o_custkey",
        "o_orderkey",
        pround(F.sum("o_totalprice").over(w)).alias("running_spend"),
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey, floor(CAST(o_totalprice AS DOUBLE) * 10000 + 0.5) / 10000 AS totalprice,
           COUNT(*) OVER (
             PARTITION BY o_orderstatus ORDER BY o_totalprice
             RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING) AS n_similar
    FROM orders
    WHERE o_orderkey % 20 = 0
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: peers within ±1000 of each order's price.

    COUNT over a value-range frame is tie-safe (every equal price gets
    the same frame), so no synthetic tie-break is needed. Expressed in
    SQL because the Python ``rangeBetween`` API only takes integer
    offsets; the Catalyst plan is identical.
    """
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, floor(CAST(o_totalprice AS DOUBLE) * 10000 + 0.5) / 10000 AS totalprice,
               COUNT(*) OVER (
                 PARTITION BY o_orderstatus ORDER BY o_totalprice
                 RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING) AS n_similar
        FROM orders
        WHERE o_orderkey % 20 = 0
        """
    )


@register(
    "win_first_last",
    oracle="""
    SELECT DISTINCT user_id,
           CAST(ts AS DATE) AS day,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type)  OVER w AS last_type,
           first_value(event_id)   OVER w AS first_id
    FROM events
    WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE)
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last event per user-day with an explicit full frame
    (last_value over the default frame is a classic footgun)."""
    e = load_tables(spark, sf_dir)["events"]
    day = F.to_date("ts")
    w = (
        Window.partitionBy("user_id", day)
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "user_id",
        day.alias("day"),
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.first("event_id").over(w).alias("first_id"),
    ).distinct()


@register(
    "win_moving_median",
    oracle="""
    SELECT event_id, user_id,
           floor(CAST(median(value) OVER (
             PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
             * 10000 + 0.5) / 10000 AS med_5
    FROM events
    WHERE user_id % 25 = 0
    """,
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-row moving median of `value` per user — robust
    smoothing that a mean window can't give (single outliers don't
    move it). Spark evaluates the exact `percentile` aggregate over
    the sliding frame; DuckDB's `median` interpolates identically on
    the same frame, and the frame itself is deterministic under the
    (ts_ns, event_id) total order.

    Scale shape: one (user_id) shuffle; the frame holds ≤5 values per
    row so the per-row aggregate is O(frame), never O(partition). For
    very wide frames at 100 TB switch to approx_percentile over the
    frame (mergeable sketch) — same plan, bounded state.
    """
    e = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(-4, 0)
    )
    return e.filter(F.col("user_id") % 25 == 0).select(
        "event_id",
        "user_id",
        pround(F.expr("percentile(value, 0.5)").over(w)).alias("med_5"),
    )


@register(
    "win_percent_cume",
    # percent_rank = (rank-1)/(n-1) and cume_dist = peers_thru/n are
    # single IEEE divisions of exact integers, and both engines
    # implement exactly the SQL-standard formulas — deterministic
    # with no rounding as long as the ORDER BY is a total order.
    # Ties on price are deliberately kept (rank and peer-group
    # semantics are the point of these functions); the tie-break
    # columns only stabilize the emitted row identity.
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
           percent_rank() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS pct_rank,
           cume_dist() OVER (PARTITION BY l_returnflag
                             ORDER BY l_extendedprice) AS cume
    FROM lineitem
    WHERE l_orderkey % 20 = 0
    """,
)
def win_percent_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist per return-flag partition — the
    relative-standing window pair (completes the ranking family next
    to rank/dense_rank/ntile in win_rank_dense_ntile).

    Scale shape: one (l_returnflag) shuffle + in-partition sort
    shared by both functions (identical window spec ⇒ single Window
    physical operator). Low-cardinality partitions like returnflag
    are the worst case for window skew at 100 TB — the AQE-era fix
    is a higher-cardinality partition key or a two-pass rank
    (per-bucket rank + offset), which win_count_distinct_sliding
    demonstrates; here 3 partitions at fixture scale is the honest
    plan.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    return li.where(F.col("l_orderkey") % 20 == 0).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "win_nth_value",
    # nth_value under a total order; Spark's ignoreNulls=False default
    # matches DuckDB's. The frame must be the whole partition (ROWS
    # BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) on both
    # engines or row 3 is invisible until the frame reaches it.
    oracle="""
    SELECT user_id, event_id,
           nth_value(value, 3) OVER (
             PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS third_value,
           nth_value(event_type, 2) OVER (
             PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_type
    FROM events WHERE user_id % 25 = 0
    """,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over the full partition frame — positional access
    that first/last/lag can't express (the "second touchpoint" /
    "third transaction" analytics shape), completing the value-window
    family next to win_first_last.

    Scale shape: one (user_id) shuffle + sort shared by both
    functions; the unbounded frame is evaluated once per partition
    (Spark's UnboundedWindowFunctionFrame), not once per row.
    """
    e = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.where(F.col("user_id") % 25 == 0).select(
        "user_id",
        "event_id",
        F.nth_value("value", 3).over(w).alias("third_value"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
    )


@register(
    "win_time_range_frame",
    # INTERVAL-typed RANGE frames over a real TIMESTAMP ordering —
    # the SQL surface win_range_frame demonstrates on numerics,
    # exercised on time (trailing-hour event rate + value sum).
    oracle="""
    SELECT event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_hour,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
             AS sum_trailing_hour
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                 AND CURRENT ROW)
    """,
)
def win_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW over
    a TIMESTAMP ordering: each event's trailing-hour event count and
    value sum within its type — the rolling-rate window written the
    way an analyst writes it (interval literal, not epoch
    arithmetic; the µs-arithmetic twin is feature_pit_join's frame).

    The sum accumulates DECIMAL(18,4), so frame evaluation order
    can't drift the double. One event_type exchange + one sort; the
    frame itself is a sliding two-pointer inside the partition.
    """
    e = load_tables(spark, sf_dir)["events"]
    return spark.sql(
        """
        SELECT event_id,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_hour,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
                 AS sum_trailing_hour
        FROM {events}
        WINDOW w AS (PARTITION BY event_type ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                     AND CURRENT ROW)
        """,
        events=e,
    )


@register(
    "win_ignore_nulls",
    # IGNORE NULLS across the navigation family (lag / lead /
    # first_value-style nth) over a sparse column: only purchases
    # carry a value; every event sees its nearest non-null neighbors.
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us,
             CASE WHEN event_type = 'purchase' THEN value END AS pv
      FROM events
    )
    SELECT event_id,
           floor(CAST(lag(pv IGNORE NULLS) OVER w AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS prev_purchase,
           floor(CAST(lead(pv IGNORE NULLS) OVER w AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS next_purchase
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
    """,
)
def win_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG / LEAD … IGNORE NULLS over a sparse measure: each event
    sees the user's nearest prior and next purchase value, skipping
    the non-purchase rows between — the forward/backward-fill
    navigation surface (win_lag_lead's dense twin never skips).

    One user_id exchange + one sort serves both directions. Null
    skipping happens inside the window frame evaluation — no
    pre-filter + re-join of the sparse rows.
    """
    e = load_tables(spark, sf_dir)["events"]
    return spark.sql(
        """
        WITH ev AS (
          SELECT user_id, event_id, unix_micros(ts) AS t_us,
                 CASE WHEN event_type = 'purchase' THEN value END AS pv
          FROM {events}
        )
        SELECT event_id,
               floor(CAST(lag(pv) IGNORE NULLS OVER w AS DOUBLE)
                     * 10000 + 0.5) / 10000 AS prev_purchase,
               floor(CAST(lead(pv) IGNORE NULLS OVER w AS DOUBLE)
                     * 10000 + 0.5) / 10000 AS next_purchase
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
        """,
        events=e,
    )


@register(
    "win_exclude_current",
    # SQL-standard EXCLUDE CURRENT ROW frames don't exist in Spark or
    # DuckDB's default dialect — the portable form is frame-minus-
    # self arithmetic over exact cents: peer mean = (sum - x)/(n - 1).
    oracle="""
    WITH c AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  OVER w AS BIGINT) AS s
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey)
    )
    SELECT o_orderkey, o_custkey,
           floor((CAST(s - cents AS DOUBLE) / (n - 1) / 100.0)
                 * 10000 + 0.5) / 10000 AS peer_avg_price,
           CAST(CASE WHEN cents * (n - 1) > (s - cents) THEN 1 ELSE 0 END
                AS INT) AS above_peers
    FROM c WHERE n > 1
    """,
)
def win_exclude_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCLUDE CURRENT ROW emulation: each order compared against the
    mean of the customer's OTHER orders — the peer-comparison frame
    (fraud scoring, price-outlier detection) that naive full-frame
    averages contaminate with the row's own value.

    Portable device: one unbounded window per key collects exact
    integer cents (sum, count); the peer mean is (sum − self)/(n−1)
    and the above-peers flag is the cross-multiplied INTEGER
    comparison cents·(n−1) > (sum − cents) — no division ever decides
    the boolean, so the flag is exact on any engine. One o_custkey
    exchange, no self-join.
    """
    o = load_tables(spark, sf_dir)["orders"]
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    w = Window.partitionBy("o_custkey")
    c = o.select(
        "o_orderkey",
        "o_custkey",
        cents.alias("cents"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum(cents).over(w).cast("bigint").alias("s"),
    ).where(F.col("n") > 1)
    peers = F.col("s") - F.col("cents")
    return c.select(
        "o_orderkey",
        "o_custkey",
        pround(
            peers.cast("double") / (F.col("n") - 1) / 100.0
        ).alias("peer_avg_price"),
        F.when(F.col("cents") * (F.col("n") - 1) > peers, 1)
        .otherwise(0)
        .cast("int")
        .alias("above_peers"),
    )


@register(
    "win_groups_frame",
    # GROUPS frame mode (SQL:2011): running sum over "the previous
    # peer GROUP and mine", peers = same order date. Neither Spark
    # nor DuckDB implements GROUPS frames (both raise), so BOTH sides
    # state it through peer-grain rewrites — deliberately DIFFERENT
    # ones: the oracle uses lag over the group grain (frame = own
    # group sum + previous group's), Spark uses a ROWS BETWEEN
    # 1 PRECEDING frame over the aggregated rows. Agreement pins that
    # both rewrites implement the same GROUPS semantics.
    oracle="""
    WITH per AS (
      SELECT o_orderstatus,
             CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT) AS day_s,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS g_cents
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderstatus, day_s, n_rows,
           CAST(g_cents + COALESCE(lag(g_cents) OVER
                  (PARTITION BY o_orderstatus ORDER BY day_s), 0)
                AS BIGINT) AS frame_cents
    FROM per
    """,
)
def win_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2011 GROUPS frame mode — 'this peer group and the previous
    one' — which neither Spark nor DuckDB implements natively
    (ROWS/RANGE only; both parsers raise on GROUPS). The lossless
    rewrite: a GROUPS frame is exactly a ROWS frame on the peer-group
    GRAIN, because every row of a peer group sees the same frame
    value. This plan aggregates to (status, day) and applies ROWS
    BETWEEN 1 PRECEDING AND CURRENT ROW there; the oracle derives the
    same value via lag over the group grain — two independent
    rewrites agreeing pins the semantics.

    Scale shape: the window runs on the AGGREGATED grain (days ×
    statuses), not raw orders — the rewrite is also the efficient
    form; a native GROUPS engine would sort raw rows instead.
    """
    o = load_tables(spark, sf_dir)["orders"]
    per = o.groupBy(
        "o_orderstatus",
        F.unix_timestamp(F.date_trunc("day", "o_orderdate")).alias("day_s"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("g_cents"),
    )
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("day_s")
        .rowsBetween(-1, 0)
    )
    return per.select(
        "o_orderstatus",
        "day_s",
        "n_rows",
        F.sum("g_cents").over(w).cast("bigint").alias("frame_cents"),
    )
