"""Window-function operators (SURVEY.md §2.2).

No reference counterpart (the reference has no windows); extended
surface. Scale notes: a window = one shuffle on partitionBy keys + a
per-partition sort. Every orderBy below carries a unique tie-breaker
key so results are deterministic across engines AND across Spark's own
partition-parallel execution. The running sum uses DECIMAL so the
incremental (Spark) vs segment-tree (DuckDB) accumulation orders can't
produce different float bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e2e_data_pipeline_spark.catalog import load_table
from e2e_data_pipeline_spark.operators.frame_cache import (
    events_daily,
    events_daily_by_type,
    lineitem_daily,
    orders_daily,
)
from e2e_data_pipeline_spark.operators.registry import dec_sum, register


@register(
    "win_rank",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS BIGINT) AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank per customer by price."""
    orders = load_table(spark, sf_dir, "orders")
    by_price = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    tiebroken = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.row_number().over(tiebroken).cast("long").alias("rn"),
        F.rank().over(by_price).cast("long").alias("rnk"),
        F.dense_rank().over(by_price).cast("long").alias("drnk"),
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           value - LAG(value) OVER w AS delta_prev,
           LEAD(value) OVER w AS next_value,
           CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS BIGINT) AS us_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead deltas per user ordered by event time."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(F.lag(F.col("ts")).over(w).cast("timestamp"))
    return ev.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta_prev"),
        F.lead("value").over(w).alias("next_value"),
        (ts_us - prev_us).alias("us_since_prev"),
    )


@register(
    "win_running",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spent,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS BIGINT) AS order_seq
    FROM orders
    """,
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer (ROWS frame, exact integer-cent sum).

    The running sum accumulates int64 cents (`ROUND(price*100)` is
    exact for 2dp prices) instead of overflow-checked decimals; the
    published double is cents/100.0 — one correctly-rounded division
    of an exact integer, bit-identical to the oracle's
    `SUM(DECIMAL(18,2)) :: DOUBLE` for any per-customer total below
    2^53 cents (per-customer running sums are bounded by the key
    grain at every scale). r10 interleaved A/B: 0.341 -> 0.311 s
    median; the win is the cheaper per-row add in the window loop.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        (
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .over(frame)
            .cast("double")
            / F.lit(100.0)
        ).alias("running_spent"),
        F.row_number().over(w).cast("long").alias("order_seq"),
    )


@register(
    "win_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS BIGINT) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the scale-safe top-k (per-group
    window; no global sort; Spark pushes a per-partition rank limit)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT event_id,
           user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_last_hour
    FROM events
    WINDOW w AS (
        PARTITION BY user_id
        ORDER BY CAST(epoch_us(ts) // 1000000 AS BIGINT)
        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
    )
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per-user trailing-hour count and
    sum at every event.

    RANGE frames bound by *value distance* (here epoch seconds), not
    row count — the correct semantics for irregular event streams,
    where ROWS BETWEEN N would cover a variable time span. One shuffle
    on user_id; the frame scan is linear per partition (Spark keeps a
    sliding aggregate, not a re-scan per row).
    """
    ev = load_table(spark, sf_dir, "events")
    # NTZ has no direct long cast; via TIMESTAMP in the UTC-pinned
    # session this truncates to whole seconds. The oracle must floor
    # the same way (epoch_us // 1e6): DuckDB's CAST(epoch(ts) AS
    # BIGINT) ROUNDS the fractional second, shifting RANGE-frame
    # membership at exact hour boundaries (first seen at sf0.1).
    epoch_s = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy(epoch_s).rangeBetween(-3600, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias(
            "sum_last_hour"
        ),
    )


@register(
    "win_first_last_nth",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           CAST(first_value(o_orderkey) OVER w AS BIGINT) AS first_order,
           CAST(last_value(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS BIGINT) AS last_order,
           CAST(nth_value(o_orderkey, 2) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS BIGINT) AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value navigation.

    The trap this query pins: last_value over the DEFAULT frame
    (unbounded-preceding → current-row) is just "current row" — the
    correct lifetime-last needs an explicit unbounded-following frame.
    Both engines share that default, so the oracle also documents the
    required frame. One shuffle serves all three functions.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(base).alias("first_order"),
        F.last("o_orderkey").over(full).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(full).alias("second_order"),
    )


@register(
    "win_distinct_running",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           strftime(l_shipdate, '%Y-%m-%d') AS shipdate,
           CAST(SUM(first_seen) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS distinct_parts_so_far
    FROM (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
               CASE WHEN ROW_NUMBER() OVER (
                   PARTITION BY l_suppkey, l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
               ) = 1 THEN 1 ELSE 0 END AS first_seen
        FROM lineitem
        WHERE l_suppkey < 10
    ) flagged
    """,
)
def win_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — an aggregate Spark (and
    most engines) cannot express directly as ``count(distinct) OVER``.

    Two-pass window formulation: (1) flag the first occurrence of each
    (supplier, part) pair with a row_number over the pair, (2) running
    sum of the flags per supplier. Two shuffles — (supplier, part) then
    (supplier) — which is the minimum for this formulation, and each is
    linear in the input. No per-row set materialization, which is what
    a naive collect_set-over-window would do (O(n·k) memory per
    partition)."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_suppkey") < 10)
    order = [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")]
    first_seen = F.when(
        F.row_number()
        .over(Window.partitionBy("l_suppkey", "l_partkey").orderBy(*order))
        == 1,
        1,
    ).otherwise(0)
    running = (
        Window.partitionBy("l_suppkey")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        li.withColumn("first_seen", first_seen)
        .withColumn(
            "distinct_parts_so_far",
            F.sum("first_seen").over(running).cast("long"),
        )
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("shipdate"),
            "distinct_parts_so_far",
        )
    )


@register(
    "win_zscore",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           round(
             (l_extendedprice
              - (CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w))
             / sqrt(greatest(
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_extendedprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w
                 - (CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
                    / COUNT(*) OVER w)
                 * (CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
                    / COUNT(*) OVER w), 0.0)),
             6) AS price_z
    FROM lineitem
    WHERE l_orderkey % 20 = 0
    WINDOW w AS (PARTITION BY l_returnflag)
    """,
)
def win_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization — the feature-scaling pattern
    for ML pipelines, as an unbounded window so each row keeps its
    identity (no join back to a stats table).

    The moments (Σx, Σx², n) accumulate in DECIMAL over the window —
    exact, order-insensitive — and the z closed form is evaluated on
    doubles with the IDENTICAL expression tree in the oracle, so both
    engines round the same value (same construction as agg_stats,
    windowed). The variance clamps at 0 (``greatest``) so a constant
    partition yields NULL in both engines (sqrt(0) → x/0 → NULL;
    DuckDB would otherwise *raise* on a -1ulp negative variance). One
    shuffle on the group key; the unbounded frame means Spark computes
    each partition's aggregate once, not per-row."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 20 == 0)
    w = Window.partitionBy("l_returnflag")
    price = F.col("l_extendedprice")
    pdec = price.cast("decimal(18,2)")
    n = F.count("*").over(w)
    s = F.sum(pdec).over(w).cast("double")
    ss = F.sum(pdec * pdec).over(w).cast("double")
    mean = s / n
    z = F.round(
        (price - mean) / F.sqrt(F.greatest(ss / n - mean * mean, F.lit(0.0))), 6
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        z.alias("price_z"),
    )


@register(
    "win_moving_median",
    oracle="""
    WITH fr AS (
        SELECT user_id, event_id,
               list_sort(list(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
        FROM events
        WHERE user_id < 20 AND value IS NOT NULL
    )
    SELECT user_id, event_id,
           (arr[(len(arr)+1)//2] + arr[len(arr)//2+1]) / 2 AS mov_med
    FROM fr
    """,
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving median over a trailing 7-row frame per user — the
    robust-smoothing primitive (outlier-resistant trend) that moving
    averages can't provide. No engine exposes a median window over a
    ROWS frame directly (Spark rejects ``median() OVER (... ROWS)``),
    so both sides build the SAME order statistic explicitly: sorted
    frame array, then the identical two-middle-element formula — for
    odd frames the two indices coincide and (x+x)/2 == x exactly, so
    no interpolation noise. The index arithmetic floors on BOTH
    engines (Spark's int cast truncates; the oracle uses ``//`` —
    DuckDB's ``CAST(4.5 AS INT)`` would round half away from zero).
    ``value IS NOT NULL`` is pinned on both sides because Spark's
    collect_list drops NULLs while DuckDB's list() keeps them.

    Scale: one shuffle on user_id + per-partition sort (the same cost
    as any window); the k=7 frame sort is O(k log k) per row — a
    constant — and the frame array never leaves the executor.
    The user_id bound caps oracle output; the plan is scale-free.
    """
    ev = load_table(spark, sf_dir, "events").where(
        (F.col("user_id") < 20) & F.col("value").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    m = F.size(arr)
    med = (
        F.element_at(arr, ((m + 1) / 2).cast("int"))
        + F.element_at(arr, (m / 2 + 1).cast("int"))
    ) / F.lit(2)
    return ev.select("user_id", "event_id", med.alias("mov_med"))


@register(
    "win_ewma",
    oracle="""
    WITH fr AS (
        SELECT user_id, event_id, value,
               list(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS arr
        FROM events
        WHERE user_id < 20 AND value IS NOT NULL
    )
    SELECT user_id, event_id, value,
           list_reduce(arr, (acc, x) -> x * 0.25 + acc * 0.75) AS ewma
    FROM fr
    """,
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over a trailing 8-row
    frame per user (alpha=0.25) — the recency-weighted smoothing
    kernel next to win_moving_median's robust one. No engine has an
    EWMA window aggregate; both sides collect the ordered frame and
    run the IDENTICAL left fold ``acc*(1-a) + x*a`` seeded with the
    oldest frame element (DuckDB's list_reduce seeds from the first
    element; Spark's ``aggregate`` replays that exactly with
    element_at(arr,1) as the init and the tail as input). Fold order
    is the frame's sort order on both engines and every step is the
    same double expression, so results are bit-identical.

    Scale: identical shape to win_moving_median — one shuffle + sort
    on (user_id, ts), O(k) fold per row, frame array never leaves the
    executor. A custom smoothing kernel lands as a higher-order
    lambda, not a UDF: still whole-stage-codegen JVM code.
    """
    ev = load_table(spark, sf_dir, "events").where(
        (F.col("user_id") < 20) & F.col("value").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, Window.currentRow)
    )
    fr = ev.select(
        "user_id", "event_id", "value", F.collect_list("value").over(w).alias("arr")
    )
    return fr.select(
        "user_id",
        "event_id",
        "value",
        F.expr(
            "aggregate(slice(arr, 2, size(arr) - 1),"
            " CAST(element_at(arr, 1) AS DOUBLE),"
            " (acc, x) -> x * 0.25 + acc * 0.75)"
        ).alias("ewma"),
    )


@register(
    "win_yoy_growth",
    oracle="""
    WITH yearly AS (
        SELECT c.c_mktsegment,
               CAST(year(o.o_orderdate) AS BIGINT) AS yr,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    )
    SELECT c_mktsegment, yr, revenue,
           lag(revenue) OVER w AS prev_revenue,
           (revenue - lag(revenue) OVER w) / lag(revenue) OVER w AS yoy_growth
    FROM yearly
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY yr)
    """,
)
def win_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth per market segment — the standard BI
    report shape: aggregate to (segment, year), then lag + ratio over
    the TINY aggregate (|segments| x |years| rows), never a self-join
    of the fact table against itself shifted by a year.

    One fact shuffle for the groupBy (customer dim broadcasts), one
    trivially small window. The growth ratio is O(1) double arithmetic
    on decimal-exact revenues with the identical expression tree on
    both engines. First year per segment yields NULL growth — kept, as
    report consumers expect.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    yearly = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", F.year("o_orderdate").cast("long").alias("yr"))
        .agg(dec_sum("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("yr")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "c_mktsegment",
        "yr",
        "revenue",
        prev.alias("prev_revenue"),
        ((F.col("revenue") - prev) / prev).alias("yoy_growth"),
    )


@register(
    "win_drawdown",
    oracle="""
    WITH r AS (
        SELECT user_id, ts, event_id,
               SUM(CAST(value AS DECIMAL(18,2))) OVER w AS running
        FROM events
        WHERE value IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    d AS (
        SELECT user_id, running,
               MAX(running) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS peak
        FROM r
    )
    SELECT user_id,
           CAST(MAX(peak - running) AS DOUBLE) AS max_drawdown,
           CAST(MAX(peak) AS DOUBLE) AS peak_value
    FROM d
    GROUP BY user_id
    """,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user: largest peak-to-trough drop of the
    running value total — the risk/teardown metric that needs two
    chained cumulative windows (running sum, then running max of it)
    before a plain aggregate. Both windows and the final groupBy share
    the user_id partitioning, so the whole thing is ONE shuffle + one
    sort. All arithmetic stays in DECIMAL until the final O(1) cast
    (values far below the 2^53 wide-decimal hazard), so the hash is
    exact with no rounding epsilon.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = ev.select(
        "user_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).alias("running"),
        F.max(F.sum(F.col("value").cast("decimal(18,2)")).over(w)).over(w).alias(
            "peak"
        ),
    )
    return r.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("running")).cast("double").alias("max_drawdown"),
        F.max("peak").cast("double").alias("peak_value"),
    )


@register(
    "win_rank_shift",
    oracle="""
    WITH rev AS (
        SELECT l.l_suppkey,
               CAST(year(o.o_orderdate) AS BIGINT) AS yr,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE year(o.o_orderdate) IN (1996, 1997)
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT l_suppkey, yr, cents,
               CAST(row_number() OVER (PARTITION BY yr
                                       ORDER BY cents DESC, l_suppkey)
                    AS BIGINT) AS rnk
        FROM rev
    )
    SELECT a.l_suppkey,
           a.rnk AS rank_1996,
           b.rnk AS rank_1997,
           a.rnk - b.rnk AS rank_gain
    FROM ranked a
    JOIN ranked b ON b.l_suppkey = a.l_suppkey AND b.yr = 1997
    WHERE a.yr = 1996 AND (a.rnk <= 10 OR b.rnk <= 10)
    """,
)
def win_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard movement: supplier revenue rank in 1996 vs 1997 and
    the rank gain, for suppliers ACTIVE IN BOTH years who were top-10
    in either — the period-over-period ranking report (and the general
    two-snapshot rank-diff pattern: search results, trending items,
    sales boards). The inner join is deliberate: a rank delta needs
    both endpoints, so single-year suppliers (no rank to diff against)
    are out of scope; an entries/exits report would use a full outer
    join with null-safe rank columns instead.

    One fact aggregation covers both periods (year is just a group
    key), one rank window per period partition, and the self-join runs
    on the tiny ranked aggregate. Revenue ranks are exact integer
    cents with supplier-key tie-breaks, so rank boundaries are
    engine-identical.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .where(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            "l_suppkey", F.year("o_orderdate").cast("long").alias("yr")
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("yr").orderBy(
        F.desc("cents"), F.col("l_suppkey").asc()
    )
    ranked = rev.select(
        "l_suppkey", "yr", F.row_number().over(w).cast("long").alias("rnk")
    )
    a = ranked.where(F.col("yr") == 1996).alias("a")
    b = ranked.where(F.col("yr") == 1997).alias("b")
    return (
        a.join(b, F.col("b.l_suppkey") == F.col("a.l_suppkey"))
        .where((F.col("a.rnk") <= 10) | (F.col("b.rnk") <= 10))
        .select(
            F.col("a.l_suppkey").alias("l_suppkey"),
            F.col("a.rnk").alias("rank_1996"),
            F.col("b.rnk").alias("rank_1997"),
            (F.col("a.rnk") - F.col("b.rnk")).alias("rank_gain"),
        )
    )


@register(
    "win_bollinger",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS usd
        FROM orders GROUP BY 1
    ),
    roll AS (
        SELECT d, usd,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(usd) OVER w AS BIGINT) AS s,
               CAST(SUM(usd * usd) OVER w AS BIGINT) AS s2
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(usd AS DOUBLE) AS revenue_usd,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS ma7,
           sqrt(GREATEST(
               CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE),
               0.0)) / CAST(n AS DOUBLE) AS sigma7,
           CASE WHEN CAST(usd AS DOUBLE)
                     > CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                       + 2.0 * sqrt(GREATEST(
                             CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE),
                             0.0)) / CAST(n AS DOUBLE)
                THEN 1 ELSE 0 END AS breakout_high
    FROM roll WHERE n = 7
    """,
)
def win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (7-day moving mean ± 2σ) over daily revenue
    with breakout flags — the rolling-volatility envelope.

    Sufficient statistics stay int64 (whole-dollar daily revenue,
    its square, counts) inside the window, so the rolling sums are
    exact under any execution; mean/σ/flag are then a fixed per-row
    scalar chain — population σ via n·Σx² − (Σx)², guarded by
    GREATEST(·,0) against negative-zero cancellation, sqrt
    IEEE-exact. Dollar (not cent) quantization is deliberate: daily
    cents² overflowed int64 at sf0.1, while dollars² keep ~100×
    headroom beyond that (caught by the cross-SF sweep — magnitude
    budgets must be sized for the LARGEST fixture, not the gate's).
    Warm-up rows (n<7) drop on both sides so every band is a full
    window. One date-ordered window over the tiny daily frame.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("usd"))
    w = Window.orderBy("d").rowsBetween(-6, 0)
    roll = daily.select(
        "d",
        "usd",
        F.count("*").over(w).alias("n"),
        F.sum("usd").over(w).alias("s"),
        F.sum(F.col("usd") * F.col("usd")).over(w).alias("s2"),
    ).where(F.col("n") == 7)
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    s2d = F.col("s2").cast("double")
    var_scaled = F.greatest(nd * s2d - sd * sd, F.lit(0.0))
    ma = sd / nd
    sigma = F.sqrt(var_scaled) / nd
    return roll.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("usd").cast("double").alias("revenue_usd"),
        ma.alias("ma7"),
        sigma.alias("sigma7"),
        F.when(F.col("usd").cast("double") > ma + F.lit(2.0) * sigma, 1)
        .otherwise(0)
        .alias("breakout_high"),
    )


@register(
    "win_rolling_corr",
    oracle="""
    WITH rev AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(ROUND(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    act AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    joined AS (
        SELECT r.d, r.x, a.y FROM rev r JOIN act a ON a.d = r.d
    ),
    roll AS (
        SELECT d, x, y,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(x) OVER w AS BIGINT) AS sx,
               CAST(SUM(y) OVER w AS BIGINT) AS sy,
               CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
               CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
               CAST(SUM(y * y) OVER w AS BIGINT) AS syy
        FROM joined
        WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS corr7
    FROM roll WHERE n = 7
    """,
)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling Pearson correlation between daily purchase
    revenue and daily event activity — the co-movement monitor for
    metric-vs-metric drift.

    All five sufficient statistics are exact int64 window sums
    (revenue cents ≤ ~5e7/day, x·y products well under 2^63 at this
    grain), so the correlation is a fixed per-row scalar chain over
    exact operands — written operation-for-operation identically in
    the oracle. Day pairs missing from either series drop at the
    inner join; warm-up rows (n<7) drop on both sides.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date").alias("d")
    rev = ev.groupBy(day).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("x")
    )
    act = ev.groupBy(day).agg(F.count("*").alias("y"))
    joined = rev.join(act, "d")
    w = Window.orderBy("d").rowsBetween(-6, 0)
    roll = joined.select(
        "d",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    ).where(F.col("n") == 7)
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    corr = (nd * F.col("sxy").cast("double") - sx * sy) / F.sqrt(
        (nd * F.col("sxx").cast("double") - sx * sx)
        * (nd * F.col("syy").cast("double") - sy * sy)
    )
    return roll.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"), corr.alias("corr7")
    )


@register(
    "win_obv",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS px_cents,
               CAST(COUNT(*) AS BIGINT) AS vol
        FROM events GROUP BY 1
    ),
    signed AS (
        SELECT d, px_cents, vol,
               CASE WHEN px_cents > LAG(px_cents) OVER (ORDER BY d) THEN vol
                    WHEN px_cents < LAG(px_cents) OVER (ORDER BY d) THEN -vol
                    ELSE 0 END AS signed_vol
        FROM daily
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           px_cents, vol,
           CAST(SUM(signed_vol) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS obv
    FROM signed
    """,
)
def win_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume: running sum of volume signed by the daily
    price direction — the accumulation/distribution indicator,
    completing the trading-window family (bollinger, ewma, drawdown,
    moving median).

    Direction is an exact integer-cents comparison (never a float
    sign), so the cumulative sum is int64-deterministic. Two windows
    over the tiny daily frame share one ordering; the first day's
    direction is flat (LAG null → 0) on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("px_cents"),
        F.count("*").alias("vol"),
    )
    w = Window.orderBy("d")
    prev = F.lag("px_cents").over(w)
    signed = daily.withColumn(
        "signed_vol",
        F.when(F.col("px_cents") > prev, F.col("vol"))
        .when(F.col("px_cents") < prev, -F.col("vol"))
        .otherwise(F.lit(0)),
    )
    return signed.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "px_cents",
        "vol",
        F.sum("signed_vol")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("obv"),
    )


@register(
    "win_rolling_slope",
    oracle="""
    WITH daily AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY epoch_us(ts) // 86400000000
    ),
    win AS (
        SELECT day, cents,
               COUNT(*) OVER w AS n,
               SUM(day) OVER w AS sx,
               SUM(cents) OVER w AS sy,
               SUM(day * cents) OVER w AS sxy,
               SUM(day * day) OVER w AS sxx
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(n AS BIGINT) AS n,
           CAST(sy AS BIGINT) AS window_cents,
           CAST(CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE) AS DOUBLE)
               AS slope_cents_per_day
    FROM win
    """,
)
def win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling trend: least-squares slope of daily revenue over a
    trailing 30-day window — the "is this metric trending up" signal
    behind alerting and forecasting dashboards, usually approximated
    with a pair of moving averages; here it's the exact regression
    slope. All four moments (Σx, Σy, Σxy, Σx²) are int64 window sums
    over integer days × integer cents, so the only float operation is
    the final single division of two exact integers — one IEEE
    rounding, identical on both engines (the stats_ab_ztest recipe
    applied to window frames). NULLIF handles the 1-row warmup frame
    the same way on both sides.

    One window spec shared by all five aggregates ⇒ one sort, one
    pass. The frame runs over the DAILY series (one row per day), so
    state is 30 rows regardless of event volume; the heavy lifting is
    the day-grain pre-aggregate, which map-side combines.
    """
    daily = events_daily(spark, sf_dir).select("day", "cents")
    w = Window.orderBy("day").rowsBetween(-29, 0)
    win = daily.select(
        "day",
        "cents",
        F.count("*").over(w).alias("n"),
        F.sum("day").over(w).alias("sx"),
        F.sum("cents").over(w).alias("sy"),
        F.sum(F.col("day") * F.col("cents")).over(w).alias("sxy"),
        F.sum(F.col("day") * F.col("day")).over(w).alias("sxx"),
    )
    return win.select(
        F.col("day").cast("bigint").alias("day"),
        F.col("n").cast("bigint").alias("n"),
        F.col("sy").cast("bigint").alias("window_cents"),
        F.expr(
            "CAST(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE) AS DOUBLE)"
        ).alias("slope_cents_per_day"),
    )


@register(
    "win_clamped_balance",
    oracle="""
    WITH deltas AS (
        SELECT user_id,
               epoch_us(ts) // 1000000 AS sec,
               event_id,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(ROUND(value * 100, 0) AS BIGINT)
                    ELSE -CAST(ROUND(value * 100, 0) AS BIGINT) END AS d
        FROM events WHERE user_id < 20
              AND event_type IN ('purchase', 'view')
    ),
    sums AS (
        SELECT user_id, sec, event_id,
               SUM(d) OVER (PARTITION BY user_id ORDER BY sec, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        FROM deltas
    ),
    swept AS (
        SELECT user_id, sec, event_id, s,
               MIN(s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS min_s
        FROM sums
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_moves,
           CAST(MAX(s - least(0, min_s)) AS BIGINT) AS peak_balance,
           CAST(MAX(CASE WHEN rn = n THEN s - least(0, min_s) END) AS BIGINT)
               AS final_balance,
           CAST(SUM(CASE WHEN s - least(0, min_s) = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stockouts
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                       ORDER BY sec, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM swept
    ) GROUP BY user_id
    """,
)
def win_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running balance that can never go below zero (inventory level,
    prepaid credit, rate-limiter tokens) — a NON-associative
    recurrence B_t = max(0, B_{t-1} + d_t) that looks like it forces
    a sequential loop, solved instead with the Skorokhod reflection
    identity: B_t = S_t − min(0, min_{k≤t} S_k), turning the clamp
    into two stacked window aggregates over ONE shared sort order
    (running sum, then running min of the running sum). Purchases add
    integer cents, views drain them; the report carries peak, final,
    and stockout counts per user.

    This is the repo's showcase that "inherently sequential" state
    machines often have a prefix-scan algebra — the same insight
    behind win_drawdown and ts_changepoint_cusum. All integer cents;
    (sec, event_id) makes the order total so both engines sweep
    identically. One shuffle on user_id, everything else sorts within
    the partition.
    """
    ev = load_table(spark, sf_dir, "events").where(
        (F.col("user_id") < 20)
        & F.col("event_type").isin("purchase", "view")
    )
    deltas = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100, 0).cast("bigint"),
        )
        .otherwise(-F.round(F.col("value") * 100, 0).cast("bigint"))
        .alias("d"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sums = deltas.select(
        "user_id", "sec", "event_id", F.sum("d").over(w).alias("s")
    )
    swept = sums.select(
        "user_id", "sec", "event_id", "s", F.min("s").over(w).alias("min_s")
    )
    wo = Window.partitionBy("user_id").orderBy("sec", "event_id")
    wn = Window.partitionBy("user_id")
    bal = F.col("s") - F.least(F.lit(0), F.col("min_s"))
    ranked = swept.select(
        "user_id",
        bal.alias("b"),
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return ranked.groupBy("user_id").agg(
        F.count("*").alias("n_moves"),
        F.max("b").alias("peak_balance"),
        F.max(F.when(F.col("rn") == F.col("n"), F.col("b"))).alias(
            "final_balance"
        ),
        F.sum(F.when(F.col("b") == 0, 1).otherwise(0)).alias("n_stockouts"),
    )


@register(
    "win_skyline",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey,
               CAST(datediff('day', DATE '1970-01-01', o_orderdate)
                    AS BIGINT) AS day,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders WHERE o_custkey < 100
    ),
    swept AS (
        SELECT o_orderkey, day, cents,
               COALESCE(MAX(cents) OVER (ORDER BY day DESC, cents DESC,
                    o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), -1) AS best_newer
        FROM pts
    )
    SELECT o_orderkey, day, cents
    FROM swept WHERE cents > best_newer
    """,
)
def win_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): orders not dominated on
    (recency, value) — no other order is both newer AND at least as
    valuable — the multi-criteria shortlist query (best trade-offs,
    not a single weighted score). The classic quadratic dominance
    check collapses to ONE sorted sweep: order by day descending and
    keep rows whose value strictly exceeds the running max of
    everything newer (ties in day are ordered value-desc so an
    equal-value same-day twin is dominated deterministically).

    Exact integer day/cents; the 1-PRECEDING frame with a −1 sentinel
    admits the newest row identically on both engines. The customer
    filter bounds output; at scale the sweep is the standard
    sort-based skyline — one global sort, no pairwise joins.
    """
    pts = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") < 100)
        .select(
            "o_orderkey",
            F.datediff(
                F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
            )
            .cast("bigint")
            .alias("day"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
                "cents"
            ),
        )
    )
    w = Window.orderBy(
        F.desc("day"), F.desc("cents"), F.col("o_orderkey").asc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    swept = pts.select(
        "o_orderkey",
        "day",
        "cents",
        F.coalesce(F.max("cents").over(w), F.lit(-1)).alias("best_newer"),
    )
    return swept.where(F.col("cents") > F.col("best_newer")).select(
        "o_orderkey", "day", "cents"
    )


@register(
    "win_gap_to_leader",
    oracle="""
    WITH rev AS (
        SELECT c.c_nationkey, o.o_custkey,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_nationkey, o.o_custkey
    ),
    gapped AS (
        SELECT c_nationkey, o_custkey, cents,
               MAX(cents) OVER (PARTITION BY c_nationkey) - cents AS gap,
               row_number() OVER (PARTITION BY c_nationkey
                    ORDER BY cents DESC, o_custkey) AS rn
        FROM rev
    )
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           cents, CAST(gap AS BIGINT) AS gap_cents,
           CAST(rn AS BIGINT) AS rn
    FROM gapped WHERE rn <= 3
    """,
)
def win_gap_to_leader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-to-leader leaderboard: each nation's top-3 customers with
    their exact-cents distance to the #1 spot — the competitive-gap
    framing (how far behind is second place?) that plain rankings
    hide, used in sales-league and marketplace-seller dashboards.
    One partition-max window and one rank window sharing the
    partition key; the leader's own gap is zero by construction, a
    free sanity row per nation.

    Customer-grain aggregate (dims broadcast) then one shuffle on
    nation for both windows.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            ).alias("cents")
        )
    )
    wmax = Window.partitionBy("c_nationkey")
    wrank = Window.partitionBy("c_nationkey").orderBy(
        F.desc("cents"), "o_custkey"
    )
    return (
        rev.select(
            F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
            F.col("o_custkey").cast("bigint").alias("o_custkey"),
            "cents",
            (F.max("cents").over(wmax) - F.col("cents"))
            .cast("bigint")
            .alias("gap_cents"),
            F.row_number().over(wrank).cast("bigint").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@register(
    "win_rsi",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS usd
        FROM orders GROUP BY 1
    ),
    delta AS (
        SELECT d, usd,
               usd - lag(usd) OVER (ORDER BY d) AS chg
        FROM daily
    ),
    gl AS (
        SELECT d, usd,
               CAST(SUM(CASE WHEN chg > 0 THEN chg ELSE 0 END) OVER w
                    AS BIGINT) AS gains,
               CAST(SUM(CASE WHEN chg < 0 THEN -chg ELSE 0 END) OVER w
                    AS BIGINT) AS losses,
               CAST(COUNT(chg) OVER w AS BIGINT) AS n
        FROM delta
        WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, usd, gains, losses,
           CASE WHEN gains + losses = 0 THEN 50.0
                ELSE 100.0 * CAST(gains AS DOUBLE)
                     / CAST(gains + losses AS DOUBLE) END AS rsi14
    FROM gl WHERE n = 14
    """,
)
def win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day RSI (relative strength index, SMA flavor) over daily
    revenue: up-moves vs down-moves as EXACT integer dollar sums
    inside the trailing frame, then RSI = 100·gains/(gains+losses) —
    a single division of int64s, bit-portable (one correctly-rounded
    op). Flat windows pin RSI to the conventional 50. Warm-up rows
    (fewer than 14 observed deltas) drop on both sides.

    Scale: same shape as win_bollinger — the window runs over the
    day-grain reducer (rows = days, not orders), so the unpartitioned
    sort is calendar-bounded; the fact table only pays one partial
    aggregation.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("usd"))
    wl = Window.orderBy("d")
    delta = daily.withColumn("chg", F.col("usd") - F.lag("usd").over(wl))
    w = Window.orderBy("d").rowsBetween(-13, 0)
    gl = delta.select(
        "d",
        "usd",
        F.sum(
            F.when(F.col("chg") > 0, F.col("chg")).otherwise(F.lit(0))
        ).over(w).alias("gains"),
        F.sum(
            F.when(F.col("chg") < 0, -F.col("chg")).otherwise(F.lit(0))
        ).over(w).alias("losses"),
        F.count("chg").over(w).alias("n"),
    ).where(F.col("n") == 14)
    tot = F.col("gains") + F.col("losses")
    return gl.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "usd",
        "gains",
        "losses",
        F.when(tot == 0, F.lit(50.0))
        .otherwise(
            F.lit(100.0) * F.col("gains").cast("double") / tot.cast("double")
        )
        .alias("rsi14"),
    )


@register(
    "win_macd",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               CAST(CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT)
                    AS DOUBLE) AS usd
        FROM orders GROUP BY 1
    ),
    fr AS (
        SELECT d, usd,
               list(usd) OVER w AS arr,
               CAST(COUNT(*) OVER w AS BIGINT) AS n
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
    ),
    ema AS (
        SELECT d, usd,
               list_reduce(arr, (acc, x) ->
                   x * (CAST(2.0 AS DOUBLE) / 13.0)
                   + acc * (CAST(1.0 AS DOUBLE)
                            - CAST(2.0 AS DOUBLE) / 13.0)) AS ema12,
               list_reduce(arr, (acc, x) ->
                   x * (CAST(2.0 AS DOUBLE) / 27.0)
                   + acc * (CAST(1.0 AS DOUBLE)
                            - CAST(2.0 AS DOUBLE) / 27.0)) AS ema26
        FROM fr WHERE n = 26
    ),
    macd AS (
        SELECT d, usd, ema12, ema26, ema12 - ema26 AS macd,
               list(ema12 - ema26) OVER w9 AS marr,
               CAST(COUNT(*) OVER w9 AS BIGINT) AS n9
        FROM ema
        WINDOW w9 AS (ORDER BY d ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, usd, macd,
           list_reduce(marr, (acc, x) -> x * CAST(0.2 AS DOUBLE)
               + acc * CAST(0.8 AS DOUBLE)) AS signal9,
           CASE WHEN macd > list_reduce(marr,
                    (acc, x) -> x * CAST(0.2 AS DOUBLE)
                        + acc * CAST(0.8 AS DOUBLE))
                THEN 1 ELSE 0 END AS bullish
    FROM macd WHERE n9 = 9
    """,
)
def win_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD (12/26 EMA spread) with a 9-day signal line over daily
    revenue — the layered-EMA indicator. No engine has an EMA window
    aggregate, so both sides fold the ordered trailing frame with the
    IDENTICAL left-to-right recurrence (the win_ewma construction,
    seeded from the oldest frame element): every step is the same
    double expression in the same order, hence bit-identical results.
    The signal line is a SECOND fold over the macd series itself —
    windows over window-computed columns layer through a projection,
    exactly like DuckDB requires (no nested window calls).

    Scale: day-grain frames; the 26-element arrays live per-row
    inside the executor, never shuffled.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("long"))
        .cast("double")
        .alias("usd")
    )
    w = Window.orderBy("d").rowsBetween(-25, 0)
    fr = daily.select(
        "d",
        "usd",
        F.collect_list("usd").over(w).alias("arr"),
        F.count("*").over(w).alias("n"),
    ).where(F.col("n") == 26)

    def _ema(arr: str, alpha: str):
        return F.expr(
            f"aggregate(slice({arr}, 2, size({arr}) - 1),"
            f" CAST(element_at({arr}, 1) AS DOUBLE),"
            f" (acc, x) -> x * ({alpha}) + acc * (1.0 - ({alpha})))"
        )

    ema = fr.select(
        "d",
        "usd",
        (
            _ema("arr", "CAST(2.0 AS DOUBLE) / 13.0")
            - _ema("arr", "CAST(2.0 AS DOUBLE) / 27.0")
        ).alias("macd"),
    )
    w9 = Window.orderBy("d").rowsBetween(-8, 0)
    macd = ema.select(
        "d",
        "usd",
        "macd",
        F.collect_list("macd").over(w9).alias("marr"),
        F.count("*").over(w9).alias("n9"),
    ).where(F.col("n9") == 9)
    signal = F.expr(
        "aggregate(slice(marr, 2, size(marr) - 1),"
        " CAST(element_at(marr, 1) AS DOUBLE),"
        " (acc, x) -> x * CAST(0.2 AS DOUBLE) + acc * CAST(0.8 AS DOUBLE))"
    )
    return macd.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "usd",
        "macd",
        signal.alias("signal9"),
        F.when(F.col("macd") > signal, 1).otherwise(0).alias("bullish"),
    )


@register(
    "win_atr",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS hi,
               CAST(MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS lo,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    // COUNT(*) AS BIGINT) AS close
        FROM orders GROUP BY 1
    ),
    tr AS (
        SELECT d, hi, lo,
               GREATEST(hi - lo,
                        abs(hi - lag(close) OVER (ORDER BY d)),
                        abs(lo - lag(close) OVER (ORDER BY d))) AS trange
        FROM daily
    ),
    roll AS (
        SELECT d, hi, lo, trange,
               CAST(SUM(trange) OVER w AS BIGINT) AS s,
               CAST(COUNT(trange) OVER w AS BIGINT) AS n
        FROM tr
        WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, hi, lo, trange,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS atr14_usd
    FROM roll WHERE n = 14
    """,
)
def win_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day ATR (average true range) over a synthesized daily
    hi/lo/close bar: true range = greatest(hi-lo, |hi-prev_close|,
    |lo-prev_close|) — the gap-aware volatility measure. Everything
    up to the final scalar stays int64 cents (close is the integer
    mean, floor-divided identically on both engines for positive
    sums), so window sums are exact; the ATR is then division by n
    then by 100 — a fixed two-step double chain, portable.

    Scale: day-grain; the only fact-table work is the partial
    min/max/sum aggregation.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(
        F.max(cents).alias("hi"),
        F.min(cents).alias("lo"),
        F.expr(
            "CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))"
            " div COUNT(*) AS BIGINT)"
        ).alias("close"),
    )
    wl = Window.orderBy("d")
    prev_close = F.lag("close").over(wl)
    tr = daily.select(
        "d",
        "hi",
        "lo",
        F.greatest(
            F.col("hi") - F.col("lo"),
            F.abs(F.col("hi") - prev_close),
            F.abs(F.col("lo") - prev_close),
        ).alias("trange"),
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    roll = tr.select(
        "d",
        "hi",
        "lo",
        "trange",
        F.sum("trange").over(w).alias("s"),
        F.count("trange").over(w).alias("n"),
    ).where(F.col("n") == 14)
    return roll.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "hi",
        "lo",
        "trange",
        (
            F.col("s").cast("double") / F.col("n").cast("double") / F.lit(100.0)
        ).alias("atr14_usd"),
    )


@register(
    "win_donchian",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS hi,
               CAST(MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS lo,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    // COUNT(*) AS BIGINT) AS close
        FROM orders GROUP BY 1
    ),
    chan AS (
        SELECT d, close,
               CAST(MAX(hi) OVER w AS BIGINT) AS upper_c,
               CAST(MIN(lo) OVER w AS BIGINT) AS lower_c,
               CAST(COUNT(*) OVER w AS BIGINT) AS n
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           close, upper_c, lower_c,
           CAST((upper_c + lower_c - ((upper_c + lower_c) % 2 + 2) % 2)
                // 2 AS BIGINT) AS mid_c,
           CASE WHEN close > upper_c THEN 1
                WHEN close < lower_c THEN -1 ELSE 0 END AS breakout
    FROM chan WHERE n = 20
    ORDER BY day
    """,
)
def win_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-day Donchian channel with breakout signal: upper = rolling
    max of the PRIOR 20 highs (current bar excluded, the classic
    turtle-trader rule), lower = rolling min, mid = floor-mean, and
    breakout = sign of the close vs the channel. All channel math is
    int64 cents (exact); the mid uses the portable floor-div identity
    ``(a - pmod(a, 2)) div 2`` so negative-safe semantics match
    DuckDB's flooring ``//``.

    Scale: day-grain after a partial min/max/sum aggregation — the
    window frame is calendar-bounded, never fact-row-bounded.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(
        F.max(cents).alias("hi"),
        F.min(cents).alias("lo"),
        F.expr(
            "CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))"
            " div COUNT(*) AS BIGINT)"
        ).alias("close"),
    )
    w = Window.orderBy("d").rowsBetween(-20, -1)
    chan = daily.select(
        "d",
        "close",
        F.max("hi").over(w).alias("upper_c"),
        F.min("lo").over(w).alias("lower_c"),
        F.count("*").over(w).alias("n"),
    ).where(F.col("n") == 20)
    tot = F.col("upper_c") + F.col("lower_c")
    return chan.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "close",
        "upper_c",
        "lower_c",
        ((tot - F.pmod(tot, F.lit(2))) / F.lit(2)).cast("long").alias("mid_c"),
        F.when(F.col("close") > F.col("upper_c"), 1)
        .when(F.col("close") < F.col("lower_c"), -1)
        .otherwise(0)
        .alias("breakout"),
    ).orderBy("day")


@register(
    "win_stochastic_osc",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS hi,
               CAST(MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS lo,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    // COUNT(*) AS BIGINT) AS close
        FROM orders GROUP BY 1
    ),
    rng AS (
        SELECT d, close,
               CAST(MAX(hi) OVER w AS BIGINT) AS hh,
               CAST(MIN(lo) OVER w AS BIGINT) AS ll,
               CAST(COUNT(*) OVER w AS BIGINT) AS n
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    k AS (
        SELECT d, close, hh, ll,
               CAST((close - ll) * 10000 // NULLIF(hh - ll, 0) AS BIGINT)
                   AS k_bp
        FROM rng WHERE n = 14
    ),
    kd AS (
        SELECT d, close, k_bp,
               CAST(SUM(k_bp) OVER v AS BIGINT) AS s3,
               CAST(COUNT(k_bp) OVER v AS BIGINT) AS n3
        FROM k
        WINDOW v AS (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, close, k_bp,
           CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE) / 100.0 AS d_pct
    FROM kd WHERE n3 = 3 AND k_bp IS NOT NULL
    ORDER BY day
    """,
)
def win_stochastic_osc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator %K/%D over 14-day synthesized bars. %K is
    kept as INTEGER basis points — ``(close - ll) * 10000 div
    (hh - ll)`` with all-positive operands, where Spark's truncating
    ``div`` equals DuckDB's flooring ``//`` — so the 3-day %D smoothing
    sums exact integers; the only float op is the final division pair
    (fixed order, portable bits).

    Scale: day-grain; fact-table work is one partial aggregation.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(
        F.max(cents).alias("hi"),
        F.min(cents).alias("lo"),
        F.expr(
            "CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))"
            " div COUNT(*) AS BIGINT)"
        ).alias("close"),
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    rng = daily.select(
        "d",
        "close",
        F.max("hi").over(w).alias("hh"),
        F.min("lo").over(w).alias("ll"),
        F.count("*").over(w).alias("n"),
    ).where(F.col("n") == 14)
    k = rng.select(
        "d",
        "close",
        F.expr(
            "CAST((close - ll) * 10000 div NULLIF(hh - ll, 0) AS BIGINT)"
        ).alias("k_bp"),
    )
    v = Window.orderBy("d").rowsBetween(-2, 0)
    kd = (
        k.select(
            "d",
            "close",
            "k_bp",
            F.sum("k_bp").over(v).alias("s3"),
            F.count("k_bp").over(v).alias("n3"),
        )
        .where((F.col("n3") == 3) & F.col("k_bp").isNotNull())
    )
    return kd.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "close",
        "k_bp",
        (F.col("s3").cast("double") / F.col("n3").cast("double") / F.lit(100.0)).alias(
            "d_pct"
        ),
    ).orderBy("day")


@register(
    "win_aroon",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS hi,
               CAST(MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS lo
        FROM orders GROUP BY 1
    ),
    seq AS (
        SELECT d, hi, lo,
               CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS rn
        FROM daily
    ),
    arg AS (
        SELECT d, rn,
               CAST(MAX(hi * 100000 + rn) OVER w AS BIGINT) AS hi_arg,
               CAST(MIN(lo * 100000 + (100000 - rn)) OVER w AS BIGINT)
                   AS lo_arg,
               CAST(COUNT(*) OVER w AS BIGINT) AS n
        FROM seq
        WINDOW w AS (ORDER BY d ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(4 * (25 - (rn - hi_arg % 100000)) AS BIGINT) AS aroon_up,
           CAST(4 * (25 - (rn - (100000 - lo_arg % 100000))) AS BIGINT)
               AS aroon_down
    FROM arg WHERE n = 25
    ORDER BY day
    """,
)
def win_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25-day Aroon indicator: 100 * (25 - days since the 25-day
    high) / 25 (and the low twin). days-since is recovered by an
    integer argmax trick — ``max(hi * 100000 + rn)`` packs the row
    number into the low digits so ties break toward the most RECENT
    bar (the standard Aroon convention), and ``% 100000`` unpacks it;
    the low side packs ``lo * 100000 + (100000 - rn)`` — positive, so
    ``%`` agrees across engines — for the same recency tiebreak under
    MIN. 100/25 = 4 keeps the score an exact
    integer, so the whole operator is int64 end-to-end (rn < 100000
    bounds day-grain data for centuries; hi cents * 1e5 < 2^63).

    Scale: day-grain calendar-bounded window after a partial agg.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(F.max(cents).alias("hi"), F.min(cents).alias("lo"))
    seq = daily.select(
        "d",
        "hi",
        "lo",
        F.row_number().over(Window.orderBy("d")).cast("long").alias("rn"),
    )
    w = Window.orderBy("d").rowsBetween(-24, 0)
    arg = seq.select(
        "d",
        "rn",
        F.max(F.col("hi") * 100000 + F.col("rn")).over(w).alias("hi_arg"),
        F.min(F.col("lo") * 100000 + (100000 - F.col("rn")))
        .over(w)
        .alias("lo_arg"),
        F.count("*").over(w).alias("n"),
    ).where(F.col("n") == 25)
    return arg.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        (4 * (25 - (F.col("rn") - F.col("hi_arg") % 100000)))
        .cast("long")
        .alias("aroon_up"),
        (4 * (25 - (F.col("rn") - (100000 - F.col("lo_arg") % 100000))))
        .cast("long")
        .alias("aroon_down"),
    ).orderBy("day")


@register(
    "win_ulcer_index",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    // COUNT(*) AS BIGINT) AS close
        FROM orders GROUP BY 1
    ),
    dd AS (
        SELECT d, close,
               CAST(MAX(close) OVER w AS BIGINT) AS peak,
               CAST(COUNT(*) OVER w AS BIGINT) AS n
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    sq AS (
        SELECT d, close, peak, n,
               CAST((peak - close) * 10000 // peak AS BIGINT) AS dd_bp
        FROM dd WHERE n = 14
    ),
    roll AS (
        SELECT d, close, dd_bp,
               CAST(SUM(dd_bp * dd_bp) OVER v AS BIGINT) AS ss,
               CAST(COUNT(*) OVER v AS BIGINT) AS m
        FROM sq
        WINDOW v AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, close, dd_bp,
           sqrt(CAST(ss AS DOUBLE) / CAST(m AS DOUBLE)) / 100.0
               AS ulcer_pct
    FROM roll WHERE m = 14
    ORDER BY day
    """,
)
def win_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day Ulcer Index — RMS of the percentage drawdown from the
    rolling peak, the downside-only volatility measure. Drawdowns are
    INTEGER basis points (``(peak - close) * 10000 div peak``, all
    positive so truncation == flooring), their squares sum exactly in
    int64 (max 1e8 per bar * 14), and the final ``sqrt(ss/m)/100`` is
    a fixed three-step double chain — division, sqrt (IEEE
    correctly-rounded in both engines), division — hence bit-portable.

    Scale: day-grain; two stacked calendar-bounded windows.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))"
            " div COUNT(*) AS BIGINT)"
        ).alias("close")
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    dd = daily.select(
        "d",
        "close",
        F.max("close").over(w).alias("peak"),
        F.count("*").over(w).alias("n"),
    ).where(F.col("n") == 14)
    sq = dd.select(
        "d",
        "close",
        F.expr("CAST((peak - close) * 10000 div peak AS BIGINT)").alias("dd_bp"),
    )
    v = Window.orderBy("d").rowsBetween(-13, 0)
    roll = sq.select(
        "d",
        "close",
        "dd_bp",
        F.sum(F.col("dd_bp") * F.col("dd_bp")).over(v).alias("ss"),
        F.count("*").over(v).alias("m"),
    ).where(F.col("m") == 14)
    return roll.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "close",
        "dd_bp",
        (
            F.sqrt(F.col("ss").cast("double") / F.col("m").cast("double"))
            / F.lit(100.0)
        ).alias("ulcer_pct"),
    ).orderBy("day")


@register(
    "win_pivot_points",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS hi,
               CAST(MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS lo,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    // COUNT(*) AS BIGINT) AS close
        FROM orders GROUP BY 1
    ),
    prev AS (
        SELECT d, close,
               lag(hi) OVER (ORDER BY d) AS ph,
               lag(lo) OVER (ORDER BY d) AS pl,
               lag(close) OVER (ORDER BY d) AS pc
        FROM daily
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, close,
           CAST((ph + pl + pc) // 3 AS BIGINT) AS pivot_c,
           CAST(2 * ((ph + pl + pc) // 3) - pl AS BIGINT) AS r1_c,
           CAST(2 * ((ph + pl + pc) // 3) - ph AS BIGINT) AS s1_c,
           CAST((ph + pl + pc) // 3 + (ph - pl) AS BIGINT) AS r2_c,
           CAST((ph + pl + pc) // 3 - (ph - pl) AS BIGINT) AS s2_c,
           CASE WHEN close > 2 * ((ph + pl + pc) // 3) - pl THEN 2
                WHEN close > (ph + pl + pc) // 3 THEN 1
                WHEN close < 2 * ((ph + pl + pc) // 3) - ph THEN -2
                WHEN close < (ph + pl + pc) // 3 THEN -1
                ELSE 0 END AS zone
    FROM prev WHERE ph IS NOT NULL
    ORDER BY day
    """,
)
def win_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic floor-trader pivot points from the PRIOR day's bar:
    P = (H+L+C)/3 (integer floor-div — all cents positive), R1/S1 =
    2P−L / 2P−H, R2/S2 = P±(H−L), plus the zone classification of
    today's close against the ladder — the level framework intraday
    desks quote every morning. Pure integer arithmetic end to end
    (the /3 is the only division and it's a floor-div on positive
    cents, identical on both engines).

    Scale: day-grain lag window after a partial agg.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(
        F.max(cents).alias("hi"),
        F.min(cents).alias("lo"),
        F.expr(
            "CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))"
            " div COUNT(*) AS BIGINT)"
        ).alias("close"),
    )
    wl = Window.orderBy("d")
    prev = daily.select(
        "d",
        "close",
        F.lag("hi").over(wl).alias("ph"),
        F.lag("lo").over(wl).alias("pl"),
        F.lag("close").over(wl).alias("pc"),
    ).where(F.col("ph").isNotNull())
    piv = F.expr("(ph + pl + pc) div 3")
    return prev.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "close",
        piv.cast("long").alias("pivot_c"),
        (2 * piv - F.col("pl")).cast("long").alias("r1_c"),
        (2 * piv - F.col("ph")).cast("long").alias("s1_c"),
        (piv + (F.col("ph") - F.col("pl"))).cast("long").alias("r2_c"),
        (piv - (F.col("ph") - F.col("pl"))).cast("long").alias("s2_c"),
        F.when(F.col("close") > 2 * piv - F.col("pl"), 2)
        .when(F.col("close") > piv, 1)
        .when(F.col("close") < 2 * piv - F.col("ph"), -2)
        .when(F.col("close") < piv, -1)
        .otherwise(0)
        .alias("zone"),
    ).orderBy("day")


@register(
    "win_ichimoku",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS hi,
               CAST(MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS lo,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    // COUNT(*) AS BIGINT) AS close
        FROM orders GROUP BY 1
    ),
    lines AS (
        SELECT d, close,
               CAST(MAX(hi) OVER w9  + MIN(lo) OVER w9  AS BIGINT) AS tenkan2,
               CAST(MAX(hi) OVER w26 + MIN(lo) OVER w26 AS BIGINT) AS kijun2,
               CAST(MAX(hi) OVER w52 + MIN(lo) OVER w52 AS BIGINT) AS senkou_b2,
               CAST(COUNT(*) OVER w52 AS BIGINT) AS n52
        FROM daily
        WINDOW w9  AS (ORDER BY d ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
               w26 AS (ORDER BY d ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
               w52 AS (ORDER BY d ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, close,
           CAST(tenkan2 AS DOUBLE) / 2 AS tenkan,
           CAST(kijun2 AS DOUBLE) / 2 AS kijun,
           CAST(tenkan2 + kijun2 AS DOUBLE) / 4 AS senkou_a,
           CAST(senkou_b2 AS DOUBLE) / 2 AS senkou_b,
           CASE WHEN tenkan2 > kijun2 THEN 1
                WHEN tenkan2 < kijun2 THEN -1 ELSE 0 END AS tk_cross
    FROM lines
    WHERE n52 = 52
    ORDER BY day
    """,
)
def win_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku Kinko Hyo lines over the daily bar: tenkan (9-bar
    hi/lo midpoint), kijun (26), senkou A ((tenkan+kijun)/2) and
    senkou B (52).  Midpoints are kept as DOUBLED int64 sums
    (hi+lo) inside the windows, so all comparisons (the TK cross)
    are pure integer; the rendered lines are divisions of exact
    ints by 2 and 4 — dyadic, hence bit-exact doubles on both
    engines.

    Scale: day-grain after the partial bar aggregation; four
    calendar-bounded rolling extrema per row, no global state.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(
        F.max(cents).alias("hi"),
        F.min(cents).alias("lo"),
        F.expr(
            "CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))"
            " div COUNT(*) AS BIGINT)"
        ).alias("close"),
    )
    w9 = Window.orderBy("d").rowsBetween(-8, 0)
    w26 = Window.orderBy("d").rowsBetween(-25, 0)
    w52 = Window.orderBy("d").rowsBetween(-51, 0)
    lines = daily.select(
        "d",
        "close",
        (F.max("hi").over(w9) + F.min("lo").over(w9)).alias("tenkan2"),
        (F.max("hi").over(w26) + F.min("lo").over(w26)).alias("kijun2"),
        (F.max("hi").over(w52) + F.min("lo").over(w52)).alias("senkou_b2"),
        F.count("*").over(w52).alias("n52"),
    ).where(F.col("n52") == 52)
    t2, k2 = F.col("tenkan2"), F.col("kijun2")
    return lines.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "close",
        (t2.cast("double") / 2).alias("tenkan"),
        (k2.cast("double") / 2).alias("kijun"),
        ((t2 + k2).cast("double") / 4).alias("senkou_a"),
        (F.col("senkou_b2").cast("double") / 2).alias("senkou_b"),
        F.when(t2 > k2, 1).when(t2 < k2, -1).otherwise(0).alias("tk_cross"),
    ).orderBy("day")


@register(
    "win_vortex",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS hi,
               CAST(MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS lo,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    // COUNT(*) AS BIGINT) AS close
        FROM orders GROUP BY 1
    ),
    mv AS (
        SELECT d,
               abs(hi - lag(lo)  OVER (ORDER BY d)) AS vm_plus,
               abs(lo - lag(hi)  OVER (ORDER BY d)) AS vm_minus,
               GREATEST(hi - lo,
                        abs(hi - lag(close) OVER (ORDER BY d)),
                        abs(lo - lag(close) OVER (ORDER BY d))) AS trange
        FROM daily
    ),
    roll AS (
        SELECT d,
               CAST(SUM(vm_plus)  OVER w AS BIGINT) AS svp,
               CAST(SUM(vm_minus) OVER w AS BIGINT) AS svm,
               CAST(SUM(trange)   OVER w AS BIGINT) AS str_,
               CAST(COUNT(vm_plus) OVER w AS BIGINT) AS n
        FROM mv
        WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, svp, svm, str_,
           CAST(svp AS DOUBLE) / str_ AS vi_plus,
           CAST(svm AS DOUBLE) / str_ AS vi_minus,
           CASE WHEN svp > svm THEN 1 WHEN svp < svm THEN -1 ELSE 0 END
               AS trend_sign
    FROM roll WHERE n = 14
    ORDER BY day
    """,
)
def win_vortex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day Vortex indicator: VM+ = |hi − prev_lo|,
    VM− = |lo − prev_hi|, VI± = ΣVM±/ΣTR over the window.  All three
    rolling sums are exact int64 cents, the trend signal is an
    integer comparison, and each VI is ONE division — portable.

    Scale: day-grain after the partial bar aggregation.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(
        F.max(cents).alias("hi"),
        F.min(cents).alias("lo"),
        F.expr(
            "CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))"
            " div COUNT(*) AS BIGINT)"
        ).alias("close"),
    )
    wl = Window.orderBy("d")
    mv = daily.select(
        "d",
        F.abs(F.col("hi") - F.lag("lo").over(wl)).alias("vm_plus"),
        F.abs(F.col("lo") - F.lag("hi").over(wl)).alias("vm_minus"),
        F.greatest(
            F.col("hi") - F.col("lo"),
            F.abs(F.col("hi") - F.lag("close").over(wl)),
            F.abs(F.col("lo") - F.lag("close").over(wl)),
        ).alias("trange"),
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    roll = mv.select(
        "d",
        F.sum("vm_plus").over(w).alias("svp"),
        F.sum("vm_minus").over(w).alias("svm"),
        F.sum("trange").over(w).alias("str_"),
        F.count("vm_plus").over(w).alias("n"),
    ).where(F.col("n") == 14)
    return roll.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("svp").cast("long").alias("svp"),
        F.col("svm").cast("long").alias("svm"),
        F.col("str_").cast("long").alias("str_"),
        (F.col("svp").cast("double") / F.col("str_")).alias("vi_plus"),
        (F.col("svm").cast("double") / F.col("str_")).alias("vi_minus"),
        F.when(F.col("svp") > F.col("svm"), 1)
        .when(F.col("svp") < F.col("svm"), -1)
        .otherwise(0)
        .alias("trend_sign"),
    ).orderBy("day")


@register(
    "win_cci",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    + MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    + SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                      // COUNT(*)
                    AS BIGINT) AS tp3
        FROM orders GROUP BY 1
    ),
    sums AS (
        SELECT d, tp3,
               CAST(SUM(tp3) OVER w AS BIGINT) AS s3,
               CAST(COUNT(*) OVER w AS BIGINT) AS n
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    numbered AS (
        SELECT *, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn
        FROM sums
    ),
    base AS (
        SELECT *, unnest(range(rn - 19, rn + 1)) AS want_rn
        FROM numbered WHERE n = 20
    ),
    dev AS (
        SELECT b.d, b.tp3, b.s3, b.n,
               CAST(SUM(abs(b.n * h.tp3 - b.s3)) AS BIGINT) AS sum_absdev
        FROM base b
        JOIN numbered h ON h.rn = b.want_rn
        GROUP BY b.d, b.tp3, b.s3, b.n
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, tp3, s3, sum_absdev,
           CAST((b2.n * b2.tp3 - b2.s3) * b2.n * 200 AS DOUBLE)
           / (3 * b2.sum_absdev) AS cci20
    FROM dev b2
    ORDER BY day
    """,
)
def win_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-day Commodity Channel Index with every denominator cleared:
    using tripled typical price T=hi+lo+close (int), CCI =
    (tp−sma)/(0.015·meandev) becomes (n·T − S)·n·200 / (3·Σ|n·T_i −
    S|) — integer numerator and denominator built from a rolling sum
    plus a 20-row self-join for the mean absolute deviation (a
    rolling MAD has no distributive form, so the join IS the
    textbook shape; it's calendar-bounded at 20 rows per day).  ONE
    final division.

    Scale: day-grain; the dev self-join is day×20 rows regardless of
    fact size.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(
        F.expr(
            "CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))"
            " + MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))"
            " + SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))"
            "   div COUNT(*) AS BIGINT)"
        ).alias("tp3")
    )
    w = Window.orderBy("d").rowsBetween(-19, 0)
    sums = daily.select(
        "d",
        "tp3",
        F.sum("tp3").over(w).alias("s3"),
        F.count("*").over(w).alias("n"),
    )
    numbered = sums.withColumn(
        "rn", F.row_number().over(Window.orderBy("d")).cast("long")
    )
    base = (
        numbered.where(F.col("n") == 20)
        .withColumn(
            "want_rn",
            F.explode(F.sequence(F.col("rn") - 19, F.col("rn"))),
        )
        .alias("b")
    )
    hist = numbered.alias("h")
    dev = (
        base.join(hist, F.col("h.rn") == F.col("b.want_rn"))
        .groupBy("b.d", "b.tp3", "b.s3", "b.n")
        .agg(
            F.sum(
                F.abs(F.col("b.n") * F.col("h.tp3") - F.col("b.s3"))
            ).alias("sum_absdev")
        )
    )
    return dev.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "tp3",
        "s3",
        F.col("sum_absdev").cast("long").alias("sum_absdev"),
        (
            ((F.col("n") * F.col("tp3") - F.col("s3")) * F.col("n") * 200)
            .cast("double")
            / (3 * F.col("sum_absdev"))
        ).alias("cci20"),
    ).orderBy("day")


_MFI_TAIL = """
flows AS (
    SELECT d, cents, qty,
           lag(cents) OVER (ORDER BY d) AS pc,
           lag(qty) OVER (ORDER BY d) AS pq
    FROM {daily}
),
signed AS (
    SELECT d,
           CASE WHEN pc IS NULL THEN 0
                WHEN cents * pq > pc * qty THEN cents ELSE 0 END AS pos_f,
           CASE WHEN pc IS NULL THEN 0
                WHEN cents * pq < pc * qty THEN cents ELSE 0 END AS neg_f
    FROM flows
),
win AS (
    SELECT d,
           CAST(SUM(pos_f) OVER w AS BIGINT) AS pos_flow,
           CAST(SUM(neg_f) OVER w AS BIGINT) AS neg_flow,
           CAST(count(*) OVER w AS BIGINT) AS n_in
    FROM signed
    WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT d AS day, pos_flow, neg_flow,
       CAST(pos_flow * 1000000 AS BIGINT)
           {div} (CASE WHEN pos_flow + neg_flow = 0 THEN 1
                       ELSE pos_flow + neg_flow END) AS mfi_ppm
FROM win
WHERE n_in = 14
ORDER BY d"""

_MFI_DUCK_DAILY = """
    SELECT CAST(epoch_us(l_shipdate) // 86400000000 AS BIGINT) AS d,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem GROUP BY 1
"""


@register(
    "win_mfi",
    oracle="WITH daily AS ("
    + _MFI_DUCK_DAILY
    + "),"
    + _MFI_TAIL.format(daily="daily", div="//"),
)
def win_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day Money Flow Index over the daily shipment tape — the
    volume-weighted RSI cousin. Up/down days compare per-unit price
    as the integer cross-multiplication cents_t·qty_{t−1} vs
    cents_{t−1}·qty_t (no rational division), flows stay int64
    cents, and MFI is published in exact ppm via floor-div of
    non-negative operands (where `//` ≡ `div` across engines).

    Scale: one day-grain pre-aggregate carries the scan; the lag and
    14-row frame run on the calendar-bounded daily series.
    """
    daily = lineitem_daily(spark, sf_dir).select("d", "cents", "qty")
    daily.createOrReplaceTempView("mfi_daily")
    return spark.sql(
        "WITH " + _MFI_TAIL.format(daily="mfi_daily", div="div").lstrip()
    )


_KELTNER_TAIL = """
bars AS (
    SELECT d,
           MAX(cents) AS h, MIN(cents) AS l, MIN(close_v) AS c
    FROM (
        SELECT d, cents,
               last_value(cents) OVER (PARTITION BY d ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND UNBOUNDED FOLLOWING) AS close_v
        FROM {base}
    ) x
    GROUP BY d
),
tr AS (
    SELECT d, h, l, c,
           h + l + c AS tp3,
           GREATEST(h, lag(c) OVER (ORDER BY d))
             - LEAST(l, lag(c) OVER (ORDER BY d)) AS true_range
    FROM bars
),
win AS (
    SELECT d, c,
           CAST(SUM(tp3) OVER w20 AS BIGINT) AS s_tp3,
           CAST(count(*) OVER w20 AS BIGINT) AS n20,
           CAST(SUM(true_range) OVER w10 AS BIGINT) AS s_tr,
           CAST(count(true_range) OVER w10 AS BIGINT) AS n10
    FROM tr
    WINDOW w20 AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
           w10 AS (ORDER BY d ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT d AS day, CAST(c AS BIGINT) AS close_cents,
       CAST(s_tp3 AS DOUBLE) / CAST(60 AS DOUBLE) AS mid,
       CAST(s_tp3 + 12 * s_tr AS DOUBLE) / CAST(60 AS DOUBLE) AS upper,
       CAST(s_tp3 - 12 * s_tr AS DOUBLE) / CAST(60 AS DOUBLE) AS lower,
       CASE WHEN 60 * c > s_tp3 + 12 * s_tr THEN 1 ELSE 0 END
           AS breakout_up,
       CASE WHEN 60 * c < s_tp3 - 12 * s_tr THEN 1 ELSE 0 END
           AS breakout_down
FROM win
WHERE n20 = 20 AND n10 = 10
ORDER BY d"""


@register(
    "win_keltner",
    oracle="""WITH base AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(ROUND(value * 100) AS BIGINT) AS cents, ts, event_id
        FROM events
    ),"""
    + _KELTNER_TAIL.format(base="base"),
)
def win_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channel (SMA flavor) over daily bars of the event
    value stream: mid = SMA20 of typical price, band = 2·ATR10 with
    the gap-aware true range GREATEST(h, prev_close) − LEAST(l,
    prev_close). Denominators are CLEARED for the decisions —
    breakout ⟺ 60·close vs Σtp3 ± 12·ΣTR, pure int64 — and the
    rendered channel lines are single divisions of exact ints.

    Scale: day-grain bars first (the only data-sized stage), then
    calendar-bounded windows.
    """
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        F.expr("CAST(CAST(ts AS TIMESTAMP) AS BIGINT) div 86400").alias("d"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
        "ts",
        "event_id",
    )
    base.createOrReplaceTempView("keltner_base")
    return spark.sql("WITH " + _KELTNER_TAIL.format(base="keltner_base").lstrip())


_SPAN_TAIL = """
pts AS (
    SELECT d, y, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn
    FROM {daily}
)
SELECT a.d AS day, a.y AS rev_cents,
       CAST(a.rn - COALESCE(MAX(CASE WHEN b.y > a.y THEN b.rn END), 0)
            AS BIGINT) AS span_days
FROM pts a LEFT JOIN pts b ON b.rn < a.rn
GROUP BY a.d, a.y, a.rn
ORDER BY span_days DESC, day
LIMIT 50"""

_SPAN_DUCK_DAILY = """
    SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
    FROM orders GROUP BY 1
"""


@register(
    "win_stock_span",
    oracle="WITH daily AS ("
    + _SPAN_DUCK_DAILY
    + "),"
    + _SPAN_TAIL.format(daily="daily"),
)
def win_stock_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock-span on the daily revenue tape: for each day, the number
    of days elapsed since the last strictly-higher day (the streak a
    monotonic stack computes single-threaded). Expressed relationally
    as rn −
    argmax{j<i : y_j > y_i} over the triangular self-join — O(days²)
    pairs, SANCTIONED on the calendar-bounded daily frame only (the
    stats_mann_kendall rule), never on raw rows. Top-50 longest
    spans = the all-time-high leaderboard with recency built in.

    Scale: the fact scan collapses to day grain first; the triangle
    is days²/2 ≈ 2.9M cells at a 6.5-year span, constant in SF.
    """
    daily = orders_daily(spark, sf_dir).select("d", "y")
    daily.createOrReplaceTempView("span_daily")
    return spark.sql("WITH " + _SPAN_TAIL.format(daily="span_daily").lstrip())


_KER_TAIL = """
chg AS (
    SELECT d, y,
           y - lag(y) OVER (ORDER BY d) AS c,
           y - lag(y, 10) OVER (ORDER BY d) AS net10
    FROM {daily}
),
win AS (
    SELECT d,
           CASE WHEN net10 >= 0 THEN net10 ELSE -net10 END AS net_abs,
           CAST(SUM(CASE WHEN c >= 0 THEN c ELSE -c END)
                    OVER (ORDER BY d ROWS BETWEEN 9 PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS path_abs,
           CAST(count(c) OVER (ORDER BY d ROWS BETWEEN 9 PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS n_in
    FROM chg
)
SELECT d AS day, net_abs, path_abs,
       CAST(net_abs * 1000000 AS BIGINT)
           {div} (CASE WHEN path_abs = 0 THEN 1 ELSE path_abs END)
           AS efficiency_ppm
FROM win
WHERE n_in = 10 AND net_abs IS NOT NULL
ORDER BY d"""


@register(
    "win_kaufman_er",
    oracle="""WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),"""
    + _KER_TAIL.format(daily="daily", div="//"),
)
def win_kaufman_er(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaufman efficiency ratio over 10 days: |net change| divided by
    the summed |daily changes| — 1.0 means a straight trend, near 0
    means churn. Pure int64 (absolute values by CASE, not abs-of-
    double) with the ratio published in exact ppm over non-negative
    operands.

    Scale: day-grain pre-aggregate then calendar-bounded windows.
    """
    daily = orders_daily(spark, sf_dir).select("d", "y")
    daily.createOrReplaceTempView("ker_daily")
    return spark.sql(
        "WITH " + _KER_TAIL.format(daily="ker_daily", div="div").lstrip()
    )


@register(
    "win_candlestick",
    oracle="""
    WITH pts AS (
        SELECT epoch_us(ts) // 86400000000 AS d,
               epoch_us(ts) // 1000000 AS sec,
               event_id,
               CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT) AS cents
        FROM events
    ),
    bars AS (
        SELECT d,
               CAST((MIN({'s': sec, 'e': event_id, 'c': cents})).c
                    AS BIGINT) AS open_c,
               CAST(MAX(cents) AS BIGINT) AS high_c,
               CAST(MIN(cents) AS BIGINT) AS low_c,
               CAST((MAX({'s': sec, 'e': event_id, 'c': cents})).c
                    AS BIGINT) AS close_c
        FROM pts GROUP BY d
    ),
    lagged AS (
        SELECT *, lag(open_c) OVER (ORDER BY d) AS po,
                  lag(close_c) OVER (ORDER BY d) AS pc
        FROM bars
    )
    SELECT CAST(d AS BIGINT) AS d, open_c, high_c, low_c, close_c,
           CASE WHEN high_c > low_c
                 AND 20 * abs(close_c - open_c) <= high_c - low_c
                THEN 1 ELSE 0 END AS doji,
           CASE WHEN abs(close_c - open_c) > 0
                 AND LEAST(open_c, close_c) - low_c
                     >= 2 * abs(close_c - open_c)
                 AND high_c - GREATEST(open_c, close_c)
                     <= abs(close_c - open_c)
                THEN 1 ELSE 0 END AS hammer,
           CASE WHEN pc IS NOT NULL AND pc < po AND close_c > open_c
                 AND open_c <= pc AND close_c >= po
                THEN 1 ELSE 0 END AS bull_engulf,
           CASE WHEN pc IS NOT NULL AND pc > po AND close_c < open_c
                 AND open_c >= pc AND close_c <= po
                THEN 1 ELSE 0 END AS bear_engulf
    FROM lagged
    """,
)
def win_candlestick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick pattern detection over daily event-value bars —
    the technical-indicator family's PATTERN branch (the other
    win_* indicators are continuous series; chart patterns are the
    discrete alarms a monitoring pipeline pages on). Daily OHLC bars
    come from the M4 construction (open/close = min/max over the
    deterministic (sec, event_id) struct order — ties can't drift
    between engines; ts_m4_downsample pattern), then four classic
    patterns as PURE INTEGER-CENTS comparisons, division-free:

    * doji: body ≤ 5% of range (20·|c−o| ≤ h−l, cross-multiplied)
    * hammer: lower shadow ≥ 2·body, upper shadow ≤ body
    * bullish/bearish engulfing: today's body straddles yesterday's,
      directions opposed (lag over the day axis)

    Scale: the only fact-table work is ONE partial-aggregable
    groupBy(day) carrying 4 cascading aggregates; the pattern pass is
    a day-grain projection + lag (bounded by the calendar, whitelisted
    in the plan sweep's BOUNDED_GRAIN).
    """
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
        "event_id",
        F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100)
        .cast("long")
        .alias("cents"),
    ).select(
        F.expr("sec div 86400").cast("long").alias("d"),
        "sec",
        "event_id",
        "cents",
    )
    bars = pts.groupBy("d").agg(
        F.min(F.struct("sec", "event_id", "cents"))["cents"].alias(
            "open_c"
        ),
        F.max("cents").alias("high_c"),
        F.min("cents").alias("low_c"),
        F.max(F.struct("sec", "event_id", "cents"))["cents"].alias(
            "close_c"
        ),
    )
    wl = Window.orderBy("d")
    lagged = bars.select(
        "*",
        F.lag("open_c").over(wl).alias("po"),
        F.lag("close_c").over(wl).alias("pc"),
    )
    o, h, lo, c = (
        F.col("open_c"),
        F.col("high_c"),
        F.col("low_c"),
        F.col("close_c"),
    )
    body = F.abs(c - o)
    return lagged.select(
        "d",
        "open_c",
        "high_c",
        "low_c",
        "close_c",
        F.when((h > lo) & (F.lit(20) * body <= h - lo), 1)
        .otherwise(0)
        .alias("doji"),
        F.when(
            (body > 0)
            & (F.least(o, c) - lo >= F.lit(2) * body)
            & (h - F.greatest(o, c) <= body),
            1,
        )
        .otherwise(0)
        .alias("hammer"),
        F.when(
            F.col("pc").isNotNull()
            & (F.col("pc") < F.col("po"))
            & (c > o)
            & (o <= F.col("pc"))
            & (c >= F.col("po")),
            1,
        )
        .otherwise(0)
        .alias("bull_engulf"),
        F.when(
            F.col("pc").isNotNull()
            & (F.col("pc") > F.col("po"))
            & (c < o)
            & (o >= F.col("pc"))
            & (c <= F.col("po")),
            1,
        )
        .otherwise(0)
        .alias("bear_engulf"),
    )


_PSAR_CAND = (
    "(ps.sar + CAST(ps.afs AS DOUBLE) * CAST('0.02' AS DOUBLE)"
    " * (ps.ep - ps.sar))"
)

_PSAR_RECURSION = """
WITH RECURSIVE ps(day, trend, sar, ep, afs) AS (
    SELECT day, 1, lo, hi, 1 FROM {daily} WHERE day = 1
    UNION ALL
    SELECT d.day,
           CASE WHEN ps.trend = 1
                THEN CASE WHEN d.lo < {cand} THEN -1 ELSE 1 END
                ELSE CASE WHEN d.hi > {cand} THEN 1 ELSE -1 END END,
           CASE WHEN ps.trend = 1
                THEN CASE WHEN d.lo < {cand} THEN ps.ep ELSE {cand} END
                ELSE CASE WHEN d.hi > {cand} THEN ps.ep ELSE {cand} END
                END,
           CASE WHEN ps.trend = 1
                THEN CASE WHEN d.lo < {cand} THEN d.lo
                          ELSE GREATEST(ps.ep, d.hi) END
                ELSE CASE WHEN d.hi > {cand} THEN d.hi
                          ELSE LEAST(ps.ep, d.lo) END END,
           CASE WHEN ps.trend = 1
                THEN CASE WHEN d.lo < {cand} THEN 1
                          WHEN d.hi > ps.ep THEN LEAST(ps.afs + 1, 10)
                          ELSE ps.afs END
                ELSE CASE WHEN d.hi > {cand} THEN 1
                          WHEN d.lo < ps.ep THEN LEAST(ps.afs + 1, 10)
                          ELSE ps.afs END END
    FROM ps JOIN {daily} d ON d.day = ps.day + 1
)
SELECT day, trend, sar, ep, CAST(afs AS BIGINT) AS afs FROM ps
ORDER BY day
"""

_PSAR_ORACLE = _PSAR_RECURSION.format(
    daily="psar_daily", cand=_PSAR_CAND
).replace(
    "WITH RECURSIVE ps(",
    """WITH RECURSIVE psar_daily AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS day,
           CAST(hi AS DOUBLE) AS hi, CAST(lo AS DOUBLE) AS lo
    FROM (SELECT epoch_us(ts) // 86400000000 AS d,
                 MAX(CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT)) AS hi,
                 MIN(CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT)) AS lo
          FROM events GROUP BY 1) b
),
ps(""",
)


@register("win_parabolic_sar", oracle=_PSAR_ORACLE)
def win_parabolic_sar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parabolic SAR (Wilder) over daily hi/lo bars — the technical
    family's genuinely SEQUENTIAL indicator: the stop level
    sar' = sar + af·(ep − sar) accelerates (af 0.02→0.20 in 0.02
    steps, integer-counted) while the trend holds and FLIPS (sar
    resets to the prior extreme, af to 0.02) when price pierces it —
    state no window frame can express. The distributed work is the
    partial-aggregable day-grain hi/lo rollup; the trajectory itself
    is a CALENDAR-bounded scalar fold, so it runs as a driver-side
    fold over the O(days) collected bars (the sanctioned bounded-
    collect pattern) instead of the r7 recursive-CTE tower, whose ~30
    sequential micro-plans cost ~8 s of pure iteration overhead at
    ANY data size (VERDICT r7 item 7; measured 8.0 s → 0.6 s).
    Every step is the same fixed-order float chain the DuckDB oracle
    evaluates inside WITH RECURSIVE (each op correctly rounded,
    identical order ⇒ identical bits — Python doubles are the same
    IEEE ops), so the hash check now compares two INDEPENDENT
    derivations (SQL recursion vs Python fold) where r7's
    identical-text recursion was parity-blind. Simplified variant: no
    two-bar SAR clamp — pinned against the textbook replay in
    tests/test_cross_consistency.py.

    Scale: at 100 TB the rollup shuffles once on day; the fold stays
    O(calendar), data-size-independent — same legality argument as
    the r7 recursion, minus the per-iteration plan tax.
    """
    daily = (
        events_daily_by_type(spark, sf_dir)
        .groupBy(F.col("day").alias("d"))
        .agg(F.max("max_c").alias("hi"), F.min("min_c").alias("lo"))
        .collect()
    )
    schema = "day long, trend int, sar double, ep double, afs long"
    if not daily:
        return spark.createDataFrame([], schema)
    bars = sorted(
        ((r["d"], float(r["hi"]), float(r["lo"])) for r in daily)
    )
    trend, sar, ep, afs = 1, bars[0][2], bars[0][1], 1
    out = [(1, trend, sar, ep, afs)]
    for i in range(1, len(bars)):
        _d, h, l = bars[i]
        cand = sar + float(afs) * 0.02 * (ep - sar)
        if trend == 1:
            if l < cand:
                trend, sar, ep, afs = -1, ep, l, 1
            else:
                sar = cand
                if h > ep:
                    afs = min(afs + 1, 10)
                ep = max(ep, h)
        else:
            if h > cand:
                trend, sar, ep, afs = 1, ep, h, 1
            else:
                sar = cand
                if l < ep:
                    afs = min(afs + 1, 10)
                ep = min(ep, l)
        out.append((i + 1, trend, sar, ep, afs))
    return spark.createDataFrame(out, schema).orderBy("day")


_HULL_TAIL = """
pts AS (
    SELECT day, cents,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
    FROM {daily}
),
sums AS (
    SELECT day, rn,
           SUM(cents) OVER (ORDER BY rn
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS a8,
           SUM(rn * cents) OVER (ORDER BY rn
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS p8,
           SUM(cents) OVER (ORDER BY rn
               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS a16,
           SUM(rn * cents) OVER (ORDER BY rn
               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS p16
    FROM pts
),
inner_ AS (
    SELECT day, rn,
           CAST(68 * (p8 - (rn - 8) * a8)
                - 9 * (p16 - (rn - 16) * a16) AS BIGINT) AS inum
    FROM sums
    WHERE rn >= 16
),
hull AS (
    SELECT day, rn,
           SUM(inum) OVER (ORDER BY rn
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS ha,
           SUM(rn * inum) OVER (ORDER BY rn
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS hp,
           CAST(COUNT(*) OVER (ORDER BY rn
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS m
    FROM inner_
)
SELECT day,
       CAST(hp - (rn - 4) * ha AS BIGINT) AS hma_num_scaled,
       CAST(CAST(hp - (rn - 4) * ha AS BIGINT) AS DOUBLE) / 12240.0
           AS hull_ma
FROM hull
WHERE m = 4
ORDER BY day"""

_HULL_DUCK_DAILY = """
daily AS (
    SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY 1
)"""


@register(
    "win_hull_ma",
    oracle="WITH " + _HULL_DUCK_DAILY + "," + _HULL_TAIL.format(
        daily="daily"
    ),
)
def win_hull_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HULL MOVING AVERAGE over daily event revenue — the low-lag
    trend line quant desks use in place of the SMA/EMA pair (HMA_16 =
    WMA_4(2*WMA_8 - WMA_16)): responsive like a short window, smooth
    like a long one. Every WMA is carried as an EXACT INT64 numerator
    via the prefix identity N(t) = P(t) - (t-k)*A(t) (P = rolling sum
    of rn*x, A = rolling sum of x — two frame sums replace the
    position-weighted dot product a window cannot express directly),
    the 2*WMA_8 - WMA_16 combination clears denominators through
    lcm(36,136) = 1224 (inum = 68*N8 - 9*N16), and the published
    hull_ma is ONE double division of exact sub-2^53 ints by the
    constant 12240 — bit-identical on both engines.

    Scale: rides the session-cached day-grain rollup
    (frame_cache.events_daily) — no fact-table pass; all windows run
    over the calendar-bounded daily frame (BOUNDED_GRAIN). Numpy
    replay pin recomputes the textbook triangular-weight WMAs
    directly.
    """
    events_daily(spark, sf_dir).select("day", "cents").createOrReplaceTempView(
        "hull_daily"
    )
    return spark.sql("WITH " + _HULL_TAIL.format(daily="hull_daily").lstrip())


_ZZ_CONFIRM = (
    "((z.dir = 1 AND (z.ext_y - s.y) * 20 >= z.ext_y)"
    " OR (z.dir = -1 AND (s.y - z.ext_y) * 20 >= z.ext_y))"
)

_ZZ_RECURSION = """
WITH RECURSIVE zz(rn, dir, ext_rn, ext_y, ext_d,
                  piv_rn, piv_y, piv_d, piv_kind) AS (
    SELECT rn, CAST(1 AS BIGINT), rn, y, d,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM {t} WHERE rn = 1
    UNION ALL
    SELECT s.rn,
           CASE WHEN {c} THEN -z.dir ELSE z.dir END,
           CASE WHEN {c} THEN s.rn
                WHEN (z.dir = 1 AND s.y > z.ext_y)
                  OR (z.dir = -1 AND s.y < z.ext_y) THEN s.rn
                ELSE z.ext_rn END,
           CASE WHEN {c} THEN s.y
                WHEN (z.dir = 1 AND s.y > z.ext_y)
                  OR (z.dir = -1 AND s.y < z.ext_y) THEN s.y
                ELSE z.ext_y END,
           CASE WHEN {c} THEN s.d
                WHEN (z.dir = 1 AND s.y > z.ext_y)
                  OR (z.dir = -1 AND s.y < z.ext_y) THEN s.d
                ELSE z.ext_d END,
           CASE WHEN {c} THEN z.ext_rn END,
           CASE WHEN {c} THEN z.ext_y END,
           CASE WHEN {c} THEN z.ext_d END,
           CASE WHEN {c} THEN z.dir END
    FROM zz z JOIN {t} s ON s.rn = z.rn + 1
)
SELECT CAST(piv_d AS BIGINT) AS day,
       CAST(piv_y AS BIGINT) AS cents,
       CASE WHEN piv_kind = 1 THEN 'HIGH' ELSE 'LOW' END AS kind
FROM zz WHERE piv_rn IS NOT NULL
ORDER BY piv_rn
"""

_ZZ_ORACLE = _ZZ_RECURSION.format(t="zz_daily", c=_ZZ_CONFIRM).replace(
    "WITH RECURSIVE zz(",
    """WITH RECURSIVE zz_daily AS (
    SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn, d, y
    FROM (
        SELECT (epoch_us(o_orderdate) // 86400000000) // 30 AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    )
),
zz(""",
)


@register("win_zigzag_swings", oracle=_ZZ_ORACLE)
def win_zigzag_swings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZigZag swing detection (5% reversal) over the 30-day-bucket
    revenue series — the classic technical-analysis pivot filter that keeps
    only moves larger than the threshold, used for swing labeling and
    support/resistance mining. A genuinely SEQUENTIAL automaton
    (direction + running extreme since the last confirmed pivot,
    pivot confirmed when price retraces >= 5% from the extreme),
    executed as a recursive CTE with IDENTICAL text on both engines:
    the 5% test is the integer cross-multiplication
    (ext - y)*20 >= ext (never a float ratio), ties keep the FIRST
    extreme (strict > / < updates), and the walk starts dir=+1 at the
    first day (documented convention). All state is int64 cents.

    Scale: the fact scan collapses to the session-cached day-grain
    rollup (re-aggregated to ~85 30-day buckets) before any
    sequential work; state walk depth = calendar buckets, never row
    count. Replay-pinned against a from-scratch Python automaton in
    tests/test_cross_consistency.py.

    r10 optimization: the Spark side no longer executes the automaton
    as a recursive CTE (one distributed join per bucket ≈ 0.15 s/step
    of pure scheduling: 12.2 s at sf0.1) but as a single
    ``aggregate()`` fold over the collected bucket array — one job,
    same int64 transitions in the same order, so the emitted pivots
    are bit-identical (int arithmetic has no rounding to diverge).
    The DuckDB oracle keeps the recursive-CTE text, so the hash match
    doubles as an independent cross-engine proof of the rewrite.
    """
    daily = (
        orders_daily(spark, sf_dir)
        .groupBy(F.expr("d div 30").alias("d"))
        .agg(F.sum("y").cast("long").alias("y"))
    )
    packed = daily.agg(
        F.expr("sort_array(collect_list(struct(d, y)))").alias("arr")
    ).where(F.size("arr") >= 1)
    # State: (dir, ext_y, ext_d, pivs). ext_rn/piv_rn order is the
    # append order of `pivs`, so rn bookkeeping drops out. The 5%
    # confirm test and the strict extreme updates are copied verbatim
    # from _ZZ_RECURSION (integer cross-multiplication, first-extreme
    # ties).
    conf_up = "(z.dir = CAST(1 AS BIGINT) AND (z.ext_y - s.y) * 20 >= z.ext_y)"
    conf_dn = "(z.dir = CAST(-1 AS BIGINT) AND (s.y - z.ext_y) * 20 >= z.ext_y)"
    c = f"({conf_up} OR {conf_dn})"
    better = (
        "((z.dir = CAST(1 AS BIGINT) AND s.y > z.ext_y)"
        " OR (z.dir = CAST(-1 AS BIGINT) AND s.y < z.ext_y))"
    )
    piv_t = "array<struct<piv_y:bigint,piv_d:bigint,piv_kind:bigint>>"
    # CASE guard keeps slice/arr[0] unevaluated on the zero-row agg
    # row (lazily-evaluated branch; the r6 ANSI empty-array hazard).
    folded = packed.select(
        F.expr(
            f"""
            CASE WHEN size(arr) >= 1 THEN
            aggregate(
              slice(arr, 2, size(arr) - 1),
              named_struct(
                'dir', CAST(1 AS BIGINT),
                'ext_y', arr[0].y, 'ext_d', arr[0].d,
                'pivs', CAST(array() AS {piv_t})),
              (z, s) -> CASE
                WHEN {c} THEN named_struct(
                  'dir', -z.dir, 'ext_y', s.y, 'ext_d', s.d,
                  'pivs', array_append(z.pivs, named_struct(
                    'piv_y', z.ext_y, 'piv_d', z.ext_d, 'piv_kind', z.dir)))
                WHEN {better} THEN named_struct(
                  'dir', z.dir, 'ext_y', s.y, 'ext_d', s.d,
                  'pivs', z.pivs)
                ELSE z END,
              z -> z.pivs)
            ELSE CAST(array() AS {piv_t}) END
            """
        ).alias("pivs")
    )
    return (
        folded.select(F.posexplode("pivs").alias("pos", "p"))
        .orderBy("pos")
        .select(
            F.col("p.piv_d").alias("day"),
            F.col("p.piv_y").alias("cents"),
            F.expr(
                "CASE WHEN p.piv_kind = 1 THEN 'HIGH' ELSE 'LOW' END"
            ).alias("kind"),
        )
    )
