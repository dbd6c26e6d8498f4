"""Time-series operators over the events stream table: hierarchical
multi-resolution rollup ("hypertable rollup" shape) and grid
densification with forward fill (gap filling).

The reference has no time-series surface at all (its only temporal
logic is the guarded timestamp cast, /root/reference/ingest_data.py:
67-76); these are the standard continuous-aggregate primitives a
metrics/training pipeline needs.

Scale notes: the rollup is ONE pass — ``rollup(day, hour, minute)``
expands each row into its 4 hierarchy levels before the partial
aggregate, so the shuffle carries only group totals (the same
map-side-combine property as any groupBy, ~4x amplified, still tiny
vs input). The gap-fill generates its grid from per-key bounds with
``sequence``+``explode`` — a narrow transform proportional to the
OUTPUT grid, never a driver loop or a calendar cross join against the
full fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e2e_data_pipeline_spark.catalog import load_table
from e2e_data_pipeline_spark.operators.frame_cache import (
    events_daily,
    events_daily_by_type,
    orders_daily,
)
from e2e_data_pipeline_spark.operators.registry import (
    dec_avg,
    dec_sum,
    register,
    wide_dbl,
)

_FMT = "yyyy-MM-dd HH:mm:ss"


@register(
    "ts_rollup",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day_start,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute_start,
           CAST(GROUPING(date_trunc('day', ts)) * 4
                + GROUPING(date_trunc('hour', ts)) * 2
                + GROUPING(date_trunc('minute', ts)) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE user_id < 10
    GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts),
                     date_trunc('minute', ts))
    """,
)
def ts_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup: minute, hour, day, and grand
    totals from one scan via the ROLLUP hierarchy — the batch analog of
    a continuous aggregate / hypertable rollup. The user_id filter
    bounds oracle output size; the plan shape is scale-free.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 10)
    day = F.date_trunc("day", "ts").alias("day_start")
    hour = F.date_trunc("hour", "ts").alias("hour_start")
    minute = F.date_trunc("minute", "ts").alias("minute_start")
    rolled = ev.rollup(day, hour, minute).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("n_events"),
        dec_sum("value").alias("sum_value"),
    )
    return rolled.select(
        F.date_format("day_start", _FMT).alias("day_start"),
        F.date_format("hour_start", _FMT).alias("hour_start"),
        F.date_format("minute_start", _FMT).alias("minute_start"),
        "gid",
        "n_events",
        "sum_value",
    )


@register(
    "ts_gapfill",
    oracle="""
    WITH bounded AS (
        SELECT user_id, ts, value FROM events WHERE user_id < 20
    ),
    bounds AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM bounded GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ),
    hourly AS (
        SELECT user_id,
               date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hour_value
        FROM bounded GROUP BY 1, 2
    )
    SELECT g.user_id,
           strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour_start,
           CAST(COALESCE(hy.n, 0) AS BIGINT) AS n_events,
           last_value(hy.hour_value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM grid g
    LEFT JOIN hourly hy ON hy.user_id = g.user_id AND hy.h = g.h
    """,
)
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling: densify each user's event stream onto an hourly
    grid and forward-fill the last observed hourly total.

    The grid is generated per key from its own [min, max] hour bounds
    (sequence+explode — output-proportional), the observed hours
    left-join onto it, and ``last(..., ignorenulls)`` over an ordered
    window carries values forward. One shuffle on user_id serves the
    bounds, the join, and the fill window. The user_id filter bounds
    oracle output; the construction itself is linear in grid size.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 20)
        .select("user_id", "ts", "value")
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count("*").alias("n"),
        dec_sum("value").alias("hour_value"),
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    joined = grid.join(hourly, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.date_format("h", _FMT).alias("hour_start"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.last("hour_value", ignorenulls=True).over(w).alias("filled_value"),
    )


@register(
    "win_funnel_path",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, ts, event_type,
               max(CASE WHEN event_type = 'view' THEN ts END)
                   OVER w AS last_view_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    pass2 AS (
        SELECT user_id, event_type, last_view_ts, ts,
               max(CASE WHEN event_type = 'click'
                        AND ts - last_view_ts <= INTERVAL 4 HOUR
                        THEN ts END) OVER w AS last_click_ts
        FROM ordered
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
               MAX(CASE WHEN event_type = 'click'
                        AND ts - last_view_ts <= INTERVAL 4 HOUR
                        THEN 1 ELSE 0 END) AS s2,
               MAX(CASE WHEN event_type = 'purchase'
                        AND ts - last_click_ts <= INTERVAL 4 HOUR
                        THEN 1 ELSE 0 END) AS s3
        FROM pass2 GROUP BY user_id
    )
    SELECT CAST(s1 + s2 + s3 AS INT) AS funnel_depth,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY funnel_depth
    """,
)
def win_funnel_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded sequential funnel (MATCH_RECOGNIZE-lite): how far
    each user gets through view → click(≤4h later) → purchase(≤4h
    after that click) IN ORDER, as a depth histogram — the
    product-analytics conversion pattern every event pipeline needs.

    Two chained window passes share ONE partitioning and sort (user_id;
    ts, event_id) — Catalyst plans a single shuffle + sort with two
    Window nodes, so a funnel over 100 TB of events costs the same as
    one running sum. "Strictly earlier" uses a ROWS … 1 PRECEDING
    frame over a DETERMINISTIC total order (ts with event_id tiebreak)
    — row-order, not timestamp-inequality, so equal timestamps cannot
    drift between engines. The 4-hour conversion deadline compares
    interval subtraction identically on both sides; step k counts only
    if step k-1 completed strictly earlier and recently enough, so the
    depth is monotone by construction.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gap = F.expr("INTERVAL 4 HOUR")
    p1 = ev.withColumn(
        "last_view_ts",
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    click_ok = (F.col("event_type") == "click") & (
        F.col("ts") - F.col("last_view_ts") <= gap
    )
    p2 = p1.withColumn(
        "last_click_ts", F.max(F.when(click_ok, F.col("ts"))).over(w)
    )
    purchase_ok = (F.col("event_type") == "purchase") & (
        F.col("ts") - F.col("last_click_ts") <= gap
    )
    per_user = p2.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("s1"),
        F.max(F.when(click_ok, 1).otherwise(0)).alias("s2"),
        F.max(F.when(purchase_ok, 1).otherwise(0)).alias("s3"),
    )
    return (
        per_user.select(
            (F.col("s1") + F.col("s2") + F.col("s3")).cast("int").alias("funnel_depth")
        )
        .groupBy("funnel_depth")
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "ts_ohlc_bars",
    oracle="""
    WITH ordered AS (
        SELECT user_id, date_trunc('hour', ts) AS bar_hour, value,
               first_value(value) OVER w AS open_v,
               last_value(value)  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND UNBOUNDED FOLLOWING) AS close_v
        FROM events
        WINDOW w AS (PARTITION BY user_id, date_trunc('hour', ts)
                     ORDER BY ts, event_id)
    )
    SELECT user_id, bar_hour,
           min(open_v)  AS open,
           max(value)   AS high,
           min(value)   AS low,
           min(close_v) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
    FROM ordered
    GROUP BY user_id, bar_hour
    """,
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars: per (user, hour) open/high/low/close/volume — the
    classic time-series downsampling shape (financial bars, sensor
    rollups, metric pre-aggregation).

    Open/close are first/last in a DETERMINISTIC total order (ts,
    event_id) via one window whose partitioning equals the subsequent
    groupBy key, so the exchange is shared: one shuffle total. The
    last_value frame is pinned to UNBOUNDED FOLLOWING explicitly (the
    default frame stops at CURRENT ROW — the classic trap, same as
    win_first_last_nth). High/low/volume are plain order-insensitive
    aggregates; volume is decimal-summed for cross-engine exactness.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "bar_hour", F.date_trunc("hour", "ts")
    )
    wb = Window.partitionBy("user_id", "bar_hour").orderBy("ts", "event_id")
    ordered = ev.withColumn(
        "open_v", F.first("value").over(wb)
    ).withColumn(
        "close_v",
        F.last("value").over(
            wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    return ordered.groupBy("user_id", "bar_hour").agg(
        F.min("open_v").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.min("close_v").alias("close"),
        F.count("*").alias("n_events"),
        dec_sum("value").alias("volume"),
    )


@register(
    "win_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events
    ),
    runs AS (
        SELECT user_id, d,
               d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                        AS INTEGER) AS run_key
        FROM days
    ),
    streaks AS (
        SELECT user_id, run_key, CAST(COUNT(*) AS BIGINT) AS len,
               CAST(strftime(MIN(d), '%Y-%m-%d') AS VARCHAR) AS streak_start
        FROM runs GROUP BY user_id, run_key
    )
    SELECT user_id,
           MAX(len) AS longest_streak,
           MIN(CASE WHEN len = (SELECT MAX(len) FROM streaks s2
                                WHERE s2.user_id = streaks.user_id)
                    THEN streak_start END) AS first_best_start
    FROM streaks
    GROUP BY user_id
    """,
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands shape (retention/engagement analytics).

    The classic trick: for consecutive days, ``day − row_number`` is
    constant, so each island collapses to one group key with NO
    self-join and no iteration. One shuffle for the window, a
    same-key aggregation on top, and a per-user argmax over the
    (user × islands) frame — every stage linear. Ties on streak
    length resolve to the EARLIEST streak start, pinned on both
    engines (max_by alone would be nondeterministic).
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    runs = days.withColumn(
        "run_key", F.date_sub("d", F.row_number().over(w))
    )
    streaks = runs.groupBy("user_id", "run_key").agg(
        F.count("*").alias("len"),
        F.date_format(F.min("d"), "yyyy-MM-dd").alias("streak_start"),
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.min_by(
            F.col("streak_start"),
            F.struct((-F.col("len")).alias("neg"), F.col("streak_start")),
        ).alias("first_best_start"),
    )


@register(
    "ts_interp_linear",
    oracle="""
    WITH bounded AS (
        SELECT user_id, ts, value FROM events WHERE user_id < 12
    ),
    hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hour_value
        FROM bounded GROUP BY 1, 2
    ),
    bounds AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM bounded GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ),
    j AS (
        SELECT g.user_id, g.h, hy.hour_value
        FROM grid g
        LEFT JOIN hourly hy ON hy.user_id = g.user_id AND hy.h = g.h
    ),
    ctx AS (
        SELECT user_id, h, hour_value,
               last_value(hour_value IGNORE NULLS) OVER wp AS prev_v,
               last_value(CASE WHEN hour_value IS NOT NULL THEN h END IGNORE NULLS)
                   OVER wp AS prev_h,
               first_value(hour_value IGNORE NULLS) OVER wn AS next_v,
               first_value(CASE WHEN hour_value IS NOT NULL THEN h END IGNORE NULLS)
                   OVER wn AS next_h
        FROM j
        WINDOW wp AS (PARTITION BY user_id ORDER BY h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY h
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
           CASE WHEN hour_value IS NOT NULL THEN 0 ELSE 1 END AS interpolated,
           CASE WHEN hour_value IS NOT NULL THEN hour_value
                WHEN prev_v IS NULL THEN next_v
                WHEN next_v IS NULL THEN prev_v
                ELSE prev_v + (next_v - prev_v)
                     * (CAST(epoch_us(h) // 1000000 - epoch_us(prev_h) // 1000000 AS DOUBLE)
                        / CAST(epoch_us(next_h) // 1000000 - epoch_us(prev_h) // 1000000 AS DOUBLE))
           END AS interp_value
    FROM ctx
    """,
)
def ts_interp_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation onto an hourly grid (the lerp sibling of
    ts_gapfill's forward fill — sensor/metrics resampling).

    Same output-proportional grid as ts_gapfill, then two symmetric
    unbounded windows recover the bracketing observations: last
    non-null (value, hour) looking back, first non-null looking
    forward. The lerp is closed-form O(1) per row on doubles and the
    expression tree is written identically in the oracle, so IEEE
    arithmetic agrees bit-for-bit (the win_zscore/fn_array pattern —
    fold exactness comes from the DECIMAL hourly sums, not from
    rounding the result). Edge rows with no left (right) bracket take
    the nearest observation — extrapolation is clamped.

    One shuffle on user_id serves the bounds, the join, and both
    windows; the sort is shared between wp/wn (same ordering key).
    Boundary timestamps are exact hour marks, so the epoch arithmetic
    (Spark's truncating timestamp→long cast vs DuckDB epoch_us//1e6)
    is integral on both engines.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 12)
        .select("user_id", "ts", "value")
    )
    hourly = ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h")).agg(
        dec_sum("value").alias("hour_value")
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    j = grid.join(hourly, ["user_id", "h"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    hv = F.col("hour_value")
    obs_h = F.when(hv.isNotNull(), F.col("h"))
    ctx = j.select(
        "user_id",
        "h",
        "hour_value",
        F.last("hour_value", ignorenulls=True).over(wp).alias("prev_v"),
        F.last(obs_h, ignorenulls=True).over(wp).alias("prev_h"),
        F.first("hour_value", ignorenulls=True).over(wn).alias("next_v"),
        F.first(obs_h, ignorenulls=True).over(wn).alias("next_h"),
    )

    def sec(c: str):
        # NTZ → TIMESTAMP → long truncates, matching DuckDB
        # epoch_us(ts) // 1000000 (see CLAUDE.md time-arithmetic note).
        return F.col(c).cast("timestamp").cast("long")

    frac = (sec("h") - sec("prev_h")).cast("double") / (
        sec("next_h") - sec("prev_h")
    ).cast("double")
    interp = (
        F.when(hv.isNotNull(), hv)
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac)
    )
    return ctx.select(
        "user_id",
        F.date_format("h", _FMT).alias("hour_start"),
        F.when(hv.isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias("interpolated"),
        interp.alias("interp_value"),
    )


@register(
    "ts_seasonal_profile",
    oracle="""
    SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(value) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: the hour-of-day × day-of-week activity
    matrix (≤168 cells) — the first diagnostic for any event stream
    (load shaping, anomaly baselines, traffic-aware scheduling).

    Pure partial-aggregating groupBy: the shuffle carries at most 168
    cells per map task no matter the input size — the ideal 100 TB
    shape. Day-of-week numbering is pinned explicitly (Spark's
    ``dayofweek`` is 1=Sunday..7; DuckDB's ``dayofweek`` is
    0=Sunday..6, so the oracle adds 1) — weekday-numbering drift is a
    classic silent cross-engine bug.
    """
    ev = load_table(spark, sf_dir, "events", parallelize_scan=True)
    return ev.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count("*").alias("n_events"),
        dec_avg("value").alias("avg_value"),
    )


@register(
    "agg_cohort_retention",
    oracle="""
    WITH fw AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
        FROM events GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ),
    cs AS (
        SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
        FROM fw GROUP BY cohort
    ),
    ret AS (
        SELECT f.cohort,
               CAST((epoch_us(a.wk) - epoch_us(f.cohort)) // 604800000000
                    AS BIGINT) AS week_offset,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users
        FROM act a JOIN fw f ON f.user_id = a.user_id
        GROUP BY 1, 2
    )
    SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort_week,
           r.week_offset,
           r.active_users,
           c.cohort_size,
           CAST(r.active_users AS DOUBLE) / c.cohort_size AS retention
    FROM ret r JOIN cs c ON c.cohort = r.cohort
    """,
)
def agg_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by first-activity week,
    retention = fraction of each cohort active N weeks later — the
    product-analytics staple (and the training-data analog: corpus
    freshness decay per ingestion batch).

    Three bounded aggregations (first-week per user, distinct active
    weeks, cohort sizes) joined on user/cohort keys; output is
    O(weeks²) cells regardless of input size. Week offsets divide
    exactly (both engines truncate to Monday week starts, so the
    microsecond difference is an exact multiple of 604800e6 and
    floor-division is engine-identical); the retention ratio is one
    exact int→double division.
    """
    ev = load_table(spark, sf_dir, "events")
    fw = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    cs = fw.groupBy("cohort").agg(F.count("*").alias("cohort_size"))

    def us(c):
        return F.unix_micros(F.col(c).cast("timestamp"))

    ret = (
        act.join(fw, "user_id")
        .groupBy(
            "cohort",
            F.expr(
                "(unix_micros(CAST(wk AS TIMESTAMP))"
                " - unix_micros(CAST(cohort AS TIMESTAMP))) div 604800000000"
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )
    return ret.join(cs, "cohort").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "active_users",
        "cohort_size",
        (F.col("active_users").cast("double") / F.col("cohort_size")).alias(
            "retention"
        ),
    )


@register(
    "ts_autocorr",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events WHERE value IS NOT NULL
        GROUP BY 1
    ),
    lagged AS (
        SELECT h, cents,
               lag(cents, 1) OVER (ORDER BY h) AS l1,
               lag(cents, 24) OVER (ORDER BY h) AS l24
        FROM hourly
    ),
    pairs AS (
        SELECT 1 AS lag_hours, cents AS y, l1 AS x FROM lagged WHERE l1 IS NOT NULL
        UNION ALL
        SELECT 24 AS lag_hours, cents AS y, l24 AS x FROM lagged WHERE l24 IS NOT NULL
    ),
    s AS (
        SELECT lag_hours,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY lag_hours
    )
    SELECT CAST(lag_hours AS INT) AS lag_hours, n,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
                 6) AS autocorr
    FROM s
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly activity series at lag 1 and lag
    24 — the periodicity diagnostic (daily seasonality shows as a
    lag-24 peak) every forecasting pipeline computes first.

    The series is exact integer cents per hour, so the correlation's
    sufficient statistics stay in int64 end-to-end (a single
    correctly-rounded int→double conversion each — no wide-DECIMAL
    two-step-rounding hazard), and the Pearson closed form runs on
    identical expression trees. The lag window is over the HOURLY
    SERIES (O(time span) rows), not raw events — the only safe place
    for an unpartitioned window. Output: one row per lag.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents")
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "h",
        "cents",
        F.lag("cents", 1).over(w).alias("l1"),
        F.lag("cents", 24).over(w).alias("l24"),
    )
    pairs = (
        lagged.where(F.col("l1").isNotNull())
        .select(F.lit(1).alias("lag_hours"), F.col("cents").alias("y"), F.col("l1").alias("x"))
        .unionByName(
            lagged.where(F.col("l24").isNotNull()).select(
                F.lit(24).alias("lag_hours"),
                F.col("cents").alias("y"),
                F.col("l24").alias("x"),
            )
        )
    )
    s = pairs.groupBy("lag_hours").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    ac = (n * sxy.cast("double") - sx.cast("double") * sy) / (
        F.sqrt(n * sxx.cast("double") - sx.cast("double") * sx)
        * F.sqrt(n * syy.cast("double") - sy.cast("double") * sy)
    )
    return s.select(
        F.col("lag_hours").cast("int").alias("lag_hours"),
        "n",
        F.round(ac, 6).alias("autocorr"),
    )


@register(
    "agg_dau_wau",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ),
    dau AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY d
    ),
    contrib AS (
        SELECT DISTINCT user_id, d + to_days(CAST(k.k AS INT)) AS wend
        FROM ud, (SELECT UNNEST(range(0, 7)) AS k) k
    ),
    wau AS (
        SELECT wend, CAST(COUNT(*) AS BIGINT) AS wau FROM contrib GROUP BY wend
    )
    SELECT strftime(dau.d, '%Y-%m-%d') AS day,
           dau.dau,
           wau.wau,
           ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON wau.wend = dau.d
    """,
)
def agg_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU engagement metrics with the DAU/WAU "stickiness"
    ratio — and the scale trick that makes a TRAILING-7-DAY DISTINCT
    computable as a plain groupBy: each active (user, day) is
    replicated to the 7 window-end days it supports, deduplicated, and
    counted. No sliding distinct window (inexpressible), no 7-way
    self-join — shuffle volume is 7x the active-pairs table, which is
    already the smallest frame in the query. All counts exact
    integers; one rounded O(1) ratio.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    dau = ud.groupBy("d").agg(F.count("*").alias("dau"))
    contrib = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"),
            "d",
        )
        .select(
            "user_id",
            F.timestamp_add("DAY", F.col("k").cast("int"), F.col("d")).alias(
                "wend"
            ),
        )
        .distinct()
    )
    wau = contrib.groupBy("wend").agg(F.count("*").alias("wau"))
    return dau.join(wau, wau.wend == dau.d).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
            "stickiness"
        ),
    )


@register(
    "ts_burst_detect",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    ctx AS (
        SELECT h, n,
               CAST(SUM(n) OVER (ORDER BY h
                                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
                    AS BIGINT) AS base_n,
               CAST(COUNT(*) OVER (ORDER BY h
                                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
                    AS BIGINT) AS base_hours
        FROM hourly
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
           n AS n_events,
           base_n, base_hours,
           ROUND(CAST(n * base_hours AS DOUBLE) / base_n, 6) AS burst_ratio
    FROM ctx
    WHERE base_hours >= 12 AND n * base_hours > 2 * base_n
    """,
)
def ts_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: hours whose event count exceeds 2x the
    trailing-24-hour average — the monitoring/alerting primitive
    (traffic spikes, abuse, scraper storms). The comparison is the
    CROSS-MULTIPLIED integer inequality ``n * base_hours > 2 *
    base_n`` so the burst boundary is exact on both engines (no
    float division decides membership; the reported ratio is
    display-only). Warm-up hours (<12h of history) are excluded.
    One series-level window over the hourly aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").alias("n")
    )
    w = Window.orderBy("h").rowsBetween(-24, -1)
    ctx = hourly.select(
        "h",
        "n",
        F.sum("n").over(w).alias("base_n"),
        F.count("*").over(w).alias("base_hours"),
    )
    return (
        ctx.where(
            (F.col("base_hours") >= 12)
            & (F.col("n") * F.col("base_hours") > 2 * F.col("base_n"))
        )
        .select(
            F.date_format("h", _FMT).alias("hour_start"),
            F.col("n").alias("n_events"),
            "base_n",
            "base_hours",
            F.round(
                (F.col("n") * F.col("base_hours")).cast("double")
                / F.col("base_n"),
                6,
            ).alias("burst_ratio"),
        )
    )


@register(
    "win_sessionize_gap",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS us,
               LAG(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sess AS (
        SELECT user_id, us,
               SUM(is_new) OVER
                   (PARTITION BY user_id ORDER BY us, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, sid,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               (MAX(us) - MIN(us)) // 1000000 AS dur_s
        FROM sess GROUP BY user_id, sid
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MAX(n_events) AS BIGINT) AS longest_session_events,
           CAST(SUM(dur_s) AS BIGINT) AS total_active_s
    FROM per_session
    GROUP BY user_id
    """,
)
def win_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization by inactivity gap (30 min) — the
    gaps-and-islands twin of ``stream_session``'s session window.

    LAG flags session starts, a running sum numbers sessions — ONE
    shuffle on user_id serves both window passes and the two
    same-key aggregations above them (Catalyst reuses the exchange),
    so the whole op is linear with a single partition-by-user pass.
    All arithmetic is int64 microseconds (truncating //1e6 for
    seconds, identical on both engines); ties in ts break on
    event_id so session numbering is deterministic.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w_ord = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(w_ord).isNull()
            | (F.col("us") - F.lag("us").over(w_ord) > 1_800_000_000),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "sid", F.sum("is_new").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_session = sess.groupBy("user_id", "sid").agg(
        F.count("*").alias("n_events"),
        ((F.max("us") - F.min("us")) / F.lit(1_000_000))
        .cast("long")
        .alias("dur_s"),
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n_events").alias("longest_session_events"),
        F.sum("dur_s").alias("total_active_s"),
    )


@register(
    "agg_markov_transition",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
    FROM pairs
    """,
)
def agg_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (funnel/behavior modeling).

    LEAD pairs each event with its successor (one shuffle on
    user_id), the pair count is a bounded |types|² aggregate, and the
    row-normalization runs on that tiny frame — at 100 TB the only
    full-data cost is the sequence window. The probability is ONE
    int64÷int64 IEEE division, bit-identical across engines.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    w_from = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w_from).cast("double")).alias(
            "p"
        ),
    )


@register(
    "ts_changepoint_cusum",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(cnt) AS BIGINT) AS total
        FROM daily
    ),
    cum AS (
        SELECT d, cnt,
               SUM(cnt) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS prefix,
               CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS k
        FROM daily
    )
    SELECT CAST(strftime(c.d, '%Y-%m-%d') AS VARCHAR) AS day,
           c.cnt,
           CAST(t.n_days * c.prefix - c.k * t.total AS BIGINT)
               AS cusum_scaled,
           CASE WHEN ABS(t.n_days * c.prefix - c.k * t.total) =
                (SELECT MAX(ABS(n_days * prefix - k * total))
                 FROM cum, tot)
                AND c.d = (SELECT MIN(c2.d) FROM cum c2, tot t2
                           WHERE ABS(t2.n_days * c2.prefix - c2.k * t2.total)
                               = (SELECT MAX(ABS(n_days * prefix - k * total))
                                  FROM cum, tot))
                THEN 1 ELSE 0 END AS is_changepoint
    FROM cum c, tot t
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over the daily event-count series.

    The classic statistic S_k = Σ_{i≤k}(x_i − μ) needs the float mean;
    scaling by n makes it exact: n·S_k = n·prefix_k − k·total, pure
    int64 — no epsilon, hash-identical. The flagged day (max |n·S_k|,
    earliest on ties) is the most likely level-shift point. Cost: one
    day-grain aggregate, then windows over the tiny daily frame; the
    1-row totals broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count("*").alias("cnt"))
    tot = daily.agg(
        F.count("*").alias("n_days"), F.sum("cnt").alias("total")
    )
    w = Window.orderBy("d")
    cum = daily.select(
        "d",
        "cnt",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "prefix"
        ),
        F.row_number().over(w).cast("long").alias("k"),
    ).crossJoin(F.broadcast(tot))
    scored = cum.withColumn(
        "cusum_scaled",
        (F.col("n_days") * F.col("prefix") - F.col("k") * F.col("total")).cast(
            "long"
        ),
    )
    peak = scored.agg(
        F.max(F.abs("cusum_scaled")).alias("peak"),
        F.min_by(
            "d", F.struct((-F.abs(F.col("cusum_scaled"))).alias("neg"), F.col("d"))
        ).alias("peak_day"),
    )
    return scored.crossJoin(F.broadcast(peak)).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "cnt",
        "cusum_scaled",
        F.when(
            (F.abs("cusum_scaled") == F.col("peak"))
            & (F.col("d") == F.col("peak_day")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_changepoint"),
    )


@register(
    "ts_twap",
    oracle="""
    WITH spans AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               epoch_us(ts) AS us,
               LEAD(epoch_us(ts)) OVER
                   (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
                    ORDER BY ts, event_id) AS next_us
        FROM events
    ),
    weighted AS (
        SELECT user_id, d,
               cents * (next_us - us) AS num_part,
               next_us - us AS dur_us
        FROM spans WHERE next_us IS NOT NULL
    )
    SELECT user_id,
           CAST(strftime(d, '%Y-%m-%d') AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(num_part) AS DOUBLE)
               / CAST(SUM(dur_us) AS DOUBLE) / 100.0 AS twap
    FROM weighted
    GROUP BY user_id, d
    HAVING COUNT(*) > 0
    """,
)
def ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per user-day (TWAP) — each value
    weighted by how long it was "live" (until the next event that day).

    All sufficient statistics are int64: cents × microsecond duration
    (≤5e4 × 8.6e10 ≈ 4e15 per span, summed per user-day, far under
    2^63), so partial aggregation map-side-combines exactly. The final
    two int64→double conversions and one division are each single
    IEEE operations — bit-identical across engines (the reason to
    avoid summing raw doubles, CLAUDE.md int64 note). Days with a
    single event have no span and drop out on both sides.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.date_trunc("day", "ts").cast("date").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id", "d").orderBy("us", "event_id")
    spans = ev.withColumn("next_us", F.lead("us").over(w)).where(
        F.col("next_us").isNotNull()
    )
    dur = F.col("next_us") - F.col("us")
    return (
        spans.groupBy("user_id", "d")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("cents") * dur).alias("num"),
            F.sum(dur).alias("den"),
        )
        .select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_spans",
            (
                F.col("num").cast("double") / F.col("den").cast("double") / F.lit(100.0)
            ).alias("twap"),
        )
    )


@register(
    "agg_new_vs_returning",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT CAST(date_trunc('day', e.ts) AS DATE) AS d, e.user_id,
               f.d0
        FROM events e JOIN first_seen f ON f.user_id = e.user_id
        GROUP BY 1, 2, 3
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(SUM(CASE WHEN d = d0 THEN 1 ELSE 0 END) AS BIGINT)
               AS new_users,
           CAST(SUM(CASE WHEN d > d0 THEN 1 ELSE 0 END) AS BIGINT)
               AS returning_users
    FROM daily
    GROUP BY d
    """,
)
def agg_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new vs returning active users — the first product-
    analytics chart anyone draws, and the daily-grain complement to
    ``agg_cohort_retention`` (monthly) and ``agg_dau_wau``
    (stickiness).

    first-seen day is one per-user aggregate; actives dedupe to
    (day, user); the classification is an exact date comparison. At
    any scale this is two aggregates and a first-seen join keyed on
    user_id — no window over raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    first_seen = ev.groupBy("user_id").agg(F.min(day).alias("d0"))
    daily = (
        ev.select("user_id", day.alias("d"))
        .distinct()
        .join(first_seen, "user_id")
    )
    return daily.groupBy("d").agg(
        F.sum(F.when(F.col("d") == F.col("d0"), 1).otherwise(0)).alias(
            "new_users"
        ),
        F.sum(F.when(F.col("d") > F.col("d0"), 1).otherwise(0)).alias(
            "returning_users"
        ),
    ).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "new_users",
        "returning_users",
    )


@register(
    "win_session_funnel",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, event_type,
               epoch_us(ts) AS us,
               CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                            > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, event_type, us, event_id,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM ordered
    ),
    per_session AS (
        SELECT user_id, sid,
               MIN(CASE WHEN event_type = 'view' THEN us END) AS first_view,
               MAX(CASE WHEN event_type = 'purchase' THEN us END)
                   AS last_purchase
        FROM sess GROUP BY user_id, sid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_view,
           CAST(SUM(CASE WHEN first_view IS NOT NULL
                          AND last_purchase > first_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           CAST(SUM(CASE WHEN first_view IS NOT NULL
                          AND last_purchase > first_view
                         THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) AS session_cvr
    FROM per_session
    """,
)
def win_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped funnel conversion: of sessions that saw a
    `view`, how many completed a `purchase` AFTER it in the SAME
    session — the per-visit CVR, stricter than user-level funnels
    (``win_funnel_path``) because crossing a 30-min gap resets intent.

    Reuses the win_sessionize_gap construction (one user_id exchange
    for both window passes), then per-session min/max timestamps of
    the two funnel stages — order is enforced by comparing those
    int64 microseconds, never by row adjacency. Output is a single
    exact report row; CVR is one int64÷int64 division.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w_ord = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(w_ord).isNull()
            | (F.col("us") - F.lag("us").over(w_ord) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("is_new").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sess.groupBy("user_id", "sid").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias(
            "first_view"
        ),
        F.max(F.when(F.col("event_type") == "purchase", F.col("us"))).alias(
            "last_purchase"
        ),
    )
    converted = F.when(
        F.col("first_view").isNotNull()
        & (F.col("last_purchase") > F.col("first_view")),
        1,
    ).otherwise(0)
    with_view = F.when(F.col("first_view").isNotNull(), 1).otherwise(0)
    return per_session.agg(
        F.count("*").alias("n_sessions"),
        F.sum(with_view).alias("n_with_view"),
        F.sum(converted).alias("n_converted"),
        (F.sum(converted).cast("double") / F.sum(with_view).cast("double")).alias(
            "session_cvr"
        ),
    )


@register(
    "agg_attribution_last_touch",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, value, ts, event_id,
               LAG(CASE WHEN event_type <> 'purchase' THEN event_type END
                   IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS touch
        FROM events
    )
    SELECT COALESCE(touch, '<organic>') AS touch_channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS attributed_cents
    FROM ordered
    WHERE event_type = 'purchase'
    GROUP BY COALESCE(touch, '<organic>')
    """,
)
def agg_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the
    user's most recent preceding non-purchase event type (purchases
    with no prior touch are `<organic>`) — the marketing-analytics
    staple, and a showcase for the
    IGNORE-NULLS running-last window (LAG ... IGNORE NULLS in SQL,
    `last(..., ignorenulls=True)` over a preceding frame in the
    DataFrame API), the feature naive lag loops get wrong.

    One user_id window (the same exchange every sequence op here
    shares), then a bounded |event types| aggregate of integer cents.
    IGNORE NULLS skips intervening purchases without a self-join or
    second pass — at 100 TB the alternative (join events to the max
    prior non-purchase ts) would be a second shuffle plus an
    inequality join.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    ordered = ev.withColumn("touch", touch)
    return (
        ordered.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("<organic>")).alias("touch_channel"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "attributed_cents"
            ),
        )
    )


@register(
    "agg_growth_accounting",
    oracle="""
    WITH mu AS (
        SELECT DISTINCT date_trunc('month', ts) AS m, user_id FROM events
    ),
    flags AS (
        SELECT m, user_id,
               MIN(m) OVER (PARTITION BY user_id) AS first_m,
               LAG(m) OVER (PARTITION BY user_id ORDER BY m) AS prev_m
        FROM mu
    ),
    classified AS (
        SELECT m,
               CASE WHEN m = first_m THEN 'new'
                    WHEN prev_m = m - INTERVAL 1 MONTH THEN 'retained'
                    ELSE 'resurrected' END AS kind
        FROM flags
    ),
    gains AS (
        SELECT strftime(m, '%Y-%m') AS month,
               CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT)
                   AS new_users,
               CAST(SUM(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END)
                    AS BIGINT) AS retained,
               CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END)
                    AS BIGINT) AS resurrected
        FROM classified GROUP BY 1
    ),
    churn AS (
        SELECT strftime(a.m + INTERVAL 1 MONTH, '%Y-%m') AS month,
               CAST(COUNT(*) AS BIGINT) AS churned
        FROM mu a
        WHERE NOT EXISTS (
            SELECT 1 FROM mu b
            WHERE b.user_id = a.user_id AND b.m = a.m + INTERVAL 1 MONTH
        )
        GROUP BY 1
    )
    SELECT g.month, g.new_users, g.retained, g.resurrected,
           COALESCE(c.churned, 0) AS churned_from_prev
    FROM gains g LEFT JOIN churn c ON c.month = g.month
    """,
)
def agg_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAU growth accounting — every month's actives decomposed into
    new / retained / resurrected, plus the users churned out of the
    previous month (the Reforge/a16z growth-audit frame; MAU(m) =
    new+retained+resurrected, MAU(m-1) = retained+churned as the
    consistency check).

    The per-user activity stream is tiny after the (month, user)
    dedupe, so the classification window and the churn anti-join both
    run on frames ~1/1000th of events; everything is exact integer
    counts. One user_id window + one anti-join, both on already-
    reduced data.
    """
    ev = load_table(spark, sf_dir, "events")
    mu = ev.select(
        F.date_trunc("month", "ts").alias("m"), "user_id"
    ).distinct()
    w_user = Window.partitionBy("user_id")
    w_seq = Window.partitionBy("user_id").orderBy("m")
    flags = mu.select(
        "m",
        F.min("m").over(w_user).alias("first_m"),
        F.lag("m").over(w_seq).alias("prev_m"),
    )
    kind = (
        F.when(F.col("m") == F.col("first_m"), "new")
        .when(
            F.col("prev_m") == F.col("m") - F.expr("INTERVAL 1 MONTH"),
            "retained",
        )
        .otherwise("resurrected")
    )
    gains = (
        flags.select(F.date_format("m", "yyyy-MM").alias("month"), kind.alias("kind"))
        .groupBy("month")
        .agg(
            F.sum(F.when(F.col("kind") == "new", 1).otherwise(0)).alias(
                "new_users"
            ),
            F.sum(F.when(F.col("kind") == "retained", 1).otherwise(0)).alias(
                "retained"
            ),
            F.sum(F.when(F.col("kind") == "resurrected", 1).otherwise(0)).alias(
                "resurrected"
            ),
        )
    )
    nxt = mu.select(
        (F.col("m") + F.expr("INTERVAL 1 MONTH")).alias("m"), "user_id"
    )
    churn = (
        nxt.join(mu, ["m", "user_id"], "left_anti")
        .groupBy(F.date_format("m", "yyyy-MM").alias("month"))
        .agg(F.count("*").alias("churned_from_prev"))
    )
    return gains.join(churn, "month", "left").select(
        "month",
        "new_users",
        "retained",
        "resurrected",
        F.coalesce("churned_from_prev", F.lit(0)).alias("churned_from_prev"),
    )


@register(
    "ts_uptime_sla",
    oracle="""
    WITH buckets AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               time_bucket(INTERVAL '5 minutes', ts) AS b
        FROM events GROUP BY 1, 2
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS live_buckets,
           CAST(288 - COUNT(*) AS BIGINT) AS dark_buckets,
           CAST(COUNT(*) * 1000000 AS DOUBLE) / 288.0 / 1000000.0
               AS availability
    FROM buckets
    GROUP BY d
    """,
)
def ts_uptime_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Availability / uptime SLA report: fraction of a day's 288
    five-minute buckets that saw at least one event — the heartbeat
    metric behind "three nines", where a dark bucket is an outage
    candidate (``ts_gapfill`` densifies; this SCORES the darkness).

    Distinct (day, bucket) pairs reduce events in one pass; the
    availability ratio is one exact int64 division against the fixed
    288-bucket denominator. Linear, two shuffles keyed by the bucket.
    """
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("d"),
        F.window("ts", "5 minutes").getField("start").alias("b"),
    ).distinct()
    return buckets.groupBy("d").agg(
        F.count("*").alias("live_buckets"),
        (F.lit(288) - F.count("*")).alias("dark_buckets"),
        (
            (F.count("*") * F.lit(1_000_000)).cast("double")
            / F.lit(288.0)
            / F.lit(1_000_000.0)
        ).alias("availability"),
    ).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "live_buckets",
        "dark_buckets",
        "availability",
    )


@register(
    "ts_survival_km",
    oracle="""
    WITH mx AS (SELECT MAX(epoch_us(ts) // 1000000) AS mx FROM events),
    u AS (
        SELECT user_id,
               (MAX(epoch_us(ts) // 1000000) - MIN(epoch_us(ts) // 1000000))
                   // 86400 AS dur,
               CASE WHEN MAX(epoch_us(ts) // 1000000)
                         >= (SELECT mx FROM mx) - 7 * 86400
                    THEN 1 ELSE 0 END AS censored
        FROM events GROUP BY user_id
    ),
    g AS (
        SELECT dur,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(1 - censored) AS BIGINT) AS d
        FROM u GROUP BY dur
    ),
    km AS (
        SELECT dur AS t, d,
               CAST(SUM(n) OVER (ORDER BY dur DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS n_risk
        FROM g
    )
    SELECT CAST(t AS BIGINT) AS t_days, n_risk, d,
           CAST((n_risk - d) * 1000000 // n_risk AS BIGINT)
               AS surv_step_ppm
    FROM km WHERE t <= 30
    """,
)
def ts_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival table over user activity lifetimes —
    duration from first to last event, right-censored for users still
    active in the final 7 days of the observation window (the
    retention-analysis core of churn modeling). Emits the KM
    ingredients per observed duration: risk-set size, uncensored
    events, and the per-step survival factor (n−d)/n as an exact ppm
    integer (one positive floor division; the cumulative product is
    left to the consumer because chained products are float-order
    territory — each step here is exact).

    Scale shape: one per-user aggregate (map-side combinable), a
    duration-grouped count (output ≤ distinct durations, days-sized),
    and a descending running sum over that tiny frame — the classic
    "risk set = suffix sum" trick, no per-time-point pass over users.
    The 1-row global max broadcasts.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    mx = ev.agg(F.max(sec).alias("mx"))
    u = (
        ev.select("user_id", sec.alias("sec"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("first_s"), F.max("sec").alias("last_s"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.expr("(last_s - first_s) div 86400").alias("dur"),
            F.when(F.col("last_s") >= F.col("mx") - 7 * 86400, 1)
            .otherwise(0)
            .alias("censored"),
        )
    )
    g = u.groupBy("dur").agg(
        F.count("*").alias("n"),
        F.sum(1 - F.col("censored")).alias("d"),
    )
    w = Window.orderBy(F.desc("dur")).rowsBetween(Window.unboundedPreceding, 0)
    km = g.select(
        F.col("dur").alias("t_days"),
        F.sum("n").over(w).cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("d"),
    )
    return km.where(F.col("t_days") <= 30).select(
        "t_days",
        "n_risk",
        "d",
        F.expr("(n_risk - d) * 1000000 div n_risk").cast("bigint").alias(
            "surv_step_ppm"
        ),
    )


@register(
    "agg_peak_concurrency",
    oracle="""
    WITH iv AS (
        SELECT user_id,
               epoch_us(ts) // 86400000000 AS day,
               MIN(epoch_us(ts) // 1000000) AS s,
               MAX(epoch_us(ts) // 1000000) + 1 AS e
        FROM events
        GROUP BY user_id, epoch_us(ts) // 86400000000
    ),
    deltas AS (
        SELECT day, s AS t, 1 AS delta FROM iv
        UNION ALL
        SELECT day, e AS t, -1 AS delta FROM iv
    ),
    swept AS (
        SELECT day, t,
               SUM(delta) OVER (PARTITION BY day ORDER BY t, delta
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS live
        FROM deltas
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(MAX(live) AS BIGINT) AS peak_concurrent,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_sessions
    FROM swept GROUP BY day
    """,
)
def agg_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day — the capacity-planning number
    (max simultaneous active users), computed with the classic
    +1/−1 sweep: each user-day activity interval contributes a start
    (+1) and an exclusive end (−1) event; a running sum over the
    time-ordered deltas is the live-session count, and its max is the
    peak. Orders (t, delta) so a −1 at time t applies before a +1 at
    the same t — the same deterministic tie rule on both engines.

    The sweep's window partitions BY DAY, so no global ordering
    exists anywhere — each day's delta list (≤2·users rows) sorts
    independently. Interval extraction is one map-side-combining
    aggregate over events. n_sessions rides along as a sanity column
    (delta rows / 2).
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    iv = (
        ev.select("user_id", sec.alias("sec"), F.expr(
            "CAST(CAST(ts AS TIMESTAMP) AS LONG) div 86400"
        ).alias("day"))
        .groupBy("user_id", "day")
        .agg(F.min("sec").alias("s"), (F.max("sec") + 1).alias("e"))
    )
    deltas = iv.select(
        "day", F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(iv.select("day", F.col("e").alias("t"), F.lit(-1).alias("delta")))
    w = Window.partitionBy("day").orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, 0
    )
    swept = deltas.select("day", F.sum("delta").over(w).alias("live"))
    return swept.groupBy("day").agg(
        F.max("live").cast("bigint").alias("peak_concurrent"),
        (F.count("*") / 2).cast("bigint").alias("n_sessions"),
    )


@register(
    "ts_backtest_snaive",
    oracle="""
    WITH daily AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY epoch_us(ts) // 86400000000
    ),
    joined AS (
        SELECT a.day, a.cents AS actual, f.cents AS forecast
        FROM daily a JOIN daily f ON f.day = a.day - 7
    )
    SELECT CAST(day % 7 AS BIGINT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_forecasts,
           CAST(SUM(abs(actual - forecast)) AS BIGINT) AS abs_err_cents,
           CAST(SUM(actual - forecast) AS BIGINT) AS bias_cents,
           CAST(SUM(abs(actual - forecast)) * 1000000 // SUM(actual)
                AS BIGINT) AS wmape_ppm
    FROM joined GROUP BY day % 7
    """,
)
def ts_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the seasonal-naive forecast
    (ŷ(d) = y(d−7)) — the baseline every forecasting system must
    report before anything fancier gets credit, and the evaluation
    harness shape (join actuals to lagged forecasts, aggregate error
    metrics) that any model's backtest reuses. Per weekday slice:
    absolute error, signed bias, and weighted MAPE as one exact ppm
    division (Σ|err| / Σactual — the aggregate-then-divide form that
    avoids per-row ratio floors compounding).

    Day-grain pre-aggregate map-side combines; the 7-day lag is a
    self-equi-join on day−7 over the tiny daily frame (a lag window
    would work too — the join form generalizes to forecasts produced
    by a separate pipeline).
    """
    daily = events_daily(spark, sf_dir).select("day", "cents")
    a = daily.alias("a")
    f = daily.select(
        (F.col("day") + 7).alias("day"), F.col("cents").alias("forecast")
    ).alias("f")
    joined = a.join(f, "day").select(
        "day", F.col("cents").alias("actual"), "forecast"
    )
    return joined.groupBy((F.col("day") % 7).cast("bigint").alias("dow")).agg(
        F.count("*").alias("n_forecasts"),
        F.sum(F.abs(F.col("actual") - F.col("forecast"))).alias(
            "abs_err_cents"
        ),
        F.sum(F.col("actual") - F.col("forecast")).alias("bias_cents"),
        F.expr(
            "SUM(abs(actual - forecast)) * 1000000 div SUM(actual)"
        )
        .cast("bigint")
        .alias("wmape_ppm"),
    )


@register(
    "ts_hampel_outliers",
    oracle="""
    WITH daily AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY epoch_us(ts) // 86400000000
    ),
    med AS (
        SELECT a.day, a.cents,
               CAST(2 * median(b.cents) AS BIGINT) AS med2,
               CAST(COUNT(*) AS BIGINT) AS w_n
        FROM daily a JOIN daily b ON b.day BETWEEN a.day - 3 AND a.day + 3
        GROUP BY a.day, a.cents
    ),
    mad AS (
        SELECT m.day, m.cents, m.med2, m.w_n,
               CAST(2 * median(abs(2 * b.cents - m.med2)) AS BIGINT) AS mad4
        FROM med m JOIN daily b ON b.day BETWEEN m.day - 3 AND m.day + 3
        GROUP BY m.day, m.cents, m.med2, m.w_n
    )
    SELECT day, cents, med2 AS window_median_half_cents,
           mad4 AS window_mad_quarter, w_n,
           CAST(CASE WHEN 2 * abs(2 * cents - med2) > 6 * mad4
                THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
    FROM mad
    """,
)
def ts_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter: rolling-window robust outlier detection on the
    daily revenue series — each day compared against the median ± 3·MAD
    of its ±3-day neighborhood, the standard despiking filter that
    (unlike rolling z-scores) one spike cannot poison. Completes the
    robust family: dq_anomaly_iqr (global fences), dq_mad_outliers
    (grouped fences), and now the ROLLING variant time series need.

    Exactness is the doubled-dyadic-median machinery again (2·median
    of ints is an integer; the 3-MAD comparison 2|2x−med2| > 6·mad4
    stays integral). The windowed medians are day-range self-joins on
    the DAILY frame — nested window-median functions don't exist in
    either engine, and the frame is calendar-bounded, so the ±3-day
    join is ~7 rows per day regardless of event volume.
    """
    daily = events_daily(spark, sf_dir).select("day", "cents")
    a, b = daily.alias("a"), daily.alias("b")
    med = (
        a.join(
            b,
            F.col("b.day").between(F.col("a.day") - 3, F.col("a.day") + 3),
        )
        .groupBy(F.col("a.day").alias("day"), F.col("a.cents").alias("cents"))
        .agg(
            (2 * F.percentile(F.col("b.cents"), F.lit(0.5)))
            .cast("bigint")
            .alias("med2"),
            F.count("*").alias("w_n"),
        )
    )
    m, b2 = med.alias("m"), daily.alias("b2")
    mad = (
        m.join(
            b2,
            F.col("b2.day").between(F.col("m.day") - 3, F.col("m.day") + 3),
        )
        .groupBy("m.day", "m.cents", "m.med2", "m.w_n")
        .agg(
            (2 * F.percentile(
                F.abs(2 * F.col("b2.cents") - F.col("m.med2")), F.lit(0.5)
            ))
            .cast("bigint")
            .alias("mad4")
        )
    )
    return mad.select(
        F.col("day"),
        F.col("cents"),
        F.col("med2").alias("window_median_half_cents"),
        F.col("mad4").alias("window_mad_quarter"),
        F.col("w_n"),
        F.when(
            2 * F.abs(2 * F.col("cents") - F.col("med2")) > 6 * F.col("mad4"), 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("is_outlier"),
    )


@register(
    "agg_cohort_ltv",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               MIN(date_trunc('month', o_orderdate)) AS cohort
        FROM orders GROUP BY o_custkey
    ),
    rev AS (
        SELECT f.cohort,
               (CAST(year(o.o_orderdate) AS BIGINT) * 12
                + month(o.o_orderdate))
             - (CAST(year(f.cohort) AS BIGINT) * 12 + month(f.cohort))
                   AS month_offset,
               CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    ),
    base AS (
        SELECT cohort, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
        FROM orders o JOIN firsts f USING (o_custkey) GROUP BY cohort
    ),
    m AS (
        SELECT cohort, month_offset, CAST(SUM(cents) AS BIGINT) AS rev_cents
        FROM rev WHERE month_offset <= 6 GROUP BY cohort, month_offset
    ),
    cum AS (
        SELECT cohort, month_offset,
               SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY month_offset
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_cents
        FROM m
    )
    SELECT strftime(c.cohort, '%Y-%m') AS cohort,
           CAST(c.month_offset AS BIGINT) AS month_offset,
           CAST(c.cum_cents AS BIGINT) AS cum_rev_cents,
           b.n_cust,
           CAST(c.cum_cents // b.n_cust AS BIGINT) AS ltv_cents_per_cust
    FROM cum c JOIN base b USING (cohort)
    WHERE strftime(c.cohort, '%Y-%m') <= '1996-06'
    """,
)
def agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: cumulative revenue per acquisition
    cohort by month offset, divided by cohort size — the LTV table
    that payback-period and CAC decisions read, complementing
    agg_cohort_retention's activity counts with money. Month offsets
    are pure integer calendar arithmetic (y·12+m differences), the
    running sum is per-cohort (no global order), and LTV-per-customer
    is an exact integer floor division of cents. Bounded to offsets
    ≤6 and cohorts ≤1996-06 to keep the oracle frame stable across
    fixture scales.

    One first-purchase aggregate (broadcastable), one fact join, a
    (cohort × offset) rollup, and a tiny partitioned window.
    """
    orders = load_table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort")
    )
    joined = orders.join(F.broadcast(firsts), "o_custkey")
    off = (
        F.year("o_orderdate") * 12
        + F.month("o_orderdate")
        - (F.year("cohort") * 12 + F.month("cohort"))
    ).cast("bigint")
    m = (
        joined.select(
            "cohort",
            off.alias("month_offset"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        )
        .where(F.col("month_offset") <= 6)
        .groupBy("cohort", "month_offset")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    base = joined.groupBy("cohort").agg(
        F.countDistinct("o_custkey").alias("n_cust")
    )
    w = Window.partitionBy("cohort").orderBy("month_offset").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = m.select(
        "cohort", "month_offset", F.sum("rev_cents").over(w).alias("cum_cents")
    )
    return (
        cum.join(F.broadcast(base), "cohort")
        .where(F.date_format("cohort", "yyyy-MM") <= "1996-06")
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort"),
            "month_offset",
            F.col("cum_cents").cast("bigint").alias("cum_rev_cents"),
            "n_cust",
            F.expr("cum_cents div n_cust").cast("bigint").alias(
                "ltv_cents_per_cust"
            ),
        )
    )


@register(
    "ts_interarrival",
    oracle="""
    WITH seqd AS (
        SELECT user_id,
               epoch_us(ts) // 1000000 AS sec,
               event_id
        FROM events
    ),
    gaps AS (
        SELECT sec - lag(sec) OVER (PARTITION BY user_id
                                    ORDER BY sec, event_id) AS gap_s
        FROM seqd
    ),
    g AS (SELECT gap_s FROM gaps WHERE gap_s IS NOT NULL)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(2 * quantile_cont(gap_s, 0.5) AS BIGINT) AS p50_half_s,
           CAST(2 * quantile_cont(gap_s, 0.75) AS BIGINT) AS p75_half_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
           CAST(SUM(CASE WHEN gap_s = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_same_second
    FROM g
    """,
)
def ts_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per user stream — the traffic-
    model summary behind capacity planning and bot detection (humans
    have heavy-tailed gaps; scripts are metronomes, visible in the
    same-second count). Gaps come from one per-user lag window with a
    total (sec, event_id) order; the p50/p75 are exact doubled-dyadic
    medians/quartiles of integer seconds (0.75 interpolation weight
    is dyadic — 0.9 would not be, see ml_decision_stump).

    One shuffle on user_id for the lag; the quantiles run over the
    gap multiset (at 100 TB: the stats_mannwhitney prefix-sum
    construction or agg_approx_percentile's sketch).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    seqd = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
        "event_id",
    )
    gaps = seqd.select(
        (F.col("sec") - F.lag("sec").over(w)).alias("gap_s")
    ).where(F.col("gap_s").isNotNull())
    return gaps.agg(
        F.count("*").alias("n_gaps"),
        (2 * F.percentile("gap_s", F.lit(0.5))).cast("bigint").alias(
            "p50_half_s"
        ),
        (2 * F.percentile("gap_s", F.lit(0.75))).cast("bigint").alias(
            "p75_half_s"
        ),
        F.max("gap_s").alias("max_gap_s"),
        F.sum(F.when(F.col("gap_s") == 0, 1).otherwise(0)).alias(
            "n_same_second"
        ),
    )


@register(
    "agg_attribution_linear",
    oracle="""
    WITH purch AS (
        SELECT user_id,
               epoch_us(ts) // 1000000 AS psec,
               event_id AS pid,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT p.pid, p.cents, t.event_type AS channel
        FROM purch p
        JOIN events t
          ON t.user_id = p.user_id
         AND t.event_type IN ('view', 'click')
         AND epoch_us(t.ts) // 1000000 < p.psec
         AND epoch_us(t.ts) // 1000000 >= p.psec - 3600
    ),
    sized AS (
        SELECT pid, cents, channel,
               COUNT(*) OVER (PARTITION BY pid) AS n_touch
        FROM touches
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(cents * 1000000 // n_touch) AS BIGINT)
               AS credit_micro_cents,
           CAST(SUM(cents * 1000000 % n_touch) AS BIGINT)
               AS remainder_micro_cents
    FROM sized GROUP BY channel
    """,
)
def agg_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-credit) multi-touch attribution: every view/click
    in the hour before a purchase splits that purchase's value evenly
    — the multi-touch counterpart to agg_attribution_last_touch.
    Credit is exact micro-cents via floor division per touch, and the
    per-purchase rounding residue (cents·10⁶ mod n) is REPORTED, not
    dropped — Σcredit + Σremainder reconstructs attributed revenue to
    the micro-cent, the books-balance property finance asks of any
    attribution model.

    The touch join is time-banded per user (the stream_stream_join
    band shape in batch); per-purchase touch counts come from one
    partitioned count window. At scale the band join buckets by hour
    exactly like join_interval_overlap.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        sec.alias("psec"),
        F.col("event_id").alias("pid"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    t = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id", sec.alias("tsec"), F.col("event_type").alias("channel")
    )
    touches = purch.join(
        t,
        (F.col("user_id") == F.col("pu"))
        & (F.col("tsec") < F.col("psec"))
        & (F.col("tsec") >= F.col("psec") - 3600),
    ).select("pid", "cents", "channel")
    w = Window.partitionBy("pid")
    sized = touches.select(
        "pid", "cents", "channel", F.count("*").over(w).alias("n_touch")
    )
    return sized.groupBy("channel").agg(
        F.count("*").alias("n_touches"),
        F.sum(F.expr("cents * 1000000 div n_touch")).alias(
            "credit_micro_cents"
        ),
        F.sum(F.expr("cents * 1000000 % n_touch")).alias(
            "remainder_micro_cents"
        ),
    )


@register(
    "agg_littles_law",
    oracle="""
    WITH iv AS (
        SELECT user_id,
               MIN(epoch_us(ts) // 1000000) AS s,
               MAX(epoch_us(ts) // 1000000) + 1 AS e
        FROM events GROUP BY user_id
    ),
    deltas AS (
        SELECT s AS t, 1 AS delta FROM iv
        UNION ALL SELECT e AS t, -1 AS delta FROM iv
    ),
    merged AS (
        SELECT t, CAST(SUM(delta) AS BIGINT) AS d
        FROM deltas GROUP BY t
    ),
    swept AS (
        SELECT t,
               SUM(d) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS live,
               lead(t) OVER (ORDER BY t) AS next_t
        FROM merged
    ),
    integral AS (
        SELECT CAST(SUM(live * (next_t - t)) AS BIGINT) AS area
        FROM swept WHERE next_t IS NOT NULL
    ),
    direct AS (
        SELECT CAST(SUM(e - s) AS BIGINT) AS sum_dur,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(e) - MIN(s) AS BIGINT) AS horizon_s
        FROM iv
    )
    SELECT d.n, d.sum_dur, d.horizon_s, i.area AS occupancy_integral,
           CAST(CASE WHEN i.area = d.sum_dur THEN 1 ELSE 0 END AS BIGINT)
               AS littles_law_holds,
           CAST(d.sum_dur * 1000000 // d.horizon_s AS BIGINT)
               AS mean_concurrency_ppm
    FROM direct d CROSS JOIN integral i
    """,
)
def agg_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law audit (L = λW) computed from TWO independent
    constructions that must agree to the integer: the time-integral
    of live-session count (the +1/−1 sweep from agg_peak_concurrency,
    integrated as Σ live·Δt over a lead window) versus the direct sum
    of session durations — queueing theory says they're identical,
    and with exact integer seconds they literally are, so the
    `littles_law_holds` flag is a machine-checked theorem instance,
    the strongest self-validation in the suite (the cross-consistency
    idea folded into one query). Mean concurrency L rides along as
    exact ppm.

    Same-timestamp deltas pre-merge by time so the sweep order is
    total; one global ordered window over the merged delta list
    (≤2·users rows).
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    iv = (
        ev.select("user_id", sec.alias("sec"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("s"), (F.max("sec") + 1).alias("e"))
    )
    deltas = iv.select(F.col("s").alias("t"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    merged = deltas.groupBy("t").agg(F.sum("delta").alias("d"))
    w = Window.orderBy("t")
    swept = merged.select(
        "t",
        F.sum("d").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "live"
        ),
        F.lead("t").over(w).alias("next_t"),
    )
    integral = swept.where(F.col("next_t").isNotNull()).agg(
        F.sum(F.col("live") * (F.col("next_t") - F.col("t"))).alias("area")
    )
    direct = iv.agg(
        F.sum(F.col("e") - F.col("s")).alias("sum_dur"),
        F.count("*").alias("n"),
        (F.max("e") - F.min("s")).alias("horizon_s"),
    )
    return direct.crossJoin(F.broadcast(integral)).select(
        "n",
        "sum_dur",
        "horizon_s",
        F.col("area").cast("bigint").alias("occupancy_integral"),
        F.when(F.col("area") == F.col("sum_dur"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("littles_law_holds"),
        F.expr("sum_dur * 1000000 div horizon_s").cast("bigint").alias(
            "mean_concurrency_ppm"
        ),
    )


@register(
    "ts_seasonal_index",
    oracle="""
    WITH monthly AS (
        SELECT (CAST(year(o_orderdate) AS BIGINT) * 12
                + month(o_orderdate)) AS ym,
               CAST(month(o_orderdate) AS BIGINT) AS m,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY ym, m
    ),
    ma AS (
        SELECT ym, m, cents,
               SUM(cents) OVER (ORDER BY ym
                    ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS win_cents,
               COUNT(*) OVER (ORDER BY ym
                    ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS win_n
        FROM monthly
    ),
    ratio AS (
        SELECT m, cents * win_n * 1000000 // win_cents AS idx_ppm
        FROM ma WHERE win_n = 13
    )
    SELECT m AS month,
           CAST(COUNT(*) AS BIGINT) AS n_years,
           CAST(SUM(idx_ppm) // COUNT(*) AS BIGINT) AS seasonal_index_ppm
    FROM ratio GROUP BY m
    """,
)
def ts_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical ratio-to-moving-average seasonal indices: each
    month's revenue over its centered 13-month window mean, averaged
    per calendar month — the decomposition step behind deseasonalized
    reporting ("is December really up, or is it just December?").
    The ratio is cross-multiplied into exact ppm BEFORE averaging
    (cents·win_n·10⁶ div win_cents — no float mean of floats), and
    edge months without a full window are excluded identically on
    both engines (win_n = 13).

    Month-grain pre-aggregate map-side combines; one centered window
    over the ~80-row monthly frame; O(12) output.
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.select(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("ym"),
            F.month("o_orderdate").cast("bigint").alias("m"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("ym", "m")
        .agg(F.sum("c").alias("cents"))
    )
    w = Window.orderBy("ym").rowsBetween(-6, 6)
    ma = monthly.select(
        "m",
        "cents",
        F.sum("cents").over(w).alias("win_cents"),
        F.count("*").over(w).alias("win_n"),
    )
    ratio = ma.where(F.col("win_n") == 13).select(
        "m", F.expr("cents * win_n * 1000000 div win_cents").alias("idx_ppm")
    )
    return ratio.groupBy(F.col("m").alias("month")).agg(
        F.count("*").alias("n_years"),
        F.expr("SUM(idx_ppm) div COUNT(*)").cast("bigint").alias(
            "seasonal_index_ppm"
        ),
    )


@register(
    "agg_time_to_convert",
    oracle="""
    WITH purch AS (
        SELECT user_id, event_id AS pid, epoch_us(ts) // 1000000 AS psec
        FROM events WHERE event_type = 'purchase'
    ),
    views AS (
        SELECT user_id, epoch_us(ts) // 1000000 AS vsec
        FROM events WHERE event_type = 'view'
    ),
    latency AS (
        SELECT p.pid, p.psec - MAX(v.vsec) AS ttc_s
        FROM purch p
        JOIN views v ON v.user_id = p.user_id AND v.vsec < p.psec
        GROUP BY p.pid, p.psec
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(2 * quantile_cont(ttc_s, 0.5) AS BIGINT) AS p50_half_s,
           CAST(4 * quantile_cont(ttc_s, 0.75) AS BIGINT)
               AS p75_quarter_s,
           CAST(MIN(ttc_s) AS BIGINT) AS min_s,
           CAST(MAX(ttc_s) AS BIGINT) AS max_s,
           CAST(SUM(CASE WHEN ttc_s <= 3600 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS within_1h_ppm
    FROM latency
    """,
)
def agg_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for each purchase, the latency
    from the user's most recent prior view — the intent-to-action
    funnel timing that sets attribution windows and retargeting
    budgets (the 1-hour share directly validates the window
    agg_attribution_linear assumes). The "most recent prior view" is
    an as-of join expressed as a grouped MAX under the inequality;
    quantiles are doubled/quadrupled dyadic exacts (×4 for the .75
    point so the .25 fractional weight stays integral).

    At fixture scale the inequality join is user-bounded; at 100 TB
    it becomes the union+window as-of formulation join_asof uses —
    the semantics, and the oracle, stay identical.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("pid"),
        sec.alias("psec"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", sec.alias("vsec")
    )
    latency = (
        purch.join(
            views,
            (F.col("user_id") == F.col("pu")) & (F.col("vsec") < F.col("psec")),
        )
        .groupBy("pid", "psec")
        .agg((F.col("psec") - F.max("vsec")).alias("ttc_s"))
    )
    return latency.agg(
        F.count("*").alias("n_conversions"),
        (2 * F.percentile("ttc_s", F.lit(0.5))).cast("bigint").alias(
            "p50_half_s"
        ),
        (4 * F.percentile("ttc_s", F.lit(0.75))).cast("bigint").alias(
            "p75_quarter_s"
        ),
        F.min("ttc_s").alias("min_s"),
        F.max("ttc_s").alias("max_s"),
        F.expr(
            "SUM(CASE WHEN ttc_s <= 3600 THEN 1 ELSE 0 END) * 1000000"
            " div COUNT(*)"
        )
        .cast("bigint")
        .alias("within_1h_ppm"),
    )


@register(
    "ts_record_highs",
    oracle="""
    WITH daily AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY epoch_us(ts) // 86400000000
    ),
    flagged AS (
        SELECT day, cents,
               CASE WHEN cents > COALESCE(MAX(cents) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -9223372036854775808)
                    THEN 1 ELSE 0 END AS is_record
        FROM daily
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(is_record) AS BIGINT) AS n_records,
           CAST(MAX(CASE WHEN is_record = 1 THEN day END) AS BIGINT)
               AS last_record_day,
           CAST(MAX(CASE WHEN is_record = 1 THEN cents END) AS BIGINT)
               AS all_time_high_cents
    FROM flagged
    """,
)
def ts_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-high tracking: days whose revenue strictly exceeds every
    prior day — the "all-time high" metric, and a randomness
    diagnostic (an i.i.d. series produces ~ln(n) records; many more
    means trend, the flip side of win_drawdown's troughs). The prior
    maximum is a 1-PRECEDING-bounded running max with a LONG_MIN
    sentinel for the first day, identical on both engines; strict
    comparison makes ties non-records deterministically.

    Day-grain pre-aggregate map-side combines; one ordered window
    over the calendar-bounded daily frame.
    """
    daily = events_daily(spark, sf_dir).select("day", "cents")
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    flagged = daily.select(
        "day",
        "cents",
        F.when(
            F.col("cents")
            > F.coalesce(
                F.max("cents").over(w), F.lit(-9223372036854775808)
            ),
            1,
        )
        .otherwise(0)
        .alias("is_record"),
    )
    return flagged.agg(
        F.count("*").alias("n_days"),
        F.sum("is_record").alias("n_records"),
        F.max(F.when(F.col("is_record") == 1, F.col("day"))).alias(
            "last_record_day"
        ),
        F.max(F.when(F.col("is_record") == 1, F.col("cents"))).alias(
            "all_time_high_cents"
        ),
    )


@register(
    "ts_error_budget",
    oracle="""
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hr,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS errs
        FROM events GROUP BY epoch_us(ts) // 3600000000
    ),
    windows AS (
        SELECT hr, n, errs,
               SUM(n) OVER (ORDER BY hr
                    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS n6,
               SUM(errs) OVER (ORDER BY hr
                    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS e6
        FROM hourly
    )
    SELECT CAST(hr AS BIGINT) AS hr, n, errs,
           CAST(errs * 1000000 // n AS BIGINT) AS rate_1h_ppm,
           CAST(e6 * 1000000 // n6 AS BIGINT) AS rate_6h_ppm,
           CAST(CASE WHEN errs * 100 > n * 14 AND e6 * 100 > n6 * 14
                THEN 1 ELSE 0 END AS BIGINT) AS page_alert
    FROM windows
    """,
)
def ts_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE error-budget burn-rate alerting (the Google SRE multi-
    window policy): page only when BOTH the fast (1h) and slow (6h)
    windows burn above the threshold — the fast window gives
    recall-to-incident, the slow one suppresses blips. With a 99%
    SLO and 14.4× budget burn rounded to the 14% gate, the alert
    condition is two cross-multiplied integer comparisons; burn
    rates are reported in exact ppm alongside.

    Hour-grain pre-aggregate map-side combines; the trailing window
    runs over the calendar-bounded hourly frame. This is the batch
    twin of what stream_rollup_cascade's minute→hour cascade would
    feed in production.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.expr("CAST(CAST(ts AS TIMESTAMP) AS LONG) div 3600").alias("hr"),
            F.when(F.col("event_type") == "error", 1).otherwise(0).alias("e"),
        )
        .groupBy("hr")
        .agg(F.count("*").alias("n"), F.sum("e").alias("errs"))
    )
    w = Window.orderBy("hr").rowsBetween(-5, 0)
    windows = hourly.select(
        "hr",
        "n",
        "errs",
        F.sum("n").over(w).alias("n6"),
        F.sum("errs").over(w).alias("e6"),
    )
    return windows.select(
        F.col("hr").cast("bigint").alias("hr"),
        "n",
        "errs",
        F.expr("errs * 1000000 div n").cast("bigint").alias("rate_1h_ppm"),
        F.expr("e6 * 1000000 div n6").cast("bigint").alias("rate_6h_ppm"),
        F.when(
            F.expr("errs * 100 > n * 14") & F.expr("e6 * 100 > n6 * 14"), 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("page_alert"),
    )


@register(
    "agg_cart_abandonment",
    oracle="""
    WITH views AS (
        SELECT user_id, event_id,
               epoch_us(ts) // 1000000 AS vsec,
               epoch_us(ts) // 86400000000 AS day
        FROM events WHERE event_type = 'view'
    ),
    converted AS (
        SELECT DISTINCT v.event_id
        FROM views v
        JOIN events p
          ON p.user_id = v.user_id
         AND p.event_type = 'purchase'
         AND epoch_us(p.ts) // 1000000 > v.vsec
         AND epoch_us(p.ts) // 1000000 <= v.vsec + 3600
    )
    SELECT CAST(v.day AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST(SUM(CASE WHEN c.event_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted,
           CAST(SUM(CASE WHEN c.event_id IS NULL THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS abandonment_ppm
    FROM views v LEFT JOIN converted c ON c.event_id = v.event_id
    GROUP BY v.day
    """,
)
def agg_cart_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abandonment rate: views NOT followed by a purchase within the
    hour, per day — the negative-space funnel metric (conversion's
    complement) that needs an anti-semantics band join: a view
    converts if ANY purchase by the same user lands in its window,
    so the existence check must dedup before counting (the classic
    fan-out bug — joining and counting inflates converted views by
    the number of qualifying purchases; the DISTINCT/semi-join is the
    point of the op). Abandonment in exact ppm per day.

    The band join is user-keyed (hour-bucket-explodable at scale, as
    join_interval_overlap); the existence set joins back LEFT on the
    view id.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"),
        "event_id",
        sec.alias("vsec"),
        F.expr("CAST(CAST(ts AS TIMESTAMP) AS LONG) div 86400").alias("day"),
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", sec.alias("psec")
    )
    converted = (
        views.join(
            purch,
            (F.col("user_id") == F.col("vu"))
            & (F.col("psec") > F.col("vsec"))
            & (F.col("psec") <= F.col("vsec") + 3600),
        )
        .select("event_id")
        .distinct()
        .withColumn("conv", F.lit(1))
    )
    return (
        views.join(converted, "event_id", "left")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_views"),
            F.sum(F.when(F.col("conv").isNotNull(), 1).otherwise(0)).alias(
                "n_converted"
            ),
            F.expr(
                "SUM(CASE WHEN conv IS NULL THEN 1 ELSE 0 END) * 1000000"
                " div COUNT(*)"
            )
            .cast("bigint")
            .alias("abandonment_ppm"),
        )
    )


@register(
    "ts_vwap",
    oracle="""
    WITH trades AS (
        SELECT l_partkey % 10 AS cat,
               datediff('day', DATE '1970-01-01', l_shipdate) AS day,
               CAST(ROUND(l_quantity, 0) AS BIGINT) AS q,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS notional
        FROM lineitem
    ),
    daily AS (
        SELECT cat, day,
               CAST(SUM(q) AS BIGINT) AS vol,
               CAST(SUM(notional) AS BIGINT) AS flow_cents
        FROM trades GROUP BY cat, day
    )
    SELECT CAST(cat AS BIGINT) AS cat,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(vol) AS BIGINT) AS total_vol,
           CAST(SUM(flow_cents) AS BIGINT) AS total_flow_cents,
           CAST(CAST(SUM(flow_cents) AS DOUBLE)
                / CAST(SUM(vol) AS DOUBLE) AS DOUBLE)
               AS vwap_cents_per_unit,
           CAST(MAX(CAST(flow_cents AS DOUBLE) / CAST(vol AS DOUBLE))
                AS DOUBLE) AS max_daily_vwap
    FROM daily GROUP BY cat
    """,
)
def ts_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per category — the execution
    benchmark (am I buying above or below the flow?) and the volume
    twin of ts_twap's time weighting. Both levels are single double
    divisions of exact integers (flow cents / unit volume at sf0.1:
    Σflow ≈ 2×10¹² < 2⁵³, so the operands enter exact); the per-day
    maximum takes the max over per-day single-rounded quotients —
    deterministic because each quotient is bit-identical first.

    Day-grain pre-aggregate map-side combines; the per-category
    rollup is k rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    trades = li.select(
        (F.col("l_partkey") % 10).alias("cat"),
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
        F.round(F.col("l_quantity"), 0).cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias(
            "notional"
        ),
    )
    daily = trades.groupBy("cat", "day").agg(
        F.sum("q").alias("vol"), F.sum("notional").alias("flow_cents")
    )
    return daily.groupBy(F.col("cat").cast("bigint").alias("cat")).agg(
        F.count("*").alias("n_days"),
        F.sum("vol").alias("total_vol"),
        F.sum("flow_cents").alias("total_flow_cents"),
        F.expr(
            "CAST(CAST(SUM(flow_cents) AS DOUBLE)"
            " / CAST(SUM(vol) AS DOUBLE) AS DOUBLE)"
        ).alias("vwap_cents_per_unit"),
        F.expr(
            "CAST(MAX(CAST(flow_cents AS DOUBLE) / CAST(vol AS DOUBLE))"
            " AS DOUBLE)"
        ).alias("max_daily_vwap"),
    )


@register(
    "ts_hourly_band",
    oracle="""
    WITH cells AS (
        SELECT (epoch_us(ts) // 3600000000) % 24 AS hod,
               epoch_us(ts) // 86400000000 AS day,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY hod, day
    )
    SELECT CAST(hod AS BIGINT) AS hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(4 * quantile_cont(cents, 0.25) AS BIGINT) AS p25_quarter,
           CAST(2 * quantile_cont(cents, 0.5) AS BIGINT) AS p50_half,
           CAST(4 * quantile_cont(cents, 0.75) AS BIGINT) AS p75_quarter
    FROM cells GROUP BY hod
    """,
)
def ts_hourly_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typical-day envelope: the p25/p50/p75 band of hourly revenue
    across days, per hour-of-day — the observability chart behind
    "is right now normal for 3pm?" alerting (the band IS the
    baseline; ts_hampel_outliers answers the same question for whole
    days). Quantiles stay at the dyadic-exact points (.25/.5/.75,
    scaled ×4/×2/×4 to integers); hour-of-day comes from epoch-hour
    mod 24, which is timezone-free and identical on both engines.

    One (hour, day) cell aggregate with map-side combine, then a
    24-group exact-quantile rollup over ≤days rows per group.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.expr(
                "(CAST(CAST(ts AS TIMESTAMP) AS LONG) div 3600) % 24"
            ).alias("hod"),
            F.expr("CAST(CAST(ts AS TIMESTAMP) AS LONG) div 86400").alias(
                "day"
            ),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("hod", "day")
        .agg(F.sum("c").alias("cents"))
    )
    return cells.groupBy(F.col("hod").cast("bigint").alias("hour_of_day")).agg(
        F.count("*").alias("n_days"),
        (4 * F.percentile("cents", F.lit(0.25))).cast("bigint").alias(
            "p25_quarter"
        ),
        (2 * F.percentile("cents", F.lit(0.5))).cast("bigint").alias(
            "p50_half"
        ),
        (4 * F.percentile("cents", F.lit(0.75))).cast("bigint").alias(
            "p75_quarter"
        ),
    )


@register(
    "ts_trading_day_adjusted",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               o_orderdate AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY month, d
    ),
    monthly AS (
        SELECT month,
               CAST(COUNT(*) AS BIGINT) AS active_days,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM daily GROUP BY month
    ),
    seq AS (
        SELECT strftime(month, '%Y-%m') AS month, active_days, cents,
               lag(cents) OVER (ORDER BY month) AS prev_cents,
               lag(active_days) OVER (ORDER BY month) AS prev_days
        FROM monthly
    )
    SELECT month, active_days, cents,
           CAST(cents * 1000000 // NULLIF(prev_cents, 0) AS BIGINT)
               AS raw_growth_ppm,
           CAST(cents * prev_days * 1000000
                // NULLIF(prev_cents * active_days, 0) AS BIGINT)
               AS adjusted_growth_ppm
    FROM seq WHERE prev_cents IS NOT NULL
    """,
)
def ts_trading_day_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trading-day-adjusted growth: month-over-month revenue ratios
    both raw and normalized per active day — the adjustment that
    keeps a 28-day February from reading as a 10% crash (the
    cents·prev_days vs prev_cents·active_days cross-multiplication
    IS the per-day-rate comparison, with no intermediate float
    rate). Both ratios in exact ppm with NULLIF-guarded edges.

    Day-grain then month-grain aggregates (both map-side combining)
    and one lag window over the ~80-row monthly frame.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate").alias("month"),
            F.col("o_orderdate").alias("d"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            ).alias("cents")
        )
    )
    monthly = daily.groupBy("month").agg(
        F.count("*").alias("active_days"), F.sum("cents").alias("cents")
    )
    w = Window.orderBy("month")
    seq = monthly.select(
        F.date_format("month", "yyyy-MM").alias("month"),
        "active_days",
        "cents",
        F.lag("cents").over(w).alias("prev_cents"),
        F.lag("active_days").over(w).alias("prev_days"),
    )
    return seq.where(F.col("prev_cents").isNotNull()).select(
        "month",
        "active_days",
        "cents",
        F.expr("cents * 1000000 div NULLIF(prev_cents, 0)")
        .cast("bigint")
        .alias("raw_growth_ppm"),
        F.expr(
            "cents * prev_days * 1000000"
            " div NULLIF(prev_cents * active_days, 0)"
        )
        .cast("bigint")
        .alias("adjusted_growth_ppm"),
    )


@register(
    "ts_mtbf_mttr",
    oracle="""
    WITH errs AS (
        SELECT epoch_us(ts) // 1000000 AS sec,
               event_id
        FROM events WHERE event_type = 'error'
    ),
    marked AS (
        SELECT sec, event_id,
               CASE WHEN sec - lag(sec) OVER (ORDER BY sec, event_id) > 600
                    OR lag(sec) OVER (ORDER BY sec, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_episode
        FROM errs
    ),
    episodes AS (
        SELECT SUM(new_episode) OVER (ORDER BY sec, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS ep, sec
        FROM marked
    ),
    spans AS (
        SELECT ep,
               MIN(sec) AS start_s,
               MAX(sec) AS end_s,
               CAST(COUNT(*) AS BIGINT) AS n_errors
        FROM episodes GROUP BY ep
    ),
    gaps AS (
        SELECT start_s - lag(end_s) OVER (ORDER BY start_s) AS recovery_gap
        FROM spans
    )
    SELECT CAST((SELECT COUNT(*) FROM spans) AS BIGINT) AS n_episodes,
           CAST((SELECT SUM(end_s - start_s) FROM spans) AS BIGINT)
               AS total_outage_s,
           CAST((SELECT SUM(end_s - start_s) FROM spans)
                // (SELECT COUNT(*) FROM spans) AS BIGINT) AS mttr_s,
           CAST((SELECT SUM(recovery_gap) FROM gaps
                 WHERE recovery_gap IS NOT NULL)
                // NULLIF((SELECT COUNT(*) - 1 FROM spans), 0) AS BIGINT)
               AS mtbf_s,
           CAST((SELECT MAX(n_errors) FROM spans) AS BIGINT)
               AS worst_episode_errors
    """,
)
def ts_mtbf_mttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTBF / MTTR from the raw error stream: failure episodes are
    maximal error runs separated by >10 minutes of quiet (the
    gaps-and-islands sessionization applied to incidents), mean time
    to recover is the average episode span, mean time between
    failures the average healthy gap — the reliability pair that
    closes the SRE family (ts_uptime_sla for availability,
    ts_error_budget for alerting, this for the postmortem numbers).
    Exact integer seconds with floor-divided means; the single-run
    edge (no gaps) NULLIFs identically.

    Scale: the episode marking is DISTRIBUTED — range-repartition the
    error substream on (sec, event_id), pin the layout with
    localCheckpoint, lag WITHIN each partition, and resolve each
    partition's first-row mark from the previous partition's
    collected max(sec) (range partitions are totally ordered, so
    that IS the global predecessor).  The episode id is the global
    running sum of marks = per-partition running sum + a collected
    per-partition prefix offset (the registry.global_rank
    construction).  The inter-episode recovery-gap window is gone
    entirely: episodes are disjoint and time-ordered, so
    Σ recovery_gap = (Σstart − min(start)) − (Σend − max(end)) — a
    closed-form aggregate.  Two O(32)-row collects, no
    single-partition window.
    """
    ev = load_table(spark, sf_dir, "events")
    errs = ev.where(F.col("event_type") == "error").select(
        F.col("ts").cast("timestamp").cast("long").alias("sec"), "event_id"
    )
    rp = errs.repartitionByRange(
        32, F.col("sec"), F.col("event_id")
    ).localCheckpoint()
    wp = rp.withColumn("__pid", F.spark_partition_id())
    bounds = {
        r["__pid"]: (r["mn"], r["mx"])
        for r in wp.groupBy("__pid")
        .agg(F.min("sec").alias("mn"), F.max("sec").alias("mx"))
        .collect()
    }
    prev_last: dict[int, int] = {}
    last: int | None = None
    for pid in sorted(bounds):
        if last is not None:
            prev_last[pid] = last
        last = bounds[pid][1]
    if prev_last:
        pl_items = [
            F.lit(x) for kv in prev_last.items() for x in kv
        ]
        pl_map = F.create_map(*pl_items)[F.col("__pid")]
    else:
        pl_map = F.lit(None).cast("long")
    w = Window.partitionBy("__pid").orderBy("sec", "event_id")
    prev_sec = F.coalesce(F.lag("sec").over(w), pl_map)
    marked = wp.withColumn(
        "new_episode",
        F.when(
            prev_sec.isNull() | (F.col("sec") - prev_sec > 600), 1
        ).otherwise(0),
    )
    ep_counts = {
        r["__pid"]: r["c"]
        for r in marked.groupBy("__pid")
        .agg(F.sum("new_episode").alias("c"))
        .collect()
    }
    ep_off: dict[int, int] = {}
    acc = 0
    for pid in sorted(ep_counts):
        ep_off[pid] = acc
        acc += ep_counts[pid] or 0
    if not ep_off:
        ep_off = {0: 0}
    off_map = F.create_map(
        *[F.lit(x) for kv in ep_off.items() for x in kv]
    )[F.col("__pid")]
    episodes = marked.select(
        (
            off_map
            + F.sum("new_episode").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
        ).alias("ep"),
        "sec",
    )
    spans = episodes.groupBy("ep").agg(
        F.min("sec").alias("start_s"),
        F.max("sec").alias("end_s"),
        F.count("*").alias("n_errors"),
    )
    dsum = lambda c: F.sum(F.col(c).cast("decimal(38,0)"))  # noqa: E731
    stats = spans.agg(
        F.count("*").alias("n_episodes"),
        F.sum(F.col("end_s") - F.col("start_s")).alias("total_outage_s"),
        F.max("n_errors").alias("worst_episode_errors"),
        (
            (dsum("start_s") - F.min("start_s"))
            - (dsum("end_s") - F.max("end_s"))
        ).cast("long").alias("gap_sum"),
    )
    return stats.select(
        "n_episodes",
        "total_outage_s",
        F.expr("total_outage_s div n_episodes").cast("bigint").alias("mttr_s"),
        F.expr("gap_sum div NULLIF(n_episodes - 1, 0)")
        .cast("bigint")
        .alias("mtbf_s"),
        "worst_episode_errors",
    )


@register(
    "ts_time_in_state",
    oracle="""
    WITH seqd AS (
        SELECT user_id, event_type,
               epoch_us(ts) // 1000000 AS sec,
               event_id
        FROM events
    ),
    spans AS (
        SELECT event_type,
               lead(sec) OVER (PARTITION BY user_id
                    ORDER BY sec, event_id) - sec AS dwell_s
        FROM seqd
    ),
    occupied AS (
        SELECT event_type, CAST(SUM(dwell_s) AS BIGINT) AS seconds
        FROM spans WHERE dwell_s IS NOT NULL
        GROUP BY event_type
    ),
    tot AS (SELECT CAST(SUM(seconds) AS BIGINT) AS t FROM occupied)
    SELECT o.event_type,
           o.seconds,
           CAST(o.seconds * 1000000 // t.t AS BIGINT) AS share_ppm
    FROM occupied o CROSS JOIN tot t
    """,
)
def ts_time_in_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state accounting: each event opens a state that lasts
    until the user's next event, and the dwell seconds attribute to
    the OPENING state — the state-machine occupancy metric behind
    device analytics, UI funnel dwell, and machine-status reporting
    (a count of events says what happened; this says where the time
    went). One lead window per user with a total (sec, event_id)
    order; terminal events (no successor) drop identically on both
    engines. Shares in exact ppm.

    One shuffle on user_id, a state-grain rollup, and a 1-row total
    broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    seqd = ev.select(
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
        "event_id",
    )
    spans = seqd.select(
        "event_type",
        (F.lead("sec").over(w) - F.col("sec")).alias("dwell_s"),
    ).where(F.col("dwell_s").isNotNull())
    occupied = spans.groupBy("event_type").agg(
        F.sum("dwell_s").alias("seconds")
    )
    tot = occupied.agg(F.sum("seconds").alias("t"))
    return occupied.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "seconds",
        F.expr("seconds * 1000000 div t").cast("bigint").alias("share_ppm"),
    )


@register(
    "ts_burstiness",
    oracle="""
    WITH gaps AS (
        SELECT epoch_us(ts) // 1000000
               - lag(epoch_us(ts) // 1000000) OVER (
                     ORDER BY epoch_us(ts), event_id) AS g
        FROM events
    ),
    m AS (
        SELECT CAST(COUNT(g) AS BIGINT) AS n,
               CAST(SUM(g) AS BIGINT) AS s,
               SUM(CAST(g AS HUGEINT) * g) AS s2
        FROM gaps WHERE g IS NOT NULL
    )
    SELECT n, s,
           CAST((sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                / (sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                   + CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS DOUBLE)
               AS burstiness
    FROM m
    """,
)
def ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness B = (σ−μ)/(σ+μ) of the global
    inter-event gaps: −1 for a metronome, 0 for a Poisson process,
    →1 for heavy-tailed bursts — the single number that says whether
    ts_burst_detect will have anything to find, and the
    traffic-model classifier beside ts_interarrival's quantiles and
    stats_dispersion_poisson's count-based index. Exact integer
    moments (Σg² in HUGEINT/DECIMAL — sub-2⁵³ operands enter the
    float chain exact), then a fixed-order σ/μ expression with one
    sqrt — bit-identical doubles.

    Scale: the lag is DISTRIBUTED — range-repartition on
    (sec, event_id) with the layout pinned by localCheckpoint, lag
    WITHIN each partition (range partitions are totally ordered by
    the key, so only the 31 cross-partition boundary gaps are
    missing), then recover each boundary gap as
    first_sec(p) − last_sec(p−1) from a collected 32-row min/max
    stats pass (the registry.global_rank construction) and fold the
    boundary contributions into the moment totals as exact integer
    literals. No single-partition window anywhere; the gap multiset
    is bit-identically the global one.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    rows = ev.select(sec.alias("sec"), "event_id")
    rp = rows.repartitionByRange(
        32, F.col("sec"), F.col("event_id")
    ).localCheckpoint()
    wp = rp.withColumn("__pid", F.spark_partition_id())
    bounds = {
        r["__pid"]: (r["mn"], r["mx"])
        for r in wp.groupBy("__pid")
        .agg(F.min("sec").alias("mn"), F.max("sec").alias("mx"))
        .collect()
    }
    bgaps: list[int] = []
    prev_last: int | None = None
    for pid in sorted(bounds):
        mn, mx = bounds[pid]
        if prev_last is not None:
            bgaps.append(mn - prev_last)
        prev_last = mx
    bn, bs = len(bgaps), sum(bgaps)
    bs2 = sum(g * g for g in bgaps)
    w = Window.partitionBy("__pid").orderBy("sec", "event_id")
    gaps = wp.select(
        (F.col("sec") - F.lag("sec").over(w)).alias("g")
    ).where(F.col("g").isNotNull())
    d = "DECIMAL(38,0)"
    m = gaps.agg(
        (F.count("g") + F.lit(bn)).alias("n"),
        (F.coalesce(F.sum("g"), F.lit(0)) + F.lit(bs)).cast("long").alias("s"),
        (
            F.coalesce(
                F.expr(f"SUM(CAST(g AS {d}) * CAST(g AS {d}))"),
                F.lit(0).cast(d),
            )
            + F.lit(str(bs2)).cast(d)
        ).cast(d).alias("s2"),
    )
    sigma = (
        "sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    )
    mu = "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    # empty in, empty out: n = 0 (zero-row or single-event input has
    # no gaps) would raise ANSI DIVIDE_BY_ZERO in sigma/mu
    m = m.where(F.col("n") > 0)
    return m.select(
        "n",
        "s",
        F.expr(
            f"CAST(({sigma} - {mu}) / ({sigma} + {mu}) AS DOUBLE)"
        ).alias("burstiness"),
    )


@register(
    "ts_holt_linear",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 100, 0)
                    AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS y
        FROM events GROUP BY 1
    ),
    fr AS (
        SELECT d, y, list(y) OVER w AS arr,
               CAST(COUNT(*) OVER w AS BIGINT) AS n
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    fit AS (
        SELECT d, y,
               list_reduce(
                   list_transform(arr,
                       v -> [CAST(v AS DOUBLE), CAST(0.0 AS DOUBLE)]),
                   (acc, e) -> [
                       CAST(0.5 AS DOUBLE) * e[1]
                           + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
                       CAST(0.3 AS DOUBLE)
                           * ((CAST(0.5 AS DOUBLE) * e[1]
                               + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]))
                              - acc[1])
                           + CAST(0.7 AS DOUBLE) * acc[2]]
               ) AS st
        FROM fr WHERE n = 14
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, y,
           st[1] AS level, st[2] AS trend,
           st[1] + st[2] AS forecast_1d
    FROM fit
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, alpha=0.5,
    beta=0.3) with a 1-step-ahead forecast — the trend-aware upgrade
    of win_ewma. The coupled recurrence needs TWO state variables, so
    the fold accumulator is a 2-ARRAY [level, trend]: Spark's
    ``aggregate`` and DuckDB's ``list_reduce`` both thread it through
    the frame's sort order (elements pre-lifted to [v, 0] pairs so
    DuckDB infers the accumulator type), every step the same double
    expression in the same order — bit-identical, no UDF. An array,
    NOT a struct: DuckDB's struct-typed lambda accumulators evaluate
    field expressions against partially-updated state (verified
    in-sandbox), while list accumulators are sound on both engines.
    Seeded at level=first frame element, trend=0, over a 14-day
    trailing frame.

    Scale: day-grain frames; per-row O(k) fold, arrays never leave
    the executor. The pattern generalizes to ANY k-state linear
    recurrence (Kalman-style filters) without leaving codegen.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(
        (
            F.sum(
                F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100, 0)
                .cast("bigint")
            ).cast("double")
            / F.lit(100.0)
        ).alias("y")
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    fr = daily.select(
        "d",
        "y",
        F.collect_list("y").over(w).alias("arr"),
        F.count("*").over(w).alias("n"),
    ).where(F.col("n") == 14)
    fit = fr.select(
        "d",
        "y",
        F.expr(
            "aggregate("
            " slice(arr, 2, size(arr) - 1),"
            " array(CAST(element_at(arr, 1) AS DOUBLE), CAST(0.0 AS DOUBLE)),"
            " (acc, v) -> array("
            "   CAST(0.5 AS DOUBLE) * v"
            "     + CAST(0.5 AS DOUBLE) * (element_at(acc, 1)"
            "                              + element_at(acc, 2)),"
            "   CAST(0.3 AS DOUBLE)"
            "     * ((CAST(0.5 AS DOUBLE) * v"
            "         + CAST(0.5 AS DOUBLE) * (element_at(acc, 1)"
            "                                  + element_at(acc, 2)))"
            "        - element_at(acc, 1))"
            "     + CAST(0.7 AS DOUBLE) * element_at(acc, 2)))"
        ).alias("st"),
    )
    return fit.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "y",
        F.element_at("st", 1).alias("level"),
        F.element_at("st", 2).alias("trend"),
        (F.element_at("st", 1) + F.element_at("st", 2)).alias("forecast_1d"),
    )


@register(
    "ts_cross_corr",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
                   AS di,
               CAST(SUM(CASE WHEN event_type = 'click'
                    THEN CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT lg.lag_d, a.x, b.y AS y_fwd
        FROM daily a
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS lag_d) lg
        JOIN daily b ON b.di = a.di + lg.lag_d
    ),
    sums AS (
        SELECT lag_d,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y_fwd) AS BIGINT) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(38,0))
                        * CAST(y_fwd AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sxy,
               CAST(SUM(CAST(x AS DECIMAL(38,0))
                        * CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(y_fwd AS DECIMAL(38,0))
                        * CAST(y_fwd AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS syy
        FROM lagged WHERE y_fwd IS NOT NULL
        GROUP BY lag_d
    )
    SELECT CAST(lag_d AS INT) AS lag_d, n,
           (CAST(n AS DOUBLE) * (CAST(CAST((sxy - sxy % 1000000000000000000) / 1000000000000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE) + CAST(CAST((sxy % 1000000000000000000 - sxy % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE) + CAST(CAST(sxy % 1000000000 AS BIGINT) AS DOUBLE))
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt(CAST(n AS DOUBLE) * (CAST(CAST((sxx - sxx % 1000000000000000000) / 1000000000000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE) + CAST(CAST((sxx % 1000000000000000000 - sxx % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE) + CAST(CAST(sxx % 1000000000 AS BIGINT) AS DOUBLE))
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           / sqrt(CAST(n AS DOUBLE) * (CAST(CAST((syy - syy % 1000000000000000000) / 1000000000000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE) + CAST(CAST((syy % 1000000000000000000 - syy % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE) + CAST(CAST(syy % 1000000000 AS BIGINT) AS DOUBLE))
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS xcorr
    FROM sums
    """,
)
def ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two event streams (does click
    revenue at day t predict purchase revenue at t+k?) for lags 0-3 —
    the lead-lag discovery primitive. Daily cent sums are exact
    int64; per-lag alignment is an epoch-day EQUI-join (di = di +
    lag) after replicating the tiny day-grain frame 4x — windows
    can't take a column offset, a shifted self-join can, and it
    broadcasts; moment sums go through
    DECIMAL(38) (cents² exceeds int64), and Pearson r is the fixed
    chain mul/sub/div/sqrt/div — every input exact, every step
    correctly rounded in the same order, hence bit-portable.

    Scale: fact table pays one conditional partial agg; all window
    work is day-grain × 4 lags.
    """
    # cached (day, type) rollup: per-type COALESCE(cents, 0) is exactly
    # the per-row round(coalesce(value,0)*100) conditional sum
    tc = F.coalesce(F.col("cents"), F.lit(0))
    daily = (
        events_daily_by_type(spark, sf_dir)
        .groupBy(F.col("day").alias("di"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", tc).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(F.col("event_type") == "purchase", tc).otherwise(0)
            ).alias("y"),
        )
    )
    lags = spark.range(4).select(F.col("id").cast("int").alias("lag_d"))
    a = daily.crossJoin(F.broadcast(lags)).select(
        "di", "lag_d", "x", (F.col("di") + F.col("lag_d")).alias("tdi")
    )
    b = daily.select(F.col("di").alias("bdi"), F.col("y").alias("y_fwd"))
    lagged = a.join(b, F.col("bdi") == F.col("tdi"))
    d38 = "decimal(38,0)"
    sums = (
        lagged.where(F.col("y_fwd").isNotNull())
        .groupBy("lag_d")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y_fwd").alias("sy"),
            F.sum(F.col("x").cast(d38) * F.col("y_fwd").cast(d38))
            .cast(d38)
            .alias("sxy"),
            F.sum(F.col("x").cast(d38) * F.col("x").cast(d38))
            .cast(d38)
            .alias("sxx"),
            F.sum(F.col("y_fwd").cast(d38) * F.col("y_fwd").cast(d38))
            .cast(d38)
            .alias("syy"),
        )
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    num = nd * F.expr(wide_dbl("sxy")) - sx * sy
    denx = F.sqrt(nd * F.expr(wide_dbl("sxx")) - sx * sx)
    deny = F.sqrt(nd * F.expr(wide_dbl("syy")) - sy * sy)
    return sums.select(
        "lag_d", "n", (num / denx / deny).alias("xcorr")
    )


@register(
    "ts_peak_detect",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    ),
    nb AS (
        SELECT h, n_events,
               lag(n_events, 1) OVER w AS p1,
               lag(n_events, 2) OVER w AS p2,
               lead(n_events, 1) OVER w AS f1,
               lead(n_events, 2) OVER w AS f2
        FROM hourly WINDOW w AS (ORDER BY h)
    )
    SELECT strftime(h, '%Y-%m-%d %H:00') AS hour, n_events,
           CAST(n_events - GREATEST(p1, p2, f1, f2) AS BIGINT)
               AS prominence
    FROM nb
    WHERE p1 IS NOT NULL AND p2 IS NOT NULL
      AND f1 IS NOT NULL AND f2 IS NOT NULL
      AND n_events > p1 AND n_events > p2
      AND n_events > f1 AND n_events > f2
    """,
)
def ts_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum peak detection with ±2-neighbor strictness and a
    prominence score (excess over the tallest neighbor) — the alert
    primitive under traffic-spike detection. Pure lag/lead integer
    comparisons: no thresholds to tune, no floats anywhere,
    trivially portable. Interior-only (edge hours lack a full
    neighborhood and are excluded on both sides).

    Scale: hour-grain window; the fact table pays one count
    aggregation. At 100 TB the hourly frame is still only
    8760 rows/year — the window cost is constant.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").alias("n_events")
    )
    w = Window.orderBy("h")
    nb = hourly.select(
        "h",
        "n_events",
        F.lag("n_events", 1).over(w).alias("p1"),
        F.lag("n_events", 2).over(w).alias("p2"),
        F.lead("n_events", 1).over(w).alias("f1"),
        F.lead("n_events", 2).over(w).alias("f2"),
    )
    peak = nb.where(
        F.col("p1").isNotNull()
        & F.col("p2").isNotNull()
        & F.col("f1").isNotNull()
        & F.col("f2").isNotNull()
        & (F.col("n_events") > F.col("p1"))
        & (F.col("n_events") > F.col("p2"))
        & (F.col("n_events") > F.col("f1"))
        & (F.col("n_events") > F.col("f2"))
    )
    return peak.select(
        F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
        "n_events",
        (
            F.col("n_events")
            - F.greatest("p1", "p2", "f1", "f2")
        ).cast("bigint").alias("prominence"),
    )


@register(
    "ts_spc_rules",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    ),
    base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_events) AS BIGINT) AS s,
               CAST(SUM(n_events * n_events) AS BIGINT) AS s2
        FROM daily
    ),
    scored AS (
        SELECT d.d, d.n_events,
               CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS mu,
               sqrt(GREATEST(CAST(b.n AS DOUBLE) * CAST(b.s2 AS DOUBLE)
                    - CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE), 0.0))
               / CAST(b.n AS DOUBLE) AS sigma
        FROM daily d CROSS JOIN base b
    ),
    flags AS (
        SELECT d, n_events, mu, sigma,
               CASE WHEN abs(CAST(n_events AS DOUBLE) - mu)
                         > 2.0 * sigma THEN 1 ELSE 0 END AS beyond_2s,
               CASE WHEN CAST(n_events AS DOUBLE) > mu THEN 1
                    WHEN CAST(n_events AS DOUBLE) < mu THEN -1
                    ELSE 0 END AS side
        FROM scored
    ),
    runs AS (
        SELECT d, n_events, beyond_2s, side,
               CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER w9
                    AS BIGINT) AS above_in_9,
               CAST(COUNT(*) OVER w9 AS BIGINT) AS n9
        FROM flags
        WINDOW w9 AS (ORDER BY d ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, n_events, beyond_2s,
           CASE WHEN n9 = 9 AND above_in_9 = 9 THEN 1 ELSE 0 END
               AS rule2_run9_above
    FROM runs
    WHERE beyond_2s = 1
       OR (n9 = 9 AND above_in_9 = 9)
    """,
)
def ts_spc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical process control (Shewhart chart) with two Western
    Electric rules over the daily event-count series: rule 1 (point
    beyond mu±2sigma — the warning limit, chosen over 3sigma because
    the fixture's 30-day series is too well-behaved to breach action
    limits) and rule 2 (nine consecutive points on one side
    of the centerline). Control limits come from exact integer
    moments (one division + one sqrt — portable bits), and because
    both engines compare BIT-IDENTICAL doubles, the rule flags agree
    exactly. The run-of-9 is a windowed sum of side indicators, not a
    self-join.

    Scale: day-grain series; one global aggregate broadcast back
    via CROSS JOIN (a 1-row literal at plan time), one calendar
    window.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n_events"))
    base = daily.agg(
        F.count("*").alias("n"),
        F.sum("n_events").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("s2"),
    )
    scored = daily.crossJoin(F.broadcast(base))
    nd = F.col("n").cast("double")
    mu = F.col("s").cast("double") / nd
    sigma = (
        F.sqrt(
            F.greatest(
                nd * F.col("s2").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double"),
                F.lit(0.0),
            )
        )
        / nd
    )
    flags = scored.select(
        "d",
        "n_events",
        mu.alias("mu"),
        sigma.alias("sigma"),
        F.when(
            F.abs(F.col("n_events").cast("double") - mu) > F.lit(2.0) * sigma,
            1,
        )
        .otherwise(0)
        .alias("beyond_2s"),
        F.when(F.col("n_events").cast("double") > mu, 1)
        .when(F.col("n_events").cast("double") < mu, -1)
        .otherwise(0)
        .alias("side"),
    )
    w9 = Window.orderBy("d").rowsBetween(-8, 0)
    runs = flags.select(
        "d",
        "n_events",
        "beyond_2s",
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
        .over(w9)
        .alias("above_in_9"),
        F.count("*").over(w9).alias("n9"),
    )
    return runs.where(
        (F.col("beyond_2s") == 1)
        | ((F.col("n9") == 9) & (F.col("above_in_9") == 9))
    ).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_events",
        "beyond_2s",
        F.when(
            (F.col("n9") == 9) & (F.col("above_in_9") == 9), 1
        )
        .otherwise(0)
        .alias("rule2_run9_above"),
    )


@register(
    "ts_dtw_distance",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS m,
               CAST(CAST(SUM(CASE WHEN event_type = 'click'
                    THEN CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS DOUBLE) / 100.0 AS x,
               CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS DOUBLE) / 100.0 AS y
        FROM events GROUP BY 1
    ),
    series AS (
        SELECT list(x ORDER BY m) AS xa, list(y ORDER BY m) AS ya
        FROM daily
    )
    SELECT CAST(len(xa) AS INT) AS n_x,
           CAST(len(ya) AS INT) AS n_y,
           list_reduce(
             list_concat(
                 [list_concat([CAST(0.0 AS DOUBLE)],
                              list_transform(ya,
                                  v -> CAST(1e18 AS DOUBLE)))],
                 list_transform(xa, v -> [v])),
             (prev, xe) -> list_reduce(
                 list_concat([[CAST(1e18 AS DOUBLE)]],
                             list_transform(ya, v -> [v])),
                 (accI, ye) -> list_concat(accI, [
                     abs(xe[1] - ye[1])
                     + least(prev[len(accI)],
                             prev[len(accI) + 1],
                             accI[len(accI)])]))
           )[len(ya) + 1] AS dtw_usd
    FROM series
    """,
)
def ts_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance between the daily click and
    purchase revenue curves — shape similarity that tolerates phase
    shift (a promo that moves purchases two weeks later still
    matches), where Euclidean/Pearson alignment-by-index does not.
    The full O(n·m) DP table is evaluated as a NESTED FOLD: the
    outer fold carries the previous DP row as an ARRAY accumulator,
    the inner fold builds the next row left-to-right (the in-row
    dependency D[i][j-1] is the last element of the growing
    accumulator). Both engines execute the identical
    abs/least/add chain in identical order => bit-equal distance.
    DuckDB's 2-arg list_reduce takes no initial value, so both
    operands are sentinel-lifted (init row / +inf cell prepended as
    list elements) — the same construction on both sides.

    Scale: the quadratic DP runs on the CALENDAR-bounded daily
    reducer (k days => k^2 cells per evaluation, independent of row
    count); the fact table pays one conditional aggregation.
    The pattern generalizes: any textbook DP over a bounded frame
    (edit scripts, segmentation) compiles to codegen'd folds, no
    UDF.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100, 0).cast(
        "bigint"
    )
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("m")
    ).agg(
        (
            F.sum(
                F.when(F.col("event_type") == "click", cents).otherwise(0)
            ).cast("double")
            / F.lit(100.0)
        ).alias("x"),
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", cents).otherwise(0)
            ).cast("double")
            / F.lit(100.0)
        ).alias("y"),
    )
    series = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(m, x))), s -> s.x)"
        ).alias("xa"),
        F.expr(
            "transform(array_sort(collect_list(struct(m, y))), s -> s.y)"
        ).alias("ya"),
    )
    dtw = F.expr(
        "element_at("
        " aggregate("
        "   transform(xa, v -> array(v)),"
        "   concat(array(CAST(0.0 AS DOUBLE)),"
        "          transform(ya, v -> CAST(1e18 AS DOUBLE))),"
        "   (prev, xe) -> aggregate("
        "       transform(ya, v -> array(v)),"
        "       array(CAST(1e18 AS DOUBLE)),"
        "       (accI, ye) -> concat(accI, array("
        "           abs(element_at(xe, 1) - element_at(ye, 1))"
        "           + least(element_at(prev, size(accI)),"
        "                   element_at(prev, size(accI) + 1),"
        "                   element_at(accI, size(accI))))))),"
        " size(ya) + 1)"
    )
    return series.select(
        F.size("xa").alias("n_x"),
        F.size("ya").alias("n_y"),
        dtw.alias("dtw_usd"),
    )


@register(
    "ts_calendar_heatmap",
    oracle="""
    WITH cells AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 % 7
                    AS INT) AS dow,
               CAST(hour(ts) AS INT) AS hod,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n FROM cells)
    SELECT c.dow, c.hod, c.n_events,
           CAST(c.n_events * 1000000 // t.n AS BIGINT) AS share_ppm
    FROM cells c CROSS JOIN tot t
    """,
)
def ts_calendar_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap with exact ppm
    shares — the 168-cell load profile behind capacity planning and
    anomaly baselines. Weekday comes from EPOCH-DAYS % 7, not the
    engines' dayofweek() (their numbering conventions differ —
    CLAUDE.md); shares are integer floor divisions. One partial-agg
    shuffle onto at most 168 cells, then a broadcast total.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.expr(
            "CAST(CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS LONG)"
            " div 86400 % 7 AS INT)"
        ).alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count("*").alias("n_events"))
    tot = cells.agg(F.sum("n_events").alias("n"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hod",
        "n_events",
        F.expr("CAST(n_events * 1000000 div n AS BIGINT)").alias(
            "share_ppm"
        ),
    )


@register(
    "ts_croston",
    oracle="""
    WITH demand AS (
        SELECT CAST(epoch_us(CAST(l_shipdate AS TIMESTAMP))
                    // 86400000000 AS BIGINT) AS di,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
        FROM lineitem WHERE l_partkey % 97 = 0
        GROUP BY 1
    ),
    gapped AS (
        SELECT di, x,
               COALESCE(di - lag(di) OVER (ORDER BY di), 1) AS gap
        FROM demand
    ),
    folded AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_demand_days,
               CAST(SUM(x) AS BIGINT) AS total_demand,
               list_reduce(
                   list_transform(list([di, x, gap] ORDER BY di),
                       e -> [CAST(e[2] AS DOUBLE), CAST(e[3] AS DOUBLE)]),
                   (acc, e) -> [
                       CAST(0.5 AS DOUBLE) * e[1]
                           + CAST(0.5 AS DOUBLE) * acc[1],
                       CAST(0.5 AS DOUBLE) * e[2]
                           + CAST(0.5 AS DOUBLE) * acc[2]]
               ) AS st
        FROM gapped
    )
    SELECT n_demand_days, total_demand,
           st[1] AS size_sm, st[2] AS interval_sm,
           st[1] / st[2] AS croston_rate
    FROM folded
    """,
)
def ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand (the sparse-series
    case where plain EWMA misreads zeros as demand collapse):
    exponentially smooth the nonzero demand SIZES and the
    inter-demand INTERVALS separately (alpha=0.5), forecast rate =
    size/interval. The demand series is a sparse part family's daily
    shipped quantity; both smoothings ride ONE array fold (the
    ts_holt_linear 2-state pattern — list_reduce/aggregate thread
    [size, interval] through the day-sorted list, first element
    seeds the state), so every step is the same double expression in
    the same order on both engines, and the closing rate is one
    division.

    Scale: the fold list is calendar-bounded (one element per demand
    DAY, never per row); the heavy work is the day-grain partial
    aggregation.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") % 97 == 0
    )
    demand = li.groupBy(
        F.expr(
            "CAST(CAST(CAST(l_shipdate AS TIMESTAMP) AS LONG)"
            " div 86400 AS BIGINT)"
        ).alias("di")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("x"))
    gapped = demand.select(
        "di",
        "x",
        F.coalesce(
            F.col("di") - F.lag("di").over(Window.orderBy("di")), F.lit(1)
        ).alias("gap"),
    )
    listed = gapped.agg(
        F.count("*").alias("n_demand_days"),
        F.sum("x").alias("total_demand"),
        F.expr(
            "transform(array_sort(collect_list(struct(di, x, gap))),"
            " s -> array(CAST(s.x AS DOUBLE), CAST(s.gap AS DOUBLE)))"
        ).alias("arr"),
    )
    # empty in, empty out: a zero-row input yields one aggregate row
    # with arr = [] — slice(arr, 2, -1) and the element_at(arr, 1)
    # init both raise under ANSI; real data always has size >= 1
    listed = listed.where(F.expr("size(arr) > 0"))
    folded = listed.select(
        "n_demand_days",
        "total_demand",
        F.expr(
            "aggregate("
            " slice(arr, 2, size(arr) - 1),"
            " array(CAST(element_at(arr, 1)[0] AS DOUBLE),"
            "       CAST(element_at(arr, 1)[1] AS DOUBLE)),"
            " (acc, e) -> array("
            "   CAST(0.5 AS DOUBLE) * e[0]"
            "     + CAST(0.5 AS DOUBLE) * element_at(acc, 1),"
            "   CAST(0.5 AS DOUBLE) * e[1]"
            "     + CAST(0.5 AS DOUBLE) * element_at(acc, 2)))"
        ).alias("st"),
    )
    return folded.select(
        "n_demand_days",
        "total_demand",
        F.element_at("st", 1).alias("size_sm"),
        F.element_at("st", 2).alias("interval_sm"),
        (F.element_at("st", 1) / F.element_at("st", 2)).alias(
            "croston_rate"
        ),
    )


@register(
    "ts_hurst_rs",
    oracle="""
    WITH hourly AS (
        SELECT CAST(epoch_us(date_trunc('hour', ts)) // 3600000000
                    AS BIGINT) AS di,
               CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT))
                    // 100 AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    chunked AS (
        SELECT di, x,
               (di - ((di % 32) + 32) % 32) // 32 AS chunk
        FROM hourly
    ),
    stats AS (
        SELECT chunk,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS s2
        FROM chunked GROUP BY chunk
    ),
    walk AS (
        SELECT c.chunk, c.di,
               st.n * SUM(c.x) OVER (PARTITION BY c.chunk ORDER BY c.di
                   ROWS UNBOUNDED PRECEDING)
                 - CAST(row_number() OVER (PARTITION BY c.chunk
                       ORDER BY c.di) AS BIGINT) * st.s AS w
        FROM chunked c JOIN stats st ON st.chunk = c.chunk
        WHERE st.n >= 24
    ),
    ranges AS (
        SELECT chunk,
               CAST(MAX(w) - MIN(w) AS BIGINT) AS r_num
        FROM walk GROUP BY chunk
    )
    SELECT r.chunk, st.n,
           r.r_num,
           CAST(st.n * st.s2 - st.s * st.s AS BIGINT) AS var_num,
           CAST(r.r_num AS DOUBLE)
               / sqrt(CAST(st.n * st.s2 - st.s * st.s AS DOUBLE))
               AS rs_ratio
    FROM ranges r JOIN stats st ON st.chunk = r.chunk
    """,
)
def ts_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescaled-range (R/S) statistic per 32-day chunk — the Hurst
    long-memory diagnostic (R/S growing like n^H; H≈0.5 is a random
    walk, persistent series trend higher). Exactness budget: daily
    values are INTEGER DOLLARS (cents div 100) so x ≤ ~1e6,
    the series is HOUR-grain (the 30-day fixture yields 22 chunks;
    a day-grain variant would match vacuously on 0 rows) and a chunk
    qualifies with >= 24 present hours (sparse fixtures gap some
    hours; the R/S formula is already general in n),
    Σx² ≤ 3.2e13 and the cumulative-deviation walk is scaled by n —
    w_i = n·P_i − i·S, exact int64 — making R/σ =
    (max−min)(w) / sqrt(n·Σx² − S²) a division + sqrt over exact
    integers < 2^53: one fixed-order chain, bit-identical. The chunk
    id uses the portable floor-div identity (epoch-day can be
    negative).

    Scale: hour-grain; the walk window partitions BY CHUNK (32 rows
    each) — no global sort.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr(
            "CAST(CAST(date_trunc('hour', ts) AS TIMESTAMP) AS LONG)"
            " div 3600"
        ).alias("di")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT))"
            " div 100 AS BIGINT)"
        ).alias("x")
    )
    chunked = hourly.select(
        "di",
        "x",
        F.expr("(di - pmod(di, 32)) div 32").alias("chunk"),
    )
    stats = chunked.groupBy("chunk").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    wsum = Window.partitionBy("chunk").orderBy("di").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wrn = Window.partitionBy("chunk").orderBy("di")
    walk = (
        chunked.join(stats, "chunk")
        .where(F.col("n") >= 24)
        .select(
            "chunk",
            "di",
            (
                F.col("n") * F.sum("x").over(wsum)
                - F.row_number().over(wrn).cast("long") * F.col("s")
            ).alias("w"),
        )
    )
    ranges = walk.groupBy("chunk").agg(
        (F.max("w") - F.min("w")).alias("r_num")
    )
    return ranges.join(stats, "chunk").select(
        "chunk",
        "n",
        "r_num",
        (F.col("n") * F.col("s2") - F.col("s") * F.col("s"))
        .cast("long")
        .alias("var_num"),
        (
            F.col("r_num").cast("double")
            / F.sqrt(
                (F.col("n") * F.col("s2") - F.col("s") * F.col("s")).cast(
                    "double"
                )
            )
        ).alias("rs_ratio"),
    )


@register(
    "ts_pacf",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                    AS BIGINT) AS di,
               CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT))
                    // 100 AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    mu AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) // COUNT(*) AS BIGINT) AS mu0
        FROM daily
    ),
    dev AS (
        SELECT d.di, d.x - m.mu0 AS dv FROM daily d CROSS JOIN mu m
    ),
    nums AS (
        SELECT
            (SELECT CAST(SUM(a.dv * a.dv) AS BIGINT) FROM dev a) AS c0,
            (SELECT CAST(SUM(a.dv * b.dv) AS BIGINT)
             FROM dev a JOIN dev b ON b.di = a.di + 1) AS c1,
            (SELECT CAST(SUM(a.dv * b.dv) AS BIGINT)
             FROM dev a JOIN dev b ON b.di = a.di + 2) AS c2
    )
    SELECT m.n, nu.c0, nu.c1, nu.c2,
           CAST(nu.c1 AS DOUBLE) / CAST(nu.c0 AS DOUBLE) AS phi11,
           (CAST(nu.c2 AS DOUBLE) / CAST(nu.c0 AS DOUBLE)
            - (CAST(nu.c1 AS DOUBLE) / CAST(nu.c0 AS DOUBLE))
              * (CAST(nu.c1 AS DOUBLE) / CAST(nu.c0 AS DOUBLE)))
           / (1.0 - (CAST(nu.c1 AS DOUBLE) / CAST(nu.c0 AS DOUBLE))
                    * (CAST(nu.c1 AS DOUBLE) / CAST(nu.c0 AS DOUBLE)))
               AS phi22
    FROM nums nu CROSS JOIN mu m
    """,
)
def ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lags 1 and 2 via Durbin-Levinson:
    phi11 = r1, phi22 = (r2 − r1²)/(1 − r1²) — the AR-order
    diagnostic on the daily revenue series (complements ts_autocorr,
    which stops at the plain ACF). Deterministic across engines by
    construction: deviations are taken from the FLOORED integer mean
    (mu0 = S div n — a defined estimator variant, bias < 1 dollar),
    so every autocovariance numerator is an exact int64
    (|dv| ≤ 1e6 dollars, products ≤ 1e12, day-count ≤ ~2500 ⇒ sums
    ≤ 2.5e15 < 2^53), and r1, r2, phi22 are fixed-order division
    chains over those exact integers.

    Scale: day-grain; the lag alignments are equi-joins on the day
    index (windows can't take column offsets) — broadcast-sized.
    """
    daily = events_daily(spark, sf_dir).select(
        F.col("day").alias("di"),
        F.expr("CAST(COALESCE(cents, 0) div 100 AS BIGINT)").alias("x"),
    )
    mu = daily.agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(x) div COUNT(*) AS BIGINT)").alias("mu0"),
    )
    dev = daily.crossJoin(F.broadcast(mu)).select(
        "di", (F.col("x") - F.col("mu0")).alias("dv"), "n"
    )
    c0 = dev.agg(F.sum(F.col("dv") * F.col("dv")).alias("c0"))
    a = dev.alias("a")
    b = dev.alias("b")
    c1 = (
        a.join(b, F.col("b.di") == F.col("a.di") + 1)
        .agg(F.sum(F.col("a.dv") * F.col("b.dv")).alias("c1"))
    )
    c2 = (
        a.join(b, F.col("b.di") == F.col("a.di") + 2)
        .agg(F.sum(F.col("a.dv") * F.col("b.dv")).alias("c2"))
    )
    nums = (
        c0.crossJoin(c1)
        .crossJoin(c2)
        .crossJoin(F.broadcast(mu.select("n")))
    )
    r1 = F.col("c1").cast("double") / F.col("c0").cast("double")
    r2 = F.col("c2").cast("double") / F.col("c0").cast("double")
    return nums.select(
        "n",
        "c0",
        "c1",
        "c2",
        r1.alias("phi11"),
        ((r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)).alias("phi22"),
    )


@register(
    "ts_renko_bricks",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    // COUNT(*) AS BIGINT) AS close
        FROM orders GROUP BY 1
    ),
    folded AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               list_reduce(
                   list_transform(list(close ORDER BY d),
                       v -> [CAST(v AS DOUBLE), CAST(0.0 AS DOUBLE),
                             CAST(0.0 AS DOUBLE)]),
                   (acc, e) -> [
                       acc[1] + 200000.0 * (CASE
                           WHEN e[1] >= acc[1]
                           THEN floor((e[1] - acc[1]) / 200000.0)
                           ELSE 0.0 - floor((acc[1] - e[1]) / 200000.0)
                           END),
                       acc[2] + CASE WHEN e[1] >= acc[1]
                           THEN floor((e[1] - acc[1]) / 200000.0)
                           ELSE 0.0 END,
                       acc[3] + CASE WHEN e[1] < acc[1]
                           THEN floor((acc[1] - e[1]) / 200000.0)
                           ELSE 0.0 END]
               ) AS st
        FROM daily
    )
    SELECT n_days,
           CAST(st[1] AS BIGINT) AS final_level_c,
           CAST(st[2] AS BIGINT) AS up_bricks,
           CAST(st[3] AS BIGINT) AS down_bricks
    FROM folded
    """,
)
def ts_renko_bricks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Renko brick chart summary: the price path quantized into
    fixed-size ($2000) bricks — a brick is laid only when the close
    moves a full brick past the last level, which filters noise and
    makes trend-length statistics meaningful. The fold carries
    [level, up_bricks, down_bricks]; each step moves the level by
    whole bricks TOWARD the close — trunc(delta/brick), written as
    sign-split floors so a sub-brick dip lays no brick. floor() over
    the correctly-
    rounded quotient of exact-integer-valued doubles is the same
    bits on both engines (single division, fixed order), and brick
    counts stay small integers. One global fold over the day-sorted
    close list — calendar-bounded, the ts_croston discipline.

    Scale: day-grain partial agg; the fold list never exceeds the
    calendar span.
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
    listed = daily.agg(
        F.count("*").alias("n_days"),
        F.expr(
            "transform(array_sort(collect_list(struct(d, close))),"
            " s -> CAST(s.close AS DOUBLE))"
        ).alias("arr"),
    )
    # empty in, empty out: zero-row input gives arr = [] — the slice
    # length -1 and element_at(arr, 1) init raise under ANSI
    listed = listed.where(F.expr("size(arr) > 0"))
    folded = listed.select(
        "n_days",
        F.expr(
            "aggregate(slice(arr, 2, size(arr) - 1),"
            " array(element_at(arr, 1), CAST(0.0 AS DOUBLE),"
            "       CAST(0.0 AS DOUBLE)),"
            " (acc, e) -> array("
            "   element_at(acc, 1) + CAST(200000.0 AS DOUBLE)"
            "     * (CASE WHEN e >= element_at(acc, 1)"
            "        THEN floor((e - element_at(acc, 1))"
            "                   / CAST(200000.0 AS DOUBLE))"
            "        ELSE CAST(0.0 AS DOUBLE)"
            "             - floor((element_at(acc, 1) - e)"
            "                     / CAST(200000.0 AS DOUBLE)) END),"
            "   element_at(acc, 2) + CASE"
            "     WHEN e >= element_at(acc, 1)"
            "     THEN floor((e - element_at(acc, 1))"
            "                / CAST(200000.0 AS DOUBLE))"
            "     ELSE CAST(0.0 AS DOUBLE) END,"
            "   element_at(acc, 3) + CASE"
            "     WHEN e < element_at(acc, 1)"
            "     THEN floor((element_at(acc, 1) - e)"
            "                / CAST(200000.0 AS DOUBLE))"
            "     ELSE CAST(0.0 AS DOUBLE) END))"
        ).alias("st"),
    )
    return folded.select(
        "n_days",
        F.element_at("st", 1).cast("long").alias("final_level_c"),
        F.element_at("st", 2).cast("long").alias("up_bricks"),
        F.element_at("st", 3).cast("long").alias("down_bricks"),
    )


@register(
    "ts_sax_words",
    oracle="""
    WITH hourly AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(epoch_us(date_trunc('hour', ts)) // 3600000000
                    AS BIGINT) % 24 AS hod,
               CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT))
                    // 100 AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    days AS (
        SELECT d,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS s2
        FROM hourly GROUP BY d
    ),
    segs AS (
        SELECT h.d, (h.hod - ((h.hod % 6) + 6) % 6) // 6 AS seg,
               CAST(SUM(h.x) AS BIGINT) AS seg_sum
        FROM hourly h JOIN days dd ON dd.d = h.d
        GROUP BY h.d, (h.hod - ((h.hod % 6) + 6) % 6) // 6
    ),
    scored AS (
        SELECT s.d, s.seg,
               CAST(4 * s.seg_sum - dd.s AS DOUBLE) AS num,
               sqrt(CAST(24 * dd.s2 - dd.s * dd.s AS DOUBLE)) AS sig
        FROM segs s JOIN days dd ON dd.d = s.d
    ),
    symbols AS (
        SELECT d, seg,
               CASE WHEN num >= CAST(0.6745 AS DOUBLE) * sig THEN 'd'
                    WHEN num >= CAST(0.0 AS DOUBLE) THEN 'c'
                    WHEN num >= CAST(-0.6745 AS DOUBLE) * sig THEN 'b'
                    ELSE 'a' END AS sym
        FROM scored
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           string_agg(sym, '' ORDER BY seg) AS sax_word
    FROM symbols GROUP BY d
    ORDER BY day
    """,
)
def ts_sax_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) words: each day's 24
    hourly values (hours with no events are implicit ZEROS of the
    revenue signal, so sparse fixtures stay well-defined — the
    registry sweep caught a complete-day filter matching vacuously
    at sf0.001) reduce to 4 six-hour PAA segments,
    z-normalized against the day and mapped to a 4-letter alphabet
    at the standard Gaussian breakpoints ±0.6745 — the
    dimensionality reduction behind time-series motif/anomaly mining
    (Lin/Keogh). The z comparison is CLEARED OF DIVISIONS:
    z_i >= beta  <=>  (4·seg_sum − S) >= beta·sqrt(24·Σx² − S²),
    so each side is exact int64 lifted to double, then one sqrt and
    one multiply (fixed order, identical bits) — symbol boundaries
    can never disagree across engines. Words assemble with an
    ORDER BY string_agg / sorted-struct concat.

    Scale: hour-grain partial agg; everything after is (day × 4)
    cells.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d"),
        (
            F.expr(
                "CAST(CAST(date_trunc('hour', ts) AS TIMESTAMP) AS LONG)"
                " div 3600"
            )
            % 24
        ).alias("hod"),
    ).agg(
        F.expr(
            "CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT))"
            " div 100 AS BIGINT)"
        ).alias("x")
    )
    days = hourly.groupBy("d").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    segs = (
        hourly.join(days, "d")
        .groupBy("d", F.expr("(hod - pmod(hod, 6)) div 6").alias("seg"))
        .agg(F.sum("x").alias("seg_sum"))
    )
    scored = segs.join(days, "d").select(
        "d",
        "seg",
        (4 * F.col("seg_sum") - F.col("s")).cast("double").alias("num"),
        F.sqrt(
            (24 * F.col("s2") - F.col("s") * F.col("s")).cast("double")
        ).alias("sig"),
    )
    symbols = scored.select(
        "d",
        "seg",
        F.when(
            F.col("num") >= F.lit(0.6745) * F.col("sig"), F.lit("d")
        )
        .when(F.col("num") >= F.lit(0.0), F.lit("c"))
        .when(
            F.col("num") >= F.lit(-0.6745) * F.col("sig"), F.lit("b")
        )
        .otherwise(F.lit("a"))
        .alias("sym"),
    )
    return (
        symbols.groupBy("d")
        .agg(
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(seg, sym))), p -> p.sym), '')"
            ).alias("sax_word")
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"), "sax_word"
        )
        .orderBy("day")
    )


@register(
    "ts_haar_energy",
    oracle="""
    WITH hourly AS (
        SELECT CAST(epoch_us(date_trunc('hour', ts)) // 3600000000
                    AS BIGINT) AS di,
               CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT))
                    // 100 AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    chunked AS (
        SELECT di, x,
               (di - ((di % 32) + 32) % 32) // 32 AS chunk,
               ((di % 32) + 32) % 32 AS pos
        FROM hourly
    ),
    lv AS (SELECT unnest([1, 2, 3, 4, 5]) AS level),
    coeffs AS (
        SELECT c.chunk, l.level,
               c.pos // (CASE l.level WHEN 1 THEN 2 WHEN 2 THEN 4
                         WHEN 3 THEN 8 WHEN 4 THEN 16 ELSE 32 END)
                   AS block,
               CAST(SUM(CASE WHEN (c.pos // (CASE l.level
                        WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 4
                        WHEN 4 THEN 8 ELSE 16 END)) % 2 = 0
                    THEN c.x ELSE -c.x END) AS BIGINT) AS d
        FROM chunked c
        CROSS JOIN lv l
        GROUP BY c.chunk, l.level, 3
    )
    SELECT chunk, level,
           CAST(COUNT(*) AS BIGINT) AS n_coeffs,
           CAST(SUM(d * d) AS BIGINT) AS detail_energy
    FROM coeffs GROUP BY chunk, level
    """,
)
def ts_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized Haar wavelet energy decomposition per 32-hour
    chunk: at level k, each 2^k-hour block's detail coefficient is
    (sum of its first half) − (sum of its second half), and the
    level's energy Σd² tells you WHICH TIME SCALE carries the
    variance (hour-to-hour jitter vs 16-hour swings) — the
    multi-resolution burst diagnostic ts_burst_detect (single-scale)
    can't give. The unnormalized transform keeps every coefficient
    an exact int64 (no /√2 per level), so energies are exact and the
    whole operator is integer arithmetic; positions use the portable
    pmod identity. Hours with no events are implicit ZEROS of the
    revenue signal (absent rows simply contribute nothing to the
    signed block sums), so sparse fixtures and boundary chunks are
    well-defined rather than filtered away — the sf0.001 registry
    sweep caught the earlier all-32-hours filter matching vacuously.

    Scale: one hour-grain partial agg, then (chunk × level × block)
    cells — the 5-level explode is a constant 5× on the CHUNK grain,
    not the fact grain.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr(
            "CAST(CAST(date_trunc('hour', ts) AS TIMESTAMP) AS LONG)"
            " div 3600"
        ).alias("di")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT))"
            " div 100 AS BIGINT)"
        ).alias("x")
    )
    chunked = hourly.select(
        "di",
        "x",
        F.expr("(di - pmod(di, 32)) div 32").alias("chunk"),
        F.expr("pmod(di, 32)").alias("pos"),
    )
    lv = spark.range(1, 6).select(F.col("id").alias("level"))
    coeffs = (
        chunked.crossJoin(F.broadcast(lv))
        .groupBy(
            "chunk",
            "level",
            F.expr(
                "pos div (CASE level WHEN 1 THEN 2 WHEN 2 THEN 4"
                " WHEN 3 THEN 8 WHEN 4 THEN 16 ELSE 32 END)"
            ).alias("block"),
        )
        .agg(
            F.sum(
                F.when(
                    F.expr(
                        "(pos div (CASE level WHEN 1 THEN 1 WHEN 2 THEN 2"
                        " WHEN 3 THEN 4 WHEN 4 THEN 8 ELSE 16 END)) % 2"
                    )
                    == 0,
                    F.col("x"),
                ).otherwise(-F.col("x"))
            )
            .cast("long")
            .alias("d")
        )
    )
    return coeffs.groupBy("chunk", "level").agg(
        F.count("*").alias("n_coeffs"),
        F.sum(F.col("d") * F.col("d")).alias("detail_energy"),
    )


@register(
    "ts_viterbi_regimes",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                    AS BIGINT) AS di,
               CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT))
                    // 100 AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    ranked AS (
        SELECT di, x,
               CAST(row_number() OVER (ORDER BY x, di) AS BIGINT) AS rnk,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ),
    levels AS (
        SELECT
            (SELECT x FROM ranked WHERE rnk = (n + 1) // 4 LIMIT 1)
                AS lo,
            (SELECT x FROM ranked WHERE rnk = (3 * (n + 1)) // 4 LIMIT 1)
                AS hi,
            (SELECT MAX(n) FROM ranked) AS n_days
    ),
    folded AS (
        SELECT l.n_days, l.lo, l.hi,
               GREATEST(1, (l.hi - l.lo) // 4) AS c,
               list_reduce(
                   list_prepend(
                       [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                        CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                        CAST(1.0 AS DOUBLE)],
                       (SELECT list_transform(list(x ORDER BY di),
                           v -> [CAST(v AS DOUBLE), CAST(0.0 AS DOUBLE),
                                 CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                                 CAST(0.0 AS DOUBLE)])
                        FROM daily)),
                   (acc, e) -> [
                       abs(e[1] - CAST(l.lo AS DOUBLE))
                         + CASE WHEN acc[1] <= acc[2]
                                     + CAST(GREATEST(1, (l.hi - l.lo) // 4)
                                            AS DOUBLE)
                                THEN acc[1] ELSE acc[2]
                                     + CAST(GREATEST(1, (l.hi - l.lo) // 4)
                                            AS DOUBLE) END,
                       abs(e[1] - CAST(l.hi AS DOUBLE))
                         + CASE WHEN acc[2] <= acc[1]
                                     + CAST(GREATEST(1, (l.hi - l.lo) // 4)
                                            AS DOUBLE)
                                THEN acc[2] ELSE acc[1]
                                     + CAST(GREATEST(1, (l.hi - l.lo) // 4)
                                            AS DOUBLE) END,
                       CASE WHEN acc[1] <= acc[2]
                                 + CAST(GREATEST(1, (l.hi - l.lo) // 4)
                                        AS DOUBLE)
                            THEN acc[3] ELSE acc[4] END,
                       CASE WHEN acc[2] <= acc[1]
                                 + CAST(GREATEST(1, (l.hi - l.lo) // 4)
                                        AS DOUBLE)
                            THEN acc[4] ELSE acc[3] END + acc[5],
                       acc[5] + acc[5]]
               ) AS st
        FROM levels l
    )
    SELECT n_days, lo, hi, c AS switch_cost,
           CAST(CASE WHEN st[1] <= st[2] THEN st[1] ELSE st[2] END
                AS BIGINT) AS best_cost,
           CAST(CASE WHEN st[1] <= st[2] THEN st[3] ELSE st[4] END
                AS BIGINT) AS path_bits,
           bit_count(CAST(CASE WHEN st[1] <= st[2] THEN st[3] ELSE st[4]
                          END AS BIGINT)) AS n_high_days,
           bit_count(
               xor(CAST(CASE WHEN st[1] <= st[2] THEN st[3] ELSE st[4]
                        END AS BIGINT),
                   CAST(CASE WHEN st[1] <= st[2] THEN st[3] ELSE st[4]
                        END AS BIGINT) >> 1)
               & (CAST(st[5] AS BIGINT) // 2 - 1)) AS n_switches
    FROM folded
    """,
)
def ts_viterbi_regimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decoding of a 2-state (low/high demand) regime model —
    the HMM MAP path — run as ONE integer fold with the path encoded
    ARITHMETICALLY: the accumulator carries [cost_lo, cost_hi,
    path_lo, path_hi, 2^t], emission cost = |x − level| (levels =
    discrete quartiles, switch penalty = (hi−lo)/4, all integers),
    and each state's best path appends its bit as `+ 2^t` (the power
    doubles in the accumulator, so no pow() call — pow is not
    trusted). A neutral [0,0,0,0,1] init makes day 0 a regular step
    (first transition compares against zero costs, so it's pure
    emission), which sidesteps DuckDB list_reduce's missing init
    argument via list_prepend. Costs/paths stay exact-int-valued
    doubles < 2^53; the decoded bitmask, regime-day count
    (bit_count), and switch count (bit_count of path XOR path>>1
    over the n−1 transition bits) are pure integer post-processing.

    Scale: day-grain partial agg; the fold list is calendar-bounded;
    sequential DP is inherently serial in t but O(days), not rows.
    """
    daily = events_daily(spark, sf_dir).select(
        F.col("day").alias("di"),
        F.expr("CAST(COALESCE(cents, 0) div 100 AS BIGINT)").alias("x"),
    )
    ranked = daily.select(
        "di",
        "x",
        F.row_number().over(Window.orderBy("x", "di")).cast("long").alias(
            "rnk"
        ),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    lo = ranked.where(
        F.col("rnk") == F.expr("(n + 1) div 4")
    ).select(F.col("x").alias("lo"))
    hi = ranked.where(
        F.col("rnk") == F.expr("(3 * (n + 1)) div 4")
    ).select(F.col("x").alias("hi"))
    n_days = daily.agg(F.count("*").alias("n_days"))
    arr = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(di, x))),"
            " s -> array(CAST(s.x AS DOUBLE), CAST(0.0 AS DOUBLE),"
            " CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),"
            " CAST(0.0 AS DOUBLE)))"
        ).alias("arr")
    )
    base = (
        arr.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .crossJoin(F.broadcast(n_days))
        .withColumn("c", F.expr("GREATEST(1, (hi - lo) div 4)"))
    )
    cd = "CAST(c AS DOUBLE)"
    lod = "CAST(lo AS DOUBLE)"
    hid = "CAST(hi AS DOUBLE)"
    a = "element_at(acc, {})".format
    folded = base.select(
        "n_days",
        "lo",
        "hi",
        F.col("c").alias("switch_cost"),
        F.expr(
            "aggregate(arr,"
            " array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),"
            " CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),"
            " CAST(1.0 AS DOUBLE)),"
            " (acc, e) -> array("
            f"  abs(e[0] - {lod}) + CASE WHEN {a(1)} <= {a(2)} + {cd}"
            f"      THEN {a(1)} ELSE {a(2)} + {cd} END,"
            f"  abs(e[0] - {hid}) + CASE WHEN {a(2)} <= {a(1)} + {cd}"
            f"      THEN {a(2)} ELSE {a(1)} + {cd} END,"
            f"  CASE WHEN {a(1)} <= {a(2)} + {cd}"
            f"      THEN {a(3)} ELSE {a(4)} END,"
            f"  CASE WHEN {a(2)} <= {a(1)} + {cd}"
            f"      THEN {a(4)} ELSE {a(3)} END + {a(5)},"
            f"  {a(5)} + {a(5)}))"
        ).alias("st"),
    )
    best_path = F.expr(
        "CAST(CASE WHEN element_at(st, 1) <= element_at(st, 2)"
        " THEN element_at(st, 3) ELSE element_at(st, 4) END AS BIGINT)"
    )
    return folded.select(
        "n_days",
        "lo",
        "hi",
        "switch_cost",
        F.expr(
            "CAST(CASE WHEN element_at(st, 1) <= element_at(st, 2)"
            " THEN element_at(st, 1) ELSE element_at(st, 2) END AS BIGINT)"
        ).alias("best_cost"),
        best_path.alias("path_bits"),
        F.bit_count(best_path).cast("int").alias("n_high_days"),
        F.bit_count(
            best_path.bitwiseXOR(
                F.expr(
                    "CAST(CASE WHEN element_at(st, 1) <= element_at(st, 2)"
                    " THEN element_at(st, 3) ELSE element_at(st, 4) END"
                    " AS BIGINT) >> 1"
                )
            ).bitwiseAND(
                F.expr("CAST(element_at(st, 5) AS BIGINT) div 2 - 1")
            )
        ).cast("int").alias("n_switches"),
    )


_KALMAN_RECURSION = """
WITH RECURSIVE kf(day, z, x, p) AS (
    SELECT day, z, z, CAST('100.0' AS DOUBLE)
    FROM {daily} WHERE day = 0
    UNION ALL
    SELECT d.day, d.z,
           kf.x + (kf.p + CAST('25.0' AS DOUBLE))
                  / (kf.p + CAST('25.0' AS DOUBLE) + CAST('400.0' AS DOUBLE))
                  * (d.z - kf.x),
           (CAST('1.0' AS DOUBLE)
            - (kf.p + CAST('25.0' AS DOUBLE))
              / (kf.p + CAST('25.0' AS DOUBLE) + CAST('400.0' AS DOUBLE)))
           * (kf.p + CAST('25.0' AS DOUBLE))
    FROM kf JOIN {daily} d ON d.day = kf.day + 1
)
SELECT day, z AS observed, x AS filtered, p AS variance,
       z - x AS innovation
FROM kf
ORDER BY day
"""

_KALMAN_ORACLE = _KALMAN_RECURSION.format(daily="daily_events").replace(
    "WITH RECURSIVE kf(",
    """WITH RECURSIVE daily_events AS (
    SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) - 19723 AS day,
           CAST(COUNT(*) AS DOUBLE) AS z
    FROM events
    GROUP BY 1
),
kf(""",
)


@register("ts_kalman_1d", oracle=_KALMAN_ORACLE)
def ts_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (local-level model) over the daily event
    count: gain k = (p+Q)/(p+Q+R), state x += k(z-x), variance
    p = (1-k)(p+Q) with Q=25, R=400 -- a genuinely SEQUENTIAL
    recurrence the engine executes as a recursive CTE, one
    distributed join per step against the 30-row daily frame.
    Every step is a fixed-order chain of correctly-rounded double
    ops (constants enter via CAST('...' AS DOUBLE) strings, never
    decimal literals), so the filtered series is bit-identical
    across engines from IDENTICAL recursion text (only the daily
    scan differs per dialect).

    Scale: the fact scan collapses to calendar-grain before any
    sequential work; walk depth = days in the window, never row count.

    Reference analogue: the per-batch running metrics loop in
    /root/reference/ingest_data.py:30-38 is this shape (sequential
    state over arrival order), done declaratively here.

    r10 optimization: the Spark side executes the filter as ONE
    ``aggregate()`` fold over the collected daily array instead of a
    recursive CTE (one distributed join per day of pure scheduling —
    3.2 s at sf0.1, ~0.4 s after). The fold replays the CTE exactly:
    start pinned at day = 0, walk stops at the first calendar gap
    (the recursion's ``d.day = kf.day + 1`` join), and the gain /
    state / variance updates are the same written-order double chains
    with the same CAST('…' AS DOUBLE) constants — bit-identical
    output, hash-checked against the unchanged recursive-CTE oracle.
    """
    daily = events_daily(spark, sf_dir).select(
        (F.col("day") - 19723).alias("day"),
        F.col("n").cast("double").alias("z"),
    )
    packed = daily.agg(
        F.expr("sort_array(collect_list(struct(day, z)))").alias("arr")
    ).where(F.size("arr") >= 1)
    # Same expression trees as _KALMAN_RECURSION's recursive member,
    # z./s. substituted for kf./d. The outer CASE guard keeps
    # slice/arr[0] unevaluated on the zero-row agg row (lazily-
    # evaluated branch; the r6 ANSI empty-array hazard) and pins the
    # start at day 0 like the recursion's base case.
    gain_num = "(z.x_p + CAST('25.0' AS DOUBLE))"
    gain_den = "(z.x_p + CAST('25.0' AS DOUBLE) + CAST('400.0' AS DOUBLE))"
    new_x = f"z.x_x + {gain_num} / {gain_den} * (s.z - z.x_x)"
    new_p = f"(CAST('1.0' AS DOUBLE) - {gain_num} / {gain_den}) * {gain_num}"
    row_t = "named_struct('day', {d}, 'z', {z}, 'x', {x}, 'p', {p})"
    row_type = "array<struct<day:bigint,z:double,x:double,p:double>>"
    folded = packed.select(
        F.expr(
            f"""
            CASE WHEN size(arr) >= 1 AND arr[0].day = 0 THEN
            aggregate(
              slice(arr, 2, size(arr) - 1),
              named_struct(
                'prev', arr[0].day, 'x_x', arr[0].z,
                'x_p', CAST('100.0' AS DOUBLE), 'alive', true,
                'rows', array({row_t.format(d="arr[0].day", z="arr[0].z",
                                            x="arr[0].z",
                                            p="CAST('100.0' AS DOUBLE)")})),
              (z, s) -> CASE WHEN z.alive AND s.day = z.prev + 1 THEN
                  named_struct(
                    'prev', s.day, 'x_x', {new_x}, 'x_p', {new_p},
                    'alive', true,
                    'rows', array_append(z.rows,
                      {row_t.format(d="s.day", z="s.z", x=new_x, p=new_p)}))
                ELSE named_struct('prev', z.prev, 'x_x', z.x_x,
                                  'x_p', z.x_p, 'alive', false,
                                  'rows', z.rows) END,
              z -> z.rows)
            ELSE CAST(array() AS {row_type}) END
            """
        ).alias("rows")
    )
    return (
        folded.select(F.posexplode("rows").alias("pos", "r"))
        .orderBy("pos")
        .selectExpr(
            "r.day AS day",
            "r.z AS observed",
            "r.x AS filtered",
            "r.p AS variance",
            "r.z - r.x AS innovation",
        )
    )


@register(
    "ts_seasonal_decompose",
    oracle="""
    WITH hourly AS (
        SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
               CAST(COUNT(*) AS BIGINT) AS z
        FROM events
        GROUP BY 1
    ),
    dense AS (
        SELECT g.hr, COALESCE(h.z, 0) AS z
        FROM (SELECT unnest(range((SELECT MIN(hr) FROM hourly),
                                  (SELECT MAX(hr) FROM hourly) + 1)) AS hr) g
        LEFT JOIN hourly h ON g.hr = h.hr
    ),
    trended AS (
        SELECT hr, z,
               CAST(SUM(z) OVER w AS BIGINT) AS s24,
               CAST(COUNT(*) OVER w AS BIGINT) AS n24
        FROM dense
        WINDOW w AS (ORDER BY hr ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
    ),
    det AS (
        SELECT hr, z, s24,
               CAST(24 * z - s24 AS BIGINT) AS det24,
               hr % 24 AS hod
        FROM trended WHERE n24 = 24
    ),
    seas AS (
        SELECT hod,
               CAST(SUM(det24) AS BIGINT) AS ssum,
               CAST(COUNT(*) AS BIGINT) AS scnt
        FROM det GROUP BY hod
    )
    SELECT d.hr, d.z,
           CAST(d.s24 AS DOUBLE) / 24 AS trend,
           CAST(s.ssum AS DOUBLE) / CAST(24 * s.scnt AS DOUBLE) AS seasonal,
           CAST(24 * s.scnt * d.z - s.scnt * d.s24 - s.ssum AS DOUBLE)
           / CAST(24 * s.scnt AS DOUBLE) AS residual
    FROM det d JOIN seas s ON d.hod = s.hod
    ORDER BY d.hr
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (trend + hour-of-day
    seasonal + residual) over the hourly event series with EVERY
    denominator cleared until one closing division per component:
    trend = S₂₄/24 from an exact rolling sum, the seasonal term keeps
    24·z − S₂₄ integer and averages via Σ/(24·n), and the residual
    numerator 24n·z − n·S₂₄ − Σdet is a pure int64 identity — so all
    three rendered doubles are single correctly-rounded divisions,
    bit-equal across engines.  Hours are zero-filled (the Haar/SAX
    sparse-hour rule) so window frames align.

    Scale: the fact scan collapses to calendar grain first; windows
    and the hod-profile join are bounded by hours×24, never by rows.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.expr("CAST(CAST(ts AS TIMESTAMP) AS BIGINT) div 3600").alias("hr")
    ).agg(F.count("*").alias("z"))
    bounds = hourly.agg(
        F.min("hr").alias("lo"), F.max("hr").alias("hi")
    ).collect()[0]
    lo = bounds["lo"] if bounds["lo"] is not None else 0
    hi = bounds["hi"] if bounds["hi"] is not None else -1
    grid = spark.range(lo, hi + 1).select(F.col("id").alias("hr"))
    dense = grid.join(hourly, "hr", "left").select(
        "hr", F.coalesce("z", F.lit(0)).alias("z")
    )
    w = Window.orderBy("hr").rowsBetween(-11, 12)
    trended = dense.select(
        "hr",
        "z",
        F.sum("z").over(w).cast("long").alias("s24"),
        F.count("*").over(w).cast("long").alias("n24"),
    )
    det = trended.where(F.col("n24") == 24).select(
        "hr",
        "z",
        "s24",
        (24 * F.col("z") - F.col("s24")).cast("long").alias("det24"),
        (F.col("hr") % 24).alias("hod"),
    )
    seas = det.groupBy("hod").agg(
        F.sum("det24").cast("long").alias("ssum"),
        F.count("*").cast("long").alias("scnt"),
    )
    joined = det.join(F.broadcast(seas), "hod")
    return joined.select(
        "hr",
        "z",
        (F.col("s24").cast("double") / 24).alias("trend"),
        (
            F.col("ssum").cast("double")
            / (24 * F.col("scnt")).cast("double")
        ).alias("seasonal"),
        (
            (
                24 * F.col("scnt") * F.col("z")
                - F.col("scnt") * F.col("s24")
                - F.col("ssum")
            ).cast("double")
            / (24 * F.col("scnt")).cast("double")
        ).alias("residual"),
    ).orderBy("hr")


@register(
    "ts_sharpe_sortino",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders GROUP BY 1
    ),
    rets AS (
        SELECT d, rev - lag(rev) OVER (ORDER BY d) AS chg
        FROM daily
    ),
    moms AS (
        SELECT CAST(COUNT(chg) AS BIGINT) AS n,
               CAST(SUM(chg) AS BIGINT) AS s1,
               CAST(SUM(CAST(chg AS DECIMAL(19,0))
                        * CAST(chg AS DECIMAL(14,0))) AS DECIMAL(38,0)) AS s2,
               CAST(SUM(CASE WHEN chg < 0
                             THEN CAST(chg AS DECIMAL(19,0))
                                  * CAST(chg AS DECIMAL(14,0))
                             ELSE 0 END) AS DECIMAL(38,0)) AS sneg,
               CAST(SUM(CASE WHEN chg < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_down
        FROM rets
    )
    SELECT n, s1 AS sum_chg_cents, n_down,
           (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
           / sqrt((CAST(CAST((s2 - s2 % 1000000000000000000) / 1000000000000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE) + CAST(CAST((s2 % 1000000000000000000 - s2 % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE) + CAST(CAST(s2 % 1000000000 AS BIGINT) AS DOUBLE)) / CAST(n AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
               AS sharpe,
           (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
           / sqrt((CAST(CAST((sneg - sneg % 1000000000000000000) / 1000000000000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE) + CAST(CAST((sneg % 1000000000000000000 - sneg % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE) + CAST(CAST(sneg % 1000000000 AS BIGINT) AS DOUBLE)) / CAST(n AS DOUBLE)) AS sortino
    FROM moms
    """,
)
def ts_sharpe_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharpe and Sortino ratios over daily revenue changes (cents):
    every moment is an exact sum — s1 int64, s2/sneg squared via
    d(19)×d(14) decimal multiplies (int64 squares overflow at 10×;
    the width split forces DuckDB's HUGEINT kernel) into DECIMAL(38) — and both
    ratios are FIXED-ORDER chains of correctly-rounded ops (divisions,
    one multiply, one sqrt), so the doubles match bit-for-bit.
    Sortino divides by downside semi-deviation (negative-change
    squares only) — the asymmetric-risk variant.

    Scale: day-grain after one partial aggregate; single-row output.
    """
    daily = orders_daily(spark, sf_dir).select("d", F.col("y").alias("rev"))
    rets = daily.select(
        (F.col("rev") - F.lag("rev").over(Window.orderBy("d"))).alias("chg")
    )
    chg = F.col("chg")
    moms = rets.agg(
        F.count("chg").cast("long").alias("n"),
        F.sum("chg").cast("long").alias("s1"),
        F.sum(chg.cast("decimal(19,0)") * chg.cast("decimal(14,0)"))
        .cast("decimal(38,0)")
        .alias("s2"),
        F.sum(
            F.when(
                chg < 0,
                chg.cast("decimal(19,0)") * chg.cast("decimal(14,0)"),
            ).otherwise(F.lit(0).cast("decimal(34,0)"))
        )
        .cast("decimal(38,0)")
        .alias("sneg"),
        F.sum(F.when(chg < 0, 1).otherwise(0)).cast("long").alias("n_down"),
    )
    n, s1 = F.col("n").cast("double"), F.col("s1").cast("double")
    mean = s1 / n
    return moms.select(
        "n",
        F.col("s1").alias("sum_chg_cents"),
        "n_down",
        (
            mean
            / F.sqrt(F.expr(wide_dbl("s2")) / n - mean * mean)
        ).alias("sharpe"),
        (mean / F.sqrt(F.expr(wide_dbl("sneg")) / n)).alias("sortino"),
    )


@register(
    "ts_theil_u",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) - 19723 AS d,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT d, y,
               lag(y, 1) OVER (ORDER BY d) AS y1,
               lag(y, 7) OVER (ORDER BY d) AS y7
        FROM daily
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(y - y7 AS DECIMAL(19,0))
                        * CAST(y - y7 AS DECIMAL(14,0))) AS DECIMAL(38,0))
                   AS sse_snaive,
               CAST(SUM(CAST(y - y1 AS DECIMAL(19,0))
                        * CAST(y - y1 AS DECIMAL(14,0))) AS DECIMAL(38,0))
                   AS sse_rw
        FROM lagged WHERE y7 IS NOT NULL
    )
    SELECT n, CAST(sse_snaive AS BIGINT) AS sse_snaive,
           CAST(sse_rw AS BIGINT) AS sse_rw,
           sqrt((CAST(CAST((sse_snaive - sse_snaive % 1000000000000000000) / 1000000000000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE) + CAST(CAST((sse_snaive % 1000000000000000000 - sse_snaive % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE) + CAST(CAST(sse_snaive % 1000000000 AS BIGINT) AS DOUBLE))) / sqrt((CAST(CAST((sse_rw - sse_rw % 1000000000000000000) / 1000000000000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE) + CAST(CAST((sse_rw % 1000000000000000000 - sse_rw % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE) + CAST(CAST(sse_rw % 1000000000 AS BIGINT) AS DOUBLE)))
               AS theil_u2,
           CASE WHEN sse_snaive < sse_rw THEN 1 ELSE 0 END AS snaive_wins
    FROM sums
    """,
)
def ts_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U₂ forecast-quality ratio: seasonal-naive (y_{t−7})
    versus random-walk (y_{t−1}) squared errors over the daily event
    series — U₂ = sqrt(SSE_snaive)/sqrt(SSE_rw), the scale-free
    "does my forecaster beat naive" gate.  Squared errors ride the
    d(19)×d(14) decimal-multiply pattern into DECIMAL(38) (int64
    squares overflow at scale), and U₂ is a sqrt/sqrt/divide
    fixed-order chain — bit-identical.  Both SSEs restrict to the
    rows where the 7-lag exists so the two sums share a support.

    Scale: calendar-grain after one partial aggregate.
    """
    daily = events_daily(spark, sf_dir).select(
        (F.col("day") - 19723).alias("d"), F.col("n").alias("y")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 7).over(w).alias("y7"),
    ).where(F.col("y7").isNotNull())
    e7 = F.col("y") - F.col("y7")
    e1 = F.col("y") - F.col("y1")
    sums = lagged.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(e7.cast("decimal(19,0)") * e7.cast("decimal(14,0)"))
        .cast("decimal(38,0)")
        .alias("sse_snaive"),
        F.sum(e1.cast("decimal(19,0)") * e1.cast("decimal(14,0)"))
        .cast("decimal(38,0)")
        .alias("sse_rw"),
    )
    return sums.select(
        "n",
        F.col("sse_snaive").cast("long").alias("sse_snaive"),
        F.col("sse_rw").cast("long").alias("sse_rw"),
        (
            F.sqrt(F.expr(wide_dbl("sse_snaive")))
            / F.sqrt(F.expr(wide_dbl("sse_rw")))
        ).alias("theil_u2"),
        F.when(F.col("sse_snaive") < F.col("sse_rw"), 1)
        .otherwise(0)
        .alias("snaive_wins"),
    )


@register(
    "ts_granger_lag1",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) - 19723 AS d,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    rows_ AS (
        SELECT y AS yt,
               lag(y) OVER (ORDER BY d) AS y1,
               lag(x) OVER (ORDER BY d) AS x1
        FROM daily
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(yt) AS BIGINT) AS sy, CAST(SUM(y1) AS BIGINT) AS sa,
               CAST(SUM(x1) AS BIGINT) AS sb,
               CAST(SUM(yt * y1) AS BIGINT) AS sya,
               CAST(SUM(yt * x1) AS BIGINT) AS syb,
               CAST(SUM(y1 * y1) AS BIGINT) AS saa,
               CAST(SUM(x1 * x1) AS BIGINT) AS sbb,
               CAST(SUM(y1 * x1) AS BIGINT) AS sab,
               CAST(SUM(yt * yt) AS BIGINT) AS syy
        FROM rows_ WHERE y1 IS NOT NULL AND x1 IS NOT NULL
    ),
    cen AS (
        SELECT n,
               CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy,
               CAST(n AS DOUBLE) * CAST(sya AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sa AS DOUBLE) AS cya,
               CAST(n AS DOUBLE) * CAST(syb AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sb AS DOUBLE) AS cyb,
               CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                   - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) AS caa,
               CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                   - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) AS cbb,
               CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                   - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) AS cab
        FROM m
    ),
    fit AS (
        SELECT n,
               cyy - cya * cya / caa AS rss_r_n,
               cyy - (cya * cbb - cyb * cab)
                     / (caa * cbb - cab * cab) * cya
                   - (cyb * caa - cya * cab)
                     / (caa * cbb - cab * cab) * cyb AS rss_f_n
        FROM cen
    )
    SELECT n, rss_r_n, rss_f_n,
           (rss_r_n - rss_f_n) * (CAST(n AS DOUBLE) - 3) / rss_f_n
               AS granger_f
    FROM fit
    """,
)
def ts_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-causality screen at lag 1: does yesterday's CLICK
    count improve today's PURCHASE forecast beyond its own lag?
    Restricted (y~y₁) and full (y~y₁+x₁) OLS fits come from EXACT
    integer moment sums; centered cross-moments n·Sxy − SxSy and the
    Cramer 2×2 solve are a FIXED-ORDER double chain (each int64→
    double conversion one rounding), and F = (RSSr−RSSf)(n−3)/RSSf
    completes the chain — bit-identical across engines, no matrix
    library.  RSS values carry the n-scaling (rss·n), which cancels
    in F.

    Scale: one calendar-grain aggregate feeds a 10-number moment
    fold; the regression is O(1) after the scan regardless of rows.
    """
    daily = (
        events_daily_by_type(spark, sf_dir)
        .groupBy((F.col("day") - 19723).alias("d"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("n"))
                .otherwise(0)
            ).alias("y"),
            F.sum(
                F.when(F.col("event_type") == "click", F.col("n"))
                .otherwise(0)
            ).alias("x"),
        )
    )
    w = Window.orderBy("d")
    rows_ = daily.select(
        F.col("y").alias("yt"),
        F.lag("y").over(w).alias("y1"),
        F.lag("x").over(w).alias("x1"),
    ).where(F.col("y1").isNotNull() & F.col("x1").isNotNull())
    m = rows_.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("yt").cast("long").alias("sy"),
        F.sum("y1").cast("long").alias("sa"),
        F.sum("x1").cast("long").alias("sb"),
        F.sum(F.col("yt") * F.col("y1")).cast("long").alias("sya"),
        F.sum(F.col("yt") * F.col("x1")).cast("long").alias("syb"),
        F.sum(F.col("y1") * F.col("y1")).cast("long").alias("saa"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("sbb"),
        F.sum(F.col("y1") * F.col("x1")).cast("long").alias("sab"),
        F.sum(F.col("yt") * F.col("yt")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    cen = m.select(
        "n",
        (nd * d("syy") - d("sy") * d("sy")).alias("cyy"),
        (nd * d("sya") - d("sy") * d("sa")).alias("cya"),
        (nd * d("syb") - d("sy") * d("sb")).alias("cyb"),
        (nd * d("saa") - d("sa") * d("sa")).alias("caa"),
        (nd * d("sbb") - d("sb") * d("sb")).alias("cbb"),
        (nd * d("sab") - d("sa") * d("sb")).alias("cab"),
    )
    det = F.col("caa") * F.col("cbb") - F.col("cab") * F.col("cab")
    b_full = (F.col("cya") * F.col("cbb") - F.col("cyb") * F.col("cab")) / det
    c_full = (F.col("cyb") * F.col("caa") - F.col("cya") * F.col("cab")) / det
    fit = cen.select(
        "n",
        (F.col("cyy") - F.col("cya") * F.col("cya") / F.col("caa")).alias(
            "rss_r_n"
        ),
        (
            F.col("cyy") - b_full * F.col("cya") - c_full * F.col("cyb")
        ).alias("rss_f_n"),
    )
    return fit.select(
        "n",
        "rss_r_n",
        "rss_f_n",
        (
            (F.col("rss_r_n") - F.col("rss_f_n"))
            * (F.col("n").cast("double") - 3)
            / F.col("rss_f_n")
        ).alias("granger_f"),
    )


_ADSTOCK_RECURSION = """
WITH RECURSIVE adstock(d, x, y, stock) AS (
    SELECT d, x, y, CAST(x AS DOUBLE)
    FROM {daily} WHERE d = 0
    UNION ALL
    SELECT s.d, s.x, s.y,
           CAST(s.x AS DOUBLE)
           + CAST('0.7' AS DOUBLE) * adstock.stock
    FROM adstock JOIN {daily} s ON s.d = adstock.d + 1
)
SELECT d, x AS clicks, y AS purchases, stock AS adstock,
       stock - x AS carryover
FROM adstock
ORDER BY d
"""


@register(
    "ts_adstock",
    oracle=_ADSTOCK_RECURSION.format(daily="daily_clicks").replace(
        "WITH RECURSIVE adstock(",
        """WITH RECURSIVE daily_clicks AS (
    SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) - 19723 AS d,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS x,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS y
    FROM events GROUP BY 1
),
adstock(""",
    ),
)
def ts_adstock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric adstock transform (marketing-mix modeling): carried-
    over advertising pressure stock_t = x_t + λ·stock_{t−1} with
    λ = 0.7 — the same engine-owned sequential recursion as
    ts_kalman_1d (recursive CTE over the calendar-grain frame, one
    join per step), with the retention constant entering as a
    CAST('0.7' AS DOUBLE) string literal so both engines evaluate
    the identical fixed-order chain.  Purchases ride along so a
    downstream regression (ts_granger_lag1's moment machinery) can
    consume the transformed series.

    Scale: walk depth = days in window; the only distributed stage is
    the daily aggregate.

    r10 optimization: the Spark side executes the walk as ONE
    ``aggregate()`` fold over the collected daily array instead of a
    recursive CTE (one distributed join per day ≈ 0.1 s/step of pure
    scheduling — 3.9 s at sf0.1, ~0.4 s after). The fold replays the
    CTE exactly: start pinned at d = 0, walk stops at the first
    calendar gap (the recursion's ``s.d = adstock.d + 1`` join), and
    each step is the same written-order double chain
    ``CAST(x AS DOUBLE) + 0.7 * stock`` — so the emitted series is
    bit-identical and the unchanged recursive-CTE oracle hash-checks
    the rewrite cross-engine.
    """
    daily = (
        events_daily_by_type(spark, sf_dir)
        .groupBy((F.col("day") - 19723).alias("d"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", F.col("n"))
                .otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("n"))
                .otherwise(0)
            ).alias("y"),
        )
    )
    row_t = "named_struct('d', {d}, 'x', {x}, 'y', {y}, 'stock', {st})"
    step_stock = "CAST(s.x AS DOUBLE) + CAST('0.7' AS DOUBLE) * z.stock"
    packed = daily.agg(
        F.expr("sort_array(collect_list(struct(d, x, y)))").alias("arr")
    ).where(F.size("arr") >= 1)
    row_type = "array<struct<d:bigint,x:bigint,y:bigint,stock:double>>"
    # CASE guard keeps slice/arr[0] unevaluated on the zero-row agg
    # row (lazily-evaluated branch; the r6 ANSI empty-array hazard);
    # the arr[0].d = 0 start pin replicates the recursion's
    # `WHERE d = 0` base case (no day 0 -> no rows).
    folded = packed.select(
        F.expr(
            f"""
            CASE WHEN size(arr) >= 1 AND arr[0].d = 0 THEN
            aggregate(
              slice(arr, 2, size(arr) - 1),
              named_struct(
                'prev', arr[0].d, 'stock', CAST(arr[0].x AS DOUBLE),
                'alive', true,
                'rows', array({row_t.format(d="arr[0].d", x="arr[0].x",
                                             y="arr[0].y",
                                             st="CAST(arr[0].x AS DOUBLE)")})),
              (z, s) -> CASE WHEN z.alive AND s.d = z.prev + 1 THEN
                  named_struct(
                    'prev', s.d, 'stock', {step_stock}, 'alive', true,
                    'rows', array_append(z.rows,
                      {row_t.format(d="s.d", x="s.x", y="s.y",
                                    st=step_stock)}))
                ELSE named_struct('prev', z.prev, 'stock', z.stock,
                                  'alive', false, 'rows', z.rows) END,
              z -> z.rows)
            ELSE CAST(array() AS {row_type}) END
            """
        ).alias("rows")
    )
    return (
        folded.select(F.posexplode("rows").alias("pos", "r"))
        .orderBy("pos")
        .selectExpr(
            "r.d AS d",
            "r.x AS clicks",
            "r.y AS purchases",
            "r.stock AS adstock",
            "r.stock - r.x AS carryover",
        )
    )


_LTTB_TAIL = """
pts AS (
    SELECT d, y, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn
    FROM {daily}
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
mid AS (
    SELECT p.rn, p.d, p.y,
           CAST(((p.rn - 2) * 12 - ((p.rn - 2) * 12) % (n - 2)) / (n - 2)
                AS BIGINT) AS b
    FROM pts p CROSS JOIN tot
    WHERE p.rn BETWEEN 2 AND n - 1 AND n > 2
),
nbs AS (
    SELECT b, CAST(count(*) AS BIGINT) AS c,
           CAST(SUM(d) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
    FROM mid GROUP BY b
    UNION ALL
    SELECT CAST(12 AS BIGINT), CAST(1 AS BIGINT), p.d, p.y
    FROM pts p CROSS JOIN tot WHERE p.rn = n AND n >= 2
),
prevs AS (
    SELECT b + 1 AS b, rn, d, y FROM mid
    UNION ALL
    SELECT CAST(0 AS BIGINT), rn, d, y FROM pts WHERE rn = 1
),
trans AS (
    SELECT c.b, p.rn AS p_rn, c.rn AS i_rn, c.d AS i_d, c.y AS i_y,
           abs(CAST(p.d * nb.c - nb.sx AS DECIMAL(19,0))
                 * CAST(c.y - p.y AS DECIMAL(16,0))
               - CAST(p.d - c.d AS DECIMAL(19,0))
                 * CAST(nb.sy - p.y * nb.c AS DECIMAL(16,0))) AS area2
    FROM mid c
    JOIN prevs p ON p.b = c.b
    JOIN nbs nb ON nb.b = c.b + 1
),
best AS (
    SELECT b, p_rn, i_rn, i_d, i_y
    FROM (SELECT b, p_rn, i_rn, i_d, i_y,
                 row_number() OVER (PARTITION BY b, p_rn
                                    ORDER BY area2 DESC, i_rn) AS rr
          FROM trans)
    WHERE rr = 1
),
walk(b, rn, d, y) AS (
    SELECT CAST(-1 AS BIGINT), rn, d, y FROM pts WHERE rn = 1
    UNION ALL
    SELECT bb.b, bb.i_rn, bb.i_d, bb.i_y
    FROM walk JOIN best bb ON bb.b = walk.b + 1 AND bb.p_rn = walk.rn
)
SELECT CAST(b + 1 AS BIGINT) AS idx, CAST(d AS BIGINT) AS day,
       CAST(y AS BIGINT) AS rev_cents
FROM walk
UNION ALL
SELECT CAST(13 AS BIGINT), p.d, p.y
FROM pts p CROSS JOIN tot WHERE p.rn = n AND n >= 2
ORDER BY idx"""

_LTTB_DUCK_DAILY = """
    SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
    FROM orders GROUP BY 1
"""


@register(
    "ts_lttb_downsample",
    oracle="WITH RECURSIVE daily AS ("
    + _LTTB_DUCK_DAILY
    + "),"
    + _LTTB_TAIL.format(daily="daily"),
)
def ts_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013)
    of the daily-revenue series to 12 interior points + endpoints —
    the chart-fidelity reduction dashboards run before plotting. LTTB
    is sequential (each bucket's pick depends on the previous pick),
    which would be a driver-side loop; instead the ts_viterbi trick:
    precompute the FULL transition table best(b, prev_point) ->
    argmax-area candidate with plain windows (parallel), then a
    12-step recursive-CTE walk reads one row per step. Triangle areas
    stay exact: denominators cleared by the next-bucket count and the
    cross product held in DECIMAL(38) via d(19)×d(16) multiplies;
    ties break to the earlier day.

    Scale: the only data-sized stage is the day-grain pre-aggregate;
    the transition table is days²/12 rows (calendar-bounded, ~500k at
    a 6.5-year span) and the walk is O(12).
    """
    daily = orders_daily(spark, sf_dir).select("d", "y")
    daily.createOrReplaceTempView("lttb_daily")
    # Materialize pts + the transition table ONCE (a recursive CTE
    # re-evaluates referenced CTEs every iteration — 12× the window
    # work); the recursion then walks the checkpointed 'best' view.
    tail = _LTTB_TAIL.format(daily="lttb_daily")
    nonrec, _, final = tail.partition("walk(b, rn, d, y) AS (")
    nonrec = nonrec.rstrip().rstrip(",")
    pts = spark.sql("WITH " + nonrec + " SELECT * FROM pts").localCheckpoint(
        eager=True
    )
    pts.createOrReplaceTempView("lttb_pts")
    best = spark.sql("WITH " + nonrec + " SELECT * FROM best").localCheckpoint(
        eager=True
    )
    best.createOrReplaceTempView("lttb_best")
    del final  # Spark side replaces the recursion with 12 chained joins
    # (one compiled plan, no per-iteration scheduler overhead; the
    # oracle keeps the recursive-CTE walk — independent constructions
    # of the same sequential pick).
    state = pts.where(F.col("rn") == 1).select(
        F.lit(-1).cast("long").alias("b"), "rn", "d", "y"
    )
    steps = [state.select(F.lit(0).cast("long").alias("idx"), "d", "y")]
    for k in range(12):
        bk = best.where(F.col("b") == k)
        state = (
            state.select(F.col("rn").alias("prev_rn"))
            .join(F.broadcast(bk), F.col("p_rn") == F.col("prev_rn"))
            .select(
                "b",
                F.col("i_rn").alias("rn"),
                F.col("i_d").alias("d"),
                F.col("i_y").alias("y"),
            )
        )
        steps.append(
            state.select((F.col("b") + 1).cast("long").alias("idx"), "d", "y")
        )
    n_total = pts.count()
    last = pts.where(F.col("rn") == F.lit(n_total)).select(
        F.lit(13).cast("long").alias("idx"), "d", "y"
    ) if n_total >= 2 else steps[0].limit(0)
    out = steps[0]
    for st in steps[1:]:
        out = out.unionAll(st)
    out = out.unionAll(last)
    return out.select(
        "idx",
        F.col("d").cast("long").alias("day"),
        F.col("y").cast("long").alias("rev_cents"),
    ).orderBy("idx")


_EVENT_STUDY_TAIL = """
event_days AS (
    SELECT d AS e_day FROM {daily}
    ORDER BY errors DESC, d
    LIMIT 5
),
offsets AS (
    SELECT e_day, e_day + (k - 7) AS d, k - 7 AS rel_day
    FROM event_days CROSS JOIN (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) - 1 AS k
        FROM (SELECT DISTINCT d FROM {daily} ORDER BY d LIMIT 15) t
    ) ks
),
aligned AS (
    SELECT o.rel_day, dl.purchases
    FROM offsets o JOIN {daily} dl ON dl.d = o.d
)
SELECT rel_day,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(SUM(purchases) AS BIGINT) AS sum_purchases,
       CAST(SUM(purchases) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS avg_purchases
FROM aligned
GROUP BY rel_day
ORDER BY rel_day"""

_EVENT_STUDY_DUCK_BASE = """
    SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d, event_type AS et
    FROM events
"""


@register(
    "agg_event_study",
    oracle="WITH base AS ("
    + _EVENT_STUDY_DUCK_BASE
    + """),
daily AS (
    SELECT d,
           CAST(SUM(CASE WHEN et = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS purchases,
           CAST(SUM(CASE WHEN et = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS errors
    FROM base GROUP BY d
),"""
    + _EVENT_STUDY_TAIL.format(daily="daily"),
)
def agg_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study alignment: take the 5 worst incident days (most
    'error' events, deterministic day tiebreak) and average the
    purchase series across a ±7-day relative window around them —
    the before/after impact curve analysts draw for incidents,
    launches, or campaigns. The offset spine is generated (no
    BETWEEN theta-join — event days explode into 15 (day, rel_day)
    probes that EQUI-join the daily series), and the mean is one
    exact-int division per offset.

    Scale: everything after the day-grain pre-aggregate is bounded
    by 5 events × 15 offsets.
    """
    daily = (
        events_daily_by_type(spark, sf_dir)
        .groupBy(F.col("day").alias("d"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("n"))
                .otherwise(0)
            )
            .cast("long")
            .alias("purchases"),
            F.sum(
                F.when(F.col("event_type") == "error", F.col("n"))
                .otherwise(0)
            )
            .cast("long")
            .alias("errors"),
        )
    )
    daily.createOrReplaceTempView("evstudy_daily")
    return spark.sql(
        "WITH " + _EVENT_STUDY_TAIL.format(daily="evstudy_daily").lstrip()
    )


_NRR_TAIL = """
monthly AS (
    SELECT o_custkey AS c,
           CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
    FROM {orders} GROUP BY 1, 2
),
pairs AS (
    SELECT p.m + 1 AS m, p.rev AS prev_rev, COALESCE(cur.rev, 0) AS cur_rev
    FROM monthly p
    LEFT JOIN monthly cur ON cur.c = p.c AND cur.m = p.m + 1
),
agg AS (
    SELECT m,
           CAST(SUM(prev_rev) AS BIGINT) AS start_rev,
           CAST(SUM(cur_rev) AS BIGINT) AS retained_total,
           CAST(SUM(LEAST(prev_rev, cur_rev)) AS BIGINT) AS floor_rev,
           CAST(SUM(CASE WHEN cur_rev > prev_rev THEN cur_rev - prev_rev
                         ELSE 0 END) AS BIGINT) AS expansion,
           CAST(SUM(CASE WHEN cur_rev = 0 THEN prev_rev ELSE 0 END)
                AS BIGINT) AS churned
    FROM pairs GROUP BY m
)
SELECT m AS month_idx, start_rev, retained_total, expansion, churned,
       CAST(retained_total * 1000000 AS BIGINT)
           {div} (CASE WHEN start_rev = 0 THEN 1 ELSE start_rev END)
           AS nrr_ppm,
       CAST(floor_rev * 1000000 AS BIGINT)
           {div} (CASE WHEN start_rev = 0 THEN 1 ELSE start_rev END)
           AS grr_ppm
FROM agg
ORDER BY m"""


@register(
    "agg_nrr_grr",
    oracle="WITH " + _NRR_TAIL.format(orders="orders", div="//"),
)
def agg_nrr_grr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net & gross revenue retention by month (the SaaS board
    metrics): NRR follows last month's customer base into this month
    including expansion, GRR caps each account at its prior spend
    (LEAST), so churn+contraction = start − floor. Revenue-grain —
    the dollars-weighted complement to agg_growth_accounting's user
    counts. All exact cents; ratios published in exact ppm
    (non-negative operands, so `//` ≡ `div`).

    Scale: one (customer, month) pre-aggregate, a self equi-join on
    (c, m+1) — co-partitioned on the customer key — then a
    month-grain fold.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("nrr_orders")
    return spark.sql(
        "WITH " + _NRR_TAIL.format(orders="nrr_orders", div="div")
    )


_BASS_TAIL = """
weekly AS (
    SELECT (d - (d % 7)) {div} 7 AS w, CAST(count(*) AS BIGINT) AS n_new
    FROM {first_buy} GROUP BY 1
),
cum AS (
    SELECT w, n_new,
           CAST(COALESCE(SUM(n_new) OVER (ORDER BY w
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_prev
    FROM weekly
),
sq AS (SELECT w, n_new, n_prev, n_prev * n_prev AS p2 FROM cum),
moms AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(n_new) AS BIGINT) AS sy,
           CAST(SUM(n_prev) AS BIGINT) AS sa,
           CAST(SUM(CAST(n_prev AS DECIMAL(19,0))
                    * CAST(n_prev AS DECIMAL(14,0))) AS DECIMAL(38,0)) AS sb,
           CAST(SUM(CAST(n_new AS DECIMAL(19,0))
                    * CAST(n_prev AS DECIMAL(14,0))) AS DECIMAL(38,0))
               AS sya,
           CAST(SUM(CAST(n_new AS DECIMAL(19,0))
                    * CAST(p2 AS DECIMAL(16,0))) AS DECIMAL(38,0)) AS syb,
           CAST(SUM(CAST(n_prev AS DECIMAL(19,0))
                    * CAST(p2 AS DECIMAL(16,0))) AS DECIMAL(38,0)) AS sab,
           CAST(SUM(CAST(p2 AS DECIMAL(19,0))
                    * CAST(p2 AS DECIMAL(16,0))) AS DECIMAL(38,0)) AS sbb
    FROM sq
),
cen AS (
    SELECT n, CAST(n AS DOUBLE) AS nd,
           CAST(sy AS DOUBLE) AS syd, CAST(sa AS DOUBLE) AS sad,
           (CAST(CAST((sb - sb % 1000000000000000000) / 1000000000000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE) + CAST(CAST((sb % 1000000000000000000 - sb % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE) + CAST(CAST(sb % 1000000000 AS BIGINT) AS DOUBLE)) AS sbd, (CAST(CAST((sya - sya % 1000000000000000000) / 1000000000000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE) + CAST(CAST((sya % 1000000000000000000 - sya % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE) + CAST(CAST(sya % 1000000000 AS BIGINT) AS DOUBLE)) AS syad,
           (CAST(CAST((syb - syb % 1000000000000000000) / 1000000000000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE) + CAST(CAST((syb % 1000000000000000000 - syb % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE) + CAST(CAST(syb % 1000000000 AS BIGINT) AS DOUBLE)) AS sybd, (CAST(CAST((sab - sab % 1000000000000000000) / 1000000000000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE) + CAST(CAST((sab % 1000000000000000000 - sab % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE) + CAST(CAST(sab % 1000000000 AS BIGINT) AS DOUBLE)) AS sabd,
           (CAST(CAST((sbb - sbb % 1000000000000000000) / 1000000000000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE) + CAST(CAST((sbb % 1000000000000000000 - sbb % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE) + CAST(CAST(sbb % 1000000000 AS BIGINT) AS DOUBLE)) AS sbbd
    FROM moms
),
c2 AS (
    SELECT n, nd, syd, sad, sbd,
           nd * syad - syd * sad AS cya,
           nd * sybd - syd * sbd AS cyb,
           nd * sbd - sad * sad AS caa,
           nd * sbbd - sbd * sbd AS cbb,
           nd * sabd - sad * sbd AS cab
    FROM cen
),
fit AS (
    SELECT n, nd, syd, sad, sbd,
           (cya * cbb - cyb * cab) / (caa * cbb - cab * cab) AS b_lin,
           (cyb * caa - cya * cab) / (caa * cbb - cab * cab) AS c_quad
    FROM c2
),
abc AS (
    SELECT n, b_lin, c_quad,
           (syd - b_lin * sad - c_quad * sbd) / nd AS a_const
    FROM fit
),
solved AS (
    SELECT n, a_const, b_lin, c_quad,
           (-b_lin - sqrt(b_lin * b_lin - 4 * c_quad * a_const))
               / (2 * c_quad) AS market_m
    FROM abc
)
SELECT n AS n_weeks, a_const, b_lin, c_quad, market_m,
       -c_quad * market_m AS q_imitation,
       a_const / market_m AS p_innovation
FROM solved"""


@register(
    "agg_bass_diffusion",
    oracle="""WITH first_buy AS (
        SELECT o_custkey,
               MIN(CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT))
                   AS d
        FROM orders GROUP BY o_custkey
    ),"""
    + _BASS_TAIL.format(first_buy="first_buy", div="//"),
)
def agg_bass_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion model fit by the discrete-time regression
    n_t = a + b·N_{t−1} + c·N²_{t−1} over weekly first purchases,
    then (p, q, M) from the quadratic root — the product-adoption
    forecaster. On this fixture the recovered market size M lands
    within ~0.5% of the true customer count, a free sanity proof.
    Moments use the (x²-as-int64, then d(19)×d(16)) widening so the
    4th-power sum stays exact to the 10× smoke; the 2-predictor
    normal equations are ts_granger_lag1's machinery.

    Scale: customer-grain first-purchase agg, then a week-grain fold;
    the regression is O(1) after the scan.
    """
    orders = load_table(spark, sf_dir, "orders")
    fb = orders.groupBy("o_custkey").agg(
        F.min(
            F.expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) div 86400")
        ).alias("d")
    )
    fb.createOrReplaceTempView("bass_first_buy")
    return spark.sql(
        "WITH " + _BASS_TAIL.format(first_buy="bass_first_buy", div="div")
    )


_MARKOV_TAIL = """
trans AS (
    SELECT et AS i, COALESCE(next_et, '__null') AS j,
           CAST(count(*) AS BIGINT) AS c
    FROM {seq}
    WHERE et IN ('click', 'view', 'signup', 'error')
    GROUP BY 1, 2
),
row_n AS (SELECT i, CAST(SUM(c) AS BIGINT) AS n_i FROM trans GROUP BY i),
tppm AS (
    SELECT t.i, t.j, CAST(t.c * 1000000 AS BIGINT) {div} r.n_i AS p
    FROM trans t JOIN row_n r ON r.i = t.i
),
variants AS (
    SELECT 'base' AS v, NULL AS removed
    UNION ALL SELECT 'click', 'click'
    UNION ALL SELECT 'view', 'view'
    UNION ALL SELECT 'signup', 'signup'
    UNION ALL SELECT 'error', 'error'
),
vmat AS (
    SELECT va.v, t.i, t.j, t.p
    FROM variants va JOIN tppm t
      ON va.removed IS NULL OR t.i <> va.removed
),

q1 AS (
    SELECT v, i, CAST(COALESCE(MAX(CASE WHEN j = 'purchase' THEN p END), 0)
                      AS DECIMAL(31,0)) AS q
    FROM vmat GROUP BY v, i
),
q2 AS (
    SELECT m.v, m.i,
           CAST(CAST(COALESCE(MAX(CASE WHEN m.j = 'purchase' THEN m.p END),
                              0) AS DECIMAL(31,0))
                * CAST(1000000 AS DECIMAL(25,0))
           + CAST(COALESCE(SUM(CASE WHEN m.j NOT IN ('purchase', '__null')
                                    THEN CAST(m.p AS DECIMAL(7,0))
                                         * CAST(qq.q AS DECIMAL(31,0)) END),
                           0) AS DECIMAL(38,0)) AS DECIMAL(31,0)) AS q
    FROM vmat m
    LEFT JOIN q1 qq ON qq.v = m.v AND qq.i = m.j
    GROUP BY m.v, m.i
),
q3 AS (
    SELECT m.v, m.i,
           CAST(CAST(COALESCE(MAX(CASE WHEN m.j = 'purchase' THEN m.p END),
                              0) AS DECIMAL(31,0))
                * CAST(1000000000000 AS DECIMAL(25,0))
           + CAST(COALESCE(SUM(CASE WHEN m.j NOT IN ('purchase', '__null')
                                    THEN CAST(m.p AS DECIMAL(7,0))
                                         * CAST(qq.q AS DECIMAL(31,0)) END),
                           0) AS DECIMAL(38,0)) AS DECIMAL(31,0)) AS q
    FROM vmat m
    LEFT JOIN q2 qq ON qq.v = m.v AND qq.i = m.j
    GROUP BY m.v, m.i
),
q4 AS (
    SELECT m.v, m.i,
           CAST(CAST(COALESCE(MAX(CASE WHEN m.j = 'purchase' THEN m.p END),
                              0) AS DECIMAL(31,0))
                * CAST(1000000000000000000 AS DECIMAL(25,0))
           + CAST(COALESCE(SUM(CASE WHEN m.j NOT IN ('purchase', '__null')
                                    THEN CAST(m.p AS DECIMAL(7,0))
                                         * CAST(qq.q AS DECIMAL(31,0)) END),
                           0) AS DECIMAL(38,0)) AS DECIMAL(31,0)) AS q
    FROM vmat m
    LEFT JOIN q3 qq ON qq.v = m.v AND qq.i = m.j
    GROUP BY m.v, m.i
),
q5 AS (
    SELECT m.v, m.i,
           CAST(CAST(COALESCE(MAX(CASE WHEN m.j = 'purchase' THEN m.p END),
                              0) AS DECIMAL(31,0))
                * CAST(1000000000000000000000000 AS DECIMAL(25,0))
           + CAST(COALESCE(SUM(CASE WHEN m.j NOT IN ('purchase', '__null')
                                    THEN CAST(m.p AS DECIMAL(7,0))
                                         * CAST(qq.q AS DECIMAL(31,0)) END),
                           0) AS DECIMAL(38,0)) AS DECIMAL(31,0)) AS q
    FROM vmat m
    LEFT JOIN q4 qq ON qq.v = m.v AND qq.i = m.j
    GROUP BY m.v, m.i
),
starts AS (
    SELECT et AS i, CAST(count(*) AS BIGINT) AS s_n
    FROM {firsts}
    WHERE et IN ('click', 'view', 'signup', 'error')
    GROUP BY et
),
numer AS (
    SELECT q5.v,
           CAST(SUM(CAST(s.s_n AS DECIMAL(7,0))
                    * CAST(q5.q AS DECIMAL(31,0))) AS DECIMAL(38,0)) AS num
    FROM q5 JOIN starts s ON s.i = q5.i
    GROUP BY q5.v
),
base_n AS (SELECT num AS base_num FROM numer WHERE v = 'base')
SELECT numer.v AS removed_channel,
       {numd} AS conv_weight,
       CAST(1 AS DOUBLE) - {numd} / {based} AS removal_effect
FROM numer CROSS JOIN base_n
ORDER BY removal_effect DESC, removed_channel"""

_MARKOV_DUCK_SEQ = """
ordered AS (
    SELECT user_id, event_type AS et, epoch_us(ts) AS us, event_id
    FROM events
),
sess AS (
    SELECT user_id, et, us,
           SUM(CASE WHEN pus IS NULL OR us - pus > 1800000000
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id) AS sid
    FROM (SELECT user_id, et, us, event_id,
                 lag(us) OVER (PARTITION BY user_id
                               ORDER BY us, event_id) AS pus
          FROM ordered) x
),
seqd AS (
    SELECT user_id, sid, et, us,
           lead(et) OVER (PARTITION BY user_id, sid ORDER BY us) AS next_et,
           row_number() OVER (PARTITION BY user_id, sid ORDER BY us) AS rn
    FROM sess
),
firsts AS (SELECT et FROM seqd WHERE rn = 1)
"""

_MARKOV_SPARK_SEQ = """
ordered AS (
    SELECT user_id, event_type AS et, unix_micros(CAST(ts AS TIMESTAMP)) AS us, event_id
    FROM events
),
sess AS (
    SELECT user_id, et, us,
           SUM(CASE WHEN pus IS NULL OR us - pus > 1800000000
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id) AS sid
    FROM (SELECT user_id, et, us, event_id,
                 lag(us) OVER (PARTITION BY user_id
                               ORDER BY us, event_id) AS pus
          FROM ordered) x
),
seqd AS (
    SELECT user_id, sid, et, us,
           lead(et) OVER (PARTITION BY user_id, sid ORDER BY us) AS next_et,
           row_number() OVER (PARTITION BY user_id, sid ORDER BY us) AS rn
    FROM sess
),
firsts AS (SELECT et FROM seqd WHERE rn = 1)
"""


@register(
    "agg_attribution_markov",
    oracle="WITH "
    + _MARKOV_DUCK_SEQ
    + ","
    + _MARKOV_TAIL.format(
        seq="seqd",
        firsts="firsts",
        div="//",
        numd=wide_dbl("numer.num"),
        based=wide_dbl("base_num"),
    ),
)
def agg_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al.): sessionized
    event journeys become a ppm-integer transition matrix over the
    four engagement channels (purchase absorbing, session-end null);
    5-step absorption probabilities unroll as decimal-exact matrix-
    vector products (each step one ppm factor, DECIMAL(31) state —
    DuckDB silently DOUBLES decimal products past 38 digits, so every
    multiply is width-capped); each channel's knockout variant drops
    its state from the transient set, and the removal effect is one
    wide_dbl division against the base journey weight — the
    data-to-credit pipeline marketing-mix teams run, exactly.

    Scale: sessionize + transition counts are the only data-sized
    stages; the 5 knockout chains run on <= 25-row matrices.
    """
    events = load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("markov_events")
    return spark.sql(
        "WITH "
        + _MARKOV_SPARK_SEQ.replace("FROM events", "FROM markov_events")
        + ","
        + _MARKOV_TAIL.format(
            seq="seqd",
            firsts="firsts",
            div="div",
            numd=wide_dbl("numer.num"),
            based=wide_dbl("base_num"),
        )
    )


@register(
    "ts_holt_winters",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 100)
                    AS BIGINT)) AS BIGINT) AS DOUBLE) / 100 AS y
        FROM events GROUP BY 1
    ),
    series AS (
        SELECT list(y ORDER BY d) AS ys, CAST(count(*) AS BIGINT) AS n,
               MAX(d) AS last_d
        FROM daily
    ),
    fitted AS (
        SELECT n, last_d,
               list_reduce(
                   list_transform(ys, v -> [
                       CAST(v AS DOUBLE), CAST(0.0 AS DOUBLE),
                       CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                       CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                       CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                       CAST(0.0 AS DOUBLE)]),
                   (acc, e) -> [
                       CAST(0.5 AS DOUBLE) * (e[1] - acc[3])
                         + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
                       CAST(0.25 AS DOUBLE)
                         * ((CAST(0.5 AS DOUBLE) * (e[1] - acc[3])
                             + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]))
                            - acc[1])
                         + CAST(0.75 AS DOUBLE) * acc[2],
                       acc[4], acc[5], acc[6], acc[7], acc[8], acc[9],
                       CAST(0.25 AS DOUBLE)
                         * (e[1] - (CAST(0.5 AS DOUBLE) * (e[1] - acc[3])
                            + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])))
                         + CAST(0.75 AS DOUBLE) * acc[3]]
               ) AS st
        FROM series
    )
    SELECT n AS n_days, last_d,
           st[1] AS level, st[2] AS trend,
           st[1] + 1 * st[2] + st[3] AS forecast_d1,
           st[1] + 2 * st[2] + st[4] AS forecast_d2,
           st[1] + 7 * st[2] + st[9] AS forecast_d7
    FROM fitted
    """,
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (weekly season, dyadic α=1/2, β=γ=1/4 so
    every smoothing constant is float-exact) as an array-state fold:
    state = [level, trend, s1..s7], the seasonal slots ROTATE each
    step so no modular indexing enters the lambda. Spark folds with
    aggregate() + 1-based element_at, DuckDB with list_reduce — the
    ts_holt_linear pattern extended to seasonal state, constructions
    independent but op-for-op order-identical, so the doubles match
    bit-for-bit. Emits the fitted state and 1/2/7-day-ahead
    forecasts.

    Scale: the only data-sized stage is the day-grain aggregate; the
    fold runs once over the calendar-bounded series.
    """
    daily = events_daily(spark, sf_dir).select(
        F.col("day").alias("d"),
        F.expr("CAST(COALESCE(cents, 0) AS DOUBLE) / 100").alias("y"),
    )
    series = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, y))), s -> s.y)"
        ).alias("ys"),
        F.count("*").cast("long").alias("n"),
        F.max("d").alias("last_d"),
    )
    upd_level = (
        "CAST(0.5 AS DOUBLE) * (v - element_at(acc, 3))"
        " + CAST(0.5 AS DOUBLE) * (element_at(acc, 1) + element_at(acc, 2))"
    )
    fold = f"""
    aggregate(
      slice(ys, 2, CAST(n - 1 AS INT)),
      array(element_at(ys, 1), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
            CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
            CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
      (acc, v) -> array(
        {upd_level},
        CAST(0.25 AS DOUBLE) * (({upd_level}) - element_at(acc, 1))
          + CAST(0.75 AS DOUBLE) * element_at(acc, 2),
        element_at(acc, 4), element_at(acc, 5), element_at(acc, 6),
        element_at(acc, 7), element_at(acc, 8), element_at(acc, 9),
        CAST(0.25 AS DOUBLE) * (v - ({upd_level}))
          + CAST(0.75 AS DOUBLE) * element_at(acc, 3))
    ) AS st
    """
    fitted = series.where(F.col("n") >= 1).select(
        "n", "last_d", F.expr(fold)
    )
    return fitted.select(
        F.col("n").alias("n_days"),
        "last_d",
        F.expr("element_at(st, 1)").alias("level"),
        F.expr("element_at(st, 2)").alias("trend"),
        F.expr(
            "element_at(st, 1) + 1 * element_at(st, 2) + element_at(st, 3)"
        ).alias("forecast_d1"),
        F.expr(
            "element_at(st, 1) + 2 * element_at(st, 2) + element_at(st, 4)"
        ).alias("forecast_d2"),
        F.expr(
            "element_at(st, 1) + 7 * element_at(st, 2) + element_at(st, 9)"
        ).alias("forecast_d7"),
    )


@register(
    "ts_m4_downsample",
    oracle="""
    WITH pts AS (
        SELECT epoch_us(ts) // 1000000 AS sec,
               event_id,
               CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT) AS cents
        FROM events
    ),
    bounds AS (
        SELECT MIN(sec) AS lo, MAX(sec) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n FROM pts
    ),
    binned AS (
        SELECT CAST(((p.sec - b.lo) * 400)
                    // (b.hi - b.lo + 1) AS BIGINT) AS pixel,
               p.sec, p.event_id, p.cents
        FROM pts p CROSS JOIN bounds b
    )
    SELECT pixel,
           CAST(COUNT(*) AS BIGINT) AS n_pts,
           CAST(MIN(cents) AS BIGINT) AS y_min,
           CAST(MAX(cents) AS BIGINT) AS y_max,
           CAST((MIN({'s': sec, 'e': event_id, 'c': cents})).c
                AS BIGINT) AS y_first,
           CAST((MAX({'s': sec, 'e': event_id, 'c': cents})).c
                AS BIGINT) AS y_last,
           CAST(MIN(sec) AS BIGINT) AS t_min,
           CAST(MAX(sec) AS BIGINT) AS t_max
    FROM binned GROUP BY pixel
    """,
)
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB'14): per pixel-column
    bucket keep min, max, first, and last — the four points that make
    a line chart over millions of points PIXEL-PERFECT at a fixed
    width (LTTB approximates shape; M4 is exact for rasterized
    lines, and unlike LTTB it is a pure parallel aggregation). 400
    pixel buckets over the global time span; first/last are
    min_by/max_by over the deterministic (sec, event_id) order, so
    ties can't drift between engines.

    Scale: ONE partial-aggregable groupBy — every mapper reduces its
    split to ≤400×4 points before the shuffle; the span bounds ride a
    1-row broadcast. This is the canonical "render 100 TB as 400
    pixels" shape.
    """
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
        "event_id",
        F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100)
        .cast("long")
        .alias("cents"),
    )
    bounds = pts.agg(
        F.min("sec").alias("lo"),
        F.max("sec").alias("hi"),
        F.count("*").alias("n"),
    )
    binned = pts.crossJoin(F.broadcast(bounds)).select(
        F.expr("((sec - lo) * 400) div (hi - lo + 1)")
        .cast("long")
        .alias("pixel"),
        "sec",
        "event_id",
        "cents",
    )
    # Spark's min_by/max_by reject struct keys on some versions; the
    # three-phase cascaded argmin/argmax (join_bitemporal pattern) is
    # overkill here because (sec, event_id) packs exactly: sec < 2^31
    # epoch-seconds and event_id < 2^31 on the fixtures would NOT hold
    # at scale, so use min/max over a struct instead — struct ordering
    # is lexicographic on both engines and carries the payload along.
    return binned.groupBy("pixel").agg(
        F.count("*").alias("n_pts"),
        F.min("cents").alias("y_min"),
        F.max("cents").alias("y_max"),
        F.min(F.struct("sec", "event_id", "cents"))["cents"].alias(
            "y_first"
        ),
        F.max(F.struct("sec", "event_id", "cents"))["cents"].alias(
            "y_last"
        ),
        F.min("sec").alias("t_min"),
        F.max("sec").alias("t_max"),
    )


def _esd_round_sql(rem: str, div: str) -> str:
    """One robust-ESD round over view {rem}: discrete-median center,
    discrete-MAD spread, cascaded argmax pick (max dev, then min day
    among ties). All order statistics are low-median integers; the
    score is ONE double division of exact ints (GREATEST(1, mad)
    guards the degenerate all-equal-residuals case)."""
    return f"""
        WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {rem}),
        med AS (
            SELECT (SELECT MIN(r) FROM (
                SELECT r, SUM(1) OVER (ORDER BY r) AS c FROM {rem}) t
                CROSS JOIN nn WHERE c >= (n + 1) {div} 2) AS m
            FROM nn
        ),
        madt AS (
            SELECT (SELECT MIN(av) FROM (
                SELECT CASE WHEN r >= m THEN r - m ELSE m - r END AS av,
                       SUM(1) OVER (ORDER BY CASE WHEN r >= m THEN r - m
                                                  ELSE m - r END) AS c
                FROM {rem} CROSS JOIN med) t
                CROSS JOIN nn WHERE c >= (n + 1) {div} 2) AS mad
            FROM med
        ),
        devs AS (
            SELECT d, y, r,
                   CASE WHEN r >= m THEN r - m ELSE m - r END AS dev,
                   m, mad
            FROM {rem} CROSS JOIN med CROSS JOIN madt
        )
        SELECT d, y, r, dev, mad,
               CAST(dev AS DOUBLE) / CAST(GREATEST(1, mad) AS DOUBLE)
                   AS score
        FROM devs
        WHERE dev = (SELECT MAX(dev) FROM devs) AND d = (
            SELECT MIN(d) FROM devs
            WHERE dev = (SELECT MAX(dev) FROM devs))
    """


_ESD_BASE = """
    WITH dowmed AS (
        SELECT dow, MIN(y) AS med_dow FROM (
            SELECT dow, y,
                   SUM(1) OVER (PARTITION BY dow ORDER BY y) AS c,
                   COUNT(*) OVER (PARTITION BY dow) AS nw
            FROM {daily}) t
        WHERE c >= (nw + 1) {div} 2 GROUP BY dow
    )
    SELECT d, y, b.dow, y - med_dow AS r
    FROM {daily} b JOIN dowmed ON dowmed.dow = b.dow
"""


@register(
    "ts_seasonal_esd",
    oracle="""
    WITH daily AS MATERIALIZED (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
               CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) % 7
                   AS dow,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1, 2
    ),
    resid AS MATERIALIZED ("""
    + _ESD_BASE.format(daily="daily", div="//")
    + """),
    a1 AS (SELECT 1 AS round, * FROM ("""
    + _esd_round_sql("resid", "//")
    + """) t1),
    rem2 AS MATERIALIZED (
        SELECT * FROM resid WHERE d NOT IN (SELECT d FROM a1)),
    a2 AS (SELECT 2 AS round, * FROM ("""
    + _esd_round_sql("rem2", "//")
    + """) t2),
    rem3 AS MATERIALIZED (
        SELECT * FROM rem2 WHERE d NOT IN (SELECT d FROM a2)),
    a3 AS (SELECT 3 AS round, * FROM ("""
    + _esd_round_sql("rem3", "//")
    + """) t3)
    SELECT round, d AS day, y AS rev_cents, r AS resid, dev, mad, score
    FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2
          UNION ALL SELECT * FROM a3) u
    ORDER BY round
    """,
)
def ts_seasonal_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-Hybrid ESD anomaly detection (Twitter's S-H-ESD,
    Hochenbaum et al. 2017) over daily revenue: remove day-of-week
    seasonality by subtracting the per-DOW discrete MEDIAN, then run
    k=3 rounds of ROBUST ESD — each round centers on the remaining
    residuals' median, spreads by their MAD, flags the max deviate
    (ties break to the earliest day), and REMOVES it before the next
    round, so one monster outlier cannot mask its neighbors (the
    masking problem single-pass Grubbs/MAD screens have;
    stats_grubbs_test and dq_mad_outliers are the single-pass
    cousins).

    All centers/spreads are integer low-median order statistics; the
    score is one double division of exact ints (GREATEST(1, mad)
    guards all-equal residuals). The Spark side MATERIALIZES each
    round (localCheckpoint, day-grain ⇒ free) and re-derives the
    remaining set by anti-join, so no collect path carries the
    3-round nested-subquery tower the single-statement oracle builds
    — the plan-depth discipline from _votes_frame_staged; DuckDB has
    no such cliff and keeps the nested text.

    Scale: one partial-aggregable day rollup; everything after is
    day-grain (calendar-bounded windows, BOUNDED_GRAIN whitelisted).
    """
    daily = orders_daily(spark, sf_dir).select(
        "d", (F.col("d") % 7).alias("dow"), "y"
    )
    daily.localCheckpoint(eager=True).createOrReplaceTempView("esd_daily")
    resid = spark.sql(
        _ESD_BASE.format(daily="esd_daily", div="div")
    ).localCheckpoint(eager=True)
    resid.createOrReplaceTempView("esd_rem1")
    parts = []
    for k in (1, 2, 3):
        a = spark.sql(_esd_round_sql(f"esd_rem{k}", "div")).localCheckpoint(
            eager=True
        )
        a.createOrReplaceTempView(f"esd_a{k}")
        parts.append(a.select(F.lit(k).alias("round"), "*"))
        if k < 3:
            spark.sql(
                f"SELECT * FROM esd_rem{k} WHERE d NOT IN"
                f" (SELECT d FROM esd_a{k})"
            ).localCheckpoint(eager=True).createOrReplaceTempView(
                f"esd_rem{k + 1}"
            )
    out = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return out.select(
        "round",
        F.col("d").alias("day"),
        F.col("y").alias("rev_cents"),
        F.col("r").alias("resid"),
        "dev",
        "mad",
        "score",
    ).orderBy("round")


def _dft_angle_values() -> str:
    """Shared 150-row VALUES table of EXACT double constants
    cos/sin(2π·k·t/30) for k=1..5, t=0..29, rendered via repr() —
    shortest-repr doubles round-trip bit-exactly through both
    engines' strtod, so the trig table is identical on both sides
    (libm cos/sin are NOT guaranteed cross-engine identical; the
    float-constant string-literal rule, applied 300 times)."""
    import math

    rows = ", ".join(
        f"({k}, {t}, CAST('{math.cos(2 * math.pi * k * t / 30)!r}'"
        f" AS DOUBLE), CAST('{math.sin(2 * math.pi * k * t / 30)!r}'"
        f" AS DOUBLE))"
        for k in range(1, 6)
        for t in range(30)
    )
    return f"(VALUES {rows}) angles(k, t, c, s)"


_PERIODOGRAM_TAIL = """
idx AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS BIGINT) AS t,
           y
    FROM {daily}
),
terms AS (
    SELECT angles.k, i.t,
           CAST(i.y AS DOUBLE) * angles.c AS yc,
           CAST(i.y AS DOUBLE) * angles.s AS ys
    FROM idx i JOIN {angles} ON angles.t = i.t
),
folded AS (
    SELECT k, {cos_fold} AS cos_sum, {sin_fold} AS sin_sum
    FROM terms GROUP BY k
)
SELECT CAST(k AS BIGINT) AS k,
       cos_sum, sin_sum,
       cos_sum * cos_sum + sin_sum * sin_sum AS power
FROM folded ORDER BY k"""


@register(
    "ts_periodogram",
    oracle="""
    WITH daily AS (
        SELECT epoch_us(ts) // 86400000000 AS d,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),"""
    + _PERIODOGRAM_TAIL.format(
        daily="daily",
        angles=_dft_angle_values().replace(") angles(", ") AS angles("),
        cos_fold=(
            "list_reduce(list_prepend(CAST(0 AS DOUBLE),"
            " list(yc ORDER BY t)), (a, x) -> a + x)"
        ),
        sin_fold=(
            "list_reduce(list_prepend(CAST(0 AS DOUBLE),"
            " list(ys ORDER BY t)), (a, x) -> a + x)"
        ),
    ),
)
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier PERIODOGRAM of the daily event-count series —
    spectral power at cycle frequencies k=1..5 over the 30-day
    fixture span, the classic seasonality detector (a weekly cycle
    lights up k≈4 ≙ period 7.5d; ts_seasonal_esd ASSUMES the weekly
    period, this op MEASURES it). P(k) = (Σy·cos)² + (Σy·sin)².

    Portability: the trig table is INJECTED as 300 repr()-exact
    double literals shared by both engines (libm cos/sin differ
    cross-engine; strtod of shortest-repr doesn't), each y·c term is
    one exact-int × exact-constant product, and the per-frequency
    sums fold in FIXED t order (bounded 30-element lists — the
    ts_dtw/brunner-munzel fold pattern), so every output double is
    bit-identical. Day index t = dense rank of the day, so a fixture
    span ≠ 30 days drops/keeps rows IDENTICALLY on both sides (the
    parity contract never depends on the span assumption).

    Scale: one partial-aggregable day rollup; the spectral fold is
    150 rows. For arbitrary-length series the same shape runs per
    (series, frequency) key — still one shuffle.
    """
    daily = events_daily(spark, sf_dir).select(
        F.col("day").alias("d"), F.col("n").alias("y")
    )
    daily.createOrReplaceTempView("periodogram_daily")
    spark.sql(
        "SELECT * FROM " + _dft_angle_values()
    ).createOrReplaceTempView("periodogram_angles")
    fold = (
        "aggregate(transform(array_sort(collect_list(struct(t, {c}))),"
        " e -> e.{c}), CAST(0 AS DOUBLE), (a, x) -> a + x)"
    )
    return spark.sql(
        "WITH "
        + _PERIODOGRAM_TAIL.format(
            daily="periodogram_daily",
            angles="periodogram_angles AS angles",
            cos_fold=fold.format(c="yc"),
            sin_fold=fold.format(c="ys"),
        ).lstrip()
    )


_COXPH_RANKS = """
mx AS (SELECT MAX(day) AS mx FROM {pts}),
u AS (
    SELECT subj,
           MAX(day) - MIN(day) AS dur,
           CASE WHEN MAX(day) >= (SELECT mx FROM mx) - 90
                THEN 0 ELSE 1 END AS event,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM {pts} GROUP BY subj
),
g AS (
    SELECT dur,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event) AS BIGINT) AS d,
           CAST(SUM(x) AS BIGINT) AS sx_all,
           CAST(SUM(x * x) AS BIGINT) AS sxx_all,
           CAST(SUM(event * x) AS BIGINT) AS sx_d
    FROM u GROUP BY dur
),
risk AS (
    SELECT dur, d, sx_d,
           SUM(n) OVER w AS s0,
           SUM(sx_all) OVER w AS s1,
           SUM(sxx_all) OVER w AS s2
    FROM g
    WINDOW w AS (ORDER BY dur DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
terms AS (
    SELECT dur,
           CAST(sx_d AS DOUBLE)
             - CAST(d AS DOUBLE) * CAST(s1 AS DOUBLE)
               / CAST(s0 AS DOUBLE) AS tu,
           CAST(d AS DOUBLE)
             * (CAST(s2 AS DOUBLE) / CAST(s0 AS DOUBLE)
                - (CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE))) AS ti
    FROM risk WHERE d > 0
),
tots AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_subjects,
           CAST(SUM(d) AS BIGINT) AS n_events
    FROM g
),
"""

_COXPH_FINAL = """
SELECT t.n_subjects, t.n_events,
       f.u AS u_score, f.i AS fisher_info,
       f.u / f.i AS beta
FROM tots t CROSS JOIN folds f
WHERE t.n_events > 0"""


@register(
    "ml_coxph_newton",
    oracle="""
    WITH pts AS (
        SELECT o_custkey AS subj,
               epoch_us(o_orderdate) // 86400000000 AS day
        FROM orders
    ),"""
    + _COXPH_RANKS.format(pts="pts", div="//")
    + """
folds AS (
    SELECT
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(tu ORDER BY dur)), (a, x) -> a + x) AS u,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(ti ORDER BY dur)), (a, x) -> a + x) AS i
    FROM terms
)"""
    + _COXPH_FINAL,
)
def ml_coxph_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Newton step of COX PROPORTIONAL HAZARDS from β = 0 —
    the survival-regression building block beside ts_survival_km's
    nonparametric table: does purchase VOLUME (per-customer order
    count, the covariate) predict churn hazard? Subjects are
    customers over their order history (duration = first→last order
    day, churned unless active in the final 90 days — ~2/3 of
    customers event, rich duration structure; the events table's
    users are all active to the end, which is why the KM op's 7-day
    rule would be vacuous here — the 0-row first draft was caught by
    the eyeball-the-row-count rule). At β = 0 every exp(βx) is 1,
    so the Breslow-ties score U = Σ_t(Σ_{deaths}x − d_t·S1_t/S0_t)
    and information I = Σ_t d_t(S2_t/S0_t − (S1_t/S0_t)²) are CLOSED
    FORMS over risk-set suffix sums (S0/S1/S2 = subjects, Σx, Σx²
    with duration ≥ t — the KM "risk set = descending suffix sum"
    trick), and β₁ = U/I.

    Portability: all moments are exact int64; the per-event-time
    terms carry divisions, so U and I fold in FIXED duration order
    over the day-bounded term list (the brunner-munzel/dtw pattern),
    making every output double bit-identical. Numpy Breslow replay
    unit-pinned.

    Scale: one per-user aggregate → duration-grain (calendar-bounded)
    suffix sums → a ≤days-long fold. No per-time-point pass over
    subjects anywhere.
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.select(
        F.col("o_custkey").alias("subj"),
        F.expr(
            "CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) div 86400"
        ).alias("day"),
    ).createOrReplaceTempView("coxph_pts")
    return spark.sql(
        "WITH "
        + _COXPH_RANKS.format(pts="coxph_pts", div="div").lstrip()
        + """
folds AS (
    SELECT
        aggregate(transform(array_sort(collect_list(struct(dur, tu))),
            e -> e.tu), CAST(0 AS DOUBLE), (a, x) -> a + x) AS u,
        aggregate(transform(array_sort(collect_list(struct(dur, ti))),
            e -> e.ti), CAST(0 AS DOUBLE), (a, x) -> a + x) AS i
    FROM terms
)"""
        + _COXPH_FINAL
    )


@register(
    "ts_matrix_profile",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1
    ),
    ranked AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
               cents
        FROM daily
    ),
    nwin AS (SELECT COUNT(*) - 6 AS nw FROM ranked),
    pairs AS (
        SELECT a.t AS t, b.t AS s,
               CAST(SUM((x.cents - y.cents) * (x.cents - y.cents))
                    AS BIGINT) AS dist2
        FROM ranked a
        JOIN ranked b ON abs(a.t - b.t) >= 4
        JOIN nwin ON a.t <= nw AND b.t <= nw
        CROSS JOIN (SELECT unnest(range(0, 7)) AS i) off
        JOIN ranked x ON x.t = a.t + off.i
        JOIN ranked y ON y.t = b.t + off.i
        GROUP BY a.t, b.t
    )
    SELECT t AS win_idx,
           CAST((MIN(STRUCT_PACK(a := dist2, b := s))).b AS BIGINT)
               AS nn_idx,
           CAST(MIN(dist2) AS BIGINT) AS nn_dist2
    FROM pairs GROUP BY t
    """,
)
def ts_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRIX PROFILE (Yeh et al.) over the daily revenue series —
    the motif/discord primitive of modern time-series mining: for
    every length-7 window, the squared euclidean distance to its
    nearest non-trivial neighbor (exclusion zone |t−s| ≥ 4, half the
    window, the standard trivial-match guard). Distances are exact
    int64 (integer cents, no normalization — raw-amplitude MP), the
    neighbor tie breaks to the smallest index via the portable
    struct-argmin, and the global minimum pair is the series' top
    motif while the maximum profile value is its top discord. An
    independent numpy brute-force replay pins the construction
    (shared-derivation ops are parity-blind — the r4 rule).

    Scale: the profile is computed on the CALENDAR-grain rollup
    (distributed partial agg first), so the O(n²·w) pair join runs on
    a bounded frame — the same legality argument as every day-grain
    op; at 100 TB only the rollup touches data.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.expr("CAST(date_trunc('day', ts) AS DATE)").alias("d"))
        .agg(
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias(
                "cents"
            )
        )
    )
    ranked = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
        "cents",
    )
    nw = ranked.count() - 6
    if nw < 5:  # need |t-s| >= 4 within 1..nw
        return spark.createDataFrame(
            [], "win_idx long, nn_idx long, nn_dist2 long"
        )
    a = ranked.select(F.col("t").alias("t"))
    b = ranked.select(F.col("t").alias("s"))
    off = spark.range(0, 7).select(F.col("id").alias("i"))
    x = ranked.select(F.col("t").alias("xt"), F.col("cents").alias("xv"))
    y = ranked.select(F.col("t").alias("yt"), F.col("cents").alias("yv"))
    pairs = (
        a.where(F.col("t") <= nw)
        .join(b.where(F.col("s") <= nw), F.abs(F.col("t") - F.col("s")) >= 4)
        .crossJoin(F.broadcast(off))
        .join(x, F.col("xt") == F.col("t") + F.col("i"))
        .join(y, F.col("yt") == F.col("s") + F.col("i"))
        .groupBy("t", "s")
        .agg(
            F.sum(
                (F.col("xv") - F.col("yv")) * (F.col("xv") - F.col("yv"))
            )
            .cast("long")
            .alias("dist2")
        )
    )
    return pairs.groupBy(F.col("t").alias("win_idx")).agg(
        F.min(F.struct("dist2", "s"))["s"].cast("long").alias("nn_idx"),
        F.min("dist2").cast("long").alias("nn_dist2"),
    )


@register(
    "ts_nelson_aalen",
    oracle="""
    WITH mx AS (SELECT MAX(epoch_us(ts) // 1000000) AS mx FROM events),
    u AS (
        SELECT user_id,
               (MAX(epoch_us(ts) // 1000000) - MIN(epoch_us(ts) // 1000000))
                   // 86400 AS dur,
               CASE WHEN MAX(epoch_us(ts) // 1000000)
                         >= (SELECT mx FROM mx) - 7 * 86400
                    THEN 1 ELSE 0 END AS censored
        FROM events GROUP BY user_id
    ),
    g AS (
        SELECT dur,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(1 - censored) AS BIGINT) AS d
        FROM u GROUP BY dur
    ),
    risk AS (
        SELECT dur AS t, d,
               CAST(SUM(n) OVER (ORDER BY dur DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS n_risk
        FROM g
    ),
    haz AS (
        SELECT t, d, n_risk,
               CAST(d * 1000000 // n_risk AS BIGINT) AS h_ppm,
               CAST(d * 1000000000000 // (n_risk * n_risk) AS BIGINT)
                   AS var_pptt
        FROM risk
    )
    SELECT CAST(t AS BIGINT) AS t_days, n_risk, d, h_ppm,
           CAST(SUM(h_ppm) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_hazard_ppm,
           CAST(SUM(var_pptt) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_var_pptt
    FROM haz WHERE t <= 30
    """,
)
def ts_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator — `ts_survival_km`'s
    counting-process twin (KM multiplies survival steps; NA sums
    hazard increments d_i/n_i, the quantity Cox regression and
    competing-risk models build on). Same right-censoring convention
    as KM (users active in the last 7 days are censored); hazard
    increments and their Poisson variance terms d/n² are integer ppm
    / parts-per-trillion via exact integer division (the truncation
    IS the documented estimator here — no float division anywhere),
    so the cumulative sums are exact int64 in both engines.

    Scale: user-grain rollup (distributed), then O(distinct
    durations) bounded windows — the calendar-series shape.
    """
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(
        F.expr("MAX(CAST(CAST(ts AS TIMESTAMP) AS BIGINT))").alias("mx")
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.expr(
                "(MAX(CAST(CAST(ts AS TIMESTAMP) AS BIGINT))"
                " - MIN(CAST(CAST(ts AS TIMESTAMP) AS BIGINT))) div 86400"
            ).alias("dur"),
            F.expr(
                "MAX(CAST(CAST(ts AS TIMESTAMP) AS BIGINT))"
            ).alias("last_s"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "dur",
            F.expr(
                "CASE WHEN last_s >= mx - 7 * 86400 THEN 1 ELSE 0 END"
            ).alias("censored"),
        )
    )
    g = u.groupBy("dur").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.lit(1) - F.col("censored")).cast("long").alias("d"),
    )
    wrisk = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = g.select(
        F.col("dur").alias("t"),
        "d",
        F.sum("n").over(wrisk).cast("long").alias("n_risk"),
    )
    haz = risk.select(
        "t",
        "d",
        "n_risk",
        F.expr("CAST(d * 1000000 div n_risk AS BIGINT)").alias("h_ppm"),
        F.expr(
            "CAST(d * 1000000000000 div (n_risk * n_risk) AS BIGINT)"
        ).alias("var_pptt"),
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return haz.where(F.col("t") <= 30).select(
        F.col("t").cast("long").alias("t_days"),
        "n_risk",
        "d",
        "h_ppm",
        F.sum("h_ppm").over(wcum).cast("long").alias("cum_hazard_ppm"),
        F.sum("var_pptt").over(wcum).cast("long").alias("cum_var_pptt"),
    )


@register(
    "ts_forecast_accuracy",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS a
        FROM orders GROUP BY 1
    ),
    eval AS (
        SELECT c.d, c.a,
               s.a AS f_seasonal,
               n.a AS f_naive1,
               c.a - s.a AS e,
               ABS(c.a - s.a) AS ae,
               ABS(c.a - n.a) AS ae1
        FROM daily c
        JOIN daily s ON s.d = c.d - 7
        JOIN daily n ON n.d = c.d - 1
        WHERE c.a > 0
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
               CAST(SUM(a) AS BIGINT) AS sum_actual_cents,
               CAST(SUM(ae) AS BIGINT) AS sum_abs_err_cents,
               CAST(SUM(e) AS BIGINT) AS sum_err_cents,
               CAST(SUM(ae * 1000000 // a) AS BIGINT) AS sum_row_ppm,
               CAST(SUM(ae1) AS BIGINT) AS sum_abs_err1
        FROM eval
    )
    SELECT n_eval, sum_actual_cents, sum_abs_err_cents,
           CAST(sum_row_ppm // n_eval AS BIGINT) AS mape_ppm,
           CAST(CAST(sum_abs_err_cents AS HUGEINT) * 1000000
                // sum_actual_cents AS BIGINT) AS wape_ppm,
           CAST(CAST(sum_abs_err_cents AS HUGEINT) * 1000000
                // sum_abs_err1 AS BIGINT) AS mase_ppm,
           CAST(sum_err_cents AS DOUBLE)
               / CAST(sum_abs_err_cents AS DOUBLE) AS tracking_signal
    FROM agg
    WHERE n_eval > 0 AND sum_abs_err_cents > 0 AND sum_abs_err1 > 0
    """,
)
def ts_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy scorecard — the metrics every demand-planning
    / capacity pipeline reports when grading a model: MAPE (mean
    per-day absolute percentage error), WAPE (volume-weighted), MASE
    (scaled by the naive-1 benchmark — Hyndman's scale-free standard:
    <1e6 ppm means the forecast beats naive), and the cumulative
    tracking signal (signed bias / absolute error). Graded forecast:
    SEASONAL-NAIVE with a 7-day season (f(t) = a(t-7), calendar
    join, not row offset — gaps stay honest). All ratios are exact
    integer arithmetic: per-day percentage errors as integer ppm
    (int64-safe at any SF since |e|*1e6 is per-DAY), global ratios
    through DECIMAL(38) scaled division (Spark decimal `div` ==
    DuckDB HUGEINT `//` for positive operands, r3 note), and the
    one signed ratio (tracking signal) as a SINGLE double division
    over exact int64 sums < 2^53 — bit-identical both engines.
    Days with zero actuals are excluded (MAPE is undefined there —
    the standard convention); empty-in, empty-out via n_eval > 0,
    and a degenerate perfect forecast (sum_abs_err_cents or
    sum_abs_err1 = 0, where MASE/tracking signal are undefined)
    likewise emits no row instead of raising under Spark ANSI.

    Scale: day-grain rollup first (distributed, partial-aggregable),
    then O(days) self-joins on the calendar key — no global window,
    no single-partition exchange anywhere.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr("CAST(o_orderdate AS DATE)").alias("d")
    ).agg(
        F.expr("CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
        .alias("a")
    )
    c, s, n1 = daily.alias("c"), daily.alias("s"), daily.alias("n1")
    ev = (
        c.join(s, F.expr("s.d = c.d - INTERVAL 7 DAYS"))
        .join(n1, F.expr("n1.d = c.d - INTERVAL 1 DAYS"))
        .where(F.col("c.a") > 0)
        .select(
            F.col("c.a").alias("a"),
            (F.col("c.a") - F.col("s.a")).alias("e"),
            F.abs(F.col("c.a") - F.col("s.a")).alias("ae"),
            F.abs(F.col("c.a") - F.col("n1.a")).alias("ae1"),
        )
    )
    agg = ev.agg(
        F.count("*").cast("long").alias("n_eval"),
        F.sum("a").cast("long").alias("sum_actual_cents"),
        F.sum("ae").cast("long").alias("sum_abs_err_cents"),
        F.sum("e").cast("long").alias("sum_err_cents"),
        F.sum(F.expr("ae * 1000000 div a")).cast("long").alias("sum_row_ppm"),
        F.sum("ae1").cast("long").alias("sum_abs_err1"),
    )
    return agg.where(
        (F.col("n_eval") > 0)
        & (F.col("sum_abs_err_cents") > 0)
        & (F.col("sum_abs_err1") > 0)
    ).select(
        "n_eval",
        "sum_actual_cents",
        "sum_abs_err_cents",
        F.expr("sum_row_ppm div n_eval").cast("long").alias("mape_ppm"),
        F.expr(
            "CAST(CAST(sum_abs_err_cents AS DECIMAL(38,0)) * 1000000"
            " div sum_actual_cents AS BIGINT)"
        ).alias("wape_ppm"),
        F.expr(
            "CAST(CAST(sum_abs_err_cents AS DECIMAL(38,0)) * 1000000"
            " div sum_abs_err1 AS BIGINT)"
        ).alias("mase_ppm"),
        (
            F.col("sum_err_cents").cast("double")
            / F.col("sum_abs_err_cents").cast("double")
        ).alias("tracking_signal"),
    )


_ORDPAT_TAIL = """
pts AS (
    SELECT y, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn
    FROM {daily}
),
trips AS (
    SELECT y AS y2,
           lag(y, 1) OVER (ORDER BY rn) AS y1,
           lag(y, 2) OVER (ORDER BY rn) AS y0
    FROM pts
),
coded AS (
    SELECT CASE
               WHEN y0 <= y1 AND y1 <= y2 THEN 'rise-rise'
               WHEN y0 <= y1 AND y1 > y2 AND y0 <= y2 THEN 'rise-dip'
               WHEN y0 <= y1 AND y1 > y2 AND y0 > y2 THEN 'peak'
               WHEN y0 > y1 AND y1 <= y2 AND y0 <= y2 THEN 'valley'
               WHEN y0 > y1 AND y1 <= y2 AND y0 > y2 THEN 'dip-rise'
               ELSE 'fall-fall' END AS pattern
    FROM trips WHERE y0 IS NOT NULL
),
counts AS (
    SELECT pattern, CAST(COUNT(*) AS BIGINT) AS n
    FROM coded GROUP BY pattern
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM counts)
SELECT c.pattern, c.n,
       CAST(c.n * 1000000 // t.nt AS BIGINT) AS share_ppm,
       CAST((SELECT SUM(n * (n - 1)) FROM counts) AS DOUBLE)
           / (CAST(t.nt AS DOUBLE) * CAST(t.nt - 1 AS DOUBLE))
           AS simpson_index
FROM counts c, tot t
WHERE t.nt > 1
ORDER BY c.n DESC, c.pattern"""

_ORDPAT_DUCK_DAILY = """
daily AS (
    SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
    FROM orders GROUP BY 1
)"""


@register(
    "ts_ordinal_patterns",
    oracle="WITH "
    + _ORDPAT_DUCK_DAILY
    + ","
    + _ORDPAT_TAIL.format(daily="daily").replace(" div ", " // "),
)
def ts_ordinal_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDINAL-PATTERN profile of the daily revenue series (Bandt &
    Pompe's permutation-entropy machinery at embedding dimension 3,
    published log-free): every consecutive day triple is classified
    into one of the 6 order patterns by EXACT integer comparisons
    (ties resolved by the fixed `<=` time-order rule, so the code is
    deterministic on both engines), and the distribution is summarized
    by integer ppm shares plus the SIMPSON concentration index
    sum n_i(n_i-1) / (N(N-1)) — the entropy-free diversity measure
    whose single double division over exact ints is bit-identical
    cross-engine (ln() is not portable, r3 note; Simpson carries the
    same signal: 1/6 ~ maximally irregular, 1 ~ deterministic trend).

    Scale: rides the session-cached orders day rollup
    (frame_cache.orders_daily); the lag window runs over the
    calendar-bounded daily frame (BOUNDED_GRAIN), O(6) tail.
    Replay-pinned against a direct numpy pattern count.
    """
    orders_daily(spark, sf_dir).select("d", "y").createOrReplaceTempView(
        "ordpat_daily"
    )
    return spark.sql(
        "WITH "
        + _ORDPAT_TAIL.format(daily="ordpat_daily").replace(" // ", " div ")
        .lstrip()
    )


_SAMPEN_TAIL = """t AS (
    SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn, y
    FROM {daily}
),
lagd AS (
    SELECT rn, y AS x0,
           LEAD(y, 1) OVER (ORDER BY rn) AS x1,
           LEAD(y, 2) OVER (ORDER BY rn) AS x2
    FROM t
),
tolr AS (
    SELECT (MAX(y) - MIN(y)) {div} 10 AS tol FROM t
),
pairs AS (
    SELECT CAST(COUNT(CASE WHEN a.x1 IS NOT NULL AND b.x1 IS NOT NULL
                    AND ABS(a.x0 - b.x0) <= tolr.tol
                    AND ABS(a.x1 - b.x1) <= tolr.tol THEN 1 END)
                AS BIGINT) AS b_pairs,
           CAST(COUNT(CASE WHEN a.x2 IS NOT NULL AND b.x2 IS NOT NULL
                    AND ABS(a.x0 - b.x0) <= tolr.tol
                    AND ABS(a.x1 - b.x1) <= tolr.tol
                    AND ABS(a.x2 - b.x2) <= tolr.tol THEN 1 END)
                AS BIGINT) AS a_pairs,
           CAST(MAX(tolr.tol) AS BIGINT) AS tol_cents
    FROM lagd a JOIN lagd b ON a.rn < b.rn CROSS JOIN tolr
)
SELECT b_pairs, a_pairs, tol_cents,
       CASE WHEN b_pairs > 0
            THEN (a_pairs * 1000000) {div} b_pairs END AS a2b_ppm
FROM pairs"""

_SAMPEN_ORACLE = (
    """
    WITH daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    """
    + _SAMPEN_TAIL.format(daily="daily", div="//")
)


@register("ts_sample_entropy", oracle=_SAMPEN_ORACLE)
def ts_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy (SampEn, m=2) ingredients for the daily revenue
    series — the regularity/complexity score used to separate noisy
    from template-repeating series. Templates are consecutive pairs
    T_i=(x_i,x_{i+1}) and triples U_i=(x_i,x_{i+1},x_{i+2}) over the
    rank-ordered day series (documented variant: template sets run to
    the end of the series rather than both stopping at N-3); B counts
    template pairs i<j with Chebyshev distance <= tol, A the same over
    triples, with tol = (max-min) div 10 in integer cents. SampEn
    would be -ln(A/B); the log-free house form reports the exact
    integer ratio a2b_ppm = A*1e6 div B (blessed truncating division)
    plus the raw A, B counts — every number int64-exact on both
    engines from IDENTICAL tail SQL.

    Scale: rides the session-cached day-grain orders rollup (zero
    extra fact passes); the self-join is day-grain (~400x400 at any
    fixture SF — calendar-bounded, never row-count-sized). The
    single-partition windows are day-grain (plan-sweep whitelisted).
    Replay-pinned against a from-scratch numpy SampEn in
    tests/test_cross_consistency.py.
    """
    orders_daily(spark, sf_dir).select("d", "y").createOrReplaceTempView(
        "sampen_daily"
    )
    return spark.sql(
        "WITH " + _SAMPEN_TAIL.format(daily="sampen_daily", div="div")
    )


def _dfa_sql(daily: str, div: str, h: str, hc: str) -> str:
    """Generated DFA CTE chain (scales 4/8/16/32), IDENTICAL text on
    both engines modulo dialect tokens. Per box: cleared-denominator
    least-squares residual sum num = Syy_c*Sxx_c - Sxy_c^2 with
    Sxx_c = s*sum(x^2) - (sum x)^2 a per-scale integer LITERAL
    (x = 1..s is the same in every box), so the per-scale fluctuation
    F^2 = sum(num) / (Sxx_c * s^2 * n_boxes) is ONE blessed
    truncating division into exact ppm."""
    ranked = """ranked AS (
    SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
           y {div} 10000 AS yd
    FROM {daily}
)""".format(daily=daily, div=div)
    parts = [ranked]
    selects = []
    for s in (4, 8, 16, 32):
        sx = s * (s + 1) // 2
        sx2 = s * (s + 1) * (2 * s + 1) // 6
        sxx_c = s * sx2 - sx * sx
        parts.append(
            """box{s} AS (
    SELECT (rn - 1) {div} {s} AS b,
           CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(yd) AS BIGINT) AS sy,
           CAST(SUM(yd * yd) AS BIGINT) AS syy,
           CAST(SUM((rn - ((rn - 1) {div} {s}) * {s}) * yd) AS BIGINT)
               AS sxy
    FROM ranked GROUP BY (rn - 1) {div} {s}
    HAVING COUNT(*) = {s}
),
num{s} AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_boxes,
           CAST(SUM(
               {h}CAST({s} * syy - sy * sy AS DECIMAL(19,0))
               * CAST({sxx_c} AS DECIMAL(19,0)){hc}
             - {h}CAST({s} * sxy - {sx} * sy AS DECIMAL(19,0))
               * CAST({s} * sxy - {sx} * sy AS DECIMAL(19,0)){hc}
           ) AS DECIMAL(38,0)) AS num
    FROM box{s}
)""".format(s=s, sx=sx, sxx_c=sxx_c, div=div, h=h, hc=hc)
        )
        selects.append(
            """SELECT CAST({s} AS BIGINT) AS scale, n_boxes,
       CASE WHEN n_boxes > 0 THEN CAST(
           {h2}num * 1000000{hc2} {div} ({sxx_c} * {s2} * n_boxes)
           AS BIGINT) END AS f2_ppm
FROM num{s}""".format(
                s=s,
                s2=s * s,
                sxx_c=sxx_c,
                div=div,
                h2="CAST(" if hc else "",
                hc2=" AS HUGEINT)" if hc else "",
            )
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
    )


_DFA_ORACLE = _dfa_sql(
    daily="daily", div="//", h="CAST(", hc=" AS HUGEINT)"
).replace(
    "WITH ranked",
    """WITH daily AS (
    SELECT epoch_us(o_orderdate) // 86400000000 AS d,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS y
    FROM orders GROUP BY 1
),
ranked""",
)


@register("ts_dfa", oracle=_DFA_ORACLE)
def ts_dfa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended fluctuation analysis (DFA-1) of daily revenue at
    scales 4/8/16/32 days — the standard long-range-correlation
    probe (Peng 1994): per complete box of s consecutive days, fit a
    line and sum squared residuals; F^2(s) grows ~ s^(2*alpha). The
    residual sum rides the cleared-denominator identity
    num = Syy_c*Sxx_c - Sxy_c^2 (exact ints; Sxx_c is a per-scale
    LITERAL since x = 1..s in every box), summed in DECIMAL(38) and
    published as exact ppm via ONE blessed truncating division —
    log-free; a consumer reads the Hurst-like slope from the f2_ppm
    ratios across scales. Units are hundred-dollar
    blocks (cents div 10000): keeps every pre-decimal intermediate
    (s*syy, sy^2) int64-exact to ~3000x the sf0.1 fixture — the 10x
    smoke caught whole-dollar units overflowing 32*syy at exactly the
    r4 ANSI-asymmetry class, hence the coarser grain.

    Scale: rides the session-cached day-grain orders rollup; every
    window/group is calendar-bounded (~2400 days, ~600 boxes at
    s=4). Replay-pinned against a from-scratch numpy least-squares
    DFA in tests/test_cross_consistency.py.
    """
    orders_daily(spark, sf_dir).select("d", "y").createOrReplaceTempView(
        "dfa_daily"
    )
    return spark.sql(_dfa_sql(daily="dfa_daily", div="div", h="", hc=""))


_TURNPT_TAIL = """t AS (
    SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn, y
    FROM {daily}
),
lagd AS (
    SELECT y,
           LAG(y, 1) OVER (ORDER BY rn) AS yp,
           LEAD(y, 1) OVER (ORDER BY rn) AS yn
    FROM t
),
folded AS (
    SELECT CAST((SELECT COUNT(*) FROM t) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN yp IS NOT NULL AND yn IS NOT NULL
                    AND ((y > yp AND y > yn) OR (y < yp AND y < yn))
                    THEN 1 ELSE 0 END) AS BIGINT) AS tp
    FROM lagd
)
SELECT n, tp,
       CASE WHEN n >= 3 THEN
           CAST(3 * tp - 2 * (n - 2) AS DOUBLE) / CAST(3 AS DOUBLE)
           / SQRT(CAST(16 * n - 29 AS DOUBLE) / CAST(90 AS DOUBLE))
       END AS z
FROM folded"""

_TURNPT_ORACLE = (
    """
    WITH daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    """
    + _TURNPT_TAIL.format(daily="daily")
)


@register("ts_turning_points", oracle=_TURNPT_ORACLE)
def ts_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wallis-Moore turning-points randomness test on the daily
    revenue series: count STRICT local extrema (y[i-1] < y[i] > y[i+1]
    or mirrored; ties break a turning point, documented), compare to
    the i.i.d. expectation 2(n-2)/3 with variance (16n-29)/90. The
    count is an exact int64; z is a fixed-order chain of correctly
    rounded double ops over exact ints (one subtraction pre-cleared to
    integers: 3T - 2(n-2)) — bit-identical both engines; SQRT is
    IEEE-correct on both.

    Scale: rides the session-cached day-grain orders rollup; the
    lag/lead window is calendar-bounded (plan-sweep whitelisted).
    Replay-pinned against a brute-force Python count in
    tests/test_cross_consistency.py.
    """
    orders_daily(spark, sf_dir).select("d", "y").createOrReplaceTempView(
        "turnpt_daily"
    )
    return spark.sql("WITH " + _TURNPT_TAIL.format(daily="turnpt_daily"))
