"""Registry entries for the streaming operators (SURVEY.md §2.2).

Each key runs the shared transform from
:mod:`e2e_data_pipeline_spark.streaming.core` in BATCH mode — that is
what the DuckDB oracle hash-checks. The same transforms run under
``readStream`` in tests/test_streaming.py and must produce identical
results (batch≡stream parity), which is why the batch answer doubles
as the streaming golden answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from e2e_data_pipeline_spark.catalog import load_table
from e2e_data_pipeline_spark.operators.registry import register
from e2e_data_pipeline_spark.streaming import core, stateful

_TS_FMT = "%Y-%m-%d %H:%M:%S"


@register(
    "stream_tumbling",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '{_TS_FMT}') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return core.tumbling_counts(load_table(spark, sf_dir, "events"))


@register(
    "stream_sliding",
    oracle=f"""
    WITH assigned AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS w, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS w,
               value
        FROM events
    )
    SELECT strftime(w, '{_TS_FMT}') AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM assigned
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window emulated in SQL: a 10-min window sliding by 5
    assigns each event to exactly the 5-min bucket and that bucket
    minus 5 minutes."""
    return core.sliding_counts(load_table(spark, sf_dir, "events"))


@register(
    "stream_session",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT *, SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
        FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S.%f')
               AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap); oracle is the classic
    gaps-and-islands emulation. Session end = last event + gap, and a
    gap of exactly 30:00 starts a new session (matches session_window's
    half-open [start, last+gap) semantics)."""
    return core.sessionize(load_table(spark, sf_dir, "events"))


@register(
    "stream_dedup_watermark",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once → exactly-once dedup: re-delivered events (every
    3rd) dropped by event_id. The oracle is just `events` — dedup of
    exact redeliveries must reproduce the original stream."""
    return core.watermark_dedup(load_table(spark, sf_dir, "events"))


@register(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment,
           e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return core.static_join_enrich(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
    )


@register(
    "stream_stateful",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value,
           CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running stats folded across micro-batches with integer-cent state.
    This batch twin is the golden answer the streaming run must equal
    (asserted in tests/test_streaming.py); the oracle replays the same
    cents arithmetic in SQL."""
    return stateful.running_user_stats_batch(load_table(spark, sf_dir, "events"))


@register(
    "stream_stream_join",
    oracle="""
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id,
           CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS us_to_convert
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND p.ts > v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.event_type = 'view'
      AND p.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream⋈stream conversion attribution (purchase within 1h of a
    view by the same user). Batch twin of
    :func:`e2e_data_pipeline_spark.streaming.core.stream_stream_conversions`;
    the streaming run with two watermarked sides is asserted equal in
    tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events")
    return core.stream_stream_conversions(ev, ev)


@register(
    "stream_stream_outer",
    oracle="""
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id,
           CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS us_to_convert
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = v.user_id
     AND p.ts > v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream⋈stream attribution: every view emits — with
    its converting purchases, or null-padded if no purchase followed
    within the hour. This is the semantics real attribution pipelines
    need (unconverted traffic is the denominator of a conversion
    rate). In streaming, the null row for an unconverted view becomes
    emittable only once the purchase-side WATERMARK passes
    view_ts + 1h — watermark expiry is what makes 'no match' final —
    so state stays bounded by the watermark+window horizon exactly
    like the inner variant. Batch twin of
    :func:`streaming.core.stream_stream_conversions` with
    ``how="left_outer"``; watermark-expiry parity is asserted in
    tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events")
    return core.stream_stream_conversions(ev, ev, how="left_outer")


@register(
    "stream_window_topk",
    oracle="""
    WITH counts AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT day, event_type, n_events, sum_value,
           CAST(rank AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY day
                                     ORDER BY n_events DESC, event_type) AS rank
        FROM counts
    )
    WHERE rank <= 2
    """,
)
def stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items: top-2 event types per day window. Window-rank is
    not streamable, so the pipeline splits exactly where a production
    one does: the per-(window, type) aggregation runs IN the stream
    (bounded state under a watermark), and the rank runs downstream on
    the aggregate — days × types rows, volume-independent. Batch mode
    composes the same two stages; streaming parity is asserted in
    tests/test_streaming.py.
    """
    return core.rank_topk(
        core.daily_type_counts(load_table(spark, sf_dir, "events"))
    )


@register(
    "stream_latest_state",
    oracle="""
    SELECT user_id,
           arg_max(value, ts) AS last_value,
           arg_max(event_type, ts) AS last_event_type,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
           CAST(COUNT(*) AS BIGINT) AS n_changes
    FROM events
    GROUP BY user_id
    """,
)
def stream_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-state compaction: one current row per user from an
    unbounded change stream (the streaming twin is update-mode — each
    micro-batch emits only keys that changed; state stays O(keys)).
    Batch and stream share :func:`streaming.core.latest_state`;
    parity is asserted in tests/test_streaming.py. max_by values are
    copied, never summed, so floats stay bit-exact without decimal
    folding."""
    return core.latest_state(load_table(spark, sf_dir, "events"))


@register(
    "stream_foreach_batch_upsert",
    oracle="""
    WITH ranked AS (
        SELECT user_id, value, event_type, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ),
    counts AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT r.user_id,
           r.value AS last_value,
           r.event_type AS last_event_type,
           strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           c.n_events
    FROM ranked r JOIN counts c ON c.user_id = r.user_id
    WHERE r.rn = 1
    """,
)
def stream_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch upsert sink — THE production pattern for merging a
    stream into a table Spark has no native MERGE sink for.

    The events fixture is re-chunked into 4 files and streamed with
    ``maxFilesPerTrigger=1`` (availableNow), so foreachBatch really
    runs 4 times; each micro-batch reduces to per-user latest state
    and merges it with the previous state into a NEW versioned parquet
    dir (read-old/write-new, never overwrite-in-place — the
    crash-safe shape, since a failed batch leaves the old version
    intact for checkpoint replay). The merge is an argmax over
    (ts, event_id) plus a count sum — associative and commutative, so
    the final state is independent of batch order and equals the
    batch answer, which is what the oracle hash-checks.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="feb_upsert_")
    chunks = f"{work}/chunks"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    ev.repartition(4, F.pmod("event_id", F.lit(4))).write.parquet(chunks)

    schema = spark.read.parquet(chunks).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks)
    )

    state = {"path": None, "version": 0}

    def reduce_batch(df):
        return df.groupBy("user_id").agg(
            F.max_by(
                F.struct("value", "event_type", "ts", "event_id"),
                F.struct("ts", "event_id"),
            ).alias("last"),
            F.count("*").alias("n_events"),
        )

    def merge(batch_df, batch_id):
        new = reduce_batch(batch_df)
        if state["path"] is not None:
            old = spark.read.parquet(state["path"])
            new = (
                old.unionByName(new)
                .groupBy("user_id")
                .agg(
                    F.max_by(
                        F.col("last"),
                        F.struct(F.col("last.ts"), F.col("last.event_id")),
                    ).alias("last"),
                    F.sum("n_events").alias("n_events"),
                )
            )
        state["version"] += 1
        out = f"{work}/state_v{state['version']}"
        new.write.parquet(out)
        state["path"] = out

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:  # pragma: no cover - hang guard
        q.stop()
        raise TimeoutError("foreachBatch upsert stream did not finish")

    if state["path"] is None:  # zero input files → schema-stable empty
        final = reduce_batch(ev).limit(0)
    else:
        final = spark.read.parquet(state["path"])
    result = final.select(
        "user_id",
        F.col("last.value").alias("last_value"),
        F.col("last.event_type").alias("last_event_type"),
        F.date_format("last.ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "n_events",
    )
    rows = result.localCheckpoint(eager=True)  # pin before tmp cleanup
    shutil.rmtree(work, ignore_errors=True)
    return rows


@register(
    "stream_rollup_cascade",
    oracle="""
    WITH minutes AS (
        SELECT time_bucket(INTERVAL '1 minute', ts) AS m,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s
        FROM events GROUP BY 1
    ),
    hours AS (
        SELECT time_bucket(INTERVAL '1 hour', m) AS h,
               CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(s) AS DECIMAL(38,2)) AS s
        FROM minutes GROUP BY 1
    ),
    days AS (
        SELECT time_bucket(INTERVAL '1 day', h) AS d,
               CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(s) AS DECIMAL(38,2)) AS s
        FROM hours GROUP BY 1
    )
    SELECT 'hour' AS grain, strftime(h, '%Y-%m-%d %H:%M:%S') AS bucket,
           n AS n_events, CAST(s AS DOUBLE) AS sum_value
    FROM hours
    UNION ALL
    SELECT 'day', strftime(d, '%Y-%m-%d %H:%M:%S'), n, CAST(s AS DOUBLE)
    FROM days
    """,
)
def stream_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate cascade (the hypertable pattern): a stream
    maintains the MINUTE-grain rollup incrementally via foreachBatch
    merge, and hour/day grains derive from the minute STATE — raw
    events are aggregated exactly once, coarser grains re-aggregate
    ~60× / ~1440× smaller frames. That asymmetry is the whole point at
    100 TB: the day rollup never rescans events, it folds minutes.

    Counts and DECIMAL sums are associative, so the per-micro-batch
    merge (4 real batches, maxFilesPerTrigger=1, versioned state dirs
    — the stream_foreach_batch_upsert shape) lands on the same state
    as one batch pass; the oracle computes the cascade from raw events
    and the hash proves the incremental path exact (decimal folding
    keeps the double cast to one final rounding).
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="rollup_cascade_")
    chunks = f"{work}/chunks"
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    ev.repartition(4, F.pmod("event_id", F.lit(4))).write.parquet(chunks)
    schema = spark.read.parquet(chunks).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks)
    )

    state = {"path": None, "version": 0}

    def minute_agg(df):
        return df.groupBy(
            F.date_trunc("minute", "ts").alias("m")
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("s"),
        )

    def merge(batch_df, batch_id):
        new = minute_agg(batch_df)
        if state["path"] is not None:
            old = spark.read.parquet(state["path"])
            new = (
                old.unionByName(new)
                .groupBy("m")
                .agg(
                    F.sum("n").alias("n"),
                    F.sum("s").cast("decimal(38,2)").alias("s"),
                )
            )
        state["version"] += 1
        out = f"{work}/minutes_v{state['version']}"
        new.write.parquet(out)
        state["path"] = out

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:  # pragma: no cover - hang guard
        q.stop()
        raise TimeoutError("rollup cascade stream did not finish")

    if state["path"] is None:
        minutes = minute_agg(ev).limit(0)
    else:
        minutes = spark.read.parquet(state["path"])
    hours = minutes.groupBy(F.date_trunc("hour", "m").alias("h")).agg(
        F.sum("n").alias("n"), F.sum("s").cast("decimal(38,2)").alias("s")
    )
    days = hours.groupBy(F.date_trunc("day", "h").alias("d")).agg(
        F.sum("n").alias("n"), F.sum("s").cast("decimal(38,2)").alias("s")
    )
    out_h = hours.select(
        F.lit("hour").alias("grain"),
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.col("n").alias("n_events"),
        F.col("s").cast("double").alias("sum_value"),
    )
    out_d = days.select(
        F.lit("day").alias("grain"),
        F.date_format("d", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.col("n").alias("n_events"),
        F.col("s").cast("double").alias("sum_value"),
    )
    result = out_h.unionByName(out_d).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return result


@register(
    "stream_python_ds_sink",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    GROUP BY event_type
    """,
)
def stream_python_ds_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING sink through the Python DataSource API
    (Spark 4 `DataSourceStreamWriter`): micro-batches of events land
    as uuid-named JSONL files with a per-batch commit manifest
    (`_BATCHES.jsonl`), the streaming twin of `sink_python_ds`'s
    two-phase batch commit. The read-back honors the MANIFEST, not a
    glob, so aborted-attempt stray files can never leak into results
    — exactly the visibility rule object-store sinks need.

    4 real micro-batches (maxFilesPerTrigger=1); the registered
    result re-aggregates the manifest-listed files and must hash-match
    the source aggregate, proving the custom sink lost and duplicated
    nothing across batch boundaries.
    """
    import json as _json
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from e2e_data_pipeline_spark.sources.python_ds import (
        JsonLinesDirDataSource,
    )

    spark.dataSource.register(JsonLinesDirDataSource)
    work = tempfile.mkdtemp(prefix="pyds_stream_")
    chunks = f"{work}/chunks"
    out = f"{work}/out"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ev.repartition(4, F.pmod("event_id", F.lit(4))).write.parquet(chunks)
    schema = spark.read.parquet(chunks).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks)
    )
    q = (
        stream.writeStream.format("jsonl_dir")
        .option("path", out)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:  # pragma: no cover - hang guard
        q.stop()
        raise TimeoutError("python-DS stream sink did not finish")

    import os

    manifest = os.path.join(out, "_BATCHES.jsonl")
    files: list[str] = []
    if os.path.exists(manifest):
        with open(manifest, encoding="utf-8") as f:
            for line in f:
                files.extend(_json.loads(line)["files"])
    if files:
        back = spark.read.schema(
            "cents long, event_id long, event_type string"
        ).json(files)
    else:  # zero-row input → schema-stable empty frame
        back = ev.select("cents", "event_id", "event_type").limit(0)
    result = (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return result


@register(
    "stream_union_sources",
    oracle="""
    WITH unioned AS (
        SELECT event_type,
               CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT) AS cents,
               'hot' AS lane
        FROM events WHERE user_id % 2 = 0
        UNION ALL
        SELECT event_type,
               CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT) AS cents,
               'cold' AS lane
        FROM events WHERE user_id % 2 = 1
    )
    SELECT lane, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM unioned GROUP BY lane, event_type
    """,
)
def stream_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of TWO independent streaming sources into one
    aggregation — the multi-region/multi-topic ingest topology
    (every lane keeps its own source offsets and schema, the merge
    is logical). Both lanes read the same fixture filtered to
    disjoint user halves, tagged, unioned stream-side, then
    aggregated in one stateful operator; the batch oracle is the
    same UNION ALL. Streaming union requires schema-aligned lanes
    (enforced here by construction) and preserves per-source
    watermark tracking — Spark takes the MIN of lane watermarks, so
    one slow lane correctly holds back eviction for the merged
    state.
    """
    from pyspark.sql import functions as F

    from e2e_data_pipeline_spark.streaming.core import (
        load_events_stream,
        run_stream_to_memory,
    )

    hot = (
        load_events_stream(spark, sf_dir)
        .where(F.col("user_id") % 2 == 0)
        .withColumn("lane", F.lit("hot"))
    )
    cold = (
        load_events_stream(spark, sf_dir)
        .where(F.col("user_id") % 2 == 1)
        .withColumn("lane", F.lit("cold"))
    )
    unioned = hot.unionByName(cold).select(
        "lane",
        "event_type",
        F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100, 0)
        .cast("bigint")
        .alias("cents"),
    )
    agg = unioned.groupBy("lane", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("cents").alias("cents"),
    )
    return run_stream_to_memory(
        spark, agg, "stream_union_sources_sink"
    ).select("lane", "event_type", "n_events", "cents")


@register(
    "stream_split_route",
    oracle="""
    WITH routed AS (
        SELECT CASE WHEN COALESCE(value, 0) >= 100 THEN 'alerts'
                    ELSE 'normal' END AS route,
               event_type,
               CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT) AS cents
        FROM events
    )
    SELECT route, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM routed GROUP BY route, event_type
    """,
)
def stream_split_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream splitting (side outputs): ONE source routed by
    predicate into two independent sinks — high-value events to the
    alerts lane, the rest to the archive lane — each lane its own
    aggregation and memory sink, reunited only for verification.
    This is the fan-out topology Flink calls side outputs; in
    Structured Streaming it is two queries over one shared source
    DataFrame (the source is read per-query; with a real broker the
    lanes share the topic, each with its own offsets/checkpoint —
    an at-least-once split, not a transactional two-sink write).
    """
    from pyspark.sql import functions as F

    from e2e_data_pipeline_spark.streaming.core import (
        load_events_stream,
        run_stream_to_memory,
    )

    def lane(name: str, pred):
        src = load_events_stream(spark, sf_dir).where(pred)
        agg = src.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100, 0)
                .cast("bigint")
            ).alias("cents"),
        )
        return run_stream_to_memory(
            spark, agg, f"stream_split_{name}_sink"
        ).withColumn("route", F.lit(name))

    alerts = lane("alerts", F.coalesce(F.col("value"), F.lit(0.0)) >= 100)
    normal = lane("normal", F.coalesce(F.col("value"), F.lit(0.0)) < 100)
    return alerts.unionByName(normal).select(
        "route", "event_type", "n_events", "cents"
    )


@register(
    "stream_dedup_minhash",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    sh_raw AS (
        SELECT doc_id,
               concat_ws(' ', tok, lead(tok, 1) OVER w, lead(tok, 2) OVER w)
                   AS shingle,
               lead(tok, 2) OVER w AS _tail
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE _tail IS NOT NULL
    ),
    hashed AS (
        SELECT s.doc_id, g.seed,
               MIN(('0x' || substr(md5('s' || CAST(g.seed AS VARCHAR)
                                        || '|' || s.shingle), 1, 15))::BIGINT)
                   AS sig
        FROM sh s, range(0, 16) g(seed)
        GROUP BY s.doc_id, g.seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               MAX(CASE WHEN seed % 2 = 0 THEN sig END) AS s0,
               MAX(CASE WHEN seed % 2 = 1 THEN sig END) AS s1
        FROM hashed GROUP BY doc_id, seed // 2
    ),
    state AS (
        SELECT band, s0, s1, CAST(MIN(doc_id) AS BIGINT) AS canon
        FROM bands GROUP BY band, s0, s1
    )
    SELECT d.doc_id,
           CAST(MIN(st.canon) AS BIGINT) AS canonical_id,
           CAST(CASE WHEN MIN(st.canon) < d.doc_id THEN 1 ELSE 0 END
                AS INT) AS is_candidate
    FROM bands d
    JOIN state st ON st.band = d.band AND st.s0 = d.s0 AND st.s1 = d.s1
    GROUP BY d.doc_id
    """,
)
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental STREAMING MinHash dedup — ``dedup_minhash_det``'s
    banded-signature index maintained by foreachBatch instead of
    rebuilt per run (the stream_rollup_cascade state pattern applied
    to dedup): each micro-batch computes its documents' 8×(2×60-bit)
    band signatures ONCE, appends them to a signature log, and merges
    them into a versioned band-bucket state keyed (band, s0, s1) with
    canon = MIN(doc_id). MIN is associative+commutative, so the final
    state is batch-order independent — exactly what a 100 TB corpus
    ingest needs (nobody re-minhashes the standing corpus per batch;
    they fold the batch's signatures into a persisted index). The
    final per-document verdict joins the signature log against the
    FINAL state: canonical_id = min canon over the doc's bands,
    is_candidate = 1 iff some band bucket holds an earlier doc (the
    LSH candidate test of dedup_minhash_det, served from state).

    The DuckDB oracle recomputes the same state from scratch in one
    batch — the hash match PROVES the incremental path equals the
    batch path. Docs with <3 tokens have no shingles and are absent
    on both sides.
    """
    import shutil
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="stream_dedup_minhash_")
    chunks = f"{work}/chunks"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartition(4, F.pmod("doc_id", F.lit(4))).write.parquet(chunks)
    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks)
    )

    def batch_bands(df: DataFrame) -> DataFrame:
        # r10: array-native shingles (the _shingles rewrite: zip of
        # slice-shifted views, never element_at(split, i) in the
        # lambda) — the windowed formulation paid a shuffle + sort
        # per micro-batch. Each micro-batch is ONE coalesced chunk
        # file (= one scan task), so the 16-seed md5 signature work
        # must be re-spread explicitly or it runs single-threaded
        # per batch.
        # (deterministic hash key, not round-robin — skips the local
        # sort-before-repartition; catalog._spread rationale)
        df = df.repartition(
            df.sparkSession.sparkContext.defaultParallelism,
            F.xxhash64("doc_id"),
        )
        zipped = (
            "arrays_zip("
            " slice(split(text, ' '), 1,"
            "       greatest(size(split(text, ' ')) - 2, 0)),"
            " slice(split(text, ' '), 2,"
            "       greatest(size(split(text, ' ')) - 2, 0)),"
            " slice(split(text, ' '), 3,"
            "       greatest(size(split(text, ' ')) - 2, 0)))"
        )
        sh = df.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform({zipped},"
                    " s -> concat_ws(' ', s.`0`, s.`1`, s.`2`)))"
                )
            ).alias("shingle"),
        )
        hashed = (
            sh.select(
                "doc_id",
                "shingle",
                F.explode(F.sequence(F.lit(0), F.lit(15))).alias("seed"),
            )
            .select(
                "doc_id",
                "seed",
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("s"),
                                F.col("seed").cast("string"),
                                F.lit("|"),
                                F.col("shingle"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("h"),
            )
            .groupBy("doc_id", "seed")
            .agg(F.min("h").alias("sig"))
        )
        return hashed.groupBy(
            "doc_id", (F.col("seed") / 2).cast("long").alias("band")
        ).agg(
            F.max(F.when(F.col("seed") % 2 == 0, F.col("sig"))).alias("s0"),
            F.max(F.when(F.col("seed") % 2 == 1, F.col("sig"))).alias("s1"),
        )

    state = {"path": None, "version": 0}
    sig_log = f"{work}/sig_log"

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        bands = batch_bands(batch_df)
        bands.write.mode("append").parquet(sig_log)
        new = bands.groupBy("band", "s0", "s1").agg(
            F.min("doc_id").alias("canon")
        )
        if state["path"] is not None:
            old = spark.read.parquet(state["path"])
            new = (
                old.unionByName(new)
                .groupBy("band", "s0", "s1")
                .agg(F.min("canon").alias("canon"))
            )
        state["version"] += 1
        out = f"{work}/state_v{state['version']}"
        new.write.parquet(out)
        state["path"] = out

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    if q.isActive:  # pragma: no cover - hang guard
        q.stop()
        raise TimeoutError("incremental minhash stream did not finish")

    from pyspark.sql.types import LongType, StructField, StructType

    band_schema = StructType(
        [
            StructField("doc_id", docs.schema["doc_id"].dataType),
            StructField("band", LongType()),
            StructField("s0", LongType()),
            StructField("s1", LongType()),
        ]
    )
    if state["path"] is None:  # zero-row corpus: no batch ever fired
        log = spark.createDataFrame([], band_schema)
        st = spark.createDataFrame(
            [], "band long, s0 long, s1 long, canon long"
        )
    else:
        log = spark.read.schema(band_schema).parquet(sig_log)
        st = spark.read.parquet(state["path"])
    out = (
        log.join(st, ["band", "s0", "s1"])
        .groupBy("doc_id")
        .agg(F.min("canon").alias("mc"))
        .select(
            "doc_id",
            F.col("mc").cast("long").alias("canonical_id"),
            F.when(F.col("mc") < F.col("doc_id"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_candidate"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "stream_sessionize_incremental",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               epoch_us(ts) // 1000000 AS sec,
               event_id
        FROM events
    ),
    marked AS (
        SELECT user_id, sec, event_id,
               CASE WHEN lag(sec) OVER w IS NULL
                      OR sec - lag(sec) OVER w > 1800
                    THEN 1 ELSE 0 END AS new_s
        FROM seq
        WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    sess AS (
        SELECT user_id, sec,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked
    )
    SELECT user_id,
           CAST(MIN(sec) AS BIGINT) AS session_start,
           CAST(MAX(sec) AS BIGINT) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_sessionize_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sessionization across micro-batch boundaries — the
    stateful shape every clickstream pipeline actually needs: a
    session OPEN at the end of one batch must absorb events arriving
    in later batches, and here the batches split by event_id hash (NOT
    time), so sessions genuinely arrive out of order and in pieces.
    State is the per-user set of merged [start,end,count] intervals;
    each foreachBatch sessionizes its own events to intervals, unions
    them with the state, and re-closes under the 1800 s gap rule
    (sort by start within user, running-max end, island when
    start − prev running-max > gap). Gap-closure interval union is a
    CLOSURE OPERATOR — idempotent, commutative, associative — so the
    final state is batch-order independent, which the oracle proves
    by computing plain gaps-and-islands over the whole table: the
    hash match means incremental ≡ batch exactly (same starts, ends,
    event counts).

    Scale: every pass is partitioned by user_id (windows and
    groupBys); state is one interval row per OPEN-or-closed session,
    compacting as sessions merge — at 100 TB the state table is the
    sessions, not the events. Same-second ties collapse into the same
    interval, so the second-grain tie order is irrelevant.
    """
    import shutil
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    gap = 1800
    work = tempfile.mkdtemp(prefix="stream_sess_inc_")
    chunks = f"{work}/chunks"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
        "event_id",
    )
    ev.repartition(4, F.pmod("event_id", F.lit(4))).write.parquet(chunks)
    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks)
    )

    def merge_intervals(iv: DataFrame) -> DataFrame:
        """Close a per-user interval set under the gap rule."""
        w = Window.partitionBy("user_id").orderBy("s", "e")
        run_max_e = F.max("e").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        marked = iv.withColumn(
            "new_island",
            F.when(
                run_max_e.isNull() | (F.col("s") - run_max_e > gap), 1
            ).otherwise(0),
        )
        islands = marked.withColumn(
            "island",
            F.sum("new_island").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        return islands.groupBy("user_id", "island").agg(
            F.min("s").alias("s"),
            F.max("e").alias("e"),
            F.sum("n").alias("n"),
        ).drop("island")

    def batch_intervals(df: DataFrame) -> DataFrame:
        pts = df.select(
            "user_id",
            F.col("sec").alias("s"),
            F.col("sec").alias("e"),
            F.lit(1).cast("long").alias("n"),
        )
        return merge_intervals(pts)

    state = {"path": None, "version": 0}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_intervals(batch_df)
        if state["path"] is not None:
            old = spark.read.parquet(state["path"])
            new = merge_intervals(old.unionByName(new))
        state["version"] += 1
        out = f"{work}/state_v{state['version']}"
        new.write.parquet(out)
        state["path"] = out

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    if q.isActive:  # pragma: no cover - hang guard
        q.stop()
        raise TimeoutError("incremental sessionize stream did not finish")

    if state["path"] is None:  # zero-row input: no batch ever fired
        st = spark.createDataFrame(
            [], "user_id long, s long, e long, n long"
        )
    else:
        st = spark.read.schema(
            "user_id long, s long, e long, n long"
        ).parquet(state["path"])
    out = st.select(
        "user_id",
        F.col("s").cast("long").alias("session_start"),
        F.col("e").cast("long").alias("session_end"),
        F.col("n").cast("long").alias("n_events"),
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "stream_changelog_scd2",
    oracle="""
    WITH chg AS (
        SELECT DISTINCT user_id,
               epoch_us(ts) // 1000000 AS sec,
               event_id, event_type
        FROM events
    )
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS version,
           event_type,
           CAST(sec AS BIGINT) AS valid_from_s,
           CAST(lead(sec) OVER w AS BIGINT) AS valid_to_s
    FROM chg
    WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    """,
)
def stream_changelog_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history maintained from a STREAMING change feed — the
    lakehouse changelog-table pattern (Delta CDF / Debezium topic →
    dimension history): micro-batches append change points into a
    versioned state via idempotent set union (dropDuplicates on the
    change identity — union+dedup is commutative, associative, AND
    idempotent, so replayed or out-of-order batches land on the same
    state), and the read side derives validity intervals with one
    per-key window (valid_to = next change's valid_from; NULL =
    current). Batches split by event-id hash, so a user's versions
    arrive shuffled across batches — the hash match against the
    plain batch derivation proves late/out-of-order changes heal.

    Contrast with ``cdc_apply_log`` (latest-state materialization)
    and ``scd2_history`` (batch dim build): this op is the
    incremental HISTORY — at 100 TB you never rebuild a dimension's
    past, you append change points and window at read time. All
    passes partition by user_id.
    """
    import shutil
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="stream_scd2_")
    chunks = f"{work}/chunks"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
        "event_id",
        "event_type",
    )
    ev.repartition(4, F.pmod("event_id", F.lit(4))).write.parquet(chunks)
    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks)
    )
    state = {"path": None, "version": 0}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.dropDuplicates(["user_id", "sec", "event_id"])
        if state["path"] is not None:
            old = spark.read.parquet(state["path"])
            new = old.unionByName(new).dropDuplicates(
                ["user_id", "sec", "event_id"]
            )
        state["version"] += 1
        out = f"{work}/state_v{state['version']}"
        new.write.parquet(out)
        state["path"] = out

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    if q.isActive:  # pragma: no cover - hang guard
        q.stop()
        raise TimeoutError("changelog scd2 stream did not finish")

    if state["path"] is None:  # zero-row input
        st = spark.createDataFrame([], schema)
    else:
        st = spark.read.schema(schema).parquet(state["path"])
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    out = st.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        "event_type",
        F.col("sec").cast("long").alias("valid_from_s"),
        F.lead("sec").over(w).cast("long").alias("valid_to_s"),
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def _write_four_chunks(df, chunks: str, key: str = "event_id") -> int:
    """Write df as EXACTLY four single-file parquet chunk dirs keyed
    by ``key % 4``, in ONE Spark job (r11, guide §1.2: the previous
    four `.where(pmod == i).coalesce(1)` writes each re-scanned and
    re-filtered the source — 4 full passes for one chunking).

    ``partitionBy`` on the mod class guarantees one FILE per class
    per task holding it, and the ``repartition(4, class)`` before it
    clusters each class into a single task — so every non-empty class
    yields exactly one file even when two classes hash-collide into
    one partition (the collision leaves one task writing two dirs,
    one file each; the r6 "repartition alone leaves 3 files" hazard
    does not apply to partitioned writes). The ``__chunk=i`` dirs are
    renamed to the historical ``c{i}`` layout so downstream globs,
    stream paths and explicit read schemas are untouched (plain dirs,
    no partition-column discovery). Returns the number of data files
    actually written (0 for zero-row input: a partitioned write of an
    empty frame emits no directories)."""
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F

    (
        df.withColumn("__chunk", F.pmod(key, F.lit(4)))
        .repartition(4, "__chunk")
        .write.partitionBy("__chunk")
        .parquet(chunks)
    )
    for i in range(4):
        src = f"{chunks}/__chunk={i}"
        if _os.path.isdir(src):
            _os.rename(src, f"{chunks}/c{i}")
    return len(_glob.glob(f"{chunks}/c*/part-*"))


def _run_state_checkpoint(
    spark: SparkSession, sf_dir: str, work: str, state_partitions: int | None = None
):
    """Shared pipeline for the state-store introspection family: chunk
    events into 4 files, stream them one file per trigger through a
    per-event_type streaming aggregation (sum of exact integer cents +
    count) in complete mode with a real checkpoint, and return
    ``(ckpt, n_files)`` once all 4 micro-batches have committed
    (``n_files == 0`` means zero-row input: no batch ever commits, so
    callers must not read the state store).

    ``state_partitions`` pins the state store's partition count: the
    query then runs in ``spark.newSession()`` with
    ``spark.sql.shuffle.partitions`` set there, which shares the
    SparkContext but not the SQL conf, so the caller's session is never
    mutated.

    The aggregation keys and values are chosen for oracle portability:
    cents sums are exact int64 on both engines (the "INT64 sums are
    immune" rule), so whatever Spark persisted in its OWN state files
    must hash-equal the batch recompute — no tolerance anywhere.
    """
    from pyspark.sql import functions as F

    chunks = f"{work}/chunks"
    ckpt = f"{work}/ckpt"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    n_files = _write_four_chunks(ev, chunks)
    if n_files == 0:
        return ckpt, 0
    if state_partitions is not None:
        spark = spark.newSession()
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    stream = (
        spark.readStream.schema("event_id long, event_type string, cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{chunks}/*")
    )
    agg = stream.groupBy("event_type").agg(
        F.sum("cents").alias("sum_cents"),
        F.count("*").alias("n_events"),
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    if q.isActive:  # pragma: no cover - hang guard
        q.stop()
        raise TimeoutError("state-store checkpoint stream did not finish")
    return ckpt, n_files


@register(
    "stream_state_reader",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store introspection via Spark 4's ``statestore`` data
    source — the production debugging surface for every stateful
    streaming op: run a real multi-batch streaming aggregation to a
    checkpoint, then read Spark's OWN persisted state files back as a
    DataFrame (``spark.read.format("statestore").load(ckpt)``) and
    hash-match them against the batch recompute. Unlike the
    hand-versioned foreachBatch proofs (stream_dedup_minhash et al.),
    the thing being verified here is the engine's internal HDFS-backed
    state format itself: key struct, value struct (partial-agg sum +
    count), one row per live key. The oracle hash being exact means
    checkpoint state ≡ batch answer after 4 incremental updates.

    Scale: the state read is partition-parallel (one task per state
    store partition — 32 here, thousands on a real cluster) and never
    touches the event stream; this is how you audit a 100 TB
    pipeline's state without replaying it.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="state_reader_")
    try:
        ckpt, n_files = _run_state_checkpoint(spark, sf_dir, work)
        if n_files == 0:  # zero-row input: no batch committed
            return spark.createDataFrame(
                [], "event_type string, sum_cents long, n_events long"
            )
        st = spark.read.format("statestore").load(ckpt)
        # value struct fields carry the PHYSICAL agg-function names
        # (sum, count), not the logical aliases — project positionally
        vcols = [f.name for f in st.schema["value"].dataType.fields]
        out = st.select(
            F.col("key.event_type").alias("event_type"),
            F.col(f"value.{vcols[0]}").cast("long").alias("sum_cents"),
            F.col(f"value.{vcols[1]}").cast("long").alias("n_events"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "stream_state_metadata",
    oracle="""
    SELECT 'stateStoreSave' AS operator_name,
           'default' AS store_name,
           CAST(32 AS BIGINT) AS num_partitions,
           CAST(0 AS BIGINT) AS min_batch_id,
           CAST(3 AS BIGINT) AS max_batch_id,
           CAST(COUNT(DISTINCT event_type)
                + MAX(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_state_keys
    FROM events
    """,
)
def stream_state_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint metadata introspection via the ``state-metadata``
    data source: which stateful operators live in a checkpoint, their
    store names, partition counts, and committed batch range — the
    first question an on-call engineer asks of a wedged streaming job
    ("did batch N commit? how many stores does this checkpoint
    carry?"). The pipeline shape is pinned (4 chunk files × one file
    per trigger ⇒ batches 0..3; 32 state partitions, whatever the
    caller's ``spark.sql.shuffle.partitions``), so every metadata field
    is deterministic and the oracle states them as constants — plus
    the live-key count cross-read from the state store itself, tying
    the two introspection sources together.

    Zero-row inputs write no chunk files, so no batch ever commits
    and the op returns a schema-stable empty frame (empty in, empty
    out).
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="state_meta_")
    try:
        ckpt, n_files = _run_state_checkpoint(
            spark, sf_dir, work, state_partitions=32
        )
        if n_files == 0:  # zero-row input: no batch, no checkpoint
            return spark.createDataFrame(
                [],
                "operator_name string, store_name string,"
                " num_partitions long, min_batch_id long,"
                " max_batch_id long, n_state_keys long",
            )
        if n_files != 4:
            # the oracle pins max_batch_id = 3 on the 4-chunk shape;
            # an input whose event_id%4 classes aren't all populated
            # commits fewer batches — fail LOUDLY rather than letting
            # valid data silently hash-mismatch the pinned constant
            raise AssertionError(
                f"stream_state_metadata expects 4 chunk files "
                f"(one committed batch each); got {n_files} — "
                f"an event_id%4 class is empty for this input"
            )
        meta = spark.read.format("state-metadata").load(ckpt)
        n_keys = spark.read.format("statestore").load(ckpt).count()
        out = meta.select(
            F.col("operatorName").alias("operator_name"),
            F.col("stateStoreName").alias("store_name"),
            F.col("numPartitions").cast("long").alias("num_partitions"),
            F.col("minBatchId").cast("long").alias("min_batch_id"),
            F.col("maxBatchId").cast("long").alias("max_batch_id"),
            F.lit(n_keys).cast("long").alias("n_state_keys"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "stream_state_rocksdb",
    oracle="""
    SELECT user_id % 50 AS user_bucket,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def stream_state_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream_state_reader proof under the RocksDB state store
    provider — the provider every production deployment actually runs
    (HDFS-backed in-memory maps don't survive large key spaces; the
    CLAUDE/working notes record rocksdbjni IS bundled here). A
    per-user-bucket streaming aggregation checkpoints under
    ``RocksDBStateStoreProvider``; the state files Spark wrote into
    RocksDB SSTs are then read back via the same ``statestore`` source
    and hash-matched against the batch recompute. Provider conf is
    session-scoped, so it is set for the query and restored in a
    ``finally`` (the conf-scoped-op pattern from join_cbo_reorder).

    Scale: RocksDB keeps state off-heap and spills to disk per
    partition — the provider choice IS the 100 TB answer, which is
    why its on-disk format earns its own parity proof.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old = spark.conf.get(conf_key, None)
    work = tempfile.mkdtemp(prefix="state_rocks_")
    try:
        spark.conf.set(conf_key, rocks)
        chunks = f"{work}/chunks"
        ckpt = f"{work}/ckpt"
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            F.expr("user_id % 50").alias("user_bucket"),
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
        )
        n_files = _write_four_chunks(ev, chunks)
        if n_files == 0:  # zero-row input: no batch commits
            return spark.createDataFrame(
                [], "user_bucket long, sum_cents long, n_events long"
            )
        stream = (
            spark.readStream.schema(
                "event_id long, user_bucket long, cents long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chunks}/*")
        )
        agg = stream.groupBy("user_bucket").agg(
            F.sum("cents").alias("sum_cents"),
            F.count("*").alias("n_events"),
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        if q.isActive:  # pragma: no cover - hang guard
            q.stop()
            raise TimeoutError("rocksdb state stream did not finish")
        st = spark.read.format("statestore").load(ckpt)
        vcols = [f.name for f in st.schema["value"].dataType.fields]
        out = st.select(
            F.col("key.user_bucket").alias("user_bucket"),
            F.col(f"value.{vcols[0]}").cast("long").alias("sum_cents"),
            F.col(f"value.{vcols[1]}").cast("long").alias("n_events"),
        ).localCheckpoint(eager=True)
    finally:
        if old is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old)
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "stream_state_dedup_keys",
    oracle="""
    SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_state_keys,
           CAST(SUM(DISTINCT event_id) AS BIGINT) AS sum_keys,
           CAST(MIN(event_id) AS BIGINT) AS min_key,
           CAST(MAX(event_id) AS BIGINT) AS max_key
    FROM events
    """,
)
def stream_state_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State introspection for the DEDUPLICATION stateful operator —
    a different state layout from the aggregation family
    (stream_state_reader): ``dropDuplicates`` keeps one KEY-ONLY
    entry per seen id (value struct is empty; the key set IS the
    state). The stream re-delivers every event twice across chunk
    files (union of two identical halves), so exactly-once emission
    depends entirely on that state surviving across micro-batches;
    reading it back via the ``statestore`` source and summing the
    keys proves the persisted key set equals the distinct key set of
    the feed — no duplicate slipped in, none was lost. Without a
    watermark the state never expires, so the read is deterministic
    (the watermark-expiry variant is pinned separately in
    tests/test_streaming.py::test_dedup_state_expiry_readmits_after_watermark).

    Scale: dedup state is O(distinct keys); the state read is
    partition-parallel and never replays the stream — auditing
    exactly-once delivery on a 100 TB feed without recomputing it.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="state_dedup_")
    try:
        chunks = f"{work}/chunks"
        ckpt = f"{work}/ckpt"
        ev = load_table(spark, sf_dir, "events").select("event_id")
        # two identical halves → every id arrives twice, in different
        # micro-batches for ids straddling the pmod split
        dup = ev.unionAll(ev)
        n_files = _write_four_chunks(dup, chunks)
        if n_files == 0:  # zero-row input: no batch commits
            return spark.createDataFrame(
                [],
                "n_state_keys long, sum_keys long,"
                " min_key long, max_key long",
            )
        stream = (
            spark.readStream.schema("event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chunks}/*")
        )
        deduped = stream.dropDuplicates(["event_id"])
        q = (
            deduped.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        if q.isActive:  # pragma: no cover - hang guard
            q.stop()
            raise TimeoutError("dedup state stream did not finish")
        st = spark.read.format("statestore").load(ckpt)
        out = (
            st.select(F.col("key.event_id").alias("k"))
            .agg(
                F.count("*").cast("long").alias("n_state_keys"),
                F.sum("k").cast("long").alias("sum_keys"),
                F.min("k").cast("long").alias("min_key"),
                F.max("k").cast("long").alias("max_key"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "stream_state_join_reader",
    oracle="""
    SELECT CASE WHEN event_type = 'click' THEN 'left' ELSE 'right' END
               AS side,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_state_join_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store introspection for the HARDEST state format:
    STREAM-STREAM JOIN state. A real two-source streaming inner join
    (clicks ⋈ purchases on user_id) runs to a checkpoint; the
    persisted join state is then read back per side via
    ``format("statestore").option("joinSide", "left"/"right")`` and
    hash-matched against the batch recompute of each side's full
    input — for an un-watermarked inner join Spark must retain EVERY
    input row in state (nothing can age out), so side-state ≡
    side-input is an exact invariant, not an approximation. The
    per-row ``matched`` flag the store also carries is arrival-order
    dependent and deliberately NOT part of the hash.

    This is the on-call surface for the classic stream-join
    pathology (state growing without bound because a watermark is
    missing/too wide): read the store, count it, size it — without
    replaying the streams. The read is partition-parallel like
    every statestore scan.

    Scale: fixture streams are 2 chunk files per side; on a real
    cluster the same two options point at a TB-scale checkpoint.
    """
    import glob as _glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="state_join_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            "user_id",
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
        )
        sides = {"L": "click", "R": "purchase"}
        # r11: one partitioned write replaces 4 scan+filter+write jobs
        # (the _write_four_chunks pattern, keyed by side+half); the
        # __t=L0.. dirs are renamed to the historical L0/L1/R0/R1
        # layout so the stream globs and schemas are untouched.
        import os as _os

        tagged = ev.where(
            F.col("event_type").isin(*sides.values())
        ).withColumn(
            "__t",
            F.concat(
                F.when(F.col("event_type") == "click", F.lit("L")).otherwise(
                    F.lit("R")
                ),
                F.pmod("event_id", F.lit(2)).cast("string"),
            ),
        )
        (
            tagged.repartition(4, "__t")
            .write.partitionBy("__t")
            .parquet(f"{work}/sides")
        )
        n_files = 0
        for tag in ("L0", "L1", "R0", "R1"):
            src = f"{work}/sides/__t={tag}"
            if _os.path.isdir(src):
                _os.rename(src, f"{work}/{tag}")
        n_files = len(_glob.glob(f"{work}/[LR]*/part-*"))
        if n_files < 4:  # an empty side/chunk: batches won't line up
            return spark.createDataFrame(
                [],
                "side string, n_rows long, n_users long, sum_cents long",
            )
        schema = (
            "event_id long, event_type string, user_id long, cents long"
        )
        left = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/L*")
            .select(
                F.col("user_id").alias("l_user"),
                F.col("cents").alias("l_cents"),
            )
        )
        right = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/R*")
            .select(
                F.col("user_id").alias("r_user"),
                F.col("cents").alias("r_cents"),
            )
        )
        joined = left.join(right, F.col("l_user") == F.col("r_user"))
        ckpt = f"{work}/ckpt"
        q = (
            joined.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        if q.isActive:  # pragma: no cover - hang guard
            q.stop()
            raise TimeoutError("stream-stream join did not finish")

        frames = []
        for side_name, ucol, ccol in (
            ("left", "l_user", "l_cents"),
            ("right", "r_user", "r_cents"),
        ):
            st = (
                spark.read.format("statestore")
                .option("joinSide", side_name)
                .load(ckpt)
            )
            frames.append(
                st.select(
                    F.lit(side_name).alias("side"),
                    F.col(f"value.{ucol}").alias("u"),
                    F.col(f"value.{ccol}").alias("c"),
                )
            )
        both = frames[0].unionByName(frames[1])
        out = (
            both.groupBy("side")
            .agg(
                F.count("*").alias("n_rows"),
                F.countDistinct("u").alias("n_users"),
                F.sum("c").cast("long").alias("sum_cents"),
            )
            .orderBy("side")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "stream_state_watermark_eviction",
    oracle="""
    WITH pts AS (
        SELECT epoch_us(ts) AS us,
               CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT) AS cents
        FROM events
    ),
    wm AS (
        SELECT MAX(us) - CAST(21600000000 AS BIGINT) AS wm_us FROM pts
    )
    SELECT CAST((us // 86400000000) * 86400 AS BIGINT)
               AS window_start_sec,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM pts CROSS JOIN wm
    WHERE (us // 86400000000 + 1) * 86400000000 > wm_us
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_state_watermark_eviction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark EVICTION precision, proven from the state files: an
    append-mode day-windowed aggregation with a 6-hour watermark runs
    to a checkpoint, then the retained state is read back and
    hash-matched against the closed-form prediction — exactly the
    windows whose end exceeds (global max event time − 6h), with
    exact sums. Finalized windows MUST have left the store (state
    that only grows is the watermark bug this audits) and surviving
    windows must be complete (their rows can never have been dropped
    as too-late, since any mid-stream watermark ≤ the final one).
    availableNow's trailing no-data batch applies the final watermark,
    which makes the retained set independent of file arrival order.

    Together with stream_state_reader (agg state ≡ batch recompute)
    and stream_state_join_reader (join state ≡ side inputs) this
    closes the state-introspection triangle: values, joins, and
    LIFECYCLE.

    Scale: the state read is partition-parallel and touches only
    live windows — the audit costs O(open windows), not O(stream).
    """
    import glob as _glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="state_wm_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.expr("CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT)").alias(
                "cents"
            ),
        )
        n_files = _write_four_chunks(ev, f"{work}/chunks")
        if n_files == 0:
            return spark.createDataFrame(
                [], "window_start_sec long, sum_cents long, n_events long"
            )
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, cents long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/chunks/c*")
        )
        agg = (
            stream.withWatermark("ts", "6 hours")
            .groupBy(F.window("ts", "1 day").alias("win"))
            .agg(F.sum("cents").alias("sum_cents"),
                 F.count("*").alias("n_events"))
        )
        ckpt = f"{work}/ckpt"
        q = (
            agg.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        if q.isActive:  # pragma: no cover - hang guard
            q.stop()
            raise TimeoutError("watermark eviction stream did not finish")
        st = spark.read.format("statestore").load(ckpt)
        vcols = [f.name for f in st.schema["value"].dataType.fields]
        out = (
            st.select(
                F.col("key.window.start")
                .cast("long")
                .alias("window_start_sec"),
                F.col(f"value.{vcols[0]}").cast("long").alias("sum_cents"),
                F.col(f"value.{vcols[1]}").cast("long").alias("n_events"),
            )
            .orderBy("window_start_sec")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "stream_state_session_window",
    oracle="""
    WITH pts AS (
        SELECT user_id, epoch_us(ts) // 1000000 AS sec,
               CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT) AS cents
        FROM events
    ),
    ordered AS (
        SELECT user_id, sec, cents,
               CASE WHEN sec - LAG(sec) OVER (PARTITION BY user_id
                                              ORDER BY sec) > 1800
                    OR LAG(sec) OVER (PARTITION BY user_id
                                      ORDER BY sec) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM pts
    ),
    islands AS (
        SELECT user_id, sec, cents,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY sec
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sess_no
        FROM ordered
    )
    SELECT user_id,
           CAST(MIN(sec) AS BIGINT) AS sess_start_sec,
           CAST(MAX(sec) + 1800 AS BIGINT) AS sess_end_sec,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM islands GROUP BY user_id, sess_no
    """,
)
def stream_state_session_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SESSION-WINDOW state introspection — the fourth state format
    (after agg values, join state, and window lifecycle): a real
    ``session_window`` streaming aggregation (30-minute gap, keyed by
    user) runs over 4 file-batches to a checkpoint, then the session
    store is read back and hash-matched against the batch gap-island
    sessionization. The watermark delay (40 days) exceeds the fixture
    span, so NO session finalizes and no late row can be dropped —
    the retained state must therefore equal the COMPLETE batch
    sessionization, which makes the hash a direct proof of Spark's
    cross-batch session MERGING (batches arrive event_id-interleaved,
    so almost every session is assembled from rows of several
    batches; a single mis-merge splits or double-counts a session and
    breaks the hash). Eviction correctness is
    stream_state_watermark_eviction's job; this op isolates merging.

    Scale: the state read is partition-parallel and session-grain;
    the oracle-side construction is the standard island algebra.
    """
    import glob as _glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="state_sess_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.expr("CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT)").alias(
                "cents"
            ),
        )
        n_files = _write_four_chunks(ev, f"{work}/chunks")
        if n_files == 0:
            return spark.createDataFrame(
                [],
                "user_id long, sess_start_sec long, sess_end_sec long,"
                " n_events long, sum_cents long",
            )
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, ts timestamp, cents long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/chunks/c*")
        )
        agg = (
            stream.withWatermark("ts", "40 days")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("sw"),
                "user_id",
            )
            .agg(
                F.sum("cents").alias("sum_cents"),
                F.count("*").alias("n_events"),
            )
        )
        ckpt = f"{work}/ckpt"
        q = (
            agg.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        if q.isActive:  # pragma: no cover - hang guard
            q.stop()
            raise TimeoutError("session-window stream did not finish")
        st = spark.read.format("statestore").load(ckpt)
        vcols = [f.name for f in st.schema["value"].dataType.fields]
        # value = (session_window struct, key cols..., sum, count) —
        # physical agg names, project positionally from the tail
        out = (
            st.select(
                F.col("key.user_id").alias("user_id"),
                F.col("value.session_window.start")
                .cast("long")
                .alias("sess_start_sec"),
                F.col("value.session_window.end")
                .cast("long")
                .alias("sess_end_sec"),
                F.col(f"value.{vcols[-1]}").cast("long").alias("n_events"),
                F.col(f"value.{vcols[-2]}").cast("long").alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "stream_progress_metrics",
    oracle="""
    WITH classed AS (
        SELECT event_id % 4 AS k, event_type FROM events
    ),
    per AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_input FROM classed
        GROUP BY k
    ),
    cum AS (
        SELECT p.k, p.n_input,
               (SELECT CAST(COUNT(DISTINCT c.event_type) AS BIGINT)
                FROM classed c WHERE c.k <= p.k) AS state_rows
        FROM per p
    )
    SELECT CAST(k + 1 AS BIGINT) AS batch_seq, n_input, state_rows
    FROM cum ORDER BY batch_seq
    """,
)
def stream_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StreamingQueryProgress as a QUERYABLE surface — the
    observability feed every streaming SLO dashboard is built on:
    run the 4-chunk streaming aggregation, then turn the engine's OWN
    ``recentProgress`` reports (per-batch input rows + state-store
    row totals) into a DataFrame and hash-match them against the
    closed-form prediction — batch k must ingest EXACTLY the k-th
    chunk's rows (one file per trigger, files ordered
    oldest-first) and carry state = distinct event types seen through
    chunk k. A drift here is the on-call symptom table: input ≠
    chunk ⇒ source double-read/skip; state ≠ cumulative distinct ⇒
    state leak. Trailing no-data batches (0 input rows) are excluded;
    ordering rides the progress sequence, not raw batchId.

    Scale: progress objects are O(batches) driver-side JSON — this
    audit costs nothing at any data size; it is the same feed a
    StreamingQueryListener ships to a metrics store in production.
    """
    import glob as _glob
    import json as _json
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="progress_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type"
        )
        n_files = _write_four_chunks(ev, f"{work}/chunks")
        if n_files == 0:
            return spark.createDataFrame(
                [], "batch_seq long, n_input long, state_rows long"
            )
        stream = (
            spark.readStream.schema("event_id long, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/chunks/c*")
        )
        agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
        q = (
            agg.writeStream.outputMode("complete")
            .format("noop")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        if q.isActive:  # pragma: no cover - hang guard
            q.stop()
            raise TimeoutError("progress stream did not finish")
        rows = []
        seq = 0
        for p in q.recentProgress:
            d = p if isinstance(p, dict) else _json.loads(p.json)
            n_in = int(d["numInputRows"])
            if n_in == 0:  # trailing no-data batch
                continue
            seq += 1
            state = int(d["stateOperators"][0]["numRowsTotal"])
            rows.append((seq, n_in, state))
        out = spark.createDataFrame(
            rows, "batch_seq long, n_input long, state_rows long"
        ).orderBy("batch_seq")
        out = out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def _state_evolution_run(spark: SparkSession, sf_dir: str, work: str):
    """Shared driver for the state-schema-evolution proof: run agg v1
    (sum+count per event_type) over the first two event chunks to a
    checkpoint, then RESTART the same checkpoint with a CHANGED but
    state-schema-compatible v2 (an upstream parity filter — the state
    value struct is untouched) over two more chunks. Returns
    ``(ckpt, n_files, stream_schema)``; n_files == 0 means zero-row
    input (no batch ever committed)."""
    import glob as _glob

    from pyspark.sql import functions as F

    chunks = f"{work}/chunks"
    ckpt = f"{work}/ckpt"
    schema = "event_id long, event_type string, cents long"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    _write_four_chunks(ev, chunks)
    if len(_glob.glob(f"{chunks}/c[01]/part-*")) == 0:
        return ckpt, 0, schema
    # hide the v2 chunks from the v1 run (the file source tracks SEEN
    # files in the checkpoint; files appearing later are new input)
    import os as _os

    staged = f"{work}/staged"
    _os.makedirs(staged, exist_ok=True)
    for i in (2, 3):
        if _os.path.isdir(f"{chunks}/c{i}"):
            _os.rename(f"{chunks}/c{i}", f"{staged}/c{i}")

    def run(q_builder):
        q = q_builder()
        q.awaitTermination(180)
        if q.isActive:  # pragma: no cover - hang guard
            q.stop()
            raise TimeoutError("state-evolution stream did not finish")

    def v1():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chunks}/c*")
        )
        agg = stream.groupBy("event_type").agg(
            F.sum("cents").alias("sum_cents"),
            F.count("*").alias("n_events"),
        )
        return (
            agg.writeStream.outputMode("complete")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    run(v1)
    for i in (2, 3):
        if _os.path.isdir(f"{staged}/c{i}"):
            _os.rename(f"{staged}/c{i}", f"{chunks}/c{i}")

    def v2():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chunks}/c*")
        )
        # the evolution: v2 ingests only even-cent events. Upstream
        # projection/filter changes are exactly what Spark's
        # state-schema-compat check ALLOWS (key/value structs
        # unchanged); adding an aggregate is what it must REJECT
        # (negative pin in tests/test_streaming.py).
        agg = (
            stream.where(F.col("cents") % 2 == 0)
            .groupBy("event_type")
            .agg(
                F.sum("cents").alias("sum_cents"),
                F.count("*").alias("n_events"),
            )
        )
        return (
            agg.writeStream.outputMode("complete")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    run(v2)
    return ckpt, 4, schema


@register(
    "stream_state_evolution",
    oracle="""
    WITH ev AS (
        SELECT event_id, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    qualifying AS (
        SELECT event_type, cents FROM ev
        WHERE event_id % 4 <= 1 OR cents % 2 = 0
    )
    SELECT event_type,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM qualifying
    GROUP BY event_type
    """,
)
def stream_state_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state-schema EVOLUTION proof (VERDICT r7 item 5) —
    the production failure the state family didn't cover: a stateful
    job stopped, its query edited, and restarted against the SAME
    checkpoint. Spark's StateSchemaCompatibilityChecker allows the
    restart iff the state key/value structs are unchanged; here v1
    (plain per-type sum+count) commits two batches, then a CHANGED v2
    (an upstream parity filter — same agg, so same value struct)
    resumes the checkpoint for two more. The final state is read back
    through the ``statestore`` source and hash-checked against the
    batch recompute of the MERGED semantics: chunks 0-1 under v1's
    rules plus chunks 2-3 under v2's — proof the engine merged old
    state with the new query rather than restarting from scratch.
    The inverse case (v3 ADDS a max aggregate → value struct grows →
    restart must raise the schema-compat error, not corrupt state)
    is pinned in tests/test_streaming.py.

    Groups whose every v2-era row is filtered out and that never
    appeared in v1 have no state row; the oracle's qualifying-row
    grouping reproduces that exactly.

    Scale: the restart cost is O(state), not O(history) — at 100 TB
    the whole point of a checkpoint is that v2 does not replay v1's
    input.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="state_evo_")
    try:
        ckpt, n_files, _schema = _state_evolution_run(spark, sf_dir, work)
        if n_files == 0:  # zero-row input: no batch committed
            return spark.createDataFrame(
                [], "event_type string, sum_cents long, n_events long"
            )
        st = spark.read.format("statestore").load(ckpt)
        vcols = [f.name for f in st.schema["value"].dataType.fields]
        out = st.select(
            F.col("key.event_type").alias("event_type"),
            F.col(f"value.{vcols[0]}").cast("long").alias("sum_cents"),
            F.col(f"value.{vcols[1]}").cast("long").alias("n_events"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "stream_state_partition_pinning",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(8 AS BIGINT) AS state_partitions
    FROM events
    GROUP BY event_type
    """,
)
def stream_state_partition_pinning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """State partition-count PINNING — the operational gotcha every
    streaming team hits once: ``spark.sql.shuffle.partitions`` is
    frozen into a stateful checkpoint at FIRST run (offsets metadata),
    and later restarts silently ignore the session's new value — the
    state cannot be re-bucketed without a rebalance tool. Proof: the
    first two event chunks run under shuffle.partitions=8, the
    session conf is then raised to the default 32, and the restart
    (two more chunks, same checkpoint) must STILL run 8-way state.
    Output rows carry the per-type aggregate (hash-equal to the full
    batch recompute — restart correctness) plus the
    ``state-metadata`` numPartitions, which the oracle pins at 8: if
    Spark ever started honoring the new conf mid-stream, the column
    would read 32 and the hash would fail loudly.

    Scale: this is exactly why you size state partitions for the
    TARGET cluster before the first production run — at 100 TB an
    8-way state from a laptop test run would bottleneck a
    1000-executor restart forever.
    """
    import glob as _glob
    import os as _os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="state_pin_")
    chunks = f"{work}/chunks"
    ckpt = f"{work}/ckpt"
    schema = "event_id long, event_type string, cents long"
    old_conf = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
        )
        if _write_four_chunks(ev, chunks) == 0:
            return spark.createDataFrame(
                [],
                "event_type string, sum_cents long, n_events long,"
                " state_partitions long",
            )
        staged = f"{work}/staged"
        _os.makedirs(staged, exist_ok=True)
        for i in (2, 3):
            if _os.path.isdir(f"{chunks}/c{i}"):
                _os.rename(f"{chunks}/c{i}", f"{staged}/c{i}")

        def run_round():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{chunks}/c*")
            )
            agg = stream.groupBy("event_type").agg(
                F.sum("cents").alias("sum_cents"),
                F.count("*").alias("n_events"),
            )
            q = (
                agg.writeStream.outputMode("complete")
                .format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            if q.isActive:  # pragma: no cover - hang guard
                q.stop()
                raise TimeoutError("partition-pinning stream hung")

        spark.conf.set("spark.sql.shuffle.partitions", "8")
        run_round()
        # restart under a DIFFERENT session conf — must be ignored
        spark.conf.set("spark.sql.shuffle.partitions", old_conf)
        for i in (2, 3):
            if _os.path.isdir(f"{staged}/c{i}"):
                _os.rename(f"{staged}/c{i}", f"{chunks}/c{i}")
        run_round()

        n_parts = (
            spark.read.format("state-metadata")
            .load(ckpt)
            .select("numPartitions")
            .collect()[0][0]
        )
        st = spark.read.format("statestore").load(ckpt)
        vcols = [f.name for f in st.schema["value"].dataType.fields]
        out = st.select(
            F.col("key.event_type").alias("event_type"),
            F.col(f"value.{vcols[0]}").cast("long").alias("sum_cents"),
            F.col(f"value.{vcols[1]}").cast("long").alias("n_events"),
            F.lit(int(n_parts)).cast("long").alias("state_partitions"),
        ).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_conf)
        shutil.rmtree(work, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# r10 optimization: scoped state-partition sizing for the in-body
# streaming runs. ``spark.sql.shuffle.partitions`` decides how many
# state-store instances every stateful micro-batch creates and
# commits; the session default (= core count) is sized for the batch
# engine, so the fixture-scale streams were paying 32 store
# open/commit cycles per micro-batch on kilobytes of state — pure
# constant overhead (stream_state_join_reader 9.5 s -> 3.4 s,
# stream_state_rocksdb 4.6 -> 2.2, stream_state_session_window
# 5.5 -> 2.9 at sf0.1; interleaved A/B, 3 passes). The value is
# derived from the events table's size (one state partition per
# 64 MB, floor 4) so it scales with the data instead of the host,
# and SPARK_GRAFT_STREAM_PARTITIONS overrides it for deployments
# that size state explicitly. The conf is scoped to the op body
# (set/restore in finally): each op checkpoints into a fresh tempdir,
# so the frozen-at-first-batch rule never meets a stale checkpoint,
# and every wrapped op's OUTPUT is partition-count independent
# (order-independent aggregates / state contents keyed by data).
# Excluded by design: stream_state_metadata (its oracle pins 32 state
# partitions, which the op sets in a session of its own) and
# stream_state_partition_pinning (the op IS about pinning a specific
# partition count).
# ---------------------------------------------------------------------------


def _stream_partitions(spark: SparkSession, sf_dir: str) -> str:
    env = _os_env.environ.get("SPARK_GRAFT_STREAM_PARTITIONS")
    if env:
        return env
    try:
        from e2e_data_pipeline_spark.catalog import _parquet_layout, table_path

        _, nbytes = _parquet_layout(table_path(sf_dir, "events"))
    except Exception:  # pragma: no cover - missing fixture table
        return str(spark.sparkContext.defaultParallelism)
    return str(max(4, min(32768, nbytes // (64 << 20))))


def _stream_scoped(fn):
    @_functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", _stream_partitions(spark, sf_dir)
        )
        try:
            return fn(spark, sf_dir)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    return run


_STREAM_SCOPE_EXCLUDED = {
    "stream_state_metadata",
    "stream_state_partition_pinning",
}

import functools as _functools  # noqa: E402
import os as _os_env  # noqa: E402

from e2e_data_pipeline_spark.operators.registry import QUERIES as _Q  # noqa: E402

for _key in list(_Q):
    if _key.startswith("stream_") and _key not in _STREAM_SCOPE_EXCLUDED:
        _Q[_key] = _stream_scoped(_Q[_key])
