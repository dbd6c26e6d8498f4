"""Per-application frame memoization for shared rollups.

Dozens of operators independently rebuild the same small intermediate
frames from the big fact tables: the graph family's co-purchase edge
list + BSP label fixed point (memoized in r9, llm_dedup), and ~50
day-grain rollups of ``events`` / ``orders`` (r9 verdict item 2). At
100 TB each rebuild is a full fact-table pass; memoizing the rollup
once per (application, fixture dir) turns N passes into one pass
feeding N reports. Frames are ``localCheckpoint(eager=True)``-pinned
so consumers start from materialized blocks.

The frames are entries of the application's ``catalog.Memo``, which
rebuilds, evicts (unpersisting) and locks them, and notes each lookup
in the caller's ``catalog.recording_inputs`` records. This module must
stay importable before the ``operators`` package and must never import
``registry``.

Derived-value exactness: the cached measures are integer counts and
integer-cent sums — associative and commutative — so any re-aggregate
a consumer runs over the cached frame is bit-identical to aggregating
the raw rows directly. ``events_daily`` (all event types) is itself
memoized from ``events_daily_by_type``, so its consumers read pinned
blocks instead of re-aggregating the by-type frame on every call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e2e_data_pipeline_spark.catalog import load_table, memo


def session_cached(spark: SparkSession, sf_dir: str, name: str, build):
    """``build()``'s frame (or tuple of frames) for (``sf_dir``, ``name``),
    built once per application while what it read is unchanged."""
    return memo(spark).fill(("frame", sf_dir, name), sf_dir, build).value


def events_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, event_type) -> (n, cents): the multi-measure day-grain
    rollup of ``events`` (day = epoch-seconds div 86400, cents =
    SUM(ROUND(value*100))::BIGINT). One partial-aggregable pass,
    localCheckpointed once per session+fixture; every day-grain
    events consumer re-aggregates this ~days×types-row frame instead
    of rescanning the fact table."""

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        return (
            ev.select(
                F.expr("CAST(CAST(ts AS TIMESTAMP) AS LONG) div 86400")
                .alias("day"),
                "event_type",
                F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"),
                # min/max carry COALESCE(value, 0) per-row semantics
                # (the convention of every current min/max consumer);
                # the strict-NULL SUM is `cents`, and coalesce-sums
                # derive from it as COALESCE(cents, 0) since every
                # cached group has >= 1 row
                F.expr(
                    "CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT)"
                ).alias("cc"),
            )
            .groupBy("day", "event_type")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("c").cast("long").alias("cents"),
                F.min("cc").cast("long").alias("min_c"),
                F.max("cc").cast("long").alias("max_c"),
            )
            .localCheckpoint(eager=True)
        )

    return session_cached(spark, sf_dir, "events_daily_by_type", build)


def events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """day -> (n, cents) over ALL event types — derived once per
    session+fixture by re-aggregating the cached by-type frame (integer
    sums are associative, so this is bit-identical to rolling up raw
    rows) and localCheckpointed, so consumers pay no shuffle for it."""

    def build() -> DataFrame:
        return (
            events_daily_by_type(spark, sf_dir)
            .groupBy("day")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("cents").cast("long").alias("cents"),
            )
            .localCheckpoint(eager=True)
        )

    return session_cached(spark, sf_dir, "events_daily", build)


def lineitem_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d -> (y, qty, cents): ship-day demand/revenue rollup of
    ``lineitem`` (d = l_shipdate epoch-seconds div 86400; y =
    SUM(l_quantity::BIGINT) — the truncating-cast form; qty =
    SUM(ROUND(l_quantity)::BIGINT) — the rounding form; cents =
    SUM(ROUND(l_extendedprice*100)::BIGINT)). Both quantity forms are
    kept so each consumer keeps its exact published semantics.
    lineitem is the largest fact table, so this is the cache with the
    biggest per-consumer saving."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        return (
            li.groupBy(
                F.expr(
                    "CAST(CAST(l_shipdate AS TIMESTAMP) AS BIGINT)"
                    " div 86400"
                ).alias("d")
            )
            .agg(
                F.sum(F.col("l_quantity").cast("long")).alias("y"),
                F.sum(F.expr("CAST(ROUND(l_quantity) AS BIGINT)"))
                .cast("long")
                .alias("qty"),
                F.sum(F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
                .cast("long")
                .alias("cents"),
            )
            .localCheckpoint(eager=True)
        )

    return session_cached(spark, sf_dir, "lineitem_daily", build)


def orders_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d -> y: day-grain revenue rollup of ``orders`` (d =
    o_orderdate epoch-seconds div 86400, y = integer-cent revenue) —
    the `_rev_daily` shape shared by the Durbin-Watson / Ljung-Box /
    returns-family consumers, cached once per session+fixture."""

    def build() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders")
        return (
            orders.groupBy(
                F.expr(
                    "CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT)"
                    " div 86400"
                ).alias("d")
            )
            .agg(
                F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
                .cast("long")
                .alias("y"),
                F.count("*").cast("long").alias("n"),
            )
            .localCheckpoint(eager=True)
        )

    return session_cached(spark, sf_dir, "orders_daily", build)
