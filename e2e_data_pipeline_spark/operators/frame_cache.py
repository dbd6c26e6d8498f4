"""Session-scoped frame memoization for shared rollups.

Dozens of operators independently rebuild the same small intermediate
frames from the big fact tables: the graph family's co-purchase edge
list + BSP label fixed point (memoized in r9, llm_dedup), and ~50
day-grain rollups of ``events`` / ``orders`` (r9 verdict item 2). At
100 TB each rebuild is a full fact-table pass; memoizing the rollup
once per (applicationId, fixture dir) turns N passes into one pass
feeding N reports. Frames are ``localCheckpoint(eager=True)``-pinned
so consumers start from materialized blocks, and the cache is BOUNDED
BY FIXTURE DIR (keep-last-N) so sweep sessions that touch sf0.001 /
sf0.01 / sf0.1 plus /tmp scale-smoke inflations don't pin every dir's
frames in executor memory for the session lifetime (r9 advice).

Each entry is also stored with what its build read (``catalog.Inputs``:
the :func:`catalog.signature` of every path it read through
``load_table``, and the other frames it used). A lookup whose table
has changed since then is a miss: the frame is rebuilt and the stale
one unpersisted. A lookup, hit or miss, notes the frame and its inputs
in the caller's open ``catalog.recording_inputs`` records, which is how
the registry's plan cache learns which frames a plan stands on
(:func:`inputs_current`). This module must stay importable before the
``operators`` package and must never import ``registry``.

Derived-value exactness: the cached measures are integer counts and
integer-cent sums — associative and commutative — so any re-aggregate
a consumer runs over the cached frame is bit-identical to aggregating
the raw rows directly. ``events_daily`` (all event types) is itself
memoized from ``events_daily_by_type``, so its consumers read pinned
blocks instead of re-aggregating the by-type frame on every call.
"""

from __future__ import annotations

import threading
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e2e_data_pipeline_spark.catalog import (
    Inputs,
    load_table,
    note_inputs,
    recording_inputs,
    signature,
)

# (applicationId, sf_dir, frame-name) -> localCheckpointed DataFrame
# (or tuple of DataFrames). Keyed by application id so a restarted
# session never sees another context's checkpointed RDDs.
_FRAME_CACHE: dict = {}

# key -> the Inputs its build read. An entry without one is valid for
# as long as it is resident.
_FRAME_INPUTS: dict = {}

# Keep frames for at most this many distinct fixture dirs per app.
_CACHE_MAX_DIRS = 3

# Reentrant: a frame's build may look up another frame.
_LOCK = threading.RLock()


def dirs_to_evict(resident: Iterable[str], sf_dir: str) -> set[str]:
    """The fixture dirs to drop before a cache whose entries span the
    ``resident`` dirs (oldest first, repeats allowed) takes an entry
    for ``sf_dir``: the oldest past the keep-last-``_CACHE_MAX_DIRS``
    bound."""
    seen = list(dict.fromkeys(resident))
    if sf_dir in seen or len(seen) < _CACHE_MAX_DIRS:
        return set()
    return set(seen[: len(seen) - (_CACHE_MAX_DIRS - 1)])


def inputs_current(inputs: Inputs) -> bool:
    """Whether every path in ``inputs`` still has the signature it was
    read under and every frame in it is still the resident entry."""
    for path, sig in inputs.paths.items():
        try:
            if signature(path) != sig:
                return False
        except OSError:
            return False
    return all(_FRAME_CACHE.get(k) is f for k, f in inputs.frames.items())


def _drop(key) -> None:
    """Remove ``key``'s entry and (best effort) unpersist its frames."""
    val = _FRAME_CACHE.pop(key)
    _FRAME_INPUTS.pop(key, None)
    for f in val if isinstance(val, (tuple, list)) else (val,):
        try:
            f.unpersist()
        except Exception:
            pass


def session_cached(spark: SparkSession, sf_dir: str, name: str, build):
    """Memoize ``build()`` per (applicationId, sf_dir, name) while the
    tables it read are unchanged, evicting (and best-effort
    unpersisting) the oldest fixture dir's entries once more than
    ``_CACHE_MAX_DIRS`` dirs are resident."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, name)
    with _LOCK:
        inputs = _FRAME_INPUTS.get(key, Inputs())
        if key in _FRAME_CACHE and inputs_current(inputs):
            val = _FRAME_CACHE[key]
        else:
            if key in _FRAME_CACHE:
                _drop(key)
            stale = dirs_to_evict((d for a, d, _ in _FRAME_CACHE if a == app), sf_dir)
            for k in [k for k in _FRAME_CACHE if k[0] == app and k[1] in stale]:
                _drop(k)
            with recording_inputs() as inputs:
                val = build()
            _FRAME_CACHE[key] = val
            _FRAME_INPUTS[key] = inputs
    note_inputs(inputs.paths, {**inputs.frames, key: val})
    return val


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
