"""Fixture-table catalog: parquet readers with pinned schemas.

``load_table`` is the single entry point every operator uses to scan a
fixture table. Reading through one function keeps the scan declarative
(plain ``spark.read.parquet``) so Catalyst retains predicate pushdown
and column pruning — callers ``select``/``where`` on the returned
DataFrame and the parquet scan only materializes what survives.

One rule says whether a path still holds what was read from it:
:func:`signature`. For a file it is the file's ``(ino, mtime_ns,
size)``; for a dataset directory it is that triple, with the relative
path, for every entry under the directory, so a part file added,
removed or rewritten in place changes it. The facts learned about a
path here, the frame cache's rollups and the registry's reused plans
are all trusted only while the signature they were made under still
holds. A build that wants to know what it read opens
:func:`recording_inputs`: every path whose facts are looked up inside
it (every ``load_table`` read) is noted with its signature.
"""

from __future__ import annotations

import contextlib
import glob
import os
import stat
import threading
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e2e_data_pipeline_spark.schemas import TABLES

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# path -> (signature, facts): what the catalog has learned about the
# file or directory at ``path`` (its row-group layout, the schema Spark
# inferred for it). Facts are trusted only while the path's signature
# is unchanged; a table rewritten at the same path starts from an
# empty entry.
_FILE_FACTS: dict[str, tuple[tuple, dict]] = {}

# Per thread: the Inputs records open in recording_inputs(), innermost
# last.
_RECORDING = threading.local()

# The parquet read settings the inferred Spark type of a column depends
# on (TIMESTAMP -> TIMESTAMP_NTZ, TIMESTAMP(NANOS) -> BIGINT).
_SCHEMA_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)

# Below this size a rebalance shuffle costs more than it recovers.
_REBALANCE_MIN_BYTES = 4 << 20


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def signature(path: str) -> tuple:
    """``(ino, mtime_ns, size)`` of the file at ``path``; for a
    directory, the sorted ``(relpath, ino, mtime_ns, size)`` of every
    entry under it. A directory's own stat does not change when a part
    file is rewritten in place, so it is not part of its signature.
    Raises ``OSError`` for a path that is not on the local filesystem.
    """
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_mtime_ns, st.st_size)
    entries = []
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            full = os.path.join(root, name)
            e = os.stat(full)
            entries.append(
                (os.path.relpath(full, path), e.st_ino, e.st_mtime_ns, e.st_size)
            )
    return tuple(sorted(entries))


class Inputs:
    """What one build read: ``paths`` maps each path it looked up
    facts for (every ``load_table`` read) to the path's signature at
    that time, and ``frames`` maps each frame-cache key it used to the
    frame it got (filled in by ``operators.frame_cache``)."""

    __slots__ = ("paths", "frames")

    def __init__(self) -> None:
        self.paths: dict[str, tuple] = {}
        self.frames: dict[tuple, object] = {}


@contextlib.contextmanager
def recording_inputs() -> Iterator[Inputs]:
    """Record what the calling thread reads inside the block. Records
    nest: a read is noted in every record open on the thread."""
    stack = _RECORDING.__dict__.setdefault("stack", [])
    rec = Inputs()
    stack.append(rec)
    try:
        yield rec
    finally:
        stack.pop()


def note_inputs(paths: dict[str, tuple], frames: dict[tuple, object]) -> None:
    """Add ``paths`` and ``frames`` to every record open on the calling
    thread. A path keeps the first signature noted for it, so a file
    that changes during a build leaves a record that no longer holds."""
    for rec in getattr(_RECORDING, "stack", ()):
        for p, sig in paths.items():
            rec.paths.setdefault(p, sig)
        rec.frames.update(frames)


def _file_facts(path: str) -> dict:
    """The facts dict for ``path``, emptied whenever its
    :func:`signature` differs from the one they were learned under.
    The lookup is noted in any open :func:`recording_inputs`."""
    sig = signature(path)
    note_inputs({os.path.abspath(path): sig}, {})
    entry = _FILE_FACTS.get(path)
    if entry is None or entry[0] != sig:
        entry = _FILE_FACTS[path] = (sig, {})
    return entry[1]


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A new parquet relation over ``path``, with schema inference (a
    Spark job that reads a footer) run once per file signature, session
    application and schema-relevant read setting."""
    try:
        facts = _file_facts(path)
    except OSError:  # not a local path: let Spark resolve (or reject) it
        return spark.read.parquet(path)
    key = (
        "schema",
        spark.sparkContext.applicationId,
        *(spark.conf.get(c, None) for c in _SCHEMA_CONFS),
    )
    schema = facts.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        facts[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def _parquet_layout(path: str) -> tuple[int, int]:
    """(row groups, bytes) across the file or directory at ``path``.

    Row groups bound parquet scan parallelism: Spark splits files by
    byte ranges, but every split that contains no row-group midpoint
    yields an empty task, so a 1-row-group file scans on 1 core no
    matter the split config.
    """
    facts = _file_facts(path)
    if "layout" not in facts:
        import pyarrow.parquet as pq

        files = (
            sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
            if os.path.isdir(path)
            else [path]
        )
        groups = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
        size = sum(os.path.getsize(f) for f in files)
        facts["layout"] = (groups, size)
    return facts["layout"]


def _maybe_rebalance(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition iff the file layout under-parallelizes.

    CPU-heavy map/partial-agg pipelines (no early shuffle of their own)
    inherit the scan's task count. At production scale a table has far
    more row groups than the cluster has cores, so this is a no-op; it
    only fires for the pathological layout (few huge row groups — e.g.
    a single-file export, or the reference's unsplittable gzip CSV per
    /root/reference/ingest_data.py:49, where pandas reads one stream).
    Catalyst still pushes filters and column pruning below the
    round-robin exchange, so the scan stays minimal (tests/test_plans).
    """
    cores = spark.sparkContext.defaultParallelism
    groups, size = _parquet_layout(path)
    if groups < max(2, cores // 2) and size >= _REBALANCE_MIN_BYTES:
        return _spread(df, cores)
    return df


def _spread(df: DataFrame, cores: int) -> DataFrame:
    """Deterministic-key hash repartition instead of round-robin.

    r10 optimization: every keyless ``repartition(n)`` first pays a
    LOCAL SORT of its input (spark.sql.execution.sortBeforeRepartition,
    on by default since SPARK-23207, so retried tasks reproduce the
    same row->partition assignment). Hashing a deterministic key gets
    the same retry safety for free — the guide's "derive the synthetic
    key deterministically, e.g. pmod(xxhash64(id), ...)" advice —
    and xxhash64 over the projected columns spreads near-unique rows
    uniformly. Measured on agg_groupby's rebalance at sf0.1:
    0.82 s -> 0.52 s median (interleaved A/B, 6 passes)."""
    return df.repartition(cores, F.xxhash64(*df.columns))


def rebalance_cpu(spark: SparkSession, df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Layout-gated round-robin rebalance for CPU-BOUND per-row
    kernels (xpath parse, N-seed md5 sketches, 100x permutation
    explodes): same guard as :func:`_maybe_rebalance` but WITHOUT the
    byte gate — when the per-row cost is ~100x a normal projection,
    even a sub-4MB single-row-group fixture file is worth spreading
    over the cluster. Structural no-op at production layouts (the
    scan already has more row groups than cores). r10 optimization
    helper; see fn_xpath for the measured motivation (20.3 s -> 0.7 s
    single-threaded XML parse at sf0.1)."""
    groups, _ = _parquet_layout(table_path(sf_dir, name))
    cores = spark.sparkContext.defaultParallelism
    if groups < max(2, cores // 2):
        return _spread(df, cores)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, parallelize_scan: bool = False
) -> DataFrame:
    """Scan one fixture table as a DataFrame.

    The schema passed to ``spark.read.schema(...)`` is never one of
    ours: parquet already carries its own schema, and supplying a
    slightly different one (e.g. TIMESTAMP vs TIMESTAMP_NTZ) would
    force a rebase/convert. The first read of a file infers it (one
    Spark job to read a footer); later reads of the unchanged file pass
    back exactly the schema Spark inferred, so nothing is converted and
    no inference job runs (:func:`_read_parquet`). Every call still
    builds a new relation, so two loads of one table in a self-join get
    distinct attributes.

    ``parallelize_scan=True`` opts a CPU-heavy consumer (partial
    aggregation, decimal arithmetic, per-row UDF work — anything with
    no early shuffle of its own) into :func:`_maybe_rebalance`. Leave
    it off for queries that shuffle immediately anyway (joins, window
    functions): they regain parallelism at their own exchange, and an
    extra round-robin shuffle would only add a stage.
    """
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; known: {sorted(TABLES)}")
    df = _read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        # ts generation varies: parquet TIMESTAMP(NANOS) surfaces as
        # int64 nanos under nanosAsLong (see session.py note) and must
        # be truncated ns→us — exactly what DuckDB does when it casts
        # the column to TIMESTAMP; TIMESTAMP(MICROS) already arrives as
        # a timestamp and only needs the NTZ pin so no session-timezone
        # shift applies. Branch on the dtype actually read.
        # `div` (integer division) — a plain `/` goes through DOUBLE,
        # which cannot represent ~1.7e18 ns exactly and corrupts the
        # low microseconds.
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    if parallelize_scan:
        df = _maybe_rebalance(spark, df, table_path(sf_dir, name))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
