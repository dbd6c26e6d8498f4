"""Fixture-table catalog: parquet readers with pinned schemas, and the
memo of everything the package reuses across calls.

``load_table`` is the single entry point every operator uses to scan a
fixture table. Reading through one function keeps the scan declarative
(plain ``spark.read.parquet``) so Catalyst retains predicate pushdown
and column pruning — callers ``select``/``where`` on the returned
DataFrame and the parquet scan only materializes what survives.

One :class:`Memo` per application (:func:`memo`) holds file facts
(inferred schema per read setting, parquet layout), the rollup frames
of ``operators.frame_cache`` and the reused plans of
``operators.registry``. It lives on the application's Python
``SparkContext``: a session and its ``session.scoped_session`` clones
share it, and it goes with the context. Each entry keeps the
:class:`Inputs` its build read; the memo owns one rule per concern:

- Validity: an entry is used only while every path it read still has
  its :func:`signature` and every entry it used is still resident. A
  file's signature is its ``(ino, mtime_ns, size)``; a directory's is
  that triple, with the relative path, for every entry under it, so a
  part file added, removed or rewritten in place changes it.
- Eviction: entries are kept for the ``_CACHE_MAX_DIRS`` fixture dirs
  used last, across all kinds; an evicted frame is unpersisted.
- Locking: one lock guards the maps and is never held during a build,
  so a lookup never waits for another entry's build; callers racing on
  one missing entry build it once (:meth:`Memo.fill`).

A build learns what it read by opening :func:`recording_inputs`: every
path (every ``load_table`` read) and memo entry it uses is noted.
"""

from __future__ import annotations

import contextlib
import glob
import os
import stat
import threading
import weakref
from collections.abc import Callable, Iterator
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e2e_data_pipeline_spark.schemas import TABLES

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Keep memo entries for at most this many fixture dirs per application.
_CACHE_MAX_DIRS = 3

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
    that time, and ``entries`` maps the key of each :class:`Memo` entry
    it used (a rollup frame, a file fact) to the entry it got."""

    __slots__ = ("paths", "entries")

    def __init__(self) -> None:
        self.paths: dict[str, tuple] = {}
        self.entries: dict[tuple, Entry] = {}


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


def note_inputs(paths: dict[str, tuple], entries: dict[tuple, Entry]) -> None:
    """Add ``paths`` and ``entries`` to every record open on the calling
    thread. A path keeps the first signature noted for it, so a file
    that changes during a build leaves a record that no longer holds."""
    for rec in getattr(_RECORDING, "stack", ()):
        for p, sig in paths.items():
            rec.paths.setdefault(p, sig)
        rec.entries.update(entries)


class Entry(NamedTuple):
    """A memo entry: its value, what its build read, the dir it counts against."""

    value: object
    inputs: Inputs
    sf_dir: str


class Memo:
    """What one application reuses across calls (see the module
    docstring). A key's first item names its kind: ``("facts", path,
    fact...)``, ``("frame", sf_dir, name)``, ``("plan", name, sf_dir)``.
    Plans are kept per calling session, in a map that goes with it."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._dirs: dict[str, None] = {}  # resident fixture dirs, least recently used first
        self._shared: dict[tuple, Entry] = {}
        self._plans: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
        self._fills: dict[tuple, threading.Lock] = {}

    def get(self, key: tuple, session: SparkSession | None = None) -> Entry | None:
        """``key``'s entry (in ``session``'s map, for a plan) if it still
        holds, else None. A lookup marks the entry's dir as used."""
        with self._lock:
            entry = (self._shared if session is None else self._plans.get(session, {})).get(key)
            if entry is not None:
                self._dirs[entry.sf_dir] = self._dirs.pop(entry.sf_dir)
        return entry if entry is not None and self._holds(entry.inputs) else None

    def put(self, key, sf_dir, value, inputs, session=None) -> Entry:
        """Store ``value`` as ``key``'s entry, counted against ``sf_dir``,
        evicting the least recently used dirs past ``_CACHE_MAX_DIRS``."""
        entry = Entry(value, inputs, os.path.abspath(sf_dir))
        with self._lock:
            self._dirs[entry.sf_dir] = self._dirs.pop(entry.sf_dir, None)
            stale = list(self._dirs)[:-_CACHE_MAX_DIRS]
            dropped = [kv for d in stale for kv in self._pop_dir(d)]
            entries = self._shared if session is None else self._plans.setdefault(session, {})
            if key in entries:
                dropped.append((key, entries[key]))
            entries[key] = entry
        _unpersist(dropped)
        return entry

    def fill(self, key: tuple, sf_dir: str, build: Callable[[], object]) -> Entry:
        """``key``'s entry if it holds, else a new one from ``build()``
        and what it read; either is noted in the caller's open
        :func:`recording_inputs`. Callers racing on one key run
        ``build`` once; only they wait for it."""
        entry = self.get(key)
        if entry is None:
            with self._lock:
                filling = self._fills.setdefault(key, threading.Lock())
            with filling:
                try:
                    entry = self.get(key)
                    if entry is None:
                        with recording_inputs() as inputs:
                            value = build()
                        entry = self.put(key, sf_dir, value, inputs)
                finally:  # a caller that takes a new lock finds the entry
                    with self._lock:
                        self._fills.pop(key, None)
        note_inputs(entry.inputs.paths, {**entry.inputs.entries, key: entry})
        return entry

    def evict(self, sf_dir: str) -> None:
        """Drop every entry counted against ``sf_dir``."""
        with self._lock:
            dropped = self._pop_dir(os.path.abspath(sf_dir))
        _unpersist(dropped)

    def _pop_dir(self, sf_dir: str) -> list[tuple[tuple, Entry]]:
        """Remove ``sf_dir`` and its entries (the caller holds the lock)."""
        self._dirs.pop(sf_dir, None)
        return [
            (k, m.pop(k))
            for m in (self._shared, *self._plans.values())
            for k in [k for k, e in m.items() if e.sf_dir == sf_dir]
        ]

    def _holds(self, inputs: Inputs) -> bool:
        """Whether every path in ``inputs`` still has the signature it
        was read under and every entry in it is still resident."""
        try:
            if any(signature(p) != sig for p, sig in inputs.paths.items()):
                return False
        except OSError:
            return False
        return all(self._shared.get(k) is e for k, e in inputs.entries.items())


def _unpersist(dropped: list[tuple[tuple, Entry]]) -> None:
    """Best-effort unpersist of the frames among ``dropped`` entries."""
    for key, e in dropped:
        if key[0] == "frame":
            for f in e.value if isinstance(e.value, tuple) else (e.value,):
                with contextlib.suppress(Exception):
                    f.unpersist()


def memo(spark: SparkSession) -> Memo:
    """The :class:`Memo` of ``spark``'s application (on its ``SparkContext``)."""
    sc = spark.sparkContext
    return sc.__dict__.get("_e2e_memo") or sc.__dict__.setdefault("_e2e_memo", Memo())


def _file_fact(spark: SparkSession, path: str, fact: tuple, build: Callable[[], object]):
    """``build()``'s ``fact`` about the file or directory at ``path``,
    learned again whenever its :func:`signature` changes. Raises
    ``OSError`` for a path that is not on the local filesystem."""
    path = os.path.abspath(path)

    def learn():
        note_inputs({path: signature(path)}, {})
        return build()

    return memo(spark).fill(("facts", path, *fact), os.path.dirname(path), learn).value


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A new parquet relation over ``path``, with schema inference (a
    Spark job that reads a footer) run once per file signature,
    application and schema-relevant read setting."""
    fact = ("schema", *(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
    try:
        schema = _file_fact(spark, path, fact, lambda: spark.read.parquet(path).schema)
    except OSError:  # not a local path: let Spark resolve (or reject) it
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def _parquet_layout(spark: SparkSession, path: str) -> tuple[int, int]:
    """(row groups, bytes) across the file or directory at ``path``.

    Row groups bound parquet scan parallelism: Spark splits files by
    byte ranges, but every split that contains no row-group midpoint
    yields an empty task, so a 1-row-group file scans on 1 core no
    matter the split config.
    """

    def layout() -> tuple[int, int]:
        import pyarrow.parquet as pq

        files = (
            sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
            if os.path.isdir(path)
            else [path]
        )
        groups = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
        return groups, sum(os.path.getsize(f) for f in files)

    return _file_fact(spark, path, ("layout",), layout)


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
    groups, size = _parquet_layout(spark, path)
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
    groups, _ = _parquet_layout(spark, table_path(sf_dir, name))
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
