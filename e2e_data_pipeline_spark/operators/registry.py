"""Query registry: the single source of truth for the engine surface.

Every operator from SURVEY.md §2 registers a ``(spark, sf_dir) ->
DataFrame`` callable here, plus (when the semantics are
SQL-expressible) the equivalent ANSI SQL the DuckDB oracle runs on the
same parquet tables. ``__spark_entry__.py`` re-exports these dicts.

Oracle-parity helpers live here too. The hash check is *exact*, so
float aggregation must be bit-deterministic across engines; the
``dec_sum``/``dec_avg`` helpers sum after casting to DECIMAL (exact,
order-insensitive) and cast the final result back to DOUBLE — the same
construction is written into the oracle SQL. See the module docstrings
of each operator file for per-operator notes.

Plan reuse. ``register`` wraps each operator so that a repeated call
on unchanged inputs returns a new DataFrame over the analyzed logical
plan of the first build instead of running the operator's Python
again. Only the build is skipped: every execution of the returned
DataFrame is still optimized, planned and run in full, with its own
``QueryExecution``. A build is kept only if

1. it launched no Spark job (the DAG scheduler's job count is the same
   before and after it; a job from another thread only costs a reuse),
   so sinks, eager checkpoints, collects and first frame-cache fills
   run on every call;
2. its analyzed plan is deterministic, so ``rand()``, ``uuid()`` and
   the like, whose seeds are fixed at analysis, are never frozen;
3. every file in its ``inputFiles()``, and every root path of a file
   relation in its plan or its subqueries, lies under a path it read
   through ``catalog.load_table``.

A kept plan is an entry of the application's ``catalog.Memo`` (in the
calling session's map, keyed on (key, sf_dir)), reused while the memo
says it holds and the caller's conf has its build-time hash. The reused
DataFrame is bound to the session the build bound it to, which for an
operator that runs in a ``session.scoped_session`` clone is the clone.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from typing import NamedTuple
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from e2e_data_pipeline_spark.catalog import memo, note_inputs, recording_inputs

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


class _Plan(NamedTuple):
    plan: object  # the JVM analyzed LogicalPlan
    owner: SparkSession | None  # None: the caller (its map must not keep it alive)
    conf_hash: int


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and optional oracle SQL) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key {name!r}")

        @functools.wraps(fn)
        def query(spark: SparkSession, sf_dir: str) -> DataFrame:
            return _reuse_or_build(name, query, spark, sf_dir)

        QUERIES[name] = query
        if oracle is not None:
            ORACLES[name] = oracle
        return query

    return deco


def _reuse_or_build(name: str, query, spark: SparkSession, sf_dir: str) -> DataFrame:
    """A new Dataset over ``name``'s reusable plan for (``spark``,
    ``sf_dir``) if there is one, else the result of a build (kept for
    reuse if the module docstring's rules allow)."""
    m = memo(spark)
    key = ("plan", name, sf_dir)
    conf_hash = spark._jsparkSession.conf().getAllAsJava().hashCode()
    hit = m.get(key, spark)
    if hit is not None and hit.value.conf_hash == conf_hash:
        note_inputs(hit.inputs.paths, hit.inputs.entries)
        owner = hit.value.owner or spark
        jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            owner._jsparkSession, hit.value.plan
        )
        return DataFrame(jds, owner)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = dag.numTotalJobs()
    with recording_inputs() as inputs:
        # called through the attribute, so a caller can observe the build
        df = query.__wrapped__(spark, sf_dir)
    if not isinstance(df, DataFrame) or dag.numTotalJobs() != jobs:
        return df
    plan = df._jdf.queryExecution().analyzed()
    if plan.deterministic() and _files_covered(
        df.inputFiles() + _file_roots(plan), inputs.paths
    ):
        owner = None if df.sparkSession is spark else df.sparkSession
        m.put(key, sf_dir, _Plan(plan, owner, conf_hash), inputs, spark)
    return df


def _file_roots(plan) -> list[str]:
    """The root paths of the file relations in ``plan`` and its
    subqueries. A directory with no files yet is a root but contributes
    nothing to ``inputFiles()``, and the plan's listing of it would go
    stale."""
    roots = []
    for p in (plan, *_scala_iter(plan.subqueriesAll())):
        for leaf in _scala_iter(p.collectLeaves()):
            if leaf.getClass().getSimpleName() != "LogicalRelation":
                continue
            rel = leaf.relation()
            if rel.getClass().getSimpleName() == "HadoopFsRelation":
                roots += [r.toUri().toString() for r in _scala_iter(rel.location().rootPaths())]
    return roots


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _files_covered(files: list[str], paths: dict[str, tuple]) -> bool:
    """Whether every input file URI lies under one of ``paths``."""
    roots = tuple(p.rstrip(os.sep) + os.sep for p in paths)
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return False
        local = unquote(u.path)
        if local not in paths and not local.startswith(roots):
            return False
    return True


# ---------------------------------------------------------------------------
# Exact-arithmetic helpers (Spark side). The SQL twins are spelled
# inline in each oracle string:
#   dec_sum  ->  CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)
#   dec_avg  ->  CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE) / COUNT(x)
# Rationale: double summation is order-dependent and Spark/DuckDB
# reduce in different orders; decimal addition is exact and therefore
# order-insensitive, and the final decimal->double cast is the same
# deterministic rounding in both engines.
# ---------------------------------------------------------------------------


def dec(col: Column | str, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def dec_sum(col: Column | str, scale: int = 2) -> Column:
    return F.sum(dec(col, scale)).cast("double")


def dec_avg(col: Column | str, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c, scale)).cast("double") / F.count(c)


# ---------------------------------------------------------------------------
# Distributed global ranking. ``row_number()/ntile()/SUM() OVER (ORDER
# BY ...)`` with no partition key collapses to a single-partition sort
# — the classic scale trap. ``global_rank`` is the two-pass
# construction (the fn_contiguous_ids pattern generalized):
#   1. range-repartition on the ordering columns and PIN the layout
#      with localCheckpoint (both passes must see identical
#      partitions); range partitions are totally ordered by the key,
#      and equal keys land in one partition (binary search on bounds);
#   2. collect per-partition (count, sum...) — #partitions rows, the
#      one sanctioned driver-side step — prefix-sum into offsets;
#   3. global rn / running sums = per-partition window + offset, a
#      fully parallel per-partition computation.
# Returns (df, total_count, {col: total_sum}) so callers can embed
# grand totals as literals instead of a count()-over-everything window.
# ---------------------------------------------------------------------------


def global_rank(
    df: DataFrame,
    order_cols: list[Column],
    sum_cols: tuple[str, ...] = (),
    n_parts: int = 32,
    rn_name: str = "rn",
) -> tuple[DataFrame, int, dict[str, int]]:
    from pyspark.sql import Window

    rp = df.repartitionByRange(n_parts, *order_cols).localCheckpoint()
    with_pid = rp.withColumn("__pid", F.spark_partition_id())
    aggs = [F.count("*").alias("__cnt")] + [
        F.sum(c).alias(f"__s_{c}") for c in sum_cols
    ]
    stats = {r["__pid"]: r for r in with_pid.groupBy("__pid").agg(*aggs).collect()}
    rn_off: dict[int, int] = {}
    sum_off: dict[str, dict[int, int]] = {c: {} for c in sum_cols}
    acc_rn = 0
    acc_s = {c: 0 for c in sum_cols}
    for pid in sorted(stats):
        rn_off[pid] = acc_rn
        acc_rn += stats[pid]["__cnt"]
        for c in sum_cols:
            sum_off[c][pid] = acc_s[c]
            acc_s[c] += stats[pid][f"__s_{c}"] or 0
    if not rn_off:  # zero-row input: no partitions observed
        rn_off = {0: 0}
        sum_off = {c: {0: 0} for c in sum_cols}
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    rn_map = F.create_map(*[F.lit(x) for kv in rn_off.items() for x in kv])
    out = with_pid.withColumn(
        rn_name,
        (rn_map[F.col("__pid")] + F.row_number().over(w)).cast("long"),
    )
    for c in sum_cols:
        cmap = F.create_map(*[F.lit(x) for kv in sum_off[c].items() for x in kv])
        out = out.withColumn(
            f"cum_{c}",
            (
                cmap[F.col("__pid")]
                + F.sum(c).over(w.rowsBetween(Window.unboundedPreceding, 0))
            ).cast("long"),
        )
    return out.drop("__pid"), acc_rn, acc_s


def ntile_from_rank(rn: Column, n: int, k: int) -> Column:
    """SQL NTILE(k) from a 1-based global row_number over n rows:
    the first ``n % k`` buckets get ``n div k + 1`` rows, the rest
    ``n div k`` — exactly both engines' NTILE on the same total order.
    Pure integer arithmetic on literals, no window."""
    q, r = divmod(n, k) if n > 0 else (0, 0)
    if q == 0:  # fewer rows than buckets: bucket == rn
        return rn.cast("long")
    big = r * (q + 1)

    def idiv(a: Column, d: int) -> Column:
        # exact integer floor-div for non-negative a: (a - a%d)/d is a
        # correctly-rounded division whose quotient is an exact integer
        return ((a - a % F.lit(d)) / F.lit(d)).cast("long")

    a = (rn - 1).cast("long")
    return (
        F.when(rn <= F.lit(big), idiv(a, q + 1))
        .otherwise(F.lit(r) + idiv(a - F.lit(big), q))
        + 1
    ).cast("long")


def wide_dbl(col: str) -> str:
    """Portable wide-decimal -> DOUBLE rendering (SQL text, identical
    on both engines). A bare ``CAST(x AS DOUBLE)`` on DECIMAL(38,0)
    values past 2^53 is NOT cross-engine safe: Spark's BigDecimal
    conversion is correctly rounded but DuckDB's INT128 path is off
    by 1 ulp on boundary values (verified on 31173371832096364495).
    Splitting into three sub-2^53 limbs (1e18 / 1e9 / 1) and folding
    ``h*1e18 + m*1e9 + l`` as doubles is a fixed-order chain over
    exactly-representable parts — bit-identical everywhere (|x| <
    9e33), at the cost of not always being the correctly-rounded
    double (parity, not rounding, is the oracle contract). The
    divisions follow the blessed exact pattern (a - a%b)/b.
    """
    return (
        "(CAST(CAST(({c} - {c} % 1000000000000000000) / 1000000000000000000"
        " AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE)"
        " + CAST(CAST(({c} % 1000000000000000000"
        " - {c} % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE)"
        " * CAST(1000000000 AS DOUBLE)"
        " + CAST(CAST({c} % 1000000000 AS BIGINT) AS DOUBLE))"
    ).format(c=col)
