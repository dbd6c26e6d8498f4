"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``e2e_data_pipeline_spark`` package; this
module only adapts it to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _configure(spark: SparkSession) -> None:
    """Apply engine session settings to a driver-provided session.

    The driver builds its own SparkSession, so settings we normally bake
    into the builder (session.py) are applied here at runtime. The
    nanos flag is static (reader-level) — if the driver's session
    predates it, events reads raise and the catalog's error message
    points here.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    except Exception:  # pragma: no cover - static conf on some builds
        pass
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:  # pragma: no cover
        pass
    from e2e_data_pipeline_spark.session import (
        ensure_worker_imports,
        use_local_checkpoint_manager,
    )

    use_local_checkpoint_manager(spark)
    # Ship the package to Python workers (addPyFile zip) so the ~23
    # pickled-function ops survive a driver launched from any cwd.
    ensure_worker_imports(spark)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q5-shaped 5-way star join) on sf0.001."""
    _configure(spark)
    from e2e_data_pipeline_spark.operators import QUERIES

    return QUERIES["join_multiway"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from e2e_data_pipeline_spark.operators import QUERIES

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _configure(spark)
            return fn(spark, sf_dir)

        run.__doc__ = fn.__doc__
        return run

    return {name: wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """Equivalent DuckDB SQL per query key (omitted → rows-only check)."""
    from e2e_data_pipeline_spark.operators import ORACLES

    return dict(ORACLES)
