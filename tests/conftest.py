from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from e2e_data_pipeline_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("e2e-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def empty_sf_dir(spark, tmp_path_factory):
    """A fixture-layout dir where every table has 0 rows but the real
    schema (written from `limit(0)` of the sf0.001 parquet). Shared by
    the zero-row sweep and the plan sweep."""
    from e2e_data_pipeline_spark.schemas import TABLES

    root = tmp_path_factory.mktemp("sf_empty")
    for name in TABLES:
        src = spark.read.parquet(f"{SF_SMALL}/{name}.parquet")
        src.limit(0).write.mode("overwrite").parquet(str(root / f"{name}.parquet"))
    return str(root)


@pytest.fixture(scope="session")
def empty_query_cache(spark, empty_sf_dir):
    """Memoized (DataFrame, formatted-plan) per query key on the
    zero-row fixtures. Query CONSTRUCTION can be expensive (streams,
    sinks, collected offsets), so the zero-row sweep
    (test_empty_inputs) and the single-partition plan sweep
    (test_plan_sweep) share one construction per key."""
    from e2e_data_pipeline_spark.operators import QUERIES

    cache: dict[str, tuple] = {}

    def get(name: str):
        if name not in cache:
            df = QUERIES[name](spark, empty_sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            cache[name] = (df, plan)
        return cache[name]

    return get
