"""Driver-side caches that repeated queries rely on.

- ``catalog.load_table`` infers a parquet schema once per file
  signature and passes Spark's own inferred schema to later reads, so
  a repeated load launches no schema-inference job, a rewritten file is
  re-inferred, and every load is still a new relation.
- The session's whole-stage-codegen cache holds the working set of the
  ``olap_mix`` benchmark keys, so a repeated pass compiles (almost)
  nothing.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from e2e_data_pipeline_spark.catalog import load_table, table_path
from e2e_data_pipeline_spark.operators import QUERIES

from tests.conftest import SF_SMALL

# the keys of the olap_mix benchmark workload: 5 scan keys, then the 4
# report keys that read frame-cache rollups
OLAP_MIX_KEYS = [
    "join_multiway",
    "agg_groupby",
    "join_shuffle",
    "win_topk_per_group",
    "sort_limit",
    "ts_pacf",
    "ts_holt_winters",
    "stats_sign_test",
    "dq_drift_tvd",
]


def _jobs_launched(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_file_launches_no_job(spark, tmp_path):
    shutil.copy(table_path(SF_SMALL, "orders"), table_path(str(tmp_path), "orders"))
    first, jobs1 = _jobs_launched(
        spark, "catalog-first-load", lambda: load_table(spark, str(tmp_path), "orders")
    )
    second, jobs2 = _jobs_launched(
        spark, "catalog-second-load", lambda: load_table(spark, str(tmp_path), "orders")
    )
    assert jobs1, "the first load should infer the schema with a Spark job"
    assert jobs2 == []
    assert second.schema == first.schema
    assert second.count() == first.count() > 0


def test_rewritten_file_reloads_new_schema(spark, tmp_path):
    sf = str(tmp_path)
    path = table_path(sf, "orders")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert load_table(spark, sf, "orders").columns == ["a"]
    load_table(spark, sf, "orders")  # a cached-schema read
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_table(spark, sf, "orders")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]

    # a dataset directory overwritten by Spark at the same path
    os.remove(path)
    spark.range(4).write.mode("overwrite").parquet(path)
    assert load_table(spark, sf, "orders").columns == ["id"]
    spark.range(5).select(F.col("id").cast("string").alias("s")).write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, sf, "orders")
    assert df.columns == ["s"]
    assert df.count() == 5


def test_self_join_of_two_loads_matches_duckdb(spark):
    load_table(spark, SF_SMALL, "orders")  # later loads take the cached schema
    a = load_table(spark, SF_SMALL, "orders")
    b = load_table(spark, SF_SMALL, "orders")
    n = a.join(b, a["o_custkey"] == b["o_custkey"]).count()
    path = table_path(SF_SMALL, "orders")
    (expected,) = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{path}') x"
        f" JOIN read_parquet('{path}') y ON x.o_custkey = y.o_custkey"
    ).fetchone()
    assert n == expected > 0


def test_repeated_olap_mix_pass_compiles_nothing(spark):
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass():
        for key in OLAP_MIX_KEYS:
            QUERIES[key](spark, SF_SMALL).write.format("noop").mode("overwrite").save()

    one_pass()
    before = metric.getCount()
    one_pass()
    # With Spark's default cache of 100 entries the second pass
    # recompiles well over 60 classes. It is not held to exactly 0:
    # adaptive execution can re-plan a multi-join key from run to run,
    # and a new plan variant is new code. Run 25 times alone, ts_pacf
    # compiled 4 classes on one later run (the 2nd or the 6th) with
    # adaptive execution on, and none after the first with it off.
    assert metric.getCount() - before <= 8

