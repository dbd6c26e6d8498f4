"""Object-store / filesystem parquet source+sink (Tier A A13-A17).

The reference uploads a pandas frame to GCS (ingest_data.py:109-113),
appends to BigQuery (:116-122), then *downloads the parquet back to
local disk* (:129-136). Spark-first: the copy steps disappear — Spark
reads and writes ``gs://`` / ``s3a://`` / ``file://`` URIs directly
through the Hadoop connectors, so "upload then re-download" is just
:func:`write_parquet_partitioned` + :func:`read_parquet_any` on the
URI. BigQuery is a configured writer (:func:`bigquery_writer`) that the
caller ``.save()``s when the connector jar is on the classpath (not in
this sandbox) — the same convention as ``jdbc_writer``.

The partitioned layout replaces the reference's hand-built
``{output_dir}/{color}_taxi/{year}/{month}`` directories
(ingest_data.py:20-22): ``partitionBy`` gives the identical on-disk
hierarchy plus free partition pruning on read.

:func:`write_parquet_partitioned` is the one parquet sink. It overwrites
dynamically: a write replaces only the partitions present in its input,
so a backfill into one dataset keeps every other month, and a rerun of
a month replaces that month instead of appending to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.readwriter import DataFrameWriter


def write_parquet_partitioned(
    df: DataFrame, uri: str, partition_cols: list[str] | None = None
) -> None:
    """Parquet sink with the reference's gzip compression
    (ingest_data.py:103-106) and Hive-style partition layout.

    ``partitionOverwriteMode=dynamic`` is set on this write only, never
    on the session: overwrite replaces the partitions ``df`` contains
    and leaves the rest of ``uri`` untouched. Without partition columns
    the whole ``uri`` is replaced."""
    w = (
        df.write.mode("overwrite")
        .option("compression", "gzip")
        .option("partitionOverwriteMode", "dynamic")
    )
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(uri)


def read_parquet_any(spark: SparkSession, uri: str) -> DataFrame:
    """Parquet scan over any supported URI scheme. Partition columns in
    the directory layout come back as real columns, and filters on them
    prune directories before any file is opened."""
    return spark.read.parquet(uri)


def bigquery_writer(
    df: DataFrame, project: str, dataset: str, table: str
) -> DataFrameWriter:
    """Configured BigQuery writer for the reference's append
    (ingest_data.py:116-122: ``df.to_gbq(f"{dataset}.taxi_data",
    "data-eng-practice007", if_exists="append")``).

    ``writeMethod=direct`` is the Storage Write API path — no staging
    bucket, no per-executor temp files, which is the right default for
    an append of arbitrary cluster-side size (the indirect path would
    funnel through one GCS staging dir). pandas' ``chunksize=100_000``
    disappears: Spark writes one stream per partition."""
    return (
        df.write.format("bigquery")
        .mode("append")
        .option("table", f"{project}.{dataset}.{table}")
        .option("writeMethod", "direct")
    )
