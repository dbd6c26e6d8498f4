"""Source/sink connector layer (SURVEY.md §2.1 Tier A).

Local-filesystem and HTTP-staging connectors are fully functional. Every
partitioned parquet dataset is written by ``write_parquet_partitioned``
(gzip, Hive-style partitions, dynamic overwrite: a rerun of a month
replaces only that month). The JDBC and BigQuery helpers return
configured writers/readers but need a live endpoint (none in this
sandbox — SURVEY.md §7 risk register), so they are exercised
structurally in tests and ``.save()``/``.load()``ed by the caller.
"""

from e2e_data_pipeline_spark.sources.staging import fetch_to_staging
from e2e_data_pipeline_spark.sources.jdbc import (
    jdbc_reader,
    jdbc_schema_only_ddl,
    jdbc_writer,
)
from e2e_data_pipeline_spark.sources.object_store import (
    bigquery_writer,
    read_parquet_any,
    write_parquet_partitioned,
)

__all__ = [
    "bigquery_writer",
    "fetch_to_staging",
    "jdbc_reader",
    "jdbc_schema_only_ddl",
    "jdbc_writer",
    "read_parquet_any",
    "write_parquet_partitioned",
]
