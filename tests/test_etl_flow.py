"""Golden end-to-end test of the Tier A ETL flow (SURVEY.md §5.2):
synthesize a taxi-shaped gzip CSV, run main_flow, verify filter/cast/
partition-layout/export semantics — including the dynamic-schema path
(green lpep_* vs yellow tpep_* columns through one code path)."""

from __future__ import annotations

import csv
import gzip
import os

import pytest

from pyspark.sql import functions as F

from e2e_data_pipeline_spark.plans import main_flow
from e2e_data_pipeline_spark.sources import (
    jdbc_reader,
    jdbc_schema_only_ddl,
    jdbc_writer,
)


def _make_taxi_csv(path: str, prefix: str, n: int = 500, zero_every: int = 5) -> int:
    """Write a gzip CSV shaped like an NYC-TLC monthly file. Returns
    the number of zero-passenger rows."""
    zeros = 0
    with gzip.open(path, "wt", newline="") as f:
        w = csv.writer(f)
        w.writerow(
            [
                "VendorID",
                f"{prefix}_pickup_datetime",
                f"{prefix}_dropoff_datetime",
                "passenger_count",
                "trip_distance",
                "total_amount",
            ]
        )
        for i in range(n):
            pc = 0 if i % zero_every == 0 else (i % 4) + 1
            zeros += pc == 0
            w.writerow(
                [
                    i % 2 + 1,
                    f"2019-11-{i % 28 + 1:02d} 08:{i % 60:02d}:00",
                    f"2019-11-{i % 28 + 1:02d} 08:{(i + 15) % 60:02d}:00",
                    pc,
                    round(0.5 + i * 0.01, 2),
                    round(5 + i * 0.1, 2),
                ]
            )
    return zeros


@pytest.mark.parametrize("color,prefix", [("green", "lpep"), ("yellow", "tpep")])
def test_main_flow_end_to_end(spark, tmp_path, color, prefix):
    src = tmp_path / f"{color}_tripdata_2019-11.csv.gz"
    zeros = _make_taxi_csv(str(src), prefix)

    out = str(tmp_path / "out")
    res = main_flow(
        spark,
        source_url=f"file://{src}",
        output_dir=out,
        taxi_color=color,
        year=2019,
        month=11,
    )
    assert res.rows_in == 500
    assert res.rows_filtered == zeros
    assert res.rows_out == 500 - zeros
    assert res.exported_rows == res.rows_out  # under the export limit

    # partition layout: hive-style dirs replace hand-built paths (A17)
    assert os.path.isdir(
        os.path.join(out, "curated", f"taxi_color={color}", "year=2019", "month=11")
    )

    # guarded casts applied (A6/A7): timestamps, not strings
    back = spark.read.parquet(res.output_path)
    assert dict(back.dtypes)[f"{prefix}_pickup_datetime"].startswith("timestamp")
    # filter applied before the sink (A4)
    assert back.where(F.col("passenger_count") == 0).count() == 0
    assert set(res.timings_s) == {"fetch", "scan", "clean_write", "readback_export"}


def test_main_flow_backfill_into_one_output_dir(spark, tmp_path):
    """A backfill: several months, both taxi colors, into one
    output_dir. Each call must keep the months written before it, a
    yellow month written after a green one must keep its own tpep_*
    columns, and a rerun of a month must replace that month, not
    append to it."""
    out = str(tmp_path / "out")

    def run(color, prefix, month, n, tag=""):
        src = str(tmp_path / f"{color}_tripdata_2019-{month:02d}{tag}.csv.gz")
        zeros = _make_taxi_csv(src, prefix, n=n)
        res = main_flow(
            spark, f"file://{src}", out, taxi_color=color, year=2019, month=month
        )
        assert res.rows_out == n - zeros
        assert res.exported_rows == res.rows_out  # export replaced, not appended
        return res

    def curated_rows(color, month):
        part = f"{out}/curated/taxi_color={color}/year=2019/month={month}"
        return spark.read.parquet(part).count()

    green = run("green", "lpep", 11, 500)
    yellow = run("yellow", "tpep", 12, 300)
    assert curated_rows("green", 11) == green.rows_out
    assert curated_rows("yellow", 12) == yellow.rows_out

    export = dict(spark.read.parquet(f"{out}/export/yellow_2019_12").dtypes)
    for c in ("tpep_pickup_datetime", "tpep_dropoff_datetime"):
        assert export[c].startswith("timestamp"), export

    rerun = run("green", "lpep", 11, 200, tag="-rerun")
    assert rerun.rows_out != green.rows_out
    assert curated_rows("green", 11) == rerun.rows_out
    assert curated_rows("yellow", 12) == yellow.rows_out


def test_jdbc_builders_configured(spark):
    """No DB in the sandbox: assert the JDBC reader/writer plans are
    correctly configured rather than executing them (SURVEY.md §7
    risk register)."""
    df = spark.range(10).withColumnRenamed("id", "k")
    url = "jdbc:postgresql://localhost:5432/ny_taxi"

    w = jdbc_writer(df, url, "trips", batch_size=100_000)
    # options live on the underlying java writer; smoke the contract
    assert w is not None

    ddl = jdbc_schema_only_ddl(df, url, "trips")
    assert ddl is not None

    r = jdbc_reader(
        spark, url, "trips", partition_column="k", lower_bound=0, upper_bound=10
    )
    assert r is not None


def test_python_datasource_partitioned_and_deterministic(spark):
    """The custom Python DataSource (sources/python_ds.py) must split
    into the declared fixed-size ranges and produce identical rows on
    re-read (a pure function of the index — the resumable-fetch
    property a real remote connector needs)."""
    from e2e_data_pipeline_spark.sources.python_ds import register_python_sources

    register_python_sources(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", "1000")
        .option("rowsPerPartition", "250")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 1000
    first = df.orderBy("event_id").limit(5).collect()
    again = (
        spark.read.format("synthetic_events")
        .option("rows", "1000")
        .option("rowsPerPartition", "250")
        .load()
        .orderBy("event_id")
        .limit(5)
        .collect()
    )
    assert first == again
    row0 = first[0]
    x = (1103515245 * 0 + 12345) % 2_147_483_648
    assert row0.user_id == x % 997 and row0.bucket == 0


def test_cli_entry_point(tmp_path):
    """A18 CLI parity: the flow's __main__ argparse path (the
    reference's `python ingest_data.py --output_dir ...`,
    ingest_data.py:145-157) must run the whole flow in a fresh
    process."""
    import subprocess
    import sys

    src = str(tmp_path / "green_tripdata_2019-11.csv.gz")
    _make_taxi_csv(src, "lpep", n=120)
    out_dir = str(tmp_path / "out")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "e2e_data_pipeline_spark.plans.etl",
            "--source_url",
            f"file://{src}",
            "--output_dir",
            out_dir,
            "--taxi_color",
            "green",
            "--year",
            "2019",
            "--month",
            "11",
        ],
        cwd="/root/repo",
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "EtlResult" in res.stdout
    assert os.path.isdir(f"{out_dir}/curated/taxi_color=green/year=2019/month=11")


def test_python_ds_writer_commit_manifest(spark, tmp_path):
    """The jsonl_dir writer's two-phase commit must produce a _SUCCESS
    manifest whose file list and row total exactly describe the
    committed task files."""
    import json

    from e2e_data_pipeline_spark.catalog import load_table
    from e2e_data_pipeline_spark.sources.python_ds import register_python_sources
    from tests.conftest import SF_SMALL

    register_python_sources(spark)
    out = str(tmp_path / "jsonl_sink")
    df = load_table(spark, SF_SMALL, "nation").select("n_nationkey", "n_name")
    df.write.format("jsonl_dir").mode("append").option("path", out).save()
    manifest = json.load(open(f"{out}/_SUCCESS"))
    assert manifest["rows"] == df.count() == 25
    n_lines = 0
    for f in manifest["files"]:
        with open(f, encoding="utf-8") as fh:
            n_lines += sum(1 for _ in fh)
    assert n_lines == 25


def test_python_ds_writer_modes(spark, tmp_path):
    """`.mode("overwrite")` must replace prior files+manifest (no
    silent append), and `.mode("append")` must MERGE the new task
    files into the existing manifest so it stays the single source
    of truth across appends."""
    import json

    from e2e_data_pipeline_spark.catalog import load_table
    from e2e_data_pipeline_spark.sources.python_ds import register_python_sources
    from tests.conftest import SF_SMALL

    register_python_sources(spark)
    out = str(tmp_path / "jsonl_modes")
    df = load_table(spark, SF_SMALL, "nation").select("n_nationkey", "n_name")

    df.write.format("jsonl_dir").mode("append").option("path", out).save()
    df.write.format("jsonl_dir").mode("append").option("path", out).save()
    manifest = json.load(open(f"{out}/_SUCCESS"))
    assert manifest["rows"] == 50  # append merged both writes
    assert all(os.path.exists(f) for f in manifest["files"])

    df.write.format("jsonl_dir").mode("overwrite").option("path", out).save()
    manifest = json.load(open(f"{out}/_SUCCESS"))
    assert manifest["rows"] == 25  # overwrite replaced, not mixed
    on_disk = {
        os.path.join(out, f)
        for f in os.listdir(out)
        if f.endswith(".jsonl")
    }
    assert on_disk == set(manifest["files"])


def test_compaction_collapses_file_count(spark, tmp_path):
    """The compaction rewrite must actually reduce parquet file count
    (64 splinters -> <=4), not just round-trip the rows."""
    import glob

    from e2e_data_pipeline_spark.catalog import load_table
    from tests.conftest import SF_SMALL

    frag = str(tmp_path / "frag")
    compacted = str(tmp_path / "compact")
    orders = load_table(spark, SF_SMALL, "orders").select("o_orderkey")
    orders.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(2).write.mode("overwrite").parquet(compacted)
    n_frag = len(glob.glob(f"{frag}/part-*.parquet"))
    n_comp = len(glob.glob(f"{compacted}/part-*.parquet"))
    assert n_frag >= 32 and n_comp <= 4, (n_frag, n_comp)
    assert (
        spark.read.parquet(compacted).count() == orders.count()
    )


def test_bigquery_writer_contract(spark, tmp_path):
    """Pin the A15 BigQuery mapping (ingest_data.py:116-122) without the
    connector jar: to_gbq(f"{dataset}.taxi_data", project,
    if_exists="append") must translate to format=bigquery, an append
    (not an overwrite), the fully-qualified table id, and the direct
    Storage-Write-API path (no staging bucket). A fake ``bigquery``
    Python data source receives the ``.save()`` and records what it got;
    its commit runs in a Python worker, so the record goes to a file."""
    import json

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    from e2e_data_pipeline_spark.sources import bigquery_writer

    record = str(tmp_path / "bigquery_received.json")

    class _RecordingWriter(DataSourceWriter):
        def __init__(self, options, overwrite):
            self.options = dict(options)
            self.overwrite = overwrite

        def write(self, iterator):
            return WriterCommitMessage()

        def commit(self, messages):
            with open(record, "w") as f:
                json.dump({"options": self.options, "overwrite": self.overwrite}, f)

    class _FakeBigQuery(DataSource):
        @classmethod
        def name(cls):
            return "bigquery"

        def writer(self, schema, overwrite):
            return _RecordingWriter(self.options, overwrite)

    spark.dataSource.register(_FakeBigQuery)
    df = spark.range(3)
    bigquery_writer(df, "data-eng-practice007", "trips_data_all", "taxi_data").save()
    got = json.load(open(record))
    # option keys arrive lower-cased
    assert got["options"]["table"] == "data-eng-practice007.trips_data_all.taxi_data"
    assert got["options"]["writemethod"] == "direct"
    assert got["overwrite"] is False


def test_parquet_sink_on_file_uri(spark, tmp_path):
    """Pin the A14/A16 GCS mapping (ingest_data.py:109-113 PARQUET_GZIP
    upload): a ``gs://`` URI goes straight to write_parquet_partitioned,
    so running it on a ``file://`` URI exercises the whole sink — gzip
    codec, Hive-style partition dirs, read-back — with only the URI
    scheme left to the connector."""
    from e2e_data_pipeline_spark.sources import (
        read_parquet_any,
        write_parquet_partitioned,
    )

    local = str(tmp_path / "sink")
    df = spark.range(100).selectExpr("id", "id % 2 AS flag")
    write_parquet_partitioned(df, f"file://{local}", ["flag"])
    # Hive-style partition dirs + gzip codec on disk
    names = {f for f in os.listdir(local) if f.startswith("flag=")}
    assert names == {"flag=0", "flag=1"}
    files = os.listdir(os.path.join(local, "flag=0"))
    assert any(".gz.parquet" in f for f in files), files
    back = read_parquet_any(spark, f"file://{local}")
    assert back.count() == 100
    assert set(back.columns) == {"id", "flag"}


def test_sorted_clustered_sink_files_are_sorted(spark):
    """sink_sorted_clustered promises within-file shipdate ordering —
    read the files it writes and assert each file's rows form a
    monotone run (the property row-group pruning depends on)."""
    import tempfile

    from pyspark.sql import functions as F

    from e2e_data_pipeline_spark.catalog import load_table
    from tests.conftest import SF_SMALL

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_returnflag", "l_shipdate"
    )
    out = tempfile.mkdtemp(prefix="e2e_sorted_test_")
    (
        li.repartition(4, "l_returnflag")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        F.input_file_name().alias("f"), "l_shipdate"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
    viol = (
        back.withColumn("prev", F.lag("l_shipdate").over(w))
        .where(F.col("prev") > F.col("l_shipdate"))
        .count()
    )
    assert viol == 0


def test_parquet_bloom_filter_written_to_footer(spark, tmp_path):
    """Structural pin for scan_parquet_bloom_filter: the writer option
    must actually persist a bloom filter in the parquet footer (JVM
    reader exposes the offset; pyarrow 16 does not), and an identical
    write WITHOUT the option must not. Dictionary encoding is disabled
    for the bloomed column: parquet-mr skips blooms on fully
    dictionary-encoded chunks (the dictionary already gives exact
    skipping), which is also why the operator disables it."""
    from pyspark.sql import functions as F

    df = spark.range(20_000).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 997).alias("o_custkey"),
    )

    def bloom_offset(path: str) -> int:
        import glob

        f = sorted(glob.glob(path + "/*.parquet"))[0]
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        hif = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(f), conf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(hif)
        try:
            cols = reader.getFooter().getBlocks().get(0).getColumns()
            for i in range(cols.size()):
                c = cols.get(i)
                if c.getPath().toDotString() == "o_custkey":
                    return c.getBloomFilterOffset()
            raise AssertionError("o_custkey column chunk not found")
        finally:
            reader.close()

    with_bloom = str(tmp_path / "with_bloom")
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "1000")
        .option("parquet.enable.dictionary#o_custkey", "false")
        .parquet(with_bloom)
    )
    without = str(tmp_path / "without_bloom")
    df.coalesce(1).write.mode("overwrite").parquet(without)

    assert bloom_offset(with_bloom) >= 0, "bloom filter missing from footer"
    assert bloom_offset(without) == -1, "unexpected bloom without option"
