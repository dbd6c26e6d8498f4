"""Source/sink operators: parquet scan, CSV round-trip, partitioned
gzip parquet sink (SURVEY.md §2.2, Tier A A2/A3/A13/A17).

The reference reads gzip CSV in 100k-row chunks
(/root/reference/ingest_data.py:49,54-56) and writes gzip parquet under
hand-built {color}/{year}/{month} dirs (:20-22,103-106). Spark-first
re-expression: chunking disappears (partitions replace it), the dir
hierarchy becomes ``partitionBy`` (pruning comes free), and gzip CSV —
unsplittable, so a single task per file at any scale — is repartitioned
right after read.

The round-trip queries write to a per-invocation temp dir and re-read;
their oracles compute the same answer straight from the source parquet,
so the hash also proves the round-trip is lossless.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e2e_data_pipeline_spark.catalog import load_table, register_views
from e2e_data_pipeline_spark.operators.registry import dec_sum, register
from e2e_data_pipeline_spark.schemas import TABLES
from e2e_data_pipeline_spark.session import scoped_session
from e2e_data_pipeline_spark.sources import write_parquet_partitioned


@register(
    "scan_parquet",
    oracle="""
    SELECT 'region' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows FROM region
    UNION ALL SELECT 'nation', COUNT(*) FROM nation
    UNION ALL SELECT 'customer', COUNT(*) FROM customer
    UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
    UNION ALL SELECT 'part', COUNT(*) FROM part
    UNION ALL SELECT 'orders', COUNT(*) FROM orders
    UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
    UNION ALL SELECT 'events', COUNT(*) FROM events
    UNION ALL SELECT 'documents', COUNT(*) FROM documents
    UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan every fixture table; parquet count(*) is metadata-only."""
    out = None
    for name in TABLES:
        one = load_table(spark, sf_dir, name).agg(
            F.lit(name).alias("table_name"), F.count("*").alias("n_rows")
        )
        out = one if out is None else out.unionByName(one)
    assert out is not None
    return out


@register(
    "scan_csv",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_orderkey % 10 = 0
    GROUP BY l_returnflag
    """,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-CSV round trip (A2/A3): write a lineitem slice as csv.gz,
    re-read with an explicit schema, aggregate. The oracle computes the
    same aggregate from the source parquet — hash equality proves the
    CSV path is lossless for these columns.

    Doubles survive because Spark's CSV writer emits round-trippable
    representations; the explicit read schema avoids a second
    inference pass (at 100 TB, inference = an extra full scan).
    """
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 10 == 0)
    cols = ["l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"]
    path = tempfile.mkdtemp(prefix="e2e_csv_")
    li.select(*cols).write.mode("overwrite").option("header", True).option(
        "compression", "gzip"
    ).csv(path)
    back = (
        spark.read.schema(
            "l_orderkey bigint, l_returnflag string, l_quantity double, l_extendedprice double"
        )
        .option("header", True)
        .csv(path)
        # gzip is unsplittable → one task per file; spread before the agg
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        dec_sum("l_quantity").alias("sum_qty"),
        dec_sum("l_extendedprice").alias("sum_price"),
    )


@register(
    "sink_parquet_partitioned",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned gzip parquet sink (A13+A17) + pruned re-read.

    ``partitionBy("l_returnflag","l_linestatus")`` is the Spark-native
    version of the reference's hand-built dir hierarchy
    (ingest_data.py:20-22). The re-read filter hits only the
    l_returnflag=R directories — partition pruning by construction.
    """
    li = load_table(spark, sf_dir, "lineitem")
    path = tempfile.mkdtemp(prefix="e2e_part_")
    write_parquet_partitioned(li, path, ["l_returnflag", "l_linestatus"])
    # Pin the schema on re-read: a fully-filtered (or empty-input)
    # write leaves no part files, and schema inference over an empty
    # directory throws — the schema must never depend on data arriving.
    back = spark.read.schema(li.schema).parquet(path).where(
        F.col("l_returnflag") == "R"
    )
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        dec_sum("l_extendedprice").alias("sum_price"),
    )


@register(
    "scan_partition_pruned",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE date_trunc('day', ts) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
    GROUP BY 1
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned-at-rest layout + directory pruning — THE
    pattern that makes a 100 TB event lake queryable: events land
    partitioned by day (`day=2024-01-10/...`), and a date-range
    predicate then prunes at the DIRECTORY level, before any file is
    opened or footer read. This is stronger than parquet PushedFilters
    (which still opens every file to check row-group stats):
    tests/test_plans.py asserts the range shows up as
    `PartitionFilters` and that `day` never appears in the data
    ReadSchema (partition values come from the path, not the pages).

    The 3-of-30-days predicate here reads ~10% of the directories; at
    a 1000-executor scale the other 90% cost zero I/O, zero tasks.
    """
    ev = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="e2e_daypart_")
    write_parquet_partitioned(
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd")), path, ["day"]
    )
    back = (
        spark.read.schema(ev.schema.add("day", "string"))
        .parquet(path)
        .where(F.col("day").between("2024-01-10", "2024-01-12"))
    )
    return back.groupBy("day").agg(
        F.count("*").alias("n_events"),
        dec_sum("value").alias("sum_value"),
    )


@register(
    "sink_bucketed",
    oracle="""
    SELECT o.o_orderkey,
           o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderkey, o.o_orderpriority
    """,
)
def sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table sink + shuffle-free co-located join.

    Both sides are written ``bucketBy(8, <join key>)`` into session
    tables, so every bucket i of orders joins only bucket i of
    lineitem: the sort-merge join reads both pre-hashed layouts and
    needs NO Exchange, and the following groupBy on the same key reuses
    the bucketing too (asserted in tests/test_plans.py). This is the
    at-rest answer to repeated large-fact joins at 100 TB — pay the
    hash-write once, skip the shuffle on every subsequent join. The
    ``merge`` hints pin sort-merge so a broadcast can't mask the
    demonstration at test scale.
    """
    path = tempfile.mkdtemp(prefix="e2e_bucketed_")
    n_buckets = 8
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")
    for df, name, key in (
        (orders, "bkt_orders", "o_orderkey"),
        (li, "bkt_lineitem", "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", f"{path}/{name}")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    o = spark.table("bkt_orders").hint("merge")
    l = spark.table("bkt_lineitem").hint("merge")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        o.join(l, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(revenue.cast("decimal(18,4)")).cast("double").alias("revenue"),
        )
    )


@register(
    "scan_jsonl",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(MIN(ts_us) AS BIGINT) AS min_ts_us
    FROM (
        SELECT event_type, value, CAST(epoch_us(ts) AS BIGINT) AS ts_us
        FROM events
    )
    GROUP BY event_type
    """,
)
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip: write events as JSONL, re-read with an
    explicit schema, aggregate. The oracle computes the same answer
    from the source parquet, so the hash proves the round-trip is
    lossless.

    Timestamps travel as epoch-microsecond longs — JSON has no
    timestamp type, and string formatting would make the round-trip
    depend on parser defaults. The re-read pins an explicit schema:
    schema inference on JSON is a full extra pass at scale.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        (F.col("ts").cast("timestamp").cast("long") * 1_000_000
         + F.date_format("ts", "SSSSSS").cast("long")).alias("ts_us"),
    )
    path = tempfile.mkdtemp(prefix="e2e_jsonl_")
    ev.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "event_id long, event_type string, value double, ts_us long"
    ).json(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        dec_sum("value").alias("sum_value"),
        F.min("ts_us").alias("min_ts_us"),
    )


@register(
    "scan_orc",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip (the other columnar at-rest format Spark ships
    natively): write lineitem as zlib ORC, re-read, aggregate. Same
    pushdown/pruning machinery as parquet — ReadSchema and
    PushedFilters work identically — so a parquet-first pipeline can
    interoperate with ORC lakes without operator changes."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    path = tempfile.mkdtemp(prefix="e2e_orc_")
    li.write.mode("overwrite").option("compression", "zlib").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        dec_sum("l_quantity").alias("sum_qty"),
    )


# The SAME ANSI text runs on Spark SQL and DuckDB: the engine's SQL
# front-end is dialect-portable for the core relational surface.
_SQL_INTERFACE_QUERY = """
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM nation n
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY n.n_name
"""


@register("sql_interface", oracle=_SQL_INTERFACE_QUERY)
def sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end: the engine's tables registered as views and
    queried with a raw ANSI string — ``spark.sql`` hands the text to
    the same Catalyst pipeline the DataFrame API feeds, so pushdown/
    broadcast/AQE all apply identically. The oracle is the IDENTICAL
    query text, which doubles as a dialect-portability check for the
    core relational surface."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_INTERFACE_QUERY)


@register(
    "sink_jdbc",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sink_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC round-trip (Tier A A8/A9/A11) against Spark's bundled
    embedded Derby: schema-only DDL from the frame header (the
    reference's ``df.head(n=0).to_sql(if_exists='replace')``,
    ingest_data.py:52), parallel batched append (the 100k-row chunk
    loop at ingest_data.py:54-85, collapsed to one ``write``), then a
    PARTITIONED read-back (ingest_data.py:100's chunked
    ``read_sql_table``, as numPartitions concurrent range cursors).
    The oracle aggregates the source parquet directly, so the hash
    proves the DB round-trip is lossless.

    Scale notes: the append runs one connection per partition with
    ``batchsize`` rows per round-trip — against a server-grade RDBMS
    the same code fans out across executors; writers are coalesced to
    bound connection count. The read-back partitions on the integer
    key with real min/max bounds so every cursor carries an equal key
    range (a single unpartitioned cursor is the 100 TB anti-pattern).
    """
    from e2e_data_pipeline_spark.sources.jdbc import (
        jdbc_reader,
        jdbc_schema_only_ddl,
        jdbc_writer,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    db_dir = tempfile.mkdtemp(prefix="e2e_derby_")
    url = f"jdbc:derby:{db_dir}/db;create=true"
    driver = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    jdbc_schema_only_ddl(orders, url, "orders_rt", **driver).save()
    jdbc_writer(orders.coalesce(8), url, "orders_rt", **driver).save()
    bounds = orders.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).first()
    if bounds["lo"] is None:  # zero-row input: nothing to range-partition
        back = jdbc_reader(spark, url, "orders_rt", **driver).load()
    else:
        back = jdbc_reader(
            spark,
            url,
            "orders_rt",
            partition_column="o_orderkey",
            lower_bound=int(bounds["lo"]),
            upper_bound=int(bounds["hi"]) + 1,
            num_partitions=8,
            **driver,
        ).load()
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        dec_sum("o_totalprice").alias("revenue"),
    )


@register(
    "scan_xml",
    oracle="""
    SELECT n_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           min(n_name) AS first_name
    FROM nation
    GROUP BY n_regionkey
    """,
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip via Spark 4's NATIVE xml data source (no external
    package): write nation as row-tagged XML, re-read with an explicit
    schema, aggregate. The oracle aggregates the source parquet, so the
    hash proves losslessness.

    XML is an interop/ingest format, not an at-rest analytics format:
    row-tag parsing is CPU-bound and the format is unsplittable only
    per-file (Spark parallelizes across files). The re-read pins an
    explicit schema — XML schema inference is an extra full pass at
    scale. A real pipeline lands XML once, converts to parquet, and
    never scans it twice.
    """
    nation = load_table(spark, sf_dir, "nation")
    path = tempfile.mkdtemp(prefix="e2e_xml_")
    nation.write.mode("overwrite").option("rootTag", "nations").option(
        "rowTag", "nation"
    ).xml(path)
    back = spark.read.schema("n_nationkey int, n_name string, n_regionkey int").option(
        "rowTag", "nation"
    ).xml(path)
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.min("n_name").alias("first_name"),
    )


@register(
    "source_python_ds",
    oracle="""
    SELECT CAST(i % 16 AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST(x % 100000 AS DOUBLE) / 100.0
                    AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(SUM(x % 997) AS BIGINT) AS sum_user,
           CAST(MAX(x % 997) AS BIGINT) AS max_user
    FROM (
        SELECT i, (1103515245 * i + 12345) % 2147483648 AS x
        FROM (SELECT unnest(range(0, 100000)) AS i)
    )
    GROUP BY bucket
    """,
)
def source_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource connector (Spark 4 datasource API): the
    Spark-first re-expression of the reference's hand-rolled HTTP fetch
    + 100k-row chunk loop (ingest_data.py:16-26,54-56). The source
    declares a schema and fixed-size ``InputPartition`` ranges; the
    engine schedules one reader task per range on the executors — the
    chunk loop becomes declarative partitioning (see
    sources/python_ds.py).

    Every emitted row is a pure LCG function of its index, so the
    DuckDB oracle reproduces the stream exactly from ``range()`` — an
    exact cross-engine correctness check for a CONNECTOR, not just a
    query. sf-independent by design: connectors have no scale factor.
    """
    from e2e_data_pipeline_spark.sources.python_ds import register_python_sources

    register_python_sources(spark)
    df = spark.read.format("synthetic_events").option("rows", "100000").load()
    return df.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        dec_sum("value").alias("sum_value"),
        F.sum("user_id").alias("sum_user"),
        F.max("user_id").alias("max_user"),
    )


# Same LATERAL text on both engines: correlated per-row subqueries with
# ORDER BY ... LIMIT are dialect-portable too, not just flat SPJ+agg.
_SQL_LATERAL_QUERY = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
        SELECT o.o_orderkey, o.o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 2
    ) t
    WHERE c.c_acctbal > 9000
"""


@register("sql_lateral_topk", oracle=_SQL_LATERAL_QUERY)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery through the SQL front-end: top-2
    orders per rich customer, written as the per-row dependent
    subquery users port from warehouse SQL. Spark decorrelates the
    LATERAL + LIMIT into a window-rank under the hood (never a
    per-row re-execution), so the text that *reads* row-at-a-time
    *executes* as one shuffle — exactly the property that makes
    lift-and-shift SQL safe at 100 TB. Deterministic tie-break
    (o_totalprice DESC, o_orderkey) keeps the LIMIT 2 row set
    identical across engines. The oracle is the IDENTICAL text.
    """
    register_views(spark, sf_dir)
    return spark.sql(_SQL_LATERAL_QUERY)


@register(
    "scan_schema_evolution",
    oracle="""
    WITH v1 AS (
        SELECT l_orderkey, l_quantity, CAST(NULL AS DOUBLE) AS l_discount
        FROM lineitem WHERE l_linenumber = 1
    ),
    v2 AS (
        SELECT l_orderkey, l_quantity, l_discount
        FROM lineitem WHERE l_linenumber = 2
    ),
    unioned AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pre_evolution,
           CAST(SUM(CAST(COALESCE(l_discount, 0) AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_discount
    FROM unioned
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet lake: snapshot v1 lacks a column
    that snapshot v2 added; ``mergeSchema`` reconciles them on read and
    back-fills v1 rows with NULL — the additive-evolution contract
    every long-lived dataset relies on.

    ``mergeSchema`` costs a footer read per file at planning time, so
    production tables pin the merged schema in a catalog instead of
    re-merging every query — here it demonstrates the read-side
    guarantee. Writers only ADD columns (never retype), keeping old
    files readable forever. The oracle reproduces the merge
    relationally (NULL-extended UNION), so the hash proves NULL
    back-fill semantics exactly.
    """
    li = load_table(spark, sf_dir, "lineitem")
    path = tempfile.mkdtemp(prefix="e2e_evolve_")
    li.where(F.col("l_linenumber") == 1).select(
        "l_orderkey", "l_quantity"
    ).write.mode("overwrite").parquet(f"{path}/v1")
    li.where(F.col("l_linenumber") == 2).select(
        "l_orderkey", "l_quantity", "l_discount"
    ).write.mode("overwrite").parquet(f"{path}/v2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/v1", f"{path}/v2"
    )
    return merged.agg(
        F.count("*").alias("n_rows"),
        dec_sum("l_quantity").alias("sum_qty"),
        F.sum(F.when(F.col("l_discount").isNull(), 1).otherwise(0)).alias(
            "n_pre_evolution"
        ),
        dec_sum(F.coalesce("l_discount", F.lit(0))).alias("sum_discount"),
    )


@register(
    "scan_csv_malformed",
    oracle="""
    SELECT CAST(COUNT(CASE WHEN o_orderkey % 10 <> 0 THEN 1 END) AS BIGINT)
               AS n_clean,
           CAST(COUNT(CASE WHEN o_orderkey % 10 = 0 THEN 1 END) AS BIGINT)
               AS n_quarantined,
           CAST(SUM(CASE WHEN o_orderkey % 10 <> 0
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
               AS clean_revenue
    FROM orders
    """,
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input quarantine (PERMISSIVE mode): a CSV where every
    10th row carries a corrupted numeric field is read with an explicit
    schema + ``columnNameOfCorruptRecord`` — broken rows survive as
    NULL-typed rows with the raw line captured for quarantine, clean
    rows parse normally, and NOTHING crashes. The ingest contract at
    100 TB: one bad line in a billion must not kill the job (the
    alternatives — FAILFAST / DROPMALFORMED — abort or silently lose
    data).

    The corruption is injected deterministically (key % 10 == 0), so
    the oracle reproduces clean/quarantined counts and the clean-rows
    aggregate from the source table exactly.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    # Corrupt the price field of every 10th row, then serialize as CSV.
    dirty = orders.select(
        F.col("o_orderkey").cast("string").alias("k"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("NOT_A_NUMBER"))
        .otherwise(F.col("o_totalprice").cast("string"))
        .alias("p"),
    )
    path = tempfile.mkdtemp(prefix="e2e_dirty_")
    dirty.write.mode("overwrite").csv(path)
    back = (
        spark.read.schema(
            "o_orderkey long, o_totalprice double, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_clean"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias("n_quarantined"),
        dec_sum(
            F.when(F.col("_corrupt").isNull(), F.col("o_totalprice"))
        ).alias("clean_revenue"),
    )


@register(
    "scan_text",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(length(line)) AS BIGINT) AS total_chars,
           min(line) AS first_line
    FROM (
        SELECT concat(lang, CHR(9), text) AS line FROM documents
    )
    """,
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text source round-trip: write one tab-prefixed line per
    document via the ``text`` sink, re-read with ``spark.read.text``,
    aggregate. The oracle computes the same answer from the source
    parquet — the hash proves the line round-trip is lossless.

    The text source is the raw-corpus workhorse (one row per line,
    single ``value`` column, splittable when uncompressed) — exactly
    how a crawl dump or log directory enters a training pipeline
    before any structure is imposed. The fixture texts contain no
    newlines, the one precondition of line-oriented storage.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        F.concat(F.col("lang"), F.lit("\t"), F.col("text")).alias("value")
    )
    path = tempfile.mkdtemp(prefix="e2e_text_")
    docs.write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.min("value").alias("first_line"),
    )


# Spark 4 supports WITH RECURSIVE natively; this text runs VERBATIM on
# DuckDB too (the sql_interface/sql_lateral_topk dialect-portability
# family). Binary-tree parent = floor(node/2), so recursion depth is
# log2(max doc_id) — bounded and tiny even at 100 TB doc counts.
_SQL_RECURSIVE_QUERY = """
WITH RECURSIVE climb(doc_id, node, depth) AS (
    SELECT doc_id, doc_id AS node, 0 AS depth FROM documents
    UNION ALL
    SELECT doc_id, CAST(FLOOR(node / 2) AS BIGINT) AS node, depth + 1 AS depth
    FROM climb WHERE node > 1
)
SELECT doc_id,
       CAST(MAX(depth) AS BIGINT) AS depth_to_root,
       CAST(SUM(node) AS BIGINT) AS path_sum
FROM climb
GROUP BY doc_id
"""


@register("sql_recursive_cte", oracle=_SQL_RECURSIVE_QUERY)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE through the SQL front-end: every document climbs
    the implicit binary tree over doc ids (parent = floor(node/2)) and
    reports its depth and path sum — the iterate-until-empty fixpoint
    pattern (hierarchy walks, transitive closure) executed natively by
    Spark 4's recursive-CTE planner, with the IDENTICAL query text
    running on DuckDB as the oracle.

    Unlike dedup_cluster's hand-rolled label-propagation loop (driver-
    side iteration + localCheckpoint), the engine owns the fixpoint
    here: each recursion step is a distributed self-union, and depth
    is log2(max id), so the unrolled plan stays shallow at any scale.
    """
    from e2e_data_pipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_RECURSIVE_QUERY)


@register(
    "sink_python_ds",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey
    FROM lineitem
    WHERE l_linestatus = 'F'
    GROUP BY l_returnflag
    """,
)
def sink_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER round-trip (the write half of
    source_python_ds's connector surface): lineitem slice →
    ``.write.format("jsonl_dir")`` (per-task files + driver-side
    two-phase commit manifest) → re-read with an explicit schema →
    aggregate. The oracle computes the same answer from the source
    parquet, so the hash proves the task-parallel sink lost nothing.

    Each executor task serializes only its own partition (no driver
    collect — the anti-pattern the reference's pandas ``to_sql`` loop
    embodies at /root/reference/ingest_data.py:59-85), and the commit
    message/manifest protocol is the same contract a production
    object-store sink uses for exactly-once visibility.
    """
    from e2e_data_pipeline_spark.sources.python_ds import register_python_sources

    register_python_sources(spark)
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_linestatus") == "F"
    ).select("l_orderkey", "l_quantity", "l_returnflag")
    path = tempfile.mkdtemp(prefix="e2e_pyds_sink_")
    li.write.format("jsonl_dir").mode("overwrite").option("path", path).save()
    # Read back ONLY the files the _SUCCESS manifest lists — this is
    # the exactly-once-visibility contract: stray part files from
    # aborted/speculative attempts are invisible to readers.
    with open(os.path.join(path, "_SUCCESS"), encoding="utf-8") as f:
        manifest = json.load(f)
    back = spark.read.schema(
        "l_orderkey long, l_quantity double, l_returnflag string"
    ).json(manifest["files"])
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        dec_sum("l_quantity").alias("sum_qty"),
        F.min("l_orderkey").alias("min_orderkey"),
    )


@register(
    "sink_compaction",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every
    long-lived lake needs: a fragmented write (64 splinter files, the
    shape streaming ingest or over-parallel writers leave behind) is
    rewritten into a handful of right-sized files, then re-read and
    aggregated. The oracle recomputes from the source table, proving
    compaction is lossless; the file-count collapse itself is pinned
    in tests/test_etl_flow.py.

    Small files are a top-3 production scan killer (per-file open cost,
    tiny row groups defeat the vectorized reader, task-per-file
    scheduling overhead). The fix is exactly this: `repartition(k)` to
    k output files sized near `maxPartitionBytes`. At 100 TB the same
    job runs per-partition (compact yesterday's partition only), so
    the rewrite cost stays proportional to fresh data, not the table.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    frag = tempfile.mkdtemp(prefix="e2e_frag_")
    orders.repartition(64).write.mode("overwrite").parquet(frag)
    compacted = tempfile.mkdtemp(prefix="e2e_compact_")
    spark.read.parquet(frag).repartition(2).write.mode("overwrite").parquet(
        compacted
    )
    back = spark.read.parquet(compacted)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        dec_sum("o_totalprice").alias("total_price"),
    )


@register(
    "scan_csv_quoted",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(length(payload)) AS BIGINT) AS total_chars,
           min(md5(payload)) AS first_digest
    FROM (
        SELECT concat(c_name, ', "', CHR(10), '" ', c_mktsegment) AS payload
        FROM customer
    )
    """,
)
def scan_csv_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hostile-CSV round-trip: payloads containing embedded commas,
    double quotes, AND newlines are written with full quoting and
    re-read with ``multiLine`` + escape handling; md5/length aggregates
    against the source parquet prove nothing was split, truncated, or
    de-escaped wrongly. This is the CSV edge that silently corrupts
    naive pipelines (the reference's pandas reader at
    /root/reference/ingest_data.py:49 inherits the same hazard).

    Scale note, and why parquet stays the at-rest format: a quoted
    newline makes row boundaries context-dependent, so ``multiLine``
    CSV is UNSPLITTABLE — one task per file. The engine supports the
    format for ingestion compatibility, then immediately lands
    columnar (the reference itself converts to parquet at
    ingest_data.py:103-106).
    """
    cust = load_table(spark, sf_dir, "customer")
    payload = F.concat(
        F.col("c_name"), F.lit(', "'), F.lit("\n"), F.lit('" '),
        F.col("c_mktsegment"),
    )
    df = cust.select(payload.alias("payload"))
    path = tempfile.mkdtemp(prefix="e2e_csvq_")
    (
        df.write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .csv(path)
    )
    back = (
        spark.read.schema("payload string")
        .option("header", True)
        .option("multiLine", True)
        .csv(path)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.length("payload")).alias("total_chars"),
        F.min(F.md5(F.col("payload").cast("binary"))).alias("first_digest"),
    )


@register(
    "scan_incremental_files",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def scan_incremental_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental file ingestion: a landing directory receives batch
    1 (processed, file paths recorded in a manifest) then batch 2; the
    incremental run discovers ONLY the unprocessed files via the
    ``_metadata.file_path`` hidden column anti-joined against the
    manifest, processes them, and merges with the batch-1 state. The
    oracle recomputes from the source table — the hash proves
    incremental == full reprocess (the batch counterpart of a
    streaming file source's exactly-once tracking; same idea as
    merge_incremental_agg, but the STATE here is which FILES were
    consumed, the real production bookkeeping unit).

    Per-file pruning happens before any row is parsed (file-path
    anti-join is metadata-only against a broadcast manifest), so cost
    is proportional to NEW data — the property that makes daily 100 TB
    ingestion affordable.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    land = tempfile.mkdtemp(prefix="e2e_incr_")
    b1 = orders.where(F.col("o_orderkey") % 2 == 0)
    b2 = orders.where(F.col("o_orderkey") % 2 != 0)
    b1.repartition(2).write.mode("append").parquet(land)
    cents = F.sum(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    ).alias("cents")
    state1 = (
        spark.read.parquet(land)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), cents)
    )
    manifest = (
        spark.read.parquet(land)
        .select(F.col("_metadata.file_path").alias("file_path"))
        .distinct()
    )
    # manifest + state persist across runs in a real pipeline; here
    # they are materialized before batch 2 lands.
    state1 = state1.localCheckpoint(eager=True)
    manifest = manifest.localCheckpoint(eager=True)

    b2.repartition(3).write.mode("append").parquet(land)
    fresh = (
        spark.read.parquet(land)
        .select("*", F.col("_metadata.file_path").alias("file_path"))
        .join(F.broadcast(manifest), "file_path", "left_anti")
    )
    state2 = fresh.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), cents
    )
    return (
        state1.unionByName(state2)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )
    )


@register(
    "join_dpp_prune",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
        FROM events
        WHERE dayofweek(date_trunc('day', ts)) = 1
    )
    SELECT e.day, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, value
          FROM events) e
    JOIN dim ON dim.day = e.day
    GROUP BY e.day
    """,
)
def join_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is day-partitioned at
    rest and the dim side's qualifying days (Mondays) are only known
    at RUNTIME — no static filter exists for Catalyst to push down.
    DPP closes the gap: the dim subquery's result is broadcast as a
    ``dynamicpruningexpression`` into the fact scan's partition
    filters, so the non-Monday directories are skipped at execution
    time exactly as if the predicate had been static. At a 1000-node
    lake this is the difference between scanning 30 days and 4-5.

    tests/test_plans.py asserts the executed plan carries the
    dynamic-pruning subquery on the partitioned FileScan. Semantics
    (and the oracle) are a plain day-keyed join.
    """
    ev = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="e2e_dpp_")
    write_parquet_partitioned(
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd")), path, ["day"]
    )
    fact = spark.read.schema(ev.schema.add("day", "string")).parquet(path)
    dim = (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .distinct()
        .where(F.dayofweek(F.to_date("day")) == 2)
    )
    return (
        fact.join(dim, "day")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
    )


@register(
    "scan_jdbc_pushdown",
    oracle="""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM customer
    WHERE c_acctbal > 1000.0 AND c_mktsegment = 'BUILDING'
    GROUP BY c_nationkey
    """,
)
def scan_jdbc_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC source predicate pushdown: the filter travels INTO the
    database as SQL (JDBCRelation PushedFilters), so only matching
    rows ever cross the wire — on a 100 TB federated source this is
    the entire ballgame; without it Spark drags the full table out to
    filter locally.

    Round-trips customer into embedded Derby, reads back with a
    compound predicate, and a plan test asserts both filters appear as
    PushedFilters on the JDBCRelation scan node. Aggregation and the
    oracle run the same predicate on the source parquet, proving the
    pushed-down path loses nothing.
    """
    from e2e_data_pipeline_spark.sources.jdbc import (
        jdbc_reader,
        jdbc_schema_only_ddl,
        jdbc_writer,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    db_dir = tempfile.mkdtemp(prefix="e2e_derby_pd_")
    url = f"jdbc:derby:{db_dir}/db;create=true"
    driver = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    # Derby's default StringType mapping is CLOB, which cannot be
    # compared in a WHERE clause — so the pushed-down predicate would
    # fail inside the database. Force VARCHAR at DDL time.
    jdbc_schema_only_ddl(
        cust,
        url,
        "customer_rt",
        createTableColumnTypes="c_mktsegment VARCHAR(16)",
        **driver,
    ).save()
    jdbc_writer(cust.coalesce(8), url, "customer_rt", **driver).save()
    back = jdbc_reader(spark, url, "customer_rt", **driver).load()
    return (
        back.where(
            (F.col("c_acctbal") > 1000.0)
            & (F.col("c_mktsegment") == "BUILDING")
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_cust"),
            dec_sum("c_acctbal").alias("sum_bal"),
        )
    )


@register(
    "scan_binary_files",
    oracle="""
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS file_name,
           CAST(n_chars AS BIGINT) AS length,
           md5(text) AS content_md5
    FROM documents
    WHERE doc_id < 20
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` format source — how raw image/audio/model blobs
    enter a Spark pipeline from an object store when nothing has
    parquet-ified them yet (each file becomes a row of path, length,
    modificationTime, content bytes).

    Materializes 20 documents as .bin files, reads the directory with
    ``format("binaryFile")``, and reduces each blob to (name, length,
    md5) — proving the bytes cross intact (the oracle hashes the same
    payloads from the source table). At scale the source parallelizes
    per file and prunes the `content` column when untouched; here
    content IS touched, which is the worst case and still one pass.
    """
    import tempfile as _tf

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 20)
        .select("doc_id", "text")
    )
    out = _tf.mkdtemp(prefix="e2e_binfiles_")

    def write_files(it):
        import os

        for pdf in it:
            for _, r in pdf.iterrows():
                with open(
                    os.path.join(out, f"doc_{int(r.doc_id)}.bin"), "wb"
                ) as f:
                    f.write(r.text.encode("utf-8"))
            yield pdf[["doc_id"]]

    # local[] runs executors in-process so the files land on this
    # machine; on a cluster this would write to shared storage instead.
    docs.mapInPandas(write_files, "doc_id long").count()

    bf = spark.read.format("binaryFile").load(out)
    return bf.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@register(
    "scan_time_travel",
    oracle="""
    WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
    v2 AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN 'P' ELSE o_orderstatus END
                   AS status_v2
        FROM v1
    )
    SELECT 'v1' AS version, o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM v1 GROUP BY o_orderstatus
    UNION ALL
    SELECT 'v2', status_v2, CAST(COUNT(*) AS BIGINT)
    FROM v2 GROUP BY status_v2
    """,
)
def scan_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poor-man's time travel over immutable versioned snapshots —
    the lakehouse pattern (Delta/Iceberg are absent from this
    environment, so the mechanism is built from primitives): every
    write lands in a new `v=N` directory, a query pins the snapshot it
    reads, and BOTH versions stay queryable side by side.

    v1 = a filtered orders slice; v2 = v1 with an update applied
    (status flip on keys divisible by 5) written as a NEW version —
    never in place, so readers of v1 are isolated from the writer.
    The result unions "as of v1" and "as of v2" aggregates from the
    two pinned snapshot reads; the oracle recomputes both from the
    source table, proving each snapshot is exactly the state its
    version promised. Storage cost is the delta between versions at
    real scale (per-partition copy-on-write), and stale versions are
    reclaimed by the sink_compaction-style vacuum.
    """
    base = tempfile.mkdtemp(prefix="e2e_ttravel_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    v1 = orders.where(F.col("o_orderkey") % 3 != 0)
    v1.write.parquet(f"{base}/v=1")
    v1_back = spark.read.schema(v1.schema).parquet(f"{base}/v=1")
    v2 = v1_back.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, "P").otherwise(
            F.col("o_orderstatus")
        ),
    )
    v2.write.parquet(f"{base}/v=2")
    v2_back = spark.read.schema(v1.schema).parquet(f"{base}/v=2")
    agg1 = v1_back.groupBy("o_orderstatus").agg(F.count("*").alias("n")).select(
        F.lit("v1").alias("version"),
        F.col("o_orderstatus").alias("status"),
        "n",
    )
    agg2 = v2_back.groupBy("o_orderstatus").agg(F.count("*").alias("n")).select(
        F.lit("v2").alias("version"),
        F.col("o_orderstatus").alias("status"),
        "n",
    )
    return agg1.unionByName(agg2)


@register(
    "scan_cached_table",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def scan_cached_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory columnar cache: `.cache()` materializes the pruned
    projection ONCE (columnar, compressed, partition-local) and every
    later query reads the cache, not parquet — the hot-dimension /
    iterative-algorithm accelerant. The plan must show
    InMemoryTableScan (asserted in tests/test_plans.py); correctness
    must be byte-identical to the uncached read, which is what the
    oracle hash proves.

    Scale notes: cache only the PRUNED projection (caching `SELECT *`
    pins every column in RAM); storage level MEMORY_AND_DISK spills
    gracefully; `unpersist` is the caller's job when the working set
    rotates. The first action pays materialization; the registered
    query is the steady-state read.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    cached = li.cache()
    cached.count()  # materialize so the registered read is steady-state
    return cached.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        dec_sum("l_quantity").alias("sum_qty"),
    )


_SQL_BAG_SETOPS_QUERY = """
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(k) AS BIGINT) AS sum_k
    FROM (
        SELECT 'intersect_all' AS grp, k FROM (
            SELECT l_suppkey AS k FROM lineitem WHERE l_linenumber = 1
            INTERSECT ALL
            SELECT l_suppkey FROM lineitem WHERE l_linenumber = 2
        ) t1
        UNION ALL
        SELECT 'except_all' AS grp, k FROM (
            SELECT l_suppkey AS k FROM lineitem WHERE l_linenumber = 1
            EXCEPT ALL
            SELECT l_suppkey FROM lineitem WHERE l_linenumber = 2
        ) t2
    ) u
    GROUP BY grp
"""


@register("sql_bag_setops", oracle=_SQL_BAG_SETOPS_QUERY)
def sql_bag_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL through the SQL front-end — bag
    (multiplicity-preserving) set operations, the semantics warehouse
    SQL actually means when rows can repeat. The oracle is the
    IDENTICAL text (the sql_lateral_topk contract), so the two
    engines' bag-semantics agreement is itself under test. Spark plans
    both as aggregate+join on replicated counts — no quadratic
    expansion; the final aggregate collapses the result to a bounded
    report.
    """
    register_views(spark, sf_dir)
    return spark.sql(_SQL_BAG_SETOPS_QUERY)


@register(
    "sql_scalar_function",
    oracle="""
    SELECT CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 30 THEN 'mid'
                ELSE 'high' END AS qty_band,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS net_revenue
    FROM lineitem
    GROUP BY 1
    """,
)
def sql_scalar_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar functions (`CREATE FUNCTION ... RETURN
    expr`, Spark 4): business logic named ONCE in the catalog and
    reused across queries — unlike Python UDFs these inline into the
    plan as ordinary expressions, so they run inside whole-stage
    codegen at zero extra cost (the plan after inlining is identical
    to hand-written SQL, which is exactly what the oracle hash
    checks).
    """
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION qty_band(q DOUBLE)"
        " RETURNS STRING RETURN CASE WHEN q < 10 THEN 'low'"
        " WHEN q < 30 THEN 'mid' ELSE 'high' END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_price(p DOUBLE, d DOUBLE)"
        " RETURNS DECIMAL(18,4) RETURN CAST(p * (1 - d) AS DECIMAL(18,4))"
    )
    return spark.sql(
        """
        SELECT qty_band(l_quantity) AS qty_band,
               COUNT(*) AS n_items,
               CAST(SUM(net_price(l_extendedprice, l_discount)) AS DOUBLE)
                   AS net_revenue
        FROM lineitem
        GROUP BY qty_band(l_quantity)
        """
    )


@register(
    "sql_ctas_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_ctas_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE AS SELECT through the SQL DDL surface: the
    filtered projection materializes as a managed parquet table in
    the catalog (the ANALYZE/CBO tables' sibling workflow), and the
    registered read aggregates the TABLE — proving the DDL+catalog
    path is lossless, not just DataFrame writes. Versioned per
    fixture dir so repeated calls replace cleanly; a production
    pipeline would point the database LOCATION at object storage and
    get the same semantics.
    """
    import re
    import shutil

    register_views(spark, sf_dir)
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    db = f"ctas_demo_{tag}"
    loc = f"/tmp/spark_graft_ctas/{tag}"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    spark.sql(
        f"""
        CREATE TABLE {db}.open_orders USING parquet AS
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderstatus = 'O'
        """
    )
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM {db}.open_orders
        GROUP BY o_orderpriority
        """
    )


@register(
    "obs_inline_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_total,
           CAST(SUM(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END)
                AS BIGINT) AS rows_kept,
           CAST(COUNT(*) - SUM(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END)
                AS BIGINT) AS rows_dropped,
           CAST(SUM(CASE WHEN l_discount >= 0.05
                         THEN CAST(l_extendedprice AS DECIMAL(18,2))
                         ELSE 0 END) AS DOUBLE) AS kept_revenue
    FROM lineitem
    """,
)
def obs_inline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass pipeline observability via the Observation API:
    row counts before/after a filter plus the kept revenue are
    collected AS the data flows — no second scan, no extra job — the
    mechanism plans/etl.py uses for the reference's per-stage metrics
    (ingest_data.py's chunk-count logging), surfaced as a first-class
    query.

    Two observations attach at different plan points (source and
    post-filter); one `count()` action drives the whole DAG and both
    metric sets materialize from accumulator-style semantics, which
    are exactly-once per observation on a successful job. The O(1)
    driver hop to re-frame the metrics as a row is the point: at
    100 TB you get DQ counters for free on a pass you were already
    making.
    """
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs_in = Observation("source")
    obs_kept = Observation("kept")
    observed = li.observe(obs_in, F.count(F.lit(1)).alias("rows_total"))
    kept = observed.where(F.col("l_discount") >= 0.05).observe(
        obs_kept,
        F.count(F.lit(1)).alias("rows_kept"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("kept_revenue"),
    )
    kept.count()  # one action drives both observation points
    m_in, m_kept = obs_in.get, obs_kept.get
    rows_total = m_in["rows_total"]
    rows_kept = m_kept["rows_kept"] or 0
    revenue = m_kept["kept_revenue"]
    return spark.createDataFrame(
        [
            (
                rows_total,
                rows_kept,
                rows_total - rows_kept,
                float(revenue) if revenue is not None else 0.0,
            )
        ],
        "rows_total long, rows_kept long, rows_dropped long, kept_revenue double",
    )


@register(
    "scan_json_multiline",
    oracle="""
    SELECT c_nationkey,
           c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
               AS acct_cents
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def scan_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-line (pretty-printed array) JSON ingestion — the config /
    API-export format where one JSON document spans many lines and a
    line-per-record reader would shred it. Builds a nested per-nation
    document (nation → array of per-segment rollups), writes ONE
    indented JSON array file, re-reads it with
    ``option("multiLine", true)`` + an explicit nested schema, and
    flattens with ``explode`` — the oracle recomputes the same rollup
    from the source parquet, proving the nest/unnest round-trip
    lossless.

    The driver-side materialization is of the *aggregated* document
    (25 nations), never the fact table — multiLine JSON is inherently
    a whole-file format, so the scale story is "many small documents,
    one Spark task each" (binaryFile-style listing parallelism), not
    "one huge array". The re-read pins an explicit schema: multiLine
    inference re-parses every document twice.
    """
    cust = load_table(spark, sf_dir, "customer").groupBy(
        "c_nationkey", "c_mktsegment"
    ).agg(
        F.count("*").alias("n_cust"),
        F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("bigint")).alias(
            "acct_cents"
        ),
    )
    nested = (
        cust.groupBy("c_nationkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("c_mktsegment", "n_cust", "acct_cents")
                )
            ).alias("segments")
        )
        .orderBy("c_nationkey")
    )
    docs = [
        {
            "c_nationkey": r["c_nationkey"],
            "segments": [
                {
                    "c_mktsegment": s["c_mktsegment"],
                    "n_cust": s["n_cust"],
                    "acct_cents": s["acct_cents"],
                }
                for s in r["segments"]
            ],
        }
        for r in nested.collect()  # nation-cardinality, not fact rows
    ]
    path = tempfile.mkdtemp(prefix="e2e_mljson_")
    with open(os.path.join(path, "nations.json"), "w") as fh:
        json.dump(docs, fh, indent=2)
    back = (
        spark.read.option("multiLine", "true")
        .schema(
            "c_nationkey long, segments array<struct<"
            "c_mktsegment: string, n_cust: long, acct_cents: long>>"
        )
        .json(path)
    )
    seg = back.select(
        "c_nationkey", F.explode("segments").alias("s")
    )
    return seg.select(
        "c_nationkey",
        F.col("s.c_mktsegment").alias("c_mktsegment"),
        F.col("s.n_cust").alias("n_cust"),
        F.col("s.acct_cents").alias("acct_cents"),
    )


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS cents
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02' AND l_quantity < 25
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (`|>`), the Spark 4 linear query form: scan
    |> filter |> aggregate reads top-to-bottom in execution order —
    and parses to the IDENTICAL logical plan as the nested SELECT, so
    Catalyst pushdown/pruning are untouched (the oracle is the
    classic-syntax twin computing the same Q1-flavored rollup). The
    surface matters for generated pipelines: appending a stage is a
    string append, not a re-nesting.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "pipe_lineitem"
    )
    return spark.sql(
        """
        FROM pipe_lineitem
        |> WHERE l_shipdate <= DATE '1998-09-02' AND l_quantity < 25
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
                     SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                         AS cents
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, cents
        """
    )


@register(
    "sql_session_variable",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_session_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (DECLARE / SET VAR), the Spark 4
    replacement for client-side string templating: the threshold and
    status live server-side, are typed, and fold into the plan as
    constants — so predicate pushdown still reaches the scan, unlike
    an opaque scalar UDF parameter. The oracle inlines the same
    values, proving variable resolution ≡ literal semantics.
    """
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE status_filter STRING DEFAULT 'O'")
    spark.sql("SET VAR price_floor = 150000.0")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("var_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM var_orders
        WHERE o_totalprice > price_floor AND o_orderstatus = status_filter
        GROUP BY o_orderpriority
        """
    )


@register(
    "scan_csv_eu_locale",
    oracle="""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
               AS acct_cents
    FROM customer GROUP BY c_nationkey
    """,
)
def scan_csv_eu_locale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """European-locale CSV ingestion: semicolon delimiters and
    comma decimal marks ('4321,95') — the classic "the feed came from
    a German ERP" problem. The fixture is rendered from integer cents
    (never float formatting), written as a real ;-separated file,
    re-read with `sep=';'` as STRINGS, and the decimal comma is
    normalized by string surgery before a strict cast — the
    locale-aware parse Spark's csv reader doesn't do natively. The
    oracle recomputes from the source parquet, proving the
    render→parse round trip lossless.

    Scale: the rendered file reads back with normal CSV splittability;
    the normalization is a scan-local expression, not a UDF.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("cents"),
    )
    rendered = cust.select(
        F.concat_ws(
            ";",
            F.col("c_custkey").cast("string"),
            F.col("c_nationkey").cast("string"),
            F.concat(
                F.expr(
                    "CASE WHEN cents < 0 THEN '-' ELSE '' END"
                ),
                F.expr("abs(cents) div 100").cast("string"),
                F.lit(","),
                F.lpad((F.abs(F.col("cents")) % 100).cast("string"), 2, "0"),
            ),
        ).alias("value")
    )
    path = tempfile.mkdtemp(prefix="e2e_eucsv_")
    rendered.write.mode("overwrite").text(path)
    back = (
        spark.read.option("sep", ";")
        .schema("c_custkey long, c_nationkey long, acctbal_eu string")
        .csv(path)
    )
    parsed = back.select(
        "c_nationkey",
        F.regexp_replace("acctbal_eu", ",", ".")
        .cast("decimal(18,2)")
        .alias("bal"),
    )
    return parsed.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        F.sum((F.col("bal") * 100).cast("bigint")).alias("acct_cents"),
    )


@register(
    "sink_dynamic_overwrite",
    oracle="""
    WITH merged AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders
        WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        UNION ALL
        SELECT o_orderpriority, o_orderkey,
               CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                    * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
    FROM merged GROUP BY o_orderpriority
    """,
)
def sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the lakehouse backfill primitive:
    `write_parquet_partitioned` replaces ONLY the partitions
    present in the incoming batch and leaves every other partition's
    files untouched (static mode would wipe the whole table). The op
    writes all priorities partitioned-by-priority, then overwrites
    just the URGENT/HIGH partitions with repriced rows (exact decimal
    ×1.1), re-reads, and aggregates; the oracle computes the expected
    merge directly — a hash match proves untouched partitions
    survived and targeted ones were replaced, the exactly-once
    visibility contract of a partition-level backfill.

    The overwrite mode is an option of the write itself, so no session
    conf changes; at scale this is the idempotent daily-restatement
    pattern (rewrite day=X only).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="e2e_dynow_")
    write_parquet_partitioned(orders, path, ["o_orderpriority"])
    repriced = orders.where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).withColumn(
        "o_totalprice",
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("1.1").cast("decimal(2,1)"),
            2,
        ).cast("double"),
    )
    write_parquet_partitioned(repriced, path, ["o_orderpriority"])
    # explicit schema: an all-empty write leaves no data files to
    # infer from (the zero-row sweep exercises exactly that)
    back = spark.read.schema(
        "o_orderkey bigint, o_totalprice double, o_orderpriority string"
    ).parquet(path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
        ).alias("cents"),
    )


@register(
    "scan_jsonl_malformed",
    oracle="""
    WITH src AS (
        SELECT event_id, event_type,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
               CASE WHEN event_id % 53 = 0 THEN 1 ELSE 0 END AS corrupted
        FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(corrupted) AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN corrupted = 0 THEN cents ELSE 0 END) AS BIGINT)
               AS good_cents,
           CAST(COUNT(DISTINCT CASE WHEN corrupted = 0 THEN event_type END)
                AS BIGINT) AS n_types_parsed
    FROM src
    """,
)
def scan_jsonl_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant JSONL ingestion: every 53rd record is written
    with a deliberately truncated JSON body, and the re-read uses
    PERMISSIVE mode with a `_corrupt_record` capture column — the
    production posture for third-party feeds (count and quarantine
    bad lines; never fail the job, never silently drop). The oracle
    knows the corruption rule, so the hash proves the reader
    classified every line correctly AND parsed the survivors
    losslessly. Completes the malformed-input family
    (scan_csv_malformed for CSV).

    The corrupt column must be the only projection difference: Spark
    requires selecting `_corrupt_record` only after a cache/persist
    or with the column in the schema — pinned here via explicit
    schema, the documented contract.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents"),
    )
    lines = ev.select(
        F.when(
            F.col("event_id") % 53 == 0,
            F.concat(
                F.lit('{"event_id": '),
                F.col("event_id").cast("string"),
                F.lit(', "event_type": "x'),  # truncated on purpose
            ),
        )
        .otherwise(
            F.concat(
                F.lit('{"event_id": '),
                F.col("event_id").cast("string"),
                F.lit(', "event_type": "'),
                F.col("event_type"),
                F.lit('", "cents": '),
                F.col("cents").cast("string"),
                F.lit("}"),
            )
        )
        .alias("value")
    )
    path = tempfile.mkdtemp(prefix="e2e_badjsonl_")
    lines.write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "event_id long, event_type string, cents long,"
            " _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    back = back.cache()  # Spark contract: corrupt-record queries need this
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(
            F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
        ).alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("cents")).otherwise(
                0
            )
        ).alias("good_cents"),
        F.countDistinct(
            F.when(F.col("_corrupt_record").isNull(), F.col("event_type"))
        ).alias("n_types_parsed"),
    )


@register(
    "sql_bom_rollup",
    oracle="""
    WITH RECURSIVE parts AS (
        SELECT p_partkey AS p,
               CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS cents
        FROM part
    ),
    paths(root, node, mult, depth) AS (
        SELECT p, p, CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        FROM parts WHERE p <= 2
        UNION ALL
        SELECT b.root, c.p, b.mult * (c.p % 3 + 1), b.depth + 1
        FROM paths b JOIN parts c ON c.p // 3 = b.node AND c.p >= 3
    )
    SELECT CAST(pa.root AS BIGINT) AS root,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(MAX(pa.depth) AS BIGINT) AS max_depth,
           CAST(SUM(pa.mult * pr.cents) AS BIGINT) AS rolled_up_cents
    FROM paths pa JOIN parts pr ON pr.p = pa.node
    GROUP BY pa.root
    """,
)
def sql_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials cost rollup by recursive CTE: the part keys
    form a synthetic ternary assembly tree (parent = key div 3,
    per-level quantity = key mod 3 + 1), and each root's fully-loaded
    cost multiplies quantities down every path — the manufacturing /
    package-dependency costing recursion that flat joins cannot
    express because the multiplier composes along the path. Path
    multipliers stay ≤3^depth (int64-safe at any realistic BOM
    depth); costs are exact cents, so the rollup hashes exactly. The
    third recursion shape in the suite: sql_recursive_cte climbs
    paths, stats_sign_test walks a scalar row, this one JOINS the
    fact table at every level with a composing measure.

    Each recursion level is one equi-join against the broadcastable
    parts frame; total work is the node count, not paths × nodes,
    because the tree makes root-paths unique.
    """
    parts = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("p"),
        F.round(F.col("p_retailprice") * 100, 0).cast("bigint").alias("cents"),
    )
    parts.createOrReplaceTempView("bom_parts")
    return spark.sql(
        """
        WITH RECURSIVE paths(root, node, mult, depth) AS (
            SELECT p, p, CAST(1 AS BIGINT), CAST(0 AS BIGINT)
            FROM bom_parts WHERE p <= 2
            UNION ALL
            SELECT b.root, c.p, b.mult * (c.p % 3 + 1), b.depth + 1
            FROM paths b JOIN bom_parts c ON c.p div 3 = b.node AND c.p >= 3
        )
        SELECT CAST(pa.root AS BIGINT) AS root,
               CAST(COUNT(*) AS BIGINT) AS n_components,
               CAST(MAX(pa.depth) AS BIGINT) AS max_depth,
               CAST(SUM(pa.mult * pr.cents) AS BIGINT) AS rolled_up_cents
        FROM paths pa JOIN bom_parts pr ON pr.p = pa.node
        GROUP BY pa.root
        """
    )


@register(
    "sql_group_by_all",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(year(l_shipdate) AS BIGINT) AS ship_yr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS cents
    FROM lineitem
    WHERE l_quantity < 10
    GROUP BY ALL
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` — the DuckDB-originated shorthand Spark 4
    adopted: every non-aggregate select item becomes a grouping key,
    so adding a dimension is a one-place edit. The IDENTICAL query
    text runs on both engines (like sql_lateral_topk), proving the
    dialect surface is shared, and it parses to the same Aggregate
    node as an explicit GROUP BY 1,2,3 — Catalyst's partial-agg and
    pushdown behavior is untouched.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "gba_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(year(l_shipdate) AS BIGINT) AS ship_yr,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM gba_lineitem
        WHERE l_quantity < 10
        GROUP BY ALL
        """
    )


@register(
    "sql_values_inline",
    oracle="""
    SELECT t.tier, CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT))
                AS BIGINT) AS bal_cents
    FROM customer c
    JOIN (VALUES ('BUILDING', 'b2b'), ('AUTOMOBILE', 'b2c'),
                 ('MACHINERY', 'b2b'), ('HOUSEHOLD', 'b2c'),
                 ('FURNITURE', 'b2c')) AS t(seg, tier)
      ON c.c_mktsegment = t.seg
    GROUP BY t.tier
    """,
)
def sql_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline ``VALUES`` derived table as a join dimension — the
    zero-I/O lookup-table idiom (segment -> tier recode) that every
    ad-hoc enrichment uses. The VALUES relation is a LocalRelation in
    Catalyst: always broadcast, folded at plan time, never a shuffle.
    Identical query text runs on both engines.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "val_customer"
    )
    return spark.sql(
        """
        SELECT t.tier, CAST(COUNT(*) AS BIGINT) AS n_cust,
               CAST(SUM(CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT))
                    AS BIGINT) AS bal_cents
        FROM val_customer c
        JOIN (VALUES ('BUILDING', 'b2b'), ('AUTOMOBILE', 'b2c'),
                     ('MACHINERY', 'b2b'), ('HOUSEHOLD', 'b2c'),
                     ('FURNITURE', 'b2c')) AS t(seg, tier)
          ON c.c_mktsegment = t.seg
        GROUP BY t.tier
        """
    )


@register(
    "sql_window_clause",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, cents,
           CAST(SUM(cents) OVER w7 AS BIGINT) AS cents_7d,
           CAST(MIN(cents) OVER w7 AS BIGINT) AS min_7d,
           CAST(MAX(cents) OVER w7 AS BIGINT) AS max_7d,
           CAST(COUNT(*) OVER w7 AS BIGINT) AS n_7d
    FROM daily
    WINDOW w7 AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def sql_window_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named ``WINDOW`` clause shared by four aggregates — the SQL
    surface that de-duplicates frame specs (one edit point instead of
    four inline OVER copies). All four functions share ONE window
    definition, so Spark computes them in a single Window physical
    node over a single sort — the plan is identical to hand-written
    inline frames, the text is maintainable. The WINDOW clause itself
    is identical text on both engines (only the date-render function
    differs: date_format vs strftime, because a raw DATE column
    round-trips as timestamp through the oracle's pandas bridge).
    The global ORDER BY is safe at scale because it
    runs over the day-grain reducer (thousands of rows), never the
    fact table.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "winc_orders"
    )
    return spark.sql(
        """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS cents
            FROM winc_orders GROUP BY 1
        )
        SELECT date_format(d, 'yyyy-MM-dd') AS day, cents,
               CAST(SUM(cents) OVER w7 AS BIGINT) AS cents_7d,
               CAST(MIN(cents) OVER w7 AS BIGINT) AS min_7d,
               CAST(MAX(cents) OVER w7 AS BIGINT) AS max_7d,
               CAST(COUNT(*) OVER w7 AS BIGINT) AS n_7d
        FROM daily
        WINDOW w7 AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        """
    )


@register(
    "scan_file_provenance",
    oracle="""
    SELECT 'lineitem.parquet' AS file_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    """,
)
def scan_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level file provenance via the hidden ``_metadata`` struct —
    the lineage primitive for incremental pipelines (which file did
    this row come from?) with zero storage cost: Spark synthesizes
    ``_metadata.file_name`` at scan time from the split, so no shuffle
    and no extra column on disk. Each fixture table is a single
    parquet file, so the oracle can assert the provenance literally
    (the driver's DuckDB views hide ``filename=true``, the engine's
    own twin). At 100 TB this is the basis for per-file quarantine /
    reprocessing decisions; the hidden column prunes away when unused
    so normal scans pay nothing.
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.select(F.col("_metadata.file_name").alias("file_name"), "l_orderkey")
        .groupBy("file_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


@register(
    "sink_zstd_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sink_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-explicit parquet round trip: write lineitem with
    zstd compression (the modern lake default — tighter than snappy
    at similar decode cost, the right choice when 100 TB of cold
    data meets object-store egress pricing), re-read, and aggregate.
    The oracle recomputes from the source, proving the codec path is
    lossless; the footer's declared codec is pinned in
    tests/test_etl_flow.py. Spark's writer sets codec per-file via
    ``option("compression", "zstd")`` — no cluster conf needed, so
    mixed-codec tables (hot snappy partitions, cold zstd) work
    partition-by-partition.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    path = tempfile.mkdtemp(prefix="e2e_zstd_")
    li.write.mode("overwrite").option("compression", "zstd").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dec_sum("l_extendedprice").alias("total_price"),
    )


@register(
    "sink_json_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
               AS bal_cents
    FROM customer
    WHERE c_acctbal IS NOT NULL
    GROUP BY c_mktsegment
    """,
)
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + re-read with an EXPLICIT schema — the interchange
    sink for systems that can't speak parquet. Two deliberate
    choices a naive json write gets wrong: (1) money is converted to
    integer CENTS before serialization (JSON doubles round-trip
    through decimal text — 0.1-style artifacts corrupt a checksum;
    int64 text is exact), and (2) the read pins the schema instead
    of inferring it (inference is a full extra pass at 100 TB and
    can flip int->double on a single stray null). gzip per-line
    compression keeps the files splittable-enough at the partition
    grain.
    """
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_acctbal").isNotNull()
    )
    out = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias(
            "bal_cents"
        ),
    )
    path = tempfile.mkdtemp(prefix="e2e_jsonl_")
    out.write.mode("overwrite").option("compression", "gzip").json(path)
    back = spark.read.schema(
        "c_custkey BIGINT, c_mktsegment STRING, bal_cents BIGINT"
    ).json(path)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_cust"),
        F.sum("bal_cents").alias("bal_cents"),
    )


@register(
    "sql_distinct_on",
    oracle="""
    SELECT DISTINCT ON (o_custkey)
           o_custkey AS custkey,
           o_orderkey AS latest_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS latest_date,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS latest_cents
    FROM orders
    ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC
    """,
)
def sql_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON dialect mapping — Postgres/DuckDB's
    first-row-per-group shorthand, which Spark SQL lacks: the engine
    expresses the same semantics as a per-key max_by over the full
    ordering struct (o_orderdate, o_orderkey), one
    partial-aggregable shuffle with a deterministic total tiebreak —
    the migration recipe for the most common DISTINCT ON use
    ("latest row per key"), with no window sort. The oracle runs
    DuckDB's native DISTINCT ON text, so this key also PROVES the
    translation is semantics-identical, not just plausible.
    """
    orders = load_table(spark, sf_dir, "orders")
    picked = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.expr(
            "max_by(struct(o_orderkey, o_orderdate, o_totalprice),"
            " struct(o_orderdate, o_orderkey))"
        ).alias("s")
    )
    return picked.select(
        "custkey",
        F.col("s.o_orderkey").alias("latest_orderkey"),
        F.date_format("s.o_orderdate", "yyyy-MM-dd").alias("latest_date"),
        F.round(F.col("s.o_totalprice") * 100)
        .cast("long")
        .alias("latest_cents"),
    )


@register(
    "scan_fixed_width",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey
    FROM lineitem
    WHERE l_linenumber = 1
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (mainframe/COBOL copybook) text round-trip: the
    lineitem slice is rendered into 12+4+10+12+1-char records with
    zero-padded numerics and space-padded flags, written as plain
    text, re-read with ``spark.read.text``, and parsed back by
    SUBSTRING offsets — the layout-contract scan Spark has no native
    reader for, expressed as a pure projection over the text scan.
    The oracle recomputes from the source table, proving the
    fixed-width encode/decode is lossless (quantities ride as
    integers, prices as zero-padded cents).

    Scale: writer and reader are both embarrassingly parallel; a
    copybook scan at 100 TB is exactly this plan with the text files
    on object storage — substring parsing fuses into the scan with
    full codegen, no shuffle until the aggregate.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_linenumber") == 1)
        .select(
            F.concat(
                F.lpad(F.col("l_orderkey").cast("string"), 12, "0"),
                F.lpad(F.col("l_quantity").cast("long").cast("string"), 4, "0"),
                F.lpad(
                    F.round(F.col("l_extendedprice") * 100)
                    .cast("long")
                    .cast("string"),
                    12,
                    "0",
                ),
                F.rpad(F.col("l_returnflag"), 1, " "),
            ).alias("value")
        )
    )
    outdir = tempfile.mkdtemp(prefix="e2e_fixedwidth_")
    li.write.mode("overwrite").text(outdir)
    raw = spark.read.text(outdir)
    parsed = raw.select(
        F.substring("value", 1, 12).cast("long").alias("l_orderkey"),
        F.substring("value", 13, 4).cast("long").alias("qty"),
        F.substring("value", 17, 12).cast("long").alias("price_cents"),
        F.substring("value", 29, 1).alias("l_returnflag"),
    )
    return (
        parsed.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("qty").cast("long").alias("sum_qty"),
            F.sum("price_cents").cast("long").alias("sum_price_cents"),
            F.min("l_orderkey").cast("long").alias("min_orderkey"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "sink_sorted_clustered",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents,
           strftime(MIN(l_shipdate), '%Y-%m-%d') AS min_ship,
           strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_ship
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def sink_sorted_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-write table maintenance (the poor man's Z-order): the
    lineitem slice is repartitioned on the cluster key then
    ``sortWithinPartitions(l_shipdate)`` before the parquet write, so
    every output file carries TIGHT min/max shipdate row-group stats
    — the layout that makes later date-range scans prune at the
    footer level.  The re-read aggregate proves the rewrite is
    lossless (oracle from the source table); the within-file
    ordering contract is pinned by a per-file monotonicity check in
    tests (files read with input_file_name preserve sorted runs).

    Scale: at 100 TB this is the nightly compact-and-cluster job;
    sortWithinPartitions is a local sort (no global shuffle beyond
    the repartition), and range-scan cost afterwards drops by the
    selectivity of the pruned row groups.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_shipdate"
    )
    out = tempfile.mkdtemp(prefix="e2e_sorted_")
    n_parts = max(4, li.rdd.getNumPartitions())  # grows with input size
    (
        li.repartition(n_parts, "l_returnflag", "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("sum_price_cents"),
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_ship"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_ship"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "scan_csv_multichar",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
           min(md5(c_name)) AS name_digest,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
    FROM customer
    """,
)
def scan_csv_multichar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-character-delimiter CSV ('||'-separated, the classic
    mainframe/export feed where values may contain commas): lines are
    rendered engine-side, landed as .text, and re-read with Spark's
    multi-char ``sep`` (univocity supports it on read since 3.0);
    checksum aggregates against the source parquet prove a lossless
    round trip. Single-char readers silently split '1||a' into five
    columns — this is the ingestion-compat edge the pipe-delimited
    world actually ships.

    Scale: .text write and the csv read are both splittable (no
    quoting, no multiLine), so the round trip parallelizes per file
    split at any size.
    """
    cust = load_table(spark, sf_dir, "customer")
    lines = cust.select(
        F.concat_ws(
            "||",
            F.col("c_custkey").cast("string"),
            F.col("c_name"),
            F.col("c_mktsegment"),
        ).alias("value")
    )
    path = tempfile.mkdtemp(prefix="e2e_csvmc_")
    lines.write.mode("overwrite").text(path)
    back = spark.read.option("sep", "||").schema(
        "c_custkey bigint, c_name string, c_mktsegment string"
    ).csv(path)
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
        F.min(F.md5(F.col("c_name").cast("binary"))).alias("name_digest"),
        F.countDistinct("c_mktsegment").cast("long").alias("n_segments"),
    )


@register(
    "sql_unpivot",
    oracle="""
    WITH wide AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                   AS total_qty,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, val
    FROM wide UNPIVOT (val FOR metric IN (total_qty, total_cents, n_items))
    ORDER BY l_returnflag, metric
    """,
)
def sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native SQL UNPIVOT clause (wide metric columns -> tall
    (metric, value) rows) — the relational dual of pivot_wide and the
    ANSI-syntax twin of unpivot_melt's stack(): Spark 3.4+ and DuckDB
    parse the IDENTICAL clause, proving the dialect surface, not just
    the semantics.

    Scale: UNPIVOT is a projection-time explode of a 3-row-per-group
    aggregate — no shuffle beyond the groupBy.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "unpivot_lineitem"
    )
    return spark.sql(
        """
        WITH wide AS (
            SELECT l_returnflag,
                   CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                       AS total_qty,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS total_cents,
                   CAST(COUNT(*) AS BIGINT) AS n_items
            FROM unpivot_lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, metric, val
        FROM wide
            UNPIVOT (val FOR metric IN (total_qty, total_cents, n_items))
        ORDER BY l_returnflag, metric
        """
    )


@register(
    "sql_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                            (l_linestatus), ())
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def sql_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/GROUPING_ID() flags over four grouping sets — the
    mechanism BI layers use to tell a real NULL group from a rollup
    subtotal row (agg_grouping_sets emits the sets; this op proves
    the indicator functions match bit-for-bit, including the
    2-bit id packing order).

    Scale: one partial-aggregable grouping-sets pass; indicator
    columns are plan-time constants per set.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "gid_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
               CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT)
                   AS gid,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM gid_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


@register(
    "sql_listagg",
    oracle="""
    WITH segs AS (
        SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
    )
    SELECT c_nationkey,
           string_agg(c_mktsegment, '|' ORDER BY c_mktsegment) AS segments,
           CAST(COUNT(*) AS BIGINT) AS n_segments
    FROM segs
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def sql_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — the SQL:2016 LISTAGG ... WITHIN
    GROUP form Spark 4 finally ships, against DuckDB's
    string_agg(expr, sep ORDER BY ...): different surface syntax,
    identical ordered-concatenation semantics (determinism comes from
    the explicit ORDER BY; an unordered listagg is a flaky-test
    factory). Input is pre-DISTINCTed so the aggregate is
    duplicate-free by construction.

    Scale: one distinct + one grouped concat over dimension-sized
    data; ordered aggregation sorts per group, not globally.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "listagg_customer"
    )
    return spark.sql(
        """
        WITH segs AS (
            SELECT DISTINCT c_nationkey, c_mktsegment FROM listagg_customer
        )
        SELECT c_nationkey,
               listagg(c_mktsegment, '|')
                   WITHIN GROUP (ORDER BY c_mktsegment) AS segments,
               CAST(COUNT(*) AS BIGINT) AS n_segments
        FROM segs
        GROUP BY c_nationkey
        ORDER BY c_nationkey
        """
    )


@register(
    "scan_recursive_glob",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(s_suppkey) AS BIGINT) AS key_sum,
           CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS n_nations
    FROM supplier
    """,
)
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-directory lake layout without Hive partition names
    (year=.../ vs plain subfolders): suppliers land under
    region/<r>/batch/<b>/ subtrees and come back through ONE scan
    with ``recursiveFileLookup`` — the option that makes Spark
    traverse arbitrary depth while SKIPPING partition-column
    inference (names here aren't key=value). Checksums against the
    source prove no file is missed or double-read.

    Scale: file listing is driver-side but parallelized by the
    InMemoryFileIndex; at 100 TB you'd prefer key=value layouts for
    pruning (scan_partition_pruned) — this op is the
    compatibility path for feeds you don't control.
    """
    sup = load_table(spark, sf_dir, "supplier")
    path = tempfile.mkdtemp(prefix="e2e_rglob_")
    for r in range(2):
        for b in range(2):
            part = sup.where(
                (F.col("s_nationkey") % 2 == r)
                & (F.col("s_suppkey") % 2 == b)
            )
            part.write.mode("overwrite").parquet(
                f"{path}/region/{r}/batch/{b}"
            )
    back = (
        spark.read.option("recursiveFileLookup", True)
        .schema(sup.schema)
        .parquet(path)
    )
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("s_suppkey").cast("long").alias("key_sum"),
        F.countDistinct("s_nationkey").cast("long").alias("n_nations"),
    )


def _sigma_moments(src: str, lo: str, hi: str) -> str:
    cents = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    return f"""(
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM({cents}) AS BIGINT) AS s,
               CAST(SUM(CAST({cents} AS DECIMAL(19,0))
                        * CAST({cents} AS DECIMAL(14,0)))
                    AS DECIMAL(38,0)) AS q
        FROM {src}
        WHERE {cents} >= {lo} AND {cents} <= {hi}
    )"""


def _sigma_derive(tag: str) -> str:
    return f"""
    SELECT CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
           sqrt((CAST(n AS DOUBLE) * (CAST(CAST((q - q % 1000000000000000000) / 1000000000000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE) + CAST(CAST((q % 1000000000000000000 - q % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE) + CAST(CAST(q % 1000000000 AS BIGINT) AS DOUBLE))
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS sd
    FROM {tag}"""


_SIGMA_ORACLE = f"""
WITH mo0 AS (SELECT * FROM {_sigma_moments('orders',
        "CAST('-1e18' AS DOUBLE)", "CAST('1e18' AS DOUBLE)")} x),
d0 AS ({_sigma_derive('mo0')}),
mo1 AS (SELECT * FROM {_sigma_moments('orders, d0',
        'd0.m - 2 * d0.sd', 'd0.m + 2 * d0.sd')} x),
d1 AS ({_sigma_derive('mo1')}),
mo2 AS (SELECT * FROM {_sigma_moments('orders, d1',
        'd1.m - 2 * d1.sd', 'd1.m + 2 * d1.sd')} x),
d2 AS ({_sigma_derive('mo2')})
SELECT CAST(3 AS INT) AS n_iters,
       m - 2 * sd AS lo, m + 2 * sd AS hi,
       m AS clipped_mean_cents, sd AS clipped_sd
FROM d2"""


@register("sql_scripting_sigma_clip", oracle=_SIGMA_ORACLE)
def sql_scripting_sigma_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN/DECLARE/WHILE/SET) running a
    3-round 2σ-clipping loop over order values — the procedural
    surface DBAs port from stored procedures, state carried in
    session variables with tuple assignment from a scalar subquery.
    The DuckDB oracle UNROLLS the identical three iterations as a CTE
    chain, so the loop semantics (not just the arithmetic) are what's
    verified. Every iteration's mean/σ is a fixed-order chain over
    exact int64/decimal moments — bit-identical bounds, identical
    surviving row sets.

    Scale: each iteration is one partial-aggregable scan; the loop
    count is fixed, not data-dependent.

    Runs in a ``scoped_session`` with scripting on, so neither the
    conf nor the ``sclip_orders`` view reaches the caller's session.
    The script runs inside ``spark.sql``, which returns its last
    result as a local relation.
    """
    spark = scoped_session(spark, {"spark.sql.scripting.enabled": "true"})
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "sclip_orders"
    )
    moments = _sigma_moments("sclip_orders", "lo", "hi")
    return spark.sql(
        f"""
        BEGIN
          DECLARE lo DOUBLE DEFAULT CAST('-1e18' AS DOUBLE);
          DECLARE hi DOUBLE DEFAULT CAST('1e18' AS DOUBLE);
          DECLARE i INT DEFAULT 0;
          DECLARE m DOUBLE; DECLARE sd DOUBLE;
          WHILE i < 3 DO
            SET (m, sd) = (
              SELECT CAST(s AS DOUBLE) / CAST(n AS DOUBLE),
                     sqrt((CAST(n AS DOUBLE) * (CAST(CAST((q - q % 1000000000000000000) / 1000000000000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE) + CAST(CAST((q % 1000000000000000000 - q % 1000000000) / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE) + CAST(CAST(q % 1000000000 AS BIGINT) AS DOUBLE))
                           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
              FROM {moments} x
            );
            SET lo = m - 2 * sd;
            SET hi = m + 2 * sd;
            SET i = i + 1;
          END WHILE;
          SELECT i AS n_iters, lo, hi, m AS clipped_mean_cents,
                 sd AS clipped_sd;
        END
        """
    )


@register(
    "scan_glob_filter",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    """,
)
def scan_glob_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-content directory hygiene: data files share their folder
    with _SUCCESS markers, manifests, and stray logs;
    ``pathGlobFilter`` restricts the scan to ``*.parquet`` WITHOUT
    listing-time surprises (the non-matching junk is never opened).
    Aggregates against the source prove exactly the data files were
    read.

    Scale: the filter applies during file listing — skipped files
    cost zero tasks.
    """
    nat = load_table(spark, sf_dir, "nation")
    path = tempfile.mkdtemp(prefix="e2e_glob_")
    nat.write.mode("overwrite").parquet(path)
    for junk in ("README.txt", "manifest.json", "run.log"):
        with open(f"{path}/{junk}", "w") as fh:
            fh.write("not data\n")
    back = (
        spark.read.option("pathGlobFilter", "*.parquet")
        .schema(nat.schema)
        .parquet(path)
    )
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("n_nationkey").cast("long").alias("key_sum"),
    )


@register(
    "scan_csv_quarantine",
    oracle="""
    WITH src AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 37 = 0 THEN 1 ELSE 0 END AS bad
        FROM customer
    ),
    stats AS (
        SELECT CAST(SUM(1 - bad) AS BIGINT) AS n_good,
               CAST(SUM(bad) AS BIGINT) AS n_quarantined
        FROM src
    ),
    good AS (
        SELECT CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        FROM src JOIN customer USING (c_custkey) WHERE bad = 0
    )
    SELECT s.n_good, s.n_quarantined, g.key_sum,
           CAST(s.n_quarantined * 1000000
                // greatest(1, s.n_good + s.n_quarantined) AS BIGINT)
               AS bad_ppm
    FROM stats s CROSS JOIN good g
    """,
)
def scan_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine — the ingestion posture every
    production CSV feed needs: read in PERMISSIVE mode with a
    ``columnNameOfCorruptRecord`` sidecar column, split the stream
    into clean rows and a quarantine (corrupt rows kept, never
    silently dropped), and report the reject rate. The fixture writes
    a CSV where every 37th customer's row is torn (wrong arity +
    unparseable int), so the expected quarantine set is derivable in
    SQL from the parquet — reject counts, the surviving key checksum,
    and the bad-ppm rate all hash-check.

    The DROPMALFORMED alternative loses data silently, and FAILFAST
    kills the job for one bad row — at 100 TB PERMISSIVE+quarantine is
    the only operable mode (reprocess the quarantine after the feed
    producer fixes their bug). Corrupt-record capture requires the
    schema to carry the sidecar column; the split is two pushed-down
    filters over one scan.
    """
    import tempfile

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    # every 37th row is torn: non-numeric key + a stray third field
    line = F.when(
        F.col("c_custkey") % 37 == 0,
        F.concat(F.lit("X"), F.col("c_custkey"), F.lit(",oops,extra")),
    ).otherwise(F.concat(F.col("c_custkey"), F.lit(","), F.col("c_name")))
    path = tempfile.mkdtemp(prefix="e2e_csv_quar_")
    cust.select(line.alias("value")).write.mode("overwrite").text(path)
    back = (
        spark.read.schema("c_custkey long, c_name string, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    # cache: the corrupt-record column contract forbids projecting
    # only the sidecar without materializing the parse first
    back = back.localCheckpoint()
    clean = back.where(F.col("_corrupt").isNull())
    quarantined = back.where(F.col("_corrupt").isNotNull())
    stats = clean.agg(
        F.count("*").alias("n_good"),
        F.sum("c_custkey").alias("key_sum"),
    ).crossJoin(
        F.broadcast(quarantined.agg(F.count("*").alias("n_quarantined")))
    )
    return stats.select(
        F.col("n_good").cast("long").alias("n_good"),
        F.col("n_quarantined").cast("long").alias("n_quarantined"),
        F.col("key_sum").cast("long").alias("key_sum"),
        # greatest(1, ...) guards the zero-row frame: Spark 4 ANSI
        # raises DIVIDE_BY_ZERO at plan/collect time even when no row
        # survives (the stats_ks_uniform_hash lesson)
        F.expr(
            "n_quarantined * 1000000 div greatest(1, n_good + n_quarantined)"
        )
        .cast("long")
        .alias("bad_ppm"),
    )


@register(
    "sink_schema_evolution",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT)
                   AS cents
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    v2 AS (
        SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT)
                   AS cents,
               o_orderpriority AS priority
        FROM orders WHERE o_orderkey % 2 = 1
    ),
    unioned AS (
        SELECT o_orderkey, cents, NULL AS priority FROM v1
        UNION ALL SELECT o_orderkey, cents, priority FROM v2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN priority IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_v1_rows,
           CAST(COUNT(DISTINCT priority) AS BIGINT) AS n_priorities,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM unioned
    """,
)
def sink_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution at the sink — the lakehouse reality that a
    column added upstream must not break the table: v1 files land
    (orderkey, cents), the producer later adds a `priority` column
    and v2 files append WITH it, and a ``mergeSchema`` read serves
    the union — v1 rows surface the new column as NULL, no rewrite
    of old files, no reader fork. The audit row proves all rows
    survived, exactly the v1 half is NULL-filled, and the money
    column still sums exactly.

    At 100 TB this is why mergeSchema (or a table format's schema
    tracking) beats rewrite-on-evolve: adding a column is O(metadata),
    not O(data). Per-file footers disagree on the schema; the merged
    read reconciles them once at planning time.
    """
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    path = tempfile.mkdtemp(prefix="e2e_schema_evo_") + "/t"
    orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", cents
    ).write.parquet(path)
    orders.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", cents, F.col("o_orderpriority").alias("priority")
    ).write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", True).parquet(path)
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("priority").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_v1_rows"),
        F.countDistinct("priority").cast("long").alias("n_priorities"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


@register(
    "scan_python_ds_pushdown",
    oracle="""
    WITH ids AS (
        SELECT unnest(range(24000, 32000)) AS id
    ),
    rows_ AS (
        SELECT id,
               CAST(3 AS BIGINT) AS bucket,
               (1103515245 * id + 12345) % 2147483648 % 100000 AS val
        FROM ids
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(val) AS BIGINT) AS sum_val,
           CAST(1 AS BIGINT) AS n_filters_pushed
    FROM rows_ GROUP BY bucket
    """,
)
def scan_python_ds_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown INTO a Python DataSource (Spark 4.1
    ``pushFilters``) — the connector capability that separates "reads
    a remote feed" from "reads only the needed slice of a remote
    feed". The ``sharded_lcg`` source (sources/python_ds.py) lays its
    rows out in 8 bucket-keyed shards; the query's ``bucket = 3``
    predicate reaches the reader at PLANNING time, the reader consumes
    it and plans ONE partition instead of eight — source-side
    partition pruning, scheduled-task count 1/8th.

    The proof is in the hash: every row carries the reader's
    consumed-filter count (driver-side pushFilters state pickled to
    the executors), and the oracle pins ``n_filters_pushed = 1`` — if
    the engine stopped offering the filter (conf off, API change),
    the column reads 0 and the hash breaks. The row content itself is
    the LCG formula, so DuckDB reproduces the pruned shard exactly.
    Pushdown is conf-gated (``spark.sql.python.filterPushdown``), so
    the query is built in a
    :func:`~e2e_data_pipeline_spark.session.scoped_session` with the
    conf on: it plans with pushdown whenever it runs, and the caller's
    session is unchanged. The partition-count claim is unit-pinned in
    tests/test_python_ds_pushdown.py.
    """
    from e2e_data_pipeline_spark.sources.python_ds import (
        register_python_sources,
    )

    register_python_sources(spark)
    spark = scoped_session(
        spark, {"spark.sql.python.filterPushdown.enabled": "true"}
    )
    return (
        spark.read.format("sharded_lcg")
        .option("rows", "64000")
        .option("shards", "8")
        .load()
        .where(F.col("bucket") == 3)
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("val").cast("long").alias("sum_val"),
            F.min("pushed").cast("long").alias("n_filters_pushed"),
        )
    )


_SQL_TVF_SETUP = """
CREATE OR REPLACE TEMPORARY FUNCTION seg_order_cents(seg STRING)
RETURNS TABLE(c_custkey BIGINT, cents BIGINT)
RETURN SELECT c.c_custkey,
              CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
       FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
       WHERE c.c_mktsegment = seg
"""


@register(
    "sql_table_function",
    oracle="""
    SELECT c.c_mktsegment AS seg,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY', 'FURNITURE')
    GROUP BY 1
    """,
)
def sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-body TABLE function (Spark 4 ``CREATE FUNCTION ... RETURNS
    TABLE``) invoked CORRELATED under LATERAL — the reusable
    parameterized-view primitive warehouse users reach for before
    they ever write Python: define the per-segment order slice once,
    then drive it from a row set (``FROM segs, LATERAL f(segs.seg)``),
    one function call per driving row IN THE PLAN ONLY. Catalyst
    inlines the SQL body and decorrelates the lateral into an
    ordinary join, so what reads like a loop over function calls
    executes as one shuffle — the same lift-and-shift guarantee
    sql_lateral_topk pins for subqueries, now for named functions.
    The oracle is the manually-inlined equivalent; matching hashes
    prove the function abstraction is free.
    """
    register_views(spark, sf_dir)
    spark.sql(_SQL_TVF_SETUP)
    return spark.sql(
        """
        SELECT s.seg,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COUNT(DISTINCT t.c_custkey) AS BIGINT) AS n_customers,
               CAST(SUM(t.cents) AS BIGINT) AS sum_cents
        FROM VALUES ('BUILDING'), ('MACHINERY'), ('FURNITURE') AS s(seg),
        LATERAL seg_order_cents(s.seg) t
        GROUP BY s.seg
        """
    )


@register(
    "sql_exec_immediate",
    oracle="""
    WITH cutoff AS (
        SELECT CAST(ROUND(MAX(o_totalprice) * 100) AS BIGINT) // 2 AS c
        FROM orders
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_big,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(MIN(cutoff.c) AS BIGINT) AS cutoff_cents
    FROM orders o, cutoff
    WHERE CAST(ROUND(o.o_totalprice * 100) AS BIGINT) >= cutoff.c
    GROUP BY o.o_orderpriority
    """,
)
def sql_exec_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic SQL via ``EXECUTE IMMEDIATE`` + session variables — the
    admin-scripting surface (warehouse migrations, param sweeps,
    ops runbooks) ported from Oracle/Snowflake/DB2 dialects: step 1
    runs a query INTO a session variable (the half-of-max cutoff in
    exact integer cents), step 2 executes a parameterized query
    string binding that variable positionally with ``USING``. The
    dynamic text is planned by the same Catalyst path as static SQL —
    parameter markers are literals by the time the optimizer sees
    them, so pushdown/pruning work unchanged. Cutoff rides along in
    the output so the hash pins BOTH steps.
    """
    register_views(spark, sf_dir)
    spark.sql(
        "DECLARE OR REPLACE VARIABLE exec_imm_cutoff BIGINT DEFAULT 0"
    )
    spark.sql(
        "EXECUTE IMMEDIATE"
        " 'SELECT CAST(ROUND(MAX(o_totalprice) * 100) AS BIGINT) div 2"
        "  FROM orders'"
        " INTO exec_imm_cutoff"
    )
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT o_orderpriority,
                CAST(COUNT(*) AS BIGINT) AS n_big,
                CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS sum_cents,
                CAST(? AS BIGINT) AS cutoff_cents
         FROM orders
         WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) >= ?
         GROUP BY o_orderpriority'
        USING exec_imm_cutoff, exec_imm_cutoff
        """
    )


@register(
    "scan_parquet_bloom_filter",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
    FROM orders
    WHERE o_custkey IN (7, 42, 99, 123, 500)
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def scan_parquet_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet BLOOM FILTERS at write time — the point-lookup
    accelerator for high-cardinality keys where min/max row-group
    stats are useless (a shuffled custkey spans the full domain in
    every row group, so stats prune nothing; the bloom filter skips
    row groups that provably lack the key). Written per-column via
    ``parquet.bloom.filter.enabled#<col>`` + ``expected.ndv#<col>``
    writer options — table-property-free, so hot columns opt in
    per-write exactly like sink_zstd_roundtrip's codec choice.

    The oracle recomputes the IN-probe from the logical table,
    proving the bloom path never drops or duplicates a row (a false
    positive costs a read, a false NEGATIVE would corrupt results —
    this is the check that it cannot); the footer's
    bloom-filter offset (and its absence without the option) is
    pinned via the JVM parquet reader in tests/test_etl_flow.py.

    Scale: at 100 TB this is the difference between reading ~every
    row group of a fact table for a needle query and reading the
    handful that might contain it; NDV sizing keeps the filter ~1%
    FP at ~1.2 bytes/key.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="e2e_bloom_")
    (
        orders.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "100000")
        # parquet-mr SKIPS the bloom when a chunk is fully
        # dictionary-encoded (the dictionary already gives exact
        # skipping); fixture-scale custkeys fit a dictionary, so turn
        # it off for the bloomed column to exercise the real path a
        # 100 TB high-cardinality key takes (footer pinned in tests)
        .option("parquet.enable.dictionary#o_custkey", "false")
        .parquet(path)
    )
    back = spark.read.schema(
        "o_orderkey long, o_custkey long, o_totalprice double"
    ).parquet(path)
    return (
        back.where(F.col("o_custkey").isin(7, 42, 99, 123, 500))
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("rev_cents"),
        )
        .orderBy("o_custkey")
    )


@register(
    "scan_merge_on_read",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    merged AS (
        SELECT o_orderkey, o_orderstatus, cents
        FROM base WHERE o_orderkey % 97 <> 0 AND o_orderkey % 101 <> 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, cents + 100
        FROM base WHERE o_orderkey % 101 = 0 AND o_orderkey % 97 <> 0
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def scan_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ snapshot assembly — the Iceberg/Delta deletion-
    vector protocol on plain parquet: immutable BASE files, a small
    DELETE file (tombstoned keys), and a DELTA file (updated rows),
    merged at READ time instead of rewriting base files (the only
    affordable update path when a 100 TB table takes a 1%-row upsert:
    copy-on-write would rewrite ~every file; MOR writes KBs).

    Reader algebra: ``(base ANTI-JOIN (deletes ∪ delta-keys)) UNION
    ALL delta`` — the anti-join side is the tombstone set, always
    tiny relative to base, so Catalyst broadcasts it and the merge
    costs one base scan. The oracle computes the same snapshot
    logically from the source table, so the hash proves the
    file-level protocol loses/duplicates nothing (a key in both
    delete and delta sets, double-application, or a missed tombstone
    all break it). Compaction (folding the deltas back into base) is
    sink_compaction's job.

    Deterministic schedule: keys %97==0 tombstoned, keys %101==0
    (and not tombstoned) updated (+$1.00).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="e2e_mor_")
    base_p, del_p, delta_p = (
        f"{root}/base",
        f"{root}/deletes",
        f"{root}/delta",
    )
    orders.write.mode("overwrite").parquet(base_p)
    orders.where(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey"
    ).write.mode("overwrite").parquet(del_p)
    orders.where(
        (F.col("o_orderkey") % 101 == 0) & (F.col("o_orderkey") % 97 != 0)
    ).select(
        "o_orderkey", "o_orderstatus", (F.col("cents") + 100).alias("cents")
    ).write.mode("overwrite").parquet(delta_p)

    schema = "o_orderkey long, o_orderstatus string, cents long"
    base = spark.read.schema(schema).parquet(base_p)
    deletes = spark.read.schema("o_orderkey long").parquet(del_p)
    delta = spark.read.schema(schema).parquet(delta_p)
    tombstones = deletes.unionByName(
        delta.select("o_orderkey")
    ).distinct()
    merged = base.join(
        F.broadcast(tombstones), "o_orderkey", "left_anti"
    ).unionByName(delta)
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "scan_avro_py",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def scan_avro_py(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro ingestion WITHOUT spark-avro (the jar is absent here —
    the one 'missing' connector verdict r6 listed): a pure-stdlib
    Object Container File writer and an INDEPENDENT reader
    (operators/avro_codec.py — magic, metadata map, zigzag varints,
    raw-deflate blocks, per-block sync markers). The write is
    task-parallel (each partition serializes its own .avro via
    ``mapInPandas``), the read is the binaryFile-source → Arrow-batch
    decode shape every custom-format corpus uses at 100 TB; the
    oracle recomputes the aggregate from the logical table, so the
    hash proves the whole serialize→deflate→parse chain is lossless
    (doubles travel as IEEE bytes — bit-exact round trip).

    Round-trip, both codecs, and corruption rejection (magic/sync)
    are property-tested in tests/test_avro_codec.py.
    """
    import pandas as pd

    from e2e_data_pipeline_spark.operators.avro_codec import (
        read_ocf,
        write_ocf,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="e2e_avro_")
    fields = [
        ("o_orderkey", "long"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
    ]

    def write_part(batches):
        import os
        import uuid

        rows = []
        for pdf in batches:
            rows.extend(
                zip(
                    pdf["o_orderkey"].astype("int64"),
                    pdf["o_orderstatus"],
                    pdf["o_totalprice"].astype("float64"),
                )
            )
        if rows:
            path = os.path.join(root, f"part-{uuid.uuid4().hex}.avro")
            data = write_ocf(
                [(int(k), str(s), float(p)) for k, s, p in rows],
                fields,
                codec="deflate",
                sync=bytes(16),
            )
            with open(path, "wb") as f:
                f.write(data)
            yield pd.DataFrame({"path": [path], "n": [len(rows)]})

    written = orders.repartition(4).mapInPandas(
        write_part, "path string, n long"
    )
    n_files = written.count()  # materializes the parallel write
    if n_files == 0:  # zero-row input: no OCF files minted
        return spark.createDataFrame(
            [], "o_orderstatus string, n_rows long, total_cents long"
        )

    def decode(batches):
        for pdf in batches:
            out_k, out_s, out_p = [], [], []
            for blob in pdf["content"]:
                got_fields, rows = read_ocf(bytes(blob))
                assert [n for n, _ in got_fields] == [
                    n for n, _ in fields
                ], "schema drift in OCF metadata"
                for k, s, p in rows:
                    out_k.append(k)
                    out_s.append(s)
                    out_p.append(p)
            yield pd.DataFrame(
                {
                    "o_orderkey": pd.Series(out_k, dtype="int64"),
                    "o_orderstatus": pd.Series(out_s, dtype="object"),
                    "o_totalprice": pd.Series(out_p, dtype="float64"),
                }
            )

    back = (
        spark.read.format("binaryFile")
        .load(f"{root}/part-*.avro")
        .select("content")
        .mapInPandas(
            decode,
            "o_orderkey long, o_orderstatus string, o_totalprice double",
        )
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "scan_parquet_rowgroup_stats",
    oracle="""
    SELECT CAST(event_id % 8 AS BIGINT) AS file_class,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id,
           MIN(v) AS min_value,
           MAX(v) AS max_value,
           CAST(COUNT(*) - COUNT(v) AS BIGINT) AS value_nulls
    FROM (SELECT event_id,
                 CASE WHEN event_id % 13 = 7 THEN NULL ELSE value END AS v
          FROM events) t
    GROUP BY 1
    """,
)
def scan_parquet_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-ONLY scan audit: read parquet FOOTER statistics (row
    count, per-column-chunk min/max, null counts) and hash-prove they
    equal the data. This is the machinery every engine's scan pruning
    stands on — row-group skipping, partition elimination, NDV hints —
    exercised as a first-class query: events are sunk into 8
    deterministic single-file chunks (event_id % 8, the four-chunks
    pattern widened), then a DISTRIBUTED metadata pass (mapInPandas
    over the FILE LIST — each task opens only its footer via pyarrow,
    never touching a data page) emits what the footers CLAIM, with
    column-chunk stats min/max-merged across each file's row groups.
    The oracle recomputes the same quantities from the rows; a hash
    match means the footers are trustworthy, i.e. stats-based pruning
    on this layout is sound.

    Scale: the audit is O(files) footer reads with zero data I/O —
    at 100 TB (≈100k files) this is exactly how you verify a layout
    migration without a full scan; the mod-8 chunking stands in for
    any real partitioning scheme.

    Doubles are compared stats-vs-data with NO arithmetic (parquet
    stores exact IEEE bounds), so float portability is moot.
    """
    import glob as _glob
    import shutil
    import tempfile

    from collections.abc import Iterator as _It

    import pandas as _pd

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        # fixture values are never NULL, which would leave the footer
        # null_count audit vacuous — blank a deterministic 1/13 slice
        # so the stats path is genuinely exercised
        F.expr(
            "CASE WHEN event_id % 13 = 7 THEN NULL ELSE value END"
        ).alias("value"),
    )
    work = tempfile.mkdtemp(prefix="rg_stats_")
    try:
        for i in range(8):
            (
                ev.where(F.pmod("event_id", F.lit(8)) == i)
                .coalesce(1)
                .write.parquet(f"{work}/chunks/c{i}")
            )
        files = sorted(_glob.glob(f"{work}/chunks/c*/part-*.parquet"))
        if not files:  # zero-row input: empty partitions write no files
            return spark.createDataFrame(
                [],
                "file_class long, n_rows long, min_event_id long,"
                " max_event_id long, min_value double, max_value double,"
                " value_nulls long",
            )
        paths = spark.createDataFrame(
            [(p,) for p in files], "path string"
        ).repartition(len(files))

        def read_footers(
            batches: _It[_pd.DataFrame],
        ) -> _It[_pd.DataFrame]:
            import re

            import pyarrow.parquet as pq

            for pdf in batches:
                rows = []
                for path in pdf["path"]:
                    cls = int(re.search(r"/c(\d+)/", path).group(1))
                    md = pq.ParquetFile(path).metadata
                    if md.num_rows == 0:
                        # 0-row part file from an empty mod-class: the
                        # oracle emits no row for it, neither do we
                        continue
                    names = {
                        md.schema.column(i).name: i
                        for i in range(md.num_columns)
                    }
                    n_rows = md.num_rows
                    mins: dict = {}
                    maxs: dict = {}
                    nulls = 0
                    for rg in range(md.num_row_groups):
                        for col, idx in names.items():
                            st = md.row_group(rg).column(idx).statistics
                            if st is None:
                                continue
                            # null_count is valid even when min/max are
                            # absent (e.g. an all-NULL chunk has
                            # has_min_max == False) — gate independently
                            if col == "value" and st.null_count is not None:
                                nulls += st.null_count
                            if not st.has_min_max:
                                continue
                            if col not in mins or st.min < mins[col]:
                                mins[col] = st.min
                            if col not in maxs or st.max > maxs[col]:
                                maxs[col] = st.max
                    rows.append(
                        (
                            cls,
                            n_rows,
                            mins.get("event_id"),
                            maxs.get("event_id"),
                            mins.get("value"),
                            maxs.get("value"),
                            nulls,
                        )
                    )
                yield _pd.DataFrame(
                    rows,
                    columns=[
                        "file_class",
                        "n_rows",
                        "min_event_id",
                        "max_event_id",
                        "min_value",
                        "max_value",
                        "value_nulls",
                    ],
                )

        out = paths.mapInPandas(
            read_footers,
            "file_class long, n_rows long, min_event_id long,"
            " max_event_id long, min_value double, max_value double,"
            " value_nulls long",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "sink_zorder_clustered",
    oracle="""
    WITH mx AS (
        SELECT MAX(l_orderkey) // 16 + 1 AS wo,
               MAX(l_partkey) // 16 + 1 AS wp
        FROM lineitem
    ),
    b AS (
        SELECT l_orderkey AS ok, l_partkey AS pk,
               l_orderkey // wo AS a, l_partkey // wp AS b2
        FROM lineitem, mx
    ),
    z AS (
        SELECT ok, pk,
               (b2 % 2) + 2 * (a % 2)
               + 4 * ((b2 // 2) % 2) + 8 * ((a // 2) % 2)
               + 16 * ((b2 // 4) % 2) + 32 * ((a // 4) % 2)
               + 64 * ((b2 // 8) % 2) + 128 * ((a // 8) % 2) AS zv
        FROM b
    )
    SELECT CAST(zv // 32 AS BIGINT) AS file_class,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(ok) AS BIGINT) AS min_orderkey,
           CAST(MAX(ok) AS BIGINT) AS max_orderkey,
           CAST(MIN(pk) AS BIGINT) AS min_partkey,
           CAST(MAX(pk) AS BIGINT) AS max_partkey,
           CAST(CASE WHEN MIN(ok) <= 3 * (SELECT wo FROM mx) - 1
                      AND MAX(ok) >= 2 * (SELECT wo FROM mx)
                      AND MIN(pk) <= 10 * (SELECT wp FROM mx) - 1
                      AND MAX(pk) >= 9 * (SELECT wp FROM mx)
                     THEN 0 ELSE 1 END AS BIGINT) AS skip_probe
    FROM z GROUP BY 1
    """,
)
def sink_zorder_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered sink + footer-verified skip audit — the #1
    physical-layout lever at 100 TB: multidimensional clustering makes
    row-group min/max stats selective on BOTH predicate columns, where
    a linear sort helps only its leading key. lineitem is bucketed
    into 16 range buckets per key (widths derived IN-QUERY from the
    corpus max — the corpus-derived-parameter rule, so the oracle
    reproduces them at any SF), the two 4-bit bucket ids are Morton-
    interleaved into an 8-bit z-value by pure div/mod arithmetic
    (portable — no shift-operator asymmetries), and rows are sunk into
    8 z-range files. The REAL parquet footers are then read back
    (pyarrow, metadata-only) and each file's claimed [min,max] of both
    keys — plus the resulting skip/scan verdict for a pinned 2-d probe
    (orderkey bucket 2 ∧ partkey bucket 9) — is hash-checked against
    the data recompute. Z-ordering bounds every file to a ≤2×2 bucket
    neighborhood per 32-z slab, so most files skip the probe; the same
    audit on a 1-d sort would pin only orderkey. Footer≡data is the
    parity claim; the skip-count advantage vs an orderkey-sorted
    layout is asserted in tests/test_plans.py.

    Scale: the z computation is one narrow projection, the write is
    range-partitioned on z (8 files here, thousands at 100 TB), and
    the audit is O(files) footer reads with zero data I/O.
    """
    import glob as _glob
    import re as _re
    import shutil
    import tempfile

    from collections.abc import Iterator as _It

    import pandas as _pd

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    row = li.agg(
        F.max("l_orderkey").alias("mo"), F.max("l_partkey").alias("mp")
    ).collect()[0]
    out_schema = (
        "file_class long, n_rows long, min_orderkey long,"
        " max_orderkey long, min_partkey long, max_partkey long,"
        " skip_probe long"
    )
    if row["mo"] is None:  # zero-row input
        return spark.createDataFrame([], out_schema)
    wo = int(row["mo"]) // 16 + 1
    wp = int(row["mp"]) // 16 + 1

    def bit(col: str, i: int) -> str:
        return f"(({col} div {2 ** i}) % 2)"

    a, b = f"(l_orderkey div {wo})", f"(l_partkey div {wp})"
    zv = " + ".join(
        f"{2 ** (2 * i)} * {bit(b, i)} + {2 ** (2 * i + 1)} * {bit(a, i)}"
        for i in range(4)
    )
    zed = li.withColumn("zv", F.expr(zv))
    work = tempfile.mkdtemp(prefix="zorder_")
    try:
        for c in range(8):
            (
                zed.where(F.col("zv").between(c * 32, c * 32 + 31))
                .drop("zv")
                .coalesce(1)
                .write.parquet(f"{work}/z{c}")
            )
        files = sorted(_glob.glob(f"{work}/z*/part-*.parquet"))
        if not files:
            return spark.createDataFrame([], out_schema)
        paths = spark.createDataFrame(
            [(p,) for p in files], "path string"
        ).repartition(len(files))
        lo_o, hi_o = 2 * wo, 3 * wo - 1
        lo_p, hi_p = 9 * wp, 10 * wp - 1

        def read_footers(
            batches: _It[_pd.DataFrame],
        ) -> _It[_pd.DataFrame]:
            import pyarrow.parquet as pq

            for pdf in batches:
                rows = []
                for path in pdf["path"]:
                    cls = int(_re.search(r"/z(\d+)/", path).group(1))
                    md = pq.ParquetFile(path).metadata
                    if md.num_rows == 0:
                        # an empty z-class can still leave a 0-row part
                        # file (coalesce(1) task commits it); the oracle
                        # emits no row for an empty class, so neither do
                        # we — and there are no stats to read anyway
                        continue
                    idx = {
                        md.schema.column(i).name: i
                        for i in range(md.num_columns)
                    }
                    agg = {}
                    for rg in range(md.num_row_groups):
                        for col, j in idx.items():
                            st = md.row_group(rg).column(j).statistics
                            if st is None or not st.has_min_max:
                                continue
                            mn, mx2 = agg.get(col, (None, None))
                            if mn is None or st.min < mn:
                                mn = st.min
                            if mx2 is None or st.max > mx2:
                                mx2 = st.max
                            agg[col] = (mn, mx2)
                    mno, mxo = agg["l_orderkey"]
                    mnp, mxp = agg["l_partkey"]
                    skip = 0 if (
                        mno <= hi_o and mxo >= lo_o
                        and mnp <= hi_p and mxp >= lo_p
                    ) else 1
                    rows.append(
                        (cls, md.num_rows, mno, mxo, mnp, mxp, skip)
                    )
                yield _pd.DataFrame(
                    rows,
                    columns=[
                        "file_class",
                        "n_rows",
                        "min_orderkey",
                        "max_orderkey",
                        "min_partkey",
                        "max_partkey",
                        "skip_probe",
                    ],
                )

        out = paths.mapInPandas(read_footers, out_schema).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "scan_deletion_vectors",
    oracle="""
    WITH base AS (
        SELECT l_orderkey % 4 AS file_class,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey % 4
                   ORDER BY l_orderkey, l_linenumber,
                            CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   ) - 1 AS BIGINT) AS pos,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    )
    SELECT CAST(file_class AS BIGINT) AS file_class,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN (pos + file_class) % 7 = 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
           CAST(SUM(CASE WHEN (pos + file_class) % 7 <> 3
                         THEN cents ELSE 0 END) AS BIGINT) AS live_cents
    FROM base GROUP BY 1
    """,
)
def scan_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL deletion vectors — the merge-on-read delete
    mechanism of modern table formats (Iceberg v2 / Delta DVs): a
    delete is recorded as (file, row position), never by rewriting
    data files, and readers subtract positions at scan time. The op
    sinks lineitem into 4 single-task files each SORTED by
    (orderkey, linenumber, cents) — the fixture's composite key is
    not unique, but rows tying on all three are full duplicates of
    the projected columns, so every admissible physical order yields
    the same result multiset, mints a per-file delete vector from a position
    formula ((pos + file_class) % 7 == 3 — a different phase per
    file, as real DVs differ per file), and applies it at read time
    via Spark's ``_metadata.row_index`` hidden column — the ENGINE's
    own physical row position, not a recomputed rank. The oracle
    derives positions from the sort order instead; a hash match
    proves the engine's row_index numbering equals the documented
    physical order, i.e. positional deletes land on exactly the
    intended rows.

    Scale: DV application is a per-row predicate on a metadata column
    — no join, no shuffle; at 100 TB this is why engines prefer DVs
    over copy-on-write rewrites for low-churn deletes.
    """
    import shutil
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias(
            "cents"
        ),
    )
    out_schema = (
        "file_class long, n_total long, n_deleted long, live_cents long"
    )
    work = tempfile.mkdtemp(prefix="dv_scan_")
    try:
        for c in range(4):
            (
                li.where(F.pmod("l_orderkey", F.lit(4)) == c)
                .coalesce(1)
                .sortWithinPartitions("l_orderkey", "l_linenumber", "cents")
                .write.parquet(f"{work}/f{c}")
            )
        back = (
            spark.read.parquet(f"{work}/f*")
            .select(
                "cents",
                F.col("_metadata.row_index").alias("pos"),
                F.regexp_extract(
                    F.col("_metadata.file_path"), r"/f(\d+)/", 1
                )
                .cast("long")
                .alias("file_class"),
            )
        )
        if back.isEmpty():
            return spark.createDataFrame([], out_schema)
        deleted = F.pmod(F.col("pos") + F.col("file_class"), F.lit(7)) == 3
        out = (
            back.groupBy("file_class")
            .agg(
                F.count("*").cast("long").alias("n_total"),
                F.sum(F.when(deleted, 1).otherwise(0))
                .cast("long")
                .alias("n_deleted"),
                F.sum(F.when(~deleted, F.col("cents")).otherwise(0))
                .cast("long")
                .alias("live_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "sql_select_except",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM (SELECT * EXCLUDE (o_custkey, o_orderdate) FROM orders)
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_select_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-projection subtraction — Spark 4's ``SELECT * EXCEPT
    (cols)`` (DuckDB spells it ``EXCLUDE``): the wide-table
    ergonomic that matters at 100-column scale, where enumerating
    97 keepers to drop 3 is exactly how stale-column bugs happen.
    The dropped columns must also be PRUNED from the scan, not just
    projected away — the downstream aggregate's ReadSchema should
    not contain o_custkey (Catalyst column pruning through the
    except-list, asserted here by reusing the pruned frame in an
    aggregation the oracle recomputes).
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM (SELECT * EXCEPT (o_custkey, o_orderdate)
              FROM orders)
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        """
    )


@register(
    "sink_manifest_skipping",
    oracle="""
    WITH mx AS (SELECT MAX(l_orderkey) AS kmax FROM lineitem),
    cls AS (
        SELECT (l_orderkey * 8) // (kmax + 1) AS c,
               l_orderkey,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem, mx
    ),
    manifest AS (
        SELECT c, MIN(l_orderkey) AS f_min, MAX(l_orderkey) AS f_max
        FROM cls GROUP BY c
    ),
    q AS (
        SELECT kmax // 4 + 1 AS lo, kmax // 4 + kmax // 8 AS hi FROM mx
    ),
    hit AS (
        SELECT m.c FROM manifest m, q
        WHERE m.f_max >= q.lo AND m.f_min <= q.hi
    )
    SELECT CAST(8 AS BIGINT) AS n_files_total,
           CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_files_scanned,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM cls, q
    WHERE l_orderkey BETWEEN q.lo AND q.hi
      AND c IN (SELECT c FROM hit)
    """,
)
def sink_manifest_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-SKIPPING manifest — the metadata-pruning mechanism of
    Iceberg/Delta manifests and Hive-style file indexes, executed for
    real: lineitem is sunk into 8 range-clustered parquet files, a
    MANIFEST of per-file (min, max) key stats is built by reading the
    actual parquet FOOTERS (never the data), and a range query then
    consults the manifest and opens ONLY the overlapping files. The
    output row carries the query answer AND the skipping accounting
    (n_files_scanned out of 8) — the oracle recomputes both from the
    class formula, so a planner that silently reads extra files (or
    a manifest that misses a file) hash-fails, not just slows down.

    Scale: this is the 100 TB point-query path — a manifest is KB of
    footer stats standing in for the table; pruning happens before a
    single data byte is read. The range-clustered write is what makes
    min/max ranges disjoint and the skip rate high (same reason
    sink_zorder_clustered clusters before writing).
    """
    import shutil

    import pyarrow.parquet as _pq

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias(
            "cents"
        ),
    )
    out_schema = (
        "n_files_total long, n_files_scanned long, n_rows long,"
        " sum_cents long"
    )
    row = li.agg(F.max("l_orderkey").alias("kmax")).collect()[0]
    if row["kmax"] is None:
        # Empty input: the oracle's global aggregate still emits one
        # (8, 0, 0, NULL) accounting row — match it (advice r9).
        return spark.createDataFrame([(8, 0, 0, None)], out_schema)
    kmax = int(row["kmax"])
    work = tempfile.mkdtemp(prefix="manifest_skip_")
    try:
        for c in range(8):
            (
                li.where(
                    F.expr(f"(l_orderkey * 8) div ({kmax} + 1) = {c}")
                )
                .coalesce(1)
                .write.parquet(f"{work}/f{c}")
            )
        # manifest = footer stats only (the real mechanism)
        manifest = []
        for c in range(8):
            d = f"{work}/f{c}"
            parts = [
                f"{d}/{f}"
                for f in os.listdir(d)
                if f.endswith(".parquet")
            ]
            f_min = f_max = None
            for p in parts:
                md = _pq.ParquetFile(p).metadata
                if md.num_rows == 0:
                    continue
                idx = {
                    md.schema.column(i).name: i
                    for i in range(md.num_columns)
                }["l_orderkey"]
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        continue
                    f_min = st.min if f_min is None else min(f_min, st.min)
                    f_max = st.max if f_max is None else max(f_max, st.max)
            if f_min is not None:
                manifest.append((c, f_min, f_max, f"{work}/f{c}"))
        lo, hi = kmax // 4 + 1, kmax // 4 + kmax // 8
        hits = [m for m in manifest if m[2] >= lo and m[1] <= hi]
        if not hits:
            out = spark.createDataFrame(
                [(8, 0, 0, None)], out_schema
            ).localCheckpoint(eager=True)
        else:
            pruned = spark.read.parquet(*[m[3] for m in hits])
            out = (
                pruned.where(F.col("l_orderkey").between(lo, hi))
                .agg(
                    F.lit(8).cast("long").alias("n_files_total"),
                    F.lit(len(hits)).cast("long").alias("n_files_scanned"),
                    F.count("*").cast("long").alias("n_rows"),
                    F.sum("cents").cast("long").alias("sum_cents"),
                )
                .localCheckpoint(eager=True)
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "scan_parquet_page_index",
    oracle="""
    WITH ranked AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(row_number() OVER (
                   ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT),
                            o_orderkey) AS BIGINT) - 1 AS rn
        FROM orders
    )
    SELECT rn // 1000 AS page_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents,
           CAST(CASE WHEN MIN(cents) <= 2000000 AND MAX(cents) >= 1000000
                THEN 1 ELSE 0 END AS BIGINT) AS selected,
           CAST(SUM(CASE WHEN cents BETWEEN 1000000 AND 2000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS rows_in_range
    FROM ranked GROUP BY rn // 1000
    """,
)
def scan_parquet_page_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet PAGE-level skipping (ColumnIndex/OffsetIndex, the
    parquet-mr page-index feature engines use for sub-row-group
    pruning) — executed, not simulated: orders are written as ONE
    file sorted by (cents, o_orderkey) with
    ``parquet.page.row.count.limit=1000`` so every data page covers a
    deterministic 1000-row rank slice; the op then reads the FOOTER's
    column index back through the JVM ParquetFileReader (pyarrow does
    not expose page indexes) and emits, per page: the row count from
    the OffsetIndex, the min/max cents the index CLAIMS, the
    range-query selection flag (page overlaps [$10k, $20k]), and the
    true in-range row count from a physical re-read keyed by
    ``_metadata.row_index div 1000``. The oracle recomputes every
    column from rank arithmetic alone, so a hash match proves the
    page index is sound for pruning: a page the index would skip can
    contain no qualifying row (any mis-filed row or wrong index bound
    breaks min/max, n_rows, or rows_in_range).

    Scale: the index walk is O(pages) FOOTER metadata with zero data
    I/O — the 100 TB point-query path below row-group grain (pages ≈
    rows/1000; a 150k-row fixture file has 150). The walk runs on the
    driver via py4j here (bounded metadata, documented); a cluster
    deployment pushes the same reader calls into executors. Multiple
    row groups are handled by accumulating block row counts into
    file-absolute page offsets.
    """
    import glob as _glob
    import shutil
    import struct

    src = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        "o_orderkey",
    )
    work = tempfile.mkdtemp(prefix="e2e_pgidx_")
    out_schema = (
        "page_id long, n_rows long, min_cents long, max_cents long,"
        " selected long, rows_in_range long"
    )
    try:
        (
            src.coalesce(1)
            .sortWithinPartitions("cents", "o_orderkey")
            .write.option("parquet.page.row.count.limit", "1000")
            .parquet(f"{work}/t")
        )
        files = sorted(_glob.glob(f"{work}/t/part-*.parquet"))
        pages = []
        total_rows = 0
        for f in files:
            jvm = spark._jvm
            conf = spark._jsc.hadoopConfiguration()
            hif = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                jvm.org.apache.hadoop.fs.Path(f), conf
            )
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(hif)
            try:
                blocks = reader.getFooter().getBlocks()
                block_start = 0
                for b in range(blocks.size()):
                    blk = blocks.get(b)
                    cols = blk.getColumns()
                    for i in range(cols.size()):
                        c = cols.get(i)
                        if c.getPath().toDotString() != "cents":
                            continue
                        oi = reader.readOffsetIndex(c)
                        ci = reader.readColumnIndex(c)
                        mins, maxs = ci.getMinValues(), ci.getMaxValues()
                        np_ = oi.getPageCount()

                        def dec(bb):
                            try:
                                raw = bytes(bb.array())[
                                    bb.arrayOffset() + bb.position():
                                    bb.arrayOffset() + bb.limit()
                                ]
                            except Exception:
                                raw = bytes(
                                    [bb.get(j) for j in range(bb.limit())]
                                )
                            return struct.unpack("<q", raw)[0]

                        firsts = [
                            block_start + oi.getFirstRowIndex(p)
                            for p in range(np_)
                        ]
                        firsts.append(block_start + blk.getRowCount())
                        for p in range(np_):
                            lo, hi = dec(mins.get(p)), dec(maxs.get(p))
                            pages.append(
                                (
                                    firsts[p] // 1000,
                                    firsts[p + 1] - firsts[p],
                                    lo,
                                    hi,
                                    1 if (lo <= 2000000 and hi >= 1000000)
                                    else 0,
                                )
                            )
                    block_start += blk.getRowCount()
                total_rows += block_start
            finally:
                reader.close()
        if total_rows == 0:
            return spark.createDataFrame([], out_schema)
        idx = spark.createDataFrame(
            pages,
            "page_id long, n_rows long, min_cents long, max_cents long,"
            " selected long",
        )
        counts = (
            spark.read.schema("cents long, o_orderkey long")
            .parquet(f"{work}/t")
            .select(
                F.expr("_metadata.row_index div 1000").alias("page_id"),
                "cents",
            )
            .where(F.col("cents").between(1000000, 2000000))
            .groupBy("page_id")
            .agg(F.count("*").cast("long").alias("rows_in_range"))
        )
        out = (
            idx.join(counts, "page_id", "left")
            .select(
                "page_id",
                "n_rows",
                "min_cents",
                "max_cents",
                "selected",
                F.coalesce(F.col("rows_in_range"), F.lit(0))
                .cast("long")
                .alias("rows_in_range"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out
