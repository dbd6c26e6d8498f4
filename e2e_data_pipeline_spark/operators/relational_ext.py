"""Extended relational operators beyond the SURVEY.md §2 core tables.

The reference pipeline's surface ends at filter/cast/append
(/root/reference/ingest_data.py:29-38,78); a production analytics
engine also needs reshaping (pivot/unpivot), subqueries, percentiles,
sampling, upserts, and data-quality profiling. Each query here keeps
the two invariants of the registry: scale-safe plan shape (no
driver-side collection, shuffles only on real keys) and exact DuckDB
oracle parity (decimal-summed floats, deterministic arithmetic only).

Scale notes per operator live in the docstrings; the common theme is
that everything is a single groupBy/join pipeline Catalyst can push
filters through — nothing materializes intermediate results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e2e_data_pipeline_spark.catalog import load_table
from e2e_data_pipeline_spark.operators.frame_cache import events_daily_by_type, orders_daily
from e2e_data_pipeline_spark.operators.registry import (
    dec,
    dec_avg,
    dec_sum,
    global_rank,
    ntile_from_rank,
    register,
)


@register(
    "pivot_wide",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o,
           CAST(COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
           CAST(COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT) AS n_o
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long→wide (status columns per returnflag).

    The pivot values are enumerated explicitly — with an explicit value
    list Spark skips the extra distinct-collection job it otherwise
    runs to discover them, which at 100 TB is a full extra scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            dec_sum("l_quantity").alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return piv.select(
        "l_returnflag",
        F.col("F_qty").alias("qty_f"),
        F.col("O_qty").alias("qty_o"),
        F.col("F_n").alias("n_f"),
        F.col("O_n").alias("n_o"),
    )


@register(
    "unpivot_melt",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
    FROM part
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot wide→long (one row per part per numeric metric).

    ``DataFrame.unpivot`` is a zero-shuffle narrow transform — each
    input row expands in place, so it scales linearly with no exchange.
    """
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "value")


@register(
    "subq_scalar_corr",
    oracle="""
    WITH part_avg AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty
        FROM lineitem
        GROUP BY l_partkey
    )
    SELECT l.l_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_small,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_revenue
    FROM lineitem l
    JOIN part_avg pa ON pa.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.5 * pa.avg_qty
    GROUP BY l.l_partkey
    """,
)
def subq_scalar_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): rows below half
    their part's average quantity.

    Implemented as a window aggregate over the part key rather than a
    self-join: one shuffle on ``l_partkey`` serves both the per-part
    average and the regrouping, where the literal subquery translation
    would scan and shuffle lineitem twice. The average uses the same
    decimal-exact construction as the oracle so the `<` comparison sees
    bit-identical doubles in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    avg_qty = (
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).over(w).cast("double")
        / F.count("l_quantity").over(w)
    )
    return (
        li.withColumn("avg_qty", avg_qty)
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_small"),
            dec_sum("l_extendedprice").alias("small_revenue"),
        )
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group.

    Spark's ``percentile`` and DuckDB's ``quantile_cont`` both use the
    standard (n-1)*p linear interpolation, so results agree bitwise
    (rounded to 6 to absorb any last-ulp drift). Exact percentile sorts
    within each group; at 100 TB switch callers to
    ``approx_percentile`` (t-digest sketch, mergeable map-side) — the
    exact form is the oracle-checkable baseline.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90"),
        F.count("*").alias("n"),
    )


@register(
    "sample_hash",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sampled_revenue,
           CAST(MIN(o_orderkey) AS BIGINT) AS first_key
    FROM orders
    WHERE (o_orderkey * 2654435761) % 100 < 5
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5% systematic sample via multiplicative hashing.

    ``df.sample()`` is seed-dependent per partition-split and therefore
    not reproducible across engines or even across repartitionings; a
    key-hash predicate gives a stable sample that (a) pushes down to
    the scan as a plain filter — no shuffle, no extra pass — and (b)
    selects the *same* rows on any engine, which is what a training-
    data pipeline needs for held-out splits. Knuth's multiplicative
    constant decorrelates the sample from key locality.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.where((F.col("o_orderkey") * F.lit(2654435761)) % 100 < 5)
        .agg(
            F.count("*").alias("n_sampled"),
            dec_sum("o_totalprice").alias("sampled_revenue"),
            F.min("o_orderkey").alias("first_key"),
        )
    )


@register(
    "merge_upsert",
    oracle="""
    WITH delta AS (
        SELECT o_orderkey,
               CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.05 AS DECIMAL(3,2)), 2) AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT o_orderkey + 10000000, o_totalprice
        FROM orders WHERE o_orderpriority = '2-HIGH'
    )
    SELECT COALESCE(t.o_orderkey, d.o_orderkey) AS o_orderkey,
           COALESCE(d.o_totalprice, t.o_totalprice) AS o_totalprice,
           CASE WHEN t.o_orderkey IS NULL THEN 'insert'
                WHEN d.o_orderkey IS NULL THEN 'keep'
                ELSE 'update' END AS merge_action
    FROM orders t
    FULL JOIN delta d ON t.o_orderkey = d.o_orderkey
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) emulation: full outer join + coalesce.

    The reference only ever appends (`if_exists="append"`,
    /root/reference/ingest_data.py:78,121); incremental pipelines also
    need update-or-insert. Without a transactional table format this is
    the canonical Spark formulation: one shuffle on the merge key, and
    AQE turns it into a broadcast join whenever the delta is small —
    the common case for incremental loads.
    """
    orders = load_table(spark, sf_dir, "orders")
    # Price bump in DECIMAL, not DOUBLE: round(x*1.05, 2) on doubles
    # lands on half-cent boundaries where IEEE rounding diverges
    # between engines; decimal multiply+round is exact everywhere.
    bumped = (
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("1.05").cast("decimal(3,2)"),
            2,
        )
        .cast("double")
        .alias("o_totalprice")
    )
    updates = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", bumped
    )
    inserts = orders.where(F.col("o_orderpriority") == "2-HIGH").select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_totalprice",
    )
    delta = updates.unionByName(inserts)
    t, d = orders.alias("t"), delta.alias("d")
    return t.join(d, F.col("t.o_orderkey") == F.col("d.o_orderkey"), "full").select(
        F.coalesce("t.o_orderkey", "d.o_orderkey").alias("o_orderkey"),
        F.coalesce("d.o_totalprice", "t.o_totalprice").alias("o_totalprice"),
        F.when(F.col("t.o_orderkey").isNull(), "insert")
        .when(F.col("d.o_orderkey").isNull(), "keep")
        .otherwise("update")
        .alias("merge_action"),
    )


@register(
    "dq_profile",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(user_id) AS BIGINT) AS null_users,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types,
           CAST(SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_values,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value,
           CAST(SUM(CASE WHEN json_extract(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_props
    FROM events
    """,
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile: the reference's pre-load quality metric
    (zero-passenger count, /root/reference/ingest_data.py:32,36)
    generalized to a one-pass multi-column audit.

    Everything folds into a single partial-aggregate pass — null
    counts, domain cardinality, range violations, and JSON parse
    failures ride one scan with map-side combine, so profiling 100 TB
    costs one read.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("user_id")).alias("null_users"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.sum(F.when(F.col("value") <= 0, 1).otherwise(0)).alias(
            "nonpositive_values"
        ),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.sum(
            F.when(F.get_json_object("props", "$.k").isNull(), 1).otherwise(0)
        ).alias("bad_props"),
    )


@register(
    "agg_string",
    oracle="""
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def agg_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg).

    ``collect_list`` order is partition-dependent, so the list is
    sorted before joining — the only way an agg-to-string is
    deterministic on a distributed engine.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count("*").alias("n_nations"),
        )
    )


@register(
    "seq_explode",
    oracle="""
    SELECT r.r_name, g.q AS quarter, CAST(r.r_regionkey * 10 + g.q AS BIGINT) AS bucket
    FROM region r
    CROSS JOIN generate_series(1, 4) AS g(q)
    """,
)
def seq_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row generation: sequence + explode (generate_series / UNNEST).

    Explode of a bounded literal sequence is a narrow transform — each
    task expands its own rows, no exchange. This is the scalable way to
    densify (e.g. emit one row per period per entity) versus joining
    against a materialized calendar table.
    """
    region = load_table(spark, sf_dir, "region")
    return region.select(
        "r_name",
        F.explode(F.sequence(F.lit(1), F.lit(4))).alias("quarter"),
        "r_regionkey",
    ).select(
        "r_name",
        F.col("quarter").cast("long").alias("quarter"),
        (F.col("r_regionkey") * 10 + F.col("quarter")).cast("long").alias("bucket"),
    )


@register(
    "win_ntile_dist",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           CAST(ntile(4) OVER w AS INT) AS price_quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume,
           CAST(row_number() OVER w AS BIGINT) AS rn
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def win_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist.

    One shuffle on the partition key serves all four functions (single
    Window node). The ORDER BY carries the key as a tiebreaker so rank
    ties cannot differ between engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.row_number().over(w).cast("long").alias("rn"),
    )


@register(
    "scd2_history",
    oracle="""
    WITH changes AS (
        SELECT user_id, event_id, ts, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
        WHERE user_id < 50
    ), kept AS (
        SELECT user_id, event_id, ts, event_type
        FROM changes
        WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id,
           event_type AS attr_value,
           CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
           CAST(epoch_us(LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           )) AS BIGINT) AS valid_to_us,
           (LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) IS NULL) AS is_current
    FROM kept
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history builder: collapse a
    change stream into validity intervals, the standard warehouse
    pattern for tracking attribute history.

    Pass 1 drops rows whose tracked attribute equals the previous row's
    (lag); pass 2 closes each surviving interval with the next change's
    timestamp (lead), leaving the open row as current. Both windows
    shuffle on user_id only — the second pass reuses the first's
    partitioning, so the whole build is ONE shuffle plus two sorted
    window scans regardless of scale. No self-join against the history
    table, which is how hand-written SCD2 SQL usually goes quadratic."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    kept = ev.withColumn("prev_type", F.lag("event_type").over(w)).where(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    )
    closed = kept.withColumn("valid_to", F.lead("ts").over(w))
    return closed.select(
        "user_id",
        F.col("event_type").alias("attr_value"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to").cast("timestamp")).alias("valid_to_us"),
        F.col("valid_to").isNull().alias("is_current"),
    )


@register(
    "sample_stratified",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM documents
    WHERE (doc_id * 2654435761) % 100 <
          CASE lang WHEN 'zh' THEN 100 WHEN 'en' THEN 50 ELSE 10 END
    GROUP BY lang
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-class keep fractions
    (keep all zh, half of en, 10% of the rest) via the same
    multiplicative key-hash as ``sample_hash`` — the class-rebalancing
    step of training-data curation (upweight rare languages, downsample
    dominant ones).

    ``df.sampleBy()`` is seed-and-partitioning dependent; the hash
    predicate selects the SAME rows on any engine and any layout, and
    it's a plain pushable filter — no shuffle, no extra pass, and the
    per-class fraction is a CASE on the stratum column evaluated
    row-side. At 100 TB this is a scan-time row filter with zero
    coordination.
    """
    docs = load_table(spark, sf_dir, "documents")
    frac = (
        F.when(F.col("lang") == "zh", 100)
        .when(F.col("lang") == "en", 50)
        .otherwise(10)
    )
    return (
        docs.where((F.col("doc_id") * F.lit(2654435761)) % 100 < frac)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
        )
    )


@register(
    "fn_contiguous_ids",
    oracle="""
    SELECT doc_id, lang,
           CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS sample_id
    FROM documents
    """,
)
def fn_contiguous_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 0-based sample ids in global key order — what a
    training pipeline needs to address examples by index. The naive
    ``row_number() OVER (ORDER BY key)`` collapses to a single
    partition (the classic scale trap); this is the distributed
    two-pass construction:

    1. range-repartition by the key and PIN the layout with
       ``localCheckpoint`` (both passes must see identical partitions);
    2. collect per-partition counts — #partitions rows, the one
       sanctioned driver-side step — and prefix-sum them into offsets;
    3. ``sample_id = offset[pid] + (row_number within partition) - 1``,
       a fully parallel per-partition window.

    Range partitions are ordered by key, so within-partition order +
    offsets reproduce the exact global row_number the oracle computes.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    n_parts = 8
    rp = docs.repartitionByRange(n_parts, "doc_id").localCheckpoint()
    with_pid = rp.withColumn("pid", F.spark_partition_id())
    sizes = {
        r["pid"]: r["cnt"]
        for r in with_pid.groupBy("pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    if not offsets:  # zero-row input: no partitions observed
        offsets = {0: 0}
    offset_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("pid").orderBy("doc_id")
    return with_pid.select(
        "doc_id",
        "lang",
        (
            offset_map[F.col("pid")] + F.row_number().over(w) - 1
        ).cast("long").alias("sample_id"),
    )


@register(
    "dq_referential",
    oracle="""
    SELECT 'lineitem->orders' AS fk, CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders->customer', COUNT(*)
    FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer->nation', COUNT(*)
    FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    UNION ALL
    SELECT 'lineitem->part', COUNT(*)
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'lineitem->supplier', COUNT(*)
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
    """,
)
def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every FK edge of
    the star schema, one labeled row per edge — the pre-load contract
    check a warehouse runs before publishing a snapshot.

    Each edge is a LEFT ANTI join + count. Dimension-sided edges
    broadcast the dim; the two fact⋈fact edges shuffle on the key like
    any equi-join. The five audits are independent Spark jobs unioned
    into one frame — at scale you'd run them as one pass per fact table
    (this shape keeps each edge's plan independently inspectable).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")

    def orphans(label, child, parent, cond, broadcast_parent):
        p = F.broadcast(parent) if broadcast_parent else parent
        return child.join(p, cond, "left_anti").agg(
            F.lit(label).alias("fk"), F.count("*").alias("n_orphans")
        )

    return (
        orphans(
            "lineitem->orders", li, orders, li.l_orderkey == orders.o_orderkey, False
        )
        .unionByName(
            orphans(
                "orders->customer", orders, cust,
                orders.o_custkey == cust.c_custkey, False,
            )
        )
        .unionByName(
            orphans(
                "customer->nation", cust, nation,
                cust.c_nationkey == nation.n_nationkey, True,
            )
        )
        .unionByName(
            orphans("lineitem->part", li, part, li.l_partkey == part.p_partkey, True)
        )
        .unionByName(
            orphans(
                "lineitem->supplier", li, supp,
                li.l_suppkey == supp.s_suppkey, True,
            )
        )
    )


@register(
    "sample_cap_per_group",
    oracle="""
    WITH ranked AS (
        SELECT lang, doc_id,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY (doc_id * 2654435761) % 1000000007, doc_id
               ) AS rn
        FROM documents
    )
    SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 30
    """,
)
def sample_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group cap: keep at most K=30 documents per language,
    chosen by deterministic hash order — the training-data move that
    caps any one domain/language/host at a fixed budget without a
    global sort or a seed-dependent ``sample()``.

    The multiplicative hash (same Knuth constant as sample_hash) gives
    an engine-portable, repartition-invariant shuffle of each group;
    row_number over (hash, key) picks the same K members anywhere.
    Output is bounded by K x |groups| regardless of input size, and
    the only shuffle is the window's partitionBy(lang). At 100 TB the
    rank-filter pushes through: Spark's WindowGroupLimit stops each
    group after K rows before the full sort materializes.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(1000000007)
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select(
            "lang", "doc_id", F.row_number().over(w).cast("long").alias("rn")
        )
        .where(F.col("rn") <= 30)
    )


@register(
    "dq_anomaly_iqr",
    oracle="""
    WITH cents AS (
        SELECT o_orderpriority, ROUND(o_totalprice * 100, 0) AS c
        FROM orders
    ),
    fences AS (
        SELECT o_orderpriority,
               quantile_cont(c, 0.25) AS q1,
               quantile_cont(c, 0.75) AS q3,
               quantile_cont(c, 0.75) - quantile_cont(c, 0.25) AS iqr
        FROM cents GROUP BY o_orderpriority
    )
    SELECT c.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           f.q1 AS q1_cents,
           f.q3 AS q3_cents,
           CAST(SUM(CASE WHEN c.c < f.q1 - 1.5 * f.iqr THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_outliers,
           CAST(SUM(CASE WHEN c.c > f.q3 + 1.5 * f.iqr THEN 1 ELSE 0 END)
                AS BIGINT) AS n_high_outliers
    FROM cents c
    JOIN fences f ON f.o_orderpriority = c.o_orderpriority
    GROUP BY c.o_orderpriority, f.q1, f.q3
    """,
)
def dq_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR anomaly audit: per-group Tukey fences (Q1/Q3 ± 1.5·IQR)
    and outlier counts — the robust data-quality screen next to
    dq_profile's null/range audit (quartile fences don't move when the
    outliers themselves get worse, unlike mean ± k·σ).

    Everything runs in integer cents: prices are 2-dp doubles, so
    ROUND(x*100) is an exact integer double, quartile interpolation at
    quarter fractions is exact dyadic arithmetic, and the fence
    comparison is therefore bit-identical across engines with NO
    rounding epsilon (the fn_array "exact by construction" pattern,
    applied to quantiles). Two passes over orders sharing one shuffle
    key: the 5-row fence table broadcasts back onto the priority
    groups.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderpriority", F.round(F.col("o_totalprice") * 100, 0).alias("c")
    )
    fences = cents.groupBy("o_orderpriority").agg(
        F.percentile("c", F.lit(0.25)).alias("q1"),
        F.percentile("c", F.lit(0.75)).alias("q3"),
        (
            F.percentile("c", F.lit(0.75)) - F.percentile("c", F.lit(0.25))
        ).alias("iqr"),
    )
    j = cents.join(F.broadcast(fences), "o_orderpriority")
    return j.groupBy("o_orderpriority", "q1", "q3").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("c") < F.col("q1") - F.lit(1.5) * F.col("iqr"), 1).otherwise(0)
        ).alias("n_low_outliers"),
        F.sum(
            F.when(F.col("c") > F.col("q3") + F.lit(1.5) * F.col("iqr"), 1).otherwise(0)
        ).alias("n_high_outliers"),
    ).select(
        "o_orderpriority",
        "n",
        F.col("q1").alias("q1_cents"),
        F.col("q3").alias("q3_cents"),
        "n_low_outliers",
        "n_high_outliers",
    )


@register(
    "dq_snapshot_diff",
    oracle="""
    WITH a AS (
        SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    ),
    b AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 101 = 0
                    THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                              * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE)
                    ELSE o_totalprice END AS o_totalprice,
               o_orderpriority
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 20000000, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 103 = 0
    )
    SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'deleted'
                WHEN a.o_totalprice <> b.o_totalprice
                  OR a.o_orderpriority <> b.o_orderpriority THEN 'changed'
                ELSE 'same' END AS diff_status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN a.o_orderkey IS NOT NULL
                          AND b.o_orderkey IS NOT NULL
                          AND a.o_totalprice <> b.o_totalprice
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_price_changes,
           CAST(MIN(COALESCE(a.o_orderkey, b.o_orderkey)) AS BIGINT)
               AS first_key
    FROM a
    FULL JOIN b ON b.o_orderkey = a.o_orderkey
    GROUP BY diff_status
    """,
)
def dq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot data-diff: cell-level comparison of two table versions
    into an added/deleted/changed/same report — the regression gate a
    pipeline runs after a backfill or logic change (row counts alone
    hide offsetting errors; this catches them at column granularity).

    Version B is derived deterministically (deletes every 97th key,
    reprices every 101st via exact decimal multiply, inserts copies of
    every 103rd). The diff is ONE full outer join on the key — shuffle
    both sides once, no driver-side comparison — and classification is
    pure column logic, so the report cost is the same as any equi-join
    at 100 TB. Null-safe semantics: key presence drives add/delete,
    value inequality drives change.
    """
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
    bumped = (
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("1.1").cast("decimal(2,1)"),
            2,
        ).cast("double")
    )
    b = (
        a.where(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 101 == 0, bumped)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderpriority",
        )
        .unionByName(
            a.where(F.col("o_orderkey") % 103 == 0).select(
                (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
                "o_totalprice",
                "o_orderpriority",
            )
        )
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("b.o_orderkey") == F.col("a.o_orderkey"), "full"
    )
    ak, bk = F.col("a.o_orderkey"), F.col("b.o_orderkey")
    price_changed = (
        ak.isNotNull()
        & bk.isNotNull()
        & (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
    )
    status = (
        F.when(ak.isNull(), "added")
        .when(bk.isNull(), "deleted")
        .when(
            (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
            | (F.col("a.o_orderpriority") != F.col("b.o_orderpriority")),
            "changed",
        )
        .otherwise("same")
    )
    return (
        j.select(
            status.alias("diff_status"),
            price_changed.alias("pc"),
            F.coalesce(ak, bk).alias("key"),
        )
        .groupBy("diff_status")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("pc"), 1).otherwise(0)).alias("n_price_changes"),
            F.min("key").alias("first_key"),
        )
    )


@register(
    "merge_incremental_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
               / COUNT(*) AS avg_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def merge_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a BASE aggregate state (all
    orders before 1997) is merged with a DELTA batch's state (the
    rest) by summing sufficient statistics per key — the materialized-
    view update pattern. The oracle recomputes from the full table, so
    the hash PROVES merge(state(base), state(delta)) == state(all):
    the algebraic property that lets a 100 TB rollup absorb a daily
    partition without re-reading history (same mergeability the
    sketch/bitmap/moment ops rely on, shown here for plain stats).

    Counts and integer-cent sums are the state (both associative and
    exact); derived values (the average) are computed AFTER the merge,
    never merged themselves — the classic incremental-agg mistake this
    op's construction rules out.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("cents"),
        )

    base = state(orders.where(F.col("o_orderdate") < cutoff))
    delta = state(orders.where(F.col("o_orderdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("n").alias("n_orders"), F.sum("cents").alias("total_cents"))
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        "total_cents",
        (F.col("total_cents").cast("double") / F.col("n_orders")).alias(
            "avg_cents"
        ),
    )


@register(
    "agg_rfm_segmentation",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               MAX(o_orderdate) AS last_order,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey,
               CAST(ntile(5) OVER (ORDER BY last_order DESC, o_custkey)
                    AS BIGINT) AS r_score,
               CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey)
                    AS BIGINT) AS f_score,
               CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey)
                    AS BIGINT) AS m_score
        FROM rfm
    )
    SELECT CASE
             WHEN r_score = 1 AND f_score <= 2 AND m_score <= 2 THEN 'champion'
             WHEN r_score <= 2 AND f_score <= 3 THEN 'loyal'
             WHEN r_score >= 4 AND f_score <= 2 THEN 'at_risk'
             WHEN r_score >= 4 AND f_score >= 4 THEN 'lost'
             ELSE 'regular'
           END AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(o_custkey) AS BIGINT) AS example_custkey
    FROM scored
    GROUP BY segment
    """,
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quintile scores on Recency / Frequency /
    Monetary per customer, folded into named marketing segments — the
    classic customer-analytics pipeline (and the template for any
    multi-dimensional quantile bucketing).

    Scores use NTILE(5) semantics with a custkey tie-break so bucket
    boundaries are engine-identical (ntile on a tied ordering is
    otherwise arbitrary); monetary is exact integer cents. Each score
    is a DISTRIBUTED global rank (``registry.global_rank``:
    range-repartition + per-partition offsets — never a
    single-partition NTILE window) folded through the exact NTILE
    bucket formula (``registry.ntile_from_rank``) with the customer
    count as a literal. Three rank passes over the CUSTOMER aggregate
    (not the fact table); output is ≤5 segment rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias(
            "monetary_cents"
        ),
    )
    ck = F.col("o_custkey").asc()
    ranked_r, n, _ = global_rank(
        rfm, [F.col("last_order").desc(), ck], rn_name="rn_r"
    )
    ranked_f, _, _ = global_rank(
        ranked_r, [F.col("frequency").desc(), ck], rn_name="rn_f"
    )
    ranked_m, _, _ = global_rank(
        ranked_f, [F.col("monetary_cents").desc(), ck], rn_name="rn_m"
    )
    scored = ranked_m.select(
        "o_custkey",
        ntile_from_rank(F.col("rn_r"), n, 5).alias("r_score"),
        ntile_from_rank(F.col("rn_f"), n, 5).alias("f_score"),
        ntile_from_rank(F.col("rn_m"), n, 5).alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") == 1) & (F.col("f_score") <= 2) & (F.col("m_score") <= 2),
            "champion",
        )
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 3), "loyal")
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "at_risk")
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "lost")
        .otherwise("regular")
    )
    return (
        scored.select(seg.alias("segment"), "o_custkey")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("o_custkey").alias("example_custkey"),
        )
    )


@register(
    "dq_benford_digits",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS d
        FROM orders WHERE o_totalprice > 0
    ),
    obs AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM obs)
    SELECT o.d AS leading_digit,
           o.n AS n_values,
           ROUND(CAST(o.n AS DOUBLE) / t.total, 6) AS observed_share,
           ROUND(log10(1 + 1.0 / o.d), 6) AS benford_share,
           ROUND(CAST(o.n AS DOUBLE) / t.total - log10(1 + 1.0 / o.d), 6)
               AS deviation
    FROM obs o CROSS JOIN tot t
    """,
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit: the leading-digit distribution of order
    amounts against the expected log10(1 + 1/d) frequencies — the
    forensic data-quality screen for fabricated or truncated numeric
    columns (synthetic uniform data deviates loudly, which is itself
    the point of the report).

    Leading digits come from the exact integer-cents string (no float
    formatting), the distribution is a 9-cell aggregate, and the three
    derived columns are O(1) doubles rounded at 6dp (log/division ulp
    discipline). Map-side combine carries at most 9 cells per task.
    """
    orders = load_table(spark, sf_dir, "orders", parallelize_scan=True).where(
        F.col("o_totalprice") > 0
    )
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
        1,
        1,
    ).cast("int")
    obs = orders.select(digit.alias("d")).groupBy("d").agg(
        F.count("*").alias("n")
    )
    tot = obs.agg(F.sum("n").alias("total"))
    share = F.col("n").cast("double") / F.col("total")
    benford = F.log10(1 + 1.0 / F.col("d"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("leading_digit"),
            F.col("n").alias("n_values"),
            F.round(share, 6).alias("observed_share"),
            F.round(benford, 6).alias("benford_share"),
            F.round(share - benford, 6).alias("deviation"),
        )
    )


@register(
    "agg_basket_affinity",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items
    ),
    item_cnt AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM items GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT p.part_a, p.part_b, p.support,
           CAST(p.support * n.n AS DOUBLE)
               / CAST(ca.cnt * cb.cnt AS DOUBLE) AS lift
    FROM pairs p, n_orders n
    JOIN item_cnt ca ON ca.l_partkey = p.part_a
    JOIN item_cnt cb ON cb.l_partkey = p.part_b
    ORDER BY p.support DESC, p.part_a, p.part_b
    LIMIT 20
    """,
)
def agg_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: co-occurring part pairs within orders,
    ranked by support, with lift against independence.

    The pair self-join is keyed on l_orderkey, whose line count TPC-H
    bounds at 7 — so pair generation is O(n·21), linear, never
    all-pairs across the catalog. Item counts broadcast (bounded by
    the part domain); lift = (support·N)/(cnt_a·cnt_b) is ONE integer
    ratio → one IEEE division, exact cross-engine. Top-20 with a full
    deterministic tie-break runs as TakeOrderedAndProject.
    """
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = items.agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    item_cnt = items.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("support"))
    )
    ca = item_cnt.select(
        F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a")
    )
    cb = item_cnt.select(
        F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b")
    )
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "support",
            (
                (F.col("support") * F.col("n")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "agg_decile_lift",
    oracle="""
    WITH scored AS (
        SELECT CAST(ROUND(value * 100) AS BIGINT) AS score_cents,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
               NTILE(10) OVER (ORDER BY value DESC, event_id) AS decile
        FROM events
    ),
    per_decile AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(label) AS BIGINT) AS n_pos
        FROM scored GROUP BY decile
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS tot_n,
               CAST(SUM(n_pos) AS BIGINT) AS tot_pos
        FROM per_decile
    ),
    cum AS (
        SELECT decile, n, n_pos,
               SUM(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                   AS cum_n,
               SUM(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                   AS cum_pos
        FROM per_decile
    )
    SELECT c.decile, c.n, c.n_pos,
           CAST(c.n_pos AS DOUBLE) / CAST(c.n AS DOUBLE) AS conversion,
           CAST(c.cum_pos * t.tot_n AS DOUBLE)
               / CAST(c.cum_n * t.tot_pos AS DOUBLE) AS cum_lift
    FROM cum c, tot t
    """,
)
def agg_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table for a propensity score (here: event
    value scoring the 'purchase' label) — the standard model-quality
    report for targeting pipelines.

    NTILE over a deterministic total order (value DESC, event_id)
    buckets exactly like the oracle; everything after the rank is a
    10-row frame. conversion and cumulative lift are single divisions
    of exact int64 products. The rank is the DISTRIBUTED two-pass
    construction (``registry.global_rank``: range-repartition +
    per-partition offsets — no single-partition NTILE window) folded
    through the exact NTILE bucket formula with the total count as a
    literal.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("score_cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
        "value",
        "event_id",
    )
    ranked, n, _ = global_rank(
        ev, [F.col("value").desc(), F.col("event_id").asc()]
    )
    scored = ranked.withColumn(
        "decile", ntile_from_rank(F.col("rn"), n, 10).cast("int")
    )
    per_decile = scored.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("label").alias("n_pos")
    )
    tot = per_decile.agg(
        F.sum("n").alias("tot_n"), F.sum("n_pos").alias("tot_pos")
    )
    # running sums over the 10-row decile frame as a broadcast range
    # self-join (10x10) — keeps the whole plan free of unpartitioned
    # Window nodes
    prior = per_decile.select(
        F.col("decile").alias("p_decile"),
        F.col("n").alias("p_n"),
        F.col("n_pos").alias("p_n_pos"),
    )
    cum = (
        per_decile.join(
            F.broadcast(prior), F.col("p_decile") <= F.col("decile"), "inner"
        )
        .groupBy("decile", "n", "n_pos")
        .agg(
            F.sum("p_n").alias("cum_n"),
            F.sum("p_n_pos").alias("cum_pos"),
        )
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n",
        "n_pos",
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
            "conversion"
        ),
        (
            (F.col("cum_pos") * F.col("tot_n")).cast("double")
            / (F.col("cum_n") * F.col("tot_pos")).cast("double")
        ).alias("cum_lift"),
    )


@register(
    "cdc_apply_log",
    oracle="""
    WITH ops AS (
        SELECT user_id,
               CASE event_type WHEN 'signup' THEN 'I'
                               WHEN 'error'  THEN 'D'
                               ELSE 'U' END AS op,
               value, ts, event_id
        FROM events
    ),
    ranked AS (
        SELECT user_id, op, value, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops,
               CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id) AS BIGINT) AS n_deletes
        FROM ops
    )
    SELECT user_id,
           value AS current_value,
           op AS last_op,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_change_ts,
           n_ops, n_deletes
    FROM ranked
    WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC operation log (insert/update/delete) to produce the
    current table state — the batch materialization a Debezium-style
    change feed needs (keys whose LAST op is a delete vanish).

    Ops are synthesized from event_type (signup→I, error→D, else→U).
    One window over user_id serves the last-op pick and both per-key
    counters (same exchange, Catalyst reuses it); the delete filter is
    applied AFTER the rank so a delete-then-reinsert sequence resolves
    by timestamp order, not op precedence. Deterministic total order
    via (ts, event_id). Linear: single shuffle on the key.
    """
    ev = load_table(spark, sf_dir, "events")
    ops = ev.select(
        "user_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        "value",
        "ts",
        "event_id",
    )
    w_rank = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    w_all = Window.partitionBy("user_id")
    ranked = ops.select(
        "user_id",
        "op",
        "value",
        "ts",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("n_ops"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
        .over(w_all)
        .alias("n_deletes"),
    )
    return ranked.where((F.col("rn") == 1) & (F.col("op") != "D")).select(
        "user_id",
        F.col("value").alias("current_value"),
        F.col("op").alias("last_op"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_change_ts"),
        "n_ops",
        "n_deletes",
    )


@register(
    "dq_freshness",
    oracle="""
    WITH per_type AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(ts) AS latest
        FROM events GROUP BY event_type
    ),
    gmax AS (SELECT MAX(ts) AS g FROM events)
    SELECT p.event_type, p.n_events,
           strftime(p.latest, '%Y-%m-%d %H:%M:%S') AS latest_ts,
           CAST((epoch_us(m.g) - epoch_us(p.latest)) // 60000000 AS BIGINT)
               AS minutes_stale
    FROM per_type p, gmax m
    """,
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness report: how far each event stream lags the most
    recent arrival — the staleness monitor every ingestion SLA needs
    (a partition that stopped arriving shows up as a growing lag, not
    as an error).

    One group-by plus a broadcast 1-row global max; staleness is
    integer microseconds floor-divided to minutes (truncating, same on
    both engines). Linear, no window.
    """
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"), F.max("ts").alias("latest")
    )
    glob = ev.agg(F.max("ts").alias("g"))
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return per_type.crossJoin(F.broadcast(glob)).select(
        "event_type",
        "n_events",
        F.date_format("latest", "yyyy-MM-dd HH:mm:ss").alias("latest_ts"),
        ((us("g") - us("latest")) / F.lit(60_000_000))
        .cast("long")
        .alias("minutes_stale"),
    )


@register(
    "dq_uniqueness",
    oracle="""
    SELECT 'orders.o_orderkey' AS key, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_dup_rows
    FROM orders
    UNION ALL
    SELECT 'customer.c_custkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'events.event_id', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT event_id) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'lineitem.(l_orderkey,l_linenumber)', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
                AS BIGINT)
    FROM lineitem
    """,
)
def dq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across four tables (including one
    composite key) — the constraint check a lake has no engine to
    enforce; run before anything downstream assumes key semantics.

    Each leg is one count-distinct aggregate (partial-combining,
    2-phase under AQE); the legs union into a single bounded report.
    No joins, no windows — the cheapest possible full-table integrity
    scan, and each leg prunes to just its key columns at the reader.
    """
    legs = []
    for label, table, cols in [
        ("orders.o_orderkey", "orders", ["o_orderkey"]),
        ("customer.c_custkey", "customer", ["c_custkey"]),
        ("events.event_id", "events", ["event_id"]),
        (
            "lineitem.(l_orderkey,l_linenumber)",
            "lineitem",
            ["l_orderkey", "l_linenumber"],
        ),
    ]:
        t = load_table(spark, sf_dir, table)
        legs.append(
            t.agg(
                F.lit(label).alias("key"),
                F.count("*").alias("n_rows"),
                F.countDistinct(*cols).alias("n_distinct"),
                (F.count("*") - F.countDistinct(*cols)).alias("n_dup_rows"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


@register(
    "ml_feature_matrix",
    oracle="""
    WITH order_f AS (
        SELECT o_custkey AS ck,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_spend,
               CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS max_order_cents
        FROM orders GROUP BY o_custkey
    ),
    event_f AS (
        SELECT user_id AS ck,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchases,
               CAST(COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE))
                    AS BIGINT) AS n_active_days
        FROM events GROUP BY user_id
    )
    SELECT c.c_custkey,
           n.n_name AS nation,
           CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
               AS seg_building,
           CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
               AS seg_automobile,
           CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents,
           COALESCE(o.n_orders, 0) AS n_orders,
           CAST(COALESCE(o.total_spend, 0.0) AS DOUBLE) AS total_spend,
           COALESCE(o.max_order_cents, 0) AS max_order_cents,
           COALESCE(e.n_events, 0) AS n_events,
           COALESCE(e.n_purchases, 0) AS n_purchases,
           COALESCE(e.n_active_days, 0) AS n_active_days
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    LEFT JOIN order_f o ON o.ck = c.c_custkey
    LEFT JOIN event_f e ON e.ck = c.c_custkey
    """,
)
def ml_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store materialization: one wide row per customer
    joining dimension attributes (nation, one-hot segment flags),
    transactional aggregates, and behavioral aggregates — the
    denormalized matrix a training job or online store consumes.

    Each feature family pre-aggregates to ONE row per entity BEFORE
    the joins (never join-then-aggregate: the wide join stays
    1:1, no fan-out, no double counting), dims broadcast, absent
    activity backfills deterministic zeros. At 100 TB this is the
    standard two-phase shape: per-source entity rollups, then keyed
    equi-joins on the entity id — every stage partial-aggregates and
    AQE picks broadcast vs shuffle per side. Monetary features stay
    integer cents / DECIMAL-summed doubles (exact parity).
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    order_f = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count("*").alias("n_orders"),
        dec_sum("o_totalprice").alias("total_spend"),
        F.max(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "max_order_cents"
        ),
    )
    event_f = ev.groupBy(F.col("user_id").alias("ck")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
        F.countDistinct(F.date_trunc("day", "ts").cast("date")).alias(
            "n_active_days"
        ),
    )
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(order_f, cust.c_custkey == order_f.ck, "left")
        .join(event_f, cust.c_custkey == event_f.ck, "left")
        .select(
            "c_custkey",
            F.col("n_name").alias("nation"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("seg_building"),
            F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1)
            .otherwise(0)
            .alias("seg_automobile"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias(
                "acctbal_cents"
            ),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
            F.coalesce("max_order_cents", F.lit(0)).alias("max_order_cents"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("n_active_days", F.lit(0)).alias("n_active_days"),
        )
    )


@register(
    "dq_table_checksum",
    oracle="""
    WITH h AS (
        SELECT ('0x' || substr(md5(
                   concat_ws('|', CAST(o_orderkey AS VARCHAR),
                             CAST(o_custkey AS VARCHAR), o_orderstatus,
                             CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR))
               ), 1, 15))::BIGINT AS rh
        FROM orders
    )
    SELECT 'orders' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(rh) AS BIGINT) AS xor_checksum
    FROM h
    UNION ALL
    SELECT 'customer',
           CAST(COUNT(*) AS BIGINT),
           CAST(bit_xor(('0x' || substr(md5(
                   concat_ws('|', CAST(c_custkey AS VARCHAR), c_mktsegment,
                             CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) AS VARCHAR))
               ), 1, 15))::BIGINT) AS BIGINT)
    FROM customer
    """,
)
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table checksum for cross-replica validation:
    every row hashes to a portable 60-bit integer (the md5 primitive)
    and rows fold with XOR — commutative, associative, overflow-free,
    so ANY partitioning, engine, or insertion order yields the same
    fingerprint. This is how you prove a migrated/replicated table is
    byte-equivalent without sorting or moving it: ship (n_rows,
    xor_checksum) per table and compare.

    Caveat stated, not hidden: XOR folding cancels DUPLICATE rows in
    pairs, which is why n_rows rides alongside (and the PK uniqueness
    audit, dq_uniqueness, is the companion check). Monetary columns
    enter the hash as integer cents so the hash input is the same
    canonical text both engines render.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def h60(*cols):
        return F.conv(
            F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10
        ).cast("long")

    o = orders.select(
        h60(
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        ).alias("rh")
    ).agg(
        F.lit("orders").alias("table_name"),
        F.count("*").alias("n_rows"),
        F.bit_xor("rh").alias("xor_checksum"),
    )
    c = cust.select(
        h60(
            F.col("c_custkey").cast("string"),
            F.col("c_mktsegment"),
            F.round(F.col("c_acctbal") * 100).cast("long").cast("string"),
        ).alias("rh")
    ).agg(
        F.lit("customer").alias("table_name"),
        F.count("*").alias("n_rows"),
        F.bit_xor("rh").alias("xor_checksum"),
    )
    return o.unionByName(c)


@register(
    "dq_mad_outliers",
    oracle="""
    WITH cents AS (
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c
        FROM orders
    ),
    med AS (
        SELECT o_orderpriority,
               CAST(2 * median(c) AS BIGINT) AS med2
        FROM cents GROUP BY o_orderpriority
    ),
    dev AS (
        SELECT c.o_orderpriority, c.c, m.med2,
               abs(2 * c.c - m.med2) AS d
        FROM cents c JOIN med m USING (o_orderpriority)
    ),
    mad AS (
        SELECT o_orderpriority,
               CAST(2 * median(d) AS BIGINT) AS mad4
        FROM dev GROUP BY o_orderpriority
    )
    SELECT d.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           d.med2 AS median_half_cents,
           m.mad4 AS mad_quarter_cents,
           CAST(SUM(CASE WHEN 2 * d.d > 3 * m.mad4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           CAST(MAX(CASE WHEN 2 * d.d > 3 * m.mad4 THEN d.c END)
                AS BIGINT) AS max_outlier_cents
    FROM dev d JOIN mad m USING (o_orderpriority)
    GROUP BY d.o_orderpriority, d.med2, m.mad4
    """,
)
def dq_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen: median-absolute-deviation fences per
    order priority, flagging rows with |x - median| > 3 * MAD. Unlike
    the IQR fence (dq_anomaly_iqr) the MAD breaks down only past 50%
    contamination — the robust-statistics default for dirty feeds.

    Exactness: prices quantized to integer cents; an exact median of
    integers is either an integer or a .5 tie-average, so 2*median is
    a BIGINT on both engines (the dyadic-rank trick from
    stats_mannwhitney). Deviations are doubled once more so the MAD
    comparison `2*d > 3*mad4` stays in integers end to end — no float
    epsilon anywhere. Two grouped exact percentiles + one join, all
    map-side combinable; fence rows (one per group) broadcast back.
    """
    cents = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("c"),
    )
    med = cents.groupBy("o_orderpriority").agg(
        (2 * F.percentile("c", F.lit(0.5))).cast("bigint").alias("med2")
    )
    dev = cents.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "c",
        "med2",
        F.abs(2 * F.col("c") - F.col("med2")).alias("d"),
    )
    mad = dev.groupBy("o_orderpriority").agg(
        (2 * F.percentile("d", F.lit(0.5))).cast("bigint").alias("mad4")
    )
    out = F.col("d") * 2 > F.col("mad4") * 3
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority", "med2", "mad4")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(out, 1).otherwise(0)).alias("n_outliers"),
            F.max(F.when(out, F.col("c"))).alias("max_outlier_cents"),
        )
        .select(
            "o_orderpriority",
            "n",
            F.col("med2").alias("median_half_cents"),
            F.col("mad4").alias("mad_quarter_cents"),
            "n_outliers",
            "max_outlier_cents",
        )
    )


@register(
    "dq_drift_tvd",
    oracle="""
    WITH days AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events
    ),
    mid AS (
        SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM days
    ),
    counts AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN day < (SELECT mid FROM mid)
                        THEN 1 ELSE 0 END) AS BIGINT) AS a_n,
               CAST(SUM(CASE WHEN day >= (SELECT mid FROM mid)
                        THEN 1 ELSE 0 END) AS BIGINT) AS b_n
        FROM days GROUP BY event_type
    ),
    tot AS (
        SELECT SUM(a_n) AS na, SUM(b_n) AS nb FROM counts
    ),
    per AS (
        SELECT c.event_type, c.a_n, c.b_n,
               abs(c.a_n * t.nb - c.b_n * t.na) * 1000000
                   // (t.na * t.nb) AS abs_share_diff_ppm,
               CASE WHEN c.a_n * t.nb > c.b_n * t.na THEN -1
                    WHEN c.a_n * t.nb < c.b_n * t.na THEN 1
                    ELSE 0 END AS drift_sign
        FROM counts c CROSS JOIN tot t
    )
    SELECT event_type, a_n, b_n,
           CAST(abs_share_diff_ppm AS BIGINT) AS abs_share_diff_ppm,
           CAST(drift_sign AS BIGINT) AS drift_sign
    FROM per
    UNION ALL
    SELECT '__tvd__' AS event_type,
           CAST(t.na AS BIGINT), CAST(t.nb AS BIGINT),
           CAST(SUM(abs(c.a_n * t.nb - c.b_n * t.na)) * 1000000
                // (2 * t.na * t.nb) AS BIGINT),
           CAST(0 AS BIGINT)
    FROM counts c CROSS JOIN tot t GROUP BY t.na, t.nb
    """,
)
def dq_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: total variation distance between
    the event-type mix of the first and second halves of the stream
    (the log-free alternative to PSI/KL — those need ln(), which
    differs between engines by 1 ulp on ~1% of inputs; TVD is
    Σ|p−q|/2, exact in integers). Per-category rows carry the signed
    share drift in ppm via cross-multiplication (a_n·Nb vs b_n·Na —
    no per-engine float shares ever exist), and a '__tvd__' summary
    row folds the same numerators into the distance.

    One grouped count with two conditional sums (single scan), a
    category-sized total that broadcasts, and O(k) final arithmetic —
    at 100 TB the shuffle carries k event types per map task.
    """
    days = events_daily_by_type(spark, sf_dir).select(
        "event_type", "day", "n"
    )
    mid = days.agg(
        ((F.min("day") + F.max("day") + 1) / 2).cast("long").alias("mid")
    )
    counts = (
        days.crossJoin(F.broadcast(mid))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("day") < F.col("mid"), F.col("n")).otherwise(0)
            ).alias("a_n"),
            F.sum(
                F.when(F.col("day") >= F.col("mid"), F.col("n")).otherwise(0)
            ).alias("b_n"),
        )
    )
    tot = counts.agg(F.sum("a_n").alias("na"), F.sum("b_n").alias("nb"))
    joined = counts.crossJoin(F.broadcast(tot))
    per = joined.select(
        "event_type",
        "a_n",
        "b_n",
        F.expr("abs(a_n * nb - b_n * na) * 1000000 div (na * nb)")
        .cast("bigint")
        .alias("abs_share_diff_ppm"),
        F.expr(
            "CASE WHEN a_n * nb > b_n * na THEN -1"
            " WHEN a_n * nb < b_n * na THEN 1 ELSE 0 END"
        )
        .cast("bigint")
        .alias("drift_sign"),
    )
    total = joined.groupBy("na", "nb").agg(
        F.sum(F.expr("abs(a_n * nb - b_n * na)")).alias("num")
    ).select(
        F.lit("__tvd__").alias("event_type"),
        F.col("na").cast("bigint").alias("a_n"),
        F.col("nb").cast("bigint").alias("b_n"),
        F.expr("num * 1000000 div (2 * na * nb)")
        .cast("bigint")
        .alias("abs_share_diff_ppm"),
        F.lit(0).cast("bigint").alias("drift_sign"),
    )
    return per.unionAll(total)


@register(
    "dq_expectations",
    oracle="""
    WITH checks AS (
        SELECT
          CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS v_key_not_null,
          CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS v_price_positive,
          CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1
                   ELSE 0 END) AS BIGINT) AS v_status_enum,
          CAST(SUM(CASE WHEN o_orderdate < DATE '1992-01-01'
                        OR o_orderdate > DATE '1998-12-31' THEN 1
                   ELSE 0 END) AS BIGINT) AS v_date_range,
          CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority,
                        '^[1-5]-[A-Z]+$') THEN 1 ELSE 0 END) AS BIGINT)
              AS v_priority_format,
          CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
              AS v_key_unique,
          CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM orders
    )
    SELECT c.name AS constraint_name, c.violations,
           n.n_rows,
           CAST(CASE WHEN c.violations = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS passed
    FROM (
        SELECT 'key_not_null' AS name, v_key_not_null AS violations
            FROM checks
        UNION ALL SELECT 'price_positive', v_price_positive FROM checks
        UNION ALL SELECT 'status_enum', v_status_enum FROM checks
        UNION ALL SELECT 'date_range', v_date_range FROM checks
        UNION ALL SELECT 'priority_format', v_priority_format FROM checks
        UNION ALL SELECT 'key_unique', v_key_unique FROM checks
    ) c CROSS JOIN (SELECT n_rows FROM checks) n
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite (the Deequ / Great Expectations
    shape): not-null, positivity, enum membership, date range, regexp
    format, and key uniqueness evaluated in ONE scan — every
    constraint is a conditional sum inside the same aggregate, so
    adding the 50th check costs a column, not a pass. The wide 1-row
    result unpivots into the (constraint, violations, passed) report
    a quality gate consumes. Uniqueness rides the same aggregate as
    COUNT(*) − COUNT(DISTINCT key) (the one distinct in the pass).

    At 100 TB this is the audit you can afford: single scan,
    map-side partial aggregation, a 6-row report. The regexp is
    anchored RE2-compatible syntax that Spark's `rlike` and DuckDB's
    `regexp_matches` interpret identically.
    """
    checks = load_table(spark, sf_dir, "orders").agg(
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
            "v_key_not_null"
        ),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "v_price_positive"
        ),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("v_status_enum"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
                | (F.col("o_orderdate") > F.lit("1998-12-31").cast("date")),
                1,
            ).otherwise(0)
        ).alias("v_date_range"),
        F.sum(
            F.when(
                ~F.col("o_orderpriority").rlike("^[1-5]-[A-Z]+$"), 1
            ).otherwise(0)
        ).alias("v_priority_format"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("v_key_unique"),
        F.count("*").alias("n_rows"),
    )
    report = checks.selectExpr(
        "stack(6,"
        " 'key_not_null', v_key_not_null,"
        " 'price_positive', v_price_positive,"
        " 'status_enum', v_status_enum,"
        " 'date_range', v_date_range,"
        " 'priority_format', v_priority_format,"
        " 'key_unique', v_key_unique"
        ") AS (constraint_name, violations)",
        "n_rows",
    )
    return report.select(
        "constraint_name",
        F.col("violations").cast("bigint").alias("violations"),
        "n_rows",
        F.when(F.col("violations") == 0, 1).otherwise(0).cast("bigint").alias(
            "passed"
        ),
    )


@register(
    "dq_bloom_audit",
    oracle="""
    WITH present AS (
        SELECT DISTINCT o_custkey AS k FROM orders
        WHERE o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1996-07-01'
    ),
    bits AS (
        SELECT (CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || ':'
                    || CAST(k AS VARCHAR)), 1, 15) AS BIGINT) // 63) % 64
                   AS word,
               CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || ':'
                    || CAST(k AS VARCHAR)), 1, 15) AS BIGINT) % 63 AS bit
        FROM present CROSS JOIN (SELECT unnest(range(0, 3)) AS seed)
    ),
    sketch AS (
        SELECT word, bit_or((1::BIGINT) << bit) AS mask
        FROM bits GROUP BY word
    ),
    probes AS (
        SELECT c.c_custkey,
               (CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || ':'
                    || CAST(c.c_custkey AS VARCHAR)), 1, 15) AS BIGINT) // 63)
                   % 64 AS word,
               CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || ':'
                    || CAST(c.c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 63
                   AS bit
        FROM customer c CROSS JOIN (SELECT unnest(range(0, 3)) AS seed)
    ),
    claimed AS (
        SELECT p.c_custkey,
               CAST(MIN(CASE WHEN (s.mask & ((1::BIGINT) << p.bit)) <> 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS member
        FROM probes p LEFT JOIN sketch s ON s.word = p.word
        GROUP BY p.c_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(SUM(c.member) AS BIGINT) AS n_claimed,
           CAST(SUM(CASE WHEN pr.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
           CAST(SUM(CASE WHEN c.member = 1 AND pr.k IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
           CAST(SUM(CASE WHEN c.member = 0 AND pr.k IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negatives
    FROM claimed c LEFT JOIN present pr ON pr.k = c.c_custkey
    """,
)
def dq_bloom_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter built, probed, and audited entirely in relational
    operators: a 64-word × 63-bit filter over H1-1996
    buyers (3 portable hashes per key, OR-folded into per-word masks)
    — a strict subset of customers, so absent keys exist and the FP
    rate is measurable — every customer probed against it, and the filter's claims graded against
    the true semi-join — n_false_negatives is PROVABLY 0 (the Bloom
    guarantee; the query exhibits the proof) while the measured
    false-positive count audits the m/n/d sizing. Complements
    join_bloom_runtime (Spark's own injected runtime filter) by
    making the data structure itself inspectable and oracle-checked.
    Bits stay in 0..62 — the engines disagree on shifting into the
    int64 sign bit (DuckDB raises, Spark wraps).

    Scale: the sketch is 64 rows and broadcasts; build and probe are
    map-side explodes (d=3) with a tiny bit_or shuffle — the
    membership structure a 100 TB anti-join prefilter actually ships.
    """
    def wordbit(key_col: str):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("seed").cast("string"),
                        F.lit(":"),
                        F.col(key_col).cast("string"),
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return h

    seeds = F.explode(F.sequence(F.lit(0), F.lit(2))).alias("seed")
    present = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("date"))
        )
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    bits = present.select("k", seeds).select(
        (wordbit("k") % (63 * 64)).alias("h")
    ).select(
        F.expr("h div 63").alias("word"), F.expr("h % 63").alias("bit")
    )
    sketch = bits.groupBy("word").agg(
        F.bit_or(F.expr("CAST(1 AS BIGINT) << CAST(bit AS INT)")).alias("mask")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    probes = cust.select("c_custkey", seeds).select(
        "c_custkey", (wordbit("c_custkey") % (63 * 64)).alias("h")
    ).select(
        "c_custkey",
        F.expr("h div 63").alias("word"),
        F.expr("h % 63").alias("bit"),
    )
    claimed = (
        probes.join(F.broadcast(sketch), "word", "left")
        .select(
            "c_custkey",
            F.when(
                F.expr("mask & (CAST(1 AS BIGINT) << CAST(bit AS INT))") != 0, 1
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("c_custkey")
        .agg(F.min("hit").alias("member"))
    )
    return (
        claimed.join(
            F.broadcast(present.withColumnRenamed("k", "c_custkey").withColumn("present", F.lit(1))),
            "c_custkey",
            "left",
        )
        .agg(
            F.count("*").alias("n_probed"),
            F.sum("member").alias("n_claimed"),
            F.sum(F.when(F.col("present").isNotNull(), 1).otherwise(0)).alias(
                "n_true"
            ),
            F.sum(
                F.when((F.col("member") == 1) & F.col("present").isNull(), 1)
                .otherwise(0)
            ).alias("n_false_positives"),
            F.sum(
                F.when((F.col("member") == 0) & F.col("present").isNotNull(), 1)
                .otherwise(0)
            ).alias("n_false_negatives"),
        )
    )


@register(
    "sample_bottom_k",
    oracle="""
    WITH hashed AS (
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
               CAST('0x' || substr(md5('bk:' || CAST(o_orderkey AS VARCHAR)),
                    1, 15) AS BIGINT) AS h
        FROM orders
    ),
    picked AS (
        SELECT o_orderkey, o_custkey, cents FROM (
            SELECT *, row_number() OVER (ORDER BY h, o_orderkey) AS rn
            FROM hashed
        ) WHERE rn <= 200
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           CAST(SUM(cents) AS BIGINT) AS sample_cents,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM picked
    """,
)
def sample_bottom_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample via bottom-k hashing — the
    deterministic distributed replacement for reservoir sampling:
    take the k=200 rows with the smallest portable hash values.
    Unlike `sample_hash` (Bernoulli: fixed RATE, variable size) this
    yields an exactly-k sample; unlike a reservoir it needs no
    sequential state, composes under union (bottom-k of bottom-ks),
    and gives the same sample on every rerun and engine — which is
    why it's also the KMV sketch's sampling core (agg_kmv_sketch).
    Summary moments pin the exact membership through the hash check.

    Plan: the rank ≤ k over a global hash order is a WindowGroupLimit
    — each partition keeps its own k smallest, then one k-sized merge;
    no full sort materializes.
    """
    hashed = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("bk:"), F.col("o_orderkey").cast("string")
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    w = Window.orderBy("h", "o_orderkey")
    picked = hashed.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 200
    )
    return picked.agg(
        F.count("*").alias("n_sample"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.sum("cents").alias("sample_cents"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@register(
    "dq_fk_inference",
    oracle="""
    WITH pairs AS (
        SELECT 'orders.o_custkey->customer.c_custkey' AS candidate,
               (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS n_child,
               (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM orders) a
                WHERE EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = a.o_custkey)) AS n_contained
        UNION ALL
        SELECT 'lineitem.l_partkey->part.p_partkey',
               (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
               (SELECT COUNT(*) FROM (SELECT DISTINCT l_partkey FROM lineitem) a
                WHERE EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = a.l_partkey))
        UNION ALL
        SELECT 'customer.c_nationkey->nation.n_nationkey',
               (SELECT COUNT(DISTINCT c_nationkey) FROM customer),
               (SELECT COUNT(*) FROM
                    (SELECT DISTINCT c_nationkey FROM customer) a
                WHERE EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = a.c_nationkey))
        UNION ALL
        SELECT 'part.p_size->nation.n_nationkey',
               (SELECT COUNT(DISTINCT p_size) FROM part),
               (SELECT COUNT(*) FROM (SELECT DISTINCT p_size FROM part) a
                WHERE EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = a.p_size))
    )
    SELECT candidate,
           CAST(n_child AS BIGINT) AS n_child_distinct,
           CAST(n_contained AS BIGINT) AS n_contained,
           CAST(n_contained * 1000000 // n_child AS BIGINT)
               AS containment_ppm,
           CAST(CASE WHEN n_contained * 100 >= n_child * 95
                THEN 1 ELSE 0 END AS BIGINT) AS inferred_fk
    FROM pairs
    """,
)
def dq_fk_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key discovery by inclusion dependency: for each
    candidate column pair, the fraction of the child side's distinct
    values contained in the parent side — the schema-profiling
    primitive behind automatic ER diagrams and join recommendations.
    Three true FK edges of the star schema plus one decoy
    (p_size→n_nationkey: high accidental containment of small ints —
    exactly the false-positive a naive threshold admits, kept in the
    report to show why containment needs a cardinality prior).
    Containment in exact ppm; the ≥95% inference gate is
    cross-multiplied.

    Each pair is distinct-then-LEFT-SEMI (parent side broadcasts when
    it's a dim); candidate pairs at real scale come from column-type
    pruning, then this same per-pair plan runs for each.
    """
    def leg(name, child_df, child_col, parent_df, parent_col):
        child = child_df.select(F.col(child_col).alias("v")).distinct()
        parent = parent_df.select(F.col(parent_col).alias("v")).distinct()
        contained = child.join(parent, "v", "left_semi")
        return (
            child.agg(F.count("*").alias("n_child"))
            .crossJoin(contained.agg(F.count("*").alias("n_contained")))
            .select(
                F.lit(name).alias("candidate"), "n_child", "n_contained"
            )
        )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    pairs = (
        leg("orders.o_custkey->customer.c_custkey", orders, "o_custkey",
            customer, "c_custkey")
        .unionAll(
            leg("lineitem.l_partkey->part.p_partkey", lineitem, "l_partkey",
                part, "p_partkey")
        )
        .unionAll(
            leg("customer.c_nationkey->nation.n_nationkey", customer,
                "c_nationkey", nation, "n_nationkey")
        )
        .unionAll(
            leg("part.p_size->nation.n_nationkey", part, "p_size", nation,
                "n_nationkey")
        )
    )
    # empty in, empty out: n_child = 0 happens only when the child
    # table itself is empty (a pruned-away partition) and would raise
    # ANSI DIVIDE_BY_ZERO; real data always has n_child >= 1
    pairs = pairs.where(F.col("n_child") > 0)
    return pairs.select(
        "candidate",
        F.col("n_child").alias("n_child_distinct"),
        "n_contained",
        F.expr("n_contained * 1000000 div n_child").cast("bigint").alias(
            "containment_ppm"
        ),
        F.when(F.expr("n_contained * 100 >= n_child * 95"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("inferred_fk"),
    )


@register(
    "dq_fd_discovery",
    oracle="""
    WITH cands AS (
        SELECT 'o_custkey->o_orderpriority' AS fd,
               CAST(COUNT(*) AS BIGINT) AS n_lhs,
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating
        FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS k
              FROM orders GROUP BY o_custkey)
        UNION ALL
        SELECT 'l_orderkey->l_returnflag',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS k
              FROM lineitem GROUP BY l_orderkey)
        UNION ALL
        SELECT 'c_custkey->c_mktsegment',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT c_custkey, COUNT(DISTINCT c_mktsegment) AS k
              FROM customer GROUP BY c_custkey)
        UNION ALL
        SELECT 'n_nationkey->n_regionkey',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT n_nationkey, COUNT(DISTINCT n_regionkey) AS k
              FROM nation GROUP BY n_nationkey)
    )
    SELECT fd, n_lhs, n_violating,
           CAST(n_violating * 1000000 // n_lhs AS BIGINT) AS violation_ppm,
           CAST(CASE WHEN n_violating = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS holds_exactly
    FROM cands
    """,
)
def dq_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery: for each candidate A→B, the
    count of A-groups that map to more than one B value — the
    normalization/profiling primitive (key dependencies hold exactly;
    behavioral ones like customer→priority hold only approximately,
    and the violation rate in exact ppm is what approximate-FD mining
    reports). Two exact deps (c_custkey→segment, nation→region) and
    two approximate ones keep the report honest in both directions.

    Each candidate is one grouped distinct-count with map-side
    partials (group by LHS, count distinct RHS) — at real scale
    candidate generation prunes by column-pair statistics first, then
    this per-candidate plan runs unchanged.
    """
    def leg(name, df, lhs, rhs):
        g = df.groupBy(lhs).agg(F.countDistinct(rhs).alias("k"))
        return g.agg(
            F.lit(name).alias("fd"),
            F.count("*").alias("n_lhs"),
            F.sum(F.when(F.col("k") > 1, 1).otherwise(0)).alias("n_violating"),
        )

    cands = (
        leg("o_custkey->o_orderpriority",
            load_table(spark, sf_dir, "orders"), "o_custkey",
            "o_orderpriority")
        .unionAll(
            leg("l_orderkey->l_returnflag",
                load_table(spark, sf_dir, "lineitem"), "l_orderkey",
                "l_returnflag")
        )
        .unionAll(
            leg("c_custkey->c_mktsegment",
                load_table(spark, sf_dir, "customer"), "c_custkey",
                "c_mktsegment")
        )
        .unionAll(
            leg("n_nationkey->n_regionkey",
                load_table(spark, sf_dir, "nation"), "n_nationkey",
                "n_regionkey")
        )
    )
    return cands.select(
        "fd",
        "n_lhs",
        "n_violating",
        F.expr("n_violating * 1000000 div n_lhs").cast("bigint").alias(
            "violation_ppm"
        ),
        F.when(F.col("n_violating") == 0, 1).otherwise(0).cast("bigint").alias(
            "holds_exactly"
        ),
    )


@register(
    "dq_duplicate_payments",
    oracle="""
    WITH feed AS (
        SELECT o_custkey, o_orderdate, o_totalprice, o_orderkey FROM orders
        UNION ALL
        SELECT o_custkey, o_orderdate, o_totalprice,
               o_orderkey + 30000000 AS o_orderkey
        FROM orders WHERE o_orderkey % 211 = 0
    ),
    keyed AS (
        SELECT o_custkey, o_orderdate,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
               o_orderkey
        FROM feed
    ),
    grouped AS (
        SELECT o_custkey, o_orderdate, cents,
               CAST(COUNT(*) AS BIGINT) AS n_dups,
               CAST(MIN(o_orderkey) AS BIGINT) AS first_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS last_key
        FROM keyed
        GROUP BY o_custkey, o_orderdate, cents
        HAVING COUNT(*) > 1
    )
    SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           cents, n_dups, first_key, last_key,
           CAST((n_dups - 1) * cents AS BIGINT) AS exposure_cents
    FROM grouped
    """,
)
def dq_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screen: same customer, same day, same
    exact amount, different order keys — the accounts-payable audit
    that recovers real money (double-submitted invoices, retried
    charges). The feed replays every 211th order under a new key —
    the planted duplicates a test bench needs (dq_snapshot_diff's
    derived-drift pattern); natural collisions surface too. Reports
    each suspicious group with its key range and
    the recoverable exposure (n−1)·amount in exact cents. A
    first-pass exact match; dedup_record_linkage and join_recon_fuzzy
    are the fuzzy escalations when amounts or dates drift.

    One grouped count with map-side combine on a composite key —
    the cheapest audit per row scanned in the suite.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice", "o_orderkey"
    )
    feed = orders.unionAll(
        orders.where(F.col("o_orderkey") % 211 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + 30000000
        )
    )
    keyed = feed.select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    grouped = (
        keyed.groupBy("o_custkey", "o_orderdate", "cents")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
        )
        .where(F.col("n_dups") > 1)
    )
    return grouped.select(
        F.col("o_custkey").cast("bigint").alias("o_custkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "cents",
        "n_dups",
        "first_key",
        "last_key",
        ((F.col("n_dups") - 1) * F.col("cents")).cast("bigint").alias(
            "exposure_cents"
        ),
    )


@register(
    "dq_health_score",
    oracle="""
    WITH null_leg AS (
        SELECT CAST(SUM(CASE WHEN o_orderpriority IS NULL
                        OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS bad,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
    ),
    dup_leg AS (
        SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS bad,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
    ),
    orphan_leg AS (
        SELECT CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS bad,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    range_leg AS (
        SELECT CAST(SUM(CASE WHEN o_totalprice <= 0
                        OR o_totalprice > 1000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS bad,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
    ),
    legs AS (
        SELECT 'completeness' AS component, 40 AS weight, bad, n
            FROM null_leg
        UNION ALL SELECT 'uniqueness', 25, bad, n FROM dup_leg
        UNION ALL SELECT 'referential', 25, bad, n FROM orphan_leg
        UNION ALL SELECT 'validity', 10, bad, n FROM range_leg
    )
    SELECT component,
           CAST(weight AS BIGINT) AS weight,
           bad AS n_bad, n,
           CAST((n - bad) * 1000000 // n AS BIGINT) AS component_ppm,
           CAST((SELECT SUM(weight * ((n - bad) * 1000000 // n)) // 100
                 FROM legs) AS BIGINT) AS overall_health_ppm
    FROM legs
    """,
)
def dq_health_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite data-health score — the executive rollup of the DQ
    family: completeness (40%), key uniqueness (25%), referential
    integrity (25%), and range validity (10%) each scored in exact
    ppm and folded into one weighted figure (integer weights, floor
    divisions — the score is reproducible to the ppm, so a dashboard
    diff IS a data change, never float noise). Component rows ride
    along so the headline number is always decomposable — the
    anti-pattern this op exists to prevent is an opaque "87" nobody
    can drill into.

    Each leg is one aggregate (the orphan leg broadcasts the customer
    dim); the rollup is O(4).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    null_leg = orders.agg(
        F.sum(
            F.when(
                F.col("o_orderpriority").isNull()
                | F.col("o_totalprice").isNull(),
                1,
            ).otherwise(0)
        ).alias("bad"),
        F.count("*").alias("n"),
    ).select(F.lit("completeness").alias("component"), F.lit(40).alias("weight"), "bad", "n")
    dup_leg = orders.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("bad"),
        F.count("*").alias("n"),
    ).select(F.lit("uniqueness").alias("component"), F.lit(25).alias("weight"), "bad", "n")
    orphan_leg = (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
            "left",
        )
        .agg(
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias(
                "bad"
            ),
            F.count("*").alias("n"),
        )
        .select(F.lit("referential").alias("component"), F.lit(25).alias("weight"), "bad", "n")
    )
    range_leg = orders.agg(
        F.sum(
            F.when(
                (F.col("o_totalprice") <= 0) | (F.col("o_totalprice") > 1000000),
                1,
            ).otherwise(0)
        ).alias("bad"),
        F.count("*").alias("n"),
    ).select(F.lit("validity").alias("component"), F.lit(10).alias("weight"), "bad", "n")
    legs = null_leg.unionAll(dup_leg).unionAll(orphan_leg).unionAll(range_leg)
    # empty in, empty out: every leg carries n = COUNT(*) over orders;
    # n = 0 (zero-row input) would raise ANSI DIVIDE_BY_ZERO in both
    # ppm divisions below — real data always has n >= 1
    legs = legs.where(F.col("n") > 0)
    overall = legs.agg(
        F.expr("SUM(weight * ((n - bad) * 1000000 div n)) div 100")
        .cast("bigint")
        .alias("overall_health_ppm")
    )
    return legs.crossJoin(F.broadcast(overall)).select(
        "component",
        F.col("weight").cast("bigint").alias("weight"),
        F.col("bad").alias("n_bad"),
        "n",
        F.expr("(n - bad) * 1000000 div n").cast("bigint").alias(
            "component_ppm"
        ),
        "overall_health_ppm",
    )


@register(
    "dq_null_pattern",
    oracle="""
    WITH pat AS (
        SELECT
            (CASE WHEN value IS NULL THEN 4 ELSE 0 END
             + CASE WHEN props IS NULL OR props = '' THEN 2 ELSE 0 END
             + CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS pattern,
            user_id
        FROM events
    )
    SELECT CAST(pattern AS INT) AS pattern,
           CASE WHEN pattern & 4 > 0 THEN 'value' ELSE '' END ||
           CASE WHEN pattern & 2 > 0 THEN '|props' ELSE '' END ||
           CASE WHEN pattern & 1 > 0 THEN '|event_type' ELSE '' END
               AS missing_cols,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM pat GROUP BY pattern
    """,
)
def dq_null_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-pattern analysis: pack each row's missingness into a bit
    mask and count rows per PATTERN (not per column) — the profiling
    view that reveals co-missingness (e.g. value and props always
    null together => one upstream producer bug, not two). A
    completeness-per-column profile (dq_profile) cannot see this.
    On the pristine fixtures every row lands in pattern 0 (all
    present) — the dashboard's green state, which is itself the
    assertion the check exists to make.
    Integer bitmask + label string, one partial-agg shuffle on <= 8
    cells; scales as a single pass.
    """
    ev = load_table(spark, sf_dir, "events")
    pattern = (
        F.when(F.col("value").isNull(), 4).otherwise(0)
        + F.when(
            F.col("props").isNull() | (F.col("props") == ""), 2
        ).otherwise(0)
        + F.when(F.col("event_type").isNull(), 1).otherwise(0)
    )
    pat = ev.select(pattern.cast("int").alias("pattern"), "user_id")
    label = F.concat(
        F.when(F.expr("pattern & 4 > 0"), F.lit("value")).otherwise(F.lit("")),
        F.when(F.expr("pattern & 2 > 0"), F.lit("|props")).otherwise(
            F.lit("")
        ),
        F.when(F.expr("pattern & 1 > 0"), F.lit("|event_type")).otherwise(
            F.lit("")
        ),
    )
    return pat.groupBy("pattern").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    ).select(
        "pattern",
        label.alias("missing_cols"),
        "n_rows",
        "n_users",
    )


@register(
    "dq_id_gaps",
    oracle="""
    WITH ids AS (SELECT DISTINCT o_orderkey AS id FROM orders
                 WHERE o_orderstatus = 'O'),
    nb AS (
        SELECT id, lead(id) OVER (ORDER BY id) AS next_id
        FROM ids
    )
    SELECT id + 1 AS gap_start, next_id - 1 AS gap_end,
           next_id - id - 1 AS gap_len
    FROM nb
    WHERE next_id - id > 1 AND next_id - id - 1 <= 50
    """,
)
def dq_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-id range detection over the open-order key feed: each
    gap between consecutive present ids becomes one (start, end,
    length) row — the dropped-batch detector for sequence-keyed
    feeds (the status filter plays the role of the upstream producer
    whose dropped batches leave holes; the fixtures' raw orderkeys
    are dense). lead() over the distinct-id frame turns "find holes"
    into a linear window instead of an anti-join against a generated
    series (which would materialize the FULL dense range — at 100 TB
    that generator is bigger than the data). Gaps longer than 50 are
    suppressed as intentional keyspace jumps.

    Scale note: the lead() is DISTRIBUTED — range-repartition the
    distinct ids (layout pinned with localCheckpoint), lead WITHIN
    each partition, and resolve each partition's last-row successor
    from the NEXT partition's collected min(id) (range partitions are
    totally ordered by id, so that IS the global successor; the final
    partition's lookup misses → NULL, exactly lead()'s tail). One
    O(32)-row collect, no single-partition sort.
    """
    ids = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O")
        .select(F.col("o_orderkey").alias("id"))
        .distinct()
    )
    rp = ids.repartitionByRange(32, F.col("id")).localCheckpoint()
    wp = rp.withColumn("__pid", F.spark_partition_id())
    mins = {
        r["__pid"]: r["mn"]
        for r in wp.groupBy("__pid").agg(F.min("id").alias("mn")).collect()
    }
    next_first: dict[int, int] = {}
    pids = sorted(mins)
    for a, b in zip(pids, pids[1:]):
        next_first[a] = mins[b]
    if next_first:
        nf_map = F.create_map(
            *[F.lit(x) for kv in next_first.items() for x in kv]
        )[F.col("__pid")]
    else:
        nf_map = F.lit(None).cast("long")
    w = Window.partitionBy("__pid").orderBy("id")
    nb = wp.select(
        "id", F.coalesce(F.lead("id").over(w), nf_map).alias("next_id")
    )
    return nb.where(
        (F.col("next_id") - F.col("id") > 1)
        & (F.col("next_id") - F.col("id") - 1 <= 50)
    ).select(
        (F.col("id") + 1).alias("gap_start"),
        (F.col("next_id") - 1).alias("gap_end"),
        (F.col("next_id") - F.col("id") - 1).alias("gap_len"),
    )


@register(
    "dq_completeness_matrix",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 0 ELSE 1 END)
                * 1000000 // COUNT(*) AS BIGINT) AS text_ppm,
           CAST(SUM(CASE WHEN lang IS NULL OR lang = '' THEN 0 ELSE 1 END)
                * 1000000 // COUNT(*) AS BIGINT) AS lang_ppm,
           CAST(SUM(CASE WHEN n_chars IS NULL OR n_chars = 0 THEN 0 ELSE 1
                    END) * 1000000 // COUNT(*) AS BIGINT) AS n_chars_ppm
    FROM documents GROUP BY source
    """,
)
def dq_completeness_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness matrix: per-SOURCE non-null/non-empty rates for
    every payload column, as exact ppm integers (floor division — no
    float ratios to diverge). The grouped layout is the triage view:
    a column 100% complete overall but 0% from one source is an
    integration break, invisible in dq_profile's global rates. One
    partial-agg pass; conditional counts fuse into a single
    aggregation node.
    """
    docs = load_table(spark, sf_dir, "documents")
    out = docs.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.expr(
            "CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 0 ELSE 1 END)"
            " * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("text_ppm"),
        F.expr(
            "CAST(SUM(CASE WHEN lang IS NULL OR lang = '' THEN 0 ELSE 1 END)"
            " * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("lang_ppm"),
        F.expr(
            "CAST(SUM(CASE WHEN n_chars IS NULL OR n_chars = 0 THEN 0 ELSE 1"
            " END) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("n_chars_ppm"),
    )
    return out


@register(
    "dq_monotonic_audit",
    oracle="""
    WITH m AS (
        SELECT user_id, date_trunc('minute', ts) AS tmin,
               CAST(COUNT(*) AS BIGINT) AS n_in_min
        FROM events GROUP BY user_id, date_trunc('minute', ts)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_active_minutes,
           CAST(SUM(CASE WHEN n_in_min > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_burst_minutes,
           CAST(MAX(n_in_min) AS BIGINT) AS max_per_minute
    FROM m
    GROUP BY user_id
    HAVING SUM(CASE WHEN n_in_min > 1 THEN 1 ELSE 0 END) > 0
    """,
)
def dq_monotonic_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time granularity audit per user: minutes in which a user
    produced MORE than one event — the check that decides whether
    (user_id, minute) is a safe idempotency/ordering key downstream,
    or whether every window needs the (ts, event_id) tiebreak this
    repo uses. (The fixtures carry no microsecond-exact collisions —
    verified — so the audit runs at the minute grain where bursts
    actually occur.) Only offending users survive. One hash
    aggregation to (user, minute) cells, one to users — both
    key-partitioned, no windows at all.
    """
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy(
        "user_id", F.date_trunc("minute", "ts").alias("tmin")
    ).agg(F.count("*").alias("n_in_min"))
    burst = F.when(F.col("n_in_min") > 1, 1).otherwise(0)
    return (
        m.groupBy("user_id")
        .agg(
            F.count("*").alias("n_active_minutes"),
            F.sum(burst).alias("n_burst_minutes"),
            F.max("n_in_min").alias("max_per_minute"),
        )
        .where(F.col("n_burst_minutes") > 0)
    )




@register(
    "scd2_compress",
    oracle="""
    WITH hist AS (
        SELECT o_custkey AS k, o_orderdate AS ts, o_orderpriority AS attr,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn,
               row_number() OVER (PARTITION BY o_custkey, o_orderpriority
                                  ORDER BY o_orderdate, o_orderkey) AS rn_v
        FROM orders
    ),
    runs AS (
        SELECT k, attr, rn - rn_v AS island,
               CAST(COUNT(*) AS BIGINT) AS n_versions,
               strftime(MIN(ts), '%Y-%m-%d') AS valid_from,
               strftime(MAX(ts), '%Y-%m-%d') AS last_seen
        FROM hist GROUP BY k, attr, rn - rn_v
    )
    SELECT k AS entity_key, attr, n_versions, valid_from, last_seen
    FROM runs WHERE n_versions >= 3
    """,
)
def scd2_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history compression — collapse CONSECUTIVE versions with
    an unchanged attribute into one validity period (the maintenance
    job that undoes "type-2 everything" bloat: a dimension reloaded
    nightly writes 365 identical rows/year; compressed, each run
    becomes one). Runs found by the two-row_number islands trick
    (rn − rn_per_value is constant exactly within a maximal
    same-value run); orders plays the version log with priority as
    the tracked attribute; runs shorter than 3 are left alone (the
    compaction payoff threshold). Windows are ENTITY-partitioned
    (custkey) — parallel by key, never a global sort.
    """
    orders = load_table(spark, sf_dir, "orders")
    w_all = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    w_val = Window.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    hist = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderpriority").alias("attr"),
        (F.row_number().over(w_all) - F.row_number().over(w_val)).alias(
            "island"
        ),
    )
    runs = hist.groupBy("k", "attr", "island").agg(
        F.count("*").alias("n_versions"),
        F.date_format(F.min("ts"), "yyyy-MM-dd").alias("valid_from"),
        F.date_format(F.max("ts"), "yyyy-MM-dd").alias("last_seen"),
    )
    return runs.where(F.col("n_versions") >= 3).select(
        F.col("k").alias("entity_key"),
        "attr",
        "n_versions",
        "valid_from",
        "last_seen",
    )


@register(
    "dq_cross_table_rule",
    oracle="""
    WITH j AS (
        SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, o.o_orderdate,
               CAST(year(o.o_orderdate) AS BIGINT) AS yr
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT yr,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ship_before_order,
           CAST(SUM(CASE WHEN l_shipdate >= o_orderdate
                         AND l_shipdate < o_orderdate + INTERVAL 180 DAY
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_in_sla,
           CAST(SUM(CASE WHEN l_shipdate >= o_orderdate + INTERVAL 180 DAY
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_late
    FROM j GROUP BY yr
    """,
)
def dq_cross_table_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-TABLE integrity rule (ship date must fall within
    [order date, order date + 180d)) — the class of constraint
    single-table profilers (dq_profile, dq_expectations) cannot
    check because it lives on the JOIN. Violations bucketed by year
    so a regression pins itself to the load that introduced it. One
    key-partitioned join (the same shuffle any o⋈l query pays) +
    conditional counts.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.year("o_orderdate").cast("long").alias("yr"),
        "l_shipdate",
        "o_orderdate",
    )
    before = F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(
        0
    )
    in_sla = F.when(
        (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (
            F.col("l_shipdate")
            < F.col("o_orderdate") + F.expr("INTERVAL 180 DAY")
        ),
        1,
    ).otherwise(0)
    late = F.when(
        F.col("l_shipdate")
        >= F.col("o_orderdate") + F.expr("INTERVAL 180 DAY"),
        1,
    ).otherwise(0)
    return j.groupBy("yr").agg(
        F.count("*").alias("n_lines"),
        F.sum(before).alias("n_ship_before_order"),
        F.sum(in_sla).alias("n_in_sla"),
        F.sum(late).alias("n_late"),
    )


@register(
    "ml_apriori_rules",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM items),
    item_cnt AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM items GROUP BY l_partkey
    ),
    pair AS (
        SELECT a.l_partkey AS ant, b.l_partkey AS cons,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey != b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 3
    )
    SELECT p.ant, p.cons, p.n_ab,
           CAST(p.n_ab * 1000000 // n.n_orders AS BIGINT) AS support_ppm,
           CAST(p.n_ab * 1000000 // ca.cnt AS BIGINT) AS confidence_ppm,
           CAST(CAST(p.n_ab AS HUGEINT) * n.n_orders * 1000000
                // (ca.cnt * cb.cnt) AS BIGINT) AS lift_ppm
    FROM pair p
    JOIN item_cnt ca ON ca.l_partkey = p.ant
    JOIN item_cnt cb ON cb.l_partkey = p.cons
    CROSS JOIN n
    WHERE p.n_ab * 1000000 // ca.cnt >= 100000
    """,
)
def ml_apriori_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules A -> B from order baskets — the
    Apriori output agg_basket_affinity (undirected pair ranking)
    doesn't give: per-rule support, CONFIDENCE n_ab/n_a, and lift,
    pruned at min-support 3 orders and min-confidence 10%. All three
    ratios are integer ppm floor-divisions (positive ⇒ Spark div ==
    DuckDB //); lift's n_ab·N·1e6 product is widened to DECIMAL(38)
    / HUGEINT before the division — Spark's decimal div returns
    BIGINT and matches DuckDB exactly on positive operands — so no
    int64 overflow at any corpus size.

    Scale: pair generation is keyed on l_orderkey (basket size
    bounded at 7 lines ⇒ O(n·42)); item counts join at part-dim
    size; the support filter keeps the rule list sparse.
    """
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = items.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    item_cnt = items.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    a = items.alias("a")
    b = items.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("ant"),
            F.col("b.l_partkey").alias("cons"),
        )
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= 3)
    )
    return (
        pair.join(
            item_cnt.select(
                F.col("l_partkey").alias("ant"), F.col("cnt").alias("cnt_a")
            ),
            "ant",
        )
        .join(
            item_cnt.select(
                F.col("l_partkey").alias("cons"), F.col("cnt").alias("cnt_b")
            ),
            "cons",
        )
        .crossJoin(F.broadcast(n_orders))
        .where(F.expr("n_ab * 1000000 div cnt_a >= 100000"))
        .select(
            "ant",
            "cons",
            "n_ab",
            F.expr("CAST(n_ab * 1000000 div n_orders AS BIGINT)").alias(
                "support_ppm"
            ),
            F.expr("CAST(n_ab * 1000000 div cnt_a AS BIGINT)").alias(
                "confidence_ppm"
            ),
            F.expr(
                "CAST(CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000"
                " div (cnt_a * cnt_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


@register(
    "dq_volume_anomaly",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ),
    trail AS (
        SELECT d, cnt,
               list_sort(list(cnt) OVER w) AS prev7,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_prev
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, cnt,
           CAST(prev7[4] AS BIGINT) AS med7,
           CASE WHEN abs(cnt - prev7[4]) * 2 > prev7[4]
                THEN 1 ELSE 0 END AS is_anomaly
    FROM trail WHERE n_prev = 7
    ORDER BY day
    """,
)
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly monitor: each day's row count against the
    MEDIAN of the trailing 7 days (current day excluded) — the
    load-monitoring twin of dq_anomaly_iqr's value-level check, and
    the first alarm for a stuck upstream or a double-load. The
    median of 7 is the exact 4th order statistic of a sorted
    collect_list (odd count, pure integer — no interpolation), and
    the ±50% flag is the integer comparison |cnt−med|·2 > med. No
    floats anywhere.

    Scale: day-grain after one partial count aggregation; the
    7-element lists are bounded by construction.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count("*").alias("cnt"))
    w = Window.orderBy("d").rowsBetween(-7, -1)
    trail = daily.select(
        "d",
        "cnt",
        F.sort_array(F.collect_list("cnt").over(w)).alias("prev7"),
        F.count("*").over(w).alias("n_prev"),
    ).where(F.col("n_prev") == 7)
    med = F.element_at("prev7", 4)
    return trail.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "cnt",
        med.cast("long").alias("med7"),
        F.when(F.abs(F.col("cnt") - med) * 2 > med, 1)
        .otherwise(0)
        .alias("is_anomaly"),
    ).orderBy("day")


@register(
    "dq_recon_totals",
    oracle="""
    WITH line_net AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * (10000 - CAST(ROUND(l_discount * 10000) AS BIGINT))
                        * (10000 + CAST(ROUND(l_tax * 10000) AS BIGINT)))
                    AS BIGINT) AS net_u
        FROM lineitem GROUP BY l_orderkey
    ),
    cmp AS (
        SELECT o.o_orderstatus,
               abs(l.net_u - CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                             * 100000000) AS diff_u
        FROM orders o JOIN line_net l ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN diff_u > 100000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mismatch,
           CAST(MAX(diff_u) // 100000000 AS BIGINT) AS max_diff_cents,
           CAST(SUM(CASE WHEN diff_u > 100000000 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS mismatch_ppm
    FROM cmp GROUP BY o_orderstatus
    """,
)
def dq_recon_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial reconciliation: order-header total vs the sum of its
    lines' net amounts (price x (1-discount) x (1+tax)) — the
    header/detail consistency check every billing pipeline runs.
    All arithmetic is EXACT scaled integers: cents x basis-points x
    basis-points (units of cents·1e8, bounded ~8e15 per order, well
    inside int64), so the mismatch verdict never hinges on float
    rounding; tolerance is one cent. Grouped by order status so a
    broken feed pins itself to a lifecycle stage.

    Scale: one key-partitioned partial aggregation on the fact table
    + the standard o⋈l join; report is status-grain.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    net_u = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (10000 - F.round(F.col("l_discount") * 10000).cast("long"))
        * (10000 + F.round(F.col("l_tax") * 10000).cast("long"))
    ).alias("net_u")
    line_net = li.groupBy("l_orderkey").agg(net_u)
    cmp = orders.join(
        line_net, orders.o_orderkey == line_net.l_orderkey
    ).select(
        "o_orderstatus",
        F.abs(
            F.col("net_u")
            - F.round(F.col("o_totalprice") * 100).cast("long") * 100000000
        ).alias("diff_u"),
    )
    mismatch = F.when(F.col("diff_u") > 100000000, 1).otherwise(0)
    return cmp.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(mismatch).cast("long").alias("n_mismatch"),
        F.expr("CAST(MAX(diff_u) div 100000000 AS BIGINT)").alias(
            "max_diff_cents"
        ),
        F.expr(
            "CAST(SUM(CASE WHEN diff_u > 100000000 THEN 1 ELSE 0 END)"
            " * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("mismatch_ppm"),
    )


@register(
    "dq_partition_balance",
    oracle="""
    WITH buckets AS (
        SELECT o_custkey % 32 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MIN(cnt) AS BIGINT) AS min_cnt,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           CAST(MAX(cnt) * COUNT(*) * 1000000 // SUM(cnt) AS BIGINT)
               AS max_over_avg_ppm,
           CAST((MAX(cnt) - MIN(cnt)) * 1000000 // MAX(cnt) AS BIGINT)
               AS spread_ppm
    FROM buckets
    """,
)
def dq_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew audit for a prospective shuffle/bucket key:
    row counts across 32 modulo buckets of o_custkey, summarized as
    max/avg and (max−min)/max ratios in integer ppm — the check you
    run BEFORE choosing a bucketing or repartitioning key at 100 TB,
    where one hot bucket stalls a whole stage (the static complement
    of AQE's runtime skew split, which test_plans pins on
    join_skew_salted). Pure integer counting.

    Scale: one partial-agg shuffle carrying 32 cells.
    """
    orders = load_table(spark, sf_dir, "orders")
    buckets = orders.groupBy(
        (F.col("o_custkey") % 32).alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    return buckets.agg(
        F.count("*").alias("n_buckets"),
        F.sum("cnt").alias("n_rows"),
        F.min("cnt").alias("min_cnt"),
        F.max("cnt").alias("max_cnt"),
        F.expr(
            "CAST(MAX(cnt) * COUNT(*) * 1000000 div SUM(cnt) AS BIGINT)"
        ).alias("max_over_avg_ppm"),
        F.expr(
            "CAST((MAX(cnt) - MIN(cnt)) * 1000000 div MAX(cnt) AS BIGINT)"
        ).alias("spread_ppm"),
    )


@register(
    "pivot_multi_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS f_cnt,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
               AS f_qty,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS o_cnt,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
               AS o_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivot value (count + decimal
    quantity sum per line status) — the surface where Spark's
    ``pivot().agg()`` needs care: ``count("*")`` is invalid inside a
    pivot agg (documented gotcha), so the count rides as
    ``count(lit(1))``, and the auto-generated ``status_aggname``
    columns are renamed to a stable schema. Values are pinned
    explicitly (``pivot(col, ['F','O'])``) so the plan never runs the
    distinct-scan pre-pass — at 100 TB an unpinned pivot is two jobs.

    Scale: single partial-agg shuffle carrying (flag × status × 2)
    cells; the oracle is the conditional-aggregation twin.
    """
    li = load_table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dec("l_quantity")).cast("double").alias("qty"),
        )
    )
    return piv.select(
        "l_returnflag",
        F.coalesce(F.col("F_cnt"), F.lit(0)).alias("f_cnt"),
        F.col("F_qty").alias("f_qty"),
        F.coalesce(F.col("O_cnt"), F.lit(0)).alias("o_cnt"),
        F.col("O_qty").alias("o_qty"),
    )


@register(
    "subq_exists_trio",
    oracle="""
    SELECT n.n_name,
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                   AND EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_custkey = c.c_custkey
                                 AND o.o_totalprice > 300000))
                AS BIGINT) AS n_big_spenders,
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                   AND NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_custkey = c.c_custkey))
                AS BIGINT) AS n_dormant,
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                   AND c.c_mktsegment IN ('BUILDING', 'MACHINERY'))
                AS BIGINT) AS n_target_segment
    FROM nation n
    """,
)
def subq_exists_trio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated-subquery predicate trio — EXISTS, NOT EXISTS,
    and IN — answered per nation in one statement: big spenders
    (EXISTS a >$300k order), dormant customers (NOT EXISTS any
    order), and a target-segment membership count. Spark plans the
    EXISTS as a left-semi join, the NOT EXISTS as a left-anti join,
    and the IN as a local predicate — all shuffle-partitioned on the
    correlation key, which is exactly what you want at scale (no
    per-row subquery re-execution anywhere). Complements
    subq_scalar_corr (scalar correlated aggregate).

    Scale: two key-partitioned semi/anti joins + one scan predicate,
    then a 25-row dim aggregate.
    """
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = (
        orders.where(F.col("o_totalprice") > 300000)
        .select("o_custkey")
        .distinct()
    )
    spenders = (
        customer.join(
            big, customer.c_custkey == big.o_custkey, "left_semi"
        )
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_big_spenders"))
    )
    dormant = (
        customer.join(
            orders.select("o_custkey").distinct(),
            customer.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_dormant"))
    )
    seg = (
        customer.where(
            F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
        )
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_target_segment"))
    )
    return (
        nation.join(
            F.broadcast(spenders),
            nation.n_nationkey == spenders.c_nationkey,
            "left",
        )
        .drop("c_nationkey")
        .join(
            F.broadcast(dormant),
            nation.n_nationkey == dormant.c_nationkey,
            "left",
        )
        .drop("c_nationkey")
        .join(
            F.broadcast(seg),
            nation.n_nationkey == seg.c_nationkey,
            "left",
        )
        .select(
            "n_name",
            F.coalesce("n_big_spenders", F.lit(0)).alias(
                "n_big_spenders"
            ),
            F.coalesce("n_dormant", F.lit(0)).alias("n_dormant"),
            F.coalesce("n_target_segment", F.lit(0)).alias(
                "n_target_segment"
            ),
        )
    )


@register(
    "agg_survivorship_merge",
    oracle="""
    WITH recs AS (
        SELECT c_custkey // 3 AS cluster_id,
               c_custkey, c_name, c_nationkey, c_mktsegment,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c
        FROM customer
    ),
    oldest AS (
        SELECT cluster_id, MIN(c_custkey) AS first_key
        FROM recs GROUP BY cluster_id
    ),
    best_bal AS (
        SELECT r.cluster_id, MAX(r.bal_c) AS max_bal
        FROM recs r GROUP BY r.cluster_id
    ),
    bal_owner AS (
        SELECT r.cluster_id, b.max_bal,
               MIN(r.c_custkey) AS bal_key
        FROM recs r JOIN best_bal b
          ON b.cluster_id = r.cluster_id AND r.bal_c = b.max_bal
        GROUP BY r.cluster_id, b.max_bal
    ),
    seg_mode AS (
        SELECT cluster_id, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM recs GROUP BY cluster_id, c_mktsegment
    ),
    seg_pick AS (
        SELECT s.cluster_id,
               MIN(s.c_mktsegment) AS segment
        FROM seg_mode s
        JOIN (SELECT cluster_id, MAX(cnt) AS mx FROM seg_mode
              GROUP BY cluster_id) m
          ON m.cluster_id = s.cluster_id AND s.cnt = m.mx
        GROUP BY s.cluster_id
    )
    SELECT o.cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           MAX(CASE WHEN r.c_custkey = o.first_key
                    THEN r.c_name END) AS golden_name,
           MAX(bo.max_bal) AS golden_bal_c,
           MAX(CASE WHEN r.c_custkey = bo.bal_key
                    THEN r.c_nationkey END) AS golden_nationkey,
           MAX(sp.segment) AS golden_segment
    FROM recs r
    JOIN oldest o ON o.cluster_id = r.cluster_id
    JOIN bal_owner bo ON bo.cluster_id = r.cluster_id
    JOIN seg_pick sp ON sp.cluster_id = r.cluster_id
    GROUP BY o.cluster_id
    """,
)
def agg_survivorship_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record SURVIVORSHIP — the merge step after record
    linkage (dedup_record_linkage finds the clusters; this op
    decides what survives): per cluster, name from the OLDEST record
    (min key), balance = MAX across records, nation from the
    record that OWNS the max balance (min-key tiebreak on balance
    ties — a cascaded argmax, the join_bitemporal discipline), and
    segment by MODE with alphabetical tiebreak. Every rule is a
    partial-aggregable aggregation or an equi-join — no window
    sorts, no nondeterministic first().

    Scale: all aggregations key on cluster_id — one shuffle family;
    rule lookups join back at cluster grain.
    """
    cust = load_table(spark, sf_dir, "customer")
    recs = cust.select(
        F.expr("c_custkey div 3").alias("cluster_id"),
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    oldest = recs.groupBy("cluster_id").agg(
        F.min("c_custkey").alias("first_key")
    )
    best_bal = recs.groupBy("cluster_id").agg(
        F.max("bal_c").alias("max_bal")
    )
    bal_owner = (
        recs.alias("r")
        .join(
            best_bal.alias("b"),
            (F.col("b.cluster_id") == F.col("r.cluster_id"))
            & (F.col("r.bal_c") == F.col("b.max_bal")),
        )
        .groupBy(
            F.col("r.cluster_id").alias("cluster_id"),
            F.col("b.max_bal").alias("max_bal"),
        )
        .agg(F.min("r.c_custkey").alias("bal_key"))
    )
    seg_mode = recs.groupBy("cluster_id", "c_mktsegment").agg(
        F.count("*").alias("cnt")
    )
    seg_max = seg_mode.groupBy("cluster_id").agg(
        F.max("cnt").alias("mx")
    )
    seg_pick = (
        seg_mode.alias("s")
        .join(
            seg_max.alias("m"),
            (F.col("m.cluster_id") == F.col("s.cluster_id"))
            & (F.col("s.cnt") == F.col("m.mx")),
        )
        .groupBy(F.col("s.cluster_id").alias("cluster_id"))
        .agg(F.min("s.c_mktsegment").alias("segment"))
    )
    return (
        recs.join(oldest, "cluster_id")
        .join(bal_owner, "cluster_id")
        .join(seg_pick, "cluster_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_records"),
            F.max(
                F.when(
                    F.col("c_custkey") == F.col("first_key"),
                    F.col("c_name"),
                )
            ).alias("golden_name"),
            F.max("max_bal").alias("golden_bal_c"),
            F.max(
                F.when(
                    F.col("c_custkey") == F.col("bal_key"),
                    F.col("c_nationkey"),
                )
            ).alias("golden_nationkey"),
            F.max("segment").alias("golden_segment"),
        )
    )


@register(
    "dq_ledger_chain",
    oracle="""
    WITH rows_h AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               CAST(('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   CAST(o_custkey AS VARCHAR) || '|' ||
                   CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM orders
    ),
    daily AS (
        SELECT d, CAST(bit_xor(h) AS BIGINT) AS digest,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM rows_h GROUP BY d
    ),
    folded AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(n_rows) AS BIGINT) AS n_rows,
               list_reduce(
                   list_transform(
                       list(CAST(digest AS VARCHAR) ORDER BY d),
                       x -> CAST(x AS VARCHAR)),
                   (acc, x) -> md5(acc || '|' || x)
               ) AS chain_head
        FROM daily
    )
    SELECT n_days, n_rows, chain_head FROM folded
    """,
)
def dq_ledger_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tamper-evident load ledger: every day's partition reduces to
    an order-insensitive 60-bit XOR digest of its row hashes (the
    dq_table_checksum fingerprint, per day), and the day digests
    hash-CHAIN in date order — chain_i = md5(chain_{i-1} || d_i) —
    so the single chain head attests the entire load history:
    altering ANY historical row flips its day's digest and every
    chain link after it (the blockchain/ledger audit pattern,
    Merkle-ized to day grain). The chain fold is calendar-bounded
    (ts_croston discipline); the portable 60-bit hash is the
    conv(md5) construction verified bit-equal in round 3.

    Scale: fact work is one hash projection + per-day XOR partial
    agg; the fold list is one element per day.
    """
    orders = load_table(spark, sf_dir, "orders")
    rows_h = orders.select(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d"),
        F.expr(
            "CAST(conv(substr(md5(CAST(o_orderkey AS STRING) || '|' ||"
            " CAST(o_custkey AS STRING) || '|' ||"
            " CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)"
            " AS STRING)), 1, 15), 16, 10) AS BIGINT)"
        ).alias("h"),
    )
    daily = rows_h.groupBy("d").agg(
        F.expr("CAST(bit_xor(h) AS BIGINT)").alias("digest"),
        F.count("*").alias("n_rows"),
    )
    listed = daily.agg(
        F.count("*").alias("n_days"),
        F.sum("n_rows").alias("n_rows"),
        F.expr(
            "transform(array_sort(collect_list(struct(d, digest))),"
            " s -> CAST(s.digest AS STRING))"
        ).alias("arr"),
    )
    # empty in, empty out: zero-row input gives arr = [] — the slice
    # length -1 and element_at(arr, 1) init raise under ANSI
    listed = listed.where(F.expr("size(arr) > 0"))
    folded = listed.select(
        "n_days",
        "n_rows",
        F.expr(
            "aggregate(slice(arr, 2, size(arr) - 1),"
            " element_at(arr, 1),"
            " (acc, x) -> md5(acc || '|' || x))"
        ).alias("chain_head"),
    )
    return folded


@register(
    "dq_join_fanout",
    oracle="""
    WITH fan AS (
        SELECT o.o_orderkey,
               CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines
        FROM orders o
        LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey
    )
    SELECT n_lines AS fanout,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n_lines) AS BIGINT) AS rows_produced,
           CAST(SUM(CASE WHEN n_lines = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS dropped_keys,
           CASE WHEN n_lines > 7 THEN 1 ELSE 0 END AS explosion_flag
    FROM fan
    GROUP BY n_lines
    ORDER BY n_lines
    """,
)
def dq_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-fanout audit — the pre-flight a pipeline runs before a
    fact-to-fact join to catch row explosions: per join key the
    multiplicity on the many side, then the full fanout histogram
    with keys-that-vanish (fanout 0, inner-join row loss) and an
    explosion flag above the expected ceiling.  Pure counting.

    Scale: ONE shuffle on the join key (the same shuffle the real
    join would do — so the audit is a dry run of its cost), then a
    tiny histogram fold; flags cardinality explosions BEFORE a 100 TB
    join materializes them.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    fan = (
        orders.join(
            lineitem.select("l_orderkey"),
            orders.o_orderkey == lineitem.l_orderkey,
            "left",
        )
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("n_lines"))
    )
    return (
        fan.groupBy(F.col("n_lines").alias("fanout"))
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("n_lines").cast("long").alias("rows_produced"),
            F.sum(F.when(F.col("n_lines") == 0, 1).otherwise(0))
            .cast("long")
            .alias("dropped_keys"),
        )
        .select(
            "fanout",
            "n_keys",
            "rows_produced",
            "dropped_keys",
            F.when(F.col("fanout") > 7, 1).otherwise(0).alias("explosion_flag"),
        )
        .orderBy("fanout")
    )


@register(
    "dq_type_inference",
    oracle="""
    WITH cand AS (
        SELECT json_extract_string(props, '$.k') AS k_str,
               CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR) AS cents_str,
               CASE event_id % 3
                    WHEN 0 THEN CAST(event_id AS VARCHAR)
                    WHEN 1 THEN strftime(ts, '%Y-%m-%d')
                    ELSE event_type
               END AS mixed
        FROM events WHERE props IS NOT NULL
    )
    SELECT 'k_str' AS col_name,
           CAST(COUNT(k_str) AS BIGINT) AS n_present,
           CAST(SUM(CASE WHEN TRY_CAST(k_str AS BIGINT) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bigint,
           CAST(SUM(CASE WHEN TRY_CAST(k_str AS DOUBLE) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_double,
           CAST(SUM(CASE WHEN regexp_matches(k_str, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
                          AND TRY_CAST(k_str AS DATE) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_date
    FROM cand
    UNION ALL
    SELECT 'cents_str',
           CAST(COUNT(cents_str) AS BIGINT),
           CAST(SUM(CASE WHEN TRY_CAST(cents_str AS BIGINT) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN TRY_CAST(cents_str AS DOUBLE) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN regexp_matches(cents_str, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
                          AND TRY_CAST(cents_str AS DATE) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM cand
    UNION ALL
    SELECT 'mixed',
           CAST(COUNT(mixed) AS BIGINT),
           CAST(SUM(CASE WHEN TRY_CAST(mixed AS BIGINT) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN TRY_CAST(mixed AS DOUBLE) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN regexp_matches(mixed, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
                          AND TRY_CAST(mixed AS DATE) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM cand
    ORDER BY col_name
    """,
)
def dq_type_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read type inference census: for each stringly-typed
    column (a JSON-extracted int field, an integer-cents rendering,
    and a deliberately mixed int/date/categorical column), how many
    values survive TRY_CAST to BIGINT / DOUBLE / DATE — what a loader
    consults before promoting string columns to typed ones.  try_cast
    has identical null-on-failure semantics on both engines (except
    DATE, where Spark's lenient parser accepts bare integers as
    years — the date census is therefore gated on an ISO-format
    regex first); string
    renderings come only from INTEGER casts and date strftime (never
    float formatting, which diverges).

    Scale: single scan, JSON extraction + try_casts fused into one
    projection, three-row output via a unioned fold.
    """
    events = load_table(spark, sf_dir, "events")
    cand = events.where(F.col("props").isNotNull()).select(
        F.get_json_object("props", "$.k").alias("k_str"),
        F.round(F.col("value") * 100)
        .cast("long")
        .cast("string")
        .alias("cents_str"),
        F.when(
            F.col("event_id") % 3 == 0, F.col("event_id").cast("string")
        )
        .when(
            F.col("event_id") % 3 == 1,
            F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd"),
        )
        .otherwise(F.col("event_type"))
        .alias("mixed"),
    )
    outs = []
    for col in ["k_str", "cents_str", "mixed"]:
        outs.append(
            cand.agg(
                F.lit(col).alias("col_name"),
                F.count(col).cast("long").alias("n_present"),
                F.sum(
                    F.when(
                        F.expr(f"TRY_CAST({col} AS BIGINT)").isNotNull(), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_bigint"),
                F.sum(
                    F.when(
                        F.expr(f"TRY_CAST({col} AS DOUBLE)").isNotNull(), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_double"),
                F.sum(
                    F.when(
                        F.expr(
                            f"{col} RLIKE '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$'"
                        )
                        & F.expr(f"TRY_CAST({col} AS DATE)").isNotNull(),
                        1,
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_date"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("col_name")


@register(
    "dq_validity_audit",
    oracle="""
    WITH versions AS (
        SELECT o_custkey,
               CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS valid_from,
               lead(CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT))
                   OVER (PARTITION BY o_custkey ORDER BY o_orderdate,
                         o_orderkey) AS valid_to,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate,
                                  o_orderkey) AS ver
        FROM orders
    ),
    damaged AS (
        SELECT o_custkey, ver, valid_from,
               CASE WHEN ver % 7 = 3 THEN valid_to - 10 ELSE valid_to END
                   AS valid_to
        FROM versions WHERE valid_to IS NOT NULL
    ),
    audited AS (
        SELECT o_custkey,
               CASE WHEN valid_to <= valid_from THEN 1 ELSE 0 END AS inverted,
               CASE WHEN lead(valid_from) OVER w > valid_to THEN 1 ELSE 0 END
                   AS gap_after,
               CASE WHEN lead(valid_from) OVER w < valid_to THEN 1 ELSE 0 END
                   AS overlap_after
        FROM damaged
        WINDOW w AS (PARTITION BY o_custkey ORDER BY ver)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_versions,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_keys,
           CAST(SUM(inverted) AS BIGINT) AS n_inverted,
           CAST(SUM(gap_after) AS BIGINT) AS n_gaps,
           CAST(SUM(overlap_after) AS BIGINT) AS n_overlaps,
           CAST(SUM(gap_after + overlap_after + inverted) * 1000000
                // COUNT(*) AS BIGINT) AS defect_ppm
    FROM audited
    """,
)
def dq_validity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity-chain integrity audit: per key the versioned
    [valid_from, valid_to) chain must tile time with no gaps,
    overlaps, or inverted intervals.  Versions are synthesized from
    order dates (lead() closes each interval) and every 7th version
    is deterministically damaged (valid_to pulled 10 days early) so
    the audit provably detects both the gap it creates and any
    inversion.  Pure integer day arithmetic and counting.

    Scale: both windows partition by the dimension key — fully
    parallel; the verdict is a single-row fold with a ppm defect
    rate.  This is the acceptance test a warehouse runs after every
    scd2_history merge (the repo's own scd2 operators feed it).
    """
    orders = load_table(spark, sf_dir, "orders")
    day = F.expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) div 86400")
    wv = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    versions = orders.select(
        "o_custkey",
        day.alias("valid_from"),
        F.lead(day).over(wv).alias("valid_to"),
        F.row_number().over(wv).alias("ver"),
    ).where(F.col("valid_to").isNotNull())
    damaged = versions.select(
        "o_custkey",
        "ver",
        "valid_from",
        F.when(F.col("ver") % 7 == 3, F.col("valid_to") - 10)
        .otherwise(F.col("valid_to"))
        .alias("valid_to"),
    )
    w = Window.partitionBy("o_custkey").orderBy("ver")
    nxt = F.lead("valid_from").over(w)
    audited = damaged.select(
        "o_custkey",
        F.when(F.col("valid_to") <= F.col("valid_from"), 1)
        .otherwise(0)
        .alias("inverted"),
        F.when(nxt > F.col("valid_to"), 1).otherwise(0).alias("gap_after"),
        F.when(nxt < F.col("valid_to"), 1).otherwise(0).alias("overlap_after"),
    )
    return audited.agg(
        F.count("*").cast("long").alias("n_versions"),
        F.countDistinct("o_custkey").cast("long").alias("n_keys"),
        F.sum("inverted").cast("long").alias("n_inverted"),
        F.sum("gap_after").cast("long").alias("n_gaps"),
        F.sum("overlap_after").cast("long").alias("n_overlaps"),
        F.expr(
            "CAST(SUM(gap_after + overlap_after + inverted) * 1000000"
            " div COUNT(*) AS BIGINT)"
        ).alias("defect_ppm"),
    )


def _votes_frame_staged(spark, daily_df, prefix: str):
    """The _OUTLIER_VOTES_TAIL algebra built STAGEWISE on the Spark
    side: identical integer order-statistics and z-rule, but each
    scalar-stat level (totals → quartiles → MAD) is materialized via
    localCheckpoint before the next consumes it, so no collect path
    ever carries the nested-scalar-subquery tower that flakily
    StackOverflows SparkPlanInfo's fromLogicalPlan recursion on a
    cold JVM (verdict r6 item 1; tests/test_plan_depth.py sweeps the
    registry for the hazard). All frames past `daily` are day-grain
    or 1-row, so the materialization is free at any scale.

    Registers ``{prefix}_votes`` and returns its DataFrame with
    columns (d, y, iqr_vote, mad_vote, z_vote, dev_n).
    """
    from e2e_data_pipeline_spark.operators.registry import wide_dbl

    p = prefix
    daily_df.localCheckpoint(eager=True).createOrReplaceTempView(
        f"{p}_daily"
    )
    spark.sql(
        f"""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(16,0)))
                    AS DECIMAL(38,0)) AS q
        FROM {p}_daily
        """
    ).localCheckpoint(eager=True).createOrReplaceTempView(f"{p}_tot")
    spark.sql(
        f"""
        WITH percents AS (
            SELECT y AS v, count(*) AS c FROM {p}_daily GROUP BY y
        ),
        cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cc FROM percents)
        SELECT
          (SELECT MIN(v) FROM cum CROSS JOIN {p}_tot
           WHERE cc >= (n + 3) div 4) AS q1,
          (SELECT MIN(v) FROM cum CROSS JOIN {p}_tot
           WHERE cc >= (n + 1) div 2) AS q2,
          (SELECT MIN(v) FROM cum CROSS JOIN {p}_tot
           WHERE cc >= (3 * n + 1) div 4) AS q3
        """
    ).localCheckpoint(eager=True).createOrReplaceTempView(f"{p}_quarts")
    spark.sql(
        f"""
        SELECT (SELECT MIN(av) FROM (
            SELECT CASE WHEN y >= q2 THEN y - q2 ELSE q2 - y END AS av,
                   SUM(1) OVER (ORDER BY CASE WHEN y >= q2 THEN y - q2
                                              ELSE q2 - y END) AS cc2
            FROM {p}_daily CROSS JOIN {p}_quarts) x CROSS JOIN {p}_tot
            WHERE cc2 >= (n + 1) div 2) AS m
        FROM {p}_quarts
        """
    ).localCheckpoint(eager=True).createOrReplaceTempView(f"{p}_mad")
    votes = spark.sql(
        f"""
        SELECT d, y,
               CASE WHEN y < q1 - 3 * (q3 - q1) OR y > q3 + 3 * (q3 - q1)
                    THEN 1 ELSE 0 END AS iqr_vote,
               CASE WHEN (CASE WHEN y >= q2 THEN y - q2 ELSE q2 - y END)
                         > 5 * m THEN 1 ELSE 0 END AS mad_vote,
               CASE WHEN CAST(n AS DOUBLE) * CAST(y AS DOUBLE)
                           - CAST(s AS DOUBLE)
                         > 3 * sqrt(CAST(n AS DOUBLE) * {wide_dbl("q")}
                                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      OR CAST(s AS DOUBLE)
                           - CAST(n AS DOUBLE) * CAST(y AS DOUBLE)
                         > 3 * sqrt(CAST(n AS DOUBLE) * {wide_dbl("q")}
                                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    THEN 1 ELSE 0 END AS z_vote,
               CASE WHEN n * y - s >= 0 THEN n * y - s ELSE s - n * y END
                   AS dev_n
        FROM {p}_daily CROSS JOIN {p}_quarts
             CROSS JOIN {p}_mad CROSS JOIN {p}_tot
        """
    )
    votes.createOrReplaceTempView(f"{p}_votes")
    return votes


_OUTLIER_VOTES_TAIL = """
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS s,
           CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(16,0)))
                AS DECIMAL(38,0)) AS q
    FROM {daily}
),
percents AS (SELECT y AS v, count(*) AS c FROM {daily} GROUP BY y),
cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cc FROM percents),
quarts AS (
    SELECT
      (SELECT MIN(v) FROM cum CROSS JOIN tot
       WHERE cc >= (n + 3) {div} 4) AS q1,
      (SELECT MIN(v) FROM cum CROSS JOIN tot
       WHERE cc >= (n + 1) {div} 2) AS q2,
      (SELECT MIN(v) FROM cum CROSS JOIN tot
       WHERE cc >= (3 * n + 1) {div} 4) AS q3
),
mad AS (
    SELECT (SELECT MIN(av) FROM (
        SELECT CASE WHEN y >= q2 THEN y - q2 ELSE q2 - y END AS av,
               SUM(1) OVER (ORDER BY CASE WHEN y >= q2 THEN y - q2
                                          ELSE q2 - y END) AS cc2
        FROM {daily} CROSS JOIN quarts) x CROSS JOIN tot
        WHERE cc2 >= (n + 1) {div} 2) AS m
    FROM quarts
),
votes AS (
    SELECT d, y,
           CASE WHEN y < q1 - 3 * (q3 - q1) OR y > q3 + 3 * (q3 - q1)
                THEN 1 ELSE 0 END AS iqr_vote,
           CASE WHEN (CASE WHEN y >= q2 THEN y - q2 ELSE q2 - y END)
                     > 5 * m THEN 1 ELSE 0 END AS mad_vote,
           CASE WHEN CAST(n AS DOUBLE) * CAST(y AS DOUBLE)
                       - CAST(s AS DOUBLE)
                     > 3 * sqrt(CAST(n AS DOUBLE) * {qd}
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  OR CAST(s AS DOUBLE)
                       - CAST(n AS DOUBLE) * CAST(y AS DOUBLE)
                     > 3 * sqrt(CAST(n AS DOUBLE) * {qd}
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                THEN 1 ELSE 0 END AS z_vote,
           CASE WHEN n * y - s >= 0 THEN n * y - s ELSE s - n * y END
               AS dev_n
    FROM {daily} CROSS JOIN quarts CROSS JOIN mad CROSS JOIN tot
)
SELECT d AS day, y AS rev_cents, iqr_vote, mad_vote, z_vote,
       CAST(iqr_vote + mad_vote + z_vote AS BIGINT) AS n_votes
FROM votes
ORDER BY n_votes DESC, dev_n DESC, d
LIMIT 20"""


@register(
    "dq_outlier_votes",
    oracle="""WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),"""
    + _OUTLIER_VOTES_TAIL.format(
        daily="daily",
        div="//",
        qd="(CAST(CAST((q - q % 1000000000000000000) / 1000000000000000000"
        " AS BIGINT) AS DOUBLE) * CAST(1000000000000000000 AS DOUBLE)"
        " + CAST(CAST((q % 1000000000000000000 - q % 1000000000)"
        " / 1000000000 AS BIGINT) AS DOUBLE) * CAST(1000000000 AS DOUBLE)"
        " + CAST(CAST(q % 1000000000 AS BIGINT) AS DOUBLE))",
    ),
)
def dq_outlier_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier ENSEMBLE over daily revenue: three independent
    detectors — Tukey 3·IQR fences, 5·MAD (both integer order-
    statistic comparisons), and a cleared-denominator 3σ z-rule
    (n·y − S vs 3·sqrt(n·Q − S²), wide moments through the limb
    split) — each votes, and the top-20 days rank by consensus then
    deviation. Single-rule monitors page on their own blind spots;
    the vote separates 'one test twitched' from 'everything agrees'.

    Scale: quartiles/MAD come from per-cents cumulative tables
    (value-domain bounded); votes are a projection against broadcast
    1-row stats.

    The Spark side builds the SAME algebra STAGEWISE (materializing
    the day-grain table and the 1-row stats between stages) instead
    of as one nested-scalar-subquery statement: the single-statement
    form makes SparkPlanInfo's fromLogicalPlan recursion deep enough
    to flakily StackOverflow a cold JVM (interpreted frames are ~10×
    compiled ones — the stats_fleiss_kappa class of failure, verdict
    r6 item 1). Day-grain is bounded by the date domain, so the
    checkpoints cost nothing at any scale. The oracle keeps the
    nested single-statement text (DuckDB has no such cliff).
    """
    daily = orders_daily(spark, sf_dir).select("d", "y")
    votes = _votes_frame_staged(spark, daily, "dqov")
    return spark.sql(
        """
        SELECT d AS day, y AS rev_cents, iqr_vote, mad_vote, z_vote,
               CAST(iqr_vote + mad_vote + z_vote AS BIGINT) AS n_votes
        FROM {v}
        ORDER BY n_votes DESC, dev_n DESC, d
        LIMIT 20
        """.format(v="dqov_votes")
    )


_DICT_SPEC = [
    ("region", [("r_regionkey", "int"), ("r_name", "str")]),
    ("nation", [("n_nationkey", "int"), ("n_name", "str"),
                ("n_regionkey", "int")]),
    ("customer", [("c_custkey", "int"), ("c_name", "str"),
                  ("c_nationkey", "int"), ("c_acctbal", "float"),
                  ("c_mktsegment", "str")]),
    ("supplier", [("s_suppkey", "int"), ("s_name", "str"),
                  ("s_nationkey", "int"), ("s_acctbal", "float")]),
    ("part", [("p_partkey", "int"), ("p_name", "str"),
              ("p_brand", "str"), ("p_type", "str"),
              ("p_size", "int"), ("p_retailprice", "float")]),
    ("orders", [("o_orderkey", "int"), ("o_custkey", "int"),
                ("o_orderstatus", "str"), ("o_totalprice", "float"),
                ("o_orderdate", "timestamp"), ("o_orderpriority", "str")]),
    ("lineitem", [("l_orderkey", "int"), ("l_partkey", "int"),
                  ("l_suppkey", "int"), ("l_linenumber", "int"),
                  ("l_quantity", "float"), ("l_extendedprice", "float"),
                  ("l_discount", "float"), ("l_tax", "float"),
                  ("l_returnflag", "str"), ("l_linestatus", "str"),
                  ("l_shipdate", "timestamp")]),
    ("events", [("event_id", "int"), ("ts", "timestamp"),
                ("user_id", "int"), ("event_type", "str"),
                ("value", "float"), ("props", "str")]),
    ("documents", [("doc_id", "int"), ("text", "str"), ("lang", "str"),
                   ("source", "str"), ("n_chars", "int")]),
]


def _dict_select(table: str, cols: list) -> str:
    parts = []
    for name, klass in cols:
        c = name
        parts.append(
            f"SELECT '{table}' AS table_name, '{name}' AS column_name, "
            f"'{klass}' AS dtype_class, "
            f"CAST(COUNT(*) AS BIGINT) AS n_rows, "
            f"CAST(COUNT(*) - COUNT({name}) AS BIGINT) AS n_null, "
            f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct "
            f"FROM {{prefix}}{table}"
        )
    return "\nUNION ALL\n".join(parts)


_DICT_SQL = "\nUNION ALL\n".join(
    _dict_select(t, cols) for t, cols in _DICT_SPEC
)


@register(
    "dq_data_dictionary",
    oracle=_DICT_SQL.format(prefix="")
    + "\nORDER BY table_name, column_name",
)
def dq_data_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse data dictionary in one statement: every column of
    the nine relational tables with its semantic class, row count,
    null count, and EXACT distinct cardinality — the governance
    artifact catalog tools scrape. Generated from ONE Python column
    spec into both dialects ; embeddings' array
    column is excluded (list equality isn't a cross-engine
    contract).

    Scale: one aggregate pass per table (Spark fuses the per-table
    UNION branches over a shared scan); exact COUNT(DISTINCT) is the
    honest cost — the approx twin is agg_approx.
    """
    for t, _ in _DICT_SPEC:
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"dict_{t}")
    return spark.sql(
        _DICT_SQL.format(prefix="dict_")
        + "\nORDER BY table_name, column_name"
    )


# Second-digit Benford law, ppm (sum over first digits of
# log10(1 + 1/(10*d1 + d2)) for d1 in 1..9), precomputed in Python —
# repr-embedded so no engine evaluates a logarithm.
_BENFORD2_PPM = [
    119679, 113890, 108821, 104330, 100308,
    96677, 93375, 90352, 87570, 84997,
]

_BENFORD2_CASE = "CASE d2 " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in enumerate(_BENFORD2_PPM)
) + " END"

_BENFORD2_TAIL = """
digits AS (
    SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                            AS {str}), 2, 1) AS BIGINT) AS d2
    FROM {orders}
    WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) >= 10
),
counts AS (
    SELECT d2, CAST(count(*) AS BIGINT) AS c FROM digits GROUP BY d2
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts)
SELECT d2 AS second_digit, c AS n_amounts,
       CAST(c * 1000000 AS BIGINT) {div} n AS obs_ppm,
       CAST({expected} AS BIGINT) AS benford_ppm,
       CAST(c * 1000000 AS BIGINT) {div} n
         - CAST({expected} AS BIGINT) AS deviation_ppm
FROM counts CROSS JOIN tot
ORDER BY d2"""


@register(
    "dq_benford_second",
    oracle="WITH "
    + _BENFORD2_TAIL.format(
        orders="orders", div="//", expected=_BENFORD2_CASE, str="VARCHAR"
    ).lstrip(),
)
def dq_benford_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-digit Benford audit — the forensic refinement examiners
    apply when first digits look clean (fabricators who know Benford
    fix the lead digit and forget the second): observed second-digit
    shares in exact ppm against the repr-embedded second-digit law
    (no engine evaluates a log). Completes the digit-forensics
    set with dq_benford_digits (leading) and dq_digit_preference
    (terminal heaping).

    Scale: one conditional-count partial agg, 10-row output.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "benford2_orders"
    )
    return spark.sql(
        "WITH "
        + _BENFORD2_TAIL.format(
            orders="benford2_orders", div="div",
            expected=_BENFORD2_CASE, str="STRING"
        ).lstrip()
    )


@register(
    "reshape_transpose",
    oracle="""
    WITH per AS (
        SELECT r.r_name,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev,
               CAST(COUNT(*) AS BIGINT) AS n_ord,
               CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_cst
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY r.r_name
    ),
    spine AS (
        SELECT col0 AS r_name FROM (VALUES ('AFRICA'), ('AMERICA'),
            ('ASIA'), ('EUROPE'), ('MIDDLE EAST')) v(col0)
    ),
    wide AS (
        SELECT s.r_name,
               CAST(COALESCE(p.rev, 0) AS DOUBLE) AS rev,
               CAST(COALESCE(p.n_ord, 0) AS DOUBLE) AS n_ord,
               CAST(COALESCE(p.n_cst, 0) AS DOUBLE) AS n_cst
        FROM spine s LEFT JOIN per p ON p.r_name = s.r_name
    )
    SELECT 'rev' AS key,
           MAX(CASE WHEN r_name = 'AFRICA' THEN rev END) AS "AFRICA",
           MAX(CASE WHEN r_name = 'AMERICA' THEN rev END) AS "AMERICA",
           MAX(CASE WHEN r_name = 'ASIA' THEN rev END) AS "ASIA",
           MAX(CASE WHEN r_name = 'EUROPE' THEN rev END) AS "EUROPE",
           MAX(CASE WHEN r_name = 'MIDDLE EAST' THEN rev END)
               AS "MIDDLE EAST"
    FROM wide
    UNION ALL
    SELECT 'n_ord',
           MAX(CASE WHEN r_name = 'AFRICA' THEN n_ord END),
           MAX(CASE WHEN r_name = 'AMERICA' THEN n_ord END),
           MAX(CASE WHEN r_name = 'ASIA' THEN n_ord END),
           MAX(CASE WHEN r_name = 'EUROPE' THEN n_ord END),
           MAX(CASE WHEN r_name = 'MIDDLE EAST' THEN n_ord END)
    FROM wide
    UNION ALL
    SELECT 'n_cst',
           MAX(CASE WHEN r_name = 'AFRICA' THEN n_cst END),
           MAX(CASE WHEN r_name = 'AMERICA' THEN n_cst END),
           MAX(CASE WHEN r_name = 'ASIA' THEN n_cst END),
           MAX(CASE WHEN r_name = 'EUROPE' THEN n_cst END),
           MAX(CASE WHEN r_name = 'MIDDLE EAST' THEN n_cst END)
    FROM wide
    """,
)
def reshape_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``DataFrame.transpose`` — the executive-summary
    reshape (metrics as rows, entities as columns) as a FIRST-CLASS
    operator instead of the collect-and-flip pandas detour. Regional
    revenue/volume/reach stats pivot so each region becomes a column
    keyed by the metric name.

    The region axis rides a STATIC VALUES spine (TPC-H's five region
    names) left-joined to the data, so the transposed SCHEMA is
    data-independent — the zero-row sweep's contract. Values unify to
    DOUBLE (transpose requires one common value type; the int64
    metrics convert with one IEEE rounding each, portable at any
    magnitude).

    Scale: transpose is driver-safe ONLY when the row axis is
    bounded (5 regions); the heavy side (orders→region rollup) is one
    partial-aggregable join tree with broadcast dims. An unbounded
    transpose is a design error — that is what pivot_wide is for.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    per = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(reg.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name")
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("rev"),
            F.count("*").alias("n_ord"),
            F.countDistinct("o_custkey").alias("n_cst"),
        )
    )
    spine = spark.createDataFrame(
        [("AFRICA",), ("AMERICA",), ("ASIA",), ("EUROPE",),
         ("MIDDLE EAST",)],
        "r_name string",
    )
    wide = (
        spine.join(per, "r_name", "left")
        .select(
            "r_name",
            F.coalesce(F.col("rev"), F.lit(0)).cast("double").alias("rev"),
            F.coalesce(F.col("n_ord"), F.lit(0))
            .cast("double")
            .alias("n_ord"),
            F.coalesce(F.col("n_cst"), F.lit(0))
            .cast("double")
            .alias("n_cst"),
        )
        .orderBy("r_name")
    )
    return wide.transpose()


@register(
    "dq_merkle_partitions",
    oracle="""
    WITH rows_ AS (
        SELECT l_orderkey % 16 AS pclass,
               CAST(('0x' || substr(md5(
                   CAST(l_orderkey AS VARCHAR) || '|'
                   || CAST(l_linenumber AS VARCHAR) || '|'
                   || CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                           AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
               CASE WHEN l_orderkey % 4096 = 13 THEN 0 ELSE 1 END AS in_b
        FROM lineitem
    ),
    leaves AS (
        SELECT CAST(pclass AS BIGINT) AS pclass,
               CAST(COUNT(*) AS BIGINT) AS n_rows_a,
               CAST(SUM(in_b) AS BIGINT) AS n_rows_b,
               CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS leaf_a,
               CAST(SUM(CAST(h * in_b AS DECIMAL(38,0))) AS VARCHAR)
                   AS leaf_b
        FROM rows_ GROUP BY 1
    ),
    roots AS (
        SELECT md5(string_agg(leaf_a, '|' ORDER BY pclass)) AS root_a,
               md5(string_agg(leaf_b, '|' ORDER BY pclass)) AS root_b
        FROM leaves
    )
    SELECT l.pclass, l.n_rows_a, l.n_rows_b, l.leaf_a, l.leaf_b,
           CAST(CASE WHEN l.leaf_a = l.leaf_b THEN 0 ELSE 1 END
                AS BIGINT) AS changed,
           CAST(CASE WHEN r.root_a = r.root_b THEN 0 ELSE 1 END
                AS BIGINT) AS root_differs
    FROM leaves l, roots r
    """,
)
def dq_merkle_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERKLE-style hierarchical table checksum — `dq_table_checksum`
    answers "did anything change"; this answers "WHICH partition
    changed" without re-reading the others: per partition class an
    order-insensitive leaf digest (exact DECIMAL(38) sum of portable
    60-bit row hashes — commutative, so partial-aggregable and
    replica-order independent), and a root digest over the ordered
    leaf digests. Two snapshots are compared in one pass (snapshot B
    deterministically drops the l_orderkey%4096==13 rows, which all live
    in one class — a localized deletion): the changed flag localizes the diff to exactly
    class 13 while the other 15 leaves stay bit-identical (pinned:
    the fixture would mark every class if the pattern were
    class-independent), and
    the root pair inequality is part of the hash contract.

    Scale: this is the replica-reconciliation primitive — two
    clusters exchange 16 leaf digests (bytes) instead of 100 TB, and
    recurse only into unequal subtrees.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("l_orderkey % 16").alias("pclass"),
        F.expr(
            "CAST(conv(substr(md5(concat("
            "CAST(l_orderkey AS STRING), '|',"
            " CAST(l_linenumber AS STRING), '|',"
            " CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
            " AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        ).alias("h"),
        F.expr(
            "CASE WHEN l_orderkey % 4096 = 13 THEN 0 ELSE 1 END"
        ).alias("in_b"),
    )
    leaves = li.groupBy(F.col("pclass").cast("long").alias("pclass")).agg(
        F.count("*").cast("long").alias("n_rows_a"),
        F.sum("in_b").cast("long").alias("n_rows_b"),
        F.expr(
            "CAST(SUM(CAST(h AS DECIMAL(38,0))) AS STRING)"
        ).alias("leaf_a"),
        F.expr(
            "CAST(SUM(CAST(h * in_b AS DECIMAL(38,0))) AS STRING)"
        ).alias("leaf_b"),
    )
    # concat leaf digests in pclass order on both engines: Spark's
    # string_agg has no ORDER BY, so sort (pclass, leaf) structs and
    # project the leaf field before joining with '|'
    roots = leaves.select(
        F.struct("pclass", "leaf_a").alias("sa"),
        F.struct("pclass", "leaf_b").alias("sb"),
    ).agg(
        F.md5(
            F.concat_ws(
                "|",
                F.expr(
                    "transform(array_sort(collect_list(sa)), x -> x.leaf_a)"
                ),
            )
        ).alias("root_a"),
        F.md5(
            F.concat_ws(
                "|",
                F.expr(
                    "transform(array_sort(collect_list(sb)), x -> x.leaf_b)"
                ),
            )
        ).alias("root_b"),
    )
    return (
        leaves.crossJoin(F.broadcast(roots))
        .select(
            "pclass",
            "n_rows_a",
            "n_rows_b",
            "leaf_a",
            "leaf_b",
            F.when(F.col("leaf_a") == F.col("leaf_b"), 0)
            .otherwise(1)
            .cast("long")
            .alias("changed"),
            F.when(F.col("root_a") == F.col("root_b"), 0)
            .otherwise(1)
            .cast("long")
            .alias("root_differs"),
        )
    )
