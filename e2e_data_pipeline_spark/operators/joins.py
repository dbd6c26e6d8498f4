"""Join operators: broadcast, shuffle, outer, semi/anti, theta/range,
as-of, and the multiway flagship (SURVEY.md §2.2).

The reference has no joins at all (absence verified across
/root/reference/ingest_data.py:1-174); this is the extended engine
surface.

Scale strategy per join:
- ``join_broadcast``: dims bounded by domain size (region=5, nation=25)
  are broadcast explicitly — no shuffle of the big side, ever.
- ``join_shuffle``: orders⋈lineitem is a true shuffle join on the key;
  AQE handles skew splitting at runtime.
- ``join_theta_range``: non-equi joins are quadratic in general; we
  join against a *bounded static band table* (broadcast nested-loop
  over 5 rows) so cost stays linear in the fact table.
- ``join_asof``: implemented as union + window ("last non-null event
  before me"), which is ONE shuffle on the join key and a sorted
  window — linear and fully JVM-side, unlike the naive
  inequality-join + groupBy-max which explodes quadratically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e2e_data_pipeline_spark.catalog import load_table, memo
from e2e_data_pipeline_spark.operators.registry import dec, dec_avg, dec_sum, register
from e2e_data_pipeline_spark.session import scoped_session


@register(
    "join_broadcast",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name,
           CAST(COUNT(c.c_custkey) AS BIGINT) AS n_customers
    FROM nation n
    JOIN region r ON n.n_regionkey = r.r_regionkey
    LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey, n.n_name, r.r_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dimension equi-join where every join is a BroadcastHashJoin.

    A naive ``customer RIGHT JOIN broadcast(nation)`` drops the hint
    (Spark can't build-right a right outer join) and falls back to
    shuffling all of customer on 25 skewed nationkeys.  Instead the
    customer side is reduced FIRST — ``groupBy(c_nationkey).count()``
    is a map-side partial aggregate whose exchange carries at most
    25 rows per task — and the resulting 25-row count frame plus the
    5-row region dim are broadcast into nation.  At 100x scale the
    only data movement is the 25-cell partial-agg shuffle.
    """
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    customer = load_table(spark, sf_dir, "customer")
    cust_counts = customer.groupBy("c_nationkey").agg(
        F.count("*").alias("cust_cnt")
    )
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(
            F.broadcast(cust_counts),
            nation.n_nationkey == cust_counts.c_nationkey,
            "left",
        )
        .select(
            "n_nationkey",
            "n_name",
            "r_name",
            F.coalesce(F.col("cust_cnt"), F.lit(0)).alias("n_customers"),
        )
    )


@register(
    "join_shuffle",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large fact⋈fact equi-join, pinned to a shuffled-hash join with
    the build on orders (the 4x-smaller side).

    Catalyst's static estimate scales file size by the projected
    column ratio, which put 2-column orders under the broadcast
    threshold and made the driver collect + hash 150k rows
    single-threaded. The SHUFFLE_HASH hint shuffles both sides by
    the key and builds a per-partition hash on orders instead: build
    work is parallel, no sort (vs sort-merge), and the per-partition
    build side is bounded by AQE's partition sizing at any scale —
    exactly the guide's "prefer shuffled-hash when one side is
    moderately small per partition" case. Measured r10: 1.013 s ->
    0.595 s median (interleaved A/B, 7 passes).
    """
    orders = load_table(spark, sf_dir, "orders").hint("shuffle_hash")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(revenue.cast("decimal(18,4)")).cast("double").alias("revenue"),
        )
    )


@register(
    "join_outer",
    oracle="""
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(c.n_cust, 0) AS n_cust,
           COALESCE(s.n_supp, 0) AS n_supp
    FROM (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
          FROM customer GROUP BY c_nationkey) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp
          FROM supplier GROUP BY s_nationkey) s
    ON c.nk = s.nk
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates (nations with customers but no
    suppliers and vice versa survive with zero-filled counts)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return cust.join(supp, "nk", "full").select(
        F.col("nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@register(
    "join_semi_anti",
    oracle="""
    SELECT 'with_orders' AS grp, CAST(COUNT(*) AS BIGINT) AS n
    FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'without_orders' AS grp, CAST(COUNT(*) AS BIGINT) AS n
    FROM customer WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_custkey = customer.c_custkey)
    """,
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (IN) and LEFT ANTI (NOT EXISTS) in one labeled result."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cond = cust.c_custkey == orders.o_custkey
    semi = cust.join(orders, cond, "left_semi").agg(
        F.lit("with_orders").alias("grp"), F.count("*").alias("n")
    )
    anti = cust.join(orders, cond, "left_anti").agg(
        F.lit("without_orders").alias("grp"), F.count("*").alias("n")
    )
    return semi.unionByName(anti)


@register(
    "join_theta_range",
    oracle="""
    WITH bands(band, lo, hi) AS (
        VALUES ('xs', 0.0, 1.0), ('s', 1.0, 10.0), ('m', 10.0, 50.0),
               ('l', 50.0, 200.0), ('xl', 200.0, 1e9)
    )
    SELECT b.band,
           CAST(COUNT(e.event_id) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM bands b
    LEFT JOIN events e ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta/range) join of the fact table against a bounded
    band dimension. The band side is 5 rows → broadcast nested-loop,
    cost linear in `events` at any scale."""
    events = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("xs", 0.0, 1.0), ("s", 1.0, 10.0), ("m", 10.0, 50.0),
         ("l", 50.0, 200.0), ("xl", 200.0, 1e9)],
        "band string, lo double, hi double",
    )
    return (
        F.broadcast(bands)
        .join(events, (events.value >= bands.lo) & (events.value < bands.hi), "left")
        .groupBy("band")
        .agg(
            F.count("event_id").alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
    )


@register(
    "join_asof",
    oracle="""
    SELECT o.o_orderkey,
           o.o_custkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(epoch_us((SELECT max(e.ts) FROM events e
                          WHERE e.user_id = o.o_custkey
                            AND e.ts <= o.o_orderdate)) AS BIGINT) AS last_event_us
    FROM orders o
    WHERE o.o_custkey < 150
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each order of a user, the latest event at-or-
    before the order timestamp.

    Implementation: tag events (kind=0) and probe rows (kind=1), union,
    then one window per user ordered by (ts, kind) taking the running
    ``last(event_ts, ignorenulls)``. Exactly one shuffle on user_id and
    a sort — linear at 100 TB, no inequality-join blowup. Events sort
    before probes at equal ts so ts==orderdate matches (<= semantics).
    """
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 150)
    # The probe filter propagates to the event side by hand: the
    # window only ever reads a probe's OWN uid partition, so events
    # of unprobed users can never influence any output row — a
    # predicate pushdown through the union+window that Catalyst
    # cannot infer. Cuts the union's big side to the probed users
    # (r10 interleaved A/B: 0.550 s -> 0.412 s median at sf0.1; at
    # 100 TB it is the difference between shuffling every event and
    # shuffling only the probed slice).
    events = load_table(spark, sf_dir, "events").where(F.col("user_id") < 150)

    probes = orders.select(
        F.col("o_custkey").alias("uid"),
        F.col("o_orderdate").alias("at_ts"),
        F.lit(1).alias("kind"),
        F.col("o_orderkey"),
        F.col("o_orderdate"),
        F.lit(None).cast("timestamp_ntz").alias("event_ts"),
    )
    builds = events.select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("at_ts"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.col("ts").alias("event_ts"),
    )
    w = (
        Window.partitionBy("uid")
        .orderBy("at_ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = probes.unionByName(builds).withColumn(
        "last_event", F.last("event_ts", ignorenulls=True).over(w)
    )
    return merged.where(F.col("kind") == 1).select(
        "o_orderkey",
        F.col("uid").alias("o_custkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.unix_micros(F.col("last_event").cast("timestamp")).alias("last_event_us"),
    )


@register(
    "join_multiway",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey   = c.c_custkey
    JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q5-shaped 5-way star join.

    region/nation broadcast (bounded dims); customer⋈orders shuffle
    on custkey; the lineitem join is pinned to a shuffled-hash join
    whose BUILD side is the region+date-filtered customer⋈orders
    subtree — strictly smaller than lineitem at every scale. Without
    the pin, Catalyst's column-ratio size estimate put 3-column
    lineitem (the biggest fact) under the broadcast threshold and
    collected + hashed all 600k rows single-threaded on the driver.
    With it, both sides shuffle by orderkey and the per-partition
    build is the filtered subtree, bounded by AQE partition sizing;
    AQE skew-split still applies. Measured r10: 1.056 s -> 0.777 s
    median (interleaved A/B, 7 passes). The region filter prunes
    before the joins, so at 100 TB only the matching 2/5 of the
    pipeline flows into the big joins.
    """
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    co = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(orders, orders.o_custkey == customer.c_custkey)
        .select("n_name", "o_orderkey")
        .hint("shuffle_hash")
    )
    return (
        li.join(co, li.l_orderkey == co.o_orderkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(revenue.cast("decimal(18,4)")).cast("double").alias("revenue"),
        )
    )


@register(
    "join_skew_salted",
    oracle="""
    SELECT c.c_mktsegment,
           e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated shuffle join via key salting.

    A hot join key (one user producing a large share of events) pins
    its entire partition onto one task in a plain shuffle join. Salting
    splits it: the fact side extends its key with ``salt =
    xxhash64(row id) % N`` (varies *within* a key, so a hot key spreads
    over N partitions), and the dim side is replicated once per salt
    value with a bounded ``explode(sequence(...))`` — an N-way
    amplification of the *small* side only. The join result is
    row-identical to the unsalted join (hash-checked by the oracle,
    which knows nothing about salt). AQE's skew-join split handles
    moderate skew automatically; explicit salting is the deterministic
    heavy-hammer for pathological keys, and this operator keeps the
    technique exercised end-to-end.

    ``shuffle_hash``/``merge`` hints pin the shuffle-join path so the
    demonstration can't silently degrade to a broadcast (where salting
    would be pointless).
    """
    n_salts = 8
    events = load_table(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salts)).cast("int")
    )
    customer = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    )
    joined = events.hint("shuffle_hash").join(
        customer,
        (events["user_id"] == customer["c_custkey"])
        & (events["salt"] == customer["salt"]),
    )
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        dec_sum("value").alias("sum_value"),
    )


@register(
    "join_q3_shipping",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate  > TIMESTAMP '1997-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def join_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered
    customer⋈orders⋈lineitem, revenue per unshipped order, top 10.

    Both date filters and the segment filter push into the scans, so
    the joins see pre-filtered inputs; the final top-10 is
    TakeOrderedAndProject (per-partition k-heap), not a global sort.
    """
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp_ntz")
    )
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        cust.join(orders, orders["o_custkey"] == cust["c_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue.cast("decimal(18,4)")).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "join_q13_custdist",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) per_customer
    GROUP BY c_count
    """,
)
def join_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): how many customers
    placed exactly N qualifying orders, including N=0.

    The join-side predicate lives in the OUTER join condition (not a
    WHERE, which would turn the outer join inner) — customers whose
    every order is urgent still appear with c_count=0. Two aggregations
    with different keys: the first shuffles on c_custkey, the second is
    a near-free re-agg of one row per customer on the tiny c_count
    domain. At 100 TB the left join is the only real shuffle.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_customer = (
        cust.join(
            orders,
            (orders.o_custkey == cust.c_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_customer.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "join_q18_big_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(o.o_totalprice, 2) AS totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def join_q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): orders whose total
    quantity exceeds a threshold, with their customer.

    The IN-subquery is a left-semi join against a pre-aggregated
    (HAVING) lineitem — the aggregate shrinks lineitem to one row per
    order BEFORE the semi join, and the >250 filter keeps ~1% of those,
    so the probe side of the semi join is tiny and AQE broadcasts it.
    The final agg reuses the l_orderkey shuffle partitioning.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
        .where(F.col("qty") > 250)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, cust.c_custkey == F.col("o_custkey"))
        .join(li, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dec_sum("l_quantity").alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
    )


@register(
    "join_q19_disjunct",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def join_q19_disjunct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): OR-of-ANDs predicate
    spanning both join sides.

    Catalyst factors the disjunction: the part-only half
    (brand ∈ {1,2,3}) and the lineitem-only half (quantity ∈ [1,40])
    are inferred and PUSHED INTO EACH SCAN, so both inputs shrink
    before the join even though no single conjunct applies globally.
    The mixed residual evaluates post-join. part stays broadcast-size
    after its pushed filter at any scale factor.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    pred = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & (q >= 1) & (q <= 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & (q >= 10) & (q <= 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & (q >= 20) & (q <= 40))
    )
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(part, part.p_partkey == li.l_partkey)
        .where(pred)
        .agg(
            F.count("*").alias("n_items"),
            dec_sum(revenue, 4).alias("revenue"),
        )
    )


@register(
    "join_q22_dormant",
    oracle="""
    WITH pos AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(c_acctbal) AS avg_bal
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c, pos
    WHERE c.c_acctbal > pos.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c.c_mktsegment
    """,
)
def join_q22_dormant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales opportunity): well-funded
    customers dormant since 2000, per market segment.

    The scalar subquery (average positive balance) is a 1-row aggregate
    cross-joined back in — Spark broadcasts it, so the comparison is a
    map-side filter, not a shuffle. The NOT EXISTS is a left-anti join
    on c_custkey against date-filtered orders (the date predicate
    pushes to the scan: at 100 TB the anti join reads only the recent
    partitions). The average is DECIMAL-summed on both engines: a raw
    double avg would drift in the last ulp and flip boundary rows.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    )
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(dec_avg("c_acctbal").alias("avg_bal"))
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            dec_sum("c_acctbal").alias("total_bal"),
        )
    )


@register(
    "join_q10_returns",
    oracle="""
    SELECT c.c_custkey,
           c.c_name,
           n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           ROUND(c.c_acctbal, 2) AS acctbal
    FROM customer c
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def join_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned items): customers ranked by revenue
    lost to returns in one quarter, with their nation.

    nation broadcasts (25 rows); the quarter filter prunes orders
    before the fact join — at 100 TB the orders scan reads one
    quarter's partitions, not the table.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        cust.join(F.broadcast(nation), nation["n_nationkey"] == cust["c_nationkey"])
        .join(orders, orders["o_custkey"] == cust["c_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(revenue.cast("decimal(18,4)")).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "join_range_binned",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id, event_type,
               CAST(epoch_us(ts) AS BIGINT) AS es_us
        FROM events
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(abs(a.es_us - b.es_us)) AS BIGINT) AS sum_gap_us
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND abs(a.es_us - b.es_us) <= 300000000
    GROUP BY type_a, type_b
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join at scale: co-occurring event pairs (same
    user, within 5 minutes), binned. A raw ``|t_a - t_b| <= 300s``
    predicate has no equi-key, so engines fall back to nested-loop —
    quadratic and unshardable. The scale formulation buckets time into
    interval-width bins, explodes ONE side into its 3 candidate bins
    (b-1, b, b+1), and equi-joins on (user, bin) with the exact
    interval predicate as a residual — a plain shuffle hash join whose
    cost is linear in rows x local bin density. Each qualifying pair
    matches exactly once (the probe row's single bin occurs once in
    the build row's candidate list). Timestamps travel as exact
    epoch-microsecond longs on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    width = 300_000_000  # 5 minutes in microseconds
    es_us = (
        F.col("ts").cast("timestamp").cast("long") * 1_000_000
        + F.date_format("ts", "SSSSSS").cast("long")
    )
    base = ev.select(
        "event_id", "user_id", "event_type", es_us.alias("es_us")
    ).withColumn("bin", (F.col("es_us") / width).cast("long"))
    left = base.select(
        F.col("event_id").alias("id_a"),
        F.col("user_id"),
        F.col("event_type").alias("type_a"),
        F.col("es_us").alias("es_a"),
        F.explode(
            F.array(F.col("bin") - 1, F.col("bin"), F.col("bin") + 1)
        ).alias("bin_j"),
    )
    right = base.select(
        F.col("event_id").alias("id_b"),
        F.col("user_id"),
        F.col("event_type").alias("type_b"),
        F.col("es_us").alias("es_b"),
        F.col("bin").alias("bin_j"),
    )
    # Equi-join on BOTH (user, bin): a hot time bin spreads across
    # users instead of collapsing into one shuffle partition.
    pairs = left.join(right, ["user_id", "bin_j"], "inner").where(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("es_a") - F.col("es_b")) <= width)
    )
    return pairs.groupBy("type_a", "type_b").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.abs(F.col("es_a") - F.col("es_b"))).alias("sum_gap_us"),
    )


@register(
    "join_null_safe",
    oracle="""
    WITH keyed AS (
        SELECT event_id,
               NULLIF(CAST(json_extract(props, '$.k') AS INT) % 10, 0) AS k
        FROM events
    ),
    a AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_a
          FROM keyed WHERE event_id % 2 = 0 GROUP BY k),
    b AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_b
          FROM keyed WHERE event_id % 2 = 1 GROUP BY k)
    SELECT a.k, a.n_a, b.n_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of silently dropping — the semantics
    reconciliation pipelines need when "key absent" is itself a
    category (here: a JSON field, nulled for one residue class).

    Both sides pre-aggregate to per-key counts BEFORE the join, so the
    null-safe comparison runs on bounded frames — at 100 TB you
    null-safe-join aggregates, not raw rows, because every NULL row
    lands in ONE shuffle partition (NULL has a single hash): the
    pre-aggregation is also the skew defense.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.nullif(
        F.get_json_object("props", "$.k").cast("int") % 10, F.lit(0)
    ).alias("k")
    keyed = ev.select("event_id", k)
    a = (
        keyed.where(F.col("event_id") % 2 == 0)
        .groupBy("k")
        .agg(F.count("*").alias("n_a"))
    )
    b = (
        keyed.where(F.col("event_id") % 2 == 1)
        .groupBy("k")
        .agg(F.count("*").alias("n_b"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(a["k"], "n_a", "n_b")


@register(
    "join_pit_nearest",
    oracle="""
    WITH p AS (
        SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
               (SELECT max(e.ts) FROM events e
                WHERE e.user_id = o.o_custkey AND e.ts <= o.o_orderdate) AS prev_ts,
               (SELECT min(e.ts) FROM events e
                WHERE e.user_id = o.o_custkey AND e.ts > o.o_orderdate) AS next_ts
        FROM orders o
        WHERE o.o_custkey < 150
    )
    SELECT o_orderkey, o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(epoch_us(CASE
               WHEN prev_ts IS NULL THEN next_ts
               WHEN next_ts IS NULL THEN prev_ts
               WHEN epoch_us(o_orderdate) - epoch_us(prev_ts)
                    <= epoch_us(next_ts) - epoch_us(o_orderdate) THEN prev_ts
               ELSE next_ts END) AS BIGINT) AS nearest_event_us
    FROM p
    """,
)
def join_pit_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time join: each order pairs with the closest event of
    the same user in EITHER direction (ties break backward) — the
    sensor-alignment / point-in-time-features sibling of join_asof's
    backward-only match.

    Same single-shuffle union+window construction as join_asof, with a
    second symmetric window looking forward: running last non-null
    event behind me, first non-null ahead of me, then an O(1) CASE
    picks the closer. Both windows share one partitioning and sort, so
    Catalyst fuses them into a single Window operator — still exactly
    one shuffle and one sort, never an inequality join (quadratic) or
    per-row subqueries (the oracle's correlated form is the semantic
    spec, not the plan).
    """
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 150)
    events = load_table(spark, sf_dir, "events")
    probes = orders.select(
        F.col("o_custkey").alias("uid"),
        F.col("o_orderdate").alias("at_ts"),
        F.lit(1).alias("kind"),
        F.col("o_orderkey"),
        F.col("o_orderdate"),
        F.lit(None).cast("timestamp_ntz").alias("event_ts"),
    )
    builds = events.select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("at_ts"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.col("ts").alias("event_ts"),
    )
    wb = (
        Window.partitionBy("uid")
        .orderBy("at_ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("uid")
        .orderBy("at_ts", "kind")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = probes.unionByName(builds).select(
        "*",
        F.last("event_ts", ignorenulls=True).over(wb).alias("prev_ts"),
        F.first("event_ts", ignorenulls=True).over(wf).alias("next_ts"),
    )

    def us(c):
        return F.unix_micros(F.col(c).cast("timestamp"))

    nearest = (
        F.when(F.col("prev_ts").isNull(), F.col("next_ts"))
        .when(F.col("next_ts").isNull(), F.col("prev_ts"))
        .when(
            us("o_orderdate") - us("prev_ts") <= us("next_ts") - us("o_orderdate"),
            F.col("prev_ts"),
        )
        .otherwise(F.col("next_ts"))
    )
    return merged.where(F.col("kind") == 1).select(
        "o_orderkey",
        F.col("uid").alias("o_custkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.unix_micros(nearest.cast("timestamp")).alias("nearest_event_us"),
    )


@register(
    "join_recon_fuzzy",
    oracle="""
    WITH inv AS (
        SELECT o_orderkey AS inv_id,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
               o_orderdate AS d
        FROM orders
    ),
    pay AS (
        SELECT inv_id + 50000000 AS pay_id,
               cents + (inv_id % 21) - 10 AS cents,
               d + to_days(CAST(inv_id % 5 - 2 AS INT)) AS d
        FROM inv WHERE inv_id % 3 = 0
    ),
    pay_b AS (
        SELECT p.*, (p.cents // 1000) + o.off AS bucket
        FROM pay p, (SELECT UNNEST([-1, 0, 1]) AS off) o
    ),
    inv_b AS (SELECT i.*, i.cents // 1000 AS bucket FROM inv i),
    cand AS (
        SELECT p.pay_id, i.inv_id
        FROM pay_b p
        JOIN inv_b i
          ON i.bucket = p.bucket
         AND abs(p.cents - i.cents) <= 5
         AND abs(date_diff('day', i.d, p.d)) <= 1
    ),
    per_pay AS (
        SELECT p.pay_id, CAST(COUNT(c.inv_id) AS BIGINT) AS n_matches
        FROM pay p LEFT JOIN cand c ON c.pay_id = p.pay_id
        GROUP BY p.pay_id
    )
    SELECT CASE WHEN n_matches = 0 THEN 'unmatched'
                WHEN n_matches = 1 THEN 'matched'
                ELSE 'ambiguous' END AS recon_status,
           CAST(COUNT(*) AS BIGINT) AS n_payments,
           CAST(MIN(pay_id) AS BIGINT) AS first_pay_id
    FROM per_pay
    GROUP BY recon_status
    """,
)
def join_recon_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy reconciliation: match payments to invoices within ±5
    cents AND ±1 day — the finance-ops ETL classic where neither
    amount nor date is exact (fees, timezone posting lag). Payments
    are derived deterministically (amount jitter ±10c, date shift ±2d —
    deliberately WIDER than the tolerance, so the report exercises
    unmatched payments too); the report classifies each payment
    matched / ambiguous / unmatched.

    The scale shape is join_range_binned's: equi-join on a $10 amount
    BUCKET (each payment probes its own and both neighbor buckets —
    covering since bucket width ≥ tolerance) with the exact tolerance
    as a residual predicate — never an unbounded theta join. The
    per-payment match count is a LEFT join so unmatched payments
    survive into the report.
    """
    orders = load_table(spark, sf_dir, "orders")
    inv = orders.select(
        F.col("o_orderkey").alias("inv_id"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        F.col("o_orderdate").alias("d"),
    )
    pay = inv.where(F.col("inv_id") % 3 == 0).select(
        (F.col("inv_id") + 50000000).alias("pay_id"),
        (F.col("cents") + (F.col("inv_id") % 21) - 10).alias("cents"),
        F.timestamp_add(
            "DAY", (F.col("inv_id") % 5 - 2).cast("int"), F.col("d")
        ).alias("d"),
    )
    # HASH-JOINABLE bucketing: the payment side explodes into its 3
    # candidate buckets so the join key is a plain equality (a BETWEEN
    # over expressions would force a nested-loop join — observed 15x
    # slower at sf0.1). Bucket width (1000c) >= 2x tolerance, so the
    # neighbor probe is covering.
    pay_b = pay.select(
        "*",
        F.explode(
            F.array(
                F.expr("cents div 1000") - 1,
                F.expr("cents div 1000"),
                F.expr("cents div 1000") + 1,
            )
        ).alias("bucket"),
    )
    inv_b = inv.select("*", F.expr("cents div 1000").alias("bucket"))
    cand = (
        pay_b.alias("p")
        .join(
            inv_b.alias("i"),
            (F.col("p.bucket") == F.col("i.bucket"))
            & (F.abs(F.col("p.cents") - F.col("i.cents")) <= 5)
            & (
                F.abs(
                    F.datediff(F.col("p.d").cast("date"), F.col("i.d").cast("date"))
                )
                <= 1
            ),
        )
        .select(F.col("p.pay_id").alias("pay_id"), F.col("i.inv_id").alias("inv_id"))
    )
    per_pay = (
        pay.select("pay_id")
        .join(cand, "pay_id", "left")
        .groupBy("pay_id")
        .agg(F.count("inv_id").alias("n_matches"))
    )
    status = (
        F.when(F.col("n_matches") == 0, "unmatched")
        .when(F.col("n_matches") == 1, "matched")
        .otherwise("ambiguous")
    )
    return (
        per_pay.select(status.alias("recon_status"), "pay_id")
        .groupBy("recon_status")
        .agg(
            F.count("*").alias("n_payments"),
            F.min("pay_id").alias("first_pay_id"),
        )
    )


@register(
    "join_calendar_dim",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('day', MIN(o_orderdate)) AS d0,
               date_trunc('day', MAX(o_orderdate)) AS d1
        FROM orders
    ),
    calendar AS (
        SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        FROM bounds
    ),
    daily AS (
        SELECT date_trunc('day', o_orderdate) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT strftime(date_trunc('month', c.day), '%Y-%m-%d') AS month_start,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN d.n_orders IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_days,
           CAST(SUM(COALESCE(d.n_orders, 0)) AS BIGINT) AS n_orders
    FROM calendar c
    LEFT JOIN daily d ON d.day = c.day
    GROUP BY 1
    """,
)
def join_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension densification: generate the full day spine
    between the first and last order, LEFT-join daily activity onto
    it, and report per month INCLUDING zero-activity days — the
    warehouse report a plain GROUP BY cannot produce (absent days
    simply don't appear without the spine; the ts_gapfill idea applied
    to the reporting calendar).

    The spine is sequence+explode from one global bounds row —
    output-proportional, never a driver loop — and the join is
    day-keyed against the already-aggregated daily frame. Monthly
    output is bounded by the date span at any data scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.date_trunc("day", F.min("o_orderdate")).alias("d0"),
        F.date_trunc("day", F.max("o_orderdate")).alias("d1"),
    )
    calendar = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(F.count("*").alias("n_orders"))
    j = calendar.join(daily, "day", "left")
    return j.groupBy(
        F.date_format(F.date_trunc("month", "day"), "yyyy-MM-dd").alias(
            "month_start"
        )
    ).agg(
        F.count("*").alias("n_days"),
        F.sum(F.when(F.col("n_orders").isNull(), 1).otherwise(0)).alias(
            "n_zero_days"
        ),
        F.sum(F.coalesce("n_orders", F.lit(0))).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Cost-based-optimizer demonstration: stats-driven join reordering.
# ---------------------------------------------------------------------------


def _cbo_materialize(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the 3 join tables as managed tables and ANALYZE them.

    CBO needs catalog statistics, and statistics attach to *tables*,
    not parquet paths — so the demo saves column-pruned copies into a
    dedicated database (under /tmp, keyed by the fixture dir) and runs
    ``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`` on the join
    keys + the filter column. Kept in the application's
    ``catalog.Memo`` while the tables it read are unchanged, so repeated
    calls don't rewrite and a new application builds its own.
    """
    import os
    import re
    import shutil

    # Key by fixture dir AND pid: two concurrent Spark processes (e.g.
    # pytest alongside check_oracle) racing on one warehouse location
    # abort each other's saveAsTable mid-write.
    tag = re.sub(r"\W+", "_", sf_dir).strip("_") + f"_{os.getpid()}"
    db = f"cbo_demo_{tag}"

    def build() -> str:
        # The warehouse location outlives the in-memory catalog (a prior
        # *process* may have left files where this process has no table
        # entry), so start from a clean slate: drop both sides.
        loc = f"/tmp/spark_graft_cbo/{tag}"
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(loc, ignore_errors=True)
        spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
        cols = {
            "lineitem": ["l_orderkey", "l_extendedprice"],
            "orders": ["o_orderkey", "o_custkey"],
            "customer": ["c_custkey", "c_mktsegment"],
        }
        for t, cs in cols.items():
            load_table(spark, sf_dir, t).select(*cs).write.mode(
                "overwrite"
            ).saveAsTable(f"{db}.{t}")
            spark.sql(
                f"ANALYZE TABLE {db}.{t} COMPUTE STATISTICS FOR COLUMNS "
                + ", ".join(cs)
            )
        return db

    return memo(spark).fill(("cbo", sf_dir), sf_dir, build).value


@register(
    "join_cbo_reorder",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    GROUP BY c.c_mktsegment
    """,
)
def join_cbo_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join reordering over ANALYZEd catalog tables.

    The SQL text deliberately joins in the WORST order — the biggest
    table (lineitem) first, the selective dimension (customer, with a
    segment filter) last. With ``spark.sql.cbo.enabled`` +
    ``spark.sql.cbo.joinReorder.enabled`` and per-column statistics,
    Catalyst's CostBasedJoinReorder rewrites the tree to join
    orders⋈customer first (small, filtered) and stream lineitem into
    the result — the plan a human would write. A plan test
    (tests/test_plans.py) asserts the reorder actually happened and
    that it does NOT happen without stats, so this complements the
    runtime AQE reliance with compile-time CBO.

    At 100 TB the same mechanism prunes far larger mistakes: join
    order is the single biggest cost lever in a star query, and stats
    make it automatic rather than author-dependent. The query is built
    in a :func:`~e2e_data_pipeline_spark.session.scoped_session` with
    CBO on, so it plans under CBO whenever it runs and the caller's
    session never has CBO turned on.
    """
    db = _cbo_materialize(spark, sf_dir)
    spark = scoped_session(
        spark,
        {"spark.sql.cbo.enabled": "true", "spark.sql.cbo.joinReorder.enabled": "true"},
    )
    return spark.sql(
        f"""
        SELECT c.c_mktsegment,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS sum_price
        FROM {db}.lineitem l
        JOIN {db}.orders o   ON l.l_orderkey = o.o_orderkey
        JOIN {db}.customer c ON o.o_custkey  = c.c_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY c.c_mktsegment
        """
    )


@register(
    "join_geo_grid",
    oracle="""
    WITH cust AS (
        SELECT c_custkey,
               (c_custkey * 2654435761) % 10000 AS x,
               (c_custkey * 40503) % 10000 AS y
        FROM customer
    ),
    supp AS (
        SELECT s_suppkey,
               (s_suppkey * 2654435761) % 10000 AS x,
               (s_suppkey * 40503) % 10000 AS y
        FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           CAST((c.x - s.x) * (c.x - s.x)
              + (c.y - s.y) * (c.y - s.y) AS BIGINT) AS dist2
    FROM cust c JOIN supp s
      ON (c.x - s.x) BETWEEN -50 AND 50
     AND (c.y - s.y) BETWEEN -50 AND 50
     AND (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) <= 2500
    """,
)
def join_geo_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D proximity (spatial) join via grid bucketing — "all
    customer/supplier location pairs within radius 50" on a synthetic
    integer coordinate plane derived from the keys (the fixtures have
    no lat/lon; multiplicative hashing scatters keys uniformly).

    A naive band-predicate join plans as BroadcastNestedLoopJoin —
    the same hazard CLAUDE.md documents for 1-D BETWEEN joins, squared.
    Instead each customer point explodes into its 3×3 neighborhood of
    50×50 grid cells and the join is an EQUI-join on the cell id; any
    point within L∞ 50 of it must fall in those 9 cells, so the exact
    integer circle test afterwards loses nothing. Cost: 9× one side,
    hash join, cell population bounded by density — linear at any
    scale, and the plan test pins SortMergeJoin/Hash over BNLJ.
    Coordinates and distances stay int64 end-to-end.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * F.lit(2654435761)) % 10000).alias("x"),
        ((F.col("c_custkey") * F.lit(40503)) % 10000).alias("y"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * F.lit(2654435761)) % 10000).alias("x"),
        ((F.col("s_suppkey") * F.lit(40503)) % 10000).alias("y"),
    )
    # customer side: explode into the 9 candidate cells around it
    cells = cust.select(
        "c_custkey",
        "x",
        "y",
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx ->"
                " transform(sequence(-1, 1), dy ->"
                " struct(x div 50 + dx AS cx, y div 50 + dy AS cy))))"
            )
        ).alias("cell"),
    ).select(
        "c_custkey", "x", "y", F.col("cell.cx").alias("cx"), F.col("cell.cy").alias("cy")
    )
    supp_cells = supp.select(
        "s_suppkey",
        F.col("x").alias("sx"),
        F.col("y").alias("sy"),
        (F.col("x") / 50).cast("long").alias("cx"),
        (F.col("y") / 50).cast("long").alias("cy"),
    )
    dx = F.col("x") - F.col("sx")
    dy = F.col("y") - F.col("sy")
    dist2 = dx * dx + dy * dy
    return (
        cells.join(supp_cells, ["cx", "cy"])
        .where(dist2 <= 2500)
        .select("c_custkey", "s_suppkey", dist2.cast("long").alias("dist2"))
    )


@register(
    "join_bloom_runtime",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS order_price
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(p.n_lines) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(p.order_price AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM per_order p
    JOIN orders o ON o.o_orderkey = p.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
)
def join_bloom_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter semi-join reduction: the selective orders
    filter is turned into a `bloom_filter_agg` whose `might_contain`
    probe is pushed BELOW the lineitem pre-aggregation — so ~95% of
    lineitem rows are dropped before the per-order shuffle, not after
    the join. This is the runtime companion to static pushdown (the
    predicate lives on the OTHER table, so Catalyst cannot push it
    statically) and to DPP (which needs a partitioned layout; bloom
    works on any layout).

    Injection requires the application side to carry a shuffle below
    the join and believes itself large; the two thresholds are scoped
    to model the 100 TB case (scan-size floor lowered because the
    fixture is small; broadcast disabled because a real orders dim
    wouldn't fit). Both are set in a
    :func:`~e2e_data_pipeline_spark.session.scoped_session`, so the
    query plans and executes under them whenever it is collected;
    tests/test_plans.py asserts the bloom_filter_agg is present and
    that the executed plan has no broadcast join.
    """
    spark = scoped_session(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "1KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    per_order = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            dec_sum("l_extendedprice").alias("order_price"),
        )
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("n_lines").alias("n_lines"),
            dec_sum("order_price").alias("sum_price"),
        )
    )


@register(
    "join_scd2_pit",
    oracle="""
    WITH hist AS (
        SELECT user_id, ts, event_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events WHERE user_id < 50 AND event_type <> 'purchase'
    ),
    changes AS (
        SELECT user_id, ts, event_id, event_type
        FROM hist WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    probes AS (
        SELECT user_id, event_id, ts
        FROM events WHERE user_id < 50 AND event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS probe_us,
           (SELECT c.event_type FROM changes c
            WHERE c.user_id = p.user_id AND c.ts <= p.ts
            ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS dim_state
    FROM probes p
    """,
)
def join_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup into an SCD2 dimension: each purchase fact
    resolves the dimension VERSION valid at its timestamp (the
    canonical warehouse fact⋈dimension-history join; purchases before
    any version resolve to NULL, never to a later version — the
    lookahead-leak SCD2 exists to prevent).

    The dimension is the deduped change history (scd2_history's
    construction); the lookup reuses join_asof's union+running-last
    machinery — version rows sort before probes at equal ts, ONE
    user_id shuffle, no inequality join. The oracle is the correlated
    LIMIT-1 subquery users would write in a warehouse, so the hash
    also proves the union trick ≡ the correlated form.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = ev.where(F.col("event_type") != "purchase").withColumn(
        "prev_type", F.lag("event_type").over(w)
    )
    changes = hist.where(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("dim_state"),
        F.lit(0).alias("kind"),
    )
    probes = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("string").alias("dim_state"),
        F.lit(1).alias("kind"),
    )
    unioned = changes.unionByName(probes)
    w_asof = Window.partitionBy("user_id").orderBy(
        "ts", "kind", "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    resolved = unioned.withColumn(
        "state_asof", F.last("dim_state", ignorenulls=True).over(w_asof)
    )
    return resolved.where(F.col("kind") == 1).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("probe_us"),
        F.col("state_asof").alias("dim_state"),
    )


@register(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
        SELECT user_id,
               epoch_us(ts) // 86400000000 AS day,
               MIN(epoch_us(ts) // 1000000) AS s,
               MAX(epoch_us(ts) // 1000000) AS e
        FROM events WHERE user_id < 40
        GROUP BY user_id, epoch_us(ts) // 86400000000
        HAVING MAX(epoch_us(ts) // 1000000) > MIN(epoch_us(ts) // 1000000)
    ),
    hrs AS (
        SELECT user_id, day, s, e,
               unnest(generate_series(s // 3600, e // 3600)) AS hr
        FROM iv
    ),
    cand AS (
        SELECT DISTINCT a.day,
               a.user_id AS u1, b.user_id AS u2,
               a.s AS s1, a.e AS e1, b.s AS s2, b.e AS e2
        FROM hrs a
        JOIN hrs b ON a.day = b.day AND a.hr = b.hr
                  AND a.user_id < b.user_id
    ),
    ov AS (
        SELECT day, u1, u2,
               least(e1, e2) - greatest(s1, s2) AS overlap_s
        FROM cand
        WHERE least(e1, e2) - greatest(s1, s2) > 0
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(overlap_s) AS BIGINT) AS total_overlap_s,
           CAST(MAX(overlap_s) AS BIGINT) AS max_overlap_s
    FROM ov GROUP BY day
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join (concurrent-activity detection):
    per-user daily activity spans, then every user pair whose spans
    truly intersect, with the exact overlap duration — the
    sessions-vs-sessions shape behind concurrency billing, contention
    analysis, and meeting-collision queries.

    The naive formulation is a theta self-join (s1<=e2 AND s2<=e1)
    that plans as a nested loop. Instead each interval explodes into
    the HOUR buckets it covers (bounded ≤24 per day-span) and
    candidates come from an equi-join on (day, hour) — the same
    bucket-explosion rewrite as join_range_binned, extended to
    two-sided intervals: a true overlap must share at least one hour
    bucket, so the filter after the hash join loses nothing. DISTINCT
    collapses pairs that share several hours before the exact
    least/greatest overlap math (integer epoch seconds, truncation
    identical on both engines for the positive epochs here). The
    user_id<40 bound caps oracle output; the plan shape is what scales.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 40)
    sec = F.col("ts").cast("timestamp").cast("long")
    iv = (
        ev.select("user_id", sec.alias("sec"), (sec - sec % 86400).alias("d0"))
        .groupBy("user_id", (F.col("d0") / 86400).cast("long").alias("day"))
        .agg(F.min("sec").alias("s"), F.max("sec").alias("e"))
        .where(F.col("e") > F.col("s"))
    )
    hrs = iv.select(
        "user_id",
        "day",
        "s",
        "e",
        F.explode(
            F.sequence(F.expr("s div 3600"), F.expr("e div 3600"))
        ).alias("hr"),
    )
    a, b = hrs.alias("a"), hrs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.hr") == F.col("b.hr"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.day").alias("day"),
            F.col("a.user_id").alias("u1"),
            F.col("b.user_id").alias("u2"),
            F.col("a.s").alias("s1"),
            F.col("a.e").alias("e1"),
            F.col("b.s").alias("s2"),
            F.col("b.e").alias("e2"),
        )
        .distinct()
    )
    ov = cand.select(
        "day",
        "u1",
        "u2",
        (F.least("e1", "e2") - F.greatest("s1", "s2")).alias("overlap_s"),
    ).where(F.col("overlap_s") > 0)
    return ov.groupBy("day").agg(
        F.count("*").alias("n_pairs"),
        F.sum("overlap_s").alias("total_overlap_s"),
        F.max("overlap_s").alias("max_overlap_s"),
    )


@register(
    "join_role_playing_dim",
    oracle="""
    WITH cal AS (
        SELECT DISTINCT date_trunc('month', o_orderdate) AS month_start,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(month(o_orderdate) AS BIGINT) AS mo
        FROM orders
    ),
    facts AS (
        SELECT o.o_orderkey,
               date_trunc('month', o.o_orderdate) AS order_month,
               date_trunc('month', l.l_shipdate) AS ship_month,
               CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT oc.yr AS order_yr, oc.mo AS order_mo,
           CAST(sc.yr * 12 + sc.mo - oc.yr * 12 - oc.mo AS BIGINT)
               AS months_to_ship,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(f.cents) AS BIGINT) AS cents
    FROM facts f
    JOIN cal oc ON oc.month_start = f.order_month
    JOIN cal sc ON sc.month_start = f.ship_month
    GROUP BY oc.yr, oc.mo, months_to_ship
    """,
)
def join_role_playing_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-playing dimension: ONE calendar dimension joined twice —
    as the order-date role and the ship-date role — the star-schema
    pattern where every column must be disambiguated per role or the
    second join silently resolves against the first (the alias trap
    this op exists to pin; Spark raises ambiguity errors exactly
    where aliases are missing). The fact rolls up by order month and
    months-to-ship (integer y·12+m arithmetic across the two roles);
    output is bounded by months × ship offsets, no floor needed.

    The calendar dim derives from the data (distinct months — tiny),
    broadcasts for both roles, and each role joins on its own key:
    two broadcast joins, one grouped sum.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    cal = (
        orders.select(
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.month("o_orderdate").cast("bigint").alias("mo"),
        )
        .distinct()
    )
    facts = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.date_trunc("month", "l_shipdate").alias("ship_month"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
    )
    oc = cal.select(
        F.col("month_start").alias("o_ms"),
        F.col("yr").alias("o_yr"),
        F.col("mo").alias("o_mo"),
    )
    sc = cal.select(
        F.col("month_start").alias("s_ms"),
        F.col("yr").alias("s_yr"),
        F.col("mo").alias("s_mo"),
    )
    return (
        facts.join(F.broadcast(oc), facts.order_month == oc.o_ms)
        .join(F.broadcast(sc), facts.ship_month == sc.s_ms)
        .groupBy(
            F.col("o_yr").alias("order_yr"),
            F.col("o_mo").alias("order_mo"),
            F.expr("s_yr * 12 + s_mo - o_yr * 12 - o_mo")
            .cast("bigint")
            .alias("months_to_ship"),
        )
        .agg(F.count("*").alias("n_lines"), F.sum("cents").alias("cents"))
    )


@register(
    "join_bitemporal",
    oracle="""
    WITH versions AS (
        SELECT o_custkey,
               o_orderkey,
               CAST(o_orderdate AS DATE) AS valid_from,
               CAST(o_orderdate AS DATE)
                   + CAST((o_orderkey % 30) AS INT) AS tx_from
        FROM orders
    ),
    visible AS (
        SELECT * FROM versions
        WHERE valid_from <= DATE '1998-06-01'
          AND tx_from <= DATE '1998-09-01'
    ),
    m1 AS (
        SELECT o_custkey, MAX(valid_from) AS vf
        FROM visible GROUP BY o_custkey
    ),
    m2 AS (
        SELECT v.o_custkey, m.vf, MAX(v.tx_from) AS tf
        FROM visible v JOIN m1 m
          ON m.o_custkey = v.o_custkey AND v.valid_from = m.vf
        GROUP BY v.o_custkey, m.vf
    ),
    m3 AS (
        SELECT v.o_custkey, m.vf, m.tf, MAX(v.o_orderkey) AS chosen
        FROM visible v JOIN m2 m
          ON m.o_custkey = v.o_custkey AND v.valid_from = m.vf
         AND v.tx_from = m.tf
        GROUP BY v.o_custkey, m.vf, m.tf
    )
    SELECT o_custkey AS custkey, chosen AS version_orderkey,
           strftime(vf, '%Y-%m-%d') AS valid_from,
           strftime(tf, '%Y-%m-%d') AS tx_from
    FROM m3
    """,
)
def join_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of lookup — the two-axis time join (VALID time:
    when the fact was true in the world; TRANSACTION time: when the
    system learned it) behind audit-grade reporting: "as of what we
    KNEW on 1998-09-01, what was each customer's state ON
    1998-06-01?". Versions are synthesized from orders (tx lag =
    orderkey % 30 days models late-arriving records). The pick is a
    per-key lexicographic argmax over (valid_from, tx_from,
    orderkey) run as a THREE-PHASE cascaded max — max valid_from,
    then max tx_from among those, then max orderkey — each phase a
    partial-aggregable shuffle + equi-join, never a window sort
    (DuckDB's max_by rejects list keys, and a packed-BIGINT key
    would overflow at catalog scale); both cutoffs prune before the
    first aggregation (at scale they become partition filters on a
    date-partitioned layout).
    """
    orders = load_table(spark, sf_dir, "orders")
    versions = orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("valid_from"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (F.col("o_orderkey") % 30).cast("int"),
        ).alias("tx_from"),
    )
    visible = versions.where(
        (F.col("valid_from") <= F.lit("1998-06-01").cast("date"))
        & (F.col("tx_from") <= F.lit("1998-09-01").cast("date"))
    )
    vis = visible.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("ok"),
        F.col("valid_from").alias("vf0"),
        F.col("tx_from").alias("tf0"),
    ).localCheckpoint()
    m1 = vis.groupBy("ck").agg(F.max("vf0").alias("vf"))
    m2 = (
        vis.alias("v")
        .join(
            m1.alias("m"),
            (F.col("v.ck") == F.col("m.ck"))
            & (F.col("v.vf0") == F.col("m.vf")),
        )
        .groupBy(F.col("m.ck").alias("ck2"), F.col("m.vf").alias("vf"))
        .agg(F.max("v.tf0").alias("tf"))
    )
    m3 = (
        vis.alias("v")
        .join(
            m2.alias("m"),
            (F.col("v.ck") == F.col("m.ck2"))
            & (F.col("v.vf0") == F.col("m.vf"))
            & (F.col("v.tf0") == F.col("m.tf")),
        )
        .groupBy(
            F.col("m.ck2").alias("custkey"),
            F.col("m.vf").alias("vf"),
            F.col("m.tf").alias("tf"),
        )
        .agg(F.max("v.ok").alias("chosen"))
    )
    return m3.select(
        "custkey",
        F.col("chosen").alias("version_orderkey"),
        F.date_format("vf", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("tf", "yyyy-MM-dd").alias("tx_from"),
    )


@register(
    "join_drill_across",
    oracle="""
    WITH fact_orders AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS order_cents,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_nationkey
    ),
    fact_events AS (
        SELECT user_id % 25 AS nationkey,
               CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT))
                    AS BIGINT) AS event_cents,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    )
    SELECT n.n_name,
           COALESCE(fo.order_cents, 0) AS order_cents,
           COALESCE(fo.n_orders, 0) AS n_orders,
           COALESCE(fe.event_cents, 0) AS event_cents,
           COALESCE(fe.n_events, 0) AS n_events,
           CASE WHEN COALESCE(fo.order_cents, 0) = 0 THEN NULL
                ELSE CAST(COALESCE(fe.event_cents, 0) * 1000000
                          // fo.order_cents AS BIGINT)
           END AS engagement_ppm
    FROM nation n
    LEFT JOIN fact_orders fo ON fo.nationkey = n.n_nationkey
    LEFT JOIN fact_events fe ON fe.nationkey = n.n_nationkey
    """,
)
def join_drill_across(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drill-across: two fact tables (order revenue and event
    engagement) reported side-by-side at a CONFORMED dimension grain
    (nation). The load-bearing rule — aggregate each fact to the
    conformed grain FIRST, then join the two small aggregates to the
    dimension — is what keeps this correct (a row-level fact×fact
    join would fan out and double-count) and scalable (two
    independent partial-agg shuffles, then dim-sized broadcast
    joins; the facts never meet row-to-row). Events map to nations
    via the synthetic user home rule user_id % 25. Ratio in integer
    ppm; nations missing a fact report zeros, not dropped rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    ev = load_table(spark, sf_dir, "events")
    fact_orders = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "order_cents"
            ),
            F.count("*").alias("n_orders"),
        )
    )
    fact_events = ev.groupBy(
        (F.col("user_id") % 25).alias("nationkey")
    ).agg(
        F.sum(
            F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast(
                "long"
            )
        ).alias("event_cents"),
        F.count("*").alias("n_events"),
    )
    return (
        nation.join(
            F.broadcast(fact_orders),
            nation.n_nationkey == fact_orders.nationkey,
            "left",
        )
        .drop("nationkey")
        .join(
            F.broadcast(fact_events),
            nation.n_nationkey == fact_events.nationkey,
            "left",
        )
        .select(
            "n_name",
            F.coalesce("order_cents", F.lit(0)).alias("order_cents"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("event_cents", F.lit(0)).alias("event_cents"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.when(
                F.coalesce("order_cents", F.lit(0)) == 0,
                F.lit(None).cast("long"),
            )
            .otherwise(
                F.expr(
                    "CAST(COALESCE(event_cents, 0) * 1000000"
                    " div order_cents AS BIGINT)"
                )
            )
            .alias("engagement_ppm"),
        )
    )


@register(
    "join_geo_nearest",
    oracle="""
    WITH cust AS (
        SELECT c_custkey,
               (c_custkey * 2654435761) % 10000 AS x,
               (c_custkey * 40503) % 10000 AS y
        FROM customer
    ),
    supp AS (
        SELECT s_suppkey,
               (s_suppkey * 2654435761) % 10000 AS x,
               (s_suppkey * 40503) % 10000 AS y
        FROM supplier
    ),
    cs AS (
        SELECT GREATEST(100, 10000 //
               GREATEST(1, CAST(sqrt(CAST(COUNT(*) AS DOUBLE))
                                AS BIGINT))) AS w
        FROM supp
    ),
    cgrid AS (
        SELECT c.c_custkey, c.x, c.y, cs.w,
               (c.x // cs.w + dx.d) * 100000 + (c.y // cs.w + dy.d)
                   AS cell
        FROM cust c
        CROSS JOIN cs
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dx
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dy
    ),
    sgrid AS (
        SELECT s_suppkey, x, y,
               (x // cs.w) * 100000 + (y // cs.w) AS cell
        FROM supp CROSS JOIN cs
    ),
    cand AS (
        SELECT g.c_custkey, g.x AS cx, g.y AS cy,
               s.s_suppkey,
               (g.x - s.x) * (g.x - s.x)
                 + (g.y - s.y) * (g.y - s.y) AS d2
        FROM cgrid g JOIN sgrid s ON s.cell = g.cell
        WHERE (g.x - s.x) * (g.x - s.x)
                + (g.y - s.y) * (g.y - s.y) <= g.w * g.w
    ),
    best AS (
        SELECT c_custkey, MIN(d2) AS min_d2 FROM cand
        GROUP BY c_custkey
    )
    SELECT b.c_custkey AS custkey,
           CAST(MIN(c.s_suppkey) AS BIGINT) AS nearest_suppkey,
           CAST(b.min_d2 AS BIGINT) AS dist2
    FROM best b
    JOIN cand c ON c.c_custkey = b.c_custkey AND c.d2 = b.min_d2
    GROUP BY b.c_custkey, b.min_d2
    """,
)
def join_geo_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor spatial join with EXACT semantics: for each
    customer point, the closest supplier within L2 radius w on the
    shared synthetic plane (join_geo_grid's geography), where the
    cell width w = max(100, 10000 div isqrt(n_suppliers)) is DERIVED
    FROM SUPPLIER DENSITY in-query on both sides — the
    dedup_semantic_det rule: a fixed cell width went 16x at the 10x
    smoke because both cell populations grow with data; density-
    derived cells keep candidates per probe O(1) forever (isqrt via
    sqrt-then-truncate is bit-portable). The 3×3 neighborhood
    guarantees every supplier within L∞ w is a candidate, and the
    explicit d² <= w² filter keeps the radius-bounded answer exact
    (a bare grid-argmin is corner-approximate). Argmin is the
    cascaded min-d2-then-min-key pattern; everything int64.

    Scale: 9× probe explode + cell equi-join (BNLJ-proof), smoke
    re-measured ~1x after the density fix.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * F.lit(2654435761)) % 10000).alias("x"),
        ((F.col("c_custkey") * F.lit(40503)) % 10000).alias("y"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * F.lit(2654435761)) % 10000).alias("sx"),
        ((F.col("s_suppkey") * F.lit(40503)) % 10000).alias("sy"),
    )
    cs = supp.agg(
        F.expr(
            "GREATEST(100, 10000 div GREATEST(1,"
            " CAST(sqrt(CAST(COUNT(*) AS DOUBLE)) AS BIGINT)))"
        ).alias("w")
    )
    offsets = F.explode(
        F.array(F.lit(-1), F.lit(0), F.lit(1))
    )
    cgrid = (
        cust.crossJoin(F.broadcast(cs))
        .select("*", offsets.alias("dx"))
        .select("*", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dy"))
        .select(
            "c_custkey",
            "x",
            "y",
            "w",
            (
                (F.expr("x div w") + F.col("dx")) * 100000
                + (F.expr("y div w") + F.col("dy"))
            ).alias("cell"),
        )
    )
    sgrid = supp.crossJoin(F.broadcast(cs)).select(
        "s_suppkey",
        "sx",
        "sy",
        (F.expr("sx div w") * 100000 + F.expr("sy div w")).alias(
            "cell"
        ),
    )
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    cand = (
        cgrid.join(sgrid, "cell")
        .select("c_custkey", "s_suppkey", d2.alias("d2"), "w")
        .where(F.col("d2") <= F.col("w") * F.col("w"))
    )
    best = cand.groupBy("c_custkey").agg(F.min("d2").alias("min_d2"))
    return (
        cand.alias("c")
        .join(
            best.alias("b"),
            (F.col("b.c_custkey") == F.col("c.c_custkey"))
            & (F.col("c.d2") == F.col("b.min_d2")),
        )
        .groupBy(
            F.col("b.c_custkey").alias("custkey"),
            F.col("b.min_d2").alias("dist2"),
        )
        .agg(F.min("c.s_suppkey").alias("nearest_suppkey"))
        .select("custkey", "nearest_suppkey", "dist2")
    )


@register(
    "join_ip_cidr",
    oracle="""
    WITH ips AS (
        SELECT c_custkey,
               (CAST(c_custkey AS BIGINT) * 2654435761) % 4294967296 AS ip
        FROM customer
    ),
    blocks AS (
        SELECT n_nationkey, n_name,
               CAST(8 + n_nationkey % 5 AS BIGINT) AS plen,
               CAST(n_nationkey AS BIGINT) * 134217728 AS net
        FROM nation
    ),
    binned AS (
        SELECT b.n_nationkey, b.n_name, b.net, b.plen,
               b.net + (1::BIGINT << (32 - b.plen)) - 1 AS hi,
               unnest(range(b.net // 65536,
                            (b.net + (1::BIGINT << (32 - b.plen)) - 1)
                                // 65536 + 1)) AS bin
        FROM blocks b
    ),
    matched AS (
        SELECT i.c_custkey, i.ip, bb.n_name
        FROM ips i
        JOIN binned bb ON bb.bin = i.ip // 65536
                      AND i.ip BETWEEN bb.net AND bb.hi
    )
    SELECT COALESCE(m.n_name, '(unrouted)') AS block_name,
           CAST(COUNT(*) AS BIGINT) AS n_ips,
           CAST(MIN(i.ip) AS BIGINT) AS min_ip,
           CAST(MAX(i.ip) AS BIGINT) AS max_ip
    FROM ips i LEFT JOIN matched m ON m.c_custkey = i.c_custkey
    GROUP BY 1
    """,
)
def join_ip_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IP-to-CIDR containment join — the network-analytics routing
    shape (geo-IP, firewall attribution, tenant-by-subnet): customer
    IPs (Knuth multiplicative hash of the key — exact int32 both
    engines) against nation-owned CIDR blocks of MIXED prefix length
    (/8…/12). A BETWEEN(net, hi) condition alone plans as a nested
    loop (the join_range_binned lesson — 15× at sf0.1); instead each
    block EXPLODES into the /16 bins it covers (≤256 bins for a /8)
    and the probe is an equi-join on ``ip div 2^16`` with the
    containment check as a residual — linear, broadcastable block
    side, no BroadcastNestedLoopJoin (plan-pinned). Unrouted IPs
    survive as the '(unrouted)' bucket via the left join, because a
    routing table that silently drops is how outages hide.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    ips = cust.select(
        "c_custkey",
        ((F.col("c_custkey").cast("long") * 2654435761) % 4294967296).alias("ip"),
    )
    blocks = nation.select(
        "n_nationkey",
        "n_name",
        (8 + F.col("n_nationkey") % 5).cast("long").alias("plen"),
        (F.col("n_nationkey").cast("long") * 134217728).alias("net"),
    )
    hi = F.col("net") + F.expr("CAST(1 AS BIGINT) << (32 - plen)") - 1
    binned = blocks.select(
        "n_nationkey",
        "n_name",
        "net",
        "plen",
        hi.alias("hi"),
        F.explode(
            F.sequence(
                F.expr("net div 65536"),
                F.expr(
                    "(net + (CAST(1 AS BIGINT) << (32 - plen)) - 1)"
                    " div 65536"
                ),
            )
        ).alias("bin"),
    )
    matched = ips.join(
        F.broadcast(binned),
        (F.col("bin") == F.expr("ip div 65536"))
        & F.col("ip").between(F.col("net"), F.col("hi")),
    ).select("c_custkey", F.col("n_name").alias("m_name"))
    return (
        ips.join(matched, "c_custkey", "left")
        .groupBy(
            F.coalesce(F.col("m_name"), F.lit("(unrouted)")).alias(
                "block_name"
            )
        )
        .agg(
            F.count("*").alias("n_ips"),
            F.min("ip").cast("long").alias("min_ip"),
            F.max("ip").cast("long").alias("max_ip"),
        )
    )


@register(
    "join_lateral_api",
    oracle="""
    SELECT n.n_name, t.top_custkey, t.bal_cents
    FROM nation n, LATERAL (
        SELECT c_custkey AS top_custkey,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 2
    ) t
    ORDER BY n.n_name, t.bal_cents DESC, t.top_custkey
    """,
)
def join_lateral_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``DataFrame.lateralJoin`` — the DataFrame-API twin of
    the SQL LATERAL correlated subquery (sql_lateral_topk covers the
    SQL spelling): per nation, the top-2 customers by account balance,
    written as a correlated inner frame (``F.col("n.…").outer()``
    marks the outer reference; both frames must be ALIASED or the
    bare name silently resolves against the inner frame and the
    correlation degenerates to a tautology — probed empirically).

    Scale: Catalyst decorrelates the correlated ORDER BY … LIMIT k
    into a rank-over-join, so the plan is an equi-join + per-key
    window, never a nested-loop re-execution per outer row — the
    same 100 TB shape the SQL spelling gets.
    """
    nat = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .alias("n")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .alias("c")
    )
    inner = (
        cust.where(
            F.col("n.n_nationkey").outer() == F.col("c.c_nationkey")
        )
        .orderBy(F.desc("c_acctbal"), "c_custkey")
        .limit(2)
        .select(
            F.col("c_custkey").alias("top_custkey"),
            F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").alias(
                "bal_cents"
            ),
        )
    )
    return (
        nat.lateralJoin(inner)
        .select("n_name", "top_custkey", "bal_cents")
        .orderBy("n_name", F.desc("bal_cents"), "top_custkey")
    )


@register(
    "join_hint_override",
    oracle="""
    WITH j AS (
        SELECT o.o_orderpriority AS priority,
               CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM j GROUP BY priority
    """,
)
def join_hint_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy HINTS — the escape hatch every production Spark
    job eventually needs when statistics mislead the planner. The
    same orders⋈lineitem query is planned twice with opposing hints:
    ``MERGE`` (force sort-merge even though AQE might prefer
    broadcast at this size) and ``SHUFFLE_HASH`` (forbid the sort),
    and their results are UNIONed through an exact-count/sum check
    that both plans produce identical rows — the semantic guarantee
    hints must never break. The returned frame carries one copy of
    the aggregate (the two plan variants' results are asserted equal
    inside the query via an anti-join that must be empty, making the
    equality part of the hash contract — if a hinted plan dropped or
    duplicated rows, the output would gain rows and fail the oracle).
    Physical-plan obedience (SortMergeJoin vs ShuffledHashJoin
    operators actually present) is pinned in tests/test_plans.py.

    Scale: hints matter MOST at 100 TB — a mis-broadcast OOMs a
    cluster, a needless sort doubles a stage; this key is the
    regression harness for the engine honoring explicit strategy
    choices.
    """
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias(
            "cents"
        ),
    )

    def agg(joined: DataFrame) -> DataFrame:
        return joined.groupBy(
            F.col("o_orderpriority").alias("priority")
        ).agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("cents").cast("long").alias("total_cents"),
        )

    merged = agg(
        orders.hint("merge").join(
            li, F.col("l_orderkey") == F.col("o_orderkey")
        )
    )
    hashed = agg(
        orders.hint("shuffle_hash").join(
            li, F.col("l_orderkey") == F.col("o_orderkey")
        )
    )
    # plan-variant disagreement surfaces as extra rows -> hash fail
    disagreement = merged.exceptAll(hashed).unionAll(
        hashed.exceptAll(merged)
    )
    return merged.unionAll(disagreement)
