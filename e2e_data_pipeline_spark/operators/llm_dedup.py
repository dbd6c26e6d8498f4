"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2.2, north star BASELINE.json:6): exact dedup, exact
shingle-Jaccard near-dup (oracle-checkable), MinHash-LSH near-dup
(the 100 TB scale path), and SimHash.

Scale design:
- ``dedup_exact`` groups on an md5 of normalized text, not the text
  itself — shuffle keys are 16 bytes regardless of document size.
- ``dedup_near`` (exact Jaccard) pair-joins docs through shared
  shingles; it is the *verification* variant. Linear-at-scale is
  ``dedup_near_lsh``: MinHash signatures + band-bucket join — only
  candidates sharing a band bucket are compared, O(n·bands) not O(n²).
- Unit tests (tests/test_llm_ops.py) assert LSH recall against the
  exact variant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e2e_data_pipeline_spark.catalog import load_table
from e2e_data_pipeline_spark.operators import frame_cache
from e2e_data_pipeline_spark.operators.registry import register

NEAR_DUP_THRESHOLD = 0.6
SHINGLE_K = 3


@register(
    "dedup_exact",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm_text
        FROM documents
    )
    SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(length(norm_text) AS INT) AS text_len
    FROM norm
    GROUP BY norm_text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: keep the lowest doc_id per
    group, report copy counts. Grouping key is the md5 fingerprint (16
    bytes shuffled per doc, not the document body)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        docs.select(
            "doc_id",
            F.md5(norm.cast("binary")).alias("fp"),
            F.length(norm).alias("text_len"),
        )
        .groupBy("fp", "text_len")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies", "text_len")
    )


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct token k-shingles per doc, built with array ops.

    r10 optimization: the original posexplode + window-lead + global
    DISTINCT construction (the shape the oracle SQL still uses) paid
    a shuffle + per-token sort plus a distinct shuffle — in EVERY
    consumer (dedup_near / dedup_near_lsh / dedup_minhash_det /
    dedup_simhash_det). ``arrays_zip`` of the three slice-shifted
    views of the split array emits the identical shingle strings
    scan-locally (zip over slices, NOT ``element_at(split(...), i)``
    inside the lambda — higher-order lambda bodies get no common-
    subexpression elimination, so that form re-splits the text per
    element and goes quadratic per doc; measured 2-4x slower), and
    ``array_distinct`` equals the global distinct since a shingle row
    only carries its own doc_id. The windowed version's shuffle was
    also accidentally load-bearing: it re-spread the single-row-group
    fixture scan before the 16-seed md5 work, so the shuffle-free
    form needs the layout-gated rebalance below (a structural no-op
    once the scan has more row groups than cores). greatest(…, 0)
    keeps slice lengths legal on < k tokens; NULL texts propagate to
    NULL arrays and explode to nothing, as before."""
    from e2e_data_pipeline_spark.catalog import rebalance_cpu

    docs = rebalance_cpu(
        spark, load_table(spark, sf_dir, "documents"), sf_dir, "documents"
    )
    zipped = (
        "arrays_zip("
        " slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 2, 0)),"
        " slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 2, 0)),"
        " slice(split(text, ' '), 3, greatest(size(split(text, ' ')) - 2, 0)))"
    )
    return docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(transform({zipped},"
                " s -> concat_ws(' ', s.`0`, s.`1`, s.`2`)))"
            )
        ).alias("shingle"),
    )


@register(
    "dedup_near",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    sh_raw AS (
        SELECT doc_id,
               concat_ws(' ', tok, lead(tok, 1) OVER w, lead(tok, 2) OVER w) AS shingle,
               lead(tok, {SHINGLE_K - 1}) OVER w AS _tail
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE _tail IS NOT NULL
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           CAST(p.n_common AS BIGINT) AS n_common,
           CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common)
          >= {NEAR_DUP_THRESHOLD}
    """,
)
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs (shingle → inverted
    pair join → Jaccard ≥ threshold). Quadratic in the worst case —
    this is the oracle-checkable reference; the scale path is
    ``dedup_near_lsh`` below."""
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= NEAR_DUP_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


@register("dedup_near_lsh")  # approximate → rows-only check
def dedup_near_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs — the linear scale path.

    shingle → HashingTF sparse vector → MinHashLSH signatures →
    approxSimilarityJoin bucket join. Only same-bucket pairs are
    compared, so cost is O(n·hashTables), not O(n²). Jaccard distance
    threshold matches 1 - NEAR_DUP_THRESHOLD. Nondeterministic hash
    seeds are pinned. Recall vs the exact variant is unit-tested.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = _shingles(spark, sf_dir)
    doc_shingles = sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("shingles")
    )
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(doc_shingles).where(
        F.size("shingles") > 0
    )
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, threshold=1 - NEAR_DUP_THRESHOLD, distCol="jaccard_dist"
    )
    return (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            (F.lit(1) - F.col("jaccard_dist")).alias("est_jaccard"),
        )
    )


@register("dedup_simhash")  # hash-construction specific → rows-only check
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (64-bit) per document + bucket sizes on the top 16 bits.

    Classic near-dup sketch: per token, a 64-bit hash (xxhash64 —
    JVM-side, deterministic seed); the simhash bit b is 1 iff more
    token hashes have bit b set than unset. Implemented with one
    explode + one groupBy over bit-majority sums — linear, no pairwise
    work. Hamming-close simhashes ⇒ likely near-dups; bucketing on a
    bit prefix gives the LSH-style candidate generation at scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).withColumn("h", F.xxhash64(F.col("tok")))
    # majority vote per bit: sum(+1/-1) per (doc, bit) — expressed as 64
    # per-bit conditional sums in one aggregation (no 64-way explode).
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    simhash = sum(
        (F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(0) * (1 << b))
        for b in range(63)  # bit 63 omitted: keep the value positive
    )
    out = agg.select("doc_id", simhash.alias("simhash"))
    return out.withColumn(
        "bucket16", F.shiftright(F.col("simhash"), 47)
    )


@register(
    "dedup_cluster",
    # The pair-generation CTEs below MUST stay textually in sync with
    # dedup_near's oracle — both derive the same Jaccard >= threshold
    # edge set.
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    sh_raw AS (
        SELECT doc_id,
               concat_ws(' ', tok, lead(tok, 1) OVER w, lead(tok, 2) OVER w) AS shingle,
               lead(tok, {SHINGLE_K - 1}) OVER w AS _tail
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE _tail IS NOT NULL
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs0 AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    dup_pairs AS (
        SELECT p.doc_a, p.doc_b
        FROM pairs0 p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
        WHERE CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common)
              >= {NEAR_DUP_THRESHOLD}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
        UNION ALL
        SELECT doc_b, doc_a FROM dup_pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
    ),
    labeled AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
        FROM reach GROUP BY src
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM labeled
    """,
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the exact
    Jaccard pair graph, labels = min doc_id per component.

    Pairwise dedup under-deletes: if A~B and B~C but A!~C, pair-wise
    keep-lowest retains both A and C even though all three are one
    duplicate cluster. Components fix that — one representative per
    cluster.

    Implementation is iterative label propagation (the Pregel shape):
    every vertex starts as its own label; each round takes the min of
    its neighbors' labels; converged when no label changes. This is
    the sanctioned driver-side loop — each iteration is a fully
    distributed join+aggregate, the loop count is the component
    *diameter* (tiny for dup clusters), and ``localCheckpoint``
    truncates the growing lineage each round, which is what keeps
    iterative DataFrame algorithms planable at scale. The oracle
    computes the same fixpoint declaratively with a recursive CTE.
    """
    dup_pairs = dedup_near(spark, sf_dir).select("doc_a", "doc_b")
    edges = dup_pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        dup_pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    edges = edges.localCheckpoint()

    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(20):  # bound = max component diameter we tolerate
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["doc_id"] == neighbor_min["src"], "left")
            .select(
                labels["doc_id"],
                F.least(labels["label"], F.coalesce("nmin", labels["label"])).alias(
                    "label"
                ),
            )
            .localCheckpoint()
        )
        # Labels are non-increasing per vertex (least of old and
        # neighbor-min), so "no vertex changed" ⟺ "sum of labels
        # unchanged" — a two-stage O(1)-row aggregate on the already-
        # materialized frame, far cheaper than the equi-join diff count
        # it replaces (one fewer shuffle per iteration).
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        prev_sum = getattr(labels, "_lp_sum", None)
        if prev_sum is None:
            prev_sum = labels.agg(F.sum("label")).collect()[0][0]
        labels = new_labels
        labels._lp_sum = new_sum
        if new_sum == prev_sum:
            break

    w = Window.partitionBy("label")
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.count("*").over(w).alias("cluster_size"),
    )


@register(
    "text_decontaminate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    sh_raw AS (
        SELECT doc_id,
               concat_ws(' ', tok, lead(tok, 1) OVER w, lead(tok, 2) OVER w) AS shingle,
               lead(tok, {SHINGLE_K - 1}) OVER w AS _tail
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE _tail IS NOT NULL
    ),
    benchmark AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id < 10
    ),
    contaminated AS (
        SELECT DISTINCT s.doc_id
        FROM sh s JOIN benchmark b ON s.shingle = b.shingle
        WHERE s.doc_id >= 10
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated
    FROM documents d
    LEFT JOIN contaminated c ON c.doc_id = d.doc_id
    WHERE d.doc_id >= 10
    GROUP BY d.lang
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    token k-shingle with a held-out benchmark set (here: docs 0-9 play
    the benchmark) — the standard leakage guard before pretraining.

    The benchmark shingle set is DISTINCT and bounded (benchmarks are
    small), so it broadcasts; contamination detection is then a
    broadcast semi join on the exploded corpus shingles — linear in
    corpus size, never a pairwise comparison. Shingling reuses the
    exact construction of ``dedup_near``, so both oracles stay in
    textual sync. Output is a per-language contamination audit.
    """
    sh = _shingles(spark, sf_dir)
    benchmark = sh.where(F.col("doc_id") < 10).select("shingle").distinct()
    contaminated = (
        sh.where(F.col("doc_id") >= 10)
        .join(F.broadcast(benchmark), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") >= 10)
    flagged = docs.join(
        contaminated.withColumn("is_contaminated", F.lit(1)), "doc_id", "left"
    )
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_clean"),
        F.sum(
            F.when(F.col("is_contaminated").isNotNull(), 1).otherwise(0)
        ).alias("n_contaminated"),
    )


@register(
    "corpus_shard_pack",
    oracle="""
    WITH sized AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
                   OVER (PARTITION BY lang ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_tokens
        FROM documents
    )
    SELECT lang,
           CAST(floor((cum_tokens - 1) / 512) AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM sized
    GROUP BY lang, shard
    """,
)
def corpus_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard packing: assign documents to ~512-token training shards
    per language by cumulative token count in a deterministic order —
    how a corpus becomes fixed-budget sequence-packing shards.

    One window (running token sum per language over doc_id order) and
    one integer division: a single shuffle, no sequential driver loop —
    the greedy bin-packing loop every single-node implementation uses
    does not distribute, while cumulative-quota assignment gives the
    same bounded-overflow shards declaratively. Integer token counts →
    exact cross-engine parity.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return (
        sized.withColumn(
            "shard", F.floor((F.col("cum_tokens") - 1) / 512).cast("long")
        )
        .groupBy("lang", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "dedup_url_canonical",
    oracle="""
    WITH raw AS (
        SELECT doc_id,
               concat('https://',
                      CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END,
                      '.Example.COM',
                      CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END,
                      '/docs/', CAST(doc_id % 40 AS VARCHAR),
                      CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
                      CASE WHEN doc_id % 4 = 0
                           THEN concat('?utm_source=feed&id=', CAST(doc_id % 40 AS VARCHAR))
                           ELSE concat('?id=', CAST(doc_id % 40 AS VARCHAR)) END
               ) AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id, url,
               concat(
                   lower(regexp_extract(url, 'https?://([^/:?#]+)', 1)),
                   regexp_replace(
                       regexp_extract(url, '//[^/?#]+(/[^?#]*)', 1), '/$', ''),
                   '?id=',
                   regexp_extract(url, '[?&]id=([^&#]*)', 1)
               ) AS canonical_url
        FROM raw
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
    FROM canon
    GROUP BY canonical_url
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup: collapse case-varied hosts, default
    ports, trailing slashes, and utm_* tracking params to one
    canonical form, then pick one representative per canonical URL —
    the first pass of every crawl-dedup pipeline (exact-text dedup
    misses these trivially-different duplicates).

    Messy URLs are synthesized deterministically from fixture columns
    (the fn_url_parse pattern — no network). Canonicalization is a
    chain of built-in regexps (JVM, codegen) with IDENTICAL patterns
    on both engines: lowercase host without port, port+slash-stripped
    path, tracking params dropped keeping only ``id``. The dedup
    itself is one groupBy on the canonical key; at 100 TB the key is a
    short string (not the full document), and min(doc_id) is the
    deterministic representative choice (same as dedup_exact).
    """
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(d % 3 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".Example.COM"),
        F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        (d % 40).cast("string"),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(F.lit("?utm_source=feed&id="), (d % 40).cast("string")),
        ).otherwise(F.concat(F.lit("?id="), (d % 40).cast("string"))),
    )
    raw = docs.select("doc_id", url.alias("url"))
    canonical = F.concat(
        F.lower(F.regexp_extract("url", r"https?://([^/:?#]+)", 1)),
        F.regexp_replace(
            F.regexp_extract("url", r"//[^/?#]+(/[^?#]*)", 1), r"/$", ""
        ),
        F.lit("?id="),
        F.regexp_extract("url", r"[?&]id=([^&#]*)", 1),
    )
    return (
        raw.select("doc_id", "url", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("url").alias("n_raw_forms"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


@register(
    "dedup_record_linkage",
    oracle="""
    WITH clean AS (
        SELECT c_custkey, c_nationkey, c_name FROM customer
    ),
    dirty AS (
        -- deterministic "typo" copies: last two characters swapped
        SELECT c_custkey + 10000000 AS c_custkey,
               c_nationkey,
               concat(substr(c_name, 1, length(c_name) - 2),
                      substr(c_name, length(c_name), 1),
                      substr(c_name, length(c_name) - 1, 1)) AS c_name
        FROM customer WHERE c_custkey % 4 = 0
    ),
    blocked AS (
        SELECT cl.c_custkey AS clean_key, d.c_custkey AS dirty_key,
               cl.c_nationkey,
               levenshtein(cl.c_name, d.c_name) AS dist
        FROM clean cl
        JOIN dirty d
          ON d.c_nationkey = cl.c_nationkey
         AND substr(d.c_name, 10, 5) = substr(cl.c_name, 10, 5)
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN dist <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_linked,
           CAST(SUM(CASE WHEN dist <= 2
                          AND dirty_key - 10000000 = clean_key
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_true_refound
    FROM blocked
    GROUP BY c_nationkey
    """,
)
def dedup_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / record linkage: match typo'd duplicate
    records back to their source via BLOCKING + edit-distance scoring
    — the classic master-data-management dedup (exact dedup can't see
    these, embedding dedup is overkill for structured names).

    Dirty copies are synthesized deterministically (last two chars
    swapped — edit distance exactly 2). Blocking on (nation, digit
    prefix) keeps candidate pairs near-linear: the quadratic
    levenshtein kernel only runs INSIDE blocks of bounded size, the
    same candidates-then-verify shape as dedup_near / text_editdist.
    At 100 TB the block key is the shuffle key, and block-size skew is
    the thing to monitor (a degenerate block re-quadratices the join).
    n_true_refound == n per nation proves zero false negatives for
    this perturbation; n_candidates - n_linked counts the block
    collisions the scorer rejected.
    """
    from e2e_data_pipeline_spark.catalog import rebalance_cpu

    cust = load_table(spark, sf_dir, "customer")
    # r10: the levenshtein kernel runs on the probe side of the block
    # join; the single-row-group fixture scan would run it on ONE
    # core (layout-gated spread, no-op at production layouts, and the
    # block-pair set — hence n_candidates — is unchanged).
    clean = rebalance_cpu(
        spark,
        cust.select("c_custkey", "c_nationkey", "c_name"),
        sf_dir,
        "customer",
    )
    nm = F.col("c_name")
    ln = F.length(nm)
    dirty = (
        cust.where(F.col("c_custkey") % 4 == 0)
        .select(
            (F.col("c_custkey") + 10000000).alias("c_custkey"),
            "c_nationkey",
            F.concat(
                F.substring(nm, 1, ln - F.lit(2)).cast("string"),
                F.substring(nm, ln, F.lit(1)),
                F.substring(nm, ln - F.lit(1), F.lit(1)),
            ).alias("c_name"),
        )
    )
    blocked = clean.alias("cl").join(
        dirty.alias("d"),
        (F.col("d.c_nationkey") == F.col("cl.c_nationkey"))
        & (
            F.substring(F.col("d.c_name"), 10, 5)
            == F.substring(F.col("cl.c_name"), 10, 5)
        ),
    )
    dist = F.levenshtein(F.col("cl.c_name"), F.col("d.c_name"))
    return (
        blocked.select(
            F.col("cl.c_nationkey").alias("c_nationkey"),
            F.col("cl.c_custkey").alias("clean_key"),
            F.col("d.c_custkey").alias("dirty_key"),
            dist.alias("dist"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(F.when(F.col("dist") <= 2, 1).otherwise(0)).alias("n_linked"),
            F.sum(
                F.when(
                    (F.col("dist") <= 2)
                    & (F.col("dirty_key") - 10000000 == F.col("clean_key")),
                    1,
                ).otherwise(0)
            ).alias("n_true_refound"),
        )
    )


@register("dedup_semantic")  # IVF-bucketed approximation → rows-only check
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) near-duplicate clusters — the last
    rung of the dedup ladder (exact → shingle-Jaccard → MinHash →
    SimHash → semantic): catches paraphrases and re-encodings that
    share no surface n-grams at all.

    Scale shape is IVF, not all-pairs: K deterministic seed centroids
    (lowest vec_ids, same convention as ``sim_topk_ivf``), every
    vector assigned to its nearest cell for OWNERSHIP and its P
    nearest cells for CANDIDATE generation (multi-probe — a near-dup
    pair on a cell boundary still meets in one of the probed cells).
    Capture is SYMMETRIC: pair (a,b) is a candidate if a's home cell
    is among b's probes OR vice versa (the join runs home×probe both
    ways via pair canonicalization + dedup). Per-cell work is
    |cell|·|probe members| and total work is ~P·N²/K — with
    K = sqrt(N) cells at real scale this is N^1.5 candidate pairs
    against brute force's N².

    Representative pick is greedy-minimum: a vector's cluster rep is
    the lowest vec_id among itself and its above-threshold neighbors;
    output is one row per duplicate cluster (rep, member count, mean
    in-cluster cosine). Pair recall vs numpy brute force is
    unit-tested; the threshold (0.35) sits where this isotropic
    fixture actually has neighbor mass — real embedding corpora would
    run 0.85+.
    """
    from e2e_data_pipeline_spark.operators.llm_similarity import dot, sq_norm

    n_cells = 8
    n_probes = 3
    threshold = 0.35
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
    )

    def cells(keep: int, id_alias: str, emb_alias: str) -> DataFrame:
        scored = emb.crossJoin(F.broadcast(cents)).select(
            F.col("vec_id").alias(id_alias),
            F.col("embedding").alias(emb_alias),
            "cent_id",
            F.round(
                dot(F.col("embedding"), F.col("cent_emb"))
                / (
                    F.sqrt(sq_norm(F.col("embedding")))
                    * F.sqrt(sq_norm(F.col("cent_emb")))
                ),
                6,
            ).alias("cent_sim"),
        )
        w = Window.partitionBy(id_alias).orderBy(F.desc("cent_sim"), "cent_id")
        return (
            scored.withColumn("cell_rn", F.row_number().over(w))
            .where(F.col("cell_rn") <= keep)
            .select(id_alias, emb_alias, F.col("cent_id").alias("cell"))
        )

    home = cells(1, "vec_a", "emb_a")
    probed = cells(n_probes, "vec_b", "emb_b")
    pairs = (
        home.join(
            probed,
            (home["cell"] == probed["cell"]) & (F.col("vec_a") != F.col("vec_b")),
        )
        .select(
            # Canonicalize (least, greatest) so a pair captured from
            # either direction dedups to one row — this is what makes
            # the home×probe join symmetric.
            F.least("vec_a", "vec_b").alias("p_lo"),
            F.greatest("vec_a", "vec_b").alias("p_hi"),
            F.round(
                dot(F.col("emb_a"), F.col("emb_b"))
                / (F.sqrt(sq_norm(F.col("emb_a"))) * F.sqrt(sq_norm(F.col("emb_b")))),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["p_lo", "p_hi"])
        .select(
            F.col("p_lo").alias("vec_a"), F.col("p_hi").alias("vec_b"), "cosine"
        )
    )
    # Greedy-minimum representative: each vector's rep is the lowest
    # id among itself and its dup-neighbors (one aggregation, no
    # iterative closure — dedup_cluster is the transitive variant).
    members = pairs.select(
        F.col("vec_b").alias("vec_id"),
        F.col("vec_a").alias("nbr"),
        "cosine",
    ).unionByName(
        pairs.select(
            F.col("vec_a").alias("vec_id"),
            F.col("vec_b").alias("nbr"),
            "cosine",
        )
    )
    rep = members.groupBy("vec_id").agg(
        F.least(F.min("nbr"), F.first("vec_id")).alias("rep_id"),
        F.max("cosine").alias("best_cosine"),
    )
    return (
        rep.groupBy("rep_id")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.avg("best_cosine"), 6).alias("mean_best_cosine"),
        )
        .where(F.col("rep_id").isNotNull())
    )


def _pagerank_oracle() -> str:
    """3-iteration PageRank oracle with one CTE per iteration; the
    per-iteration ROUND(.,12) keeps cross-engine summation-order ulp
    drift from compounding (mirrored exactly on the Spark side)."""
    edges = """
    WITH pairs AS (
        SELECT DISTINCT concat('c', CAST(o.o_custkey AS VARCHAR)) AS a,
                        concat('s', CAST(l.l_suppkey AS VARCHAR)) AS b
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL
        SELECT b AS src, a AS dst FROM pairs
    ),
    deg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
    r0 AS (
        SELECT deg.src AS node, CAST(1.0 AS DOUBLE) / n.n_nodes AS r
        FROM deg CROSS JOIN n
    )"""
    it = """,
    r{i} AS (
        SELECT e.dst AS node,
               ROUND(0.15 / MIN(n.n_nodes)
                     + 0.85 * SUM(p.r / d.d), 12) AS r
        FROM edges e
        JOIN r{p} p ON p.node = e.src
        JOIN deg d ON d.src = e.src
        CROSS JOIN n
        GROUP BY e.dst
    )"""
    final = """
    SELECT node, ROUND(r, 9) AS pagerank,
           CAST(row_number() OVER (ORDER BY ROUND(r, 9) DESC, node) AS BIGINT)
               AS rnk
    FROM r3 QUALIFY rnk <= 20
    """
    return (
        edges
        + it.format(i=1, p=0)
        + it.format(i=2, p=1)
        + it.format(i=3, p=2)
        + final
    )


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, d=0.85) over the undirected
    customer↔supplier trading graph derived from lineitem⋈orders —
    the canonical iterative graph computation expressed as pure
    DataFrame joins+aggregations (the Pregel shape dedup_cluster uses
    for components, here with floating-point mass propagation).

    Determinism: each iteration's rank is ROUND(.,12) so the
    engine-arbitrary ORDER of the per-node contribution sum can never
    compound past the rounding slack (entropy/BM25 pattern, applied
    per iteration). The graph is symmetrized, so there are no dangling
    nodes and no global mass-correction term. Each iteration is one
    join + one aggregation on the edge list — at 100 TB this is
    exactly GraphX/Pregel's cost model, with lineage kept shallow by
    the fixed iteration count (unbounded iteration would want
    localCheckpoint, as dedup_cluster does).
    """
    # r10: the trading-pair derivation (fact join + distinct) comes
    # from the session frame cache; the symmetrized edge view over the
    # checkpointed pairs is cheap and keeps every iteration joining
    # against materialized blocks (the pre-r10 comment's rationale,
    # now shared with graph_label_propagation).
    pairs = _trading_pairs(spark, sf_dir)
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    r = deg.crossJoin(F.broadcast(n_nodes)).select(
        F.col("src").alias("node"),
        (F.lit(1.0) / F.col("n_nodes")).alias("r"),
    )
    for _ in range(3):
        r = (
            edges.join(r, edges.src == r.node)
            .join(deg, "src")
            .crossJoin(F.broadcast(n_nodes))
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.round(
                    0.15 / F.min("n_nodes") + 0.85 * F.sum(F.col("r") / F.col("d")),
                    12,
                ).alias("r")
            )
        )
    w = Window.orderBy(F.desc(F.round(F.col("r"), 9)), F.col("node").asc())
    return (
        r.select(
            "node",
            F.round("r", 9).alias("pagerank"),
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .where(F.col("rnk") <= 20)
    )


@register(
    "dedup_containment",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    sh_raw AS (
        SELECT doc_id,
               concat_ws(' ', tok, lead(tok, 1) OVER w, lead(tok, 2) OVER w)
                   AS shingle,
               lead(tok, {SHINGLE_K - 1}) OVER w AS _tail
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE _tail IS NOT NULL
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT CASE WHEN sa.n <= sb.n THEN p.doc_a ELSE p.doc_b END AS contained_doc,
           CASE WHEN sa.n <= sb.n THEN p.doc_b ELSE p.doc_a END AS container_doc,
           p.n_common,
           CAST(LEAST(sa.n, sb.n) AS BIGINT) AS n_small,
           CAST(p.n_common AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE)
               AS containment
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE p.n_common * 10 >= LEAST(sa.n, sb.n) * 9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment near-dup pairs: C = |A∩B| / |smaller| ≥ 0.9
    — catches a document EMBEDDED in a larger one, which symmetric
    Jaccard misses (a 100-line doc inside a 10k-line doc has Jaccard
    ≈ 0.01 but containment 1.0). The standard complement to
    ``dedup_near`` for boilerplate/quote removal in corpus curation.

    Same inverted-index shingle join as dedup_near (linear candidate
    generation, quadratic only inside shared-shingle clusters — the
    LSH variant is the unbounded-scale path). The threshold test is a
    cross-multiplied INTEGER inequality (n_common·10 ≥ n_small·9), so
    boundary pairs never ride on a float rounding; the reported ratio
    is one exact int64÷int64 division. Direction (contained vs
    container) resolves by size with doc_id as the deterministic tie
    order from the a<b join.
    """
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    n_small = F.least("na", "nb")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(F.col("n_common") * 10 >= n_small * 9)
        .select(
            F.when(F.col("na") <= F.col("nb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
            F.when(F.col("na") <= F.col("nb"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("container_doc"),
            "n_common",
            n_small.alias("n_small"),
            (F.col("n_common").cast("double") / n_small.cast("double")).alias(
                "containment"
            ),
        )
    )


@register(
    "corpus_mixture_sample",
    oracle="""
    WITH weights(source, p) AS (
        VALUES ('src0', 15), ('src1', 15), ('src2', 15), ('src3', 15),
               ('src4', 15), ('src5', 5), ('src6', 5), ('src7', 5),
               ('src8', 5), ('src9', 5)
    ),
    sized AS (
        SELECT d.source, w.p, d.doc_id,
               (d.doc_id * 2654435761) % 1000000 AS h
        FROM documents d JOIN weights w ON w.source = d.source
    ),
    counts AS (
        SELECT source, p, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM sized GROUP BY source, p
    ),
    total AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM counts),
    kept AS (
        SELECT s.source,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM sized s, counts c, total t
        WHERE c.source = s.source
          AND s.h * c.n_docs * 100 < CAST(s.p AS BIGINT) * t.n * 1000000
        GROUP BY s.source
    )
    SELECT c.source, c.n_docs, COALESCE(k.n_kept, 0) AS n_kept,
           CAST(c.p AS DOUBLE) / 100.0 AS target_share,
           CAST(COALESCE(k.n_kept, 0) AS DOUBLE)
               / CAST((SELECT SUM(n_kept) FROM kept) AS DOUBLE)
               AS achieved_share
    FROM counts c LEFT JOIN kept k ON k.source = c.source
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture resampling: downsample each source to a target
    mixture (15% each for src0-4, 5% each for src5-9) — the data-mixing
    stage every pretraining pipeline runs before tokenization.

    Per-source keep rate is min(1, target·N/n_source), applied as a
    deterministic per-doc hash predicate (Knuth multiplicative, the
    sample_hash idiom) so the SAME docs are kept on any engine, any
    partitioning, any run. The float rate never exists: the predicate
    is the cross-multiplied INTEGER inequality
    h·n_source·100 < p·N·1e6 (the min(1,·) is implicit because h <
    1e6 always). Per-source counts broadcast; the scan side streams —
    one pass, no shuffle of the corpus itself. Shares are single
    int64÷int64 divisions.
    """
    weights = spark.createDataFrame(
        [(f"src{i}", 15 if i < 5 else 5) for i in range(10)],
        "source string, p int",
    )
    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    sized = docs.join(F.broadcast(weights), "source").withColumn(
        "h", (F.col("doc_id") * F.lit(2654435761)) % F.lit(1_000_000)
    )
    counts = sized.groupBy("source", "p").agg(F.count("*").alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("n"))
    pred_side = (
        sized.join(
            F.broadcast(counts.select("source", "n_docs")), "source"
        ).crossJoin(F.broadcast(total))
    )
    kept = (
        pred_side.where(
            F.col("h") * F.col("n_docs") * F.lit(100)
            < F.col("p").cast("long") * F.col("n") * F.lit(1_000_000)
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    kept_total = kept.agg(F.sum("n_kept").alias("tk"))
    return (
        counts.join(kept, "source", "left")
        .crossJoin(F.broadcast(kept_total))
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("p").cast("double") / F.lit(100.0)).alias("target_share"),
            (
                F.coalesce("n_kept", F.lit(0)).cast("double")
                / F.col("tk").cast("double")
            ).alias("achieved_share"),
        )
    )


@register(
    "dedup_minhash_det",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    sh_raw AS (
        SELECT doc_id,
               concat_ws(' ', tok, lead(tok, 1) OVER w, lead(tok, 2) OVER w)
                   AS shingle,
               lead(tok, {SHINGLE_K - 1}) OVER w AS _tail
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE _tail IS NOT NULL
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    hashed AS (
        SELECT s.doc_id, g.seed,
               MIN(('0x' || substr(md5('s' || CAST(g.seed AS VARCHAR)
                                        || '|' || s.shingle), 1, 15))::BIGINT)
                   AS sig
        FROM sh s, range(0, 16) g(seed)
        GROUP BY s.doc_id, g.seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               MAX(CASE WHEN seed % 2 = 0 THEN sig END) AS s0,
               MAX(CASE WHEN seed % 2 = 1 THEN sig END) AS s1
        FROM hashed GROUP BY doc_id, seed // 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.s0 = b.s0 AND a.s1 = b.s1
         AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT v.doc_a, v.doc_b, v.n_common,
           CAST(v.n_common AS DOUBLE)
               / CAST(sa.n + sb.n - v.n_common AS DOUBLE) AS jaccard
    FROM verified v
    JOIN sizes sa ON sa.doc_id = v.doc_a
    JOIN sizes sb ON sb.doc_id = v.doc_b
    WHERE 16 * v.n_common >= 6 * (sa.n + sb.n)
    """,
)
def dedup_minhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, engine-portable MinHash-LSH near-dedup —
    hash-exact against the oracle, unlike `dedup_near_lsh` whose MLlib
    MinHashLSH signatures are JVM-internal (rows-only checkable).

    Signatures: 16 md5-derived 60-bit min-hashes (seeded by string
    prefix; `conv(substr(md5(..),1,15),16,10)` ≡ DuckDB
    `('0x'||..)::BIGINT`, verified bit-equal). Banding 8×2 makes
    candidate generation LINEAR (equi-join on band signature, no
    all-pairs): P(candidate) = 1−(1−J²)⁸ ≈ 0.97 at the 0.6 threshold.
    Candidates are then EXACTLY verified — the Jaccard gate is the
    cross-multiplied integer inequality 16·c ≥ 6·(|A|+|B|), so the
    reported pair set is exactly "banding-reachable pairs with true
    J ≥ 0.6". md5 is the portability price; swap xxhash64 in
    production for ~4× cheaper signatures with the same plan shape.
    """
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    hashed = (
        sh.select(
            "doc_id", "shingle", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("seed")
        )
        .select(
            "doc_id",
            "seed",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("s"),
                            F.col("seed").cast("string"),
                            F.lit("|"),
                            F.col("shingle"),
                        )
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
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("sig"))
    )
    bands = hashed.groupBy(
        "doc_id", (F.col("seed") / 2).cast("long").alias("band")
    ).agg(
        F.max(F.when(F.col("seed") % 2 == 0, F.col("sig"))).alias("s0"),
        F.max(F.when(F.col("seed") % 2 == 1, F.col("sig"))).alias("s1"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.s0") == F.col("b.s0"))
            & (F.col("a.s1") == F.col("b.s1"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    shb = sh.select(
        F.col("doc_id").alias("doc_b2"), F.col("shingle").alias("shingle_b")
    )
    verified = (
        cand.join(sha, "doc_a")
        .join(
            shb,
            (F.col("doc_b") == F.col("doc_b2"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        verified.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.lit(16) * F.col("n_common") >= F.lit(6) * (F.col("na") + F.col("nb"))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


_SIMHASH_BITS = 60
_SIMHASH_BANDS = 4  # 4 x 15-bit chunks
_SIMHASH_MAXDIST = 3

_SIMHASH_DET_ORACLE = f"""
    WITH toks0 AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    sh_raw AS (
        SELECT doc_id,
               concat_ws(' ', tok, lead(tok, 1) OVER w, lead(tok, 2) OVER w)
                   AS shingle,
               lead(tok, 2) OVER w AS _tail
        FROM toks0
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    toks AS (
        SELECT DISTINCT doc_id, shingle AS tok
        FROM sh_raw WHERE _tail IS NOT NULL
    ),
    hashed AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        FROM toks
    ),
    sums AS (
        SELECT doc_id,
               {", ".join(f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(_SIMHASH_BITS))}
        FROM hashed GROUP BY doc_id
    ),
    fp AS (
        SELECT doc_id,
               ({" + ".join(f"CASE WHEN s{b} > 0 THEN 1::BIGINT << {b} ELSE 0 END" for b in range(_SIMHASH_BITS))}) AS f
        FROM sums
    ),
    banded AS (
        SELECT doc_id, f, g.band, (f >> (15 * g.band)) & 32767 AS bv
        FROM fp, range(0, {_SIMHASH_BANDS}) g(band)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, a.f AS fa,
                        b.doc_id AS doc_b, b.f AS fb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(fa, fb)) <= {_SIMHASH_MAXDIST}
"""


@register("dedup_simhash_det", oracle=_SIMHASH_DET_ORACLE)
def dedup_simhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic engine-portable SimHash near-dedup — hash-exact
    against the oracle (the md5-60-bit portability contract of
    dedup_minhash_det, applied to the OTHER classic sketch).

    Per document: 60 conditional ±1 sums over md5-derived
    shingle-hash bits (one groupBy, NO 60-way explode — the dedup_simhash shape),
    majority vote packs the fingerprint with shiftleft. Candidates:
    any equal 15-bit chunk (4 bands ⇒ every pair within Hamming 3
    is caught — pigeonhole over 4 chunks), verified with
    bit_count(xor) ≤ 3 — bitwise ops are exact on both engines, so
    the WHOLE sketch pipeline is hash-checkable, not just its output
    row count. Linear: token pass + tiny fingerprint frame joins.
    """
    toks = _shingles(spark, sf_dir).withColumnRenamed("shingle", "tok")
    hashed = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b) % 2 == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    fp_expr = None
    for b in range(_SIMHASH_BITS):
        term = F.when(
            F.col(f"s{b}") > 0, F.expr(f"shiftleft(1L, {b})")
        ).otherwise(F.lit(0).cast("long"))
        fp_expr = term if fp_expr is None else fp_expr + term
    fp = sums.select("doc_id", fp_expr.alias("f"))
    banded = fp.select(
        "doc_id",
        "f",
        F.explode(F.sequence(F.lit(0), F.lit(_SIMHASH_BANDS - 1))).alias("band"),
    ).select(
        "doc_id",
        "f",
        "band",
        F.expr("(f >> (15 * band)) & 32767").alias("bv"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.f").alias("fa"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.f").alias("fb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("fa ^ fb"))
    return cand.where(hamming <= _SIMHASH_MAXDIST).select(
        "doc_a", "doc_b", hamming.cast("long").alias("hamming")
    )


@register(
    "graph_bfs_layers",
    oracle="""
    WITH RECURSIVE n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    nodes AS (SELECT doc_id FROM documents),
    edges AS (
        SELECT doc_id AS a,
               (doc_id * 2654435761 + 1) % (SELECT n_docs FROM n) AS b
        FROM nodes
        UNION ALL
        SELECT doc_id,
               (doc_id * 40503 + 7) % (SELECT n_docs FROM n)
        FROM nodes
    ),
    walk AS (
        SELECT CAST(0 AS BIGINT) AS node, 0 AS dist
        UNION ALL
        SELECT e.b, w.dist + 1
        FROM walk w JOIN edges e ON e.a = w.node
        WHERE w.dist < 6
    )
    SELECT node, CAST(MIN(dist) AS BIGINT) AS min_dist
    FROM walk GROUP BY node
    """,
)
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first shortest-path layers from a seed over a sparse
    deterministic graph (two functional out-edges per node — the
    fixtures carry no explicit edge table, so edges derive from the
    id space like join_geo_grid's coordinates).

    Spark's recursive CTE cannot yet dedupe per step (UNION inside
    recursion is unsupported — measured), so cycle-safe BFS runs as
    the Pregel-style frontier loop: 6 rounds of frontier⋈edges with
    an anti-join against the visited set, `localCheckpoint` each
    round to truncate lineage (the dedup_cluster iteration contract —
    per-round driver work is O(1), never a data collect). The oracle
    is DuckDB's recursive CTE with a depth cap (path explosion stays
    bounded: out-degree 2 ⇒ ≤2⁶ paths per seed) reduced by MIN(dist)
    — so the loop and the fixpoint formulation are proved equivalent.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n_docs = docs.count()
    if n_docs == 0:
        return spark.createDataFrame([], "node long, min_dist long")
    e1 = docs.select(
        F.col("doc_id").alias("a"),
        ((F.col("doc_id") * F.lit(2654435761) + 1) % n_docs).alias("b"),
    )
    e2 = docs.select(
        F.col("doc_id").alias("a"),
        ((F.col("doc_id") * F.lit(40503) + 7) % n_docs).alias("b"),
    )
    edges = e1.unionByName(e2).localCheckpoint(eager=True)
    frontier = spark.createDataFrame([(0, 0)], "node long, min_dist long")
    visited = frontier
    for k in range(1, 7):
        nxt = (
            frontier.join(edges, frontier.node == edges.a)
            .select(F.col("b").alias("node"), F.lit(k).cast("long").alias("min_dist"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.rdd.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


@register(
    "dedup_chunks",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS w,
               unnest(range(0, len(string_split(text, ' ')))) AS idx
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, CAST(idx // 3 AS BIGINT) AS cid,
               string_agg(w, ' ' ORDER BY idx) AS ctext
        FROM toks GROUP BY doc_id, idx // 3
    ),
    first_seen AS (
        SELECT ctext, MIN(doc_id * 1000000 + cid) AS first_key
        FROM chunks GROUP BY ctext
    ),
    marked AS (
        SELECT c.doc_id, c.cid, c.ctext,
               CASE WHEN c.doc_id * 1000000 + c.cid = f.first_key
                    THEN 1 ELSE 0 END AS keep
        FROM chunks c JOIN first_seen f ON f.ctext = c.ctext
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST(length(COALESCE(
               string_agg(CASE WHEN keep = 1 THEN ctext END, ' ' ORDER BY cid),
               '')) AS BIGINT) AS kept_chars,
           substr(md5(COALESCE(
               string_agg(CASE WHEN keep = 1 THEN ctext END, ' ' ORDER BY cid),
               '')), 1, 16) AS digest
    FROM marked GROUP BY doc_id
    """,
)
def dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide chunk-level dedup with document reassembly — the
    line/paragraph dedup step of web-corpus pipelines (drop every
    repeated chunk except its first occurrence in (doc_id, position)
    order, then stitch each document back together from its surviving
    chunks). This fixture's "paragraphs" are 3-token chunks so the
    dedup actually fires (~19% of chunks repeat); the chunk size is a
    parameter in real use.

    Shape: posexplode -> chunk reassembly (one grouped sort-agg) ->
    first-occurrence argmin per chunk text -> join back -> per-doc
    ordered string_agg. Every stage is a keyed aggregate or equi-join
    (the classic keep-first pattern of dedup_exact lifted to
    sub-document granularity); nothing is quadratic. The rebuilt text
    is returned as length + md5 digest rather than raw (stable hash,
    small rows). The first-key packing doc_id*1e6+cid assumes <1e6
    chunks per document — switch to a struct argmin at pathological
    document sizes.
    """
    docs = load_table(spark, sf_dir, "documents", parallelize_scan=True)
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("idx", "w")
    )
    chunks = (
        toks.groupBy("doc_id", F.expr("idx div 3").cast("bigint").alias("cid"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "w"))),
                    lambda s: s.w,
                ),
                " ",
            ).alias("ctext")
        )
    )
    first_seen = chunks.groupBy("ctext").agg(
        F.min(F.col("doc_id") * 1000000 + F.col("cid")).alias("first_key")
    )
    marked = chunks.join(first_seen, "ctext").select(
        "doc_id",
        "cid",
        "ctext",
        F.when(
            F.col("doc_id") * 1000000 + F.col("cid") == F.col("first_key"), 1
        )
        .otherwise(0)
        .alias("keep"),
    )
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("keep") == 1, F.struct("cid", "ctext"))
                )
            ),
            lambda s: s.ctext,
        ),
        " ",
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("keep").alias("n_kept"),
        F.length(rebuilt).cast("bigint").alias("kept_chars"),
        F.substring(F.md5(rebuilt), 1, 16).alias("digest"),
    )


@register(
    "graph_triangles",
    oracle="""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 2
    ),
    deg AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT p1 AS p FROM edges UNION ALL SELECT p2 AS p FROM edges
        ) GROUP BY p
    ),
    tri AS (
        SELECT COUNT(*) AS n_tri
        FROM edges e1
        JOIN edges e2 ON e1.p2 = e2.p1
        JOIN edges e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    )
    SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT SUM(d * (d - 1) / 2) FROM deg) AS BIGINT) AS n_wedges,
           CAST(t.n_tri AS BIGINT) AS n_triangles,
           CAST(3 * t.n_tri * 1000000
                // NULLIF((SELECT SUM(d * (d - 1) / 2) FROM deg), 0)
                AS BIGINT) AS clustering_ppm
    FROM tri t
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient on the
    co-purchase graph (parts bought together in ≥2 distinct orders) —
    the standard cohesion metric for similarity graphs, and the
    classic distributed-graph benchmark. Edges are canonically
    oriented (p1 < p2), so each triangle is produced exactly once by
    the two-hop join E(a,b)⋈E(b,c)⋈E(a,c).

    Scale shape: per-order pair generation is bounded (≤7 lines/order
    ⇒ ≤21 pairs), the ≥2-support filter prunes the edge set by ~30×
    before any graph join, and the wedge join is Σdeg² over that
    pruned set. At real scale you'd additionally orient wedges by
    degree (low→high) to cap the join fan-out — noted, not needed at
    fixture scale. Clustering coefficient = 3·triangles/wedges as an
    exact ppm integer; NULLIF guards the empty graph identically on
    both engines (Spark's div-by-zero NULL is a silent semantic
    difference from DuckDB's error otherwise).
    """
    # r10: the shared support-pruned co-purchase edge set (p1 < p2,
    # support >= 2) comes from the session frame cache instead of an
    # inline fact self-join per key -- the identical frame
    # graph_triangles' cache siblings already consume.
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("p1").alias("p"))
        .unionAll(edges.select(F.col("p2").alias("p")))
        .groupBy("p")
        .agg(F.count("*").alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.p2") == F.col("e2.p1"))
        .join(
            e3,
            (F.col("e3.p1") == F.col("e1.p1")) & (F.col("e3.p2") == F.col("e2.p2")),
        )
        .agg(F.count("*").alias("n_tri"))
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return (
        tri.crossJoin(n_edges)
        .crossJoin(wedges)
        .select(
            "n_edges",
            "n_wedges",
            F.col("n_tri").cast("bigint").alias("n_triangles"),
            F.expr("3 * n_tri * 1000000 div NULLIF(n_wedges, 0)")
            .cast("bigint")
            .alias("clustering_ppm"),
        )
    )


@register(
    "dedup_semantic_det",
    oracle="""
    WITH pts AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))
                   AS q
        FROM embeddings
    ),
    normed AS (
        SELECT vec_id, q,
               CAST(list_sum(list_transform(range(1, 65),
                    i -> q[i] * q[i])) AS BIGINT) AS nq
        FROM pts
    ),
    kk AS (SELECT greatest(8, COUNT(*) // 64) AS k FROM pts),
    cents AS (SELECT vec_id AS c, q AS cent FROM pts
              WHERE vec_id < (SELECT k FROM kk)),
    probes AS (
        SELECT vec_id, q, nq, c, rn FROM (
            SELECT p.vec_id, p.q, p.nq, c.c,
                   row_number() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY CAST(list_sum(list_transform(range(1, 65),
                               i -> (p.q[i] - c.cent[i])
                                    * (p.q[i] - c.cent[i]))) AS BIGINT),
                               c.c) AS rn
            FROM normed p CROSS JOIN cents c
        ) WHERE rn <= 2
    ),
    cand AS (
        SELECT DISTINCT
               least(h.vec_id, p.vec_id) AS lo,
               greatest(h.vec_id, p.vec_id) AS hi
        FROM probes h
        JOIN probes p ON h.c = p.c AND h.rn = 1
                     AND h.vec_id <> p.vec_id
    ),
    edges AS (
        SELECT c.lo, c.hi
        FROM cand c
        JOIN normed a ON a.vec_id = c.lo
        JOIN normed b ON b.vec_id = c.hi
        WHERE CAST(list_sum(list_transform(range(1, 65),
                  i -> a.q[i] * b.q[i])) AS BIGINT) >= 0
          AND CAST(list_sum(list_transform(range(1, 65),
                  i -> a.q[i] * b.q[i])) AS HUGEINT)
              * CAST(list_sum(list_transform(range(1, 65),
                  i -> a.q[i] * b.q[i])) AS HUGEINT) * 10000
              >= 1225 * CAST(a.nq AS HUGEINT) * CAST(b.nq AS HUGEINT)
    ),
    reps AS (
        SELECT v, least(v, MIN(nb)) AS rep FROM (
            SELECT hi AS v, lo AS nb FROM edges
            UNION ALL
            SELECT lo AS v, hi AS nb FROM edges
        ) GROUP BY v
    )
    SELECT CAST(rep AS BIGINT) AS rep,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM reps GROUP BY rep HAVING COUNT(*) >= 2
    """,
)
def dedup_semantic_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup detection made HASH-EXACT — the deterministic
    twin of ``dedup_semantic`` in the repo's ``*_det`` convention
    (dedup_minhash_det, dedup_simhash_det): same IVF-cell structure,
    but every float is eliminated so the DuckDB oracle checks the
    *values*, not just row counts. Embeddings quantize to ppm ints
    (one IEEE rounding, identical both engines); cell assignment is
    integer L2 argmin over the 8 seed vectors with (dist, cell)
    tie-break; multi-probe P=2 gives boundary pairs a meeting cell;
    and the cosine threshold cos ≥ 0.35 becomes the wide-integer
    inequality dot ≥ 0 ∧ dot²·10⁴ ≥ 1225·‖a‖²·‖b‖² (DECIMAL(38)/
    HUGEINT — products stay ≤10³⁴ < 10³⁸). Cluster representative is
    the greedy minimum over above-threshold neighbors, as in the
    approximate op.

    Scale shape: centroids broadcast; candidate generation is
    home×probe within cells — and K GROWS WITH THE CORPUS
    (K = max(8, N/64), derived identically in both engines from the
    row count), pinning mean cell occupancy at ~64 so candidate work
    stays ~P·64·N instead of P·N²/K with fixed K (a 10× scale-smoke
    measured 55× wall at fixed K=8; re-measured after this change: 3.3×);
    the verify step joins candidate pairs back to two indexed sides —
    all equi-joins. The only cost of determinism vs the float
    original is integer-width arithmetic, which stays JVM-side.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000, 0).cast("bigint"),
        ).alias("q"),
    )
    dot_qq = F.aggregate(
        F.zip_with("q", "q", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    normed = pts.select("vec_id", "q", dot_qq.alias("nq"))
    n_vecs = emb.count()  # metadata-only count, same K as the oracle's
    k_cells = max(8, n_vecs // 64)
    cents = pts.where(F.col("vec_id") < k_cells).select(
        F.col("vec_id").alias("c"), F.col("q").alias("cent")
    )
    dist = F.aggregate(
        F.zip_with("q", "cent", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "c")
    probes = (
        normed.crossJoin(F.broadcast(cents))
        .select("vec_id", "q", "nq", "c", dist.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .drop("dist")
    )
    h, p = probes.alias("h"), probes.alias("p")
    cand = (
        h.where(F.col("h.rn") == 1)
        .join(
            p,
            (F.col("h.c") == F.col("p.c"))
            & (F.col("h.vec_id") != F.col("p.vec_id")),
        )
        .select(
            F.least("h.vec_id", "p.vec_id").alias("lo"),
            F.greatest("h.vec_id", "p.vec_id").alias("hi"),
        )
        .distinct()
    )
    av = normed.select(
        F.col("vec_id").alias("lo"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    bv = normed.select(
        F.col("vec_id").alias("hi"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    dot_ab = F.aggregate(
        F.zip_with("qa", "qb", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    edges = (
        cand.join(av, "lo")
        .join(bv, "hi")
        .select("lo", "hi", dot_ab.alias("dot"), "na", "nb")
        .where(
            (F.col("dot") >= 0)
            & F.expr(
                "CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0))"
                " * 10000"
                " >= 1225 * CAST(na AS DECIMAL(38,0))"
                " * CAST(nb AS DECIMAL(38,0))"
            )
        )
        .select("lo", "hi")
    )
    reps = (
        edges.select(F.col("hi").alias("v"), F.col("lo").alias("nb"))
        .unionAll(edges.select(F.col("lo").alias("v"), F.col("hi").alias("nb")))
        .groupBy("v")
        .agg(F.least(F.col("v"), F.min("nb")).alias("rep"))
    )
    return (
        reps.groupBy("rep")
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") >= 2)
    )


@register(
    "graph_jaccard_neighbors",
    oracle="""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 2
    ),
    adj AS (
        SELECT p1 AS v, p2 AS n FROM edges
        UNION ALL SELECT p2 AS v, p1 AS n FROM edges
    ),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY v),
    common AS (
        SELECT a.v AS v1, b.v AS v2, CAST(COUNT(*) AS BIGINT) AS c
        FROM adj a JOIN adj b ON a.n = b.n AND a.v < b.v
        GROUP BY a.v, b.v HAVING COUNT(*) >= 2
    )
    SELECT c.v1, c.v2, c.c AS common_neighbors,
           CAST(c.c * 1000000 // (d1.d + d2.d - c.c) AS BIGINT)
               AS jaccard_ppm
    FROM common c
    JOIN deg d1 ON d1.v = c.v1
    JOIN deg d2 ON d2.v = c.v2
    ORDER BY jaccard_ppm DESC, c.v1, c.v2
    LIMIT 20
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural node similarity: neighbor-set Jaccard over the
    co-purchase graph — "parts bought alongside the same other parts",
    the collaborative-filtering link-prediction primitive that works
    even for pairs never co-purchased directly. Common neighbors come
    from the wedge join on the undirected adjacency list (same
    support-pruned edge set as graph_triangles); the Jaccard is the
    exact ppm rational c/(d1+d2−c) via one floor division. A ≥2
    common-neighbor floor prunes the long tail before the degree
    join; top-20 with full (score, v1, v2) tie-break is a
    TakeOrderedAndProject.

    Scale: wedge-join work is Σdeg² over the pruned graph — the
    standard cap at real scale is degree-ordered orientation plus a
    max-degree cutoff (hub removal), both one-line filters here.
    """
    # r10: the shared support-pruned co-purchase edge set (p1 < p2,
    # support >= 2) comes from the session frame cache instead of an
    # inline fact self-join per key -- the identical frame
    # graph_triangles' cache siblings already consume.
    edges = _copurchase_edges(spark, sf_dir)
    adj = edges.select(F.col("p1").alias("v"), F.col("p2").alias("n")).unionAll(
        edges.select(F.col("p2").alias("v"), F.col("p1").alias("n"))
    )
    deg = adj.groupBy("v").agg(F.count("*").alias("d"))
    x, y = adj.alias("x"), adj.alias("y")
    common = (
        x.join(
            y,
            (F.col("x.n") == F.col("y.n")) & (F.col("x.v") < F.col("y.v")),
        )
        .groupBy(F.col("x.v").alias("v1"), F.col("y.v").alias("v2"))
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
    )
    d1 = deg.select(F.col("v").alias("v1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("v").alias("v2"), F.col("d").alias("d2"))
    return (
        common.join(d1, "v1")
        .join(d2, "v2")
        .select(
            "v1",
            "v2",
            F.col("c").alias("common_neighbors"),
            F.expr("c * 1000000 div (d1 + d2 - c)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), "v1", "v2")
        .limit(20)
    )


def _sweep_leg_sql(w: int) -> str:
    return f"""
        SELECT {w} AS w, sh AS shingle FROM (
            SELECT unnest(list_transform(
                range(1, len(string_split(text, ' ')) - {w} + 2),
                i -> array_to_string(string_split(text, ' ')[i:i + {w} - 1],
                                     ' '))) AS sh
            FROM documents
            WHERE len(string_split(text, ' ')) >= {w}
        )"""


@register(
    "dedup_param_sweep",
    oracle=f"""
    WITH shingles AS (
        {_sweep_leg_sql(2)}
        UNION ALL {_sweep_leg_sql(3)}
        UNION ALL {_sweep_leg_sql(5)}
    )
    SELECT CAST(w AS BIGINT) AS shingle_w,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n_distinct,
           CAST((COUNT(*) - COUNT(DISTINCT shingle)) * 1000000 // COUNT(*)
                AS BIGINT) AS dup_ppm
    FROM shingles GROUP BY w
    """,
)
def dedup_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-width sensitivity curve for near-dup tuning: the
    corpus-wide duplicate-shingle rate at w ∈ {{2, 3, 5}} — the
    diagnostic that picks the shingle size before committing to a
    MinHash configuration (too small ⇒ everything collides, too large
    ⇒ nothing does; the curve's knee is the operating point). Sliding
    shingles are built with pure array slicing (no explode-then-window
    reassembly), unioned across widths with the width as a group key,
    and the dup rate is an exact ppm.

    Per-width work is one explode proportional to token count; the
    three widths share the scan via the union (Spark reads the
    documents once per leg at fixture scale — at 100 TB you'd explode
    all widths from one pass; the per-leg plan is identical).
    """
    docs = load_table(spark, sf_dir, "documents", parallelize_scan=True)

    def leg(w: int) -> DataFrame:
        arr = F.split("text", " ")
        shingles = F.transform(
            F.sequence(F.lit(1), F.size(arr) - w + 1),
            lambda i: F.array_join(F.slice(arr, i, w), " "),
        )
        return (
            docs.where(F.size(F.split("text", " ")) >= w)
            .select(F.explode(shingles).alias("shingle"))
            .select(F.lit(w).alias("w"), "shingle")
        )

    all_sh = leg(2).unionAll(leg(3)).unionAll(leg(5))
    return all_sh.groupBy(F.col("w").cast("bigint").alias("shingle_w")).agg(
        F.count("*").alias("n_shingles"),
        F.countDistinct("shingle").alias("n_distinct"),
        F.expr(
            "(COUNT(*) - COUNT(DISTINCT shingle)) * 1000000 div COUNT(*)"
        )
        .cast("bigint")
        .alias("dup_ppm"),
    )


@register(
    "graph_assortativity",
    oracle="""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 2
    ),
    adj AS (
        SELECT p1 AS u, p2 AS v FROM edges
        UNION ALL SELECT p2 AS u, p1 AS v FROM edges
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
    pairs AS (
        SELECT du.d AS x, dv.d AS y
        FROM adj a JOIN deg du ON du.u = a.u JOIN deg dv ON dv.u = a.v
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM pairs
    )
    SELECT n, sx, sxy, sxx,
           CAST(CAST(n * sxy - sx * sx AS DOUBLE)
                / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE) AS DOUBLE)
               AS assortativity
    FROM m
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees across edges — do popular parts
    co-occur with popular parts (assortative, social-network-like) or
    with niche ones (disassortative, hub-and-spoke)? The sign decides
    whether hub-removal or salting is the right skew mitigation for
    downstream graph joins, which is why it's worth computing before
    tuning them. The symmetric directed-edge expansion makes
    Σx = Σy and Var(x) = Var(y), collapsing Pearson to ONE double
    division of exact int64 moments (bit-identical; NULLIF guards the
    regular-graph zero-variance case the same way on both engines).

    Same pruned edge list as graph_triangles; two broadcast degree
    joins and a 1-row moment reduce.
    """
    # r10: the shared support-pruned co-purchase edge set (p1 < p2,
    # support >= 2) comes from the session frame cache instead of an
    # inline fact self-join per key -- the identical frame
    # graph_triangles' cache siblings already consume.
    edges = _copurchase_edges(spark, sf_dir)
    adj = edges.select(F.col("p1").alias("u"), F.col("p2").alias("v")).unionAll(
        edges.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    du = deg.select(F.col("u").alias("au"), F.col("d").alias("x"))
    dv = deg.select(F.col("u").alias("av"), F.col("d").alias("y"))
    pairs = (
        adj.join(F.broadcast(du), F.col("u") == F.col("au"))
        .join(F.broadcast(dv), F.col("v") == F.col("av"))
        .select("x", "y")
    )
    m = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return m.select(
        "n",
        "sx",
        "sxy",
        "sxx",
        F.expr(
            "CAST(CAST(n * sxy - sx * sx AS DOUBLE)"
            " / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE) AS DOUBLE)"
        ).alias("assortativity"),
    )


@register(
    "dedup_prefix",
    oracle="""
    WITH pfx AS (
        SELECT doc_id,
               array_to_string(string_split(text, ' ')[1:8], ' ') AS prefix,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
        WHERE len(string_split(text, ' ')) >= 8
    ),
    grouped AS (
        SELECT prefix,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc,
               CAST(MAX(doc_id) AS BIGINT) AS last_doc,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_at_risk
        FROM pfx GROUP BY prefix
        HAVING COUNT(*) > 1
    )
    SELECT substr(md5(prefix), 1, 12) AS prefix_digest,
           n_docs, first_doc, last_doc, tokens_at_risk
    FROM grouped
    """,
)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix duplicate detection: documents whose first 8
    tokens are identical — the crawl-artifact class (truncated
    re-fetches, mirrored pages, templated intros) that whole-document
    hashing misses because the TAILS differ, and shingle methods find
    only expensively. One exact groupBy on the prefix; groups with
    more than one member are reported with their key range and the
    token mass at risk. Prefixes leave the query as md5 digests
    (stable, small rows — the dedup_chunks convention).

    An array-slice + keyed count — the cheapest member of the dedup
    ladder, which is why real pipelines run it FIRST to shrink the
    input to the quadratic-ish stages.
    """
    docs = load_table(spark, sf_dir, "documents", parallelize_scan=True)
    arr = F.split("text", " ")
    pfx = docs.where(F.size(arr) >= 8).select(
        "doc_id",
        F.array_join(F.slice(arr, 1, 8), " ").alias("prefix"),
        F.size(arr).cast("bigint").alias("n_tokens"),
    )
    grouped = (
        pfx.groupBy("prefix")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum("n_tokens").alias("tokens_at_risk"),
        )
        .where(F.col("n_docs") > 1)
    )
    return grouped.select(
        F.substring(F.md5("prefix"), 1, 12).alias("prefix_digest"),
        "n_docs",
        "first_doc",
        "last_doc",
        "tokens_at_risk",
    )


@register(
    "graph_reach2",
    oracle="""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 2
    ),
    adj AS (
        SELECT p1 AS u, p2 AS v FROM edges
        UNION ALL SELECT p2 AS u, p1 AS v FROM edges
    ),
    two_hop AS (
        SELECT a.u, b.v AS w
        FROM adj a JOIN adj b ON b.u = a.v
        WHERE b.v <> a.u
        UNION
        SELECT u, v AS w FROM adj
    ),
    reach AS (
        SELECT u, CAST(COUNT(DISTINCT w) AS BIGINT) AS reach2
        FROM two_hop GROUP BY u
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u)
    SELECT r.u AS node, d.d AS degree, r.reach2,
           CAST(r.reach2 * 1000000 // NULLIF(d.d, 0) AS BIGINT)
               AS amplification_ppm
    FROM reach r JOIN deg d ON d.u = r.u
    ORDER BY r.reach2 DESC, r.u LIMIT 20
    """,
)
def graph_reach2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reach (friend-of-friend audience size) per node on the
    co-purchase graph: distinct nodes within distance ≤2, the
    influence/propagation metric behind seeding and recommendation
    fan-out estimates, with the reach-to-degree amplification ratio
    in exact ppm (hub detection: low degree + high amplification =
    a bridge node). The union-with-direct-neighbors before the
    distinct count makes "within two hops" inclusive without a
    separate pass.

    One wedge join over the pruned adjacency (Σdeg² work — same
    budget as graph_triangles/jaccard) with a distinct-count rollup;
    top-20 is a TakeOrderedAndProject.
    """
    # r10: the shared support-pruned co-purchase edge set (p1 < p2,
    # support >= 2) comes from the session frame cache instead of an
    # inline fact self-join per key -- the identical frame
    # graph_triangles' cache siblings already consume.
    edges = _copurchase_edges(spark, sf_dir)
    adj = edges.select(F.col("p1").alias("u"), F.col("p2").alias("v")).unionAll(
        edges.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
    )
    x, y = adj.alias("x"), adj.alias("y")
    two_hop = (
        x.join(y, F.col("y.u") == F.col("x.v"))
        .where(F.col("y.v") != F.col("x.u"))
        .select(F.col("x.u").alias("u"), F.col("y.v").alias("w"))
        .union(adj.select(F.col("u"), F.col("v").alias("w")))
        .distinct()
    )
    reach = two_hop.groupBy("u").agg(F.countDistinct("w").alias("reach2"))
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    return (
        reach.join(deg, "u")
        .select(
            F.col("u").alias("node"),
            F.col("d").alias("degree"),
            "reach2",
            F.expr("reach2 * 1000000 div NULLIF(d, 0)")
            .cast("bigint")
            .alias("amplification_ppm"),
        )
        .orderBy(F.desc("reach2"), "node")
        .limit(20)
    )


# The graph family (components / modularity / triangles / ...) shares one
# edge list and one 6-round label fixed point (frame_cache.session_cached);
# before r9 every key rebuilt them from scratch (~9+6+6 s of the sf0.1
# sweep tail). At 100 TB this is one BSP pass feeding N reports instead of
# N passes.


def _trading_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer↔supplier trading pairs ('c<custkey>',
    's<suppkey>') from lineitem⋈orders — the bipartite graph behind
    graph_pagerank and graph_label_propagation. r10: memoized in the
    session frame cache (the r9 graph-cache pattern) so the fact-
    table join + distinct runs once per (app, fixture dir) instead of
    once per key; each consumer keeps deriving its own symmetrized
    edge view from the cached pairs."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                    "a"
                ),
                F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                    "b"
                ),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )

    return frame_cache.session_cached(spark, sf_dir, "graph:trading_pairs", build)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-purchase part graph (p1 < p2, support >= 2) —
    the shared edge set of graph_triangles and the round-4 graph ops.
    One self-equi-join on l_orderkey; the support filter keeps the
    edge list sparse. Memoized (localCheckpointed) per session+fixture
    since ~6 graph keys consume the identical frame."""
    return frame_cache.session_cached(
        spark, sf_dir, "graph:edges", lambda: _build_copurchase_edges(spark, sf_dir)
    )


def _build_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
        )
        .agg(F.count("*").alias("w"))
        .where(F.col("w") >= 2)
        .select("p1", "p2")
        .localCheckpoint(eager=True)
    )


_EDGES_SQL = """
    li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 2
    )
"""


@register(
    "graph_degree_dist",
    oracle="""
    WITH """ + _EDGES_SQL + """,
    deg AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT p1 AS p FROM edges UNION ALL SELECT p2 AS p FROM edges
        ) GROUP BY p
    )
    SELECT d AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CAST(COUNT(*) AS BIGINT)) OVER (
               ORDER BY d DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_nodes_at_least
    FROM deg GROUP BY d
    """,
)
def graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph with a reverse
    cumulative count (nodes of degree >= d) — the first thing anyone
    plots about a graph, and the input to power-law/hub diagnostics.
    Degrees from one groupBy over the doubled edge list; the
    cumulative runs over the degree-grain histogram (distinct degree
    values), not nodes. Integers end to end.
    """
    edges = _copurchase_edges(spark, sf_dir)
    nodes = edges.select(F.col("p1").alias("p")).unionAll(
        edges.select(F.col("p2").alias("p"))
    )
    deg = nodes.groupBy("p").agg(F.count("*").alias("d"))
    hist = deg.groupBy("d").agg(F.count("*").alias("n_nodes"))
    w = Window.orderBy(F.col("d").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return hist.select(
        F.col("d").alias("degree"),
        "n_nodes",
        F.sum("n_nodes").over(w).alias("n_nodes_at_least"),
    )


@register(
    "graph_clustering_coeff",
    oracle="""
    WITH """ + _EDGES_SQL + """,
    deg AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT p1 AS p FROM edges UNION ALL SELECT p2 AS p FROM edges
        ) GROUP BY p
    ),
    tri AS (
        SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        FROM edges e1
        JOIN edges e2 ON e1.p2 = e2.p1
        JOIN edges e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    ),
    corner AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS t FROM (
            SELECT a AS p FROM tri
            UNION ALL SELECT b AS p FROM tri
            UNION ALL SELECT c AS p FROM tri
        ) GROUP BY p
    )
    SELECT d.p AS node, d.d AS degree,
           CAST(COALESCE(c.t, 0) AS BIGINT) AS n_triangles,
           CAST(2 * COALESCE(c.t, 0) * 1000000 // (d.d * (d.d - 1))
                AS BIGINT) AS coeff_ppm
    FROM deg d LEFT JOIN corner c ON c.p = d.p
    WHERE d.d >= 2
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-NODE clustering coefficient (graph_triangles reports only
    the global transitivity): each ordered triangle (a<b<c) from the
    standard wedge-closing join is charged to all three corners via a
    3-way projection union, then coeff = 2T/(d(d-1)) as an integer
    ppm floor-division — no floats, no ambiguity. Nodes of degree <2
    have no defined coefficient and drop on both sides.

    Scale: the triangle join shuffles the (sparse, support-filtered)
    edge list on its endpoints — standard distributed triangle
    counting; the corner union is projection-only.
    """
    edges = _copurchase_edges(spark, sf_dir)
    nodes = edges.select(F.col("p1").alias("p")).unionAll(
        edges.select(F.col("p2").alias("p"))
    )
    deg = nodes.groupBy("p").agg(F.count("*").alias("d"))
    e1 = edges.select(F.col("p1").alias("a"), F.col("p2").alias("b"))
    e2 = edges.select(F.col("p1").alias("b2"), F.col("p2").alias("c"))
    e3 = edges.select(F.col("p1").alias("a3"), F.col("p2").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c")),
        )
        .select("a", "b", "c")
    )
    corner = (
        tri.select(F.col("a").alias("p"))
        .unionAll(tri.select(F.col("b").alias("p")))
        .unionAll(tri.select(F.col("c").alias("p")))
        .groupBy("p")
        .agg(F.count("*").alias("t"))
    )
    out = (
        deg.join(corner, "p", "left")
        .where(F.col("d") >= 2)
        .select(
            F.col("p").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).alias("n_triangles"),
            F.expr(
                "CAST(2 * COALESCE(t, 0) * 1000000 div (d * (d - 1))"
                " AS BIGINT)"
            ).alias("coeff_ppm"),
        )
    )
    return out


@register(
    "graph_kcore",
    oracle="""
    WITH """ + _EDGES_SQL + """,
    und AS MATERIALIZED (
        SELECT p1 AS u, p2 AS v FROM edges
        UNION ALL SELECT p2 AS u, p1 AS v FROM edges
    ),
    n1 AS (SELECT u FROM und GROUP BY u HAVING COUNT(*) >= 3),
    e1 AS MATERIALIZED (SELECT d.u, d.v FROM und d
           JOIN n1 a ON a.u = d.u JOIN n1 b ON b.u = d.v),
    n2 AS (SELECT u FROM e1 GROUP BY u HAVING COUNT(*) >= 3),
    e2 AS MATERIALIZED (SELECT d.u, d.v FROM e1 d
           JOIN n2 a ON a.u = d.u JOIN n2 b ON b.u = d.v),
    n3 AS (SELECT u FROM e2 GROUP BY u HAVING COUNT(*) >= 3),
    e3 AS MATERIALIZED (SELECT d.u, d.v FROM e2 d
           JOIN n3 a ON a.u = d.u JOIN n3 b ON b.u = d.v),
    n4 AS (SELECT u FROM e3 GROUP BY u HAVING COUNT(*) >= 3),
    e4 AS MATERIALIZED (SELECT d.u, d.v FROM e3 d
           JOIN n4 a ON a.u = d.u JOIN n4 b ON b.u = d.v),
    n5 AS (SELECT u FROM e4 GROUP BY u HAVING COUNT(*) >= 3),
    e5 AS MATERIALIZED (SELECT d.u, d.v FROM e4 d
           JOIN n5 a ON a.u = d.u JOIN n5 b ON b.u = d.v),
    n6 AS (SELECT u FROM e5 GROUP BY u HAVING COUNT(*) >= 3),
    e6 AS MATERIALIZED (SELECT d.u, d.v FROM e5 d
           JOIN n6 a ON a.u = d.u JOIN n6 b ON b.u = d.v)
    SELECT CAST(u AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM e6 GROUP BY u
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph by iterative peeling: drop
    nodes of degree < 3, recompute degrees on the induced subgraph,
    repeat — the standard dense-subgraph/community preprocessing.
    Six peel rounds, UNROLLED identically on both engines (DuckDB
    recursive CTEs cannot re-aggregate, so the oracle chains six
    filter-join stages, MATERIALIZED so each stage evaluates once —
    the default inlining re-evaluates the whole upstream chain at
    every reference, which is exponential in rounds; the fixture
    converges in fewer — a unit test pins the fixed point). Output: surviving nodes with their
    in-core degree.

    Scale: each round is one degree aggregation + one semi-join —
    both key-partitioned on node id; rounds-to-convergence on real
    graphs is small (peeling removes whole shells at once). The
    Spark loop localCheckpoints each round to keep lineage flat.
    """
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(
        F.col("p1").alias("u"), F.col("p2").alias("v")
    ).unionAll(edges.select(F.col("p2").alias("u"), F.col("p1").alias("v")))
    cur = und.localCheckpoint()
    for _ in range(6):
        keep = (
            cur.groupBy("u")
            .agg(F.count("*").alias("d"))
            .where(F.col("d") >= 3)
            .select("u")
        )
        cur = (
            cur.join(keep, "u")
            .join(keep.select(F.col("u").alias("v")), "v")
            .select("u", "v")
            .localCheckpoint()
        )
    return cur.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("core_degree")
    )


@register(
    "dedup_incremental",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, ' +', ' ', 'g'))))
                   AS content_hash
        FROM documents
    ),
    old AS (
        SELECT content_hash, CAST(MIN(doc_id) AS BIGINT) AS canonical_id
        FROM norm WHERE doc_id % 3 != 0
        GROUP BY content_hash
    ),
    new_batch AS (
        SELECT doc_id, content_hash FROM norm WHERE doc_id % 3 = 0
    )
    SELECT nb.doc_id,
           CASE WHEN o.canonical_id IS NOT NULL THEN 'dup_of_corpus'
                WHEN nb.doc_id != fam.first_new THEN 'dup_in_batch'
                ELSE 'admit' END AS verdict,
           CAST(COALESCE(o.canonical_id, -1) AS BIGINT) AS corpus_match
    FROM new_batch nb
    LEFT JOIN old o ON o.content_hash = nb.content_hash
    JOIN (SELECT content_hash, CAST(MIN(doc_id) AS BIGINT) AS first_new
          FROM new_batch GROUP BY content_hash) fam
      ON fam.content_hash = nb.content_hash
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the arriving-batch twin of dedup_exact:
    every NEW document (doc_id % 3 = 0 plays the incoming batch) is
    checked (a) against the standing corpus by normalized content
    hash and (b) against its OWN batch (first-id-wins), yielding an
    admit / dup_of_corpus / dup_in_batch verdict per document. This
    is the shape production corpus ingestion actually runs — nobody
    re-deduplicates 100 TB per batch; they join the batch against a
    persisted hash index. Both probes are equi-joins on the hash
    (broadcastable batch side); normalization (whitespace collapse,
    case fold) is the same regexp on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        F.md5(
            F.lower(F.trim(F.regexp_replace("text", " +", " ")))
        ).alias("content_hash"),
    )
    old = (
        norm.where(F.col("doc_id") % 3 != 0)
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_id"))
    )
    new_batch = norm.where(F.col("doc_id") % 3 == 0)
    fam = new_batch.groupBy("content_hash").agg(
        F.min("doc_id").alias("first_new")
    )
    out = (
        new_batch.join(old, "content_hash", "left")
        .join(fam, "content_hash")
        .select(
            "doc_id",
            F.when(F.col("canonical_id").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("doc_id") != F.col("first_new"), F.lit("dup_in_batch"))
            .otherwise(F.lit("admit"))
            .alias("verdict"),
            F.coalesce(F.col("canonical_id"), F.lit(-1))
            .cast("long")
            .alias("corpus_match"),
        )
    )
    return out


def _cc_label_frames(spark: SparkSession, sf_dir: str):
    """Shared 6-round min-label propagation over the co-purchase
    graph: returns (edges, und, labels) where labels = (node, lab)
    at the pinned fixed point. Each round is one neighbour join +
    min aggregation, localCheckpointed to keep lineage flat — the
    BSP/Pregel CC step. Used by graph_connected_components and
    graph_modularity; the fixed point (round 7 changes nothing) is
    unit-pinned. Memoized per session+fixture (r9): the six eager
    join rounds run ONCE and feed every consumer."""
    return frame_cache.session_cached(
        spark, sf_dir, "graph:cc_labels",
        lambda: _build_cc_label_frames(spark, sf_dir),
    )


def _build_cc_label_frames(spark: SparkSession, sf_dir: str):
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(
        F.col("p1").alias("u"), F.col("p2").alias("v")
    ).unionAll(
        edges.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
    ).localCheckpoint()
    lab = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    ).localCheckpoint()
    for _ in range(6):
        nbr = (
            lab.join(und, lab.node == und.u)
            .join(
                lab.select(
                    F.col("node").alias("vnode"), F.col("lab").alias("vlab")
                ),
                F.col("v") == F.col("vnode"),
            )
            .groupBy("node")
            .agg(F.least(F.min("lab"), F.min("vlab")).alias("lab"))
        )
        lab = nbr.localCheckpoint()
    return edges, und, lab


_CC_STAGES_SQL = """
    und AS MATERIALIZED (
        SELECT p1 AS u, p2 AS v FROM edges
        UNION ALL SELECT p2 AS u, p1 AS v FROM edges
    ),
    l0 AS MATERIALIZED (
        SELECT DISTINCT u AS node, u AS lab FROM und
    ),
    l1 AS MATERIALIZED (
        SELECT l.node, LEAST(MIN(l.lab), MIN(n.lab)) AS lab
        FROM l0 l JOIN und e ON e.u = l.node
        JOIN l0 n ON n.node = e.v
        GROUP BY l.node
    ),
    l2 AS MATERIALIZED (
        SELECT l.node, LEAST(MIN(l.lab), MIN(n.lab)) AS lab
        FROM l1 l JOIN und e ON e.u = l.node
        JOIN l1 n ON n.node = e.v
        GROUP BY l.node
    ),
    l3 AS MATERIALIZED (
        SELECT l.node, LEAST(MIN(l.lab), MIN(n.lab)) AS lab
        FROM l2 l JOIN und e ON e.u = l.node
        JOIN l2 n ON n.node = e.v
        GROUP BY l.node
    ),
    l4 AS MATERIALIZED (
        SELECT l.node, LEAST(MIN(l.lab), MIN(n.lab)) AS lab
        FROM l3 l JOIN und e ON e.u = l.node
        JOIN l3 n ON n.node = e.v
        GROUP BY l.node
    ),
    l5 AS MATERIALIZED (
        SELECT l.node, LEAST(MIN(l.lab), MIN(n.lab)) AS lab
        FROM l4 l JOIN und e ON e.u = l.node
        JOIN l4 n ON n.node = e.v
        GROUP BY l.node
    ),
    l6 AS MATERIALIZED (
        SELECT l.node, LEAST(MIN(l.lab), MIN(n.lab)) AS lab
        FROM l5 l JOIN und e ON e.u = l.node
        JOIN l5 n ON n.node = e.v
        GROUP BY l.node
    )
"""


@register(
    "graph_connected_components",
    oracle="""
    WITH """ + _EDGES_SQL + "," + _CC_STAGES_SQL + """
    SELECT CAST(lab AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM l6 GROUP BY lab
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase graph by min-label
    propagation: every node starts labelled with its own id, and each
    round takes the min of its label and its neighbours' labels. Six
    rounds, UNROLLED identically on both engines (the graph_kcore
    pattern — DuckDB recursive CTEs cannot re-aggregate, so the
    oracle chains six MATERIALIZED stages); a unit test pins the
    fixed point (a seventh round changes nothing on the fixture).
    Output is the component summary — id (min member), size, and the
    member id range.

    Scale: each round is one neighbour join + one min aggregation,
    both hash-partitioned on node id — the standard BSP/Pregel CC
    step expressed as DataFrame ops; localCheckpoint keeps lineage
    flat so the plan does not grow exponentially with rounds.
    """
    _edges, _und, lab = _cc_label_frames(spark, sf_dir)
    return lab.groupBy(F.col("lab").alias("component")).agg(
        F.count("*").alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


@register(
    "graph_resource_allocation",
    oracle="""
    WITH """ + _EDGES_SQL + """,
    und AS MATERIALIZED (
        SELECT p1 AS u, p2 AS v FROM edges
        UNION ALL SELECT p2 AS u, p1 AS v FROM edges
    ),
    deg AS (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY u
    ),
    wedge AS (
        SELECT a.u AS x, b.v AS y, a.v AS z
        FROM und a JOIN und b ON a.v = b.u AND a.u < b.v
    ),
    scored AS (
        SELECT w.x, w.y,
               CAST(COUNT(*) AS BIGINT) AS common_nbrs,
               CAST(SUM(1000000 // dz.d) AS BIGINT) AS ra_ppm
        FROM wedge w JOIN deg dz ON dz.u = w.z
        GROUP BY w.x, w.y
    )
    SELECT s.x, s.y, s.common_nbrs, s.ra_ppm,
           CASE WHEN e.p1 IS NOT NULL THEN 1 ELSE 0 END AS is_edge
    FROM scored s
    LEFT JOIN edges e ON e.p1 = s.x AND e.p2 = s.y
    WHERE s.ra_ppm >= 200000
    """,
)
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link-prediction index (Zhou/Lü/Zhang):
    RA(x,y) = Σ_z 1/deg(z) over common neighbours z — the strongest
    of the simple local similarity indices. 1/deg is an INTEGER ppm
    floor-division (positive operands, so Spark div == DuckDB //) so
    the sum is exact; candidate pairs come from the wedge join
    (x-z-y, x<y) and carry an is_edge flag so the non-edge rows are
    the actual predictions. Thresholded at 0.2 to keep output at the
    interesting end.

    Scale: the wedge join shuffles the doubled edge list on the
    middle node — the same distributed pattern as triangle counting;
    degree lookup broadcasts at dim size.
    """
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(
        F.col("p1").alias("u"), F.col("p2").alias("v")
    ).unionAll(
        edges.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    a = und.alias("a")
    b = und.alias("b")
    wedge = a.join(
        b,
        (F.col("a.v") == F.col("b.u")) & (F.col("a.u") < F.col("b.v")),
    ).select(
        F.col("a.u").alias("x"), F.col("b.v").alias("y"),
        F.col("a.v").alias("z"),
    )
    scored = (
        wedge.join(deg.select(F.col("u").alias("z"), "d"), "z")
        .groupBy("x", "y")
        .agg(
            F.count("*").alias("common_nbrs"),
            F.sum(F.expr("1000000 div d")).alias("ra_ppm"),
        )
    )
    return (
        scored.join(
            edges.select(
                F.col("p1").alias("x"), F.col("p2").alias("y"),
                F.lit(1).alias("hit"),
            ),
            ["x", "y"],
            "left",
        )
        .where(F.col("ra_ppm") >= 200000)
        .select(
            "x",
            "y",
            "common_nbrs",
            "ra_ppm",
            F.when(F.col("hit").isNotNull(), 1).otherwise(0).alias("is_edge"),
        )
    )


@register(
    "graph_edge_reciprocity",
    oracle="""
    WITH seq AS (
        SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem
    ),
    dir_edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM seq a
        JOIN seq b ON a.l_orderkey = b.l_orderkey
                  AND b.l_linenumber = a.l_linenumber + 1
        WHERE a.l_partkey != b.l_partkey
    ),
    marked AS (
        SELECT e.src, e.dst,
               CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS recip
        FROM dir_edges e
        LEFT JOIN dir_edges r ON r.src = e.dst AND r.dst = e.src
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(recip) AS BIGINT) AS n_reciprocal,
           CAST(SUM(recip) * 1000000 // COUNT(*) AS BIGINT)
               AS reciprocity_ppm
    FROM marked
    """,
)
def graph_edge_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the DIRECTED line-sequence graph (part at line
    i -> part at line i+1 within an order): the fraction of directed
    edges whose reverse edge also exists — the standard directed-
    graph cohesion measure. Distinct edges, a self anti/equi join on
    the reversed key, and an integer ppm ratio; no floats anywhere.

    Scale: the sequential pair join is key-partitioned on
    l_orderkey (co-partitioned with the fact table); the reverse
    lookup shuffles the DISTINCT edge list only.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )
    a = li.alias("a")
    b = li.alias("b")
    dir_edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("b.l_linenumber") == F.col("a.l_linenumber") + 1),
        )
        .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    rev = dir_edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        F.lit(1).alias("hit"),
    )
    marked = dir_edges.join(rev, ["src", "dst"], "left").select(
        F.when(F.col("hit").isNotNull(), 1).otherwise(0).alias("recip")
    )
    return marked.agg(
        F.count("*").alias("n_edges"),
        F.sum("recip").alias("n_reciprocal"),
        F.expr(
            "CAST(SUM(recip) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("reciprocity_ppm"),
    )


@register(
    "dedup_cross_source_overlap",
    oracle="""
    WITH norm AS (
        SELECT DISTINCT source,
               md5(array_to_string((string_split(text, ' '))[1:8], ' '))
                   AS h
        FROM documents
    ),
    per_source AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_uniq FROM norm
        GROUP BY source
    ),
    shared AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM norm a
        JOIN norm b ON b.h = a.h AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT s.src_a, s.src_b, s.n_shared,
           pa.n_uniq AS uniq_a, pb.n_uniq AS uniq_b,
           CAST(s.n_shared * 1000000
                // (pa.n_uniq + pb.n_uniq - s.n_shared) AS BIGINT)
               AS jaccard_ppm
    FROM shared s
    JOIN per_source pa ON pa.source = s.src_a
    JOIN per_source pb ON pb.source = s.src_b
    """,
)
def dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many 8-word BOILERPLATE-PREFIX fingerprints they share, plus the
    Jaccard overlap in integer ppm — the table that decides which
    feeds mirror or template each other before any training mix is
    weighed (complements dedup_exact, which collapses full-text
    duplicates but doesn't attribute overlap to feed pairs; the
    prefix shingle is the standard shared-header/template detector
    when full-text hashes are all distinct). The hash join is on the
    content fingerprint, so only colliding documents ever pair;
    sources with zero overlap simply don't appear.

    Scale: fingerprint partial agg (DISTINCT per source) → hash-key
    equi-join → source-pair cells (bounded by sources²).
    """
    docs = load_table(spark, sf_dir, "documents", parallelize_scan=True)
    norm = docs.select(
        "source",
        F.md5(
            F.array_join(F.slice(F.split("text", " "), 1, 8), " ")
        ).alias("h"),
    ).distinct()
    per_source = norm.groupBy("source").agg(
        F.count("*").alias("n_uniq")
    )
    a = norm.alias("a")
    b = norm.alias("b")
    shared = (
        a.join(
            b,
            (F.col("b.h") == F.col("a.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(
            per_source.select(
                F.col("source").alias("src_a"),
                F.col("n_uniq").alias("uniq_a"),
            ),
            "src_a",
        )
        .join(
            per_source.select(
                F.col("source").alias("src_b"),
                F.col("n_uniq").alias("uniq_b"),
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "uniq_a",
            "uniq_b",
            F.expr(
                "CAST(n_shared * 1000000"
                " div (uniq_a + uniq_b - n_shared) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


@register(
    "graph_hits",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    a1 AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS auth1
        FROM edges GROUP BY s
    ),
    h1 AS (
        SELECT e.c, CAST(SUM(a.auth1) AS BIGINT) AS hub1
        FROM edges e JOIN a1 a ON e.s = a.s
        GROUP BY e.c
    ),
    a2 AS (
        SELECT e.s, CAST(SUM(h.hub1) AS BIGINT) AS auth2
        FROM edges e JOIN h1 h ON e.c = h.c
        GROUP BY e.s
    ),
    mx AS (SELECT CAST(MAX(auth2) AS BIGINT) AS max_a FROM a2)
    SELECT a2.s AS suppkey,
           a1.auth1 AS in_degree,
           a2.auth2,
           CAST(a2.auth2 * 1000000 // mx.max_a AS BIGINT) AS authority_ppm
    FROM a2 JOIN a1 ON a2.s = a1.s CROSS JOIN mx
    ORDER BY a2.auth2 DESC, a2.s
    LIMIT 20
    """,
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg) on the customer↔supplier
    bipartite trading graph — two UNNORMALIZED power iterations, which
    keeps every score an exact int64 (auth¹ = in-degree, hub¹ = Σauth¹
    over a customer's suppliers, auth² = Σhub¹): no float mass, no
    per-iteration rounding slack, unlike graph_pagerank's damped
    propagation.  The closing ppm normalization divides by the global
    max (an integer), and the top-20 tiebreaks on suppkey.

    Scale: each iteration is ONE edge-list equi-join + partial
    aggregate (the Pregel cost model); unnormalized integer scores
    grow like deg³ ≈ 10¹¹ at 100× — far inside int64.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    a1 = edges.groupBy("s").agg(F.count("*").alias("auth1"))
    h1 = (
        edges.join(a1, "s")
        .groupBy("c")
        .agg(F.sum("auth1").alias("hub1"))
    )
    a2 = (
        edges.join(h1, "c")
        .groupBy("s")
        .agg(F.sum("hub1").alias("auth2"))
    )
    mx = a2.agg(F.max("auth2").alias("max_a"))
    return (
        a2.join(a1, "s")
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("s").alias("suppkey"),
            F.col("auth1").cast("long").alias("in_degree"),
            F.col("auth2").cast("long").alias("auth2"),
            F.expr("CAST(auth2 * 1000000 div max_a AS BIGINT)").alias(
                "authority_ppm"
            ),
        )
        .orderBy(F.col("auth2").desc(), "suppkey")
        .limit(20)
    )


@register(
    "dedup_editdist_blocked",
    oracle="""
    WITH names AS (
        SELECT DISTINCT c_name AS name FROM customer
        WHERE length(c_name) >= 1
    ),
    pos AS (
        SELECT name, unnest(range(0, length(name)+1)) AS i FROM names
    ),
    variants AS (
        SELECT name,
               CASE WHEN i = 0 THEN name
                    ELSE substr(name, 1, i-1) || substr(name, i+1) END AS v
        FROM pos
    ),
    cand AS (
        SELECT DISTINCT a.name AS name_a, b.name AS name_b
        FROM variants a JOIN variants b ON a.v = b.v AND a.name < b.name
    ),
    pairs AS (
        SELECT name_a, name_b FROM cand
        WHERE levenshtein(name_a, name_b) <= 1
    )
    SELECT name, CAST(COUNT(*) AS BIGINT) AS n_neighbors
    FROM (SELECT name_a AS name FROM pairs
          UNION ALL
          SELECT name_b AS name FROM pairs)
    GROUP BY name
    ORDER BY n_neighbors DESC, name
    LIMIT 100
    """,
)
def dedup_editdist_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 near-duplicate detection via FastSS
    deletion-neighborhood blocking (Bocek et al. 2007): two strings
    are within Levenshtein distance 1 iff their depth-1 deletion
    neighborhoods intersect, so candidates are generated by an
    EQUI-join on deletion variants — never a quadratic theta-join on
    ``levenshtein() <= 1`` (which would plan as a
    BroadcastNestedLoopJoin, the join_recon_fuzzy trap). The cheap
    exact ``levenshtein`` verify then removes distance-2 false
    positives that share a variant (e.g. transpositions).

    Scale: |variants| = n·(len+1) rows keyed by short strings; each
    block holds only the handful of names one deletion apart, so the
    candidate join is linear in n. Output is the top-100 names by
    confusable-neighbor count — the entity-resolution risk list.
    """
    names = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_name").alias("name"))
        .where(F.length("name") >= 1)
        .distinct()
    )
    variants = names.select(
        "name",
        F.posexplode(
            F.concat(
                F.array(F.col("name")),
                F.expr(
                    "transform(sequence(1, length(name)), i -> "
                    "concat(substring(name, 1, i-1), "
                    "substring(name, i+1, length(name)-i)))"
                ),
            )
        ).alias("i", "v"),
    )
    # r10 optimization: position-refined FastSS join. Two strings are
    # within Levenshtein 1 iff they share a deletion variant where
    # the deletion positions are EQUAL (substitution: same length,
    # one differing char) or one side is undeleted, i = 0 (pure
    # insertion/deletion) — so the (i_a = i_b OR i_a = 0 OR i_b = 0)
    # residual provably keeps every true pair while dropping the
    # cross-position collisions that zero-padded name ids generate in
    # bulk (measured at sf0.1: 1.46M candidate pairs -> the ~true
    # set; the candidate DISTINCT alone was 3.3 s). The unchanged
    # levenshtein verify and oracle pin the output.
    cand = (
        variants.alias("a")
        .join(variants.alias("b"), F.col("a.v") == F.col("b.v"))
        .where(
            (F.col("a.name") < F.col("b.name"))
            & (
                (F.col("a.i") == F.col("b.i"))
                | (F.col("a.i") == 0)
                | (F.col("b.i") == 0)
            )
        )
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
        .distinct()
    )
    pairs = cand.where(F.levenshtein("name_a", "name_b") <= 1)
    both = pairs.select(F.col("name_a").alias("name")).unionAll(
        pairs.select(F.col("name_b").alias("name"))
    )
    return (
        both.groupBy("name")
        .agg(F.count("*").cast("long").alias("n_neighbors"))
        .orderBy(F.desc("n_neighbors"), "name")
        .limit(100)
    )


def _lpa_round_sql(prev: str, out: str) -> str:
    """One synchronous label-propagation round in SQL: every non-seed
    node adopts the majority label among its neighbors' previous
    labels (ties -> lexicographically smallest), keeps its old label
    when no neighbor is labeled; seeds are clamped."""
    return f"""
    {out}_msg AS (
        SELECT e.dst AS node, p.label
        FROM edges e JOIN {prev} p ON p.node = e.src
        WHERE p.label IS NOT NULL
    ),
    {out}_pick AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                       ORDER BY COUNT(*) DESC, label) AS rn
            FROM {out}_msg GROUP BY node, label
        ) WHERE rn = 1
    ),
    {out} AS (
        SELECT p.node,
               CASE WHEN p.seed IS NOT NULL THEN p.seed
                    ELSE COALESCE(k.label, p.label) END AS label,
               p.seed
        FROM {prev} p LEFT JOIN {out}_pick k ON k.node = p.node
    )"""


@register(
    "graph_label_propagation",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
               's' || CAST(l.l_suppkey AS VARCHAR) AS b
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b AS src, a AS dst FROM pairs
    ),
    cnodes AS (
        SELECT DISTINCT 'c' || CAST(c.c_custkey AS VARCHAR) AS node,
               CASE WHEN c.c_custkey % 17 = 0 THEN n.n_name END AS seed
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE 'c' || CAST(c.c_custkey AS VARCHAR) IN (SELECT a FROM pairs)
    ),
    snodes AS (
        SELECT DISTINCT b AS node, CAST(NULL AS VARCHAR) AS seed
        FROM pairs
    ),
    r0 AS (
        SELECT node, seed AS label, seed FROM cnodes
        UNION ALL SELECT node, seed, seed FROM snodes
    ),"""
    + _lpa_round_sql("r0", "r1")
    + ","
    + _lpa_round_sql("r1", "r2")
    + ","
    + _lpa_round_sql("r2", "r3")
    + """
    SELECT COALESCE(label, '(unlabeled)') AS label,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CASE WHEN seed IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_seeds
    FROM r3 GROUP BY 1
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the customer↔supplier
    trading graph: ~6% of customers arrive labeled with their nation
    (the seeds, clamped), and 3 synchronous rounds spread labels to
    the rest by NEIGHBOR MAJORITY with a lexicographic tie-break —
    the deterministic LPA every entity-resolution / community stack
    runs, made hash-exact (classic LPA's random tie-breaking cannot
    be oracle-checked; `graph_connected_components` finds structure,
    this op ASSIGNS MEANING from sparse ground truth). Nodes with no
    labeled neighbor stay '(unlabeled)' honestly.

    Each round is one edge join + one (node,label) count + one
    per-node rank — the Pregel cost model as joins (pagerank's
    shape), edge list localCheckpointed once. Output: label
    histogram after round 3 with seed counts.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # r10: trading pairs come from the session frame cache (shared
    # with graph_pagerank). r11: the BSP rounds are CO-PARTITIONED —
    # the symmetrized edge list is hash-partitioned by src once and
    # localCheckpointed (LogicalRDD preserves outputPartitioning), and
    # every round's label frame is checkpointed hash-partitioned by
    # node with the same partition count, so the per-round message
    # join and the label-update join both run exchange-free; the only
    # shuffle left per round is the unavoidable src→dst message move
    # (guide §2.4: two operations keyed the same way share one
    # exchange). The majority pick is min(struct(-cnt, label)) — a
    # partial-aggregable argmax replacing the window rank (and its
    # per-partition sort); hashpartitioning(node) satisfies the
    # (node, label) grouping, so both aggregation levels run inside
    # the one post-message exchange.
    n_part = spark.sparkContext.defaultParallelism
    pairs = _trading_pairs(spark, sf_dir)

    def _lpa_edges() -> DataFrame:
        return (
            pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionByName(
                pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
            )
            .repartition(n_part, "src")
            .localCheckpoint(eager=True)
        )

    edges = frame_cache.session_cached(spark, sf_dir, "graph:lpa_edges", _lpa_edges)
    cnodes = (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias(
                "node"
            ),
            F.when(F.col("c_custkey") % 17 == 0, F.col("n_name")).alias(
                "seed"
            ),
        )
        .join(pairs.select(F.col("a").alias("node")).distinct(), "node")
    )
    snodes = pairs.select(F.col("b").alias("node")).distinct().select(
        "node", F.lit(None).cast("string").alias("seed")
    )
    lab = (
        cnodes.select("node", F.col("seed").alias("label"), "seed")
        .unionByName(snodes.select("node", F.col("seed").alias("label"), "seed"))
        .repartition(n_part, "node")
        .localCheckpoint(eager=True)
    )
    for _ in range(3):
        msg = (
            edges.join(
                lab.where(F.col("label").isNotNull()).select(
                    F.col("node").alias("src"), "label"
                ),
                "src",
            )
            .select(F.col("dst").alias("node"), "label")
        )
        pick = (
            msg.repartition(n_part, "node")
            .groupBy("node", "label")
            .agg(F.count("*").alias("cnt"))
            .groupBy("node")
            .agg(
                F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("label")))[
                    "label"
                ].alias("new_label")
            )
        )
        lab = (
            lab.join(pick, "node", "left")
            .select(
                "node",
                F.when(F.col("seed").isNotNull(), F.col("seed"))
                .otherwise(F.coalesce("new_label", "label"))
                .alias("label"),
                "seed",
            )
            .localCheckpoint(eager=True)
        )
    return lab.groupBy(
        F.coalesce("label", F.lit("(unlabeled)")).alias("label")
    ).agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.when(F.col("seed").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_seeds"),
    )


@register("dedup_minhash_fast")  # production hash → rows-only check
def dedup_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION twin of `dedup_minhash_det`: the identical
    banded-LSH + exact-verify plan with xxhash64 signatures instead of
    the md5/conv portability chain. Round-7 A/B quantified the md5
    tax at ~2.15× of signature time; xxhash64 is one JVM-intrinsic
    expression (no hex detour), so this is the key a real 100 TB
    deployment runs. xxhash64 isn't implementable in DuckDB SQL, so
    the key is rows-only for the driver — its correctness contract is
    (a) the hash-exact `dedup_minhash_det` sibling sharing every plan
    stage except the hash expression, and (b) the recall pin in
    tests/test_llm_ops.py: on the fixture corpus its candidate set
    CONTAINS the full exact-Jaccard≥0.6 truth set (16 sigs, 8×2
    banding ⇒ P(miss at J=0.6) ≈ 2.8% per pair; the pin proves zero
    misses on the fixture, deterministic because xxhash64 is seeded).

    Output schema/semantics identical to the det twin: pairs with
    true (verified) Jaccard ≥ 0.6 reachable through banding.
    """
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    hashed = (
        sh.select(
            "doc_id",
            "shingle",
            F.explode(F.sequence(F.lit(0), F.lit(15))).alias("seed"),
        )
        .select(
            "doc_id",
            "seed",
            F.xxhash64("seed", "shingle").alias("h"),
        )
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("sig"))
    )
    bands = hashed.groupBy(
        "doc_id", (F.col("seed") / 2).cast("long").alias("band")
    ).agg(
        F.max(F.when(F.col("seed") % 2 == 0, F.col("sig"))).alias("s0"),
        F.max(F.when(F.col("seed") % 2 == 1, F.col("sig"))).alias("s1"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.s0") == F.col("b.s0"))
            & (F.col("a.s1") == F.col("b.s1"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    shb = sh.select(
        F.col("doc_id").alias("doc_b2"), F.col("shingle").alias("shingle_b")
    )
    verified = (
        cand.join(sha, "doc_a")
        .join(
            shb,
            (F.col("doc_b") == F.col("doc_b2"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        verified.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.lit(16) * F.col("n_common") >= F.lit(6) * (F.col("na") + F.col("nb"))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


@register(
    "dedup_substring_coverage",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    nt AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM toks GROUP BY doc_id
    ),
    grams AS (
        SELECT doc_id, pos,
               concat_ws(' ', tok, lead(tok, 1) OVER w, lead(tok, 2) OVER w,
                         lead(tok, 3) OVER w, lead(tok, 4) OVER w) AS g,
               lead(tok, 4) OVER w AS _tail
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    gv AS (SELECT doc_id, pos, g FROM grams WHERE _tail IS NOT NULL),
    firstdoc AS (SELECT g, MIN(doc_id) AS fd FROM gv GROUP BY g),
    dup AS (
        SELECT v.doc_id, v.pos, v.pos + 4 AS pend
        FROM gv v JOIN firstdoc f ON f.g = v.g AND f.fd < v.doc_id
    ),
    isl AS (
        SELECT doc_id, pos, pend,
               CASE WHEN MAX(pend) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        >= pos - 1
                    THEN 0 ELSE 1 END AS new_island
        FROM dup
    ),
    grp AS (
        SELECT doc_id, pos, pend,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM isl
    ),
    spans AS (
        SELECT doc_id, island,
               MIN(pos) AS s, MAX(pend) AS e
        FROM grp GROUP BY doc_id, island
    ),
    cov AS (
        SELECT doc_id,
               CAST(SUM(e - s + 1) AS BIGINT) AS covered_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_spans
        FROM spans GROUP BY doc_id
    ),
    dg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_grams
        FROM dup GROUP BY doc_id
    )
    SELECT nt.doc_id, nt.n_tokens,
           COALESCE(dg.dup_grams, 0) AS dup_grams,
           COALESCE(cov.n_spans, 0) AS n_spans,
           COALESCE(cov.covered_tokens, 0) AS covered_tokens,
           CAST(COALESCE(cov.covered_tokens, 0) * 1000000
                // nt.n_tokens AS BIGINT) AS covered_ppm
    FROM nt
    LEFT JOIN cov ON cov.doc_id = nt.doc_id
    LEFT JOIN dg ON dg.doc_id = nt.doc_id
    """,
)
def dedup_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup accounting — the published training-data
    methodology (find verbatim ≥k-token substrings repeated across
    documents, keep the first occurrence, measure how much of each
    later document is covered by repeats). Per document: every
    5-token gram whose FIRST corpus occurrence lies in an earlier
    doc_id marks the span [pos, pos+4] as duplicated; overlapping
    spans are merged by the interval-union island pattern (running
    max of span-end over the 1-PRECEDING frame — same construction as
    the sessionization family), and the output reports gram hits,
    merged span count, covered token count, and integer-ppm coverage
    — the quantities a corpus curator thresholds on before dropping
    or trimming a document.

    Scale: the gram table is corpus-linear (one row per token), the
    first-occurrence reduce is one shuffle on the gram string, and
    all windows are per-document — no global sort anywhere. At 100 TB
    the gram string would be swapped for its xxhash64 (same plan; the
    md5-style portability trade documented on dedup_minhash_det).
    """
    from e2e_data_pipeline_spark.catalog import rebalance_cpu

    docs = load_table(spark, sf_dir, "documents")
    # r10 optimization: the gram table and per-doc token counts come
    # straight from the split array (zip of slice-shifted views —
    # never element_at(split(...), i) inside the lambda, which
    # re-splits per element) instead of posexplode + window-lead +
    # groupBy — two shuffles and a per-token sort removed; the gram
    # strings, 1-based positions, and NULL-text absence are
    # identical. Layout-gated rebalance replaces the parallelism the
    # removed shuffle used to provide on the single-row-group
    # fixture (no-op at production layouts).
    docs = rebalance_cpu(spark, docs, sf_dir, "documents")
    nt = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tokens"),
    )
    zipped5 = "arrays_zip(" + ", ".join(
        f"slice(split(text, ' '), {j},"
        " greatest(size(split(text, ' ')) - 4, 0))"
        for j in range(1, 6)
    ) + ")"
    grams = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform({zipped5},"
                " s -> concat_ws(' ', s.`0`, s.`1`, s.`2`, s.`3`, s.`4`))"
            )
        ).alias("pos0", "g"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    firstdoc = grams.groupBy("g").agg(F.min("doc_id").alias("fd"))
    dup = (
        grams.join(firstdoc, "g")
        .where(F.col("fd") < F.col("doc_id"))
        .select("doc_id", "pos", (F.col("pos") + 4).alias("pend"))
    )
    prev = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    grp = dup.select(
        "doc_id",
        "pos",
        "pend",
        F.when(
            F.max("pend").over(prev) >= F.col("pos") - 1, F.lit(0)
        )
        .otherwise(F.lit(1))
        .alias("new_island"),
    ).select(
        "doc_id",
        "pos",
        "pend",
        F.sum("new_island").over(run).alias("island"),
    )
    spans = grp.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), F.max("pend").alias("e")
    )
    cov = spans.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias(
            "covered_tokens"
        ),
        F.count("*").cast("long").alias("n_spans"),
    )
    dg = dup.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("dup_grams")
    )
    return (
        nt.join(cov, "doc_id", "left")
        .join(dg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.expr(
                "CAST(coalesce(covered_tokens, 0) * 1000000"
                " div n_tokens AS BIGINT)"
            ).alias("covered_ppm"),
        )
    )


@register(
    "graph_modularity",
    oracle="""
    WITH """ + _EDGES_SQL + "," + _CC_STAGES_SQL + """,
    lab AS (SELECT node, CAST(lab AS BIGINT) AS lab FROM l6),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM und GROUP BY u),
    comm AS (
        SELECT l.lab, CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(dg.d) AS BIGINT) AS d_sum
        FROM lab l JOIN deg dg ON dg.node = l.node GROUP BY l.lab
    ),
    intra AS (
        SELECT la.lab, CAST(COUNT(*) AS BIGINT) AS e_in
        FROM edges e
        JOIN lab la ON la.node = e.p1
        JOIN lab lb ON lb.node = e.p2 AND lb.lab = la.lab
        GROUP BY la.lab
    )
    SELECT c.lab AS community, c.n_nodes,
           COALESCE(i.e_in, 0) AS intra_edges, c.d_sum,
           CAST(4 * m.m * COALESCE(i.e_in, 0) - c.d_sum * c.d_sum
                AS BIGINT) AS q_num,
           CAST(4 * m.m * COALESCE(i.e_in, 0) - c.d_sum * c.d_sum
                AS DOUBLE) / CAST(4 * m.m * m.m AS DOUBLE) AS q_contrib
    FROM comm c LEFT JOIN intra i ON i.lab = c.lab, m
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of the co-purchase graph's connected
    components — the community-quality score every clustering
    pipeline reports: Q = Σ_c [e_c/m − (d_c/2m)²]. Communities come
    from the shared 6-round min-label propagation
    (`_cc_label_frames`); per community the op emits node count,
    intra-community edge count, degree mass, the EXACT integer
    numerator 4m·e_c − d_c² (all quantities < 2⁵³, so the one
    division to q_contrib is a single identical rounding on both
    engines) and its double contribution. Σ q_contrib over the rows
    IS the graph's modularity; for pure components every edge is
    intra, making Q's value a structural invariant the oracle locks.

    Scale: degrees and intra-edge counts are one aggregation each
    over the edge list, hash-partitioned on node — nothing beyond
    the CC rounds themselves.
    """
    edges, und, lab = _cc_label_frames(spark, sf_dir)
    m = edges.agg(F.count("*").cast("long").alias("m"))
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("d")
    )
    comm = (
        lab.join(deg, "node")
        .groupBy("lab")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("d_sum"),
        )
    )
    la = lab.select(F.col("node").alias("p1"), F.col("lab").alias("la"))
    lb = lab.select(F.col("node").alias("p2"), F.col("lab").alias("lb"))
    intra = (
        edges.join(la, "p1")
        .join(lb, "p2")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lab"))
        .agg(F.count("*").cast("long").alias("e_in"))
    )
    return (
        comm.join(intra, "lab", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("lab").alias("community"),
            "n_nodes",
            F.coalesce("e_in", F.lit(0)).cast("long").alias("intra_edges"),
            "d_sum",
            (
                F.lit(4) * F.col("m") * F.coalesce("e_in", F.lit(0))
                - F.col("d_sum") * F.col("d_sum")
            )
            .cast("long")
            .alias("q_num"),
            (
                (
                    F.lit(4) * F.col("m") * F.coalesce("e_in", F.lit(0))
                    - F.col("d_sum") * F.col("d_sum")
                ).cast("double")
                / (F.lit(4) * F.col("m") * F.col("m")).cast("double")
            ).alias("q_contrib"),
        )
    )


@register(
    "graph_closeness_bounded",
    oracle="""
    WITH """ + _EDGES_SQL + """,
    und AS MATERIALIZED (
        SELECT p1 AS u, p2 AS v FROM edges
        UNION ALL SELECT p2 AS u, p1 AS v FROM edges
    ),
    d1 AS MATERIALIZED (SELECT DISTINCT u, v FROM und),
    d2 AS MATERIALIZED (
        SELECT DISTINCT a.u, e.v
        FROM d1 a JOIN und e ON e.u = a.v
        WHERE e.v <> a.u
          AND NOT EXISTS (SELECT 1 FROM d1 x
                          WHERE x.u = a.u AND x.v = e.v)
    ),
    d3 AS MATERIALIZED (
        SELECT DISTINCT a.u, e.v
        FROM d2 a JOIN und e ON e.u = a.v
        WHERE e.v <> a.u
          AND NOT EXISTS (SELECT 1 FROM d1 x
                          WHERE x.u = a.u AND x.v = e.v)
          AND NOT EXISTS (SELECT 1 FROM d2 x
                          WHERE x.u = a.u AND x.v = e.v)
    ),
    stats AS (
        SELECT n.u AS node,
               COALESCE(c1.n, 0) AS n1,
               COALESCE(c2.n, 0) AS n2,
               COALESCE(c3.n, 0) AS n3
        FROM (SELECT DISTINCT u FROM d1) n
        LEFT JOIN (SELECT u, CAST(COUNT(*) AS BIGINT) AS n
                   FROM d1 GROUP BY u) c1 ON c1.u = n.u
        LEFT JOIN (SELECT u, CAST(COUNT(*) AS BIGINT) AS n
                   FROM d2 GROUP BY u) c2 ON c2.u = n.u
        LEFT JOIN (SELECT u, CAST(COUNT(*) AS BIGINT) AS n
                   FROM d3 GROUP BY u) c3 ON c3.u = n.u
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           CAST(n3 AS BIGINT) AS n3,
           CAST(n1 + 2 * n2 + 3 * n3 AS BIGINT) AS sum_dist,
           CAST(n1 * 1000000 + n2 * 500000 + n3 * 333333 AS BIGINT)
               AS harmonic_ppm
    FROM stats
    ORDER BY harmonic_ppm DESC, node
    LIMIT 20
    """,
)
def graph_closeness_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius CLOSENESS / harmonic centrality (≤3 hops) over
    the co-purchase graph — the centrality every entity-importance
    ranking actually ships at scale (exact closeness needs APSP; the
    standard production compromise truncates the BFS at radius k and
    scores what's reachable): per node the hop-1/2/3 DISTINCT
    neighborhood sizes, the truncated distance mass Σd, and harmonic
    centrality Σ1/d in exact integer ppm (1e6, 5e5, 333333 — integer
    div of 1e6 by the hop). Frontier rounds are edge joins with
    per-round anti-join dedup (BFS-as-joins, the Pregel cost model);
    the top-20 publishes via TakeOrderedAndProject, never a global
    sort. Reuses the session-cached edge frame (r9 graph cache).

    Scale: round r's candidate set is bounded by E·avg_degree^(r-1)
    before dedup — the standard truncated-BFS cost, embarrassingly
    hash-partitioned on the source node; radius 3 is the documented
    cap, not a hidden fixture constant.
    """
    edges = _copurchase_edges(spark, sf_dir)
    und = (
        edges.select(F.col("p1").alias("u"), F.col("p2").alias("v"))
        .unionAll(edges.select(F.col("p2").alias("u"), F.col("p1").alias("v")))
    )
    d1 = und.distinct().localCheckpoint(eager=False)
    hop = und.select(F.col("u").alias("hu"), F.col("v").alias("hv"))
    d2 = (
        d1.join(hop, F.col("v") == F.col("hu"))
        .where(F.col("hv") != F.col("u"))
        .select("u", F.col("hv").alias("v"))
        .distinct()
        .join(d1, ["u", "v"], "left_anti")
        .localCheckpoint(eager=False)
    )
    d3 = (
        d2.join(hop, F.col("v") == F.col("hu"))
        .where(F.col("hv") != F.col("u"))
        .select("u", F.col("hv").alias("v"))
        .distinct()
        .join(d1, ["u", "v"], "left_anti")
        .join(d2, ["u", "v"], "left_anti")
    )
    def cnt(df, name):
        return df.groupBy("u").agg(F.count("*").cast("long").alias(name))

    stats = (
        cnt(d1, "n1")
        .join(cnt(d2, "n2"), "u", "left")
        .join(cnt(d3, "n3"), "u", "left")
        .select(
            F.col("u").cast("long").alias("node"),
            F.col("n1"),
            F.coalesce("n2", F.lit(0)).cast("long").alias("n2"),
            F.coalesce("n3", F.lit(0)).cast("long").alias("n3"),
        )
    )
    return (
        stats.select(
            "node",
            "n1",
            "n2",
            "n3",
            (F.col("n1") + 2 * F.col("n2") + 3 * F.col("n3"))
            .cast("long")
            .alias("sum_dist"),
            (
                F.col("n1") * 1000000
                + F.col("n2") * 500000
                + F.col("n3") * 333333
            )
            .cast("long")
            .alias("harmonic_ppm"),
        )
        .orderBy(F.desc("harmonic_ppm"), "node")
        .limit(20)
    )


def _bipartite_oracle() -> str:
    """Parity-BFS staged SQL generated from one loop (6 rounds, the
    CC radius): visited (node, parity) pairs grow per round; a node
    holding BOTH parities within the radius certifies an odd closed
    walk, i.e. an odd cycle."""
    steps = [
        """
    lab AS MATERIALIZED (SELECT node, CAST(lab AS BIGINT) AS lab FROM l6),
    v0 AS MATERIALIZED (
        SELECT node, CAST(0 AS BIGINT) AS par FROM lab WHERE node = lab
    ),
    f0 AS MATERIALIZED (SELECT node, par FROM v0)"""
    ]
    for r in range(1, 7):
        steps.append(f"""
    n{r} AS MATERIALIZED (
        SELECT DISTINCT e.v AS node, 1 - f.par AS par
        FROM f{r - 1} f JOIN und e ON e.u = f.node
        WHERE NOT EXISTS (SELECT 1 FROM v{r - 1} x
                          WHERE x.node = e.v AND x.par = 1 - f.par)
    ),
    v{r} AS MATERIALIZED (
        SELECT node, par FROM v{r - 1}
        UNION ALL SELECT node, par FROM n{r}
    ),
    f{r} AS MATERIALIZED (SELECT node, par FROM n{r})""")
    return (
        "WITH " + _EDGES_SQL + "," + _CC_STAGES_SQL + "," + ",".join(steps)
        + """,
    per_node AS (
        SELECT v.node, CAST(COUNT(DISTINCT v.par) AS BIGINT) AS np
        FROM v6 v GROUP BY v.node
    )
    SELECT l.lab AS community,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CASE WHEN p.np >= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_reached,
           CAST(SUM(CASE WHEN p.np = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_conflicted,
           CAST(CASE WHEN SUM(CASE WHEN p.np = 2 THEN 1 ELSE 0 END) > 0
                THEN 1 ELSE 0 END AS BIGINT) AS odd_cycle_found
    FROM lab l LEFT JOIN per_node p ON p.node = l.node
    GROUP BY l.lab
    """
    )


@register("graph_bipartite_check", oracle=_bipartite_oracle())
def graph_bipartite_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIPARTITENESS certificate per connected component — the
    two-colorability test behind conflict-free assignment problems
    (and the structural reason co-purchase graphs are rarely
    two-sided markets): parity BFS from each component's min-label
    root over the SAME 6-round radius as the CC fixed point; a node
    reached with BOTH parities inside the radius certifies an odd
    closed walk (an odd cycle), per the classic two-coloring
    argument. Per component: node count, radius-6 reach, conflicted
    nodes, and the odd-cycle flag. Reuses the session-cached edge and
    label frames (r9 graph cache) — the parity walk is the only new
    work, one edge join + anti-join per round.

    Scale: BSP rounds over (node, parity) pairs, hash-partitioned on
    node — 2× the CC round cost at worst, same plan shape.
    """
    edges, und, lab = _cc_label_frames(spark, sf_dir)
    roots = lab.where(F.col("node") == F.col("lab")).select(
        "node", F.lit(0).cast("long").alias("par")
    )
    visited = roots.localCheckpoint(eager=False)
    frontier = visited
    hop = und.select(F.col("u").alias("hu"), F.col("v").alias("hv"))
    for _ in range(6):
        nxt = (
            frontier.join(hop, F.col("node") == F.col("hu"))
            .select(
                F.col("hv").alias("node"),
                (F.lit(1) - F.col("par")).cast("long").alias("par"),
            )
            .distinct()
            .join(visited, ["node", "par"], "left_anti")
            .localCheckpoint(eager=False)
        )
        visited = visited.unionAll(nxt).localCheckpoint(eager=False)
        frontier = nxt
    per_node = visited.groupBy("node").agg(
        F.countDistinct("par").cast("long").alias("np")
    )
    return (
        lab.join(per_node, "node", "left")
        .groupBy(F.col("lab").alias("community"))
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum(F.when(F.col("np") >= 1, 1).otherwise(0))
            .cast("long")
            .alias("n_reached"),
            F.sum(F.when(F.col("np") == 2, 1).otherwise(0))
            .cast("long")
            .alias("n_conflicted"),
            F.when(
                F.sum(F.when(F.col("np") == 2, 1).otherwise(0)) > 0, 1
            )
            .otherwise(0)
            .cast("long")
            .alias("odd_cycle_found"),
        )
    )
