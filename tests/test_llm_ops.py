"""Unit tests for the LLM-data operators that the hash oracle can't
fully check: LSH recall vs the exact variant, SimHash properties,
approx-distinct accuracy, and the multimodal binary plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from e2e_data_pipeline_spark.operators import QUERIES
from tests.conftest import SF_SMALL


def test_minhash_lsh_recall_vs_exact(spark):
    """Every exact near-dup pair (Jaccard >= 0.6) should be recalled by
    the MinHash-LSH candidate join at >= 80%."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_near"](spark, SF_SMALL).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_near_lsh"](spark, SF_SMALL).collect()
    }
    assert exact, "fixture should contain near-duplicates"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} < 0.8 ({len(exact)} exact pairs)"


def test_simhash_near_dup_pairs_are_close(spark):
    """Exact near-dup pairs should have closer simhashes (hamming)
    than random pairs on average."""
    sim = {
        r.doc_id: r.simhash
        for r in QUERIES["dedup_simhash"](spark, SF_SMALL).collect()
    }
    near = [
        (r.doc_a, r.doc_b) for r in QUERIES["dedup_near"](spark, SF_SMALL).collect()
    ]

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    near_d = [hamming(sim[a], sim[b]) for a, b in near]
    ids = sorted(sim)
    rand_d = [hamming(sim[ids[i]], sim[ids[-(i + 1)]]) for i in range(50)]
    assert sum(near_d) / len(near_d) < sum(rand_d) / len(rand_d)


def test_sim_topk_lsh_recall_and_exactness(spark):
    """Multi-table multi-probe LSH must (a) recover >=90% of the true
    top-k set on the fixture — the fixture's near-isotropic vectors
    are hyperplane-LSH's worst case, so this bound is conservative
    for real clustered embeddings — and (b) score every hit with the
    exact brute-force cosine (the in-bucket re-rank is exact)."""
    exact_sets: dict = {}
    exact_cos = {}
    for r in QUERIES["sim_topk"](spark, SF_SMALL).collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        exact_cos[(r.query_id, r.neighbor_id)] = r.cosine
    lsh_rows = QUERIES["sim_topk_lsh"](spark, SF_SMALL).collect()
    assert lsh_rows, "LSH should return candidates at sf0.001"
    lsh_sets: dict = {}
    for r in lsh_rows:
        lsh_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact_sets[q] & lsh_sets.get(q, set())) for q in exact_sets)
    total = sum(len(v) for v in exact_sets.values())
    assert hits / total >= 0.9, f"LSH recall {hits}/{total} below 0.9"
    for r in lsh_rows:
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert abs(exact_cos[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_dedup_semantic_recall_and_soundness(spark):
    """IVF-bucketed semantic dedup: (a) SOUND — every counted member
    is a genuine above-threshold dup vector (cosine is exact inside
    cells, so members can never exceed the brute-force dup-vector
    count); (b) RECALL >= 0.75 of brute-force dup vectors on the
    near-isotropic fixture (worst case for cell bucketing — clustered
    real embeddings do better); (c) deterministic across runs."""
    import numpy as np

    from e2e_data_pipeline_spark.catalog import load_table

    rows = QUERIES["dedup_semantic"](spark, SF_SMALL).collect()
    assert rows, "fixture has >=0.35-cosine pairs, clusters expected"
    n_members = sum(r.n_members for r in rows)

    emb = load_table(spark, SF_SMALL, "embeddings").orderBy("vec_id").collect()
    X = np.array([r.embedding for r in emb], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    np.fill_diagonal(S, -2)
    brute_dups = int((S >= 0.35).any(axis=1).sum())

    assert n_members <= brute_dups, "counted a non-dup vector as member"
    assert n_members / brute_dups >= 0.75, (
        f"semantic dedup recall {n_members}/{brute_dups} below 0.75"
    )

    again = QUERIES["dedup_semantic"](spark, SF_SMALL).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_approx_count_distinct_accuracy(spark):
    from e2e_data_pipeline_spark.catalog import load_table

    approx = {
        r.event_type: r.approx_users
        for r in QUERIES["agg_approx"](spark, SF_SMALL).collect()
    }
    exact = {
        r.event_type: r.n
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) / n < 0.1, f"{k}: approx {approx[k]} vs exact {n}"


def test_multimodal_decode_schema_and_determinism(spark):
    from e2e_data_pipeline_spark.operators.llm_multimodal import (
        MEDIA_META_SCHEMA,
        decode_media,
    )

    df = spark.createDataFrame(
        [(1, "image", bytearray(b"payload-one")), (2, "video", bytearray(b"pp"))],
        "doc_id long, media_type string, payload binary",
    )
    out = decode_media(df)
    assert out.schema == MEDIA_META_SCHEMA
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].n_bytes == len(b"payload-one")
    assert 1 <= rows[1].width <= 1920 and 1 <= rows[1].height <= 1080
    again = {r.doc_id: r for r in decode_media(df).collect()}
    assert rows[1].checksum == again[1].checksum


def test_sim_topk_ivf_subset_of_exact_ranking(spark):
    """IVF hits must be real neighbors (present in the exact ranking)
    and recall of the exact top-k should clear a useful floor at 4/16
    probe coverage."""
    from e2e_data_pipeline_spark.operators import QUERIES

    exact_topk = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["sim_topk"](spark, SF_SMALL).collect()
    }
    ivf_rows = QUERIES["sim_topk_ivf"](spark, SF_SMALL).collect()
    assert ivf_rows, "IVF should return candidates at sf0.001"
    per_query = {}
    for r in ivf_rows:
        per_query.setdefault(r.query_id, []).append(r)
    for q, rows in per_query.items():
        assert len(rows) <= 5
    recall = len({(r.query_id, r.neighbor_id) for r in ivf_rows} & exact_topk) / len(
        exact_topk
    )
    assert recall >= 0.3, f"IVF recall {recall:.2f} too low"


def test_resize_preserves_aspect_and_bounds(spark):
    from e2e_data_pipeline_spark.operators.llm_multimodal import (
        decode_media,
        resize_media,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "image", b"x" * 4096), (2, "video", b"y" * 1000)],
        "doc_id long, media_type string, payload binary",
    )
    decoded = decode_media(df)
    out = {r.doc_id: r for r in resize_media(decoded, target=256).collect()}
    src = {r.doc_id: r for r in decoded.collect()}
    for doc_id, r in out.items():
        s = src[doc_id]
        assert max(r.width, r.height) <= 256 or r.scale == 1.0
        # aspect ratio preserved within integer-rounding tolerance
        assert abs((r.width / r.height) / (s.width / s.height) - 1) < 0.15
        assert 0 < r.scale <= 1.0


def test_frame_sampling_counts(spark):
    from e2e_data_pipeline_spark.operators.llm_multimodal import (
        decode_media,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, "video", b"v" * 123), (2, "video", b"w" * 299)],
        "doc_id long, media_type string, payload binary",
    )
    decoded = decode_media(df)
    n_frames = {r.doc_id: r.n_frames for r in decoded.collect()}
    sampled = sample_frames(decoded, every_n=30).collect()
    per_doc = {}
    for r in sampled:
        per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    for doc_id, idxs in per_doc.items():
        expected = list(range(0, n_frames[doc_id], 30))
        assert sorted(idxs) == expected


def test_multimodal_pipeline_rows(spark):
    from e2e_data_pipeline_spark.operators import QUERIES

    rows = {r.media_type: r for r in QUERIES["multimodal_pipeline"](spark, SF_SMALL).collect()}
    assert set(rows) == {"image", "audio", "video"}
    assert rows["video"].total_frames > 0
    assert rows["image"].total_frames == 0
    assert rows["image"].max_width <= 256 and rows["video"].max_height <= 256


def test_sketch_merge_accuracy_floor(spark):
    """Merged daily HLL sketches must estimate per-type distinct users
    within 5% of exact (lgK=14 gives ~0.4% RSE; 5% is a loose floor
    that still catches a broken merge)."""
    from pyspark.sql import functions as F

    from e2e_data_pipeline_spark.catalog import load_table
    from e2e_data_pipeline_spark.operators import QUERIES
    from tests.conftest import SF_SMALL

    approx = {
        r.event_type: r.approx_users
        for r in QUERIES["agg_sketch_merge"](spark, SF_SMALL).collect()
    }
    exact = {
        r.event_type: r.n
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for etype, est in approx.items():
        assert abs(est - exact[etype]) <= max(1, 0.05 * exact[etype])


def test_approx_percentile_accuracy(spark):
    """GK-sketch percentiles must sit within 2% relative error of the
    exact interpolated percentiles at fixture scale."""
    from pyspark.sql import functions as F

    from e2e_data_pipeline_spark.catalog import load_table

    approx = {
        r.o_orderpriority: r.approx_pcts
        for r in QUERIES["agg_approx_percentile"](spark, SF_SMALL).collect()
    }
    exact = (
        load_table(spark, SF_SMALL, "orders")
        .groupBy("o_orderpriority")
        .agg(F.percentile("o_totalprice", F.lit([0.5, 0.9, 0.99])).alias("pcts"))
        .collect()
    )
    for r in exact:
        for a, e in zip(approx[r.o_orderpriority], r.pcts):
            assert abs(a - e) / e < 0.02, (r.o_orderpriority, a, e)


def test_int8_quantized_topk_recall(spark):
    """int8-quantized cosine top-5 must recover >= 80% of the exact
    float top-5 per query (64-dim symmetric quantization loses little
    ranking fidelity)."""
    exact = {}
    for r in QUERIES["sim_topk"](spark, SF_SMALL).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    quant = {}
    for r in QUERIES["sim_quantize_int8"](spark, SF_SMALL).collect():
        quant.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert exact.keys() == quant.keys()
    recalls = [
        len(exact[q] & quant[q]) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_skew_kurt_matches_builtin_estimators(spark):
    """agg_skew_kurt's closed forms from exact decimal moments must
    agree with Spark's built-in skewness/kurtosis (population forms)
    to float precision — the decimal path buys cross-engine
    determinism, not different statistics."""
    from e2e_data_pipeline_spark.operators import QUERIES
    from tests.conftest import SF_SMALL

    from e2e_data_pipeline_spark.catalog import load_table

    ours = {
        r["event_type"]: r
        for r in QUERIES["agg_skew_kurt"](spark, SF_SMALL).collect()
    }
    ref = {
        r["event_type"]: r
        for r in load_table(spark, SF_SMALL, "events")
        .where(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.skewness("value").alias("sk"),
            F.kurtosis("value").alias("ku"),
        )
        .collect()
    }
    assert set(ours) == set(ref)
    for et, r in ours.items():
        assert abs(r["skewness_pop"] - ref[et]["sk"]) < 1e-6, et
        assert abs(r["kurtosis_excess"] - ref[et]["ku"]) < 1e-6, et


def test_linreg_normal_eq_matches_numpy_lstsq(spark):
    """The Cramer-rule OLS solution from decimal sufficient statistics
    must match numpy's least-squares on the same rows (loose float
    tolerance — numpy solves in a different, non-distributed way)."""
    import numpy as np

    from e2e_data_pipeline_spark.catalog import load_table
    from e2e_data_pipeline_spark.operators import QUERIES
    from tests.conftest import SF_SMALL

    ours = {
        r["l_returnflag"]: r
        for r in QUERIES["ml_linreg_normal_eq"](spark, SF_SMALL).collect()
    }
    rows = (
        load_table(spark, SF_SMALL, "lineitem")
        .select("l_returnflag", "l_quantity", "l_discount", "l_extendedprice")
        .collect()
    )
    by_flag = {}
    for r in rows:
        by_flag.setdefault(r.l_returnflag, []).append(
            (r.l_quantity, r.l_discount, r.l_extendedprice)
        )
    for flag, data in by_flag.items():
        a = np.array([[1.0, q, d] for q, d, _ in data])
        yv = np.array([y for _, _, y in data])
        beta, *_ = np.linalg.lstsq(a, yv, rcond=None)
        got = ours[flag]
        assert abs(got["beta0"] - beta[0]) < 1e-4 * max(1, abs(beta[0])), flag
        assert abs(got["beta_qty"] - beta[1]) < 1e-4 * max(1, abs(beta[1])), flag
        assert abs(got["beta_disc"] - beta[2]) < 1e-4 * max(1, abs(beta[2])), flag


def test_sim_pq_adc_recall_and_determinism(spark):
    """PQ-ADC shortlists must overlap the exact top-k (coarse 16-way
    codebooks → modest floor) and be bit-stable across runs (seeded
    codebooks, pinned tie-breaks)."""
    from e2e_data_pipeline_spark.operators import QUERIES

    exact_topk = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["sim_topk"](spark, SF_SMALL).collect()
    }
    pq_rows = QUERIES["sim_pq_adc"](spark, SF_SMALL).collect()
    assert pq_rows, "PQ should return candidates"
    per_query = {}
    for r in pq_rows:
        per_query.setdefault(r.query_id, []).append(r)
    for q, rows in per_query.items():
        assert len(rows) <= 5
    recall = len(
        {(r.query_id, r.neighbor_id) for r in pq_rows} & exact_topk
    ) / len(exact_topk)
    assert recall >= 0.2, f"PQ-ADC recall {recall:.2f} too low"
    again = {
        (r.query_id, r.neighbor_id, r.adc_score)
        for r in QUERIES["sim_pq_adc"](spark, SF_SMALL).collect()
    }
    assert again == {(r.query_id, r.neighbor_id, r.adc_score) for r in pq_rows}


def test_kcore_reaches_fixed_point(spark):
    """graph_kcore's 6 unrolled peel rounds must CONVERGE on the
    fixture: one further peel round leaves the core unchanged (the
    docstring's promise that 6 rounds suffice)."""
    from pyspark.sql import functions as F

    from e2e_data_pipeline_spark.operators.llm_dedup import (
        _copurchase_edges,
    )

    edges = _copurchase_edges(spark, SF_SMALL)
    und = edges.select(
        F.col("p1").alias("u"), F.col("p2").alias("v")
    ).unionAll(edges.select(F.col("p2").alias("u"), F.col("p1").alias("v")))
    cur = und.localCheckpoint()
    counts = []
    for _ in range(7):
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
        counts.append(cur.count())
    assert counts[5] == counts[6], f"not converged after 6 rounds: {counts}"


def test_dbscan_clusters_are_disjoint_and_dense(spark):
    """ml_dbscan_grid invariants: cluster extents don't overlap, every
    cluster has >= minPts*n_cells core points is NOT required, but
    each cluster's point count must be >= 8 (minPts) per cell floor."""
    rows = QUERIES["ml_dbscan_grid"](spark, SF_SMALL).collect()
    assert rows, "fixture should produce at least one dense cluster"
    spans = sorted((r.cell_lo, r.cell_hi, r.n_cells, r.n_core_pts) for r in rows)
    for (lo, hi, nc, npts) in spans:
        assert hi >= lo and nc == hi - lo + 1
        assert npts >= 8 * nc  # every member cell met the density bar
    for (_, hi_prev, _, _), (lo_next, _, _, _) in zip(spans, spans[1:]):
        assert lo_next > hi_prev + 1  # adjacent dense cells would have merged


def test_connected_components_reaches_fixed_point(spark):
    """graph_connected_components' 6 unrolled propagation rounds must
    CONVERGE on the fixture: a seventh min-label round changes no
    label (the docstring's promise), so the component summary is the
    true fixed point, not a truncated iteration."""
    from pyspark.sql import functions as F

    from e2e_data_pipeline_spark.operators.llm_dedup import (
        _copurchase_edges,
    )

    edges = _copurchase_edges(spark, SF_SMALL)
    und = edges.select(
        F.col("p1").alias("u"), F.col("p2").alias("v")
    ).unionAll(
        edges.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
    ).localCheckpoint()
    lab = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
        .localCheckpoint()
    )
    snapshots = []
    for _ in range(7):
        lab = (
            lab.join(und, lab.node == und.u)
            .join(
                lab.select(
                    F.col("node").alias("vnode"), F.col("lab").alias("vlab")
                ),
                F.col("v") == F.col("vnode"),
            )
            .groupBy("node")
            .agg(F.least(F.min("lab"), F.min("vlab")).alias("lab"))
            .localCheckpoint()
        )
        snapshots.append({(r.node, r.lab) for r in lab.collect()})
    assert snapshots[5] == snapshots[6], "6 rounds did not converge"


def test_editdist_blocking_finds_every_distance1_pair(spark):
    """FastSS blocking must be RECALL-COMPLETE: on the sf0.001
    customer names, the blocked pair count equals a brute-force O(n²)
    levenshtein sweep (deletion neighborhoods provably cover every
    distance-1 pair; this pins the implementation to the theorem)."""
    from pyspark.sql import functions as F

    from e2e_data_pipeline_spark.catalog import load_table
    from e2e_data_pipeline_spark.operators import QUERIES

    sf = "/root/testdata/sf0.001"
    names = sorted(
        r.c_name
        for r in load_table(spark, sf, "customer")
        .select("c_name")
        .distinct()
        .collect()
    )

    def lev1(a: str, b: str) -> bool:
        if a == b:
            return True
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        if la == lb:
            return sum(x != y for x, y in zip(a, b)) <= 1
        if la > lb:
            a, b, la, lb = b, a, lb, la
        i = j = edits = 0
        while i < la and j < lb:
            if a[i] == b[j]:
                i += 1
                j += 1
            else:
                edits += 1
                if edits > 1:
                    return False
                j += 1
        return True

    brute = {}
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            if lev1(a, b):
                brute[a] = brute.get(a, 0) + 1
                brute[b] = brute.get(b, 0) + 1
    expected = sorted(
        brute.items(), key=lambda kv: (-kv[1], kv[0])
    )[:100]
    got = [
        (r.name, r.n_neighbors)
        for r in QUERIES["dedup_editdist_blocked"](spark, sf).collect()
    ]
    assert got == expected


def test_ivf_roundtrip_cosines_match_numpy(spark):
    """sim_ivf_index_roundtrip shares its IVF derivation between the
    Spark side and the oracle SQL (identical-expression hazard:
    a wrong formula would match its oracle bit-for-bit), so pin the
    reported cosines against an INDEPENDENT numpy reference on the
    quantized vectors, and the candidate sets against a numpy replay
    of the cell assignment."""
    import numpy as np

    from e2e_data_pipeline_spark.operators import QUERIES
    from tests.conftest import SF_SMALL

    import math

    rows = QUERIES["sim_ivf_index_roundtrip"](spark, SF_SMALL).collect()
    assert rows, "round-trip produced no results"
    emb = {
        r["vec_id"]: np.round(np.array(r["embedding"], dtype=np.float64) * 1e6)
        for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    }
    n_corpus = sum(1 for v in emb if v >= 8)
    k = max(8, n_corpus // 64)
    k1 = max(4, math.isqrt(k))
    cents = {c: emb[c] for c in sorted(emb) if 8 <= c < 8 + k}
    supers = {s: cents[s] for s in sorted(cents) if s < 8 + k1}

    def d2(a, b):
        return int(np.dot(a - b, a - b))

    # replay the two-level quantizer: cell -> super, point -> 2 supers,
    # point -> argmin over the cells of those supers
    c2s = {
        c: min(supers, key=lambda s: (d2(cents[c], supers[s]), s))
        for c in cents
    }

    def probe_cells(v, n_probe):
        sd = sorted((d2(v, supers[s]), s) for s in supers)
        probed_supers = {s for _, s in sd[:2]}
        cand = [c for c in cents if c2s[c] in probed_supers]
        cd = sorted((d2(v, cents[c]), c) for c in cand)
        return [c for _, c in cd[:n_probe]]

    for r in rows:
        q, c = emb[r["query_id"]], emb[r["neighbor_id"]]
        expect = (
            float(np.dot(q, c)) / np.sqrt(float(np.dot(q, q)))
            / np.sqrt(float(np.dot(c, c)))
        )
        assert abs(r["cosine"] - expect) < 1e-12, (r, expect)
        # the neighbor's assigned cell must be one of the query's 2
        # probed cells (independent replay of the two-level rule)
        assert probe_cells(c, 1)[0] in probe_cells(q, 2), r


def test_stream_dedup_minhash_matches_python_reference(spark):
    """stream_dedup_minhash's Spark side and oracle share the
    md5-band construction, so replay the whole pipeline in pure
    Python (hashlib md5, 16 seeds, 8x2 banding, min-canon state) on
    the sf0.001 corpus and compare verdicts exactly."""
    import hashlib
    from collections import defaultdict

    from e2e_data_pipeline_spark.operators import QUERIES
    from tests.conftest import SF_SMALL

    got = {
        r["doc_id"]: (r["canonical_id"], r["is_candidate"])
        for r in QUERIES["stream_dedup_minhash"](spark, SF_SMALL).collect()
    }

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    bands = defaultdict(list)  # doc -> [(band, s0, s1)]
    for r in docs:
        toks = r["text"].split(" ")
        sh = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        if not sh:
            continue
        sigs = [
            min(h60(f"s{seed}|{s}") for s in sh) for seed in range(16)
        ]
        bands[r["doc_id"]] = [
            (b, sigs[2 * b], sigs[2 * b + 1]) for b in range(8)
        ]
    state = {}
    for d, bs in bands.items():
        for key in bs:
            state[key] = min(state.get(key, d), d)
    expect = {}
    for d, bs in bands.items():
        canon = min(state[key] for key in bs)
        expect[d] = (canon, 1 if canon < d else 0)
    assert got == expect


def test_corpus_manifest_packing_properties(spark):
    """corpus_e2e_manifest's stage counters and shard layout, checked
    against a Python recomputation from the raw table: gate/dedup
    counts match, shard doc-spans are disjoint and ordered, every
    shard's token sum stays within budget + its own largest doc, and
    the shard rows partition the admitted corpus exactly."""
    from e2e_data_pipeline_spark.operators import QUERIES
    from tests.conftest import SF_SMALL

    rows = QUERIES["corpus_e2e_manifest"](spark, SF_SMALL).collect()
    meta = {r["stage"]: r for r in rows if r["stage"] != "02_shard"}
    shards = sorted(
        (r for r in rows if r["stage"] == "02_shard"),
        key=lambda r: r["shard"],
    )
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    kept = [
        (r["doc_id"], r["lang"], r["text"].split(" "))
        for r in docs
        if r["lang"] in ("en", "de", "fr")
        and 60 <= r["n_chars"] <= 10000
        and len(r["text"].split(" ")) >= 15
    ]
    assert meta["00_gate"]["n_docs"] == len(kept)
    assert meta["00_gate"]["n_tokens"] == sum(len(t) for _, _, t in kept)
    seen = {}
    admitted = []
    for d, lang, toks in sorted(kept):
        key = " ".join(sorted(set(toks)))
        if key not in seen:
            seen[key] = d
            admitted.append((d, len(toks)))
    assert meta["01_dedup"]["n_docs"] == len(admitted)
    assert meta["01_dedup"]["n_tokens"] == sum(n for _, n in admitted)
    # shard layout: cumulative-quota assignment over doc_id order
    assert sum(r["n_docs"] for r in shards) == len(admitted)
    assert sum(r["n_tokens"] for r in shards) == sum(n for _, n in admitted)
    prev_last = -1
    cum = 0
    for r in shards:
        assert r["first_doc"] > prev_last, "shard doc-spans must be ordered"
        prev_last = r["last_doc"]
        cum += r["n_tokens"]
        # cumulative-quota: after this shard, cum > shard_id*1024
        assert cum > r["shard"] * 1024


def test_label_propagation_matches_python_replay(spark):
    """graph_label_propagation shares one derivation with its oracle,
    so replay the 3 synchronous majority rounds in pure Python on the
    sf0.001 graph and compare the final label histogram exactly."""
    from collections import Counter, defaultdict

    from e2e_data_pipeline_spark.operators import QUERIES
    from tests.conftest import SF_SMALL

    got = {
        r["label"]: (r["n_nodes"], r["n_seeds"])
        for r in QUERIES["graph_label_propagation"](spark, SF_SMALL).collect()
    }
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").collect()
    orders = {
        r["o_orderkey"]: r["o_custkey"]
        for r in spark.read.parquet(f"{SF_SMALL}/orders.parquet").collect()
    }
    cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet").collect()
    nation = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.parquet(f"{SF_SMALL}/nation.parquet").collect()
    }
    pairs = {
        (f"c{orders[r['l_orderkey']]}", f"s{r['l_suppkey']}") for r in li
    }
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    seeds = {
        f"c{r['c_custkey']}": nation[r["c_nationkey"]]
        for r in cust
        if r["c_custkey"] % 17 == 0 and f"c{r['c_custkey']}" in adj
    }
    label = {n: seeds.get(n) for n in adj}
    for _ in range(3):
        nxt = {}
        for n in adj:
            if n in seeds:
                nxt[n] = seeds[n]
                continue
            counts = Counter(
                label[m] for m in adj[n] if label[m] is not None
            )
            if counts:
                best = min(
                    counts, key=lambda lb: (-counts[lb], lb)
                )
                nxt[n] = best
            else:
                nxt[n] = label[n]
        label = nxt
    hist = Counter(label[n] or "(unlabeled)" for n in adj)
    seed_hist = Counter(seeds[n] for n in seeds)
    expect = {
        lb: (hist[lb], seed_hist.get(lb, 0)) for lb in hist
    }
    assert got == expect


def test_dedup_minhash_fast_recall(spark):
    """Production xxhash64 twin (rows-only key): its reported pair set
    must EQUAL the exact-Jaccard≥0.6 truth set on the fixture corpus.

    ⊆ holds by construction (candidates are exactly verified before
    the threshold); ⊇ is the recall claim — 8×2 banding found every
    true pair (P(miss)≈2.8% per pair at J=0.6; zero misses observed,
    deterministic because xxhash64 is a fixed seeded function). Also
    pins fast ≡ det pair-for-pair: the two keys share every plan
    stage except the signature hash, so any drift means a real edit
    to one side only.
    """
    from e2e_data_pipeline_spark.operators.llm_dedup import _shingles

    fast = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_fast"](spark, SF_SMALL).collect()
    }
    det = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_det"](spark, SF_SMALL).collect()
    }
    sh = _shingles(spark, SF_SMALL)
    a = sh.select(F.col("doc_id").alias("da"), "shingle")
    b = sh.select(F.col("doc_id").alias("db"), F.col("shingle").alias("sb"))
    common = (
        a.join(
            b, (F.col("shingle") == F.col("sb")) & (F.col("da") < F.col("db"))
        )
        .groupBy("da", "db")
        .agg(F.count("*").alias("c"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    truth = (
        common.join(
            sizes.withColumnRenamed("doc_id", "da").withColumnRenamed(
                "n", "na"
            ),
            "da",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "db").withColumnRenamed(
                "n", "nb"
            ),
            "db",
        )
        .where(16 * F.col("c") >= 6 * (F.col("na") + F.col("nb")))
    )
    tset = {(r.da, r.db) for r in truth.collect()}
    assert tset, "vacuous fixture: no true near-dup pairs"
    assert fast == tset
    assert det == tset


def test_sim_quantize_binary_recall(spark):
    """1-bit quantization + top-50 Hamming + exact rerank must recover
    most of the brute-force cosine top-5. Deterministic (sign packing
    + fixed tie-breaks), so the observed fixture recall is a stable
    pin, floored here at 0.6 — the level below which a binary
    prefilter would be misconfigured."""
    truth = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["sim_topk"](spark, SF_SMALL).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["sim_quantize_binary"](spark, SF_SMALL).collect()
    }
    assert truth
    recall = len(truth & got) / len(truth)
    assert recall >= 0.6, recall


def test_session_frame_cache_evicts_old_sf_dirs(spark):
    """The shared session frame cache (graph frames + day-grain
    rollups) must not pin frames for every fixture dir a session ever
    touched (r9 advice): inserting a key for a fresh sf_dir beyond
    the keep-last-N bound evicts (and unpersists) the oldest dir's
    entries, including tuple-valued label frames."""
    from e2e_data_pipeline_spark import catalog
    from e2e_data_pipeline_spark.operators import frame_cache as fc

    class FakeFrame:
        def __init__(self):
            self.unpersisted = False

        def unpersist(self):
            self.unpersisted = True
            return self

    sc = spark.sparkContext
    saved = catalog.memo(spark)
    memo = sc._e2e_memo = catalog.Memo()
    try:
        frames = {}
        for i in range(catalog._CACHE_MAX_DIRS):
            f = FakeFrame()
            frames[f"/tmp/dir{i}"] = f
            fc.session_cached(spark, f"/tmp/dir{i}", "edges", lambda f=f: f)
        # tuple-valued entry in the oldest dir must also unpersist
        pair = (FakeFrame(), FakeFrame())
        memo._shared[("frame", "/tmp/dir0", "labels")] = catalog.Entry(
            pair, catalog.Inputs(), "/tmp/dir0"
        )
        newest = FakeFrame()
        fc.session_cached(spark, "/tmp/dirN", "edges", lambda: newest)
        dirs_left = {e.sf_dir for e in memo._shared.values()}
        assert "/tmp/dir0" not in dirs_left
        assert "/tmp/dirN" in dirs_left
        assert len(dirs_left) == catalog._CACHE_MAX_DIRS
        assert frames["/tmp/dir0"].unpersisted
        assert pair[0].unpersisted and pair[1].unpersisted
        # surviving dirs untouched, and a cache hit never rebuilds
        assert not frames["/tmp/dir1"].unpersisted
        got = fc.session_cached(
            spark, "/tmp/dirN", "edges", lambda: FakeFrame()
        )
        assert got is newest
    finally:
        sc._e2e_memo = saved
