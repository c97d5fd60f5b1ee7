"""Extension-operator tests beyond oracle parity: ANN recall vs the
exact baseline, multimodal plumbing determinism + stub gating, dedup
invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapipelinerepo_spark.io import load_table
from datapipelinerepo_spark.operators import dedup as D
from datapipelinerepo_spark.operators import multimodal as M
from datapipelinerepo_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_ann_lsh_recall_vs_bruteforce(spark, emb):
    """LSH ANN (8-bit, multi-probe r=1) recovers a solid share of the
    exact top-10 — and every returned pair's similarity matches the
    exact score (re-rank is exact on candidates)."""
    q = emb.filter(F.col("vec_id") < 5)
    exact = SIM.cosine_topk_bruteforce(q, emb, k=10)
    approx = SIM.cosine_topk_lsh(q, emb, dim=64, k=10, n_bits=8)
    e = {(r["q_id"], r["c_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["c_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall {recall:.2f} too low"
    # scores of common pairs agree exactly (same cosine, rounded)
    es = {(r["q_id"], r["c_id"]): r["sim_r4"] for r in exact.collect()}
    for r in approx.collect():
        k = (r["q_id"], r["c_id"])
        if k in es:
            assert abs(es[k] - r["sim_r4"]) < 1e-9


def test_ann_ivf_finds_planted_duplicates(spark, emb):
    """A planted exact duplicate lands in the same IVF cell and must
    come back as the rank-1 neighbor at sim 1.0."""
    planted = emb.filter(F.col("vec_id") < 3).withColumn(
        "vec_id", F.col("vec_id") + 800000
    )
    corpus = emb.union(planted)
    q = emb.filter(F.col("vec_id") < 3)
    got = SIM.cosine_topk_ivf(q, corpus, dim=64, k=10)
    top1 = {r["q_id"]: (r["c_id"], r["sim_r4"]) for r in got.filter(F.col("rank") == 1).collect()}
    for qid in range(3):
        cid, sim = top1[qid]
        assert cid == qid + 800000 and sim == pytest.approx(1.0)


def test_ann_indexed_serving_equals_fresh(spark, emb, tmp_path):
    """cosine_topk_lsh against a persisted-and-read-back bucket index
    returns EXACTLY what the fresh full-corpus projection returns —
    bucket assignment is a pure per-vector function, so the index-once
    serving path loses nothing."""
    q = emb.filter(F.col("vec_id") < 5)
    fresh = SIM.cosine_topk_lsh(q, emb, dim=64, k=10)
    path = str(tmp_path / "ann_idx")
    SIM.ann_bucket_index(emb, dim=64).write.mode("overwrite").parquet(path)
    served = SIM.cosine_topk_lsh(
        q, emb, dim=64, k=10, corpus_buckets=spark.read.parquet(path)
    )
    a = {tuple(r) for r in fresh.collect()}
    b = {tuple(r) for r in served.collect()}
    assert a == b and len(a) == 50


def test_ann_null_embedding_degrades_not_crashes(spark, emb):
    """A NULL (or wrong-length) vector in the corpus must not kill the
    Arrow-vectorized LSH/IVF jobs — it degrades to the zero vector
    (bucket 0, similarity 0) exactly like the pre-vectorized expression
    form, and real neighbors still come back for real queries."""
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    bad = spark.createDataFrame(
        [(900001, None), (900002, [1.0, 2.0])], schema
    )
    corpus = (
        emb.select("vec_id", "embedding")
        .filter(F.col("vec_id") < 200)
        .unionByName(bad)
    )
    q = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 2)
    for fn in (SIM.cosine_topk_lsh, SIM.cosine_topk_ivf):
        got = fn(q, corpus, dim=64, k=5).collect()
        assert len(got) > 0
        assert all(r["c_id"] not in (900001, 900002) or r["sim_r4"] == 0.0 for r in got)


def test_ann_ivf_tiny_corpus_does_not_crash(spark, emb):
    """Corpus smaller than n_probe: the probe count clamps to the cell
    count instead of indexing past the sim array."""
    tiny = emb.filter(F.col("vec_id") < 3)
    got = SIM.cosine_topk_ivf(tiny, tiny, dim=64, k=2)
    assert got.count() == 6  # 3 queries x 2 neighbors


def test_ann_ivf_probes_bound_work(spark, emb):
    """Every query probes exactly n_probe cells (the cost contract)."""
    from datapipelinerepo_spark.operators.similarity import (
        _cell_sims,
        _normalized_centroids,
    )

    cents = _normalized_centroids(emb, 16, 64, "vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 5).select(
        "vec_id", _cell_sims(F.col("embedding"), cents).alias("_cs")
    )
    thr = F.element_at(F.array_sort("_cs"), -4)
    n_probed = q.select(
        F.size(
            F.filter(
                F.sequence(F.lit(0), F.lit(15)),
                lambda i: F.try_element_at("_cs", i + 1) >= thr,
            )
        ).alias("n")
    )
    assert all(r["n"] == 4 for r in n_probed.collect())


def test_cosine_self_similarity(spark, emb):
    """A vector is its own nearest neighbor at sim 1.0 (sanity of the
    dot/norm arithmetic)."""
    one = emb.filter(F.col("vec_id") == 0)
    both = SIM.cosine_dup_pairs(
        one.union(one.withColumn("vec_id", F.lit(999999).cast("long"))), threshold=0.99
    )
    row = both.collect()
    assert len(row) == 1 and row[0]["sim_r4"] == pytest.approx(1.0)


def test_exact_dedup_keeps_one_per_text(spark, docs):
    dup = docs.union(docs)  # every text now duplicated
    kept = D.exact_dedup(dup)
    assert kept.count() == docs.count()
    groups = D.exact_dedup_groups(dup)
    assert groups.filter(F.col("n_copies") != 2).count() == 0


def test_minhash_finds_planted_near_dups(spark, docs):
    """Plant near-duplicates (append one word) → MinHash+LSH reports
    them above threshold."""
    planted = docs.filter(F.col("doc_id") < 5).withColumn("doc_id", F.col("doc_id") + 1000000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" extra"))
    )
    pairs = D.minhash_lsh_pairs(docs.union(planted), threshold=0.5)
    found = {
        (r["id_a"], r["id_b"]) for r in pairs.collect()
    }
    for i in [r["doc_id"] for r in docs.filter(F.col("doc_id") < 5).collect()]:
        assert (i, i + 1000000) in found, f"planted near-dup of {i} missed"


def test_incremental_lsh_equals_full_cross_batch(spark, docs):
    """The persisted-index incremental path returns EXACTLY the
    cross-batch slice of the full-corpus pair run: banding is a pure
    per-document function, so probing yesterday's index with today's
    batch loses nothing vs re-signing everything."""
    hist = docs.filter(F.col("doc_id") % 4 != 0)
    # today's batch: a fresh slice plus planted near-dups of history
    planted = hist.filter(F.col("doc_id") < 8).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    ).withColumn("text", F.concat(F.col("text"), F.lit(" extra")))
    new = docs.filter(F.col("doc_id") % 4 == 0).union(planted)
    idx = D.minhash_band_index(hist)
    inc = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in D.incremental_near_dup_lsh(new, idx, hist, threshold=0.5).collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    full = D.minhash_lsh_pairs(hist.union(new), threshold=0.5)
    cross = {
        (b, a, j) if b in new_ids else (a, b, j)
        for a, b, j in (
            (r["id_a"], r["id_b"], r["jaccard"]) for r in full.collect()
        )
        if (a in new_ids) != (b in new_ids)
    }
    assert inc == cross and len(inc) >= 8  # planted dups all found


def test_band_index_composes_over_batches(spark, docs):
    """index(a ∪ b) == index(a) ∪ index(b) — the invariant that makes
    appending each batch's banding to the stored index correct."""
    a = docs.filter(F.col("doc_id") % 2 == 0).limit(50)
    b = docs.filter(F.col("doc_id") % 2 == 1).limit(50)
    whole = D.minhash_band_index(a.union(b))
    parts = D.minhash_band_index(a).unionByName(D.minhash_band_index(b))
    assert whole.exceptAll(parts).count() == 0
    assert parts.exceptAll(whole).count() == 0


def test_simhash_identical_distance_zero(spark, docs):
    dup = docs.filter(F.col("doc_id") < 3).withColumn("doc_id", F.col("doc_id") + 500000)
    pairs = D.simhash_pairs(docs.filter(F.col("doc_id") < 3).union(dup), max_hamming=0)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    for i in [r["doc_id"] for r in docs.filter(F.col("doc_id") < 3).collect()]:
        assert got.get((i, i + 500000)) == 0


def test_connected_components_planted_graph(spark):
    """Known graph: {1-2, 2-3} ∪ {10-11} ∪ isolated 99 → components
    {1,2,3}→1, {10,11}→10, {99}→99. Chain forces >1 propagation round."""
    from datapipelinerepo_spark.operators import graph as G

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,), (10,), (11,), (99,)], ["doc_id"])
    got = {r["doc_id"]: r["comp"] for r in G.dedup_components(nodes, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_long_chain(spark):
    """A 30-node path graph converges to a single component (the
    worst-case diameter for label propagation). driver_edge_cap=0
    forces the DISTRIBUTED rounds (r14: the default path union-finds
    bounded edge sets on the driver)."""
    from datapipelinerepo_spark.operators import graph as G

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["id_a", "id_b"]
    )
    comps = G.connected_components(pairs, driver_edge_cap=0)
    assert comps.select("comp").distinct().count() == 1
    assert comps.agg(F.min("comp")).first()[0] == 0


def test_connected_components_driver_matches_distributed(spark, docs):
    """r14 bounded-driver path: union-find output (rows, labels, types)
    equals the distributed min-label rounds on the registry's own edge
    shape (consecutive same-lang chains), and the over-cap fallback
    (cap=1) rides the distributed path to the same answer."""
    from datapipelinerepo_spark.operators import graph as G

    d = docs.select("doc_id", "lang")
    nxt = d.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.col("lang").alias("_lang2"),
    )
    edges = (
        d.join(nxt, on="doc_id")
        .filter(F.col("lang") == F.col("_lang2"))
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1).alias("id_b"),
        )
    )

    def run(cap):
        out = G.connected_components(edges, driver_edge_cap=cap)
        assert dict(out.dtypes) == {"node": "bigint", "comp": "bigint"}
        return {r["node"]: r["comp"] for r in out.collect()}

    driver, distributed, over_cap = run(262_144), run(0), run(1)
    assert driver == distributed == over_cap and len(driver) > 0


def test_connected_components_driver_string_ids_and_null_fallback(spark):
    """String node ids ride the driver path with Spark-identical
    ordering; a null endpoint anywhere in the bounded head falls back
    to the distributed rounds (which drop the null side in the join)
    rather than guessing null semantics on the driver."""
    from datapipelinerepo_spark.operators import graph as G

    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], ["id_a", "id_b"]
    )
    got = {
        r["node"]: r["comp"] for r in G.connected_components(pairs).collect()
    }
    want = {
        r["node"]: r["comp"]
        for r in G.connected_components(pairs, driver_edge_cap=0).collect()
    }
    assert got == want == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x"
    }

    with_null = spark.createDataFrame(
        [(1, 2), (None, 3)], "id_a int, id_b int"
    )
    got_n = {
        r["node"]: r["comp"]
        for r in G.connected_components(with_null).collect()
    }
    want_n = {
        r["node"]: r["comp"]
        for r in G.connected_components(
            with_null, driver_edge_cap=0
        ).collect()
    }
    assert got_n == want_n


def test_multimodal_features_deterministic(spark, docs):
    media = M.documents_as_media(docs.filter(F.col("doc_id") < 20))
    f1 = {r["media_id"]: (r["payload_sha"], tuple(r["features"])) for r in M.extract_features(media).collect()}
    f2 = {r["media_id"]: (r["payload_sha"], tuple(r["features"])) for r in M.extract_features(media).collect()}
    assert f1 == f2  # same bytes → same features, independent of partitioning
    assert all(len(v[1]) == M.FEATURE_DIM for v in f1.values())


def test_multimodal_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        M.decode_media(b"bytes", "image/png", real=True)


def test_approx_aggs_error_bounds(spark, sf_dir):
    """HLL distinct + t-digest p95 land within tolerance of the exact
    answers (the check that justifies the sketch swap at scale)."""
    from datapipelinerepo_spark.io import load_table

    e = load_table(spark, sf_dir, "events")
    approx = e.agg(
        F.approx_count_distinct("user_id").alias("u"),
        F.percentile_approx("value", 0.95, 10000).alias("p"),
    ).first()
    exact_u = e.select("user_id").distinct().count()
    exact_p = e.agg(F.expr("percentile(value, 0.95)").alias("p")).first()["p"]
    assert abs(approx["u"] - exact_u) / exact_u < 0.05
    assert abs(approx["p"] - exact_p) / max(abs(exact_p), 1e-9) < 0.05


def test_rolling_fingerprint_shift_invariance(spark, docs):
    """Content-defined selection: prepending text to a doc preserves
    (a superset of) its fingerprints — the property fixed-stride
    sampling lacks and the reason to use the rolling hash."""
    from datapipelinerepo_spark.operators.text import rolling_fingerprints

    base = docs.filter(F.col("doc_id") < 5)
    shifted = base.withColumn(
        "text", F.concat(F.lit("PREFIX INSERTED AT START "), F.col("text"))
    ).withColumn("doc_id", F.col("doc_id") + 700000)
    fps = rolling_fingerprints(base.union(shifted), k=8, mod_p=64)
    rows = fps.collect()
    by_doc: dict[int, set] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    for r in base.collect():
        orig = by_doc.get(r["doc_id"], set())
        shift = by_doc.get(r["doc_id"] + 700000, set())
        assert orig, f"doc {r['doc_id']} produced no fingerprints"
        assert orig <= shift, "insertion broke fingerprint alignment"


def test_frame_sample_plan(spark):
    media = spark.createDataFrame(
        [(1, b"x", "video/mp4", None, None, 2500), (2, b"y", "image/png", None, None, None)],
        schema=M.MEDIA_SCHEMA,
    )
    frames = M.frame_sample_plan(media, every_ms=1000)
    got = [(r["media_id"], r["frame_ts_ms"]) for r in frames.collect()]
    assert sorted(got) == [(1, 0), (1, 1000), (1, 2000)]  # image yields none


def test_redact_pii_planted(spark):
    """Planted emails/IPs/digit-runs are redacted and counted in stage
    order (digits inside an email are not double-counted)."""
    from datapipelinerepo_spark.operators.text import redact_pii

    rows = [
        (1, "contact user123@example.com or 10.0.0.1 ref 4421"),
        (2, "clean text with no pii at all"),
        (3, "a12b no run here, but 123456 yes"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    # doc 1: one email (its digits consumed), one IP, one digit run
    assert got[1]["n_redacted"] == 3
    # doc 2: untouched — digest equals the raw md5
    raw2 = df.filter(F.col("doc_id") == 2).select(F.md5("text")).first()[0]
    assert got[2]["n_redacted"] == 0 and got[2]["red_md5"] == raw2
    # doc 3: "a12b" survives (<3 digits), "123456" is one run
    assert got[3]["n_redacted"] == 1


def test_boilerplate_ngrams_planted(spark):
    """A 5-gram phrase shared by 3 docs is flagged; a phrase repeated
    many times inside ONE doc is not (distinct-doc counting)."""
    from datapipelinerepo_spark.operators.text import boilerplate_ngrams
    import hashlib

    shared = "please subscribe to our newsletter"
    rows = [
        (1, f"alpha beta {shared} gamma"),
        (2, f"{shared} delta epsilon zeta"),
        (3, f"one two three {shared}"),
        (4, " ".join(["spam ham eggs bacon toast"] * 6)),  # intra-doc repeats
        (5, "totally unrelated words in this document here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["gram_md5"]: r["n_docs"] for r in boilerplate_ngrams(df, n=5, min_docs=3).collect()}
    shared_md5 = hashlib.md5(shared.encode()).hexdigest()
    assert got.get(shared_md5) == 3, "shared phrase not flagged"
    intra = hashlib.md5(b"spam ham eggs bacon toast").hexdigest()
    assert intra not in got, "intra-doc repetition wrongly counted as multi-doc"


def test_repetition_flags_template_docs(spark):
    """A doc that is one phrase repeated scores ~max share; varied prose
    scores low."""
    from datapipelinerepo_spark.operators.text import repetition_features

    rows = [
        (1, " ".join(["buy now"] * 20)),           # templated spam
        (2, "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_features(df, n=2).collect()}
    assert got[1]["top_ngram_share"] > 0.4
    # all bigrams distinct → share = 1/n_bigrams
    assert got[2]["top_ngram_share"] == pytest.approx(1 / got[2]["n_ngrams"])


def test_quantized_ann_recall_and_roundtrip(spark, emb):
    """int8-quantized search recovers ≥90% of the exact top-10 with
    small score error; quantize→dequantize error is bounded by scale/2
    per element."""
    q = emb.filter(F.col("vec_id") < 5)
    exact = SIM.cosine_topk_bruteforce(q, emb, k=10)
    quant = SIM.cosine_topk_quantized(q, emb, k=10)
    e = {(r["q_id"], r["c_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["c_id"]) for r in quant.collect()}
    assert len(e & a) / len(e) >= 0.9
    es = {(r["q_id"], r["c_id"]): r["sim_r4"] for r in exact.collect()}
    for r in quant.collect():
        kk = (r["q_id"], r["c_id"])
        if kk in es:
            assert abs(es[kk] - r["sim_r4"]) < 0.01

    small = emb.filter(F.col("vec_id") < 20)
    qz = SIM.quantize_embeddings(small)
    back = {r["vec_id"]: r["embedding"] for r in SIM.dequantize_embeddings(qz).collect()}
    scales = {r["vec_id"]: r["scale"] for r in qz.collect()}
    for r in small.collect():
        vid, orig = r["vec_id"], r["embedding"]
        for o, b in zip(orig, back[vid]):
            assert abs(float(o) - b) <= scales[vid] / 2 + 1e-9


def test_heavy_hitters_match_exact_topk(spark, sf_dir):
    """approx_top_k with ample tracking capacity agrees with the exact
    grouped counts on every returned item."""
    import datapipelinerepo_spark.registry_ext  # noqa: F401
    from datapipelinerepo_spark.registry import REGISTRY

    got = {
        r["user_id"]: r["n_events"]
        for r in REGISTRY["scale_heavy_hitters"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    k = min(20, len(exact))
    assert len(got) == k
    for uid, n in got.items():
        assert exact[uid] == n  # counts are exact at this capacity
    # every reported hitter is within the true top-k count range
    floor_k = sorted(exact.values(), reverse=True)[k - 1]
    assert all(n >= floor_k for n in got.values())


def test_resize_media_plumbing(spark, docs):
    """Resize: deterministic fake payloads sized to the target box,
    metadata rewritten, binary column stays executor-side (map-only) —
    and the real-decode path is explicitly gated."""
    media = M.documents_as_media(docs.filter(F.col("doc_id") < 10))
    out = M.resize_media(media, width=8, height=8)
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 10
    for r in rows.values():
        assert (r["width"], r["height"]) == (8, 8)
        assert len(r["payload"]) == 8 * 8 * 3
    again = {r["media_id"]: bytes(r["payload"]) for r in M.resize_media(media, 8, 8).collect()}
    assert {k: bytes(v["payload"]) for k, v in rows.items()} == again

    import pytest as _pt

    with _pt.raises(NotImplementedError):
        M.resize_payload(b"x", "image/png", 8, 8, real=True)


def test_decontaminate_planted(spark):
    """A corpus doc containing a verbatim benchmark sentence is flagged
    with the right overlap count; an unrelated doc is not; the keep side
    is exactly the complement."""
    from datapipelinerepo_spark.operators import text as T

    bench = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over lazy dogs")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix words then the quick brown fox appears here"),
            (2, "completely unrelated content about spark partitions"),
            (3, "short doc"),  # < n tokens: no n-grams, never flagged
        ],
        "doc_id long, text string",
    )
    hits = {r["doc_id"]: r["n_hit_ngrams"] for r in T.decontaminate_hits(corpus, bench).collect()}
    # shared 3-grams: "the quick brown", "quick brown fox"
    assert hits == {1: 2}
    kept = {r["doc_id"] for r in T.decontaminate_keep(corpus, bench).collect()}
    assert kept == {2, 3}


def test_incremental_bloom_equals_exact_antijoin(spark, docs):
    """The bloom-prefiltered incremental dedup returns EXACTLY the
    exact digest anti-join (no false negatives; candidates verified),
    and flags planted overlaps."""
    new = docs.filter(F.col("doc_id") % 3 == 0)
    hist = docs.filter(F.col("doc_id") % 3 != 0)
    got = {r["doc_id"] for r in D.incremental_dedup_bloom(new, hist).collect()}
    exact = {
        r["doc_id"]
        for r in new.join(
            hist.select(F.md5("text").alias("_d")).distinct(),
            F.md5(new.text) == F.col("_d"),
            "left_anti",
        ).collect()
    }
    assert got == exact
    # tiny bitmap forces heavy false positives; equality must still hold
    got_fp = {
        r["doc_id"]
        for r in D.incremental_dedup_bloom(new, hist, m_bits=64, k=2).collect()
    }
    assert got_fp == exact


def test_rebalance_mix_balances_and_is_deterministic(spark, docs):
    """Every language lands near the smallest language's count, and the
    sample is a pure function of the data (two runs identical)."""
    from datapipelinerepo_spark.operators import sampling as SMP

    before = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    mn = min(before.values())
    out = SMP.rebalance_mix(docs, "lang")
    after = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in after.items():
        tol = 5 * (mn ** 0.5) + 5
        assert abs(n - mn) <= tol, f"{lang}: {n} vs target {mn} (before {before[lang]})"
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {r["doc_id"] for r in SMP.rebalance_mix(docs, "lang").collect()}
    assert ids1 == ids2


# ---------------------------------------------------------------------------
# Line-level dedup (CCNet/Dolma-style boilerplate line removal)
# ---------------------------------------------------------------------------


def _line_dedup_fixture(spark):
    from datapipelinerepo_spark.operators.text import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "unique one\nCOOKIE BANNER\nbody text 1"),
            (2, "COOKIE BANNER\nbody text 2\nbody text 2"),
            (3, "COOKIE BANNER"),
            (4, "all original\nlines here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert len(out) == 4  # every input doc comes back
    return out


def test_line_dedup_drops_shared_lines_keeps_order(spark):
    out = _line_dedup_fixture(spark)
    assert out[1]["clean_text"] == "unique one\nbody text 1"
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (2, 1)
    assert out[4]["clean_text"] == "all original\nlines here"
    assert out[4]["n_dropped"] == 0


def test_line_dedup_keeps_within_doc_repeats(spark):
    # "body text 2" twice in doc 2 only: within-doc repetition is NOT
    # corpus boilerplate — both copies survive
    out = _line_dedup_fixture(spark)
    assert out[2]["clean_text"] == "body text 2\nbody text 2"


def test_line_dedup_all_boilerplate_doc_becomes_empty(spark):
    out = _line_dedup_fixture(spark)
    assert out[3]["clean_text"] == ""
    assert (out[3]["n_kept"], out[3]["n_dropped"]) == (0, 1)


# ---------------------------------------------------------------------------
# SemDeDup-shaped semantic dedup
# ---------------------------------------------------------------------------


def _cell_of(emb_df, dim=64, n_clusters=16):
    """Argmax-centroid assignment twin used to scope the brute-force
    ground truth to within-cluster pairs."""
    cents = SIM._normalized_centroids(emb_df, n_clusters, dim, "vec_id", "embedding")
    sims = SIM._cell_sims_udf(cents)
    return emb_df.select(
        F.col("vec_id").alias("id"),
        (F.array_position(sims(F.col("embedding")), F.array_max(sims(F.col("embedding")))) - 1)
        .cast("int")
        .alias("cell"),
    )


def test_semantic_pairs_equal_bruteforce_within_cell(spark, emb):
    """The SemDeDup pair set must be EXACTLY the brute-force cosine>=t
    pairs restricted to same-cluster — the cluster scoping is the only
    approximation."""
    pairs = SIM.semantic_dup_pairs(emb, dim=64, threshold=0.35, n_clusters=16)
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    exact = SIM.cosine_dup_pairs(emb, threshold=0.35)
    cells = {r["id"]: r["cell"] for r in _cell_of(emb).collect()}
    want = {
        (r["id_a"], r["id_b"])
        for r in exact.collect()
        if cells[r["id_a"]] == cells[r["id_b"]]
    }
    assert got == want
    assert all(a < b for a, b in got)


def test_semantic_planted_dups_collapse_to_one_keeper(spark, emb):
    """Exact duplicates share an argmax cell by construction, so a
    planted copy chain must come back as one pair group -> one keeper."""
    from datapipelinerepo_spark.operators.graph import dedup_components

    base = emb.filter(F.col("vec_id") == 7)
    copies = base.withColumn("vec_id", F.lit(900001)).unionAll(
        base.withColumn("vec_id", F.lit(900002))
    )
    corpus = emb.unionAll(copies)
    pairs = SIM.semantic_dup_pairs(corpus, dim=64, threshold=0.9999, n_clusters=16)
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert {(7, 900001), (7, 900002), (900001, 900002)} <= got
    comps = dedup_components(corpus, pairs, id_col="vec_id", src="a_id", dst="b_id")
    keep = {r["vec_id"] for r in comps.filter(F.col("vec_id") == F.col("comp")).collect()}
    assert 7 in keep and not ({900001, 900002} & keep)


def test_bucket_pairs_expansion_and_self_join_equivalence(spark, docs):
    """_bucket_pairs (round-3 candidate generation: groupBy bucket +
    in-bucket pair expansion) is set-identical to the bucket-stream
    self-join it replaced, both bare and with a payload column."""
    rows = [
        (1, 0, 100),
        (2, 0, 100),
        (3, 0, 100),  # bucket of 3 -> 3 pairs
        (4, 0, 200),
        (5, 0, 200),  # bucket of 2 -> 1 pair
        (6, 1, 300),  # singleton -> nothing
        (1, 1, 400),
        (5, 1, 400),  # same ids, other band -> 1 pair
    ]
    banded = spark.createDataFrame(rows, "_id long, band_no int, band_hash long")
    got = {
        (r.id_a, r.id_b)
        for r in D._bucket_pairs(banded).distinct().collect()
    }
    assert got == {(1, 2), (1, 3), (2, 3), (4, 5), (1, 5)}

    # payload variant carries the per-id column to both sides
    payload = banded.withColumn("sig", F.col("_id") * 10)
    prow = {
        (r.id_a, r.id_b): (r.sig_a, r.sig_b)
        for r in D._bucket_pairs(payload, payload="sig").distinct().collect()
    }
    assert prow[(1, 2)] == (10, 20) and prow[(4, 5)] == (40, 50)

    # equivalence against the self-join form on real banded data
    real = D._band_rows(docs.limit(300))
    a, b = real.alias("a"), real.alias("b")
    sj = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    bp = D._bucket_pairs(real).distinct()
    assert sj.exceptAll(bp).count() == 0 and bp.exceptAll(sj).count() == 0


# ---------------------------------------------------------------------------
# Canonical keeper selection + linear model score
# ---------------------------------------------------------------------------


def test_canonical_keep_picks_highest_quality(spark):
    """Planted 3-doc chain (A-B, B-C) plus a singleton: the keeper is
    the LONGEST member of the transitive group (not the min id), the
    group size counts all three, and the singleton keeps itself."""
    from datapipelinerepo_spark.operators.graph import canonical_keep

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (7, 5)], ["doc_id", "n_chars"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    rows = {r["comp"]: r for r in canonical_keep(docs, pairs).collect()}
    assert set(rows) == {1, 7}
    assert rows[1]["keeper_id"] == 2 and rows[1]["keeper_quality"] == 99
    assert rows[1]["n_members"] == 3
    assert rows[7]["keeper_id"] == 7 and rows[7]["n_members"] == 1


def test_canonical_keep_quality_tie_breaks_min_id(spark):
    from datapipelinerepo_spark.operators.graph import canonical_keep

    docs = spark.createDataFrame([(5, 10), (6, 10)], ["doc_id", "n_chars"])
    pairs = spark.createDataFrame([(5, 6)], ["id_a", "id_b"])
    (row,) = canonical_keep(docs, pairs).collect()
    assert row["keeper_id"] == 5


def test_linear_model_score_bounds_and_invariance(spark):
    """Scores live in (0,1); identical texts score identically; the
    score is a pure function of the token multiset (exact integer
    sums), so a reordered corpus scores the same."""
    from datapipelinerepo_spark.operators.text import linear_model_score

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"),
         (3, "zzz"), (4, "  padded   whitespace  run  ")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in linear_model_score(docs).collect()}
    assert all(0.0 < r["model_score"] < 1.0 for r in rows.values())
    assert rows[1]["model_score"] == rows[2]["model_score"]
    assert rows[4]["n_tokens"] == 3  # empty tokens filtered
    rep = {
        r["doc_id"]: r["model_score"]
        for r in linear_model_score(docs.repartition(7)).collect()
    }
    assert rep == {k: v["model_score"] for k, v in rows.items()}


# ---------------------------------------------------------------------------
# Distributed k-means + perplexity filtering
# ---------------------------------------------------------------------------


def test_kmeans_matches_numpy_lloyd(spark):
    """kmeans_fit from the deterministic lowest-id seed equals a dense
    NumPy Lloyd's reference (same init, same iteration count) to 1e-9
    per coordinate — empty-cell handling included."""
    import numpy as np
    from datapipelinerepo_spark.operators.similarity import kmeans_fit

    rng = np.random.default_rng(7)
    X = np.vstack(
        [rng.normal(0, 0.2, (20, 4)), rng.normal(5, 0.2, (20, 4))]
    )
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(5)

    k, iters = 3, 4
    got = np.asarray(kmeans_fit(df, dim=4, k=k, iters=iters))

    cents = X[:k].astype(float).copy()
    for _ in range(iters):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        cell = d.argmin(axis=1)
        for ci in range(k):
            if (cell == ci).any():
                cents[ci] = X[cell == ci].mean(axis=0)
    assert np.abs(got - cents).max() < 1e-9


def test_kmeans_assign_partitioning_invariant(spark):
    from datapipelinerepo_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
    )

    rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = kmeans_fit(df, dim=2, k=4, iters=3)
    a = {r["vec_id"]: r["cell"] for r in kmeans_assign(df, cents).collect()}
    b = {
        r["vec_id"]: r["cell"]
        for r in kmeans_assign(df.repartition(9), cents).collect()
    }
    assert a == b


def test_perplexity_ranks_gibberish_above_common(spark):
    """Docs made of corpus-frequent tokens score LOW perplexity; a doc
    of hapax gibberish scores the HIGHEST — the filtering contract. The
    score is partitioning-invariant (decimal sums)."""
    from datapipelinerepo_spark.operators.text import unigram_perplexity

    docs = [(i, "the cat sat on the mat") for i in range(10)]
    docs.append((99, "zqx jvw pflm"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {r["doc_id"]: r["ppl"] for r in unigram_perplexity(df).collect()}
    assert rows[99] == max(rows.values())
    assert rows[0] == rows[5]
    rep = {
        r["doc_id"]: r["ppl"]
        for r in unigram_perplexity(df.repartition(7)).collect()
    }
    assert rep == rows


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN
# ---------------------------------------------------------------------------


def test_ann_pq_recall_and_planted_duplicate(spark, emb):
    """PQ/ADC with exact re-rank: a planted exact duplicate must come
    back rank-1 at sim 1.0 (its codes equal the query's own codes), and
    recall vs the exact top-10 clears the same bar as LSH."""
    planted = emb.filter(F.col("vec_id") < 3).withColumn(
        "vec_id", F.col("vec_id") + 800000
    )
    corpus = emb.union(planted)
    q = emb.filter(F.col("vec_id") < 5)
    exact = SIM.cosine_topk_bruteforce(q, corpus, k=10)
    approx = SIM.cosine_topk_pq(q, corpus, dim=64, k=10)
    top1 = {
        r["q_id"]: (r["c_id"], r["sim_r4"])
        for r in approx.filter(F.col("rank") == 1).collect()
    }
    for qid in range(3):
        cid, sim = top1[qid]
        assert cid == qid + 800000 and sim == pytest.approx(1.0)
    e = {(r["q_id"], r["c_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["c_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"PQ recall {recall:.2f} too low"


def test_ann_pq_indexed_serving_equals_fresh(spark, emb):
    """Index-once serving: scoring against pre-trained codebooks and a
    persisted encoded corpus equals the train-fresh path exactly (both
    deterministic from the same seed sample)."""
    q = emb.filter(F.col("vec_id") < 3)
    fresh = SIM.cosine_topk_pq(q, emb, dim=64, k=5)
    books = SIM.pq_train(emb, dim=64)
    enc = SIM.pq_encode(emb, books)
    served = SIM.cosine_topk_pq(
        q, emb, dim=64, k=5, codebooks=books, encoded=enc
    )
    f = sorted(map(tuple, fresh.collect()))
    s = sorted(map(tuple, served.collect()))
    assert f == s


# ---------------------------------------------------------------------------
# Perceptual-hash media dedup + generic Hamming join
# ---------------------------------------------------------------------------


def test_hamming_pairs_radius_and_banding(spark):
    """Synthetic 64-bit signatures: a 2-bit-flip pair is found (shares
    3 of 4 chunks), an identical pair comes back at distance 0, and a
    far pair (random-ish) is rejected by the exact bit_count filter."""
    base = 0x123456789ABCDEF0
    rows = [
        (1, base),
        (2, base),                 # identical
        (3, base ^ 0b101),         # 2 bits away, same high chunks
        (4, ~base & 0x7FFFFFFFFFFFFFFF),  # far
    ]
    df = spark.createDataFrame(rows, "id long, sig long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.hamming_pairs(df, "sig", "id", max_hamming=8).collect()
    }
    assert got[(1, 2)] == 0 and got[(1, 3)] == 2 and got[(2, 3)] == 2
    assert not any(4 in k for k in got)


def test_phash_planted_payload_duplicate(spark):
    """Two media rows with byte-identical payloads collide at Hamming 0
    through the full perceptual-hash pipeline; distinct payloads don't
    collide. Determinism: same payload hashes identically across
    partitions."""
    docs = spark.createDataFrame(
        [(1, "same bytes"), (2, "same bytes"), (3, "other bytes")],
        ["doc_id", "text"],
    )
    media = M.documents_as_media(docs)
    sig = M.perceptual_hash(media)
    pairs = D.hamming_pairs(sig, "phash", "media_id", max_hamming=8).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(1, 2, 0)]
    again = {
        r["media_id"]: r["phash"]
        for r in M.perceptual_hash(media.repartition(5)).collect()
    }
    first = {r["media_id"]: r["phash"] for r in sig.collect()}
    assert again == first


def test_ngram_perplexity_n1_equals_unigram(spark):
    """n=1 reduces exactly to the unigram form: empty context count =
    corpus token count, so every score matches to the rounded digit."""
    from datapipelinerepo_spark.operators.text import (
        ngram_perplexity,
        unigram_perplexity,
    )

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b a"), (3, "c a b a d")],
        ["doc_id", "text"],
    )
    uni = {r["doc_id"]: r["ppl"] for r in unigram_perplexity(docs).collect()}
    n1 = {r["doc_id"]: r["ppl"] for r in ngram_perplexity(docs, n=1).collect()}
    assert uni == n1


def test_bigram_perplexity_flags_scrambled_word_order(spark):
    """A bigram LM separates what a unigram can't: a doc whose TOKENS
    are corpus-frequent but whose TRANSITIONS never occur elsewhere
    scores higher bigram-ppl than the docs following the common order.
    Partitioning-invariant (decimal sums)."""
    from datapipelinerepo_spark.operators.text import ngram_perplexity

    common = [(i, "the cat sat on the mat") for i in range(10)]
    common.append((99, "mat the on sat cat the"))  # same tokens, scrambled
    docs = spark.createDataFrame(common, ["doc_id", "text"])
    ppl = {r["doc_id"]: r["ppl"] for r in ngram_perplexity(docs, n=2).collect()}
    assert ppl[99] == max(ppl.values())
    assert ppl[0] == ppl[5] < ppl[99]
    rep = {
        r["doc_id"]: r["ppl"]
        for r in ngram_perplexity(docs.repartition(7), n=2).collect()
    }
    assert rep == ppl


def test_temperature_mix_endpoints_and_tail_upweight(spark):
    """alpha=1 keeps every row (natural mix, rates all equal 1);
    alpha=0 equals the flatten-to-min rule of rebalance_mix; an
    intermediate alpha keeps the SMALLEST group whole while
    downsampling the largest — and the decision is deterministic
    (subset property: every kept row exists in the input)."""
    from datapipelinerepo_spark.operators import sampling as SMP

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])

    all_kept = SMP.temperature_mix(df, alpha=1.0)
    assert all_kept.count() == 440  # natural mix: no downsampling

    flat = {r["doc_id"] for r in SMP.temperature_mix(df, alpha=0.0).collect()}
    reb = {r["doc_id"] for r in SMP.rebalance_mix(df).collect()}
    assert flat == reb  # alpha=0 ≡ flatten-to-min (same thresholds)

    mid = SMP.temperature_mix(df, alpha=0.3)
    by_g = {
        r["lang"]: r["n"]
        for r in mid.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_g["small"] == 40  # smallest group caps at rate 1
    assert by_g["big"] < 400    # largest group downsampled
    # big's target rate is (400/40)^(alpha-1) ≈ 0.2 -> expect ~80 rows
    assert 40 <= by_g["big"] <= 140


def test_containment_catches_doc_within_doc(spark):
    """A short doc fully quoted inside a long one: containment = 1.0
    while Jaccard stays below a 0.5 threshold — the case symmetric
    near-dup thresholds miss."""
    short = "the quoted passage about spark shuffles"
    long = (
        "a much longer document with many additional words surrounding "
        + short
        + " plus even more trailing commentary extending the union size greatly"
    )
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "entirely unrelated text")],
        ["doc_id", "text"],
    )
    cont = {(r["id_a"], r["id_b"]): r["containment"]
            for r in D.containment_pairs(docs, threshold=0.8).collect()}
    assert cont == {(1, 2): 1.0}
    jac = D.jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []  # Jaccard misses the quote relationship


def test_sample_exact_per_group_sizes_and_determinism(spark):
    """Exact per-group sizes (small groups kept whole), and the KEPT SET
    is identical under repartitioning — eval-carving reproducibility."""
    from datapipelinerepo_spark.operators import sampling as SMP

    rows = [(i, "big") for i in range(100)] + [(500 + i, "tiny") for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = SMP.sample_exact_per_group(df, 10)
    sizes = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sizes == {"big": 10, "tiny": 3}
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in SMP.sample_exact_per_group(df.repartition(7), 10).collect()}
    assert a == b


def test_pq_train_small_sample_fallback_and_error(spark):
    """Round-4 ADVICE fix: an id-mod sample with fewer than n_codes
    rows retrains on the full corpus instead of crashing inside
    np.stack; a corpus that is itself too small raises a clear
    ValueError."""
    import pytest

    rows = [(i, [float((i * 7 + j) % 13) for j in range(64)]) for i in range(1, 36)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # ids 10,20,30 → 3 sample rows < n_codes=32 → sample_mod=1 fallback
    books = SIM.pq_train(emb, dim=64, iters=1)
    assert len(books) == 8 and len(books[0]) == 32 and len(books[0][0]) == 8
    tiny = spark.createDataFrame(rows[:10], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="n_codes"):
        SIM.pq_train(tiny, dim=64, iters=1, sample_mod=1)


def test_split_assign_partition_and_determinism(spark):
    """Every row gets exactly one split; assignment survives
    repartitioning AND corpus growth (old rows never move — the
    hash-split stability property randomSplit lacks); a different salt
    re-deals."""
    from datapipelinerepo_spark.operators import sampling as SMP

    df = spark.range(0, 400).withColumnRenamed("id", "doc_id")
    out = SMP.split_assign(df)
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    assert set(got.values()) <= {"train", "valid", "test"}
    assert len(got) == 400
    # ~80/10/10 in expectation; loose bounds for n=400
    n_train = sum(1 for v in got.values() if v == "train")
    assert 260 <= n_train <= 380
    again = {
        r["doc_id"]: r["split"]
        for r in SMP.split_assign(df.repartition(7)).collect()
    }
    assert got == again
    grown = spark.range(0, 800).withColumnRenamed("id", "doc_id")
    grown_map = {r["doc_id"]: r["split"] for r in SMP.split_assign(grown).collect()}
    assert all(grown_map[k] == v for k, v in got.items())
    salted = {
        r["doc_id"]: r["split"]
        for r in SMP.split_assign(df, salt="fold1").collect()
    }
    assert salted != got


def test_global_shuffle_positions_permutation(spark):
    """Positions are exactly 0..n-1 (the bucketed rank + offset
    composition is a bijection), stable under repartitioning, and NOT
    the identity order (it actually shuffles)."""
    from datapipelinerepo_spark.operators import sampling as SMP

    df = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    out = SMP.global_shuffle_positions(df).collect()
    poss = sorted(r["pos"] for r in out)
    assert poss == list(range(300))
    order = [r["doc_id"] for r in sorted(out, key=lambda r: r["pos"])]
    assert order != list(range(300))
    again = {
        (r["doc_id"], r["pos"])
        for r in SMP.global_shuffle_positions(df.repartition(5)).collect()
    }
    assert again == {(r["doc_id"], r["pos"]) for r in out}


# ---------------------------------------------------------------------------
# Round 4: exact-substring dedup + DSIR importance
# ---------------------------------------------------------------------------


def test_duplicated_span_stats_planted(spark):
    """A doc stitched from another doc's text flags; a unique doc
    scores zero; an exact duplicate pair scores dup_share 1.0."""
    from datapipelinerepo_spark.operators.text import duplicated_span_stats

    span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    uniq = "one two three four five six seven eight nine ten"
    dup = "red orange yellow green blue indigo violet pink black white"
    rows = [
        (1, span + " iota kappa " + span),
        (2, "intro words here now " + span + " trailing tail words"),
        (3, uniq),
        (4, dup),
        (5, dup),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in duplicated_span_stats(df, n=8).collect()}
    # docs 1 and 2 share the 8-token span -> both have dup positions
    assert out[1]["n_dup_positions"] > 0 and out[2]["n_dup_positions"] > 0
    # doc 3 shares no 8-gram with any other doc
    assert out[3]["n_dup_positions"] == 0 and not out[3]["flag_cut"]
    # exact duplicates: every position duplicated
    assert out[4]["dup_share"] == 1.0 and out[4]["flag_cut"]
    assert out[5]["dup_share"] == 1.0


def test_duplicated_span_stats_partitioning_invariant(spark):
    """Same answer at 1 partition and 7 partitions (counting + ratio
    only — no float-sum ordering)."""
    from datapipelinerepo_spark.operators.text import duplicated_span_stats

    rows = [(i, f"tok{i % 3} common words across docs here again {i % 2}") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(map(tuple, duplicated_span_stats(df.coalesce(1), n=4).collect()))
    b = sorted(map(tuple, duplicated_span_stats(df.repartition(7), n=4).collect()))
    assert a == b


def test_dsir_importance_separates_target(spark):
    """Docs written in the target vocabulary score positive; background
    vocabulary scores negative; keep mirrors the sign."""
    from datapipelinerepo_spark.operators.text import dsir_importance

    rows = (
        [(i, "tea crumpets lovely weather indeed", "en") for i in range(10)]
        + [(100 + i, "schnell zug bahnhof wetter gut", "de") for i in range(10)]
        + [(200, "tea crumpets weather", "zz"), (201, "zug bahnhof gut", "zz")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r["doc_id"]: r for r in dsir_importance(df, F.col("lang") == "en").collect()}
    assert out[200]["log_ratio"] > 0 and out[200]["keep"]
    assert out[201]["log_ratio"] < 0 and not out[201]["keep"]
    # target rows themselves look target-like
    assert out[0]["log_ratio"] > 0


def test_longest_dup_span_planted(spark):
    """Two docs sharing a 12-token run: the island of 5 consecutive
    duplicated 8-gram positions reports a 12-token span; a doc with
    two disjoint shared spans reports both islands."""
    from datapipelinerepo_spark.operators.text import longest_dup_span

    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11 s12"  # 12 tokens
    other = "o1 o2 o3 o4 o5 o6 o7 o8 o9 o10"
    rows = [
        (1, shared + " filler words here " + other),
        (2, "prefix tokens go here then " + shared),
        (3, "more prefix stuff and then " + other + " trailing"),
        (4, "nothing in common with anyone at all here friend"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in longest_dup_span(df, n=8, trim_at=12).collect()}
    # 12 shared tokens -> 5 consecutive 8-gram positions -> span 12
    assert out[1]["longest_span_tokens"] == 12 and out[1]["trim"]
    assert out[2]["longest_span_tokens"] == 12
    # doc 1 also shares the 10-token `other` run with doc 3 -> 2 islands
    assert out[1]["n_spans"] == 2
    assert out[3]["longest_span_tokens"] == 10 and not out[3]["trim"]
    assert 4 not in out  # no duplicated positions at all


def test_edit_distance_pairs_planted_and_complete(spark, docs):
    """A planted 2-edit variant of a real doc is found by the filtered
    join, and the filtered result equals brute force exactly on a
    50-doc slice (candidate completeness)."""
    from datapipelinerepo_spark.operators.dedup import edit_distance_pairs

    base = docs.filter(F.col("doc_id") < 50).select("doc_id", "text")
    donor = base.filter(F.col("doc_id") == 0).collect()[0]["text"]
    mutated = "xy" + donor[2:]  # 2 substitutions at the head
    planted = spark.createDataFrame([(900001, mutated)], ["doc_id", "text"])
    corpus = base.union(planted)
    got = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in edit_distance_pairs(corpus, k=3, q=4).collect()
    }
    assert (0, 900001, 2) in got
    # brute-force equality
    heads = corpus.select("doc_id", F.substring("text", 1, 120).alias("h"))
    a = heads.select(F.col("doc_id").alias("id_a"), F.col("h").alias("ha"))
    b = heads.select(F.col("doc_id").alias("id_b"), F.col("h").alias("hb"))
    bf = {
        (r["id_a"], r["id_b"], r["d"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.levenshtein("ha", "hb").alias("d"))
        .filter("d <= 3")
        .collect()
    }
    assert got == bf


def test_edit_distance_pairs_short_heads_complete(spark, docs):
    """Heads with ≤ k·q distinct q-grams get no prefix-filter overlap
    guarantee (k edits can destroy ALL their grams: 'ab' vs 'ac' share
    no 4-gram at distance 1, ADVICE r4); the shared length-banded
    bucket must still surface them. Brute-force equality over a mixed
    short/long corpus, including short-vs-short pairs that straddle a
    length band boundary."""
    from datapipelinerepo_spark.operators.dedup import edit_distance_pairs

    shorts = [
        (1000001, "ab"),
        (1000002, "ac"),          # dist 1 from 'ab', zero shared grams
        (1000003, "abcd"),        # band boundary neighbors
        (1000004, "abcdefg"),     # dist 3 from 'abcd' (3 inserts)
        (1000005, "zzzz" * 25),   # 100 chars but ONE distinct gram
        (1000006, "zzzz" * 25 + "q"),  # dist 1 from it
        (1000007, "totally unrelated short"),
    ]
    base = docs.filter(F.col("doc_id") < 20).select("doc_id", "text")
    corpus = base.union(spark.createDataFrame(shorts, ["doc_id", "text"]))
    got = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in edit_distance_pairs(corpus, k=3, q=4).collect()
    }
    assert (1000001, 1000002, 1) in got
    assert (1000003, 1000004, 3) in got
    assert (1000005, 1000006, 1) in got
    heads = corpus.select("doc_id", F.substring("text", 1, 120).alias("h"))
    a = heads.select(F.col("doc_id").alias("id_a"), F.col("h").alias("ha"))
    b = heads.select(F.col("doc_id").alias("id_b"), F.col("h").alias("hb"))
    bf = {
        (r["id_a"], r["id_b"], r["d"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.levenshtein("ha", "hb").alias("d"))
        .filter("d <= 3")
        .collect()
    }
    assert got == bf


def test_kcenter_coreset_matches_numpy_greedy(spark, emb):
    """Farthest-first traversal == a NumPy reference on a 200-vector
    slice: same picks, same order, same cover-radius sequence."""
    import numpy as np

    from datapipelinerepo_spark.operators.similarity import kcenter_coreset

    small = emb.filter(F.col("vec_id") < 200)
    rows = sorted(
        ((r["vec_id"], np.asarray(r["embedding"], dtype=np.float64)) for r in small.collect()),
        key=lambda t: t[0],
    )
    ids = [t[0] for t in rows]
    E = np.stack([t[1] for t in rows])
    # reference greedy: seed lowest id, then argmax of min squared dist
    picks = [(0, ids[0], 0.0)]
    mind = ((E - E[0]) ** 2).sum(axis=1)
    for i in range(1, 6):
        j = int(np.lexsort((ids, -mind))[0])
        picks.append((i, ids[j], float(mind[j])))
        mind = np.minimum(mind, ((E - E[j]) ** 2).sum(axis=1))
    got = [
        (r["sel_round"], r["vec_id"], r["d2_r6"])
        for r in kcenter_coreset(small, k=6).orderBy("sel_round").collect()
    ]
    assert [(g[0], g[1]) for g in got] == [(p[0], p[1]) for p in picks]
    for g, p in zip(got, picks):
        assert abs(g[2] - p[2]) < 1e-5


def test_bm25_prefers_matching_docs(spark):
    """A doc stuffed with the query terms outranks one with a single
    hit; a doc with zero hits is absent; dl normalization demotes the
    padded copy of an identical hit profile."""
    from datapipelinerepo_spark.operators.text import bm25_topk

    rows = [
        (1, "alpha beta alpha beta alpha"),        # heavy match, short
        (2, "alpha filler filler filler filler"),  # one hit
        (3, "nothing relevant here at all"),       # no hits
        (4, "alpha beta alpha beta alpha " + "pad " * 40),  # same hits, padded
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["bm25_r6"] for r in bm25_topk(df, ("alpha", "beta"), k=10).collect()}
    assert 3 not in out
    assert out[1] > out[2]
    assert out[1] > out[4]  # length normalization


def test_ngram_novelty_planted(spark):
    """A doc sharing every 3-gram with another scores 0; a fully unique
    doc scores 1; short docs are absent."""
    from datapipelinerepo_spark.operators.text import ngram_novelty

    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e f"),            # exact copy -> all grams shared
        (3, "totally different words here now"),
        (4, "x y"),                    # < n tokens -> absent
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["novelty"] for r in ngram_novelty(df, n=3).collect()}
    assert out[1] == 0.0 and out[2] == 0.0
    assert out[3] == 1.0
    assert 4 not in out


def test_zipf_fit_on_synthetic_power_law(spark):
    """A corpus built with freq(rank) = round(1000 · rank^-1) recovers
    slope ≈ −1."""
    from datapipelinerepo_spark.operators.text import zipf_fit

    words = []
    for rank in range(1, 51):
        words += [f"w{rank:03d}"] * max(1, round(1000 / rank))
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    row = zipf_fit(df, top_k=50).collect()[0]
    assert row["n_types"] == 50
    assert -1.1 < row["slope_r4"] < -0.9


def test_token_entropy_extremes(spark):
    """One repeated token -> H = 0; k equally frequent tokens ->
    H = ln(k); mixed case matches the closed form."""
    import math

    from datapipelinerepo_spark.operators.text import token_entropy

    rows = [
        (1, "x x x x x x"),
        (2, "a b c d"),
        (3, "a a a b"),  # H = ln(4) - (3 ln 3)/4
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in token_entropy(df).collect()}
    assert out[1]["entropy_r4"] == 0.0 and out[1]["n_types"] == 1
    assert abs(out[2]["entropy_r4"] - round(math.log(4), 4)) < 1e-3
    expected = math.log(4) - (3 * math.log(3)) / 4
    assert abs(out[3]["entropy_r4"] - expected) < 1e-3


def test_gopher_rules_planted(spark):
    """Each rule trips on a purpose-built doc; a normal-prose doc
    passes all of them."""
    from datapipelinerepo_spark.operators.text import gopher_rules

    good = (
        "the quick brown fox jumps over a lazy dog and runs far into "
        "the woods for hours looking for food and water in the dark "
        "night while owls watch from tall trees nearby with great "
        "interest in the strange visitor below them tonight somehow "
        "and then the moon rises over quiet hills while soft winds "
        "move through the valley carrying voices of distant rivers"
    )
    rows = [
        (1, good),
        (2, "too short to pass"),                      # word count
        (3, " ".join(["a"] * 60)),                     # mean word len < 3
        (4, " ".join(["###word#"] * 60)),              # symbol ratio
        (5, " ".join(["123"] * 60)),                   # alpha share
        (6, " ".join(["zebra"] * 60)),                 # no stopwords
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert out[1]["keep"]
    assert not out[2]["ok_word_count"] and not out[2]["keep"]
    assert not out[3]["ok_mean_word_len"]
    assert not out[4]["ok_symbol_ratio"]
    assert not out[5]["ok_alpha_share"]
    assert not out[6]["ok_stopwords"]


def test_margin_mining_planted_pair(spark, emb):
    """A planted exact duplicate mines with the maximum margin in its
    neighborhood (best_sim 1.0, margin > 1), while a vector whose whole
    neighborhood is equally similar scores margin ≈ 1 and is not
    mined at a tight threshold."""
    from datapipelinerepo_spark.operators.similarity import margin_mining

    planted = emb.filter(F.col("vec_id") == 0).withColumn(
        "vec_id", F.lit(900000).cast("long")
    )
    corpus = emb.union(planted)
    q = emb.filter(F.col("vec_id") < 3)
    out = {r["q_id"]: r for r in margin_mining(q, corpus, k=8).collect()}
    assert out[0]["c_id"] == 900000 and out[0]["best_sim"] == 1.0
    assert out[0]["margin_r4"] > 1.0 and out[0]["mined"]
    for r in out.values():
        assert r["margin_r4"] >= 1.0  # best >= mean(top-k) by construction


def test_sorted_neighborhood_finds_adjacent_near_dups(spark, docs):
    """A 1-edit variant of a real head sorts adjacent to its donor and
    is caught by the window; every reported pair is verified within
    distance k on both sides (no false positives by construction)."""
    from datapipelinerepo_spark.operators.dedup import sorted_neighborhood_pairs

    base = docs.filter(F.col("doc_id") < 100).select("doc_id", "text")
    donor = base.filter(F.col("doc_id") == 7).collect()[0]["text"]
    mutated = donor[:50] + "x" + donor[51:]  # 1 substitution mid-head
    planted = spark.createDataFrame([(900007, mutated)], ["doc_id", "text"])
    out = sorted_neighborhood_pairs(base.union(planted), k=3, window=4)
    got = {(r["id_a"], r["id_b"]): r["edit_dist"] for r in out.collect()}
    assert got.get((7, 900007)) == 1
    # verify-side soundness: recompute each reported distance exactly
    heads = {r["doc_id"]: r["text"][:120] for r in base.union(planted).collect()}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    for (ia, ib), d in got.items():
        assert lev(heads[ia], heads[ib]) == d <= 3


def test_zipf_fit_degenerate_corpora_degrade(spark):
    """0 or 1 distinct types has no defined fit: NULL slope/intercept,
    not a DIVIDE_BY_ZERO (ANSI mode) crash."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from datapipelinerepo_spark.operators.text import zipf_fit

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    one_type = spark.createDataFrame([(1, "x x x x")], schema)
    row = zipf_fit(one_type).collect()[0]
    assert row["n_types"] == 1 and row["slope_r4"] is None
    empty = spark.createDataFrame([(1, None), (2, "")], schema)
    row = zipf_fit(empty).collect()[0]
    assert row["n_types"] == 0 and row["slope_r4"] is None


def test_global_order_positions_null_keys_sort_first(spark):
    """NULL lead keys take the FIRST positions (Spark's ASC NULLS FIRST
    total order), independent of where the sampled boundaries land."""
    from datapipelinerepo_spark.operators.sampling import global_order_positions

    rows = [(i, float(i)) for i in range(100)] + [(900, None), (901, None)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = {r["id"]: r["pos"] for r in global_order_positions(df, ("v", "id"), n_buckets=4).collect()}
    assert out[900] == 0 and out[901] == 1
    assert out[0] == 2 and out[99] == 101


def test_kcenter_coreset_edge_cases(spark, emb):
    """Empty corpus -> empty result; k greater than n -> n DISTINCT
    picks, no silent duplicates."""
    from datapipelinerepo_spark.operators.similarity import kcenter_coreset

    empty = emb.filter(F.col("vec_id") < 0)
    assert kcenter_coreset(empty, k=4).count() == 0
    tiny = emb.filter(F.col("vec_id") < 3)
    got = kcenter_coreset(tiny, k=8).collect()
    ids = [r["vec_id"] for r in got]
    assert len(ids) == 3 and len(set(ids)) == 3


def test_cdc_apply_nested_map_payload_still_works(spark):
    """A payload column with a map nested inside an array must be
    excluded from the determinism tie-break, not crash analysis."""
    from datapipelinerepo_spark.operators.relational import cdc_apply

    base = spark.createDataFrame(
        [(1, [{"a": "b"}])], "k int, tags array<map<string,string>>"
    )
    changes = spark.createDataFrame(
        [(1, 1, "U", [{"c": "d"}])],
        "k int, seq int, op string, tags array<map<string,string>>",
    )
    out = cdc_apply(base, changes, key="k", seq_col="seq").collect()
    assert len(out) == 1 and out[0]["tags"] == [{"c": "d"}]


def test_bpe_learn_matches_python_reference(spark, docs):
    """The relational BPE trainer learns the SAME merge sequence (rules,
    order, counts) as a pure-Python reference implementation of
    Sennrich-style BPE on a 150-doc slice, greedy left-to-right
    rewrite semantics included (an 'aaa' run under merge (a,a) becomes
    ('aa','a'))."""
    from collections import Counter

    from datapipelinerepo_spark.operators.text import bpe_learn

    sl = docs.filter(F.col("doc_id") < 150).select("doc_id", "text")
    texts = [r["text"] for r in sl.collect()]
    words = Counter()
    import re

    for t in texts:
        for w in re.sub(r"\s+", " ", t.lower()).split(" "):
            if w:
                words[w] += 1
    vocab = {tuple(w): n for w, n in words.items()}

    def ref_merges(k):
        v = dict(vocab)
        out = []
        for rank in range(1, k + 1):
            pc = Counter()
            for toks, n in v.items():
                for i in range(len(toks) - 1):
                    pc[(toks[i], toks[i + 1])] += n
            if not pc:
                break
            (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((rank, a, b, a + b, c))
            nv = {}
            for toks, n in v.items():
                acc = []
                for x in toks:
                    if acc and acc[-1] == a and x == b:
                        acc[-1] = a + b
                    else:
                        acc.append(x)
                nv[tuple(acc)] = nv.get(tuple(acc), 0) + n
            v = nv
        return out

    # driver_vocab_cap=0 forces the DISTRIBUTED trainer (r14: the
    # default batch=1 path replays through py_bpe_learn when the
    # vocab fits the bounded driver collect — pinned separately below)
    got = [
        tuple(r)
        for r in bpe_learn(sl, n_merges=5, driver_vocab_cap=0)
        .orderBy("rank")
        .collect()
    ]
    assert got == ref_merges(5)
    # and the r14 driver fast path + the over-cap fallback both learn
    # the identical sequence: default cap (fits -> py_bpe_learn
    # replay) and cap=1 (vocab overflows the bounded probe -> falls
    # back to the distributed rounds)
    for cap in (65_536, 1):
        assert [
            tuple(r)
            for r in bpe_learn(sl, n_merges=5, driver_vocab_cap=cap)
            .orderBy("rank")
            .collect()
        ] == got, cap


def test_sorted_neighborhood_second_pass_catches_prefix_divergence(spark, docs):
    """A pair differing ONLY in its first characters scatters under the
    forward sort key but sorts adjacent under the reversed-head key —
    found with passes=2, demonstrably missable with passes=1."""
    from datapipelinerepo_spark.operators.dedup import sorted_neighborhood_pairs

    base = docs.filter(F.col("doc_id") < 100).select("doc_id", "text")
    donor = base.filter(F.col("doc_id") == 11).collect()[0]["text"]
    mutated = "zzz" + donor[3:]  # 3 head edits -> forward keys diverge
    planted = spark.createDataFrame([(900011, mutated)], ["doc_id", "text"])
    corpus = base.union(planted)
    two = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(corpus, k=3, window=4, passes=2).collect()
    }
    assert (11, 900011) in two
    # and 2-pass output is a superset of 1-pass
    one = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(corpus, k=3, window=4, passes=1).collect()
    }
    assert one <= two


def test_minhash_arrow_matches_expression_form(spark, docs):
    """The Arrow-vectorized signature path produces BIT-IDENTICAL
    integers to the pure-expression reference on real documents —
    the integer-exactness pin for the hot-path rewrite."""
    from datapipelinerepo_spark.operators.dedup import (
        _minhash_signatures_expr,
        minhash_signatures,
        shingles,
    )

    sh = shingles(docs.filter(F.col("doc_id") < 300))
    fast = {r["_id"]: tuple(r)[1:] for r in minhash_signatures(sh).collect()}
    ref = {r["_id"]: tuple(r)[1:] for r in _minhash_signatures_expr(sh).collect()}
    assert fast == ref and len(fast) == 300


def test_semantic_decontaminate_flags_paraphrase_not_orthogonal(spark):
    """Planted semantics: a scaled copy of an eval vector (the
    'paraphrase' — same direction, different magnitude) is flagged at
    cosine 1.0 with the right nearest id; a jittered near-copy is
    flagged below 1.0; an orthogonal vector is not flagged; and a
    corpus vector near TWO eval items resolves argmax by similarity
    then eval-id."""
    ev = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (50, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    co = spark.createDataFrame(
        [
            (1, [5.0, 0.0, 0.0, 0.0]),      # scaled copy of ev 0
            (2, [0.9, 0.1, 0.0, 0.0]),      # near-copy of ev 0
            (3, [0.0, 0.0, 0.0, 2.0]),      # orthogonal to both
            (4, [1.0, 1.0, 0.0, 0.0]),      # equidistant → tie on sim
            (5, [0.0, 0.0, 0.0, 0.0]),      # zero-norm artifact: must be
                                            # dropped, not crash (ANSI
                                            # divide-by-zero, r6 review)
            (6, None),                      # null embedding: same
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["nearest_eval"], r["sim_r4"])
        for r in SIM.semantic_decontaminate(co, ev, threshold=0.25).collect()
    }
    assert got[1] == (0, 1.0)
    assert got[2][0] == 0 and 0.9 < got[2][1] < 1.0
    assert 3 not in got
    # exact tie between eval 0 and eval 50 → lower eval id wins
    assert got[4][0] == 0 and abs(got[4][1] - 0.7071) < 1e-9
    # degenerate embeddings silently excluded
    assert 5 not in got and 6 not in got


def test_semantic_decontaminate_string_ids(spark):
    """The id column is generic (ADVICE r6: the r6 matmul rewrite
    hard-coded int64 ids) — string-keyed corpora/eval suites flag with
    their original id values, and nearest_eval carries the eval set's
    id type. Empty eval set degenerates cleanly with the same type."""
    ev = spark.createDataFrame(
        [("mmlu-001", [1.0, 0.0]), ("gsm8k-17", [0.0, 1.0])],
        "vec_id string, embedding array<float>",
    )
    co = spark.createDataFrame(
        [
            ("doc-a", [2.0, 0.0]),   # copy of mmlu-001
            ("doc-b", [0.1, 0.9]),   # near gsm8k-17
            ("doc-c", [1.0, -1.0]),  # 45° off both; below 0.9 threshold
        ],
        "vec_id string, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["nearest_eval"], r["sim_r4"])
        for r in SIM.semantic_decontaminate(co, ev, threshold=0.9).collect()
    }
    assert got == {
        "doc-a": ("mmlu-001", 1.0),
        "doc-b": ("gsm8k-17", round(0.9 / (0.1**2 + 0.9**2) ** 0.5, 4)),
    }
    empty = SIM.semantic_decontaminate(co, ev.limit(0), threshold=0.9)
    assert dict(empty.dtypes)["nearest_eval"] == "string"
    assert empty.count() == 0


def test_global_desc_rank_cumsum_matches_global_window(spark):
    """The bucketed rank+cumsum equals a plain global-window
    computation, including a Zipf-shaped fat tie class on the desc
    column (half the rows share desc=1, so composite boundaries must
    split the tie class on the tie column to stay correct)."""
    import random

    from pyspark.sql import Window

    from datapipelinerepo_spark.operators import sampling as SMP2

    rng = random.Random(7)
    rows = [(i, 1 if i % 2 else rng.randint(1, 50), rng.randint(1, 9)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, c long, v long")
    got = {
        r["id"]: (r["_rn"], r["_cum"])
        for r in SMP2.global_desc_rank_cumsum(df, "c", "id", "v", n_buckets=8).collect()
    }
    w = Window.orderBy(F.col("c").desc(), F.col("id").asc())
    ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    exp = {
        r["id"]: (r["rn"], r["cum"])
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.sum("v").over(ws).alias("cum"),
        ).collect()
    }
    assert got == exp


def test_bpe_encode_matches_python_reference_and_roundtrips(spark):
    """Encode with a merge list equals a pure-Python greedy fold per
    word; and encoding with rules LEARNED from the same corpus
    (train→encode round-trip) shrinks the
    token count for every document containing a learned pair."""
    from datapipelinerepo_spark.operators import text as T2

    rows = [(1, "the then and hand"), (2, "thin thread near"), (3, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = [("t", "h"), ("th", "e"), ("a", "n"), ("an", "d")]

    def py_fold(tokens, left, right):
        out = []
        for x in tokens:
            if out and out[-1] == left and x == right:
                out[-1] = left + right
            else:
                out.append(x)
        return out

    def py_encode(text):
        n_words = n_chars = n_bpe = 0
        for w in text.lower().split():
            t = list(w)
            for left, right in merges:
                t = py_fold(t, left, right)
            n_words += 1
            n_chars += len(w)
            n_bpe += len(t)
        return n_words, n_chars, n_bpe

    got = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_bpe_tokens"])
        for r in T2.bpe_encode(df, merges).collect()
    }
    for doc_id, text in rows:
        assert got[doc_id] == py_encode(text), doc_id

    # round-trip: rules learned on this corpus compress it
    learned = [
        (r["left"], r["right"])
        for r in T2.bpe_learn(df, n_merges=4).orderBy("rank").collect()
    ]
    enc = {
        r["doc_id"]: (r["n_chars"], r["n_bpe_tokens"])
        for r in T2.bpe_encode(df, learned).collect()
    }
    assert enc[1][1] < enc[1][0] and enc[2][1] < enc[2][0]


def test_bpe_encode_adversarial_inputs(spark):
    """Encode must survive the dirty-input classes: empty text,
    whitespace-only, single-char words (no pairs to merge), unicode
    text outside the merge alphabet, and a word equal to a merged
    token. Documents with no words simply produce no row (there is
    nothing to count), never a crash."""
    from datapipelinerepo_spark.operators import text as T2

    df = spark.createDataFrame(
        [
            (1, ""),                      # empty
            (2, "   "),                   # whitespace only
            (3, "a b c"),                 # single-char words
            (4, "héllo wörld"),           # unicode, partial alphabet hit
            (5, "th the"),                # words equal to merge outputs
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_bpe_tokens"])
        for r in T2.bpe_encode(df, [("t", "h"), ("th", "e")]).collect()
    }
    assert 1 not in got and 2 not in got
    assert got[3] == (3, 3, 3)            # nothing merges
    assert got[4][0] == 2 and got[4][2] <= got[4][1]
    # "th" -> one token via (t,h); "the" -> t,h,e -> th,e -> the (1 token)
    assert got[5] == (2, 5, 2)


def _word_counts(texts):
    """The ws_tokens tokenization (lowercase, whitespace split), as a
    word-count dict — the py_bpe_learn input."""
    import re
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in re.sub(r"\s+", " ", (t or "").lower()).split(" "):
            if w:
                words[w] += 1
    return dict(words)


def _py_bpe_tokens(rows, rules):
    """The definitional sequential per-rule fold, pure Python:
    {doc_id: token list} over the ws_tokens words (documents with no
    words produce no entry, as in bpe_encode_tokens)."""
    import re

    from datapipelinerepo_spark.operators.text import _bpe_merge_pass_py

    out = {}
    for doc_id, text in rows:
        toks = []
        for w in re.sub(r"\s+", " ", (text or "").lower()).split(" "):
            if not w:
                continue
            t = list(w)
            for left, right in rules:
                if len(t) < 2:
                    break
                t = _bpe_merge_pass_py(t, left, right)
            toks.append((w, t))
        if toks:
            out[doc_id] = toks
    return out


def _py_bpe_counts(rows, rules):
    """{doc_id: (n_words, n_chars, n_bpe_tokens)} of _py_bpe_tokens."""
    return {
        d: (
            len(ws),
            sum(len(w) for w, _ in ws),
            sum(len(t) for _, t in ws),
        )
        for d, ws in _py_bpe_tokens(rows, rules).items()
    }


def test_py_bpe_learn_matches_spark_trainer(spark, docs):
    """The incremental driver-side trainer (py_bpe_learn — the
    production-size rule-list generator) learns the IDENTICAL sequence
    (rules, order, counts) as the distributed bpe_learn on the same
    corpus slice."""
    from datapipelinerepo_spark.operators.text import bpe_learn, py_bpe_learn

    sl = docs.filter(F.col("doc_id") < 150).select("doc_id", "text")
    wc = _word_counts([r["text"] for r in sl.collect()])
    # driver_vocab_cap=0: pin the DISTRIBUTED rounds against the
    # driver trainer (the default path already IS py_bpe_learn when
    # the vocab fits — r14)
    got = [
        tuple(r)
        for r in bpe_learn(sl, n_merges=8, driver_vocab_cap=0)
        .orderBy("rank")
        .collect()
    ]
    assert got == py_bpe_learn(wc, 8)


def test_bpe_encode_arrow_equals_fold_on_learned_rules(spark, docs):
    """VERDICT r6 item 1 parity chain, Spark-side link: bpe_encode's
    Arrow path (priority merging — the 30k-rule-tractable path)
    produces the same per-document counts as the sequential per-rule
    fold on a 48-rule LEARNED list over real corpus text."""
    from datapipelinerepo_spark.operators import text as T2

    sl = docs.filter(F.col("doc_id") < 200).select("doc_id", "text")
    rows = [(r["doc_id"], r["text"]) for r in sl.collect()]
    wc = _word_counts([t for _, t in rows])
    rules = [(l, r) for _, l, r, _, _ in T2.py_bpe_learn(wc, 48)]
    assert len(rules) == 48 and T2.bpe_rules_sequential_safe(rules)
    arrow = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_bpe_tokens"])
        for r in T2.bpe_encode(sl, rules).collect()
    }
    assert arrow == _py_bpe_counts(rows, rules)


@pytest.mark.slow
def test_bpe_encode_arrow_equals_fold_on_1k_rules(spark):
    """VERDICT r6 item 1 parity chain, production-size link: the Arrow
    path equals the definitional pure-Python sequential fold on a
    1024-rule LEARNED list. The driver testdata's documents table has
    a 31-word vocabulary (only ~89 learnable merges), so the list is
    learned from a SEEDED synthetic corpus rich enough to support 1k
    merges."""
    import random

    from datapipelinerepo_spark.operators import text as T2

    rng = random.Random(42)
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    vocab = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(3, 12)))
        for _ in range(4000)
    ]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(40))) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    wc = _word_counts([t for _, t in rows])
    learned = T2.py_bpe_learn(wc, 1024)
    rules = [(l, r) for _, l, r, _, _ in learned]
    assert len(rules) == 1024 and T2.bpe_rules_sequential_safe(rules)

    arrow = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_bpe_tokens"])
        for r in T2.bpe_encode(df, rules).collect()
    }
    assert arrow == _py_bpe_counts(rows, rules)


def _py_bpe_learn_batched(word_counts, n_merges, batch, m_factor=4):
    """Pure-Python replay of bpe_learn's batched schedule (top-4·batch
    candidates, preceding-tokens+merged disjointness, first `batch`
    eligible, simultaneous commuting rewrite)."""
    from collections import Counter

    from datapipelinerepo_spark.operators.text import _bpe_merge_pass_py

    v = {tuple(w): n for w, n in word_counts.items()}
    out = []
    while len(out) < n_merges:
        pc = Counter()
        for toks, n in v.items():
            for i in range(len(toks) - 1):
                pc[(toks[i], toks[i + 1])] += n
        if not pc:
            break
        cand = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[
            : m_factor * batch
        ]
        sel, prev = [], set()
        for (a, b), c in cand:
            if a not in prev and b not in prev:
                sel.append((a, b, c))
                if len(sel) == min(batch, n_merges - len(out)):
                    break
            prev.update((a, b, a + b))
        for a, b, c in sel:
            out.append((len(out) + 1, a, b, a + b, c))
        nv = {}
        for toks, n in v.items():
            t2 = list(toks)
            for a, b, _ in sel:
                t2 = _bpe_merge_pass_py(t2, a, b)
            nv[tuple(t2)] = nv.get(tuple(t2), 0) + n
        v = nv
    return out


@pytest.mark.parametrize("batch", [1, 2, 4, 8])
def test_bpe_learn_batched_matches_python_replay(spark, docs, batch):
    """The batched trainer's full output (rules, global order, counts)
    equals a pure-Python replay of the batched schedule at several
    batch widths on a real corpus slice — and batch=1 equals the
    classic sequential trainer exactly (same replay, width 1)."""
    from datapipelinerepo_spark.operators.text import bpe_learn

    sl = docs.filter(F.col("doc_id") < 150).select("doc_id", "text")
    wc = _word_counts([r["text"] for r in sl.collect()])
    got = [
        tuple(r)
        for r in bpe_learn(sl, n_merges=10, batch=batch)
        .orderBy("rank")
        .collect()
    ]
    assert got == _py_bpe_learn_batched(wc, 10, batch)


@pytest.mark.parametrize("batch", [2, 4])
def test_bpe_learn_batched_driver_replay_matches_distributed(
    spark, docs, batch
):
    """r14: batch>1 also replays on the driver when the vocabulary is
    bounded. Pin the DISTRIBUTED batched rounds (driver_vocab_cap=0)
    against the default path (which is py_bpe_learn_batched here —
    the 31-word corpus vocab fits any real cap), and the over-cap
    fallback (cap=1) against both."""
    from datapipelinerepo_spark.operators.text import bpe_learn

    sl = docs.filter(F.col("doc_id") < 150).select("doc_id", "text")

    def run(cap):
        return [
            tuple(r)
            for r in bpe_learn(
                sl, n_merges=10, batch=batch, driver_vocab_cap=cap
            )
            .orderBy("rank")
            .collect()
        ]

    distributed = run(0)
    driver = run(65_536)
    over_cap = run(1)  # vocab > 1 -> falls back to distributed rounds
    assert distributed == driver == over_cap


def test_bpe_encode_tokens_arrow_equals_fold(spark, docs):
    """bpe_encode_tokens' Arrow path (code-review r7: the sequence
    form needs the production-size path too) returns the token
    sequences of the sequential per-rule fold, in document order, on
    a learned list over real corpus text."""
    from datapipelinerepo_spark.operators import text as T2

    sl = docs.filter(F.col("doc_id") < 150).select("doc_id", "text")
    rows = [(r["doc_id"], r["text"]) for r in sl.collect()]
    wc = _word_counts([t for _, t in rows])
    rules = [(l, r) for _, l, r, _, _ in T2.py_bpe_learn(wc, 40)]
    arrow = {
        r["doc_id"]: list(r["tokens"])
        for r in T2.bpe_encode_tokens(sl, rules).collect()
    }
    fold = {
        d: [tok for _, t in ws for tok in t]
        for d, ws in _py_bpe_tokens(rows, rules).items()
    }
    assert arrow == fold and len(arrow) == 150


def test_bpe_encode_arrow_fallback_on_unsafe_rules(spark):
    """A rule list the equivalence gate rejects (here: a component that
    no earlier rule produces) routes the Arrow path onto the literal
    sequential passes. The rows are pinned by hand: priority merging
    would give 4 tokens per document instead."""
    from datapipelinerepo_spark.operators import text as T2

    # ("ab","c") before ("a","b"): ill-formed — "ab" exists as a token
    # only AFTER rule 2, so priority merging would tokenize "abc"
    # differently than the sequential fold
    rules = [("ab", "c"), ("a", "b")]
    assert not T2.bpe_rules_sequential_safe(rules)
    df = spark.createDataFrame(
        [(1, "abc abd ab"), (2, "cab abcabc")], "doc_id long, text string"
    )
    got = {tuple(r) for r in T2.bpe_encode(df, rules).collect()}
    assert got == {(1, 3, 8, 5, 1.6), (2, 2, 9, 6, 1.5)}


def test_global_desc_rank_cumsum_tiny_and_empty(spark):
    from datapipelinerepo_spark.operators import sampling as SMP2

    empty = spark.createDataFrame([], "id long, c long, v long")
    assert SMP2.global_desc_rank_cumsum(empty, "c", "id", "v").count() == 0
    one = spark.createDataFrame([(7, 3, 5)], "id long, c long, v long")
    row = SMP2.global_desc_rank_cumsum(one, "c", "id", "v").first()
    assert row["_rn"] == 1 and row["_cum"] == 5


def test_sketch_set_ops_bounds_hold(spark, sf_dir):
    """The HLL union/overlap invariants hold on real data, and the
    exact outputs equal a plain two-way distinct computation."""
    import datapipelinerepo_spark.registry_ext  # noqa: F401
    from datapipelinerepo_spark.registry import REGISTRY

    row = REGISTRY["scale_sketch_set_ops"].fn(spark, sf_dir).first()
    assert row["union_within_5pct"] and row["overlap_within_bound"]
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    exact_union = e.select("user_id").distinct().count()
    per = (
        e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .agg(F.sum("d"))
        .first()[0]
    )
    assert row["exact_union_users"] == exact_union
    assert row["exact_overlap_users"] == per - exact_union


def test_zero_norm_vectors_never_crash_cosine_ops(spark):
    """ANSI-mode hardening (r6): a zero-norm or NULL embedding anywhere
    in the corpus/query side must not kill brute-force top-k, LSH
    top-k, dup-pair mining, or centroid outliers — its similarity is
    NULL via try_divide and it simply never ranks or matches."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0, 0.0], 0),
        (3, [0.0, 0.0, 0.0, 0.0], 0),   # zero vector
        (4, None, 0),                    # null vector
        (5, [0.0, 1.0, 0.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    q = emb.filter(F.col("vec_id") == 1)
    bf = SIM.cosine_topk_bruteforce(q, emb, k=3, vec_col="embedding")
    got = {r["c_id"] for r in bf.collect()}
    assert 2 in got and 3 not in got and 4 not in got
    lsh = SIM.cosine_topk_lsh(q, emb, dim=4, k=3, n_bits=2)
    assert {r["c_id"] for r in lsh.collect()} <= {2, 5}
    dup = SIM.cosine_dup_pairs(emb, threshold=0.5)
    ids = {x for r in dup.collect() for x in (r["id_a"], r["id_b"])}
    assert 3 not in ids and 4 not in ids
    out = SIM.centroid_outliers(emb)
    # the zero vector yields a NULL cosine, not a crash
    assert out.filter(F.col("vec_id") == 3).count() == 1


def test_time_bounded_funnel_expiry_semantics(spark, monkeypatch, tmp_path):
    """The case that makes the window form non-greedy: user A's
    earliest qualifying click EXPIRES before their purchase, but a
    later qualifying click covers it — A must count at stage 3. User
    B's click is outside any view window (not qualifying); user C
    converts fully inside the windows; user D views only."""
    import datetime as dt
    import os

    import datapipelinerepo_spark.registry_ext  # noqa: F401 (registers)
    from datapipelinerepo_spark.registry import REGISTRY

    H = 3600
    rows = []

    def ev(uid, etype, hours):
        rows.append(
            (
                len(rows),
                dt.datetime(2026, 1, 1) + dt.timedelta(seconds=hours * H),
                uid,
                etype,
                1.0,
                "{}",
            )
        )

    ev(1, "view", 0); ev(1, "click", 1)          # A: qualifying click @1h
    ev(1, "view", 90); ev(1, "click", 95)        # A: later qualifying click
    ev(1, "purchase", 150)                       # 149h after click@1 (expired),
                                                 # 55h after click@95 (covered)
    ev(2, "view", 0); ev(2, "click", 100)        # B: click 100h after view: not qualifying
    ev(2, "purchase", 101)
    ev(3, "view", 0); ev(3, "click", 10); ev(3, "purchase", 20)  # C: clean chain
    ev(4, "view", 0)                             # D: view only
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    )
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    got = {
        r["stage"]: r["users"]
        for r in REGISTRY["events_funnel_conversion"].fn(spark, sf).collect()
    }
    assert got == {
        "view": 4,                 # A, B, C, D
        "click_within_72h": 2,     # A, C (B's click is out of window)
        "purchase_within_72h": 2,  # A (via the LATER click) and C
    }
