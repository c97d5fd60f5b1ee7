"""Similarity search over embedding columns (array<float>).

Two paths:
- brute-force cosine top-k: exact baseline. queries × corpus expressed
  as a broadcast-able join with JVM-side zip_with/aggregate dot
  products — correct at any scale where |queries| is modest (the corpus
  streams; nothing is collected);
- LSH-bucketed ANN (random hyperplanes → sign bits → bucket join):
  the 100 TB path — candidates only within matching buckets
  (multi-probe over all bit-flip neighbors at distance ≤1 keeps recall
  up), exact re-rank on candidates.

Embedding arithmetic is done in DOUBLE (elements cast once) so results
are engine- and partitioning-stable; scores are rounded to 4dp for
ranking with id tie-breaks (see registry docstring). Every cosine
division goes through try_divide: Spark 4's ANSI mode raises
DIVIDE_BY_ZERO even for doubles, so a single zero-norm (failed/empty)
embedding would otherwise kill a 100 TB job — with try_divide its
similarity is NULL, which every threshold filter and top-k ordering
already excludes (r6 hardening; pinned by
test_zero_norm_vectors_never_crash_cosine_ops).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..session import local_frame


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _as_double(F.col(vec_col))
    return df.withColumn("_vec", v).withColumn("_norm", F.sqrt(_dot(v, v)))


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Output: (q_id, c_id, rank, sim_r4)
    ordered deterministically by (round(sim,4) DESC, c_id ASC).

    Plan shape: broadcast(queries) ⋈ corpus (no shuffle of the corpus),
    then a per-query top-k window on the (small) scored set. At 1000
    executors the corpus partitions score independently; only k rows per
    query per partition survive to the final shuffle thanks to the
    rank-filter pushing through AQE.
    """
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("q_id"), F.col("_vec").alias("_qv"), F.col("_norm").alias("_qn")
    )
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("c_id"), F.col("_vec").alias("_cv"), F.col("_norm").alias("_cn")
    )
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("c_id"))
        .withColumn("sim", F.try_divide(_dot(F.col("_qv"), F.col("_cv")), F.col("_qn") * F.col("_cn")))
        .filter(F.col("sim").isNotNull())  # zero-norm/NULL vectors never rank
        .select("q_id", "c_id", F.round("sim", 4).alias("sim_r4"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim_r4").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", "sim_r4")
    )


def _hyperplanes(dim: int, n_bits: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim)).tolist()


def lsh_bucket_ids(df: DataFrame, dim: int, n_bits: int = 12, seed: int = 7,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane LSH: sign bit per hyperplane → integer bucket.
    The hyperplane matrix is a literal in the plan (seeded, tiny) — no
    driver round-trips, fully codegen'd."""
    planes = _hyperplanes(dim, n_bits, seed)
    v = _as_double(F.col(vec_col))
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        proj = _dot(v, F.array(*[F.lit(x) for x in p]))
        bucket = bucket + F.when(proj > 0, F.lit(2**i).cast("long")).otherwise(0)
    return df.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def _embedding_matrix(emb: pd.Series, dim: int) -> np.ndarray:
    """Arrow batch → dense (n, dim) float64 matrix, null-tolerant: a
    None / wrong-length vector becomes the zero vector instead of
    blowing up np.asarray for the whole batch. Zero rows then degrade
    exactly like the pre-vectorized expression form did (null
    projection → bucket 0, zero norm → similarity 0) — one bad vector
    in a 100 TB corpus must not kill the job."""
    E = np.zeros((len(emb), dim), dtype=np.float64)
    for idx, v in enumerate(emb):
        if v is not None and len(v) == dim:
            E[idx, :] = v
    return E


def _table_buckets_udf(planes_by_table: np.ndarray):
    """Arrow-vectorized bucket computation for multi-table LSH.

    ``planes_by_table`` has shape (L, n_bits, dim); the UDF maps an
    embedding column to an array<long> of L per-table bucket ids in one
    dense matmul per Arrow batch. This is the sanctioned Pandas-UDF
    carve-out, not a row-at-a-time escape hatch: the projection is
    E @ P.T with P = L*n_bits hyperplanes, and Spark's higher-order
    functions (zip_with/aggregate) are interpreted per element — the
    expression form measured 34 s vs 2.4 s brute-force at sf0.1 because
    64 interpreted dot products per row never reach codegen, while the
    BLAS matmul does the same arithmetic in milliseconds per batch."""
    planes = np.ascontiguousarray(planes_by_table, dtype=np.float64)
    n_tables, n_bits, dim = planes.shape
    flat = planes.reshape(n_tables * n_bits, dim)
    weights = 2 ** np.arange(n_bits, dtype=np.int64)

    @pandas_udf("array<long>")
    def buckets(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        E = _embedding_matrix(emb, dim)
        bits = (E @ flat.T) > 0  # (n, L*n_bits)
        out = (bits.reshape(len(E), n_tables, n_bits) * weights).sum(axis=2)
        return pd.Series(list(out))

    return buckets


def lsh_table_buckets(df: DataFrame, dim: int, n_bits: int, n_tables: int, seed: int,
                      id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Multi-table LSH: ``n_tables`` independent hyperplane sets; one
    (table_no, bucket) row per vector per table. Recall compounds as
    1-(1-p)^L while each table's join stays selective — the standard
    recall/cost dial for ANN at scale (raise L, not the probe radius).
    All L buckets come from ONE vectorized projection per row
    (posexplode of the UDF's array<long>), not L scans of the input."""
    planes = np.stack(
        [np.asarray(_hyperplanes(dim, n_bits, seed + 1000 * t)) for t in range(n_tables)]
    )
    bucket_udf = _table_buckets_udf(planes)
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(bucket_udf(F.col(vec_col))).alias("table_no", "bucket"),
    )


def ann_bucket_index(
    corpus: DataFrame,
    dim: int,
    n_bits: int = 8,
    n_tables: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The persistable ANN index: (id, table_no, bucket) — L rows per
    vector, ~24 bytes each, computed in one vectorized projection pass.
    Write it once (bucketed by (table_no, bucket) for shuffle-free
    probes), append each ingested batch's rows, and pass it to
    ``cosine_topk_lsh(corpus_buckets=...)`` so serving queries never
    re-project the corpus — the embedding-side twin of
    ``dedup.minhash_band_index``. Exact because the bucket assignment
    is a pure per-vector function (same hyperplane seeds → same
    buckets, whether computed fresh or read back)."""
    return lsh_table_buckets(
        corpus, dim, n_bits, n_tables, seed, id_col, vec_col
    ).select(id_col, "table_no", "bucket")


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 8,
    n_tables: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_buckets: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k: multi-table LSH (L independent hyperplane sets) with
    1-bit multi-probe per table, exact cosine re-rank on candidates.
    Per-table hit probability p compounds to 1-(1-p)^L — the recall
    dial is L (more tables), not bucket width. The bucket join shuffles
    on (table_no, bucket) — at 100 TB this is the difference between
    |Q|x|C| and |Q|x|C|xL(1+b)/2^b comparisons.

    Shuffle payload discipline: only IDs ride the exploded multi-probe
    join (a query id fans out L*(1+b) ≈ 72 times — replicating the
    vectors too would multiply the shuffle by the embedding width);
    candidates dedup on (q_id, c_id), then the two embedding columns
    join back once per surviving candidate for the exact re-rank.

    ``corpus_buckets``: a previously persisted ``ann_bucket_index`` of
    the corpus (same dim/n_bits/n_tables/seed). The index-once serving
    pattern: without it, every call re-projects the full corpus through
    the hyperplanes; with it, only the (tiny) query side is projected
    and the corpus contributes a bucket-table scan — write it bucketed
    by (table_no, bucket) and the probe join is shuffle-free."""
    qb = lsh_table_buckets(queries, dim, n_bits, n_tables, seed, id_col, vec_col)
    cb = (
        corpus_buckets
        if corpus_buckets is not None
        else lsh_table_buckets(corpus, dim, n_bits, n_tables, seed, id_col, vec_col)
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(2**i).cast("long")) for i in range(n_bits)],
    )
    q_probed = qb.withColumn("probe", F.explode(probes)).select(
        F.col(id_col).alias("q_id"), "table_no", "probe"
    )
    c_side = cb.select(
        F.col(id_col).alias("c_id"), "table_no", F.col("bucket").alias("probe")
    )
    cand_ids = (
        q_probed.join(c_side, on=["table_no", "probe"])
        .filter(F.col("q_id") != F.col("c_id"))
        .dropDuplicates(["q_id", "c_id"])
    )
    qv = with_norm(queries, vec_col).select(
        F.col(id_col).alias("q_id"), F.col("_vec").alias("_qv"), F.col("_norm").alias("_qn")
    )
    cv = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("c_id"), F.col("_vec").alias("_cv"), F.col("_norm").alias("_cn")
    )
    scored = (
        cand_ids.join(F.broadcast(qv), on="q_id")
        .join(cv, on="c_id")
        .select(
            "q_id",
            "c_id",
            F.try_divide(_dot(F.col("_qv"), F.col("_cv")), F.col("_qn") * F.col("_cn")).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.round("sim", 4).desc(), F.col("c_id").asc())
    return (
        scored.filter(F.col("sim").isNotNull())  # zero-norm/NULL never rank
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", F.round("sim", 4).alias("sim_r4"))
    )


def _normalized_centroids(corpus: DataFrame, n_centroids: int, dim: int,
                          id_col: str, vec_col: str) -> list[list[float]]:
    """Deterministic centroid seed: the n_centroids lowest-id vectors,
    L2-normalized. A k-means refinement would improve cell balance but
    adds iterative passes; the seed already gives the IVF cost shape
    (scan 1/C of the corpus per probe). Bounded collect: C×dim floats,
    same footprint as a broadcast literal."""
    rows = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(vec_col)
        .collect()
    )
    cents = np.array([r[0] for r in rows], dtype="float64")
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return (cents / norms).tolist()


def _cell_sims(vec_col, cents: list[list[float]]):
    """Array of cosine(v, centroid_i) — centroids are plan literals.
    Expression form, kept for plan-shape tests; the hot path uses the
    Arrow-vectorized ``_cell_sims_udf`` (same arithmetic, BLAS speed)."""
    v = _as_double(vec_col)
    vn = F.sqrt(_dot(v, v))
    return F.array(
        *[F.try_divide(_dot(v, F.array(*[F.lit(x) for x in c])), vn) for c in cents]
    )


def _cell_sims_udf(cents: list[list[float]]):
    """Arrow-vectorized cosine(v, centroid_i) array — one matmul per
    batch against the (K, dim) centroid matrix instead of K interpreted
    higher-order dot products per row (see _table_buckets_udf for the
    measured rationale)."""
    C = np.ascontiguousarray(np.asarray(cents, dtype=np.float64))

    @pandas_udf("array<double>")
    def sims(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        E = _embedding_matrix(emb, C.shape[1])
        norms = np.linalg.norm(E, axis=1)
        norms[norms == 0] = 1.0
        S = (E @ C.T) / norms[:, None]
        return pd.Series(list(S))

    return sims


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: corpus vectors are assigned to their nearest
    centroid cell (map-only); each query probes its ``n_probe`` nearest
    cells; exact cosine re-rank runs only inside probed cells.

    Scale shape: the cell join shuffles on a small int key, and each
    query touches ~n_probe/n_centroids of the corpus. Versus LSH, IVF
    adapts to the data's density (cells follow the vectors) at the cost
    of the centroid pass; both are provided so the caller can pick per
    corpus. Output: (q_id, c_id, rank, sim_r4), same contract as the
    brute-force baseline."""
    cents = _normalized_centroids(corpus, n_centroids, dim, id_col, vec_col)
    # a corpus smaller than n_centroids yields fewer cells; clamp the
    # probe count or element_at(-n_probe) throws on the short sim array
    n_probe = min(n_probe, len(cents))
    sims_udf = _cell_sims_udf(cents)
    # the UDF result is staged as a column before reuse so the Arrow
    # batch runs once per row, not once per referencing expression
    c_side = (
        corpus.select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("_ce"),
            sims_udf(F.col(vec_col)).alias("_cs"),
        )
        .select(
            "c_id",
            "_ce",
            (F.array_position("_cs", F.array_max("_cs")) - 1).alias("cell"),
        )
    )
    q_simsed = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("_qe"),
        sims_udf(F.col(vec_col)).alias("_cs"),
    )
    thr = F.element_at(F.array_sort("_cs"), -n_probe)
    probe_cells = F.filter(
        F.sequence(F.lit(0), F.lit(len(cents) - 1)),
        lambda i: F.try_element_at("_cs", i + 1) >= thr,
    )
    q_side = q_simsed.select(
        "q_id", "_qe", F.explode(probe_cells).alias("cell")
    )
    cand = (
        q_side.join(c_side, on="cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .drop("cell")
    )
    qn = with_norm(cand.withColumnRenamed("_qe", "embedding")).select(
        "q_id", "c_id", F.col("_vec").alias("_qv"), F.col("_norm").alias("_qn"), "_ce"
    )
    scored = with_norm(qn.withColumnRenamed("_ce", "embedding")).select(
        "q_id",
        "c_id",
        F.try_divide(_dot(F.col("_qv"), F.col("_vec")), F.col("_qn") * F.col("_norm")).alias("sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.round("sim", 4).desc(), F.col("c_id").asc())
    return (
        scored.filter(F.col("sim").isNotNull())  # zero-norm/NULL never rank
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", F.round("sim", 4).alias("sim_r4"))
    )


def cosine_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ t) —
    brute-force form for samples/oracle; compose with lsh_bucket_ids for
    the scale path (join on bucket first)."""
    n = with_norm(df, vec_col).select(
        F.col(id_col).alias("_id"), F.col("_vec"), F.col("_norm")
    )
    a = n.select(F.col("_id").alias("id_a"), F.col("_vec").alias("_va"), F.col("_norm").alias("_na"))
    b = n.select(F.col("_id").alias("id_b"), F.col("_vec").alias("_vb"), F.col("_norm").alias("_nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.try_divide(_dot(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim_r4"))
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: q[i] = round(x[i]/scale)
    with scale = max|x|/127. Output: (id, qvec array<tinyint>, scale) —
    a 4× smaller at-rest/shuffle representation of a float32 embedding
    column (8× vs double), which at a 100 TB embedding corpus is the
    difference between a scan that fits the IO budget and one that
    doesn't. Dequantization error is bounded by scale/2 per element.

    ``scale`` is materialized as a column BEFORE the transform lambda:
    expressions referenced inside higher-order lambdas are re-evaluated
    per element (no CSE), so an inline scale would recompute the
    array_max per dimension."""
    v = _as_double(F.col(vec_col))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    staged = df.select(
        F.col(id_col),
        v.alias("_v"),
        (F.greatest(amax, F.lit(1e-12)) / F.lit(127.0)).alias("scale"),
    )
    qv = F.transform(
        "_v", lambda x: F.round(x / F.col("scale")).cast("tinyint")
    )
    return staged.select(F.col(id_col), qv.alias("qvec"), "scale")


def dequantize_embeddings(
    qdf: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Inverse of quantize_embeddings: rebuild a double vector column
    (map-only; runs fused with the scan of the quantized table)."""
    v = F.transform("qvec", lambda x: x.cast("double") * F.col("scale"))
    return qdf.select(F.col(id_col), v.alias(vec_col))


def cosine_topk_quantized(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k where the CORPUS side is int8-quantized
    and dequantized on the fly — same plan shape as the exact baseline
    (broadcast queries, streaming corpus scan, per-query top-k window),
    but the corpus scan reads tinyint arrays: the compute is identical,
    the IO is quartered. Queries stay full precision (they're tiny).
    Recall vs the exact baseline is asserted in tests, not assumed."""
    cq = quantize_embeddings(corpus, id_col=id_col, vec_col=vec_col)
    return cosine_topk_bruteforce(
        queries, dequantize_embeddings(cq, id_col=id_col, vec_col=vec_col),
        k=k, id_col=id_col, vec_col=vec_col,
    )


def semantic_dup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.97,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-shaped semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embeddings, then compare vectors
    only WITHIN a cluster — the quadratic form is quarantined to
    per-cluster blocks, exactly like LSH quarantines it to band
    buckets. Pairs with cosine >= threshold are emitted with
    ``a_id < b_id`` and a 4dp-rounded score.

    Scale shape: cluster assignment is a map-only Arrow matmul per
    batch (one (B,dim)x(dim,C) BLAS call); the corpus shuffles ONCE on
    the small int cell key; each cell's pairwise similarities are one
    local Gram matrix (E @ E.T) inside applyInPandas — never a
    corpus-wide cross join. Cross-cluster near-dups are invisible by
    design (the SemDeDup trade); raise n_clusters for tighter blocks on
    bigger corpora (cost ~ sum of squared cell sizes).

    Centroids reuse the deterministic IVF seed (`_normalized_centroids`
    — bounded C x dim collect), so results are reproducible across runs
    and partitionings.
    """
    cents = _normalized_centroids(corpus, n_clusters, dim, id_col, vec_col)
    sims_udf = _cell_sims_udf(cents)
    assigned = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("_e"),
        sims_udf(F.col(vec_col)).alias("_cs"),
    ).select(
        "id",
        "_e",
        (F.array_position("_cs", F.array_max("_cs")) - 1)
        .cast("int")
        .alias("cell"),
    )

    thr = float(threshold)

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"a_id": pd.Series([], dtype="int64"),
                 "b_id": pd.Series([], dtype="int64"),
                 "sim_r4": pd.Series([], dtype="float64"),
                 "cell": pd.Series([], dtype="int32")}
            )
        E = _embedding_matrix(pdf["_e"], dim)
        norms = np.linalg.norm(E, axis=1)
        norms[norms == 0] = 1.0
        G = (E / norms[:, None]) @ (E / norms[:, None]).T
        iu, ju = np.triu_indices(n, k=1)
        sims = np.round(G[iu, ju], 4)
        keep = sims >= thr
        ids = pdf["id"].to_numpy()
        return pd.DataFrame(
            {
                "a_id": ids[iu[keep]],
                "b_id": ids[ju[keep]],
                "sim_r4": sims[keep],
                "cell": np.full(int(keep.sum()), pdf["cell"].iloc[0], dtype="int32"),
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        per_cell, "a_id long, b_id long, sim_r4 double, cell int"
    )


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd's iterations), the trainer behind IVF/SemDeDup
# ---------------------------------------------------------------------------


def _assign_cells_udf(cents: np.ndarray):
    """Arrow-vectorized nearest-centroid assignment (squared euclidean):
    one (batch × K) distance matmul per Arrow batch via the
    ||x-c||² = ||x||² - 2x·c + ||c||² expansion."""
    C = np.ascontiguousarray(np.asarray(cents, dtype=np.float64))
    c_sq = (C * C).sum(axis=1)

    @pandas_udf("int")
    def cell(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        E = _embedding_matrix(emb, C.shape[1])
        d = -2.0 * (E @ C.T) + c_sq[None, :]  # ||x||² constant per row
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    return cell


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) nearest-centroid assignment — map-only, centroids ride
    the plan as a broadcast-sized literal."""
    return df.select(
        F.col(id_col), _assign_cells_udf(np.asarray(centroids))(F.col(vec_col)).alias("cell")
    )


def kmeans_fit(
    corpus: DataFrame,
    dim: int,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Distributed Lloyd's k-means — the trainer that turns the IVF /
    SemDeDup deterministic centroid SEED into actual learned centroids.

    Scale shape per iteration (the classic MapReduce k-means):
    1. assign: map-only Arrow matmul argmin (no shuffle);
    2. partial sums: each partition folds its rows into at most k
       (cell, sum_vec, count) partials inside ``mapInPandas`` — the
       full vectors NEVER shuffle;
    3. reduce: the ≤ partitions×k partials explode per dimension and
       groupBy (cell, dim) — a shuffle of ≤ partitions×k×dim scalar
       rows, independent of corpus size;
    4. the k×dim result returns to the driver (same bounded-collect
       footprint as the IVF centroid seed) to become the next
       iteration's plan literal.

    Empty cells keep their previous centroid. Init is the deterministic
    lowest-id seed (`_normalized_centroids` sans normalization), so
    fits are reproducible run-to-run and engine-independent."""
    rows = (
        corpus.orderBy(F.col(id_col).asc()).limit(k).select(vec_col).collect()
    )
    cents = np.asarray([r[0] for r in rows], dtype=np.float64)
    schema = "cell int, psum array<double>, n long"

    for _ in range(iters):
        C = cents  # capture for closure

        def partials(batches, _C=C):
            agg: dict[int, tuple[np.ndarray, int]] = {}
            c_sq = (_C * _C).sum(axis=1)
            for pdf in batches:
                E = _embedding_matrix(pdf["_v"], _C.shape[1])
                d = -2.0 * (E @ _C.T) + c_sq[None, :]
                cell = np.argmin(d, axis=1)
                for ci in np.unique(cell):
                    s = E[cell == ci].sum(axis=0)
                    n = int((cell == ci).sum())
                    if ci in agg:
                        agg[ci] = (agg[ci][0] + s, agg[ci][1] + n)
                    else:
                        agg[int(ci)] = (s, n)
            yield pd.DataFrame(
                {
                    "cell": list(agg.keys()),
                    "psum": [v[0].tolist() for v in agg.values()],
                    "n": [v[1] for v in agg.values()],
                }
            )

        part = corpus.select(F.col(vec_col).alias("_v")).mapInPandas(
            partials, schema
        )
        reduced = (
            part.select(
                "cell", "n", F.posexplode("psum").alias("dim", "val")
            )
            .groupBy("cell", "dim")
            .agg(F.sum("val").alias("s"), F.sum("n").alias("cnt"))
            .collect()
        )
        new = cents.copy()
        sums = np.zeros((k, cents.shape[1]))
        counts = np.zeros(k, dtype=np.int64)
        for r in reduced:
            sums[r["cell"], r["dim"]] = r["s"]
            counts[r["cell"]] = r["cnt"]  # same total for every dim of a cell
        for ci in range(k):
            if counts[ci] > 0:
                new[ci] = sums[ci] / counts[ci]
        # free convergence probe: centroids already live on the driver
        # (they are the next plan literal), so comparing consecutive
        # arrays costs nothing and saves whole cluster passes once
        # Lloyd's has settled
        shift = float(np.abs(new - cents).max())
        cents = new
        if shift < 1e-12:
            break
    return cents.tolist()


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-bound ANN serving path
# ---------------------------------------------------------------------------


def pq_train(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 32,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 10,
) -> list[list[list[float]]]:
    """Train PQ sub-codebooks: split each L2-NORMALIZED vector into
    ``m`` subvectors of dim/m, run Lloyd's iterations for ALL ``m``
    subspaces JOINTLY — one pass over the sample per iteration, not one
    per (subspace × iteration). Returns (m, n_codes, dim/m) codebooks.

    Trained on a deterministic id-mod sample — how PQ codebooks are fit
    in practice (FAISS trains on ~100k vectors regardless of corpus
    size): the codebook is a statistic of the distribution, not of
    every row. Scale shape per iteration: map-only per-partition
    partials for every (subspace, cell) — at most partitions×m×n_codes
    rows of sub_dim scalars cross the wire — then a bounded
    m×n_codes×sub_dim collect refreshes the plan literal (the same
    MapReduce shape as ``kmeans_fit``, batched m-wide). Encoding (the
    corpus-sized pass) is map-only and single-pass."""
    sub_dim = dim // m
    sample = corpus.filter(F.col(id_col) % sample_mod == 0)
    normed = with_norm(sample, vec_col).select(
        F.col(id_col),
        F.transform(
            "_vec", lambda x: x / F.greatest(F.col("_norm"), F.lit(1e-12))
        ).alias("_nv"),
    )
    seed_rows = (
        normed.orderBy(F.col(id_col).asc())
        .limit(n_codes)
        .select("_nv")
        .collect()
    )
    if len(seed_rows) < n_codes:
        if sample_mod > 1:
            # id-mod sample too sparse for this corpus — retrain on the
            # full input rather than crash in np.stack below
            return pq_train(
                corpus, dim, m=m, n_codes=n_codes, iters=iters,
                id_col=id_col, vec_col=vec_col, sample_mod=1,
            )
        raise ValueError(
            f"pq_train needs at least n_codes={n_codes} vectors to seed "
            f"the codebooks; corpus has only {len(seed_rows)}"
        )
    S = np.asarray([r[0] for r in seed_rows], dtype=np.float64)
    # B[j] seeds from the j-th subvectors of the lowest-id sample rows —
    # identical to running kmeans_fit per subspace with its seed rule
    B = np.stack(
        [S[:, j * sub_dim : (j + 1) * sub_dim] for j in range(m)]
    )  # (m, n_codes, sub_dim)
    schema = "sub int, cell int, psum array<double>, n long"

    for _ in range(iters):
        _B = B.copy()

        def partials(batches, _B=_B):
            agg: dict[tuple[int, int], tuple[np.ndarray, int]] = {}
            for pdf in batches:
                E = _embedding_matrix(pdf["_nv"], m * sub_dim)
                for j in range(m):
                    Sj = E[:, j * sub_dim : (j + 1) * sub_dim]
                    d = (
                        -2.0 * (Sj @ _B[j].T)
                        + (_B[j] * _B[j]).sum(axis=1)[None, :]
                    )
                    cell = np.argmin(d, axis=1)
                    for ci in np.unique(cell):
                        key = (j, int(ci))
                        s = Sj[cell == ci].sum(axis=0)
                        cnt = int((cell == ci).sum())
                        if key in agg:
                            agg[key] = (agg[key][0] + s, agg[key][1] + cnt)
                        else:
                            agg[key] = (s, cnt)
            yield pd.DataFrame(
                {
                    "sub": [k[0] for k in agg],
                    "cell": [k[1] for k in agg],
                    "psum": [v[0].tolist() for v in agg.values()],
                    "n": [v[1] for v in agg.values()],
                }
            )

        part = normed.select("_nv").mapInPandas(partials, schema)
        reduced = (
            part.select(
                "sub", "cell", "n", F.posexplode("psum").alias("dim", "val")
            )
            .groupBy("sub", "cell", "dim")
            .agg(F.sum("val").alias("s"), F.sum("n").alias("cnt"))
            .collect()
        )
        sums = np.zeros((m, n_codes, sub_dim))
        counts = np.zeros((m, n_codes), dtype=np.int64)
        for r in reduced:
            sums[r["sub"], r["cell"], r["dim"]] = r["s"]
            counts[r["sub"], r["cell"]] = r["cnt"]
        for j in range(m):
            for ci in range(n_codes):
                if counts[j, ci] > 0:
                    B[j, ci] = sums[j, ci] / counts[j, ci]
    return B.tolist()


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) PQ encoding — map-only, one Arrow matmul
    per subspace per batch. With m=8 subspaces the at-rest corpus is 8
    small ints per vector: a 64-dim float32 embedding compresses 32×,
    which is what makes EXHAUSTIVE scans of a 100 TB embedding corpus
    feasible (the scan reads 3 TB of codes instead)."""
    B = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
    m, n_codes, sub_dim = B.shape

    @pandas_udf("array<int>")
    def codes(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        E = _embedding_matrix(emb, m * sub_dim)
        norms = np.linalg.norm(E, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        E = E / norms
        out = np.empty((len(E), m), dtype=np.int32)
        for j in range(m):
            S = E[:, j * sub_dim : (j + 1) * sub_dim]
            d = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = d.argmin(axis=1)
        return pd.Series(list(out))

    return corpus.select(F.col(id_col), codes(F.col(vec_col)).alias("codes"))


def cosine_topk_pq(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 8,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
    encoded: DataFrame | None = None,
    shortlist_mult: int = 8,
) -> DataFrame:
    """Asymmetric-distance PQ top-k (ADC): per query, precompute the
    (m × n_codes) table of subvector·centroid inner products; each
    encoded corpus row scores as m table lookups — no float vector is
    ever read for the corpus. Cosine comes out directly because both
    sides are L2-normalized before encoding.

    Scale shape: ONE streaming pass over the (32× smaller) code table
    scores ALL queries per Arrow batch (the LUT tensor is |Q|×m×n_codes
    floats — plan-literal sized); candidates then re-rank exactly
    against the full-precision corpus, the same verify-on-candidates
    discipline as the LSH/IVF paths. Pass ``codebooks``/``encoded`` to
    reuse a persisted index (index-once serving, like ann_bucket_index).
    """
    if codebooks is None:
        codebooks = pq_train(
            corpus, dim=dim, m=m, n_codes=n_codes,
            id_col=id_col, vec_col=vec_col,
        )
    enc = (
        encoded
        if encoded is not None
        else pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col)
    )
    B = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
    _m, _nc, sub_dim = B.shape

    q_rows = (
        queries.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col))
        .collect()
    )  # bounded: the query set is small by contract (broadcast class)
    q_ids = [r[0] for r in q_rows]
    Q = np.asarray([r[1] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    Q = Q / qn
    # LUT[qi, j, c] = <query_qi subvector j, centroid c of book j>
    lut = np.stack(
        [Q[:, j * sub_dim : (j + 1) * sub_dim] @ B[j].T for j in range(_m)],
        axis=1,
    )  # (|Q|, m, n_codes)

    @pandas_udf("array<double>")
    def adc_sims(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=object)
        CM = np.asarray([np.asarray(c) for c in codes])  # (n, m)
        n = len(CM)
        sims = np.zeros((n, lut.shape[0]))
        for j in range(_m):
            sims += lut[:, j, CM[:, j]].T  # (n, |Q|)
        return pd.Series(list(sims))

    scored = enc.select(
        F.col(id_col).alias("c_id"),
        F.posexplode(adc_sims(F.col("codes"))).alias("_qi", "approx_sim"),
    ).select(
        F.col("c_id"),
        F.element_at(
            F.array(*[F.lit(q) for q in q_ids]), F.col("_qi") + 1
        ).alias("q_id"),
        "approx_sim",
    ).filter(F.col("q_id") != F.col("c_id"))
    # shortlist shortlist_mult*k per query on approx sims, then exact
    # re-rank (the recall knob: ADC ordering is lossy, the re-rank is
    # exact, so a wider shortlist buys recall at linear candidate cost;
    # shortlist_mult >= |corpus|/k degenerates to exact brute force BY
    # CONSTRUCTION, which is how the oracle-checked variant is built)
    w = Window.partitionBy("q_id").orderBy(
        F.col("approx_sim").desc(), F.col("c_id").asc()
    )
    shortlist = (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= shortlist_mult * k)
        .select("q_id", "c_id")
    )
    qv = with_norm(queries, vec_col).select(
        F.col(id_col).alias("q_id"),
        F.col("_vec").alias("_qv"),
        F.col("_norm").alias("_qn"),
    )
    cv = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("c_id"),
        F.col("_vec").alias("_cv"),
        F.col("_norm").alias("_cn"),
    )
    rer = (
        shortlist.join(F.broadcast(qv), "q_id")
        .join(cv, "c_id")
        .select(
            "q_id",
            "c_id",
            (
                F.try_divide(
                    _dot(F.col("_qv"), F.col("_cv")),
                    F.col("_qn") * F.col("_cn"),
                )
            ).alias("sim"),
        )
    )
    w2 = Window.partitionBy("q_id").orderBy(
        F.round("sim", 4).desc(), F.col("c_id").asc()
    )
    return (
        rer.filter(F.col("sim").isNotNull())  # zero-norm/NULL never rank
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", F.round("sim", 4).alias("sim_r4"))
    )


def centroid_outliers(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.0,
    scale: int = 1 << 20,
) -> DataFrame:
    """Embedding quality gate: cosine of every vector against its
    group's centroid; rows far from their centroid (cos < threshold)
    are the mislabeled / garbage-embedding candidates a curation pass
    reviews or drops (the outlier-filter step of SemDeDup-style
    cluster curation).

    Determinism across engines: the centroid is computed from
    INTEGER-quantized coordinates — q = round(x·2^20) summed as BIGINT
    (exact, order-insensitive) and divided back out — so the centroid
    doubles are bit-identical regardless of partitioning or engine;
    the per-row cosine is then a fixed-dim-order fold (zip_with +
    aggregate ≡ DuckDB list_dot_product).

    Scale shape: one posexplode → (label, dim) partial-aggregating
    groupBy (the only shuffle, and it carries int64s, not payloads),
    a labels×dim centroid table that always broadcasts, and a map-side
    cosine — the full-corpus scan never re-shuffles. NULL embeddings
    are excluded up front (they can't contribute to a centroid or
    receive a cosine) rather than surfacing as NULL score rows."""
    df = df.filter(F.col(vec_col).isNotNull())
    q = df.select(
        F.col(label_col).alias("_lab"),
        F.posexplode(F.col(vec_col)).alias("_dim", "_x"),
    ).select(
        "_lab",
        "_dim",
        F.round(F.col("_x").cast("double") * scale).cast("long").alias("_q"),
    )
    sums = q.groupBy("_lab", "_dim").agg(
        F.sum("_q").alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    cvec = sums.groupBy("_lab").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_dim", "_s"))),
            lambda x: x["_s"].cast("double") / (F.lit(scale) * F.max("_n")),
        ).alias("_c")
    )
    v = _as_double(F.col(vec_col))
    cos = F.try_divide(
        _dot(F.col("_v"), F.col("_c")),
        F.sqrt(_dot(F.col("_v"), F.col("_v")))
        * F.sqrt(_dot(F.col("_c"), F.col("_c"))),
    )
    return (
        df.withColumn("_v", v)
        .join(F.broadcast(cvec), F.col(label_col) == F.col("_lab"))
        .select(
            id_col,
            label_col,
            F.round(cos, 6).alias("cos_centroid"),
            (F.round(cos, 6) < threshold).alias("is_outlier"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    evalset: DataFrame,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic benchmark decontamination: corpus rows whose max cosine
    similarity to ANY eval-set vector reaches ``threshold``, with the
    nearest eval id — the embedding-space complement of the n-gram
    decontamination pass (`text.decontaminate_hits` catches verbatim
    leaks; this catches paraphrased/translated eval items that share no
    surface n-grams — the Phi/GPT-4-era decontamination standard).

    Output: (vec_id, nearest_eval, sim_r4), one row per flagged corpus
    vector, nearest = argmax cosine with eval-id tie-break.

    Scale shape (r6, matmul-prefilter rewrite): the eval set is a
    CONSTANT-size benchmark suite by construction, so its normalized
    matrix rides into an Arrow pandas UDF and every corpus batch
    scores against ALL eval items in one BLAS matmul — the corpus
    never shuffles and never pays the interpreted per-pair fold
    (measured at sf1: 46.7 s all-pairs fold → 3.4 s warm, ~14×). Exactness is preserved by the
    sketch-then-verify discipline used repo-wide: the matmul only
    NOMINATES candidate (corpus, eval) pairs at ``threshold − 1e-6``
    (float64 matmul and the sequential fold agree to ~1e-12, so no
    true hit can fall below the margin), and the surviving handful of
    pairs re-score EXACTLY with the same zip_with/aggregate fold the
    DuckDB oracle mirrors — the oracle IS the all-pairs computation,
    so the hash check itself pins prefilter completeness."""
    # zero-norm rows (all-zero, empty, or NULL embeddings — _norm is
    # NULL for the latter two, which `> 0` also drops) have no
    # direction: they can neither leak nor be leaked against, and
    # under ANSI mode the cosine division would kill the whole job —
    # drop them up front (code-review r6).
    e = with_norm(evalset, vec_col).filter(
        F.col("_norm") > 0
    ).select(
        F.col(id_col).alias("_eid"),
        F.col("_vec").alias("_ev"),
        F.col("_norm").alias("_en"),
    )
    c = with_norm(corpus, vec_col).filter(
        F.col("_norm") > 0
    ).select(
        F.col(id_col),
        F.col("_vec").alias("_cv"),
        F.col("_norm").alias("_cn"),
    )
    # The eval id column is GENERIC (long, string, …): the candidate
    # UDF's return type and the empty-case cast both derive from the
    # evalset's actual id type, and the driver-side id list stays a
    # dtype=object array so original Python values round-trip through
    # the Arrow batch untouched (ADVICE r6: the previous np.int64 /
    # array<long> hard-coding crashed or mis-cast non-long ids).
    eid_type = evalset.schema[id_col].dataType.simpleString()
    # bounded collect: an eval suite is a fixed artifact (the k-means
    # parameter class); ids ASC
    ev_rows = e.select("_eid", "_ev").orderBy("_eid").collect()
    if not ev_rows:
        return c.select(
            F.col(id_col),
            F.lit(None).cast(eid_type).alias("nearest_eval"),
            F.lit(None).cast("double").alias("sim_r4"),
        ).limit(0)
    ev_ids = np.array([r["_eid"] for r in ev_rows], dtype=object)
    En = np.array([r["_ev"] for r in ev_rows], dtype=np.float64)
    En = En / np.linalg.norm(En, axis=1, keepdims=True)
    dim = En.shape[1]
    margin = float(threshold) - 1e-6

    @pandas_udf(f"array<{eid_type}>")
    def _cand_evals(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        E = _embedding_matrix(emb, dim)
        norms = np.linalg.norm(E, axis=1, keepdims=True)
        norms[norms == 0] = 1.0  # zero rows score 0 everywhere
        S = (E / norms) @ En.T
        return pd.Series([list(ev_ids[S[i] >= margin]) for i in range(len(E))])

    cand = (
        c.withColumn("_cand", _cand_evals(F.col("_cv")))
        .filter(F.size("_cand") > 0)
        .select(id_col, "_cv", "_cn", F.explode("_cand").alias("_eid"))
    )
    scored = (
        cand.join(F.broadcast(e), "_eid")
        .withColumn(
            "_sim",
            F.try_divide(_dot(F.col("_cv"), F.col("_ev")), F.col("_cn") * F.col("_en")),
        )
        .filter(F.col("_sim") >= threshold)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_sim").desc(), F.col("_eid").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            id_col,
            F.col("_eid").alias("nearest_eval"),
            F.round("_sim", 4).alias("sim_r4"),
        )
    )


def kcenter_coreset(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset (farthest-first traversal, the Gonzalez
    2-approximation): pick the lowest-id vector as the seed, then k−1
    times pick the vector FARTHEST (squared euclidean, id tie-break)
    from everything chosen so far — the diversity-maximizing selection
    a training pipeline uses to seed clusters, pick annotation budgets,
    or build a representative eval slice from a 100 TB embedding table.

    Output: (sel_round 0..k−1, vec_id, d2_r6) — d2_r6 is the squared
    distance to the nearest earlier pick at selection time (the seed's
    is 0), i.e. the cover radius sequence.

    Scale shape: each of the k−1 rounds is one map-side distance
    update (d² = a·a − 2 a·c + c·c against the single newest center —
    an ordered index fold, engine-exact) followed by a TakeOrdered(1)
    argmax — a 1-row bounded collect, the same driver-iteration
    footprint as kmeans_fit. The running min-distance column carries
    forward, so round i does O(n·dim) work, not O(n·i·dim); full
    vectors never shuffle (there is no shuffle at all — scan-side
    expressions + a k-deep least() chain)."""
    spark = corpus.sparkSession
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = corpus.select(F.col(id_col), v.alias("_v"))
    aa = F.aggregate(
        F.zip_with("_v", "_v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )

    def d2_to(center: list[float]):
        c = F.array(*[F.lit(float(x)) for x in center])
        dot = F.aggregate(
            F.zip_with("_v", c, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        cc = float(sum((float(x) * float(x) for x in center), 0.0))
        return F.col("_aa") - 2.0 * dot + F.lit(cc)

    seed_rows = base.orderBy(F.col(id_col).asc()).limit(1).collect()
    if not seed_rows:
        return local_frame(spark, [], "sel_round int, vec_id long, d2_r6 double")
    seed = seed_rows[0]
    picks = [(0, seed[id_col], 0.0)]
    cvec = [float(x) for x in seed["_v"]]
    # localCheckpoint per round materializes the running min-distance:
    # without it, round i's collect re-evaluates every earlier center's
    # distance expression from the scan (O(n*k^2*dim) total +
    # k corpus re-reads — code-review r5); with it each round really is
    # one O(n*dim) pass over the materialized frame.
    cur = (
        base.withColumn("_aa", aa)
        .withColumn("_mind", d2_to(cvec))
        .localCheckpoint(eager=False)
    )
    for i in range(1, k):
        # exclude already-picked ids so k > n degrades to n distinct
        # picks instead of silently repeating the seed; when unpicked
        # rows exist the argmax is unchanged (picked rows have _mind 0)
        far_rows = (
            cur.filter(~F.col(id_col).isin([p[1] for p in picks]))
            .orderBy(F.desc("_mind"), F.col(id_col).asc())
            .limit(1)
            .collect()
        )
        if not far_rows:
            break
        far = far_rows[0]
        picks.append((i, far[id_col], far["_mind"]))
        cvec = [float(x) for x in far["_v"]]
        cur = cur.withColumn(
            "_mind", F.least("_mind", d2_to(cvec))
        ).localCheckpoint(eager=False)
    # round in a Spark expression: Python's round() is banker's
    # rounding, Spark/DuckDB round half-up — they differ at exact .5
    return local_frame(
        spark, picks, "sel_round int, vec_id long, d2 double"
    ).select("sel_round", "vec_id", F.round("d2", 6).alias("d2_r6"))


def margin_mining(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 8,
    threshold: float = 1.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based pair mining (the Artetxe & Schwenk ratio margin,
    arXiv:1811.01136 — the LASER/CCMatrix bitext-mining score): for
    each query vector, the best corpus match and its margin =
    sim(best) / mean(sim over the top-k neighborhood). A high margin
    means the best match stands OUT of its neighborhood — the signal
    that separates a true aligned pair from a dense region of
    look-alikes, which a raw cosine threshold can't do.

    Output: (q_id, c_id, best_sim, margin_r4, mined). Engine-exact:
    neighborhood sims are already 4dp-rounded, so their DECIMAL sum is
    order-insensitive and the margin ratio reproduces bit-for-bit.

    Plan shape: rides cosine_topk_bruteforce (broadcast queries ⋈
    corpus, per-query top-k window) + one k-row-per-query aggregate;
    at scale swap the top-k source for cosine_topk_lsh — the margin
    arithmetic is source-agnostic."""
    topk = cosine_topk_bruteforce(queries, corpus, k, id_col, vec_col)
    agg = topk.groupBy("q_id").agg(
        F.min_by("c_id", "rank").alias("c_id"),
        F.max(F.when(F.col("rank") == 1, F.col("sim_r4"))).alias("best_sim"),
        F.sum(F.col("sim_r4").cast("decimal(18,4)")).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    margin = F.round(
        F.try_divide(F.col("best_sim"), F.try_divide(F.col("_s").cast("double"), F.col("_n"))), 4
    )
    return agg.select(
        "q_id",
        "c_id",
        "best_sim",
        margin.alias("margin_r4"),
        (margin >= threshold).alias("mined"),
    )
