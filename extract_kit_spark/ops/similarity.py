"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The query side is broadcast (it's small by construction); the corpus
  scan stays distributed and embarrassingly parallel; per-query ranking
  is one window over (query_id) partitions.
- ``hyperplane_signatures`` + ``ann_lsh_topk``: the scale path —
  random-hyperplane LSH (Charikar, STOC 2002): sign-pattern signatures
  bucket similar vectors together; candidates come from matching any of
  ``bands`` signature segments (multi-band = multi-probe recall boost);
  exact cosine re-ranks candidates only. Equality joins + window — no
  all-pairs stage, so it survives a 100× corpus.
- ``train_ivf_centroids`` + ``ann_ivf_topk``: the second scale path —
  IVF (inverted-file) coarse quantization as in FAISS IVFFlat: a
  spherical k-means codebook trained driver-side on a deterministic
  bounded sample (exactly how IVF quantizers are trained at scale),
  centroids broadcast, every corpus vector assigned to its nearest
  centroid in one vectorized scan (no shuffle), queries probe their
  ``nprobe`` nearest cells, and exact cosine re-ranks only the probed
  cells' members — candidate volume ≈ nprobe/n_centroids of the corpus.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from .dedup import cosine
from .textstats import normalized

EMB_DIM = 64
EMB_NGRAM = 3
EMB_SCALE = 10**6


def hash_embed(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", dim: int = EMB_DIM,
               n: int = EMB_NGRAM,
               salt: str = "emb-v1:") -> DataFrame:
    """Deterministic text→embedding: the signed hashing trick
    (feature hashing, Weinberger et al. 2009) over character
    n-grams — the in-engine embedder that closes the
    text → embedding → near-dup/ANN loop without any model weights.
    Each char n-gram of the whitespace-collapsed lowered text maps to
    bucket ``md5(salt‖gram)[0:8] mod dim`` with sign from the next
    hex nibble's parity; bucket sums are L2-normalized in FIXED POINT
    (floor(1e6·v/‖v‖ + 0.5) / 1e6), so the output is a pure integer-
    and-IEEE function of the text: reruns, engines and partitionings
    agree bit-for-bit, and the DuckDB oracle mirrors every step
    (md5 and hex→int arithmetic are the proven-exact split_bucket
    machinery from ops/corpus.py).

    Returns (id, embedding array<double>, n_grams). Empty/short texts
    (< n chars) embed as the zero vector.

    Scale shape: gram build + hash are pure expressions riding the
    scan; the explode feeds ONE partial-aggregated groupBy on
    (id, bucket) — map-side combine collapses each doc's grams to at
    most ``dim`` rows before the shuffle, so the shuffle volume is
    O(docs·dim), independent of text length; densify + normalize are
    per-row HOFs over dim-length arrays. No Python anywhere."""
    # the SAME normalization as the rest of the text pipeline — a
    # silent divergence here would split the embedder's view of a
    # document from fingerprint()/dedup's view
    base = df.select(F.col(id_col),
                     normalized(F.col(text_col)).alias("__nt"))
    grams = base.select(
        F.col(id_col),
        F.explode(F.expr(
            f"CASE WHEN length(__nt) < {n} THEN array() "
            f"ELSE transform(sequence(1, length(__nt) - {n} + 1), "
            f"i -> substr(__nt, i, {n})) END")).alias("g"))
    h = F.md5(F.concat(F.lit(salt), F.col("g")))
    hashed = grams.select(
        F.col(id_col),
        F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
               F.lit(dim)).alias("bucket"),
        (F.lit(1) - F.lit(2) * F.pmod(
            F.conv(F.substring(h, 9, 1), 16, 10).cast("long"),
            F.lit(2))).alias("sign"))
    sparse = (hashed.groupBy(id_col, "bucket")
              .agg(F.sum("sign").alias("v"),
                   F.count(F.lit(1)).alias("ng")))
    dense = (sparse.groupBy(id_col)
             .agg(F.map_from_entries(
                 F.collect_list(F.struct(F.col("bucket").cast("int"),
                                         F.col("v")))).alias("__m"),
                  F.sum("ng").cast("long").alias("n_grams")))
    vec = F.expr(
        f"transform(sequence(0, {dim} - 1), "
        f"b -> coalesce(element_at(__m, b), CAST(0 AS BIGINT)))")
    out = (base.select(id_col).join(dense, id_col, "left")
           .select(F.col(id_col),
                   F.coalesce(vec, F.expr(
                       f"transform(sequence(0, {dim} - 1), "
                       f"b -> CAST(0 AS BIGINT))")).alias("__v"),
                   F.coalesce("n_grams", F.lit(0)).cast("long")
                   .alias("n_grams")))
    # fixed-point L2 normalize: every step below is a deterministic
    # IEEE-754 function (exact int→double, one multiply, one divide,
    # correctly-rounded sqrt, floor), so the quantized doubles are
    # bit-identical across engines
    sumsq = F.expr(
        "aggregate(__v, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)")
    q = F.expr(
        f"CASE WHEN __sq = 0 THEN transform(__v, x -> 0.0) "
        f"ELSE transform(__v, x -> floor({EMB_SCALE}D * x "
        f"/ sqrt(CAST(__sq AS DOUBLE)) + 0.5D) / {EMB_SCALE}D) END")
    return (out.withColumn("__sq", sumsq)
            .select(F.col(id_col), q.alias("embedding"), "n_grams"))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine for each query vector (self and zero-norm
    vectors excluded). Returns (query_id, neighbor_id, cosine, rank).

    Scale shape: the query block (small by construction) is collected
    once and captured by a vectorized pandas scorer that runs over the
    corpus scan — a map-side broadcast nested loop with dense numpy
    arithmetic, no join, no all-pairs row explosion. Each batch emits
    only its candidates within 2e-6 of its k-th best raw score per
    query (two raw values more than 1e-6 apart can never collide after
    6-dp rounding, so this partial top-k provably preserves the exact
    global result); the final rank is one small window. Dot products
    and norms accumulate strictly left-to-right over dimensions so the
    6-dp values are bit-identical to the interpreted
    zip_with/aggregate formulation the DuckDB oracle mirrors."""
    qrows = (queries
             .select(F.col(id_col).cast("long").alias("qid"), vec_col)
             .orderBy("qid").collect())
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)

    def _seq_sqnorm(mat: np.ndarray) -> np.ndarray:
        acc = np.zeros(mat.shape[0])
        for j in range(mat.shape[1]):
            acc = acc + mat[:, j] * mat[:, j]
        return acc

    qnorm = np.sqrt(_seq_sqnorm(Q))

    out_schema = T.StructType([
        T.StructField("qid", T.LongType()),
        T.StructField("nid", T.LongType()),
        T.StructField("cosine_raw", T.DoubleType()),
    ])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            nids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            S = np.zeros((C.shape[0], len(qids)))
            for j in range(C.shape[1]):
                S = S + C[:, j][:, None] * Q[:, j][None, :]
            cnorm = np.sqrt(_seq_sqnorm(C))
            with np.errstate(divide="ignore", invalid="ignore"):
                S = S / (cnorm[:, None] * qnorm[None, :])
            # self and zero-norm rows (either side) are never candidates:
            # -inf sorts below every real score in the partial top-k
            S[(nids[:, None] == qids[None, :]) | (cnorm[:, None] == 0)
              | (qnorm[None, :] == 0)] = -np.inf
            keep_rows, keep_cols = [], []
            for qi in range(len(qids)):
                col = S[:, qi]
                kth = (np.partition(col, -k)[-k]
                       if col.shape[0] > k else -np.inf)
                rows = np.nonzero(col >= kth - 2e-6)[0]
                keep_rows.append(rows)
                keep_cols.append(np.full(len(rows), qi))
            r = np.concatenate(keep_rows)
            c = np.concatenate(keep_cols)
            vals = S[r, c]
            ok = np.isfinite(vals)  # drop the masked rows
            yield pd.DataFrame({"qid": qids[c[ok]], "nid": nids[r[ok]],
                                "cosine_raw": vals[ok]})

    scored = (corpus
              .select(F.col(id_col).cast("long").alias(id_col), vec_col)
              .mapInPandas(score, schema=out_schema)
              .select("qid", "nid",
                      F.round("cosine_raw", 6).alias("cosine")))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("qid").alias("query_id"),
                    F.col("nid").alias("neighbor_id"),
                    "cosine", "rank"))


def hyperplane_signatures(df: DataFrame, n_planes: int = 16,
                          bands: int = 8, seed: int = 42, dim: int = 64,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Sign-pattern LSH signatures: (id, band_keys array<string>).
    Deterministic fixed-seed Gaussian planes; numpy does the whole
    batch's (rows × dim) · (dim × planes) product in one matmul."""
    assert n_planes % bands == 0
    bits_per_band = n_planes // bands
    planes = np.random.RandomState(seed).randn(dim, n_planes)

    out_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("band_keys", T.ArrayType(T.StringType())),
    ])

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if mat.ndim != 2 or mat.shape[0] == 0:
                yield pd.DataFrame({"id": [], "band_keys": []})
                continue
            bits = (mat @ planes[:mat.shape[1], :]) > 0
            keys = []
            for row in bits:
                keys.append([
                    f"{bi}:" + "".join(
                        "1" if v else "0"
                        for v in row[bi * bits_per_band:
                                     (bi + 1) * bits_per_band])
                    for bi in range(bands)])
            yield pd.DataFrame({"id": pdf[id_col].astype("int64"),
                                "band_keys": keys})

    return (df.select(F.col(id_col).cast("long").alias(id_col), vec_col)
            .mapInPandas(compute, schema=out_schema))


def ann_lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 n_planes: int = 16, bands: int = 8, seed: int = 42,
                 dim: int = 64, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: LSH-bucketed candidates, exact re-rank.
    Same output shape as cosine_topk; recall measured in tests."""
    csig = (hyperplane_signatures(corpus, n_planes, bands, seed, dim,
                                  id_col, vec_col)
            .select("id", F.explode("band_keys").alias("bk")))
    qsig = (hyperplane_signatures(queries, n_planes, bands, seed, dim,
                                  id_col, vec_col)
            .select(F.col("id").alias("qid"),
                    F.explode("band_keys").alias("bk")))
    cand = (csig.join(F.broadcast(qsig), "bk")
            .where(F.col("id") != F.col("qid"))
            .select("qid", F.col("id").alias("nid"))
            .distinct())
    c = corpus.select(F.col(id_col).alias("nid"),
                      F.col(vec_col).cast("array<double>").alias("cv"))
    q = queries.select(F.col(id_col).alias("qid"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    scored = (cand.join(c, "nid").join(F.broadcast(q), "qid")
              .select("qid", "nid",
                      F.round(cosine(F.col("qv"), F.col("cv")), 6)
                      .alias("cosine")))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("qid").alias("query_id"),
                    F.col("nid").alias("neighbor_id"),
                    "cosine", "rank"))


# -- IVF (inverted-file) ANN ---------------------------------------------------


def train_ivf_centroids(corpus: DataFrame, n_centroids: int = 16,
                        n_iters: int = 10, seed: int = 42,
                        train_cap: int = 4096, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> np.ndarray:
    """Spherical k-means codebook trained on a DETERMINISTIC sample:
    every (n // train_cap)-th id, so reruns and different partitionings
    see the same training set. Returns (n_centroids, dim) unit-norm
    float64 centroids. Driver-side numpy — a coarse quantizer is tiny
    and IVF training on a bounded sample is the standard scale recipe
    (the 100 TB corpus never participates in training)."""
    n = corpus.count()
    step = max(1, n // train_cap)
    sample = (corpus
              .select(F.col(id_col).cast("long").alias("id"), vec_col)
              .where(F.pmod(F.col("id"), F.lit(step)) == 0)
              .orderBy("id").limit(train_cap).collect())
    mat = np.array([r[1] for r in sample], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0  # zero vectors stay zero, not NaN (mirrors ivf_assign)
    mat /= norms
    rng = np.random.RandomState(seed)
    k = min(n_centroids, mat.shape[0])
    cent = mat[rng.choice(mat.shape[0], size=k, replace=False)]
    for _ in range(n_iters):
        assign = (mat @ cent.T).argmax(axis=1)
        for ci in range(k):
            members = mat[assign == ci]
            if len(members):  # empty cell keeps its old centroid
                m = members.mean(axis=0)
                cent[ci] = m / np.linalg.norm(m)
    return cent


def ivf_assign(df: DataFrame, centroids: np.ndarray,
               id_col: str = "vec_id", vec_col: str = "embedding",
               nprobe: int = 1) -> DataFrame:
    """(id, cluster, v) with each vector assigned to its ``nprobe``
    nearest centroids (corpus uses nprobe=1; queries probe several).
    One vectorized pandas stage over the scan — no shuffle."""
    cent = centroids.copy()

    out_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("cluster", T.IntegerType()),
        T.StructField("v", T.ArrayType(T.DoubleType())),
    ])

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (mat / norms) @ cent.T
            ids = pdf[id_col].astype("int64").tolist()
            vs = pdf[vec_col].tolist()
            if nprobe == 1:
                cl = sims.argmax(axis=1)
                yield pd.DataFrame({
                    "id": ids, "cluster": cl.astype("int32"),
                    "v": [list(map(float, v)) for v in vs]})
            else:
                p = min(nprobe, cent.shape[0])
                # top-p cells, ordered (argsort desc) — deterministic
                probes = np.argsort(-sims, axis=1, kind="stable")[:, :p]
                out_ids, out_cl, out_v = [], [], []
                for i, vid in enumerate(ids):
                    lv = [float(x) for x in vs[i]]
                    for c in probes[i]:
                        out_ids.append(vid)
                        out_cl.append(int(c))
                        out_v.append(lv)
                yield pd.DataFrame({"id": out_ids,
                                    "cluster": pd.array(out_cl,
                                                        dtype="int32"),
                                    "v": out_v})

    return (df.select(F.col(id_col).cast("long").alias(id_col), vec_col)
            .mapInPandas(compute, schema=out_schema))


def ann_ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 n_centroids: int = 16, nprobe: int = 4,
                 seed: int = 42, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k via IVF: candidates = members of each query's
    nprobe nearest cells; exact cosine re-rank on candidates only.
    Same output shape as cosine_topk; recall measured in tests."""
    cent = train_ivf_centroids(corpus, n_centroids, seed=seed,
                               id_col=id_col, vec_col=vec_col)
    cassign = (ivf_assign(corpus, cent, id_col, vec_col, nprobe=1)
               .select(F.col("id").alias("nid"), "cluster",
                       F.col("v").alias("cv")))
    qassign = (ivf_assign(queries, cent, id_col, vec_col, nprobe=nprobe)
               .select(F.col("id").alias("qid"), "cluster",
                       F.col("v").alias("qv")))
    scored = (cassign.join(F.broadcast(qassign), "cluster")
              .where(F.col("nid") != F.col("qid"))
              .select("qid", "nid",
                      F.round(cosine(F.col("qv"), F.col("cv")), 6)
                      .alias("cosine")))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("qid").alias("query_id"),
                    F.col("nid").alias("neighbor_id"),
                    "cosine", "rank"))
