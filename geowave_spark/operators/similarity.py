"""Similarity search over an embedding column (array<float>).

Training-data-pipeline operators (driver brief):

- ``brute_topk``: exact cosine top-k.  Two execution paths:
  * ``catalyst=True``: pure built-in expressions (zip_with/aggregate dot
    product) — no Python, fully oracle-checkable.
  * default: broadcast the (small) query matrix and run a vectorized numpy
    matmul per Arrow batch of candidates — the 100 TB path (query side is
    a dim×Q float32 matrix in every executor; one pass over the corpus,
    per-batch partial top-k — boundary ties included for exactness — then
    a global window over the O(k·batches) survivors).
- ``ivf_topk``: IVF-style ANN — corpus bucketed by nearest of C coarse
  centroids (k-means on a driver-side sample; deterministic seed); probes
  search only the ``nprobe`` nearest buckets.  Equi-join on bucket id, so
  the scan cost drops by ~C/nprobe vs brute force.
- ``cosine_neardup_pairs``: embedding near-duplicate pairs via random
  hyperplane LSH: sign bits packed into band keys, the shared
  :func:`dedup.banded_pairs` kernel (ids and band keys only in its
  exchange), then the vectors joined back by id for the exact cosine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType, StructField, StructType

from geowave_spark.operators.dedup import banded_pairs


def _cosine_expr(a: str, b: str):
    """Catalyst cosine similarity between two array<double> columns."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def brute_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    catalyst: bool = False,
    exclude_self: bool = False,
    include_sim: bool = False,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank[, sim]).

    Deterministic tie-break (−sim, neighbor_id)."""
    q = queries.select(
        F.col(query_id).alias("_qid"),
        F.col(query_vec).cast("array<double>").alias("_qv"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("_nid"),
        F.col(corpus_vec).cast("array<double>").alias("_nv"),
    )
    if catalyst:
        scored = q.crossJoin(c).withColumn("_sim", _cosine_expr("_qv", "_nv"))
    else:
        q_rows = q.collect()
        qids = [r["_qid"] for r in q_rows]
        qm = np.array([r["_qv"] for r in q_rows], dtype=np.float64)
        qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
        spark = queries.sparkSession
        bc = spark.sparkContext.broadcast((qids, qn))

        out_schema = StructType(
            [
                StructField("_qid", LongType()),
                StructField("_nid", LongType()),
                StructField("_sim", DoubleType()),
            ]
        )

        # per-batch partial top-k: each batch emits only its own top
        # keep_n rows per query (plus ALL boundary ties, so the global
        # (−sim, id) order stays exact), so the exchange feeding the
        # ranking window carries O(k·batches) rows per query, not O(N)
        keep_n = k + (1 if exclude_self else 0)

        def _score(batches):
            ids, qmat = bc.value
            ids_arr = np.asarray(ids)
            for pdf in batches:
                nm = np.array(pdf["_nv"].tolist(), dtype=np.float64)
                nm = nm / np.linalg.norm(nm, axis=1, keepdims=True)
                sims = qmat @ nm.T  # (Q, B)
                B = sims.shape[1]
                if B > keep_n:
                    kth = np.partition(sims, B - keep_n, axis=1)[:, B - keep_n]
                    mask = sims >= kth[:, None]
                else:
                    mask = np.ones(sims.shape, dtype=bool)
                qi, bi = np.nonzero(mask)
                yield pd.DataFrame(
                    {
                        "_qid": ids_arr[qi],
                        "_nid": pdf["_nid"].to_numpy()[bi],
                        "_sim": sims[qi, bi],
                    }
                )

        scored = c.mapInPandas(_score, out_schema)

    if exclude_self:
        scored = scored.where(F.col("_qid") != F.col("_nid"))
    w = Window.partitionBy("_qid").orderBy(F.col("_sim").desc(), F.col("_nid").asc())
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id if query_id != corpus_id else "query_id"),
            F.col("_nid").alias("neighbor_id"),
            "rank",
            F.round(F.col("_sim"), 6).alias("sim"),
        )
    )
    if not include_sim:
        out = out.drop("sim")
    return out


def train_centroids(
    corpus: DataFrame,
    num_centroids: int,
    vec: str = "embedding",
    sample: int = 10000,
    iters: int = 10,
    seed: int = 42,
    order_col: str = "vec_id",
) -> np.ndarray:
    """Driver-side k-means (Lloyd) on a deterministic sample → (C, dim).

    The sample is the ``sample`` lowest-``order_col`` rows — an ordered
    limit compiles to TakeOrderedAndProject (per-partition top-n, no full
    sort), so determinism costs no extra shuffle (a bare limit() would
    depend on parquet split order)."""
    pdf = (
        corpus.select(F.col(order_col), F.col(vec).cast("array<double>"))
        .orderBy(order_col)
        .limit(sample)
        .collect()
    )
    X = np.array([r[1] for r in pdf], dtype=np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), num_centroids, replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ cent.T, axis=1)
        for j in range(num_centroids):
            m = assign == j
            if m.any():
                v = X[m].mean(axis=0)
                cent[j] = v / np.linalg.norm(v)
    return cent


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    num_centroids: int = 16,
    nprobe: int = 4,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """IVF approximate top-k: bucket corpus by nearest centroid, probe the
    ``nprobe`` nearest buckets per query — equi-join on bucket id."""
    cent = train_centroids(corpus, num_centroids, vec, order_col=corpus_id)
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast(cent)

    @F.pandas_udf(IntegerType())
    def _bucket(v: pd.Series) -> pd.Series:
        X = np.array(v.tolist(), dtype=np.float64)
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        return pd.Series(np.argmax(X @ bc.value.T, axis=1).astype(np.int32))

    @F.pandas_udf(ArrayType(IntegerType()))
    def _probes(v: pd.Series) -> pd.Series:
        X = np.array(v.tolist(), dtype=np.float64)
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        sims = X @ bc.value.T
        order = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(order))

    c = corpus.select(
        F.col(corpus_id).alias("_nid"),
        F.col(vec).cast("array<double>").alias("_nv"),
        _bucket(F.col(vec)).alias("_bkt"),
    )
    q = queries.select(
        F.col(query_id).alias("_qid"),
        F.col(vec).cast("array<double>").alias("_qv"),
        F.explode(_probes(F.col(vec))).alias("_bkt"),
    )
    scored = q.join(c, "_bkt").withColumn("_sim", _cosine_expr("_qv", "_nv"))
    if exclude_self:
        scored = scored.where(F.col("_qid") != F.col("_nid"))
    w = Window.partitionBy("_qid").orderBy(F.col("_sim").desc(), F.col("_nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("_qid").alias("query_id"), F.col("_nid").alias("neighbor_id"), "rank")
    )


def quantize_embeddings(
    corpus: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    with_min_norm: bool = False,
) -> tuple:
    """Scalar-quantize an embedding column to int8 codes (binary).

    Returns (codes_df[id, code binary], mins, scales) — plus the minimum
    row L2 norm when ``with_min_norm`` (the denominator of the exact-mode
    error bound in :func:`sq_topk`, collected in the same stats pass).
    Per-dimension min/max come from one mapInPandas partial pass (2×dim
    doubles per partition collected, never the vectors), so the stats job
    is a metadata-sized collect at any corpus size.  Codes are 4× smaller
    than float32 — the 100 TB scan reads 1 byte/dim instead of 4."""
    out_schema = StructType(
        [
            StructField("mn", ArrayType(DoubleType())),
            StructField("mx", ArrayType(DoubleType())),
            StructField("min_norm", DoubleType()),
        ]
    )

    def _minmax(batches):
        mn = mx = None
        min_norm = np.inf
        for pdf in batches:
            X = np.array(pdf[vec].tolist(), dtype=np.float64)
            if not len(X):
                continue
            bmn, bmx = X.min(axis=0), X.max(axis=0)
            mn = bmn if mn is None else np.minimum(mn, bmn)
            mx = bmx if mx is None else np.maximum(mx, bmx)
            min_norm = min(min_norm, float(np.linalg.norm(X, axis=1).min()))
        if mn is not None:
            yield pd.DataFrame({"mn": [mn], "mx": [mx], "min_norm": [min_norm]})

    parts = corpus.select(vec).mapInPandas(_minmax, out_schema).collect()
    mins = np.min([r["mn"] for r in parts], axis=0)
    maxs = np.max([r["mx"] for r in parts], axis=0)
    min_norm = min(r["min_norm"] for r in parts)
    scales = np.where(maxs > mins, (maxs - mins) / 255.0, 1.0)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((mins, scales))

    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def _encode(v: pd.Series) -> pd.Series:
        mn, sc = bc.value
        X = np.array(v.tolist(), dtype=np.float64)
        codes = np.clip(np.round((X - mn) / sc), 0, 255).astype(np.uint8)
        return pd.Series([c.tobytes() for c in codes])

    codes = corpus.select(F.col(id_col).alias("_nid"), _encode(F.col(vec)).alias("_code"))
    if with_min_norm:
        return codes, mins, scales, min_norm
    return codes, mins, scales


def sq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    overfetch: int = 4,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec: str = "embedding",
    exclude_self: bool = False,
    exact: bool = False,
) -> DataFrame:
    """Scalar-quantized ANN top-k with exact re-rank.

    Pass 1 scans int8 codes only (asymmetric scoring: float queries vs
    dequantized codes, one numpy matmul per Arrow batch; per-batch
    partial top-(k·overfetch) like brute_topk).  Pass 2 re-ranks the
    O(k·overfetch·batches) survivors with exact cosine over the full
    vectors via an equi-join on id — at 100 TB the code scan is 4× less
    bandwidth than float32 brute force and the exact join touches only
    the candidate sliver.

    ``exact=True`` replaces the heuristic overfetch with a branch-and-
    bound candidate rule that makes the output PROVABLY equal to exact
    brute-force top-k: the quantized cosine differs from the true cosine
    by at most ε = ‖scales‖₂ / min‖x‖₂ (dequantization error ≤ scale/2
    per dim ⇒ ‖Δx‖ ≤ ‖scales‖/2; a unit-vector perturbation moves the
    cosine by ≤ 2‖Δx‖/‖x‖).  If row r is in the true top-k, fewer than k
    batch rows can have quantized score > q(r) + 2ε (each such row's true
    score would beat r's), so r's quantized score is ≥ the batch's k-th
    largest − 2ε — keeping every row at or above that threshold has
    recall 1.0 by construction, and the exact re-rank fixes precision."""
    if exact:
        codes, mins, scales, min_norm = quantize_embeddings(
            corpus, vec, corpus_id, with_min_norm=True
        )
        eps = float(np.linalg.norm(scales)) / max(min_norm, 1e-12)
    else:
        codes, mins, scales = quantize_embeddings(corpus, vec, corpus_id)
        eps = None
    q_rows = queries.select(
        F.col(query_id).alias("_qid"), F.col(vec).cast("array<double>").alias("_qv")
    ).collect()
    qids = [r["_qid"] for r in q_rows]
    qm = np.array([r["_qv"] for r in q_rows], dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast((qids, qn, mins, scales))
    self_pad = 1 if exclude_self else 0
    keep_n = (k + self_pad) if exact else (k * overfetch + self_pad)
    margin = 2.0 * eps if exact else 0.0

    # id types follow the inputs (string ids are as valid as longs;
    # hard-coding LongType here would nullify them in the Arrow batch)
    out_schema = StructType(
        [
            StructField("_qid", queries.schema[query_id].dataType),
            StructField("_nid", corpus.schema[corpus_id].dataType),
        ]
    )

    def _scan(batches):
        ids, qmat, mn, sc, = bc.value
        ids_arr = np.asarray(ids)
        for pdf in batches:
            raw = np.frombuffer(b"".join(pdf["_code"]), dtype=np.uint8)
            X = raw.reshape(len(pdf), -1) * sc + mn  # dequantized approx
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            sims = qmat @ X.T
            B = sims.shape[1]
            if B > keep_n:
                kth = np.partition(sims, B - keep_n, axis=1)[:, B - keep_n]
                mask = sims >= kth[:, None] - margin
            else:
                mask = np.ones(sims.shape, dtype=bool)
            qi, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {"_qid": ids_arr[qi], "_nid": pdf["_nid"].to_numpy()[bi]}
            )

    cand = codes.mapInPandas(_scan, out_schema)
    # exact re-rank: join the candidate sliver back to full vectors
    c = corpus.select(
        F.col(corpus_id).alias("_nid"), F.col(vec).cast("array<double>").alias("_nv")
    )
    q = queries.select(
        F.col(query_id).alias("_qid"), F.col(vec).cast("array<double>").alias("_qv")
    )
    scored = cand.join(c, "_nid").join(q, "_qid").withColumn(
        "_sim", _cosine_expr("_qv", "_nv")
    )
    if exclude_self:
        scored = scored.where(F.col("_qid") != F.col("_nid"))
    w = Window.partitionBy("_qid").orderBy(F.col("_sim").desc(), F.col("_nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("_qid").alias("query_id"), F.col("_nid").alias("neighbor_id"), "rank")
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 16,
    bands: int = 4,
    corpus_id: str = "vec_id",
    vec: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ threshold) via random
    hyperplane LSH: each vector's sign bits pack into ``bands`` band keys,
    :func:`dedup.banded_pairs` pairs rows sharing one (only ids and band
    keys in its exchange), and the vectors are joined back by id for the
    exact cosine."""
    per_band = num_planes // bands
    # band b's bits, most significant first, packed into one long
    w = np.uint64(1) << np.arange(per_band - 1, -1, -1, dtype=np.uint64)

    @F.pandas_udf(ArrayType(LongType()))
    def _bandsig(v: pd.Series) -> pd.Series:
        X = np.array(v.tolist(), dtype=np.float64)
        # the same seeded draw in every batch: the planes need no driver
        # job to learn the vector length and no broadcast
        planes = np.random.default_rng(seed).standard_normal((num_planes, X.shape[1]))
        bits = (X @ planes.T > 0)[:, : bands * per_band].reshape(len(X), bands, per_band)
        return pd.Series(list((bits.astype(np.uint64) * w).sum(axis=2).astype(np.int64)))

    sig = corpus.select(F.col(corpus_id).alias("_id"), _bandsig(F.col(vec)).alias("_sig"))
    pairs = banded_pairs(sig, [lambda s, j=j: s[j] for j in range(bands)])
    vecs = corpus.select(
        F.col(corpus_id).alias("_id"), F.col(vec).cast("array<double>").alias("_v")
    )
    for s in "ab":
        pairs = pairs.join(vecs.withColumnsRenamed({"_id": f"id_{s}", "_v": f"_v{s}"}), f"id_{s}")
    return (
        pairs.withColumn("sim", _cosine_expr("_va", "_vb"))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )
