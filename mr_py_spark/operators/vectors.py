"""Embedding-column preparation operators (SURVEY.md §2 C3/C4
extensions): the vector-side counterparts of corpus_prep — storage
quantization and norm auditing over `array<float>` columns. All
JVM-side higher-order array expressions (transform / aggregate /
array_max): zero Python in the hot path, embarrassingly parallel,
no shuffle — the shapes that survive a 100 TB embedding store.

Float discipline (mr_py_spark/functions docstring): every compared
double here is either a single IEEE op on identically-derived inputs
(abs, x/scale, max) or an order-independent reduction (array_max,
integer sum), so DuckDB and Spark emit identical bits; no round()
below true precision anywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_py_spark.registry import register
from mr_py_spark.sources import tbl


def _scale() -> Column:
    """Symmetric int8 scale: max|x| / 127 (embeddings are L2-normalized,
    so max|x| > 0 and the division is well-defined)."""
    return F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    ) / F.lit(127.0)


@register(
    "emb_quantize_int8",
    tags=("C3", "C4"),
    oracle="""
        WITH q AS (
            SELECT vec_id,
                   list_max(list_transform(embedding,
                            x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
                   embedding
            FROM embeddings
        )
        SELECT vec_id,
               scale,
               CAST(list_sum(list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT))) AS BIGINT)
                   AS q_sum,
               md5(array_to_string(list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)), ','))
                   AS q_md5,
               list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE)
                             - round(CAST(x AS DOUBLE) / scale) * scale)))
                   AS max_abs_err
        FROM q
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (C3): the 4x storage /
    bandwidth reduction step of a large-scale vector store (scale =
    max|x|/127, q = round(x/scale)). Emitted as audit columns — the
    quantized-vector md5 fingerprint pins the exact codes, q_sum is an
    order-independent integer checksum, max_abs_err bounds the
    reconstruction error (and must be <= scale/2 by construction —
    property-asserted in tests). Row-local arithmetic only: at any
    corpus size this is one scan, no shuffle, no Python."""
    e = tbl(spark, sf_dir, "embeddings")
    x_over_s = lambda x: F.round(x.cast("double") / F.col("scale"))  # noqa: E731
    q_arr = F.transform(F.col("embedding"), lambda x: x_over_s(x).cast("long"))
    err = F.transform(
        F.col("embedding"),
        lambda x: F.abs(x.cast("double") - x_over_s(x) * F.col("scale")),
    )
    return e.withColumn("scale", _scale()).select(
        "vec_id",
        "scale",
        F.aggregate(q_arr, F.lit(0).cast("long"), lambda acc, v: acc + v).alias(
            "q_sum"
        ),
        F.md5(
            F.array_join(F.transform(q_arr, lambda v: v.cast("string")), ",")
        ).alias("q_md5"),
        F.array_max(err).alias("max_abs_err"),
    )


@register(
    "emb_norm_audit",
    tags=("C3", "B2"),
    oracle="""
        SELECT CAST(len(embedding) AS BIGINT) AS dim,
               count(*) AS n_vecs,
               min(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE))))) AS min_peak,
               max(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE))))) AS max_peak
        FROM embeddings
        GROUP BY len(embedding)
    """,
)
def emb_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-store audit (C3): dimension histogram plus the
    min/max per-vector peak magnitude — the sanity gate before any
    ANN index build (mixed dimensions or zero vectors poison IVF/LSH
    training silently). min/max of per-row maxes are order-independent
    reductions, so cross-engine bitwise-safe."""
    e = tbl(spark, sf_dir, "embeddings")
    peak = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    return (
        e.select(F.size("embedding").cast("long").alias("dim"), peak.alias("peak"))
        .groupBy("dim")
        .agg(
            F.count("*").alias("n_vecs"),
            F.min("peak").alias("min_peak"),
            F.max("peak").alias("max_peak"),
        )
    )


# Product quantization: 64-dim embeddings -> _PQ_M sub-vectors of
# _PQ_SUB dims, each encoded as the index of its nearest per-subspace
# centroid. 8 subspaces x 16 centroids = 8 four-bit codes (4 bytes) per
# vector — a 64x compression of the float32 store, the standard way a
# 10^9-vector ANN index fits in memory (Jegou, Douze, Schmid: "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011).
_PQ_M = 8
_PQ_SUB = 8  # 64 // _PQ_M
_PQ_K = 16
_PQ_TRAIN = 4096  # bounded training sample (hash-ordered, deterministic)
_PQ_ITERS = 8

#: The serve tiers' PQ geometry (knn_ivfpq_topk and the hier ADC tier):
#: 16 subspaces x 256 codewords = 16 one-byte codes per vector. Finer
#: than the storage tier's 8x16 on purpose: ADC must rank
#: within-cluster neighbours, and coarse codes collapse them to
#: identical codes (the cliff measured in _pq_train's docstring).
_ADC_M, _ADC_K = 16, 256


def arrow_matrix(col, name: str, d: int | None = None):
    """The one Arrow list -> ``(n, d)`` numpy matrix conversion behind
    every vector kernel: ``col`` is a list Array or ChunkedArray, ``d``
    the required row length (default: the first row's). A list column
    is one contiguous values buffer plus offsets, so the matrix is a
    zero-copy view of the values in their own dtype. Every row's length
    is checked, not just the total: a 63- and a 65-dim row flatten to
    2·64 values and would reshape silently into two wrong rows. A null
    vector, a null value or a wrong-length row raises a ValueError
    naming ``name``."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    n = len(col)
    lengths = np.diff(np.asarray(col.offsets))
    if d is None:
        d = int(lengths[0]) if n else 0
    vals = col.flatten()
    if col.null_count or vals.null_count or (lengths != d).any():
        raise ValueError(
            f"column {name!r} holds a null or a vector whose length is not {d}"
        )
    return vals.to_numpy(zero_copy_only=False).reshape(n, d)


def _pq_encode_frame(frame: DataFrame, books) -> DataFrame:
    """The one PQ encode pass: ``frame`` with its ``v`` column replaced
    by ``code``, each sub-vector's nearest codeword under the broadcast
    (M, K, sub) ``books``. The argmax is the matmul form
    (x·c − |c|²/2); the (rows × K × sub) difference tensor was
    memory-bandwidth-bound at sf100. A ``mapInArrow`` pass on
    ``arrow_matrix``, so a null vector or one whose length is not M·sub
    raises naming ``v``, and every other column passes through as its
    input array."""
    import pyarrow as pa
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    from mr_py_spark.util import bc

    b_books = bc(frame.sparkSession, np.asarray(books, dtype=np.float64))
    code = StructField("code", ArrayType(IntegerType()))
    schema = StructType([code if f.name == "v" else f for f in frame.schema])

    def encode(batches):
        bks = b_books.value
        m, _, sub = bks.shape
        half = 0.5 * (bks**2).sum(-1)
        for rb in batches:
            if not rb.num_rows:
                continue
            vi = rb.schema.get_field_index("v")
            X = arrow_matrix(rb.column(vi), "v", m * sub)
            codes = np.empty((len(X), m), dtype=np.int32)
            for mi in range(m):
                s = X[:, mi * sub : (mi + 1) * sub]
                codes[:, mi] = (s @ bks[mi].T - half[mi]).argmax(1)
            arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, codes.size + 1, m, dtype=np.int32)),
                pa.array(codes.reshape(-1)),
            )
            yield pa.RecordBatch.from_arrays(
                [arr if i == vi else rb.column(i) for i in range(rb.num_columns)],
                [f.name for f in schema],
            )

    return frame.mapInArrow(encode, schema)


def _kmeans_init(X, k: int, seed: int):
    """Start centres for the driver/worker Lloyd kernel: ``k`` clamped
    to the sample size, farthest-point picks at k <= 64 (argmax of d2 —
    maximally spread, a deterministic quality knob; NOT k-means++ D^2
    sampling, which would draw proportionally to d2) and a seeded
    choice above (farthest-point costs k passes over X)."""
    n = len(X)
    k = max(1, min(k, n))
    rng = np.random.RandomState(seed)
    if k > 64:
        return X[rng.choice(n, k, replace=False)]
    idx = [int(rng.randint(n))]
    d2 = ((X - X[idx[0]]) ** 2).sum(1)
    for _ in range(k - 1):
        nxt = int(d2.argmax())
        idx.append(nxt)
        d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(1))
    return X[idx]


def _nearest(X, cent, f32: bool = False):
    """Nearest centre per row: argmin ||x-c||^2 == argmax x.c - |c|^2/2.
    ``f32`` runs the matmul in float32 against a CONTIGUOUS transposed
    centre matrix: the bundled OpenBLAS measured 2.7x faster than a
    strided float64 gemm (47.7 -> 17.4 s per round at k=4096,
    n=100k). Assignment is a bucketing decision, so a float32 argmax
    is fine for a seeded quantizer."""
    half = 0.5 * (cent**2).sum(1)
    if not f32:
        return (X @ cent.T - half).argmax(1)
    ct = np.ascontiguousarray(cent.T, dtype=np.float32)
    return (X.astype(np.float32) @ ct - half.astype(np.float32)).argmax(1)


def _lloyd(X, cent, iters: int = 8, f32: bool = False):
    """THE in-memory Lloyd kernel behind every quantizer fit (IVF/hier
    roots, hier leaves, PQ codebooks, the whitening audit): ``iters``
    rounds from the float64 start centres ``cent`` (updated in place
    and returned). The mean update is a scatter-add — a per-cluster
    ``X[assign == k].mean(0)`` mask loop is O(k·n) per round, minutes
    at k=4096 — and it accumulates from float64 X whatever ``f32``
    does to the assignment. Empty clusters keep their previous centre.
    The distributed exact-integer Lloyd is kmeans.py, a different
    arithmetic on purpose (oracle-backed)."""
    for _ in range(iters):
        assign = _nearest(X, cent, f32)
        sums = np.zeros_like(cent)
        np.add.at(sums, assign, X)
        counts = np.bincount(assign, minlength=len(cent))
        occ = counts > 0
        cent[occ] = sums[occ] / counts[occ, None].astype(np.float64)
    return cent


def _unit_rows(C):
    """Rows L2-normalized (zero rows left as they are), so dot ==
    cosine during spherical assignment."""
    norms = np.linalg.norm(C, axis=1)
    norms[norms == 0.0] = 1.0
    return C / norms[:, None]


def _pq_train(X, m: int = _PQ_M, k: int = _PQ_K, sub: int = _PQ_SUB, iters: int = _PQ_ITERS):
    """Per-subspace Lloyd k-means (``_lloyd``) on the bounded training
    sample. Deterministic: init = the first ``k`` training rows in hash
    order, fixed iteration count, float64 throughout. Returns an
    (m, k, sub) codebook array. Storage quantization (emb_pq_codes)
    uses the coarse default (8x16, 4 bytes/vec); the IVFPQ search tier
    passes 16x256 (16 bytes/vec) — coarser codes collapse
    within-cluster neighbors to identical codes and ADC ranking
    degenerates (measured: nn5-in-ADC-top100 0.32 at 8x16 vs 0.99 at
    16x256 on the zipf cluster corpus)."""
    books = np.empty((m, k, sub))
    for mi in range(m):
        s = X[:, mi * sub : (mi + 1) * sub]
        books[mi] = _lloyd(s, s[:k].copy(), iters)
    return books


@register("emb_pq_codes", tags=("C3", "C4"), oracle=None)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (C3/C4): train per-subspace
    codebooks on a bounded sample, then encode every embedding as
    _PQ_M centroid indices plus its exact reconstruction error.
    Downstream, an ANN index scans these 4-byte codes with
    asymmetric-distance lookup tables instead of 256-byte float
    vectors — the memory step that makes 10^9-vector search feasible
    after IVF bucketing (``knn_ivf_topk``).

    Rows-only by design: k-means float iterations are engine-specific
    (no SQL oracle can reproduce them); determinism, code-range,
    better-than-k=1 reconstruction, and ADC-vs-exact ranking agreement
    are property-tested in tests/test_pq.py.

    Scale shape: training collects a hash-ordered _PQ_TRAIN-row sample
    (TakeOrderedAndProject; a BOUNDED metadata collect ~1 MB, the same
    exemption class as the IVF root training sample); the
    codebook broadcast is (8*16*8) doubles; encoding is ONE
    zero-shuffle Arrow-vectorized pass (mapInPandas, numpy argmin per
    subspace). Nothing in the plan scales with anything but n/width.
    """
    import pandas as pd

    from mr_py_spark.util import bc

    e = tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    train_rows = (
        e.orderBy(F.xxhash64("vec_id"), F.asc("vec_id"))
        .limit(_PQ_TRAIN)
        .select("embedding")
        .collect()
    )
    X = np.asarray([r[0] for r in train_rows], dtype=np.float64)
    b_books = bc(spark, _pq_train(X))

    def encode(batches):
        cb = b_books.value
        for pdf in batches:
            M = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            codes = np.empty((len(M), _PQ_M), dtype=np.int64)
            err = np.zeros(len(M))
            for mi in range(_PQ_M):
                sub = M[:, mi * _PQ_SUB : (mi + 1) * _PQ_SUB]
                d2 = ((sub[:, None, :] - cb[mi][None, :, :]) ** 2).sum(-1)
                codes[:, mi] = d2.argmin(1)
                err += d2[np.arange(len(M)), codes[:, mi]]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "code": [",".join(map(str, c)) for c in codes],
                    "recon_err": err,
                }
            )

    return e.mapInPandas(encode, "vec_id long, code string, recon_err double")


#: Feature-hashing embedding dimensionality for doc_embed_hash.
_FH_DIM = 16


@register(
    "doc_embed_hash",
    tags=("C3", "C5"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ), h AS (
            SELECT doc_id,
                   CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) AS hv
            FROM toks WHERE w <> ''
        ), agg AS (
            SELECT doc_id,
                   hv % {_FH_DIM} AS bucket,
                   CAST(sum(CASE WHEN (hv // {_FH_DIM}) % 2 = 0
                                 THEN 1 ELSE -1 END) AS BIGINT) AS wsum
            FROM h GROUP BY 1, 2
        ), n AS (
            SELECT doc_id, sqrt(CAST(sum(wsum * wsum) AS DOUBLE)) AS nrm
            FROM agg GROUP BY 1
        )
        SELECT agg.doc_id, bucket, wsum,
               CASE WHEN nrm = 0 THEN 0.0 ELSE wsum / nrm END AS weight
        FROM agg JOIN n ON n.doc_id = agg.doc_id
    """,
)
def doc_embed_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing document embeddings (C3/C5) — the text->vector
    bridge between the corpus operators and the similarity tier: each
    token hashes (md5, an engine-portable spec) to one of 16 buckets
    with a +/-1 sign bit (Weinberger et al.'s hashing trick, whose
    signed sum is an unbiased inner-product estimator), per-bucket
    signed counts are summed EXACTLY as integers, and the vector is
    L2-normalized at the end. Emitted long-form (doc_id, bucket,
    wsum, weight) so the driver's row canonicalizer can hash it.

    Bitwise parity: the only floats are one sqrt of an exact integer
    sum-of-squares and one division per bucket — both single
    correctly-rounded IEEE ops on identically-derived inputs (the
    float-policy fast path). Everything before that is int64.

    Scale shape: scan -> explode -> two partial-agg'd groupBys on
    (doc_id[, bucket]) and a same-key join for the norm — all
    JVM-side, no UDF, no driver state; fan-out per doc is its token
    count, output is <= 16 rows per doc. At 10^9 docs this is a
    wordcount-shaped plan."""
    return _hashed_vectors(spark, sf_dir).select(
        "doc_id",
        "bucket",
        "wsum",
        F.when(F.col("nrm") == 0, F.lit(0.0))
        .otherwise(F.col("wsum") / F.col("nrm"))
        .alias("weight"),
    )


def _hashed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bucket, wsum, nrm): the doc_embed_hash long-form vector
    plus its L2 norm — shared by the embedding query and the text-kNN
    capstone."""
    docs = tbl(spark, sf_dir, "documents")
    from mr_py_spark.functions import words

    toks = (
        docs.select("doc_id", F.explode(words(F.lower("text"))).alias("w"))
        .filter(F.col("w") != "")
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long").alias("hv"),
        )
    )
    agg = (
        toks.select(
            "doc_id",
            F.pmod("hv", F.lit(_FH_DIM)).alias("bucket"),
            F.when(F.expr(f"(hv div {_FH_DIM}) % 2") == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("sign"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").alias("wsum"))
    )
    n = agg.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wsum") * F.col("wsum")).cast("double")).alias("nrm")
    )
    return agg.join(n, "doc_id")


@register(
    "knn_text_hash_topk",
    tags=("C3", "C5"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ), h AS (
            SELECT doc_id,
                   CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) AS hv
            FROM toks WHERE w <> ''
        ), agg AS (
            SELECT doc_id,
                   hv % {_FH_DIM} AS bucket,
                   CAST(sum(CASE WHEN (hv // {_FH_DIM}) % 2 = 0
                                 THEN 1 ELSE -1 END) AS BIGINT) AS wsum
            FROM h GROUP BY 1, 2
        ), n AS (
            SELECT doc_id, sqrt(CAST(sum(wsum * wsum) AS DOUBLE)) AS nrm
            FROM agg GROUP BY 1
        ), dots AS (
            SELECT q.doc_id AS q_id, c.doc_id AS nn_id,
                   CAST(sum(q.wsum * c.wsum) AS BIGINT) AS intdot
            FROM agg q JOIN agg c
              ON c.bucket = q.bucket AND c.doc_id <> q.doc_id
            WHERE q.doc_id < 20
            GROUP BY 1, 2
        ), scored AS (
            SELECT q_id, nn_id,
                   intdot / (nq.nrm * nc.nrm) AS sim
            FROM dots
            JOIN n nq ON nq.doc_id = dots.q_id AND nq.nrm > 0
            JOIN n nc ON nc.doc_id = dots.nn_id AND nc.nrm > 0
        )
        SELECT q_id, nn_id, sim, rn
        FROM (
            SELECT q_id, nn_id, sim,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, nn_id) AS rn
            FROM scored
        )
        WHERE rn <= 5
    """,
)
def knn_text_hash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text similarity search end-to-end (C3/C5 capstone): documents ->
    hashed embeddings (the ``doc_embed_hash`` vectors) -> cosine top-5
    per query doc — the full text-to-neighbors loop with NO external
    embedding model, and bitwise-oracle-able because the dot product
    stays in EXACT int64 (sum of signed-count products, order-free)
    until a single final division by the norm product (three
    correctly-rounded IEEE ops on identically-derived inputs: two
    sqrts' product and one divide).

    Scale shape: the 20-query side is 20 x 16 rows and broadcasts;
    candidates stream through the bucket equi-join; the (q_id, nn_id)
    partial-agg'd groupBy carries q x n integer rows. That is the
    brute-force BASELINE tier, like ``knn_cosine_topk`` — at 10^9
    docs the same hashed vectors feed the IVF/LSH tiers instead. Zero
    UDFs, zero floats before the final three ops."""
    base = _hashed_vectors(spark, sf_dir).filter(F.col("nrm") > 0)
    q = base.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("q_id"),
        "bucket",
        F.col("wsum").alias("q_wsum"),
        F.col("nrm").alias("q_nrm"),
    )
    c = base.select(
        F.col("doc_id").alias("nn_id"),
        "bucket",
        F.col("wsum").alias("c_wsum"),
        F.col("nrm").alias("c_nrm"),
    )
    dots = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("q_id") != F.col("nn_id"))
        .groupBy("q_id", "nn_id")
        .agg(
            F.sum(F.col("q_wsum") * F.col("c_wsum")).alias("intdot"),
            F.first("q_nrm").alias("q_nrm"),
            F.first("c_nrm").alias("c_nrm"),
        )
        .select(
            "q_id",
            "nn_id",
            (F.col("intdot") / (F.col("q_nrm") * F.col("c_nrm"))).alias("sim"),
        )
    )
    from pyspark.sql import Window as W

    wk = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("nn_id"))
    return (
        dots.withColumn("rn", F.row_number().over(wk).cast("long"))
        .filter(F.col("rn") <= 5)
        .select("q_id", "nn_id", "sim", "rn")
    )
