"""Distributed k-means over the embedding store + SemDeDup-style
semantic dedup (SURVEY.md §2 C2/C3 + the A9 iterative family with
pagerank/connected-components/BPE).

Lloyd's algorithm is the third canonical iterative MapReduce workload
(Chu et al., NIPS 2006 "Map-Reduce for Machine Learning on Multicore"):
per round, assign every vector to its nearest centroid (map), sum
vectors per cluster (combine/reduce), recompute means (tiny driver
step). The repo's other iterative fixpoints (pagerank, BPE) are
rows-only because a float fixpoint is not single-statement SQL — this
one is ORACLE-BACKED, via two design moves:

1. **Exact integer geometry.** Vectors are quantized ONCE to a scaled-
   long grid ``q = round(x * 2^20)``. The scale is a power of two, so
   ``float32 -> double -> * 2^20`` is a pure exponent shift — the
   product is EXACT, and the only rounding is the half-away-from-zero
   integer round, identical in Spark (``F.round``: BigDecimal
   HALF_UP), DuckDB (``round()``), and the update formula below.
   Assignment then minimizes exact squared distance via the monotone
   integer score ``2*<qx,qc> - |qc|^2`` (argmin ||x-c||^2 == argmax of
   that; all int64: |q| <= 1.3*2^20, 64-dim dot <= 2^47). Centroid
   update re-quantizes the mean with EXACT integer half-away rounding
   — ``sign(s) * ((2|s| + cnt) div (2 cnt))`` — no double division
   anywhere, so no ULP hazard anywhere. Every iteration is therefore
   bit-identical on any engine at any parallelism.
2. **Bounded iteration unrolls.** 5 Lloyd rounds with deterministic
   seeding (first k vectors by vec_id — k = clamp(n/64, 8..4096),
   n-adaptive like _ivf_nlist) unroll into a 5-stage CTE chain the
   oracle replays verbatim: score -> row_number argmin -> per-dim
   integer sums -> integer-rounded means, with empty clusters
   carrying their previous centroid via LEFT JOIN + COALESCE.

Scale shape (the part that matters at 100 TB): assignment is one
mapInPandas pass per round against a BROADCAST (k x dim) int64
centroid matrix — zero shuffle, scored by float64 dgemm that is
EXACT on these integer magnitudes (see _argmin_cluster; the
_ivf_candidates assignment pattern). The reduce is a map-side
partial: each PARTITION emits <= k rows of (cid, count, per-dim
sums), so the driver collects O(partitions * k) bounded metadata per
round — the
same bounded-collect class as the IVF centroid training (CLAUDE.md
exemption list), never a data-sized frame. Per-cluster int64 sums
stay exact to ~2^41 max-magnitude vectors per cluster (per-dim |q|
<= 1.3*2^20 ~ 2^21, and _round_mean's 2*s doubling costs one more
bit off the naive 2^42 envelope). The oracle's n*k scored
cross join exists ONLY oracle-side (DuckDB at sf0.01); the Spark plan
never materializes it.

``semantic_dedup`` is SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
cluster the corpus, then mine near-duplicate pairs ONLY within each
cluster — per-cluster pairwise work is O(sum s_c^2), and because k
grows with n (average cluster ~64 vectors), total candidate work is
O(n * avg_cluster), linear in the corpus where all-pairs is
quadratic. Pair similarity is the repo's standard fold-dot on the
original double-cast embeddings (bitwise vs DuckDB's
list_dot_product — the cosine_near_dup_pairs precedent), and the
keep rule is the house star rule: drop a vector iff some
lower-vec_id cluster-mate has sim >= _TAU (0.35 here — the classic
SemDeDup epsilon of 0.9 is vacuous on the synthetic embeddings, see
the _TAU comment).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_py_spark.functions import dot
from mr_py_spark.operators.vectors import arrow_matrix
from mr_py_spark.registry import register
from mr_py_spark.sources import tbl
from mr_py_spark.util import bc as _bc

#: Quantization grid: a POWER OF TWO, so x * _S is exact in IEEE
#: double (exponent shift) and the only rounding is the half-away
#: integer round — identical in Spark, DuckDB, and numpy.
_S = 1 << 20
_DIM = 64  # embeddings fixture dimension (all sfs)
_N_ITER = 5
# semantic_dedup similarity threshold. The synthetic embeddings carry
# no 0.9-grade near-dups (max pairwise dot at sf0.01 is 0.513), so the
# classic SemDeDup epsilon would make the operator vacuously drop
# nothing; 0.35 sits in the top ~0.1% of the pair-sim distribution and
# exercises real drops at every fixture sf (75 at sf0.001, 98 at
# sf0.01) while staying a pure constant both engines compare exactly.
_TAU = 0.35


def _kmeans_k(n: int) -> int:
    """n-adaptive cluster count: average cluster ~64 vectors (the
    SemDeDup scale knob — within-cluster pairwise work stays linear in
    n), clamped like _ivf_nlist so the centroid broadcast is bounded
    (4096 x 64 longs = 2 MB)."""
    return max(8, min(4096, n // 64))


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qx array<long>): the exact scaled-long grid. JVM-side
    expressions only; one scan, no shuffle."""
    return tbl(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * F.lit(float(_S))).cast("long"),
        ).alias("qx"),
    )


def _round_mean(s: np.ndarray, cnt: int) -> np.ndarray:
    """Exact integer half-away-from-zero rounding of s/cnt, mirroring
    the oracle's CASE ... // formula bit-for-bit: both branches keep
    non-negative operands, where floor division == truncation."""
    s = s.astype(np.int64)
    pos = (2 * s + cnt) // (2 * cnt)
    neg = -((-2 * s + cnt) // (2 * cnt))
    return np.where(s >= 0, pos, neg).astype(np.int64)


def _score_mats(c: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(float64 centroid matrix, float64 |qc|^2 row) for the exact
    BLAS-path scoring in _argmin_cluster."""
    return c.astype(np.float64), (c * c).sum(1).astype(np.float64)


def _argmin_cluster(m: np.ndarray, cf: np.ndarray, normsq: np.ndarray) -> np.ndarray:
    """Nearest-centroid index via the integer score 2<qx,qc> - |qc|^2,
    computed in float64 dgemm — EXACT, not approximate: every product
    (<= 2^42) and every partial sum (<= 64 * 2^42 = 2^48) is an
    integer below 2^53, so float64 holds each intermediate exactly
    regardless of BLAS accumulation/blocking order. The BLAS path is
    ~20x the int64 matmul (which numpy executes as naive C loops), at
    zero exactness cost; np.argmax takes the first maximum, matching
    the oracle's ORDER BY score DESC, cid ASC."""
    return (2.0 * (m.astype(np.float64) @ cf.T) - normsq[None, :]).argmax(1)


def _lloyd(spark: SparkSession, sf_dir: str):
    """Run _N_ITER exact-integer Lloyd rounds; returns
    (cids, qc_prev, qc_final, counts) where qc_prev is the centroid
    matrix the FINAL assignment scored against (iteration _N_ITER's
    input), qc_final the post-update centroids, and counts the final
    assignment's per-cluster sizes. Memoized per sf_dir (plain numpy /
    int state only — safe across sessions), the bpe.py pattern, since
    kmeans_embeddings and semantic_dedup share the run."""
    cached = _LLOYD_CACHE.get(sf_dir)
    if cached is not None:
        return cached
    q = _quantized(spark, sf_dir).persist()
    n = q.count()
    k = _kmeans_k(n)
    seeds = q.orderBy("vec_id").limit(k).collect()  # bounded: k <= 4096
    cids = np.asarray([r.vec_id for r in seeds], dtype=np.int64)
    qc = np.asarray([r.qx for r in seeds], dtype=np.int64)
    counts = None
    qc_prev = qc
    for _ in range(_N_ITER):
        qc_prev = qc
        b_qc = _bc(spark, qc)

        def partials(batches):
            # One output row-set per PARTITION, not per Arrow batch:
            # the accumulator spans the iterator, so the driver
            # collects O(partitions * k) rows regardless of batch
            # count — the map-side combiner, hand-rolled. Arrow, not
            # pandas: qx arrives as a contiguous list<int64> buffer
            # that arrow_matrix views zero-copy as the (rows, dim)
            # matrix, where per-row Python list objects would scale
            # with row count (SCALE.md r9: 0.81 s -> 0.01 s per pass).
            import pyarrow as pa

            c = np.asarray(b_qc.value, dtype=np.int64)
            kk, dim = c.shape
            cf, normsq = _score_mats(c)
            sums = np.zeros((kk, dim), dtype=np.int64)
            cnt = np.zeros(kk, dtype=np.int64)
            for rb in batches:
                if not len(rb):
                    continue
                m = arrow_matrix(rb.column(1), "qx", _DIM)
                cl = _argmin_cluster(m, cf, normsq)
                np.add.at(sums, cl, m)
                cnt += np.bincount(cl, minlength=kk)
            nz = np.nonzero(cnt)[0]
            if len(nz):
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(nz.astype(np.int64)),
                        pa.array(cnt[nz].astype(np.int64)),
                        pa.array([r.tolist() for r in sums[nz]],
                                 type=pa.list_(pa.int64())),
                    ],
                    ["ci", "cnt", "psum"],
                )

        rows = q.mapInArrow(partials, "ci long, cnt long, psum array<long>").collect()
        tot = np.zeros_like(qc)
        cnts = np.zeros(k, dtype=np.int64)
        for r in rows:  # bounded: <= batches * k metadata rows
            tot[r.ci] += np.asarray(r.psum, dtype=np.int64)
            cnts[r.ci] += r.cnt
        counts = cnts
        qc = qc.copy()
        live = np.nonzero(cnts)[0]
        for ci in live:  # empty clusters carry their previous centroid
            qc[ci] = _round_mean(tot[ci], int(cnts[ci]))
    q.unpersist(blocking=False)
    out = (cids, qc_prev, qc, counts)
    _LLOYD_CACHE[sf_dir] = out
    return out


_LLOYD_CACHE: dict[str, tuple] = {}


def _assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster): the final Lloyd assignment as a distributed
    frame — one broadcast-argmax mapInPandas pass, no shuffle."""
    cids, qc_prev, _, _ = _lloyd(spark, sf_dir)
    b_qc = _bc(spark, qc_prev)
    b_cids = _bc(spark, cids)

    def assign(batches):
        import pyarrow as pa

        c = np.asarray(b_qc.value, dtype=np.int64)
        ids = np.asarray(b_cids.value, dtype=np.int64)
        cf, normsq = _score_mats(c)
        for rb in batches:
            if not len(rb):
                continue
            cl = _argmin_cluster(arrow_matrix(rb.column(1), "qx", _DIM), cf, normsq)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), pa.array(ids[cl])], ["vec_id", "cluster"]
            )

    return _quantized(spark, sf_dir).mapInArrow(assign, "vec_id long, cluster long")


def _kmeans_chain_sql(n_iter: int = _N_ITER) -> str:
    """Unrolled Lloyd CTE chain (q, c0, s1..sN, m1..mN, c1..cN): the
    oracle replay of the exact-integer iteration. Deterministically
    assembled at import, so the registry fingerprint is stable."""
    parts = [
        f"""q AS (
            SELECT vec_id,
                   list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {float(_S)}) AS BIGINT)) AS qx
            FROM embeddings
        ),
        c0 AS (
            SELECT vec_id AS cid, qx AS qc FROM (
                SELECT vec_id, qx, row_number() OVER (ORDER BY vec_id) AS rn FROM q
            ) WHERE rn <= GREATEST(8, LEAST(4096, (SELECT count(*) FROM q) // 64))
        )"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""s{i} AS (
            SELECT vec_id, qx, cid FROM (
                SELECT q.vec_id, q.qx, c.cid,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY 2 * list_sum(list_transform(range(1, {_DIM + 1}),
                                        d -> q.qx[d] * c.qc[d]))
                                    - list_sum(list_transform(c.qc, v -> v * v)) DESC,
                                    c.cid ASC
                       ) AS rn
                FROM q CROSS JOIN c{i - 1} c
            ) WHERE rn = 1
        ),
        m{i} AS (
            SELECT cid, t.d AS d, sum(qx[t.d]) AS s, count(*) AS cnt
            FROM s{i} CROSS JOIN range(1, {_DIM + 1}) t(d)
            GROUP BY cid, t.d
        ),
        c{i} AS (
            SELECT p.cid, COALESCE(u.qc, p.qc) AS qc
            FROM c{i - 1} p LEFT JOIN (
                SELECT cid,
                       list(CAST(CASE WHEN s >= 0 THEN (2*s + cnt) // (2*cnt)
                                      ELSE -((-2*s + cnt) // (2*cnt)) END AS BIGINT)
                            ORDER BY d) AS qc
                FROM m{i} GROUP BY cid
            ) u ON p.cid = u.cid
        )"""
        )
    return ",\n        ".join(parts)


@register(
    "kmeans_embeddings",
    tags=("C3", "A9", "B27", "B2"),
    oracle=f"""
        WITH {_kmeans_chain_sql()}
        SELECT c.cid AS cluster,
               CAST(COALESCE(n.n_vecs, 0) AS BIGINT) AS n_vecs,
               CAST(list_sum(list_transform(c.qc, v -> abs(v))) AS BIGINT) AS qc_l1,
               md5(array_to_string(c.qc, ',')) AS qc_md5
        FROM c{_N_ITER} c
        LEFT JOIN (SELECT cid, count(*) AS n_vecs FROM s{_N_ITER} GROUP BY cid) n
               ON c.cid = n.cid
    """,
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact-integer k-means (5 Lloyd rounds, n-adaptive
    k): per-cluster size plus two exact centroid fingerprints (L1 mass
    and the md5 of the comma-joined quantized components) — every bit
    of every centroid is pinned cross-engine, iteration for iteration.
    See the module docstring for why this iterative fixpoint — unlike
    pagerank/BPE — admits a full DuckDB oracle: bounded unrolling +
    integer-only geometry. The Spark plan per round is one broadcast-
    argmax scan with map-side k-row partial moments (never the
    oracle's n*k scored join); the driver holds only O(k * dim)
    centroid state, the Lloyd pattern at any corpus size."""
    cids, _, qc_final, counts = _lloyd(spark, sf_dir)
    rows = []
    for i, cid in enumerate(cids):
        s = ",".join(str(int(v)) for v in qc_final[i])
        rows.append(
            (
                int(cid),
                int(counts[i]),
                int(np.abs(qc_final[i]).sum()),
                hashlib.md5(s.encode()).hexdigest(),
            )
        )
    return spark.createDataFrame(
        rows, "cluster long, n_vecs long, qc_l1 long, qc_md5 string"
    )


@register(
    "semantic_dedup",
    tags=("C2", "C3"),
    oracle=f"""
        WITH {_kmeans_chain_sql()},
        t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        dropped AS (
            SELECT DISTINCT a.vec_id
            FROM s{_N_ITER} a
            JOIN s{_N_ITER} b ON a.cid = b.cid AND b.vec_id < a.vec_id
            JOIN t ta ON ta.vec_id = a.vec_id
            JOIN t tb ON tb.vec_id = b.vec_id
            WHERE list_dot_product(ta.v, tb.v) >= {_TAU}
        )
        SELECT s.vec_id, s.cid AS cluster
        FROM s{_N_ITER} s LEFT JOIN dropped d ON s.vec_id = d.vec_id
        WHERE d.vec_id IS NULL
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding near-dup removal with
    candidate pairs restricted to k-means cluster-mates. Survivors =
    vectors with NO lower-vec_id cluster-mate at cosine >= _TAU (0.35
    — the classic SemDeDup epsilon 0.9 is vacuous on this fixture,
    see the _TAU comment; the house star rule otherwise; embeddings
    are unit-norm so fold-dot == cosine).

    Scale shape: candidate pairs are restricted to CLUSTER-MATES —
    never a cross join — and k grows with n (avg cluster ~64), so
    candidate work is O(n * avg_cluster), linear where the
    cosine_near_dup_pairs oracle baseline is quadratic. Verification
    runs as one cluster-grouped fold-order Arrow kernel
    (similarity.cell_survivors): the per-pair float64 op sequence is
    identical to the Catalyst fold-dot AND to DuckDB's sequential
    list_dot_product, so the threshold compare stays deterministic
    cross-engine while replacing ~n*avg_cluster interpreted
    higher-order-function evaluations with ~dim fused numpy ops per
    cluster (the equi-join + expression reference form measured 8-10x
    slower on the sf100 delta triage, SCALE.md r12). The oracle
    replays the identical exact-integer clustering, so the pair SET
    matches exactly."""
    from mr_py_spark.operators.similarity import cell_survivors

    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return cell_survivors(
        _assignment(spark, sf_dir).join(e, "vec_id"), ("cluster",), _TAU
    )


@register(
    "kmeans_inertia",
    tags=("C3", "B2", "B7"),
    oracle=f"""
        WITH {_kmeans_chain_sql()},
        e AS (
            SELECT s.cid,
                   list_sum(list_transform(range(1, {_DIM + 1}),
                       d -> (s.qx[d] - c.qc[d]) * (s.qx[d] - c.qc[d]))) AS sse
            FROM s{_N_ITER} s JOIN c{_N_ITER - 1} c ON s.cid = c.cid
        )
        SELECT cid AS cluster,
               count(*) AS n_vecs,
               CAST(sum(sse) AS BIGINT) AS sse
        FROM e GROUP BY cid
    """,
)
def kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster INERTIA (exact integer SSE) of the final Lloyd
    assignment — the clustering-quality metric every k-means user
    reads first (elbow curves, drift monitoring), and it stays
    bitwise-oracle-checked because the geometry is the quantized
    integer grid: per-vector SSE = |qx|^2 - score (the argmax score is
    2<qx,qc> - |qc|^2, so the subtraction IS the squared distance),
    every term an integer below 2^50 held exactly by the float64
    dgemm path (_argmin_cluster's envelope).

    SSE is measured against the centroids the final assignment scored
    (qc_prev = the oracle's c{{N-1}}, joined to s{{N}}) — standard Lloyd
    inertia, where the metric is consistent with the assignment.

    Scale shape: the same zero-shuffle broadcast-argmax pass as
    ``_assignment``, with a hand-rolled per-PARTITION combiner (k rows
    of (cluster, count, sse) per partition, sse accumulated in Python
    arbitrary-precision ints since a partition's running SSE can pass
    2^63); the k-row partials reduce through one tiny groupBy where
    the sums live in DECIMAL(38,0) — exact and order-free at any
    corpus size, the PageRank decimal argument.

    The FINAL emit narrows to BIGINT on both sides (r10, the r7
    skew_audit / r9 attribution false-red class: Spark Decimal vs
    DuckDB DECIMAL(38,0) reach the driver's pandas hash as different
    dtypes despite equal values). The narrowing is exact while a
    cluster's total SSE < 2^63: unit embeddings give per-vector SSE
    <= |qx - qc|^2 <= 4 * 2^40 = 2^42, so BIGINT holds ~2^21 (~2M)
    vectors per cluster — 64 expected under the n-adaptive k; past
    that, flip the two casts back to DECIMAL(38,0), the internal
    accumulators already carry it."""
    from decimal import Decimal

    cids, qc_prev, _, _ = _lloyd(spark, sf_dir)
    b_qc = _bc(spark, qc_prev)
    b_cids = _bc(spark, cids)

    def partials(batches):
        import pyarrow as pa

        c = np.asarray(b_qc.value, dtype=np.int64)
        ids = np.asarray(b_cids.value, dtype=np.int64)
        cf, normsq = _score_mats(c)
        cnt: dict[int, int] = {}
        sse: dict[int, int] = {}
        for rb in batches:
            if not len(rb):
                continue
            m = arrow_matrix(rb.column(1), "qx", _DIM)
            cl = _argmin_cluster(m, cf, normsq)
            # per-vector SSE = |qx|^2 - (2<qx,qc*> - |qc*|^2), all
            # integer-exact in float64 at these magnitudes; the
            # per-cluster fold runs in numpy (bincount), lifted to
            # Python bigints only at the <= k accumulator entries.
            mq = m.astype(np.float64)
            score = 2.0 * np.einsum("ij,ij->i", mq, cf[cl]) - normsq[cl]
            ev = ((mq * mq).sum(1) - score).astype(np.int64)
            # Exactness guard: per-vector SSE <= 2^50, so an int64
            # partial sum holds <= 2^13 rows safely; fold 8192-row
            # slices into the Python-bigint accumulators (a float-
            # weighted bincount would silently round past 2^53).
            for lo in range(0, len(ev), 8192):
                sl = slice(lo, lo + 8192)
                bc = np.bincount(cl[sl], minlength=len(ids))
                bs = np.zeros(len(ids), dtype=np.int64)
                np.add.at(bs, cl[sl], ev[sl])
                for ci in np.nonzero(bc)[0]:
                    key = int(ids[ci])
                    cnt[key] = cnt.get(key, 0) + int(bc[ci])
                    sse[key] = sse.get(key, 0) + int(bs[ci])
        if cnt:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(list(cnt), type=pa.int64()),
                    pa.array([cnt[k] for k in cnt], type=pa.int64()),
                    pa.array([Decimal(sse[k]) for k in cnt],
                             type=pa.decimal128(38, 0)),
                ],
                ["cluster", "cnt", "sse"],
            )

    parts = _quantized(spark, sf_dir).mapInArrow(
        partials, "cluster long, cnt long, sse decimal(38,0)"
    )
    agg = parts.groupBy("cluster").agg(
        F.sum("cnt").alias("n_vecs"),
        F.sum("sse").alias("sse_dec"),
    )
    # Guard the DECIMAL(38,0)->BIGINT narrowing: past 2^63 the
    # non-ANSI cast silently yields NULL, turning overflow into a
    # wrong compared value instead of an error (ADVICE r10). The
    # docstring's envelope (~2M max-magnitude vectors per cluster) is
    # far beyond the fixture, so the branch is dead here — it exists
    # for the 100 TB deployment that outgrows it.
    return agg.select(
        "cluster",
        "n_vecs",
        F.when(
            F.col("sse_dec") > F.lit(2**63 - 1),
            F.raise_error(
                F.concat(
                    F.lit("kmeans_inertia: cluster SSE overflows int64; "
                          "emit DECIMAL(38,0) instead (cluster "),
                    F.col("cluster").cast("string"),
                    F.lit(")"),
                )
            ).cast("long"),
        )
        .otherwise(F.col("sse_dec").cast("long"))
        .alias("sse"),
    )
