"""Similarity search over embeddings (SURVEY.md §2C: C3).

The embeddings fixture is 64-dim float32, L2-normalized, so dot
product == cosine similarity (FIXTURES.md). Three tiers:

- brute-force top-k (oracle-checked) — correctness baseline;
- threshold pair mining (oracle-checked);
- IVF-bucketed approximate top-k (rows-only + recall property test) —
  the 100 TB path: candidate generation is an equi-join on a coarse
  centroid id, so cost is O(n * k / nlist), not O(n^2).

Float determinism: both engines cast float32 -> double BEFORE any
multiply, so products are exact and the left-to-right double
accumulation is bit-identical; round(_, 6) is then stable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mr_py_spark.functions import dot
from mr_py_spark.registry import register
from mr_py_spark.sources import tbl
from mr_py_spark.util import (
    _LocalBroadcast,
    bc as _bc,
    shuffle_width,
    table_rows as _table_rows,
)


# Block-grid size for the exact kNN self-join: a block pair is an
# (n/B x n/B) matmul in one task, so raise this as the corpus grows
# (target: 2*(n/B)*64*8 bytes of input + the sim tile per task).
_KNN_BLOCKS = int(os.environ.get("SPARK_GRAFT_KNN_BLOCKS", "0"))  # 0 = auto


def _knn_blocks(n: int) -> int:
    """Auto-size the block grid: keep each block near _BLOCK_ROWS rows
    so a pair's matmul tile stays cache/memory-friendly and the B^2
    pairs spread evenly over the executor cores; explicit env wins."""
    if _KNN_BLOCKS > 0:
        return _KNN_BLOCKS
    return max(4, min(64, round(n / _BLOCK_ROWS)))




# ~B^2 pairs of (n/B)-row blocks: n/B near 1500 keeps a pair's tile at
# ~1500^2 sims (18 MB) and, at n=20k, yields B=13 -> 169 pairs that
# level across 32 cores instead of 16 lumpy half-second ones.
_BLOCK_ROWS = 1500


def _emb_double(df: DataFrame, out: str) -> DataFrame:
    return df.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias(out)
    )


@register(
    "knn_cosine_topk",
    tags=("C3",),
    oracle="""
        WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 50),
             c AS (SELECT vec_id AS nn_id, CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings)
        SELECT q_id, nn_id, round(sim, 6) AS sim, rn
        FROM (
            SELECT q.q_id, c.nn_id,
                   list_dot_product(q.qv, c.cv) AS sim,
                   row_number() OVER (PARTITION BY q.q_id
                                      ORDER BY list_dot_product(q.qv, c.cv) DESC, c.nn_id) AS rn
            FROM q, c
            WHERE q.q_id <> c.nn_id
        )
        WHERE rn <= 5
    """,
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 50 query vectors (C3 baseline).

    The query side is tiny and broadcast, so the 'cross join' is a
    broadcast nested loop over the candidate scan — each candidate
    partition streams once, no shuffle of the big side. Top-k is a
    window over q_id. For all-pairs at scale use knn_ivf_topk.
    """
    e = tbl(spark, sf_dir, "embeddings")
    q = _emb_double(e.filter(F.col("vec_id") < 50), "qv").withColumnRenamed("vec_id", "q_id")
    c = _emb_double(e, "cv").withColumnRenamed("vec_id", "nn_id")
    pairs = q.join(c, q.q_id != c.nn_id).select(
        "q_id", "nn_id", dot("qv", "cv").alias("sim")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("nn_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select("q_id", "nn_id", F.round("sim", 6).alias("sim"), "rn")
    )


@register(
    "cosine_near_dup_pairs",
    tags=("C2", "C3"),
    oracle="""
        WITH t AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v), 6) AS sim,
               CAST(a.label = b.label AS INTEGER)   AS same_label
        FROM t a, t b
        WHERE a.vec_id < b.vec_id
          AND list_dot_product(a.v, b.v) >= 0.9
    """,
)
def cosine_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate mining (C2/C3): all pairs with
    sim >= 0.9. This exact form is the ORACLE BASELINE ONLY — the plan
    is an all-pairs broadcast nested loop, O(n^2) at any cluster
    width. The registered scale form with the same semantics is
    ``cosine_near_dup_pairs_lsh`` (banded random-hyperplane buckets,
    equi-join candidates, exact verify; recall >= 0.9 property-tested
    against this query's pair set)."""
    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a = e.alias("a")
    b = e.alias("b")
    sim = dot(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            sim.alias("sim_raw"),
            (F.col("a.label") == F.col("b.label")).cast("int").alias("same_label"),
        )
        .filter(F.col("sim_raw") >= 0.9)
        .select("id_a", "id_b", F.round("sim_raw", 6).alias("sim"), "same_label")
    )


_NDP_THRESHOLD = 0.9  # the registered pair-mining threshold


def _rp_bands(n: int) -> tuple[int, int]:
    """Banded random-hyperplane LSH shape for threshold PAIR mining.

    r sign bits per band give 2^r buckets. Unlike the per-query top-k
    tier (whose cost is queries x bucket), pair mining joins every
    bucket with ITSELF, so far-pair candidate mass is
    b * n^2 / 2^(r+1): buckets must hold O(1) random rows, i.e.
    r ~ log2(n) — NOT a fixed bucket-row target. (The r6 shape held
    buckets at 4096 rows; at sf100's 2M vectors that is 4e10
    candidate pairs and a filled disk before the first distinct. With
    r = log2(n) the same corpus yields ~7e7.) The band count b is
    then solved for recall: a boundary pair at sim == 0.9 agrees per
    bit with prob q = 1 - acos(0.9)/pi ~ 0.856, collides in one band
    with prob q^r, and must collide in at least one of b bands with
    prob >= 0.95:

        b = ceil(ln 0.05 / ln(1 - q^r))

    r=8 -> b=9 (fixtures); r=21, b=77 at 2M vectors; the r=24 cap ->
    b=122 (per-vector fan-out 122 rows — the linear-cost regime with
    an honest constant, vs the quadratic blowup of fat buckets).
    Banding is the knob that keeps recall at scale — unlike
    single-table multiprobe, whose recall decays as planes grow (see
    knn_rplsh_topk notes).
    """
    import math

    r = max(8, min(24, math.ceil(math.log2(max(n, 2)))))
    q = 1.0 - math.acos(_NDP_THRESHOLD) / math.pi
    b = math.ceil(math.log(0.05) / math.log(1.0 - q**r))
    return r, b


@register("cosine_near_dup_pairs_lsh", tags=("C2", "C3"), oracle=None)
def cosine_near_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale form of ``cosine_near_dup_pairs``: same semantics (all
    pairs with cosine sim >= 0.9, exact sims, same output schema) with
    banded random-hyperplane LSH candidate generation instead of the
    O(n^2) nested loop.

    Plan (every join an equi-join; no cartesian, plan-asserted):
      1. one mapInPandas pass signs r*b seeded random projections and
         emits b (vec_id, band, key) rows per vector — fan-out b,
         zero shuffle;
      2. candidates = self-equi-join on (band, key) with id_a < id_b,
         then pair distinct (a true near-dup pair can collide in
         several bands);
      3. exact verify: join the two vectors back by id and keep pairs
         with dot >= 0.9 — so PRECISION IS EXACT (output is a subset
         of the exact query's pairs) and only recall is probabilistic
         (>= 0.95 by the _rp_bands design, property-tested >= 0.9
         against the exact pair set in tests/test_properties.py).

    Rows-only by design: the emitted SUBSET depends on the seeded
    planes, so no engine-independent SQL oracle exists; correctness is
    anchored by the precision-exactness + recall property tests (the
    shipped fixtures have ZERO pairs at the 0.9 threshold at every sf,
    so the property test plants a synthetic near-dup corpus through
    ``_near_dup_pairs_lsh_core`` — an empty-result fixture run would
    be vacuous).

    One SENTINEL row rides the registered form (VERDICT r14 item 6:
    this query's only driver evidence ever was an empty frame — a
    rows-only check that never emits is a blind spot): a
    byte-identical twin of vec_id 0 at id 2_000_000_000, so every
    driver run deterministically emits at least the (0, 2e9) pair at
    sim 1.0 REGARDLESS of the seeded planes (identical vectors share
    every sign signature — the `_planted` twin's licensing argument),
    while every other emitted pair is a true corpus pair. Production
    callers use ``_near_dup_pairs_lsh_core`` directly, which stays
    sentinel-free.
    Shuffle profile at 10^9 vectors: n*b signature rows keyed by
    (band, key) — O(1)-row buckets on the far-pair mass by the
    _rp_bands design. Genuinely dense near-dup GROUPS enlarge their
    own buckets in proportion to the true output size, which for
    "list every pair" is quadratic in group size — on a corpus that
    is mostly copies (e.g. the 1000x-replicated sf100 fixture, ~1e9
    true pairs) this query is output-bound by its own semantics. A
    DEDUP pass should use ``cosine_dup_clusters`` instead, whose
    star-edge formulation stays linear on exactly that corpus."""
    e = tbl(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    sentinel = e.filter(F.col("vec_id") == 0).select(
        F.lit(2_000_000_000).alias("vec_id"), "label", "embedding"
    )
    return _near_dup_pairs_lsh_core(
        spark,
        e.unionByName(sentinel),
        _table_rows(e, sf_dir, "embeddings"),
    )


def _rp_signatures(spark: SparkSession, e: DataFrame, n: int, dim: int = 64) -> DataFrame:
    """Banded random-hyperplane signatures: b (vec_id, band, key) rows
    per vector, one zero-shuffle mapInPandas pass over the broadcast
    plane matrix. Shared by the pair miner and the star-edge cluster
    path."""
    import numpy as np
    import pandas as pd

    r, b = _rp_bands(n)
    rng = np.random.RandomState(11)
    planes = rng.standard_normal((dim, r * b))
    b_planes = _bc(spark, planes)

    def band_keys(batches):
        pl = b_planes.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            bits = (m @ pl) > 0  # (rows, r*b)
            keys = (
                bits.reshape(len(pdf), b, r)
                * (1 << np.arange(r, dtype=np.int64))
            ).sum(axis=2)  # (rows, b)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), b),
                    "band": np.tile(np.arange(b, dtype=np.int64), len(pdf)),
                    "key": keys.reshape(-1),
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        band_keys, "vec_id long, band long, key long"
    )


def _near_dup_pairs_lsh_core(
    spark: SparkSession, e: DataFrame, n: int, dim: int = 64
) -> DataFrame:
    """Banded-LSH threshold pair mining over any (vec_id, label,
    embedding) frame — see ``cosine_near_dup_pairs_lsh``."""
    sig = _rp_signatures(spark, e, n, dim)
    cand = (
        sig.alias("a")
        .join(sig.alias("b"), ["band", "key"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
        )
        .distinct()
    )
    v = e.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    av = v.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("label_a"),
        F.col("v").alias("va"),
    )
    bv = v.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
    )
    return (
        cand.join(av, "id_a")
        .join(bv, "id_b")
        .withColumn("sim_raw", dot("va", "vb"))
        .filter(F.col("sim_raw") >= F.lit(_NDP_THRESHOLD))
        .select(
            "id_a",
            "id_b",
            F.round("sim_raw", 6).alias("sim"),
            (F.col("label_a") == F.col("label_b")).cast("int").alias("same_label"),
        )
    )


@register(
    "cosine_near_dup_pairs_lsh_planted",
    tags=("C2", "C3"),
    oracle="""
        WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                      FROM embeddings),
        t AS (
            SELECT * FROM base
            UNION ALL
            SELECT vec_id + 1000000 AS vec_id, label, v
            FROM base WHERE vec_id % 10 = 3
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v), 6) AS sim,
               CAST(a.label = b.label AS INTEGER)   AS same_label
        FROM t a, t b
        WHERE a.vec_id < b.vec_id
          AND list_dot_product(a.v, b.v) >= 0.9
    """,
)
def cosine_near_dup_pairs_lsh_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded-LSH pair miner over a corpus with PLANTED exact
    duplicates — and, unusually for the LSH family, ORACLE-BACKED
    (VERDICT r12 item 5: `cosine_near_dup_pairs_lsh`'s only driver
    evidence ever is 0 rows, because the shipped fixtures carry no
    pairs at the 0.9 threshold — correct, but the driver never saw the
    banded plan EMIT). Every 10th fixture vector gets a byte-identical
    twin (vec_id + 1e6); identical vectors produce identical sign
    signatures under ANY plane matrix, so the miner's recall on the
    planted pairs is deterministically 1 — not probabilistic — while
    precision is exact by the verify step and the base fixture
    contributes no other >= 0.9 pair at any shipped sf. The emitted
    set therefore equals the exact all-pairs result REGARDLESS of the
    seeded planes, which is what licenses the SQL oracle for a seeded
    plan (the unplanted form stays rows-only: its recall on generic
    near-dups is the probabilistic _rp_bands bound). Same banded plan
    as the production form — signatures, (band, key) self-equi-join,
    exact fold-dot verify; no cartesian anywhere."""
    e = tbl(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    twins = e.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        "label",
        "embedding",
    )
    frame = e.unionByName(twins)
    return _near_dup_pairs_lsh_core(
        spark, frame, _table_rows(e, sf_dir, "embeddings")
    )


@register(
    "cosine_top_pairs",
    tags=("C2", "C3"),
    oracle="""
        WITH t AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT id_a, id_b, round(sim_raw, 6) AS sim, same_label
        FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   list_dot_product(a.v, b.v) AS sim_raw,
                   CAST(a.label = b.label AS INTEGER) AS same_label
            FROM t a, t b
            WHERE a.vec_id < b.vec_id
        )
        ORDER BY sim_raw DESC, id_a, id_b
        LIMIT 100
    """,
)
def cosine_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 most-similar embedding pairs (C2/C3) — the
    threshold-free companion to ``cosine_near_dup_pairs``. The 0.9
    threshold query is vacuously empty on the shipped fixtures (zero
    pairs cross it at any sf), so this form exists to exercise pair
    EMISSION end-to-end at the driver: a top-k over all pairs is
    nonempty on every corpus.

    Plan (the knn_selfjoin shape adapted to unordered pairs): vectors
    hash into B blocks; side A replicates block p to tasks (p, j>=p),
    side B to tasks (i<=p, p), so each unordered block pair {i,j} is
    exactly one cogroup task. The task matmuls its (n/B x n/B) tile in
    strip-mined float32 and keeps its local top-100 pair ids WITH a
    1e-3 sim margin — tile sims are only used to SELECT candidates,
    never emitted (f32 error ~1e-6 and BLAS accumulation-order drift
    both sit orders inside the margin). The <= B^2/2 * ~100 surviving
    candidate ids then
    re-rank exactly: equi-join back to the vectors, JVM-side
    left-to-right ``dot`` fold (bitwise equal to DuckDB's
    list_dot_product), global TakeOrdered 100 with total tie-break
    (sim desc, id_a, id_b). No joins in the candidate stage, no
    cartesian anywhere (plan-asserted); rows shuffled are
    n*(B/2+1) per side, candidates bounded by the grid, never n^2
    rows materialized. Exact all-pairs top-k is O(n^2 d) compute on
    any engine — past that budget the LSH tier
    (``cosine_near_dup_pairs_lsh``) is the scale path."""
    import numpy as np
    import pyarrow as pa

    e = tbl(spark, sf_dir, "embeddings")
    n = _table_rows(e, sf_dir, "embeddings")
    # Pair-mining blocks are sized MUCH larger than knn_selfjoin's
    # (~25k rows vs ~1500): the grid's shuffle volume is n*(B/2+1)
    # payload rows, so small blocks pay a replication tax this query's
    # tiny output never earns back — at 200k vectors the B=64 grid
    # shipped 6.5M payload rows through 2080 Arrow round trips for
    # 425 s while the tile matmuls summed to ~8 s of compute
    # (SCALE.md r8). Task memory stays bounded at any block size via
    # the strip-mined float32 kernel below. Floor 8 keeps the grid at
    # >= 36 tasks so a 32-core session stays filled on mid-size
    # corpora (B=4's 10 tasks measured 2.2 s at sf0.1 vs 1.3 s here).
    B = max(8, min(64, -(-n // 25_000)))
    K = 100

    a = e.select(
        "vec_id",
        "embedding",
        F.pmod(F.col("vec_id"), F.lit(B)).cast("int").alias("bi"),
    ).withColumn(
        "bj", F.explode(F.sequence(F.col("bi"), F.lit(B - 1).cast("int")))
    )
    b = e.select(
        F.col("vec_id").alias("nn_id"),
        F.col("embedding").alias("cemb"),
        F.pmod(F.col("vec_id"), F.lit(B)).cast("int").alias("bj"),
    ).withColumn("bi", F.explode(F.sequence(F.lit(0).cast("int"), F.col("bj"))))

    def _mat(table: pa.Table, col: str) -> "np.ndarray":
        flat = table.column(col).combine_chunks().flatten()
        return (
            flat.to_numpy(zero_copy_only=False)
            .reshape(table.num_rows, -1)
            .astype(np.float64)
        )

    _EMPTY = pa.table(
        {"id_a": pa.array([], pa.int64()), "id_b": pa.array([], pa.int64())}
    )

    # float32 tile sims with a 1e-3 margin: tiles pick CANDIDATES only
    # (the exact JVM fold re-rank decides), and f32's relative error on
    # unit-vector dots is ~1e-6 — three orders inside the margin. f32
    # halves tile memory and roughly doubles matmul throughput.
    _MARGIN = 1e-3
    _STRIP_BYTES = 64 << 20  # per-strip sim-tile budget

    def _local_top(vals, ia, ib):
        if vals.size > K:
            kth = np.partition(vals, -K)[-K]
            keep = vals >= kth - _MARGIN
            return vals[keep], ia[keep], ib[keep]
        return vals, ia, ib

    def block_top_pairs(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return _EMPTY
        am = _mat(left, "embedding").astype(np.float32)
        bm = _mat(right, "cemb").astype(np.float32)
        aids = left.column("vec_id").to_numpy()
        bids = right.column("nn_id").to_numpy()
        # Diagonal task: both sides are block p's vectors, so each
        # unordered pair appears as (x,y) AND (y,x) plus the self
        # diagonal — keep the strict upper triangle by id. Off-diagonal
        # blocks hold disjoint id residues: every cell is a distinct
        # unordered pair (oriented min/max below).
        diag = left.column("bi")[0].as_py() == left.column("bj")[0].as_py()
        strip = max(1, _STRIP_BYTES // (4 * max(1, len(bids))))
        acc_v, acc_a, acc_b = [], [], []
        for s0 in range(0, len(aids), strip):
            sims = am[s0 : s0 + strip] @ bm.T
            if diag:
                vi = np.nonzero(aids[s0 : s0 + strip, None] < bids[None, :])
                v, a, b = _local_top(sims[vi], aids[s0 + vi[0]], bids[vi[1]])
            else:
                # Every cell is a valid pair: cut top-K on the raveled
                # values FIRST, then divmod only the kept flat indices
                # back to (row, col) — materializing full index arrays
                # (the old nonzero-of-ones) cost ~4x the f32 tile
                # budget in int64 per strip for indices that were
                # about to be discarded.
                flat = sims.ravel()
                if flat.size > K:
                    kth = np.partition(flat, -K)[-K]
                    keep = np.nonzero(flat >= kth - _MARGIN)[0]
                else:
                    keep = np.arange(flat.size)
                r, c = np.divmod(keep, sims.shape[1])
                v, a, b = flat[keep], aids[s0 + r], bids[c]
            acc_v.append(v)
            acc_a.append(a)
            acc_b.append(b)
        vals, ia, ib = (
            np.concatenate(acc_v),
            np.concatenate(acc_a),
            np.concatenate(acc_b),
        )
        vals, ia, ib = _local_top(vals, ia, ib)
        return pa.table(
            {
                "id_a": pa.array(np.minimum(ia, ib), pa.int64()),
                "id_b": pa.array(np.maximum(ia, ib), pa.int64()),
            }
        )

    cores = shuffle_width(spark)
    if B * B >= 2 * cores:
        a = a.repartition(2 * cores, "bi", "bj")
        b = b.repartition(2 * cores, "bi", "bj")
    cand = (
        a.groupBy("bi", "bj")
        .cogroup(b.groupBy("bi", "bj"))
        .applyInArrow(block_top_pairs, "id_a long, id_b long")
    )
    v = e.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    av = v.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("label_a"),
        F.col("v").alias("va"),
    )
    bv = v.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
    )
    return (
        cand.join(av, "id_a")
        .join(bv, "id_b")
        .withColumn("sim_raw", dot("va", "vb"))
        .orderBy(F.desc("sim_raw"), "id_a", "id_b")
        .limit(K)
        .select(
            "id_a",
            "id_b",
            F.round("sim_raw", 6).alias("sim"),
            (F.col("label_a") == F.col("label_b")).cast("int").alias("same_label"),
        )
    )


# Embedding decontamination: the first _DECON_BENCH vec_ids stand in
# for a benchmark/eval embedding set; corpus vectors whose max cosine
# against it reaches _DECON_THRESHOLD are flagged for removal. 0.4 is
# fixture-calibrated so BOTH classes are populated at every sf (max
# benchmark sim spans ~0.19-0.49 with p90 ~0.37) — the driver row must
# exercise both outcomes, not certify a constant column.
_DECON_BENCH = 100
_DECON_THRESHOLD = 0.4


@register(
    "decontaminate_embeddings",
    tags=("C2", "C3", "C5"),
    oracle=f"""
        WITH bench AS (SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS bv
                       FROM embeddings WHERE vec_id < {_DECON_BENCH}),
             corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                        FROM embeddings WHERE vec_id >= {_DECON_BENCH}),
             ms AS (
                 SELECT c.vec_id, max(list_dot_product(c.v, b.bv)) AS max_sim
                 FROM corpus c, bench b
                 GROUP BY c.vec_id
             )
        SELECT vec_id,
               round(max_sim, 6) AS max_benchmark_sim,
               CAST(max_sim < {_DECON_THRESHOLD} AS INTEGER) AS keep
        FROM ms
    """,
)
def decontaminate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (C2/C3/C5): flag corpus vectors
    whose max cosine against a benchmark/eval embedding set crosses a
    threshold — the semantic-similarity counterpart of
    ``decontaminate_ngrams`` (which catches verbatim leakage; this
    catches paraphrases and re-renders that share no n-grams). The
    fixture's first 100 vec_ids stand in for the benchmark set.

    Scale shape: the benchmark set is BOUNDED by construction (eval
    suites are thousands of rows, the corpus is the 10^9 side), so it
    rides a broadcast into one zero-shuffle mapInPandas pass over the
    corpus — no join, no candidate generation, O(n * |bench| * d)
    compute spread embarrassingly across the scan. The bounded
    driver-side collect of the benchmark frame is the same exemption
    class as the IVF centroid sample (CLAUDE.md). The oracle's cross
    join is likewise bounded (|bench| * n).

    Bitwise parity: each (corpus, bench) dot product is accumulated in
    EXPLICIT dimension order inside the batch kernel (a d-loop of
    vectorized multiply-adds, NOT a BLAS matmul whose pairwise
    accumulation differs at the last ULP) — identical to DuckDB's
    sequential list_dot_product fold and Spark's `dot` expression, so
    max(), the keep comparison, and round(_, 6) agree exactly."""
    import numpy as np
    import pandas as pd

    e = tbl(spark, sf_dir, "embeddings")
    bench = (
        e.filter(F.col("vec_id") < _DECON_BENCH)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .orderBy(F.col("vec_id"))
        .collect()
    )
    bmat = np.asarray([r.v for r in bench], dtype=np.float64)  # (nb, dim)
    b_bmat = _bc(spark, bmat)

    def score(batches):
        B = np.asarray(b_bmat.value, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.asarray(list(pdf["v"]), dtype=np.float64)  # (rows, dim)
            acc = np.zeros((len(pdf), B.shape[0]), dtype=np.float64)
            for d in range(B.shape[1]):  # fold in dimension order
                acc += m[:, d, None] * B[None, :, d]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "max_sim": acc.max(axis=1)}
            )

    corpus = e.filter(F.col("vec_id") >= _DECON_BENCH).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    scored = corpus.mapInPandas(score, "vec_id long, max_sim double")
    return scored.select(
        "vec_id",
        F.round("max_sim", 6).alias("max_benchmark_sim"),
        (F.col("max_sim") < F.lit(_DECON_THRESHOLD)).cast("int").alias("keep"),
    )


def _near_dup_star_edges(
    spark: SparkSession, e: DataFrame, n: int, dim: int = 64
) -> DataFrame:
    """Verified STAR edges per LSH bucket: (bucket-min vec_id, member)
    rather than all intra-bucket pairs. Connectivity-equivalent input
    for clustering at <= n*b edge rows no matter how duplicate-dense
    the corpus is — all-pairs candidate mass is quadratic in dup-group
    size (a 1000-copy group emits 500k pairs per band; the star emits
    999), which is exactly the regime a dedup pass TARGETS. Each star
    edge is still exact-verified (dot >= threshold), so false bucket
    cohabitants never connect components; the cost is a small recall
    haircut when a bucket's min-id member is near-dup to neither
    endpoint of a genuine pair (rare at O(1)-row random buckets, and
    re-tried across all b bands) — property-tested >= 0.8 vertex
    recall on a planted corpus."""
    sig = _rp_signatures(spark, e, n, dim)
    hubs = sig.groupBy("band", "key").agg(F.min("vec_id").alias("hub"))
    edges = (
        sig.join(hubs, ["band", "key"])
        .filter(F.col("vec_id") != F.col("hub"))
        .select(F.col("hub").alias("id_a"), F.col("vec_id").alias("id_b"))
        .distinct()
    )
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    av = v.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    bv = v.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        edges.join(av, "id_a")
        .join(bv, "id_b")
        .filter(dot("va", "vb") >= F.lit(_NDP_THRESHOLD))
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    )


@register("cosine_dup_clusters", tags=("C2", "C3"), oracle=None)
def cosine_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end embedding dedup (C2/C3): banded-LSH bucketing ->
    exact-verified per-bucket STAR edges (``_near_dup_star_edges``)
    -> connected components (convergence-checked min-label
    propagation shared with the MinHash path,
    dedup.connected_components) -> survivor election (min vec_id per
    cluster). The embedding-side mirror of ``dedup_clusters``: what a
    pipeline actually RUNS to drop semantic near-dups.

    Deliberately NOT built on ``cosine_near_dup_pairs_lsh``: the pair
    miner's output is the answer to "list every pair" and is
    inherently quadratic in dup-group size (at a 1000x-replicated 2M
    vector corpus the true pair set alone is ~1e9 rows). Clustering
    only needs connectivity, so the star-edge form keeps every stage
    <= n*b rows while landing the same components (modulo the
    property-tested recall haircut).

    Rows-only by design (seeded LSH); cluster correctness on a
    planted near-dup corpus is property-tested against the transitive
    closure of the exact pair set (tests/test_properties.py). On the
    shipped driver fixtures (zero pairs at the 0.9 threshold) every
    vector is its own singleton cluster.

    100 TB shape: one zero-shuffle signature pass, one groupBy and
    one equi-join on (band, key), bounded verify join, CC rounds of
    one keyed shuffle each (O(component diameter), shallow for
    star-shaped edges), one survivor groupBy. No cartesian
    (plan-asserted)."""
    from mr_py_spark.operators.dedup import connected_components

    e = tbl(spark, sf_dir, "embeddings")
    pairs = _near_dup_star_edges(spark, e, _table_rows(e, sf_dir, "embeddings"))
    nodes = e.select(F.col("vec_id").alias("doc_id"))
    return (
        connected_components(nodes, pairs)
        .groupBy("label")
        .agg(
            F.count("*").alias("cluster_size"),
            F.min("doc_id").alias("survivor"),
        )
        .select(F.col("label").alias("cluster_id"), "cluster_size", "survivor")
    )


@register(
    "knn_selfjoin",
    tags=("C3",),
    oracle="""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT q_id, nn_id, rn
        FROM (
            SELECT a.vec_id AS q_id, b.vec_id AS nn_id,
                   row_number() OVER (PARTITION BY a.vec_id
                                      ORDER BY list_dot_product(a.v, b.v) DESC, b.vec_id) AS rn
            FROM t a, t b
            WHERE a.vec_id <> b.vec_id
        )
        WHERE rn <= 5
    """,
)
def knn_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full exact kNN self-join, top-5 per vector (C3) — the benchmark's
    quadratic query, executed as a block-cogrouped matmul instead of a
    row-pair cross join OR a driver-collected broadcast index.

    Plan: vectors are hashed into B = _knn_blocks(n) blocks; each side
    replicated B ways via an explode (queries get every candidate-block
    id, candidates every query-block id), then ``cogroup(qb, cb)`` +
    ``applyInArrow`` computes one (n/B x n/B) numpy dot product per
    block pair and keeps each query's block-local top-5 *including
    boundary ties*, so the global window merge (sim desc, nn_id asc)
    reproduces the oracle's row_number() exactly. No joins, no
    cartesian, and — unlike a broadcast-index build — NO driver
    materialization: rows shuffled are n*B per side and rows emitted
    are ~n*B*k, never n^2. Exact all-pairs kNN is O(n^2*d) compute on
    any engine; the grid auto-sizes with n (SPARK_GRAFT_KNN_BLOCKS
    overrides) so a block pair (~(n/B)^2 sims, 2*(n/B)*d*8 bytes in)
    stays one cache-friendly task and the B^2 pairs level across the
    cores. Past the exact tier's budget, switch to the sub-quadratic
    tiers (knn_ivf_topk / knn_rplsh_topk).

    Similarities are not emitted: BLAS accumulation order differs from
    a sequential fold at the last ULP, so ids+rank are the stable
    contract (a ranking flip would need two candidates closer than
    ~1e-13 in cosine; cross-block comparisons are safe because each
    pair's sim is computed exactly once).
    """
    import numpy as np
    import pyarrow as pa

    e = tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # pinned grid skips sizing; auto reads the parquet footer (no job)
    B = _KNN_BLOCKS if _KNN_BLOCKS > 0 else _knn_blocks(_table_rows(e, sf_dir, "embeddings"))
    every_block = F.explode(F.array(*[F.lit(i).cast("int") for i in range(B)]))

    q = e.select(
        "vec_id",
        "embedding",
        F.pmod(F.col("vec_id"), F.lit(B)).cast("int").alias("qb"),
        every_block.alias("cb"),
    )
    c = e.select(
        F.col("vec_id").alias("nn_id"),
        F.col("embedding").alias("cemb"),
        F.pmod(F.col("vec_id"), F.lit(B)).cast("int").alias("cb"),
        every_block.alias("qb"),
    )

    def _mat(table: pa.Table, col: str) -> "np.ndarray":
        # zero-copy list<float> -> (rows, dim) float64, no per-row hop
        flat = table.column(col).combine_chunks().flatten()
        return (
            flat.to_numpy(zero_copy_only=False)
            .reshape(table.num_rows, -1)
            .astype(np.float64)
        )

    _EMPTY = pa.table(
        {
            "q_id": pa.array([], pa.int64()),
            "nn_id": pa.array([], pa.int64()),
            "sim": pa.array([], pa.float64()),
        }
    )

    def block_topk(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return _EMPTY
        qm, cm = _mat(left, "embedding"), _mat(right, "cemb")
        qids = left.column("vec_id").to_numpy()
        cids = right.column("nn_id").to_numpy()
        sims = qm @ cm.T  # (n/B, n/B)
        sims[qids[:, None] == cids[None, :]] = -np.inf
        k = min(5, cm.shape[0])
        # per-row k-th best, vectorized; keep everything tied with or
        # above it so the global (sim desc, nn_id asc) tie-break sees
        # all contenders. Rows with fewer than k valid candidates (the
        # self-excluded diagonal of a tiny block) get kth = -inf, and
        # the isfinite guard then emits exactly their valid set.
        kth = np.partition(sims, -k, axis=1)[:, -k]
        qi, ci = np.nonzero((sims >= kth[:, None]) & np.isfinite(sims))
        if qi.size == 0:
            return _EMPTY
        return pa.table(
            {
                "q_id": pa.array(qids[qi], pa.int64()),
                "nn_id": pa.array(cids[ci], pa.int64()),
                "sim": pa.array(sims[qi, ci], pa.float64()),
            }
        )

    # Large grids get an explicit pair repartition: the matmul stage is
    # compute-bound but byte-light, so AQE's size-based coalescing
    # would clump the B^2 pairs onto a few cores; a user repartition is
    # exempt from coalescing and the cogroup reuses its partitioning.
    # Cap at 2x the core count — each Arrow-cogroup task pays a
    # Python-worker round trip, so hundreds of sub-second tasks cost
    # more than they level. Small grids (fewer pairs than that cap)
    # can't be leveled any further by repartitioning, and AQE's
    # coalescing of the tiny shuffle is the cheaper schedule.
    cores = shuffle_width(spark)
    if B * B >= 2 * cores:
        q = q.repartition(2 * cores, "qb", "cb")
        c = c.repartition(2 * cores, "qb", "cb")
    part = (
        q.groupBy("qb", "cb")
        .cogroup(c.groupBy("qb", "cb"))
        .applyInArrow(block_topk, "q_id long, nn_id long, sim double")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("nn_id"))
    return (
        part.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select("q_id", "nn_id", "rn")
    )


# >= 4 hyperplanes -> >= 16 buckets. For cos-sim s, a neighbor differs
# on each bit with prob acos(s)/pi, so at 4 bits a s=0.7 neighbor is ~1
# bit away and 1-bit multiprobe recovers it. Like the IVF nlist, the
# plane count grows with the corpus so the average bucket stays near
# _LSH_BUCKET_ROWS (r6: 16 fixed buckets at 2M vectors = 125k-row
# buckets in the candidate join); each extra plane halves bucket size
# but also dilutes single-table recall — beyond the 12-plane clamp a
# production deployment adds L hash-table repetitions instead, which
# is the standard recall knob.
_N_PLANES = 4  # floor; all test scale factors stay at 4 (<= 64k rows)
_LSH_BUCKET_ROWS = 4096


def _n_planes(n: int) -> int:
    import math

    target_buckets = max(1, n // _LSH_BUCKET_ROWS)
    if target_buckets <= 16:
        return _N_PLANES
    return min(12, math.ceil(math.log2(target_buckets)))


@register("knn_rplsh_topk", tags=("C3", "C2"), oracle=None)
def knn_rplsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH approximate top-5 (C3 scale path #2).
    Rows-only; pytest measures recall against the brute-force oracle.

    Signature = sign bits of fixed random projections (seeded numpy,
    broadcast) -> a bucket key. Candidates = equi-join on bucket (plus
    the single-bit-flip neighbor buckets for the query side, the
    standard multi-probe trick that recovers recall near Hamming
    boundaries). Like IVF, the join fan-out is independent of corpus
    size — this is the LSH-bucketed form of cosine_near_dup_pairs
    for 10^9-vector corpora.
    """
    import numpy as np
    import pandas as pd

    e = tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_planes = _n_planes(_table_rows(e, sf_dir, "embeddings"))
    rng = np.random.RandomState(7)
    planes = rng.standard_normal((64, n_planes))
    b_planes = _bc(spark, planes)

    def bucketize(batches):
        pl = b_planes.value
        for pdf in batches:
            m = np.asarray(list(pdf["embedding"]), dtype=np.float32)
            bits = (m.astype(np.float64) @ pl) > 0
            key = (bits * (1 << np.arange(bits.shape[1]))).sum(axis=1).astype(np.int64)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "embedding": pdf["embedding"], "bucket": key}
            )

    schema = "vec_id long, embedding array<float>, bucket long"
    assigned = e.mapInPandas(bucketize, schema)

    # multi-probe: query probes its own bucket + all 1-bit flips
    probes = assigned.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(n_planes)
                ],
            )
        ).alias("bucket"),
    ).filter(F.col("q_id") < 50)

    cand = probes.join(
        assigned.select(
            F.col("vec_id").alias("nn_id"),
            F.col("embedding").cast("array<double>").alias("cv"),
            "bucket",
        ),
        "bucket",
    ).filter(F.col("q_id") != F.col("nn_id"))
    wk = W.partitionBy("q_id").orderBy(F.desc("sim_raw"), F.asc("nn_id"))
    return (
        cand.select("q_id", "nn_id", dot("qv", "cv").alias("sim_raw"))
        .distinct()
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= 5)
        .select("q_id", "nn_id", F.round("sim_raw", 6).alias("sim"), "rn")
    )


_IVF_BUCKET_ROWS = 4096  # target bucket size: nlist scales as n/this
_N_PROBE = 6  # floor; scales with nlist so probed-fraction stays put
#: k-means fits on a bounded prefix, not the corpus. DECISION (r16,
#: VERDICT r15 item 6, the two-level-ceiling template): the driver-side
#: root-sample Lloyd is ACCEPTED AS BOUNDED. Its cost is
#: 8 rounds × cap × k × d float32 flops + one cap-row collect —
#: independent of corpus size (n only moves k, and k caps at 4096), so
#: it PLATEAUS at the measured constant: 140–211 s at k=4096 on this
#: container's OpenBLAS (SCALE.md r15 profile — the 8M and any larger
#: build pay the same), vs cluster stages ≤1.6 s. That constant is
#: ~40% of a post-r15 8M cold build but a one-time per-generation cost
#: with zero scale risk; the distributed partial-moment Lloyd
#: (kmeans.py) remains the continuation if a future profile shows it
#: dominating builds that matter — revisit then, not before.
_IVF_TRAIN_CAP = 100_000


def _ordered_train_sample(df: DataFrame, cap: int | None = None):
    """(rows, dim) float64 ndarray of the first ``cap`` (default
    _IVF_TRAIN_CAP) vectors of ``df`` (vec_id, v) BY vec_id — the
    deterministic bounded-collect form every quantizer fit must use. A
    bare ``limit(cap).collect()`` has no stable order (ADVICE r13: a
    foreachBatch replay may collect a different prefix — or the same
    SET in a different ORDER, which still changes the seeded init's
    row picks), voiding byte-identical replay.

    TWO-PHASE collect (r14, found by the 2M guard A/B): a direct
    ``orderBy(id).limit(cap)`` over the VECTOR columns is a
    TakeOrderedAndProject whose driver merge receives partitions × cap
    rows — 32 tasks × 100k × 528 B ≈ 1 GB at fixture widths, blowing
    spark.driver.maxResultSize before the limit applies. Phase 1 takes
    the id column alone (partitions × cap × 8 B — real metadata) to
    learn the cap-th id; phase 2 collects exactly the rows at-or-below
    that threshold through a pushed-down filter (≤ cap full vectors on
    the wire, the size the sample actually is)."""
    import numpy as np

    cap = _IVF_TRAIN_CAP if cap is None else cap
    ids = [
        r[0]
        for r in df.select("vec_id").orderBy("vec_id").limit(cap).collect()
    ]
    if not ids:
        return np.asarray([], dtype=np.float64)
    rows = (
        df.filter(F.col("vec_id") <= ids[-1]).select("vec_id", "v").collect()
    )
    rows.sort(key=lambda r: r[0])
    return np.asarray([r.v for r in rows[:cap]], dtype=np.float64)


def _retrain_sample(
    idx: DataFrame, extra_train: DataFrame | None, cap: int | None = None
):
    """Training sample for a quantizer retrain: the drift-tripping
    batch rows FIRST (whole, they are bounded by the micro-batch), the
    remainder filled deterministically from the index by vec_id.
    ADVICE r13 (medium): the previous
    ``idx.union(extra_train).orderBy(vec_id).limit(cap)`` silently
    dropped every extra_train row once the index held >= cap LOWER
    vec_ids — the normal streaming case (new batches carry higher
    ids) — so the retrain never saw the drifted region it exists to
    cover, contradicting the documented contract. Replay determinism
    holds: the batch is part of the replayed input and both collects
    are explicitly ordered."""
    import numpy as np

    cap = _IVF_TRAIN_CAP if cap is None else cap
    if extra_train is None:
        return _ordered_train_sample(idx, cap)
    head = _ordered_train_sample(extra_train.select("vec_id", "v"), cap)
    fill = cap - len(head)
    if fill <= 0:
        return head
    tail = _ordered_train_sample(idx, fill)
    return head if not len(tail) else (
        tail if not len(head) else np.concatenate([head, tail])
    )


def _ivf_nlist(n: int) -> int:
    """Centroid count sized so the average bucket holds about
    _IVF_BUCKET_ROWS vectors: a FIXED nlist makes bucket size — and
    therefore the candidate join's per-probe fan-out — grow linearly
    with the corpus, which is exactly the degradation an inverted
    file exists to avoid (sf100 measured 16 fixed centroids at 2M
    vectors = 125k-row buckets, SCALE.md round 6). Clamped: >= 16 so
    small fixtures keep their tested behavior, <= 4096 so the
    centroid broadcast stays bounded (4096 x 64 doubles = 2 MB)."""
    return max(16, min(4096, round(n / _IVF_BUCKET_ROWS)))


def _ivf_centroids(
    spark: SparkSession,
    e: DataFrame,
    nlist: int,
    seed: int = 7,
    sample=None,
) -> list:
    """``nlist`` spherical centroids: the shared Lloyd kernel
    (vectors._kmeans_init, then 8 rounds of vectors._lloyd with a
    float32 assignment matmul — 2.7x faster than float64 at k=4096)
    on a bounded prefix of the corpus, L2-normalized so dot product ==
    cosine during assignment. ``nlist`` is clamped to the sample size;
    a ragged or null vector in the sample raises. Bucketing quality,
    not cluster quality, is what IVF needs, and the recall property
    tests gate it; the distributed Lloyd is kmeans.py. Returns a plain
    list: the set is bounded (<= 4096), so it rides a broadcast
    variable. ``seed`` varies the quantizer for the L-table tier (each
    table an independently-seeded k-means on the same bounded sample);
    pass the (rows, dim) ``sample`` ndarray to reuse one collected
    training prefix across the L builds instead of re-collecting per
    table."""
    from mr_py_spark.operators.vectors import _kmeans_init, _lloyd, _unit_rows

    X = sample if sample is not None else _ivf_train_prefix(e)
    cent = _lloyd(X, _kmeans_init(X, nlist, seed), f32=True)
    return _unit_rows(cent).tolist()


def _ivf_train_prefix(e: DataFrame):
    """The (rows, dim) float64 training prefix of ``e``: its first
    _IVF_TRAIN_CAP ``v`` vectors, a bounded metadata collect."""
    import numpy as np

    return np.asarray(
        [r.v for r in e.limit(_IVF_TRAIN_CAP).select("v").collect()],
        dtype=np.float64,
    )


def _ivf_candidates(
    spark: SparkSession,
    e: DataFrame,
    queries: DataFrame,
    n_hint: int | None = None,
    tables: int = 1,
    n_probe: int | None = None,
    nlist: int | None = None,
) -> DataFrame:
    """Candidate stage of the IVF search (build index, probe, bucket
    equi-join) — split out so scale measurements can count candidate
    rows directly (SCALE.md r8 boundedness ledger). Single-table form
    returns one row per (query, candidate) with vector payloads
    carried through the bucket join; the L-table form returns pairs
    already DEDUPED across tables (the id-only index + pair distinct
    + vector join-back plan — see the inline comment)."""
    import numpy as np
    import pandas as pd

    n_corpus = n_hint if n_hint is not None else e.count()
    if nlist is None:
        nlist = min(_ivf_nlist(n_corpus), max(1, n_corpus))
    tables = max(1, tables)
    # collect the bounded training prefix ONCE and share it across the
    # L independently-seeded k-means builds (the seeds vary the init,
    # not the data — re-collecting per table paid L scans)
    sample = _ivf_train_prefix(e)
    cents_per_table = [
        _ivf_centroids(spark, e, nlist, seed=7 + 13 * t, sample=sample)
        for t in range(tables)
    ]
    cent = spark.createDataFrame(
        [
            (t, cid, cv)
            for t, cents in enumerate(cents_per_table)
            for cid, cv in enumerate(cents)
        ],
        "tbl long, cid long, cv array<double>",
    )

    # assignment: vector -> nearest centroid per table. A vectorized
    # argmax over the broadcast (tables*nlist, dim) centroid matrix —
    # one pass, NO shuffle, emitting `tables` index rows per vector.
    # The former broadcast-cross + row_number() window shuffled
    # n * nlist rows (vector payload included) just to pick each row's
    # max: 32 GB of exchange at sf100 (SCALE.md round 6). np.argmax
    # takes the first maximum, matching ORDER BY csim DESC, cid ASC.
    b_cmat = _bc(
        spark,
        np.asarray(
            [c for cents in cents_per_table for c in cents], dtype=np.float64
        ),
    )
    n_tables = tables  # closure-captured plain int

    def assign(with_payload: bool):
        def gen(batches):
            cmat = np.asarray(b_cmat.value, dtype=np.float64)
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.asarray(list(pdf["v"]), dtype=np.float64)
                sims = m @ cmat.T  # (rows, tables*nlist)
                nl = sims.shape[1] // n_tables
                buckets = sims.reshape(len(pdf), n_tables, nl).argmax(axis=2)
                cols = {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_tables),
                    "tbl": np.tile(np.arange(n_tables, dtype=np.int64), len(pdf)),
                    "bucket": buckets.reshape(-1).astype(np.int64),
                }
                if with_payload:
                    cols["v"] = np.repeat(pdf["v"].to_numpy(), n_tables)
                yield pd.DataFrame(cols)

        return gen

    # Single-table probe count scales with nlist so the probed
    # FRACTION stays roughly constant (~25%) as both grow: at 150k
    # synthetic clustered vectors (nlist 37), recall@5 measured
    # 0.744/0.796/0.844 at 6/9/12 probes with flat runtime (SCALE.md
    # r6) — the fraction, not the count, is what recall tracks. The
    # L-table tier passes a small fixed n_probe instead.
    if n_probe is None:
        n_probe = max(_N_PROBE, nlist // 4)
    wq = W.partitionBy("q_id", "tbl").orderBy(F.desc("csim"), F.asc("cid"))
    probes = (
        queries.join(F.broadcast(cent), how="cross")
        .select("q_id", "qv", "tbl", "cid", dot("qv", "cv").alias("csim"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "qv", "tbl", F.col("cid").alias("bucket"))
    )

    if tables == 1:
        # candidate generation: equi-join on (table, bucket), vector
        # payload carried through the inverted file (one row per
        # vector, no replication — the r6-tuned plan)
        assigned = e.mapInPandas(
            assign(True), "vec_id long, tbl long, bucket long, v array<double>"
        )
        return probes.join(assigned, ["tbl", "bucket"]).filter(
            F.col("q_id") != F.col("vec_id")
        )

    # L-table form: the inverted file is ID-ONLY (24-byte rows), so the
    # L-way replication never ships vector payload; candidate PAIRS are
    # deduped across tables first and the vectors join back by id once
    # per surviving pair. (First cut replicated v through the bucket
    # join: 4 tables x 2M vectors of payload made the candidate pass
    # 4.5x slower than single-table despite 5x fewer candidates —
    # SCALE.md r8.)
    idx = e.mapInPandas(assign(False), "vec_id long, tbl long, bucket long")
    pairs = (
        probes.select("q_id", "tbl", "bucket")
        .join(idx, ["tbl", "bucket"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    return pairs.join(
        queries.select("q_id", "qv"), "q_id"
    ).join(e.select("vec_id", "v"), "vec_id")


def _ivf_topk_core(
    spark: SparkSession,
    e: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_hint: int | None = None,
    tables: int = 1,
    n_probe: int | None = None,
    nlist: int | None = None,
) -> DataFrame:
    """IVF search over corpus ``e`` (vec_id, v) for ``queries`` (q_id,
    qv): assign every vector to its nearest centroid, probe the
    nearest buckets per query, equi-join on bucket id, rank exact sims.
    ``n_hint`` skips the sizing count() when the caller already knows
    the corpus size (e.g. from parquet footer metadata).

    ``tables``/``n_probe`` select the cost regime:
    - tables=1, n_probe=None (default): single quantizer, probe count
      scales with nlist so the probed FRACTION stays ~25% — Θ(n/4)
      per-query work, the constant-factor tier.
    - tables=L>1 with a small fixed ``n_probe``: L independently-
      seeded k-means quantizers; every vector is indexed once per
      table ((table, bucket) composite key), every query probes only
      its n_probe nearest buckets PER TABLE, candidates union across
      tables via the same equi-join. Per-query candidate work is
      L * n_probe * ~_IVF_BUCKET_ROWS — CONSTANT in corpus size, the
      sub-Θ(n) tier. Recall comes from decorrelation: a neighbor
      straddling one quantizer's partition boundary is interior to
      another's (the same L-repetition argument as classic LSH
      tables), property-tested on a 50k zipf-clustered corpus against
      brute force (tests/test_properties.py)."""
    cand = _ivf_candidates(
        spark,
        e,
        queries,
        n_hint=n_hint,
        tables=tables,
        n_probe=n_probe,
        nlist=nlist,
    )
    wk = W.partitionBy("q_id").orderBy(F.desc("sim_raw"), F.asc("nn_id"))
    # candidate pairs reach here unique on (q_id, vec_id): single-table
    # by construction (one bucket per vector, distinct probed buckets),
    # multi-table via the pair distinct inside _ivf_candidates
    scored = cand.select(
        "q_id", F.col("vec_id").alias("nn_id"), dot("qv", "v").alias("sim_raw")
    )
    return (
        scored.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select("q_id", "nn_id", F.round("sim_raw", 6).alias("sim"), "rn")
    )


@register("knn_ivf_topk", tags=("C3",), oracle=None)
def knn_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-5 (C3 scale path). Rows-only; pytest
    measures recall against knn_cosine_topk (fixture) and against a
    numpy brute force on a skewed synthetic corpus.

    Index build (one pass, all joins keyed):
      centroids  = n/4096 seeded spherical k-means centers (clamped to
                   [16, 4096], see _ivf_nlist) learned on a bounded
                   prefix — sized so the AVERAGE BUCKET stays ~4096
                   vectors at any corpus size, keeping candidate-join
                   fan-out bounded (r6: fixed 16 centroids at 2M
                   vectors meant 125k-row buckets and 3x the runtime)
      assignment = each vector -> nearest centroid id via a vectorized
                   argmax against the broadcast centroid matrix inside
                   mapInPandas — one pass, ZERO shuffle (r6: the old
                   broadcast-cross + window shuffled n*nlist payload
                   rows, 32 GB at sf100)
    Search: each query probes its nprobe (= max(6, nlist/4)) nearest
    centroids' buckets only — candidate generation is an equi-join on
    centroid_id with fan-out n_queries * 4096 * nprobe. Honest
    asymptotics: because nprobe scales with nlist to hold the probed
    FRACTION at ~25%, per-query candidate work is Θ(n/4) — a 4x
    constant-factor win over brute force plus the structural win that
    the work is a bucketed equi-join (shuffle-partitionable, no
    cross join) instead of an all-pairs nested loop. Sub-linear
    per-query cost at a fixed recall target would need L repeated
    hash tables / a probe CAP with multi-probe, which is the
    documented knob if 25% probing is too hot at 10^9 vectors
    (recall/runtime trade-off ledger in SCALE.md r6). The only nested-loop join in the plan is the
    broadcast of the bounded (<= 4096-row) centroid frame on the
    probe side (exempt from the no-cross-join invariant, asserted in
    tests/test_plans.py).
    """
    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    queries = (
        e.filter(F.col("vec_id") < 50)
        .withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("v", "qv")
    )
    return _ivf_topk_core(
        spark, e, queries, n_hint=_table_rows(e, sf_dir, "embeddings")
    )


def _ivf_stamp(nlist: int) -> str:
    """The builder stamp of a standing flat IVF quantizer and its
    inverted file: every function and knob the persisted bytes depend
    on — the centroid trainer AND the Lloyd kernel it calls (a wrapper
    in a stamp list hides edits to the body it calls), the assignment
    pass, nlist and the training cap. Shared by ivf_index,
    ivf_corpus_index and the hier root level (_hier_index_stamp)."""
    from mr_py_spark.operators.bucketed import builder_stamp
    from mr_py_spark.operators.vectors import (
        _kmeans_init,
        _lloyd,
        _nearest,
        _unit_rows,
    )

    return builder_stamp(
        _ivf_centroids, _ivf_train_prefix, ivf_assign_with, _ivf_assign_pass,
        _kmeans_init, _lloyd, _nearest, _unit_rows,
        nlist=nlist, train_cap=_IVF_TRAIN_CAP,
    )


def ivf_index(spark: SparkSession, sf_dir: str):
    """The STANDING IVF index (the ANN analogue of the corpus LSH
    index, dedup.py:corpus_lsh_index): centroids and the assigned
    inverted file persisted once per sf_dir as warehouse tables, the
    inverted file BUCKETED BY the coarse bucket id — the layout a
    production vector warehouse maintains so a query batch never
    re-trains the quantizer or re-assigns the corpus. The bucketed
    layout makes the candidate equi-join exchange-free on the corpus
    side even when the query batch is too large to broadcast
    (hashpartitioning(bucket) satisfies the join's clustering).
    Returns (cent, assigned, nlist); both frames come through the
    content-stamped cache (bucketed.py), so a regenerated fixture
    rebuilds the index. Centroid training and assignment are the SAME
    deterministic code paths the per-run ``knn_ivf_topk`` uses, so
    the indexed search is bit-equal to it (property-tested)."""
    import numpy as np
    import pandas as pd

    from mr_py_spark.operators.bucketed import _bucketed_table

    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    n = _table_rows(e, sf_dir, "embeddings")
    nlist = min(_ivf_nlist(n), max(1, n))

    def build_cent() -> DataFrame:
        cents = _ivf_centroids(spark, e, nlist)
        return spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], "cid long, cv array<double>"
        )

    # static schemas: a fresh session re-attaching valid persisted
    # files must never invoke the builders just for the DDL — build_cent
    # runs the full driver-side k-means eagerly (ADVICE r11)
    stamp = _ivf_stamp(nlist)
    cent = _bucketed_table(
        spark, sf_dir, "ivf_cent", "cid", frame_of=build_cent,
        src_name="embeddings", schema="cid long, cv array<double>",
        stamp_extra=stamp,
    )

    assigned = _bucketed_table(
        spark, sf_dir, "ivf_assign", "bucket",
        frame_of=lambda: ivf_assign_with(cent, e), src_name="embeddings",
        schema="vec_id long, bucket long, v array<double>",
        stamp_extra=stamp,
    )
    return cent, assigned, nlist


def _ivf_assign_pass(cent: DataFrame, vectors: DataFrame, with_score: bool) -> DataFrame:
    """The one broadcast-argmax assignment kernel behind both
    ``ivf_assign_with`` (emits the vector, for the inverted file) and
    ``ivf_assign_scored`` (emits the top-1 similarity, for the drift
    monitor) — a single body so a future fix cannot silently diverge
    assignment from scoring (review r12).

    r17 (VERDICT r16 item 4, guide §4.2): ``mapInArrow`` instead of
    ``mapInPandas``. The O(n·nroot·d) matmul this pass exists for is
    NOT where its task time went — at 8M×1953×64 the dgemm floor is
    ~2·10^12 flops ≈ a few hundred CPU-seconds, while the pass
    measured 3.6-4.3k s — the rest was the pandas boundary: every
    batch paid Series-of-ndarray → list → np.asarray on the way in and
    an object-Series → Arrow list re-serialization of the untouched
    ``v`` payload on the way out. In Arrow a list<double> column is
    ONE contiguous values buffer + offsets, so the input matrix is a
    zero-copy ``flatten().reshape(n, d)`` and the ``v``/``vec_id``
    output columns are the INPUT ARRAYS passed through untouched —
    only ``bucket``/``score`` are newly materialized. The similarity
    values are the same float64 ``m @ cmat.T`` dgemm over the same
    rows, so assignments are bit-identical (pinned by the standing
    append-equals-rebuild property tests). A null or wrong-length
    vector raises instead of reshaping into misaligned rows."""
    import numpy as np
    import pyarrow as pa

    spark = vectors.sparkSession
    cmat0 = np.asarray(
        [r.cv for r in cent.orderBy("cid").collect()], dtype=np.float64
    )
    b_cmat = _bc(spark, cmat0)

    def gen(batches):
        cmat = np.asarray(b_cmat.value, dtype=np.float64)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            vec_id = rb.column(rb.schema.get_field_index("vec_id"))
            v = rb.column(rb.schema.get_field_index("v"))
            vals = v.flatten()
            d = cmat.shape[1]
            # per-row lengths, not just the total: a 63- and a 65-dim
            # row still flatten to 2·64 values
            if v.null_count or vals.null_count or (np.diff(v.offsets) != d).any():
                raise ValueError(
                    f"column 'v' holds a null or a vector whose length is not {d}"
                )
            m = vals.to_numpy(zero_copy_only=False).reshape(rb.num_rows, d)
            sims = m @ cmat.T
            bucket = pa.array(sims.argmax(1).astype(np.int64), type=pa.int64())
            if with_score:
                out = [vec_id, bucket, pa.array(sims.max(1), type=pa.float64())]
                names = ["vec_id", "bucket", "score"]
            else:
                out = [vec_id, bucket, v]
                names = ["vec_id", "bucket", "v"]
            yield pa.RecordBatch.from_arrays(out, names)

    out_schema = (
        "vec_id long, bucket long, score double"
        if with_score
        else "vec_id long, bucket long, v array<double>"
    )
    return vectors.select("vec_id", "v").mapInArrow(gen, out_schema)


def ivf_assign_with(cent: DataFrame, vectors: DataFrame) -> DataFrame:
    """(vec_id, bucket, v) assignment of ``vectors`` against an
    EXISTING centroid frame (cid, cv): the broadcast-argmax pass shared
    by the index build and the maintenance append — assignment is a
    pure function of the centroids, so entries appended later are
    bit-identical to what a full rebuild with the same centroids would
    produce (the consistency property ivf_index_append's test pins)."""
    return _ivf_assign_pass(cent, vectors, with_score=False)


def ivf_index_append(
    cent: DataFrame,
    new_vectors: DataFrame,
    table: str,
    idempotent: bool = False,
    stats: tuple[int, int | None, int | None] | None = None,
) -> None:
    """Index MAINTENANCE for the standing IVF index (the ANN twin of
    dedup.py:lsh_index_append): assign ``new_vectors`` (vec_id, v)
    against the EXISTING centroids — never retrain; a production
    warehouse re-trains on drift schedules, not per ingest — and
    append the entries into the inverted-file table under the same
    bucket spec (Spark validates it; drift fails loudly). O(delta)
    work: one broadcast-argmax pass over the delta plus a bucketed
    append. (Tests exercise this on a private table — the per-sf_dir
    cached index is content-stamped to the fixture and must stay a
    pure function of it.)

    ``idempotent``/``stats``: the shared replay guard
    (``bucketed.append_guard``). ``idempotent=True`` drops vec_ids the
    table already holds, so re-running a crashed batch admits nothing;
    a fresh batch costs zero index I/O. ``idempotent=False`` appends
    still raise the watermark. ``stats`` is the delta's precomputed
    (count, min, max) vec_id."""
    from mr_py_spark.operators.bucketed import _BUCKETS, append_guard
    from mr_py_spark.sources.sinks import write_bucketed

    rows, _ = append_guard(table, new_vectors, "vec_id", idempotent, stats)
    write_bucketed(ivf_assign_with(cent, rows), table, "bucket",
                   _BUCKETS, mode="append")


@register("knn_ivf_topk_indexed", tags=("C3", "B22"), oracle=None)
def knn_ivf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``knn_ivf_topk`` over the STANDING index (``ivf_index``): the
    per-query-batch cost is probe (bounded centroid broadcast, the
    exempt nested loop) + one equi-join against the bucket-bucketed
    inverted file + exact re-rank — no quantizer training, no corpus
    assignment pass, no full-corpus scan beyond the probed buckets.
    Rows-only (the per-run form is too); property-tested bit-equal to
    ``knn_ivf_topk`` on the fixture — the index stores exactly what
    the per-run form recomputes."""
    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    queries = (
        e.filter(F.col("vec_id") < 50)
        .withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("v", "qv")
    )
    cent, assigned, nlist = ivf_index(spark, sf_dir)
    n_probe = max(_N_PROBE, nlist // 4)
    wq = W.partitionBy("q_id").orderBy(F.desc("csim"), F.asc("cid"))
    probes = (
        queries.join(F.broadcast(cent), how="cross")
        .select("q_id", "qv", "cid", dot("qv", "cv").alias("csim"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "qv", F.col("cid").alias("bucket"))
    )
    # prune the inverted-file side to the probed buckets (r16, the hier
    # tiers' pattern): bounded isin (≤ n_q·n_probe values) pushed to
    # the bucket-sorted parquet scan; filter preserves the bucketed
    # scan's partitioning so the join stays exchange-free
    probed = sorted(r.bucket for r in probes.select("bucket").distinct().collect())
    cand = probes.join(
        assigned.filter(F.col("bucket").isin(probed)), "bucket"
    ).filter(F.col("q_id") != F.col("vec_id"))
    wk = W.partitionBy("q_id").orderBy(F.desc("sim_raw"), F.asc("nn_id"))
    scored = cand.select(
        "q_id", F.col("vec_id").alias("nn_id"), dot("qv", "v").alias("sim_raw")
    )
    return (
        scored.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= 5)
        .select("q_id", "nn_id", F.round("sim_raw", 6).alias("sim"), "rn")
    )


def ivf_corpus_index(spark: SparkSession, sf_dir: str):
    """The standing IVF index of the fixture's CORPUS split (every
    vector outside the delta bucket — the embedding analogue of
    dedup.py:corpus_lsh_index's corpus/delta convention, same hash
    split so the two incremental tiers describe the same snapshot):
    centroids plus the bucket-bucketed inverted file, persisted once
    per sf_dir through the content-stamped cache. This is what
    ``incremental_semantic_dedup`` triages deltas against — no Lloyd
    retrain, no corpus re-assignment per snapshot. Returns
    (cent, assigned)."""
    from mr_py_spark.operators.bucketed import _bucketed_table
    from mr_py_spark.operators.dedup import (
        _INC_BUCKETS,
        _INC_DELTA_BUCKET,
        _INC_MULT,
    )

    from mr_py_spark.operators.kmeans import _kmeans_k

    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    corpus = e.filter(
        (F.col("vec_id") * F.lit(_INC_MULT)) % F.lit(_INC_BUCKETS)
        != _INC_DELTA_BUCKET
    )
    # Quantizer sized for CLUSTER-MATE candidate generation (~64
    # vectors per bucket, kmeans._kmeans_k — the SemDeDup scale knob),
    # NOT for ANN probe economics (_ivf_nlist's ~4096-row buckets): the
    # r12 sf10 A/B measured the 4096-grade index 3.5x SLOWER than the
    # per-run Lloyd chain because candidate pairs scale with bucket
    # occupancy (64x the pair work). nlist off the full-table footer
    # count (the corpus is 90% of it), so sizing needs no count()
    # action.
    n = _table_rows(e, sf_dir, "embeddings")
    nlist = min(_kmeans_k(n), max(1, n))

    def build_cent() -> DataFrame:
        cents = _ivf_centroids(spark, corpus, nlist)
        return spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], "cid long, cv array<double>"
        )

    from mr_py_spark.operators.bucketed import builder_stamp

    stamp = _ivf_stamp(nlist) + builder_stamp(
        inc=(_INC_MULT, _INC_BUCKETS, _INC_DELTA_BUCKET)
    )
    cent = _bucketed_table(
        spark, sf_dir, "ivf_corpus_cent", "cid", frame_of=build_cent,
        src_name="embeddings", schema="cid long, cv array<double>",
        stamp_extra=stamp,
    )
    assigned = _bucketed_table(
        spark, sf_dir, "ivf_corpus_assign", "bucket",
        frame_of=lambda: ivf_assign_with(cent, corpus), src_name="embeddings",
        schema="vec_id long, bucket long, v array<double>",
        stamp_extra=stamp,
    )
    return cent, assigned


#: Cap on a fold-order sim block's cell count (~128 MB of float64):
#: the kernel materializes a dense (rows x |B|) accumulator, so callers
#: iterate A in row blocks — a skewed 50k-row cluster would otherwise
#: allocate a 20 GB matrix in one Python worker with no spill path
#: (review r12), where the equi-join form it replaced spilled.
_FOLD_BLOCK_CELLS = 1 << 24


def _fold_order_blocks(A, B):
    """Yield (row_start, sims) blocks of the pairwise dot matrix, each
    accumulated LEFT-TO-RIGHT over dimensions — the same float64 op
    sequence per pair as functions.dot's aggregate fold
    ((0 + x0*y0) + x1*y1) + ..., so every sim is BIT-IDENTICAL to the
    Catalyst expression (a BLAS matmul's pairwise summation order is
    not, and a tau-threshold compare on a knife-edge pair could flip —
    the r9 round()-tie lesson applied to kernels). Row-blocking changes
    WHICH pairs share an allocation, never any pair's op sequence, so
    bit-identity is preserved while peak memory stays bounded at
    _FOLD_BLOCK_CELLS cells regardless of cluster/bucket skew.
    Vectorized across pairs: ~dim fused numpy ops per block replace
    per-pair higher-order-function interpretation, measured 8-10x
    end-to-end on the sf100 candidate verify (SCALE.md r12)."""
    import numpy as np

    n, k = A.shape[0], max(1, B.shape[0])
    step = max(1, _FOLD_BLOCK_CELLS // k)
    for s in range(0, n, step):
        Ab = A[s : s + step]
        acc = np.zeros((Ab.shape[0], B.shape[0]), dtype=np.float64)
        for d in range(A.shape[1]):
            acc += Ab[:, d, None] * B[None, :, d]
        yield s, acc


def _fold_order_sims(A, B):
    """Whole pairwise dot matrix via _fold_order_blocks — convenience
    for BOUNDED sides (tests, small groups). Skew-exposed callers must
    iterate the blocked form instead of materializing this."""
    import numpy as np

    if A.shape[0] == 0:
        return np.zeros((0, B.shape[0]), dtype=np.float64)
    return np.concatenate(
        [acc for _, acc in _fold_order_blocks(A, B)], axis=0
    )


def semantic_delta_status(
    cent: DataFrame,
    corpus_assigned: DataFrame,
    delta: DataFrame,
    tau: float | None = None,
    kernel: str = "arrow",
) -> DataFrame:
    """Incremental SEMANTIC near-dup triage of a delta batch
    (vec_id, v) against a standing IVF-indexed corpus — SemDeDup's
    cluster-mate restriction (kmeans.py:semantic_dedup) made O(delta):
    the delta is assigned against the EXISTING centroids (broadcast
    argmax, zero shuffle — never a retrain), and candidate pairs are
    an equi-join on the coarse bucket id against the bucket-bucketed
    inverted file, exchange-free on the corpus side. Re-running the
    per-snapshot Lloyd chain (the kmeans.py form) is the O(total)
    alternative this replaces — the same recompute the r11 standing
    LSH/IVF indexes eliminated for text dedup and kNN.

    Returns one row per delta vector: (vec_id, status, match_id) with
    status 'dup_of_corpus' (some same-bucket corpus vector at cosine
    >= tau; match_id = min such), else 'dup_within_delta' (a LOWER
    vec_id same-bucket delta vector matches — the house star rule),
    else 'new'. tau defaults to kmeans._TAU so the two semantic-dedup
    forms share one threshold. Corpus-vs-corpus pairs are never
    formed; unit-norm embeddings make fold-dot == cosine.

    ``kernel`` selects the pair-verification engine, both producing
    BIT-IDENTICAL statuses (property-pinned on fixture + plants):
    'arrow' (default) cogroups the two sides per bucket and verifies
    with the fold-order numpy kernel (_fold_order_sims) — the corpus
    side arrives pre-bucketed so only the small delta exchanges, and
    per-bucket work is one vectorized (m x k x dim) pass instead of
    m*k interpreted fold-dot expressions (>4x at sf100, SCALE.md r12);
    'join' is the declarative reference form (bucket equi-join +
    Catalyst dot), kept as the semantics oracle for the kernel."""
    if tau is None:
        from mr_py_spark.operators.kmeans import _TAU as tau
    tau = float(tau)

    d_asg = ivf_assign_with(cent, delta)

    if kernel == "arrow":
        import numpy as np
        import pandas as pd

        def corpus_matches(key, dpdf, opdf):
            if not len(dpdf) or not len(opdf):
                return pd.DataFrame({"vec_id": [], "corpus_match": []}).astype(
                    {"vec_id": "int64", "corpus_match": "int64"}
                )
            A = np.asarray(list(dpdf["v"]), dtype=np.float64)
            B = np.asarray(list(opdf["v"]), dtype=np.float64)
            did = dpdf["vec_id"].to_numpy()
            oid = opdf["vec_id"].to_numpy()
            # min matching partner per delta row (== F.min over the
            # join); row-blocked so a skewed bucket never allocates an
            # unbounded dense matrix
            out = []
            for s, sims in _fold_order_blocks(A, B):
                hit = sims >= tau
                for i in np.nonzero(hit.any(axis=1))[0]:
                    out.append((did[s + i], oid[hit[i]].min()))
            return pd.DataFrame(out, columns=["vec_id", "corpus_match"])

        def delta_matches(pdf):
            if len(pdf) < 2:
                return pd.DataFrame({"vec_id": [], "delta_match": []}).astype(
                    {"vec_id": "int64", "delta_match": "int64"}
                )
            A = np.asarray(list(pdf["v"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            out = []
            for s, sims in _fold_order_blocks(A, A):
                hit = sims >= tau
                # partner strictly lower
                hit &= ids[None, :] < ids[s : s + hit.shape[0], None]
                for i in np.nonzero(hit.any(axis=1))[0]:
                    out.append((ids[s + i], ids[hit[i]].min()))
            return pd.DataFrame(out, columns=["vec_id", "delta_match"])

        vs_corpus = (
            d_asg.groupBy("bucket")
            .cogroup(corpus_assigned.groupBy("bucket"))
            .applyInPandas(corpus_matches, "vec_id long, corpus_match long")
        )
        vs_delta = d_asg.groupBy("bucket").applyInPandas(
            delta_matches, "vec_id long, delta_match long"
        )
    else:

        def verified(other: DataFrame, cond, out: str) -> DataFrame:
            d, o = d_asg.alias("d"), other.alias("o")
            return (
                d.join(o, (F.col("d.bucket") == F.col("o.bucket")) & cond)
                .filter(dot(F.col("d.v"), F.col("o.v")) >= F.lit(tau))
                .groupBy(F.col("d.vec_id").alias("vec_id"))
                .agg(F.min(F.col("o.vec_id")).alias(out))
            )

        vs_corpus = verified(corpus_assigned, F.lit(True), "corpus_match")
        vs_delta = verified(
            d_asg, F.col("o.vec_id") < F.col("d.vec_id"), "delta_match"
        )
    return (
        delta.select("vec_id")
        .join(vs_corpus, "vec_id", "left")
        .join(vs_delta, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("corpus_match").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("delta_match").isNotNull(), F.lit("dup_within_delta"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.coalesce("corpus_match", "delta_match").alias("match_id"),
        )
    )


def ivf_assign_scored(cent: DataFrame, vectors: DataFrame) -> DataFrame:
    """(vec_id, bucket, score) assignment of ``vectors`` against an
    existing centroid frame, where score is the TOP-1 centroid cosine
    (the quantization quality of that assignment — unit-norm inputs
    make dot == cosine). The same kernel as ``ivf_assign_with``
    (_ivf_assign_pass) with the max kept; zero shuffle."""
    return _ivf_assign_pass(cent, vectors, with_score=True)


def ivf_drift_frame(
    cent: DataFrame, assigned: DataFrame, delta: DataFrame
) -> DataFrame:
    """Quantization-quality comparison of the INDEXED vectors vs a
    DELTA batch against the same centroids — the drift signal that
    makes ``ivf_index_append``'s "re-train on drift schedules" note
    actionable (VERDICT r12 item 7): when the delta's top-1 centroid
    similarity distribution sits well below the indexed cohort's, new
    data has drifted off the quantizer's partition of the space and a
    retrain is due. Per cohort: count, mean, p05 and median of the
    top-1 similarity. The indexed cohort's score needs NO re-argmax —
    its bucket IS its top-1 centroid, so the score is one broadcast
    join on the bounded centroid frame; the delta side is the usual
    zero-shuffle scored assignment pass."""
    idx_scored = (
        assigned.join(F.broadcast(cent), assigned["bucket"] == cent["cid"])
        .select(dot("v", "cv").alias("score"))
        .withColumn("cohort", F.lit("indexed"))
    )
    d_scored = ivf_assign_scored(cent, delta).select("score").withColumn(
        "cohort", F.lit("delta")
    )
    return (
        idx_scored.unionByName(d_scored)
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.avg("score").alias("mean_top1"),
            F.expr("percentile(score, 0.05)").alias("p05_top1"),
            F.expr("percentile(score, 0.5)").alias("p50_top1"),
        )
    )


#: Retrain trigger: the delta cohort's p05 top-1 centroid similarity
#: sitting below this fraction of the indexed cohort's means the new
#: data has drifted off the quantizer's partition of the space.
_DRIFT_P05_RATIO = 0.8

#: Floor for the drift margin's scale (see ``drift_threshold``): below
#: an indexed p05 of this, the margin stops shrinking multiplicatively
#: and holds at (1-ratio)·_DRIFT_MARGIN_FLOOR absolute. Sized to the
#: signal, not to the i=1 margin: on a low-structure corpus TRUE
#: orthogonal drift only moves p05-of-top-1 by ~0.06 (fixture
#: measurement, r14) while replay noise is <0.01 — the old absolute
#: branch's 0.2 margin could never fire there, and the raw
#: multiplicative margin →0 fires on noise.
_DRIFT_MARGIN_FLOOR = 0.25


def drift_threshold(i: float, ratio: float = _DRIFT_P05_RATIO) -> float:
    """Fire threshold for the drift rule as a function of the indexed
    cohort's p05: degraded iff delta p05 < i − (1−ratio)·max(i,
    _DRIFT_MARGIN_FLOOR). Multiplicative (the original semantics) for
    a healthy index, an absolute margin below the floor — CONTINUOUS
    everywhere and monotone in ``i`` (ADVICE r13: the previous
    two-branch form jumped from a ~0 margin at i=+ε to 0.2 at i=0, so
    a marginally-healthier index was far more trigger-happy than an
    exactly-neutral one). The margin is always > 0, so a
    better-than-indexed delta can never fire. One function so the
    decision path, the demo query, and the tests share the rule
    (r13 review: an inline copy silently diverges on a rule fix)."""
    return i - (1.0 - ratio) * max(i, _DRIFT_MARGIN_FLOOR)


def drift_ref_stats(
    spark: SparkSession, cent: DataFrame, idx_table: str,
    assigned: DataFrame | None,
) -> dict:
    """GENERATION-PINNED reference cohort for the drift gauge (r15 —
    the semantic twin of the LSH gauge fix: ``ivf_drift_frame``'s
    indexed cohort re-scores the ENTIRE inverted file — a full
    vector-column scan, n dot products and a percentile — every
    scheduled check, the same O(index)-per-check class VERDICT r14
    item 1 named). The indexed cohort's {n_vecs, mean_top1, p05_top1,
    p50_top1} are computed ONCE per index GENERATION and pinned in a
    ``_drift_ref.json`` INSIDE the index table's data directory — the
    LSH gauge's lifetime-by-location trick: a retrain's two-phase swap
    renames a fresh directory into place, so the reference resets
    exactly when the quantizer does, and appends leave it pinned.

    Pinning is also a SEMANTIC fix, not just a cost one: the old
    moving reference re-scored post-drift ADMISSIONS into the indexed
    cohort, so an index slowly filling with drifted-but-under-cap
    vectors dragged its own reference down and masked exactly the
    drift the gauge exists to catch. The pinned reference is the
    quantizer's own cohort as of its generation — what "degraded
    relative to training" actually means.

    ``assigned`` is the caller's PRE-BATCH index view, used only on
    the bootstrap path (absent/unreadable sidecar) — one exact pass,
    repaired to the sidecar. As of r16 (VERDICT r15 item 3) every
    generation WRITER pins the reference itself at creation
    (``pin_drift_ref`` — ivf_retrain/hier_retrain and the streaming
    loops' first-index writes), so this bootstrap is strictly the
    REPAIR path: a crash between the index swap and the pin, or a
    pre-r16 table. Pinning at creation closes the window where up to
    check_every−1 post-generation batches joined the reference
    cohort, and moves the one O(index) bootstrap pass (25 s at 2M)
    out of the serving loop and into the build/retrain that is
    already O(index). An EMPTY cohort is returned but never pinned
    (a replay-window first check with the whole index anti-joined
    away must not freeze n_vecs=0 for the generation). Pass
    ``assigned=None`` on a known-warm path; the read path never
    touches the index (property-tested)."""
    import json as _json
    import os as _os

    from mr_py_spark.operators.bucketed import _table_location

    path = _os.path.join(_table_location(spark, idx_table), "_drift_ref.json")
    keys = ("n_vecs", "mean_top1", "p05_top1", "p50_top1")
    try:
        with open(path) as f:
            d = _json.load(f)
        return {k: d[k] for k in keys}
    except (OSError, ValueError, KeyError):
        pass
    if assigned is None:
        raise ValueError(
            f"drift_ref_stats: no pinned reference at {path} and no "
            "bootstrap frame supplied"
        )
    stats = _drift_ref_compute(cent, assigned)
    if stats["n_vecs"] > 0:
        _drift_ref_write(path, stats)
    return stats


def _drift_ref_compute(cent: DataFrame, assigned: DataFrame) -> dict:
    """One exact scored pass over ``assigned`` (vec_id, bucket, v)
    against its own centroids — the reference cohort's sufficient
    statistics. O(cohort); callers decide when that cost is paid
    (generation creation, or the repair bootstrap)."""
    row = (
        assigned.join(F.broadcast(cent), assigned["bucket"] == cent["cid"])
        .select(dot("v", "cv").alias("score"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.avg("score").alias("mean_top1"),
            F.expr("percentile(score, 0.05)").alias("p05_top1"),
            F.expr("percentile(score, 0.5)").alias("p50_top1"),
        )
        .collect()[0]
    )
    return {
        "n_vecs": int(row.n_vecs),
        "mean_top1": None if row.mean_top1 is None else float(row.mean_top1),
        "p05_top1": None if row.p05_top1 is None else float(row.p05_top1),
        "p50_top1": None if row.p50_top1 is None else float(row.p50_top1),
    }


def _drift_ref_write(path: str, stats: dict) -> None:
    import json as _json
    import os as _os

    try:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(stats, f)
        _os.replace(tmp, path)
    except OSError:
        pass  # read-only location: derive-per-call still correct


def pin_drift_ref(
    spark: SparkSession, cent: DataFrame, idx_table: str,
    assigned: DataFrame | None = None,
) -> dict:
    """Pin the drift reference AT GENERATION CREATION (r16, VERDICT r15
    item 3 + ADVICE): called by the index WRITERS — ``ivf_retrain`` /
    ``hier_retrain`` right after their inverted-file swap, and the
    streaming loops' first-index ``write_bucketed`` — in the same pass
    that creates the generation, from the just-built cohort. Unlike
    ``drift_ref_stats`` this OVERWRITES any sidecar (creation defines
    the generation; a leftover file can only be stale) and defaults
    ``assigned`` to the table itself. Closes the first-check window
    (up to check_every−1 post-creation batches previously joined
    the reference cohort) and keeps the O(index) scoring pass inside
    the build/retrain, which is already O(index) — the serving loop's
    scheduled checks are then always the warm 1-file read. An empty
    cohort is still never pinned (same replay-window rule as the
    bootstrap)."""
    import os as _os

    from mr_py_spark.operators.bucketed import _table_location

    if assigned is None:
        assigned = spark.table(idx_table).select("vec_id", "bucket", "v")
    stats = _drift_ref_compute(cent, assigned)
    if stats["n_vecs"] > 0:
        _drift_ref_write(
            _os.path.join(_table_location(spark, idx_table), "_drift_ref.json"),
            stats,
        )
    return stats


def delta_p05(cent: DataFrame, delta: DataFrame) -> float | None:
    """The delta cohort's p05 top-1 centroid similarity — the O(batch)
    half of the drift check (one zero-shuffle scored-assignment pass
    over the DELTA only)."""
    row = (
        ivf_assign_scored(cent, delta)
        .agg(F.expr("percentile(score, 0.05)").alias("p"))
        .collect()[0]
    )
    return None if row.p is None else float(row.p)


def drift_degraded_pinned(
    ref: dict, d_p05: float | None, ratio: float = _DRIFT_P05_RATIO
) -> bool:
    """``drift_degraded`` over a pinned reference dict + a delta p05
    instead of the 2-row exact frame — the in-loop decision form
    (sidecar read + one O(batch) pass; zero index I/O when warm).
    Same rule, same threshold function, shared with the exact path."""
    if not ref or ref.get("n_vecs", 0) == 0 or ref.get("p05_top1") is None:
        return False
    if d_p05 is None:
        return False
    return d_p05 < drift_threshold(float(ref["p05_top1"]), ratio)


def drift_degraded(drift: DataFrame, ratio: float = _DRIFT_P05_RATIO) -> bool:
    """Decision rule over an ``ivf_drift_frame`` result: True when the
    delta cohort's p05 top-1 similarity has degraded past ``ratio`` of
    the indexed cohort's — the actuator condition for ``ivf_retrain``
    (VERDICT r12 item 3: the monitor emitted the signal but nothing
    consumed it). Bounded: the frame is 2 rows by construction.

    Cosine p05 lives in [-1, 1], and the multiplicative rule only has
    degradation semantics for a POSITIVE indexed p05 (r13 review: with
    idx p05 = -0.10, a delta at -0.09 — strictly BETTER quantized —
    satisfied dlt < 0.8·idx and tripped a retrain on healthy data,
    while idx p05 = 0 could never fire at all). The fire condition is
    ``dlt < drift_threshold(idx, ratio)`` — see there for the
    continuity/monotonicity contract and the margin-floor sizing."""
    rows = {r.cohort: r for r in drift.collect()}
    if "indexed" not in rows or "delta" not in rows:
        return False
    idx, dlt = rows["indexed"], rows["delta"]
    if idx.p05_top1 is None or dlt.p05_top1 is None:
        return False
    return float(dlt.p05_top1) < drift_threshold(float(idx.p05_top1), ratio)


def ivf_retrain(
    spark: SparkSession, cent_table: str, idx_table: str,
    nlist: int | None = None, exclude_ids: DataFrame | None = None,
    extra_train: DataFrame | None = None,
) -> dict:
    """Quantizer RETRAIN for a standing IVF index pair — the actuator
    ``ivf_drift_frame``/``drift_degraded`` schedule (never-retrain is
    the default maintenance policy; this is the drift-triggered
    exception): re-fit the centroids on the index's CURRENT contents,
    re-assign every indexed vector, and rewrite BOTH standing tables
    in place under their existing bucket specs via the crash-atomic
    two-phase swap (bucketed.replace_bucketed_table — a crash at any
    point recovers to a queryable generation).

    Deterministic given the index contents: the training sample is the
    tripping batch first, then the first remaining vectors of the
    index BY vec_id (`_retrain_sample` — explicit orderBy both parts;
    a bare limit over a bucketed scan has no stable order), so a
    replayed retrain rebuilds bit-identical tables. The inverted-file
    rewrite is one broadcast-argmax pass over the index plus the
    bucketed side-write — O(index) once per drift event, vs the
    O(index) EVERY SNAPSHOT a non-indexed pipeline pays.

    ``exclude_ids`` is the streaming loop's replay guard (the same
    pre-batch-view discipline as triage): a replayed batch whose
    crashed run already ADMITTED its survivors must retrain on the
    corpus as it stood BEFORE the batch, or the rebuilt quantizer —
    and every downstream status — would differ between the original
    run and its replay. The excluded rows are re-admitted by the
    loop's own admission step under the new quantizer, so no vector is
    lost.

    ``extra_train`` (vec_id, v) folds the batch that TRIPPED the drift
    alarm into the training sample — taken FIRST, before the index
    fill (`_retrain_sample`; ADVICE r13: sorting the union by vec_id
    dropped the batch past the cap exactly when the index was large,
    and a retrain that never sees the drifted region would
    re-partition the same old space and leave the alarm ringing). Only
    the sample is widened; the inverted-file rewrite still covers
    exactly the index rows (the loop admits the batch itself through
    its normal idempotent path afterwards), and replay determinism
    holds because the batch frame is part of the replayed input.

    Returns {"nlist", "n_vecs"} for ledgers/monitoring."""
    from mr_py_spark.operators.bucketed import replace_bucketed_table
    from mr_py_spark.operators.kmeans import _kmeans_k

    idx = spark.table(idx_table).select("vec_id", "v")
    if exclude_ids is not None:
        idx = idx.join(exclude_ids.select("vec_id"), "vec_id", "left_anti")
    sample = _retrain_sample(idx, extra_train)
    # size the quantizer from the INDEX, not the capped training sample
    # (r13 review: _kmeans_k(len(sample)) silently shrank the rebuilt
    # quantizer on any index past _IVF_TRAIN_CAP — a 1M-vector index
    # retrained into ~640-row buckets, re-entering the very occupancy
    # regime the retrain exists to escape); the count is one bounded
    # aggregate over the standing table, paid once per drift event
    n_idx = idx.count()
    if nlist is None:
        nlist = max(2, _kmeans_k(n_idx))
    nlist = min(nlist, max(1, n_idx), max(1, len(sample)))
    cents = _ivf_centroids(spark, idx, nlist, sample=sample)
    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid long, cv array<double>"
    )
    # centroids first: the assignment pass below broadcasts this frame,
    # and a crash between the two swaps leaves cent/idx from different
    # generations only until the next retrain — statuses stay
    # self-consistent because triage always assigns against cent_table
    # and verifies exactly (a stale inverted file loses candidates,
    # never fabricates matches)
    replace_bucketed_table(spark, cent_table, cent_df, "cid")
    new_assigned = ivf_assign_with(spark.table(cent_table), idx)
    replace_bucketed_table(spark, idx_table, new_assigned, "bucket")
    # pin the new generation's drift reference in the same pass as the
    # swap (r16, VERDICT r15 item 3): the swap renamed a fresh data dir
    # into place, clearing the old sidecar — writing the new cohort's
    # stats here closes the first-check window and keeps the O(index)
    # scoring pass inside the retrain, which is already O(index)
    pin_drift_ref(spark, spark.table(cent_table), idx_table)
    return {"nlist": int(nlist), "n_vecs": int(spark.table(idx_table).count())}


@register("ivf_drift_stats", tags=("C3", "B7"), oracle=None)
def ivf_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ivf_drift_frame`` bound to the standing corpus index and the
    fixture's delta split — the monitoring query a production vector
    warehouse runs after each ``ivf_index_append`` batch to decide
    whether the never-retrain maintenance policy still holds. Rows-only
    (seeded quantizers are engine-specific); a planted-drift property
    test shows the metric MOVES when the delta drifts and sits level
    when it doesn't (tests/test_properties.py)."""
    from mr_py_spark.operators.dedup import (
        _INC_BUCKETS,
        _INC_DELTA_BUCKET,
        _INC_MULT,
    )

    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    delta = e.filter(
        (F.col("vec_id") * F.lit(_INC_MULT)) % F.lit(_INC_BUCKETS)
        == _INC_DELTA_BUCKET
    )
    cent, assigned = ivf_corpus_index(spark, sf_dir)
    return ivf_drift_frame(cent, assigned, delta)


@register("ivf_drift_retrain", tags=("C3", "B7", "A8"), oracle=None)
def ivf_drift_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift ACTUATOR demo, registered so the driver exercises the
    full gauge→actuator path end-to-end (VERDICT r12 item 3: the
    monitor emitted a signal nothing consumed): build a private IVF
    index over the fixture embeddings, present a PLANTED-DRIFT delta
    (the same vectors with their dimensions reversed — unit-norm
    preserved, but uncorrelated with every trained centroid), watch
    ``drift_degraded`` fire, run ``ivf_retrain`` (crash-atomic in-place
    rebuild of centroids + inverted file, training sample widened with
    the tripping delta), and emit the before/after drift metrics. The
    after-frame's delta p05 recovering toward the indexed cohort's IS
    the actuator working. Rows-only (seeded quantizers are
    engine-specific); the exactly-one-retrain / never-on-healthy-data
    properties live in tests/test_streaming_sink.py, the
    metric-recovery sanity in tests/test_properties.py."""
    import re as _re
    import shutil
    import tempfile as _tf

    from mr_py_spark.operators.bucketed import _BUCKETS
    from mr_py_spark.operators.kmeans import _kmeans_k
    from mr_py_spark.sources.sinks import write_bucketed

    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    # per-process workspace: a throwaway demo isolates instead of
    # locking (the lsh_index_compaction precedent)
    tag = (
        _re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/")) + f"_p{os.getpid()}"
    )
    cent_t = f"mrps_drift_demo_cent_{tag}"
    idx_t = f"mrps_drift_demo_idx_{tag}"
    root = os.path.join(_tf.gettempdir(), "spark_graft_driftdemo", tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    for t in (cent_t, idx_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        n = _table_rows(e, sf_dir, "embeddings")
        cents = _ivf_centroids(spark, e, min(max(2, _kmeans_k(n)), max(1, n)))
        write_bucketed(
            spark.createDataFrame(
                [(i, c) for i, c in enumerate(cents)],
                "cid long, cv array<double>",
            ),
            cent_t, "cid", _BUCKETS, path=os.path.join(root, "cent"),
        )
        write_bucketed(
            ivf_assign_with(spark.table(cent_t), e), idx_t, "bucket",
            _BUCKETS, path=os.path.join(root, "idx"),
        )
        delta = e.select(
            (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
            F.reverse("v").alias("v"),
        )

        def p05s() -> dict:
            # NULL p05 (empty cohort) surfaces as nan in the emitted
            # metrics; the DECISION path below never re-implements the
            # rule (r13 review: the inline copy would silently diverge
            # from drift_degraded on a future rule fix)
            return {
                r.cohort: (
                    float("nan") if r.p05_top1 is None else float(r.p05_top1)
                )
                for r in ivf_drift_frame(
                    spark.table(cent_t), spark.table(idx_t), delta
                ).collect()
            }

        before = p05s()
        fired = drift_degraded(
            ivf_drift_frame(spark.table(cent_t), spark.table(idx_t), delta)
        )
        if fired:
            ivf_retrain(spark, cent_t, idx_t, extra_train=delta)
        after = p05s()
        return spark.createDataFrame(
            [
                ("p05_indexed_before", before["indexed"]),
                ("p05_delta_before", before["delta"]),
                ("retrained", 1.0 if fired else 0.0),
                ("p05_indexed_after", after["indexed"]),
                ("p05_delta_after", after["delta"]),
            ],
            "metric string, value double",
        )
    finally:
        for t in (cent_t, idx_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(root, ignore_errors=True)


@register(
    "incremental_semantic_dedup", tags=("C2", "C3", "B22"), oracle=None
)
def incremental_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``semantic_delta_status`` bound to the fixture's deterministic
    snapshot split (the incremental_dedup buckets applied to vec_id):
    the O(delta) production form of semantic dedup over the STANDING
    IVF corpus index (``ivf_corpus_index``) — per-snapshot work is one
    broadcast-argmax pass over the delta plus bucket equi-joins, vs
    the per-run Lloyd retrain of ``semantic_dedup`` (kmeans.py:319).
    Rows-only (seeded quantizers are engine-specific); the planted
    cross-batch / within-batch / novel statuses, the no-corpus-pairs
    invariant, and determinism are property-tested
    (tests/test_properties.py); cartesian-free plan asserted
    (tests/test_plans.py); sf10 interleaved A/B vs the kmeans chain in
    SCALE.md r12."""
    from mr_py_spark.operators.dedup import (
        _INC_BUCKETS,
        _INC_DELTA_BUCKET,
        _INC_MULT,
    )

    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    delta = e.filter(
        (F.col("vec_id") * F.lit(_INC_MULT)) % F.lit(_INC_BUCKETS)
        == _INC_DELTA_BUCKET
    )
    cent, assigned = ivf_corpus_index(spark, sf_dir)
    return semantic_delta_status(cent, assigned, delta)


# The sub-Θ(n) tier's knobs: L independently-seeded quantizer tables,
# each probed at a small FIXED depth. Defaults (4 tables x 6 probes)
# hold recall at-or-above the single-table Θ(n/4) figure on the 50k
# zipf corpus (tests/test_properties.py) while bounding per-query
# candidates at L*n_probe*~4096 rows REGARDLESS of corpus size.
_IVF_TABLES = int(os.environ.get("SPARK_GRAFT_IVF_TABLES", "4"))
_IVF_PROBE_CAP = int(os.environ.get("SPARK_GRAFT_IVF_PROBE_CAP", str(_N_PROBE)))


@register("knn_ivf_multitable_topk", tags=("C3",), oracle=None)
def knn_ivf_multitable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-table IVF approximate top-5 (C3 scale path #1b) — the
    BOUNDED-per-query-cost tier. Same plan family as ``knn_ivf_topk``
    (zero-shuffle assignment, bucket equi-join candidates, window
    top-k) but with L independently-seeded coarse quantizers (default
    4, SPARK_GRAFT_IVF_TABLES) and a FIXED probe depth per table
    (default 6, SPARK_GRAFT_IVF_PROBE_CAP), so per-query candidate
    work is L * n_probe * ~4096 rows — constant
    in corpus size, vs the single-table form's honest Θ(n/4) (whose
    probe count scales with nlist to hold the probed fraction).

    This is the implemented form of the "L hash-table repetitions"
    escape hatch the single-table docstring reserves for 10^9-vector
    deployments: each table is a different k-means partition of the
    same space, so a true neighbor lost across one table's bucket
    boundary is interior to another's — misses decorrelate and the
    union recovers recall (property-tested >= the single-table figure
    on a 50k zipf-clustered corpus, tests/test_properties.py; sf100
    candidate-boundedness ledger in SCALE.md r8). Index cost is L
    assignment argmaxes in the same mapInPandas pass and L rows per
    vector in the inverted file — the classic memory-for-latency LSH
    trade. Rows-only: seeded quantizers admit no engine-independent
    SQL oracle; recall properties gate correctness."""
    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    queries = (
        e.filter(F.col("vec_id") < 50)
        .withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("v", "qv")
    )
    return _ivf_topk_core(
        spark,
        e,
        queries,
        n_hint=_table_rows(e, sf_dir, "embeddings"),
        tables=_IVF_TABLES,
        n_probe=_IVF_PROBE_CAP,
    )


def emb_centroid_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (C3): componentwise mean vector per
    label — the building block for class prototypes, IVF coarse
    quantizers, and cluster drift monitoring. Implemented as
    posexplode -> groupBy(label, pos) avg -> re-assemble sorted by
    position: the shuffle carries (label, pos, partial sum) scalars,
    never whole vectors, and each row's explode fan-out equals the
    fixed dimension — so the plan holds at 10^9 vectors.

    Library entry point: returns the centroid as ``array<double>``.
    The registered ``emb_centroid`` query projects it to scalar
    columns because the driver's rows-only canonicalizer cannot hash
    ndarray cells.
    """
    e = tbl(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    )
    per_comp = comp.groupBy("label", "pos").agg(
        F.avg(F.col("x").cast("double")).alias("m")
    )
    return (
        per_comp.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "m"))
            ).alias("pm"),
            F.count("*").alias("dim"),
        )
        .select(
            "label",
            F.transform(F.col("pm"), lambda s: s.m).alias("centroid"),
            "dim",
        )
    )


#: Fixed-point scale for the oracle-checked centroid: 24 fractional
#: bits ~= float32's own ulp at |x| <= 1, so the quantization is below
#: the data's native precision.
_CENTROID_SCALE = float(1 << 24)


@register(
    "emb_centroid",
    tags=("C3",),
    oracle=f"""
        WITH comp AS (
            SELECT label,
                   unnest(embedding) AS x,
                   unnest(generate_series(0, len(embedding) - 1)) AS pos
            FROM embeddings
        ), per AS (
            SELECT label, pos,
                   CAST(sum(CAST(round(CAST(x AS DOUBLE) * {_CENTROID_SCALE!r})
                                 AS BIGINT)) AS DOUBLE)
                       / {_CENTROID_SCALE!r} / count(*) AS m
            FROM comp GROUP BY label, pos
        )
        SELECT label,
               count(*) AS dim,
               string_agg(printf('%.6f', m), ',' ORDER BY pos) AS centroid_csv,
               arg_min(printf('%.6f', m), pos) AS c0
        FROM per GROUP BY label
    """,
)
def emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing fixed-point centroid (C3): per-label componentwise
    mean, oracle-checked bitwise (verdict r4 item 2). The library entry
    point :func:`emb_centroid_vectors` keeps the pure-double mean; this
    query instead quantizes each component to 24 fractional bits —
    ``round(x * 2^24)`` is an exact dyadic product of the float32 value
    and both engines round ties half-away-from-zero — then sums as
    integers (order-free, exact: |sum| < 2^53 at any realistic label
    cardinality since 2^24 * 1e8 rows ~= 2^51) and performs the same
    two IEEE divisions. Every compared double is therefore
    bit-identical by construction; the ``round`` here is a quantizer on
    exact products, not a rounding of a compared double (policy in
    mr_py_spark/functions). The centroid is rendered as a
    fixed-precision CSV string because the driver's canonicalizer
    cannot hash array cells; %.6f on identical doubles is tie-free
    (no binary double sits exactly on a .5e-6 decimal boundary).

    Scale shape: posexplode -> groupBy(label, pos) carries scalar
    partial sums only, fan-out = fixed dim — holds at 10^9 vectors.
    """
    e = tbl(spark, sf_dir, "embeddings")
    comp = e.select("label", F.posexplode("embedding").alias("pos", "x"))
    per = comp.groupBy("label", "pos").agg(
        F.sum(
            F.round(F.col("x").cast("double") * F.lit(_CENTROID_SCALE)).cast("long")
        ).alias("s"),
        F.count("*").alias("n"),
    ).withColumn(
        "m", F.col("s").cast("double") / F.lit(_CENTROID_SCALE) / F.col("n")
    )
    return (
        per.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(
                    # format_string, not format_number: no locale
                    # thousands separators to collide with the delimiter.
                    F.struct("pos", F.format_string("%.6f", "m").alias("f"))
                )
            ).alias("pf"),
            F.count("*").alias("dim"),
        )
        .select(
            "label",
            "dim",
            F.concat_ws(
                ",", F.transform(F.col("pf"), lambda s: s.f)
            ).alias("centroid_csv"),
            F.element_at(F.col("pf"), 1).getField("f").alias("c0"),
        )
    )


def _ivfpq_topk_core(
    spark: SparkSession,
    e: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_hint: int | None = None,
    rerank: int = 20,
) -> DataFrame:
    """IVF + product-quantization search (the FAISS IVFPQ shape): IVF
    buckets bound WHICH vectors each query scores; PQ codes bound the
    BYTES the scoring pass reads. The candidate join's build side
    carries (vec_id, bucket, 16 one-byte codes) — ~24 bytes of payload
    instead of the 512-byte double vector — so the memory/network cost
    of candidate generation drops ~20x and a 10^9-vector index fits a
    modest cluster's RAM. Scoring is asymmetric distance (ADC): every
    query's (M x K) lookup table of sub-dot-products is precomputed
    ON THE DRIVER from the bounded query set and broadcast (50 queries
    = 1.6 MB; queries are the small side of a top-k search by
    definition — the same bounded-collect class as the IVF centroid
    fallback), so the candidate stream carries only (q_id, vec_id,
    code): attaching the 512-byte query vector to each of the ~n/4
    candidate rows instead was 13 GB through the Python workers at
    sf100 and dominated the runtime. The top ``rerank * k`` ADC
    candidates per query are re-ranked with exact dot products via an
    equi-join back to the full vectors — the standard two-stage recall
    repair, touching only O(rerank*k) full vectors per query."""
    import numpy as np
    import pandas as pd

    from mr_py_spark.operators.vectors import _PQ_TRAIN, _pq_train

    # Search-tier PQ geometry: 16 subspaces x 256 centroids = 16 bytes
    # per vector. Finer than the storage tier's 8x16 on purpose: ADC
    # must RANK within-cluster neighbors, and coarse codes collapse
    # them to identical codes (see _pq_train docstring for the
    # measured cliff).
    M, K = 16, 256

    n_corpus = n_hint if n_hint is not None else e.count()
    nlist = min(_ivf_nlist(n_corpus), max(1, n_corpus))
    cents = _ivf_centroids(spark, e, nlist)
    cent = spark.createDataFrame(
        list(enumerate(cents)), "cid long, cv array<double>"
    )
    b_cmat = _bc(spark, np.asarray(cents, dtype=np.float64))

    train_rows = (
        e.orderBy(F.xxhash64("vec_id"), F.asc("vec_id"))
        .limit(_PQ_TRAIN)
        .select("v")
        .collect()
    )
    X = np.asarray([r[0] for r in train_rows], dtype=np.float64)
    sub_d = X.shape[1] // M
    b_books = _bc(spark, _pq_train(X, m=M, k=min(K, len(X)), sub=sub_d))

    def assign_encode(batches):
        cmat = np.asarray(b_cmat.value, dtype=np.float64)
        books = np.asarray(b_books.value, dtype=np.float64)
        # argmin ||x-c||^2 == argmax (x.c - ||c||^2/2): a (rows x K)
        # matmul per subspace instead of materializing the
        # (rows x K x sub_d) difference tensor — the tensor form was
        # memory-bandwidth-bound and dominated the sf100 encode pass.
        half_c2 = 0.5 * (books**2).sum(-1)  # (M, K')
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.asarray(list(pdf["v"]), dtype=np.float64)
            codes = np.empty((len(m), M), dtype=np.int32)
            for mi in range(M):
                sub = m[:, mi * sub_d : (mi + 1) * sub_d]
                codes[:, mi] = (sub @ books[mi].T - half_c2[mi]).argmax(1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "bucket": (m @ cmat.T).argmax(axis=1).astype(np.int64),
                    "code": list(codes),
                }
            )

    # the index frame: NO vector payload — this is the point of PQ
    index = e.mapInPandas(
        assign_encode, "vec_id long, bucket long, code array<int>"
    )

    # per-query ADC lookup tables, driver-side: the query set is the
    # bounded side of a top-k search (50 rows here), so its LUTs are
    # n_q * M * K doubles — broadcast metadata, not data.
    q_rows = queries.select("q_id", "qv").collect()
    qids = np.asarray([r["q_id"] for r in q_rows], dtype=np.int64)
    order = np.argsort(qids)
    qids = qids[order]
    Q = np.asarray([q_rows[i]["qv"] for i in order], dtype=np.float64).reshape(
        len(qids), M, sub_d
    )
    b_lut = _bc(
        spark,
        (qids, np.einsum("qms,mks->qmk", Q, np.asarray(b_books.value))),
    )

    n_probe = max(_N_PROBE, nlist // 4)
    wq = W.partitionBy("q_id").orderBy(F.desc("csim"), F.asc("cid"))
    probes = (
        queries.join(F.broadcast(cent), how="cross")
        .select("q_id", "qv", "cid", dot("qv", "cv").alias("csim"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", F.col("cid").alias("bucket"))
    )

    cand = probes.join(index, "bucket").filter(F.col("q_id") != F.col("vec_id"))

    def adc(batches):
        # mapInArrow, not pandas: the candidate stream is ~n*probe_frac
        # rows per query set; per-row Python objects (and especially a
        # per-candidate copy of the 512-byte query vector — 13 GB at
        # sf100) are what the broadcast LUTs exist to avoid. Arrow list
        # values are contiguous per batch, so codes reshape zero-copy
        # into a (rows, M) matrix; scoring is one gather + sum.
        import pyarrow as pa

        lut_qids, luts = b_lut.value  # (nq,), (nq, M, K')
        marange = np.arange(M)[None, :]
        for rb in batches:
            if not len(rb):
                continue
            q_id = np.asarray(rb.column(0))
            qidx = np.searchsorted(lut_qids, q_id)
            codes = np.asarray(rb.column(2).flatten()).reshape(len(rb), M)
            sim = luts[qidx[:, None], marange, codes].sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), rb.column(1), pa.array(sim, type=pa.float64())],
                ["q_id", "nn_id", "adc_sim"],
            )

    scored = cand.select("q_id", "vec_id", "code").mapInArrow(
        adc, "q_id long, nn_id long, adc_sim double"
    )
    wk = W.partitionBy("q_id").orderBy(F.desc("adc_sim"), F.asc("nn_id"))
    short = (
        scored.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= rerank * k)
        .select("q_id", "nn_id")
    )

    # exact re-rank: only rerank*k full vectors per query cross the wire
    wr = W.partitionBy("q_id").orderBy(F.desc("sim_raw"), F.asc("nn_id"))
    return (
        short.join(
            queries.select("q_id", "qv"), "q_id"
        )
        .join(
            e.select(F.col("vec_id").alias("nn_id"), F.col("v").alias("cv")),
            "nn_id",
        )
        .select("q_id", "nn_id", dot("qv", "cv").alias("sim_raw"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= k)
        .select("q_id", "nn_id", F.round("sim_raw", 6).alias("sim"), "rn")
    )


@register("knn_ivfpq_topk", tags=("C3",), oracle=None)
def knn_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ approximate top-5 (C3 scale capstone): IVF buckets
    bound the candidate count, 16-byte PQ codes (16 subspaces x 8
    bits) bound the candidate BYTES, exact re-rank of the ADC top-100
    repairs recall.
    Rows-only (k-means + float ADC are engine-specific); recall vs the
    exact oracle and vs plain IVF is property-tested in
    tests/test_ml_lsh.py on the 50k zipf-clustered corpus. Same probe
    formula and centroid tier as ``knn_ivf_topk``; the only
    nested-loop join is the exempt bounded centroid broadcast."""
    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    queries = (
        e.filter(F.col("vec_id") < 50)
        .withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("v", "qv")
    )
    return _ivfpq_topk_core(
        spark, e, queries, n_hint=_table_rows(e, sf_dir, "embeddings")
    )


def _pca_moments(spark: SparkSession, e: DataFrame):
    """Driver-resident whitening transform for the embedding frame
    ``e`` (columns vec_id, v): ONE linear pass folds partition-local
    moments (count, Σv, Σvvᵀ) to one row per partition — a bounded
    metadata collect, the kmeans partial-moment class: partitions ×
    (d + d²) doubles for d = 64, never vector rows — combined on the
    driver in partition-id order so the float fold is deterministic
    for a given layout; the d×d eigendecomposition (64×64 — O(d³)
    microseconds) then yields the whitening matrix and its inverse.
    Returns (mu, w_mat, w_inv) ndarrays, or None when the table is
    empty (ADVICE r13: sibling operators return empty frames, not
    IndexError). w_inv exists so a consumer can score whitened-domain
    quantization in RAW space (decode → un-whiten): x - x̂ =
    (w - ŵ) @ w_inv."""
    import numpy as np
    import pandas as pd

    def moments(batches):
        from pyspark import TaskContext

        n = 0
        s = None
        S = None
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.asarray(list(pdf["v"]), dtype=np.float64)
            n += len(m)
            s = m.sum(0) if s is None else s + m.sum(0)
            S = m.T @ m if S is None else S + m.T @ m
        if n:
            pid = TaskContext.get().partitionId()
            yield pd.DataFrame(
                {
                    "pid": [int(pid)],
                    "n": [int(n)],
                    "s": [[float(x) for x in s]],
                    "ss": [[float(x) for x in S.ravel()]],
                }
            )

    parts = sorted(
        e.mapInPandas(
            moments, "pid long, n long, s array<double>, ss array<double>"
        ).collect(),
        key=lambda r: r.pid,
    )
    if not parts:  # empty table (or all-empty partitions)
        return None
    n_tot = sum(r.n for r in parts)
    d = len(parts[0].s)
    s_tot = np.zeros(d)
    ss_tot = np.zeros((d, d))
    for r in parts:  # deterministic partition-id fold order
        s_tot += np.asarray(r.s)
        ss_tot += np.asarray(r.ss).reshape(d, d)
    mu = s_tot / n_tot
    cov = ss_tot / n_tot - np.outer(mu, mu)
    lam, vec = np.linalg.eigh(cov)
    lam_c = np.maximum(lam, 1e-9)
    w_mat = vec @ np.diag(1.0 / np.sqrt(lam_c)) @ vec.T
    w_inv = vec @ np.diag(np.sqrt(lam_c)) @ vec.T
    return mu, w_mat, w_inv


def _pca_whiten_frame(
    spark: SparkSession, e: DataFrame, csv: bool = False
) -> DataFrame:
    """Whitened projection of ``e`` (vec_id, v): the `_pca_moments`
    transform broadcasts into ONE zero-shuffle mapInPandas pass.
    ``csv=False`` emits (vec_id, w array<double>) for in-repo
    consumers; ``csv=True`` emits (vec_id, w_csv string) — each
    component through repr() (exact float64 round-trip) — for the
    registered query surface (arrays crash the driver canonicalizer,
    r13's red; precedent: emb_pq_codes' comma-joined codes,
    vectors.py)."""
    import numpy as np
    import pandas as pd

    schema = (
        "vec_id long, w_csv string" if csv else "vec_id long, w array<double>"
    )
    mom = _pca_moments(spark, e)
    if mom is None:
        return spark.createDataFrame([], schema)
    mu, w_mat, _ = mom
    b = _bc(spark, (mu, w_mat))

    def project(batches):
        mu_b, w_b = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.asarray(list(pdf["v"]), dtype=np.float64)
            out = (m - mu_b) @ w_b
            cols = {"vec_id": pdf["vec_id"].to_numpy()}
            if csv:
                cols["w_csv"] = [
                    ",".join(repr(float(x)) for x in row) for row in out
                ]
            else:
                cols["w"] = [[float(x) for x in row] for row in out]
            yield pd.DataFrame(cols)

    return e.mapInPandas(project, schema)


@register("emb_pca_whiten", tags=("C3", "B7", "B40"), oracle=None)
def emb_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening of the embedding table (C3 preprocessing): two
    linear passes — a bounded partition-moment fold (`_pca_moments`)
    and a broadcast projection mapInPandas (`_pca_whiten_frame`).
    Output: (vec_id, w_csv) with components decorrelated and
    unit-variance — the preconditioner ahead of IVF/PQ quantization,
    A/B-measured by its consumer ``emb_whiten_quantizer_audit`` (the
    r13 verdict's missing-consumer item; SCALE.md r14 records whether
    the claim holds at scale).

    Rows-only (LAPACK eigenvectors are platform-specific up to sign
    and near-degenerate rotation); whitened-covariance ≈ I, zero mean,
    and same-session determinism are property-tested
    (tests/test_properties.py). The vector emits as a repr-joined csv
    STRING: the r13 driver window crashed canonicalizing array cells
    (`unhashable type: numpy.ndarray`) — emit types for compared
    outputs are long/double/string only (CLAUDE.md r10). At 100 TB
    both passes are single scans with nothing wider than d² per
    task on the wire."""
    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    return _pca_whiten_frame(spark, e, csv=True)


_AUDIT_NLIST = 16  # coarse cells for the A/B (driver-sf scale)
_AUDIT_TRAIN = 4096  # bounded, hash-free deterministic train prefix


def _quantizer_stats(spark: SparkSession, frame: DataFrame, back):
    """(cells_used, occ_max, occ_cv, pq_mse_raw) for one A/B variant.
    ``frame`` is (vec_id, v); ``back`` maps quantization residuals
    back to RAW space (d×d ndarray; identity for the raw variant, the
    un-whitening matrix for the whitened one) so both variants score
    in the SAME metric. Two bounded driver fits (train prefix ≤
    _AUDIT_TRAIN rows, the _PQ_TRAIN exemption class) + ONE
    zero-shuffle mapInPandas pass emitting (cell, sse, n) partials —
    occupancy and MSE aggregate Spark-side, nothing wider than a
    k-row groupBy on the wire."""
    import numpy as np
    import pandas as pd

    from mr_py_spark.operators.vectors import _lloyd, _nearest, _pq_train

    X = np.asarray(
        [
            r.v
            for r in frame.orderBy("vec_id")
            .limit(_AUDIT_TRAIN)
            .select("v")
            .collect()
        ],
        dtype=np.float64,
    )
    # plain-L2 cells from a seeded-choice start: the spherical tier's
    # normalization only means something for unit-norm inputs, and
    # whitened vectors aren't
    pick = np.random.RandomState(7).choice(
        len(X), min(_AUDIT_NLIST, len(X)), replace=False
    )
    cent = _lloyd(X, X[pick])
    d = X.shape[1]
    sub = 8
    books = _pq_train(X, m=d // sub, k=16, sub=sub)
    b = _bc(spark, (cent, books, np.asarray(back, dtype=np.float64)))

    def score(batches):
        c_b, books_b, back_b = b.value
        m, _, sub_b = books_b.shape
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.asarray(list(pdf["v"]), dtype=np.float64)
            cell = _nearest(M, c_b)
            recon = np.empty_like(M)
            for mi in range(m):
                s = M[:, mi * sub_b : (mi + 1) * sub_b]
                dd = ((s[:, None, :] - books_b[mi][None, :, :]) ** 2).sum(-1)
                recon[:, mi * sub_b : (mi + 1) * sub_b] = books_b[mi][
                    dd.argmin(1)
                ]
            err = (M - recon) @ back_b
            sse = (err**2).sum(1)
            out = pd.DataFrame({"cell": cell, "sse": sse})
            g = out.groupby("cell", sort=False).agg(
                sse=("sse", "sum"), n=("sse", "size")
            )
            yield g.reset_index()

    parts = frame.mapInPandas(score, "cell long, sse double, n long")
    agg = (
        parts.groupBy("cell")
        .agg(F.sum("n").alias("n"), F.sum("sse").alias("sse"))
        .agg(
            F.count("*").alias("cells"),
            F.max("n").alias("occ_max"),
            F.avg("n").alias("occ_mean"),
            F.stddev_pop("n").alias("occ_sd"),
            (F.sum("sse") / F.sum("n")).alias("mse"),
        )
        .collect()[0]
    )
    cv = float(agg.occ_sd / agg.occ_mean) if agg.occ_mean else 0.0
    return int(agg.cells), int(agg.occ_max), cv, float(agg.mse)


@register("emb_whiten_quantizer_audit", tags=("C3", "B7"), oracle=None)
def emb_whiten_quantizer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer for ``emb_pca_whiten`` (r13 verdict item 1): A/B
    the preconditioner claim on the quantizers it feeds. For each
    variant (raw, whitened) — the SAME plain-L2 coarse quantizer and
    the SAME PQ code budget — report IVF cell-occupancy balance
    (occ_max, occ_cv: rounder cells ⇒ bounded per-probe candidate
    work) and PQ reconstruction MSE scored in RAW space (whitened
    residuals are mapped back through the un-whitening matrix, so the
    numbers are comparable). Rows-only: k-means/PQ float iterations
    are engine-specific; the emit contract (exactly these two
    variants, stats well-formed) is property-tested, and SCALE.md r14
    ("Whitening preconditioner A/B", 200k vectors) pins the measured
    DIRECTION: on the near-isotropic fixture whitening is a wash
    (occ_cv 0.046→0.053, PQ MSE unchanged — nothing to fix, noise
    amplified); on a spectrally-decayed variant (condition ~400) it
    FIXES coarse-cell balance (occ_cv 0.150→0.053, occ_max −14%) while
    costing ~3% raw-space PQ MSE (PQ allocates bits where variance is;
    whitening equalizes it). So: precondition the IVF/coarse tier with
    it, do NOT whiten ahead of a raw-MSE-targeted PQ. Either direction
    is a recorded answer, not a contract. Scale shape: per
    variant two bounded driver fits + one
    zero-shuffle scoring pass + a k-row groupBy; the whitened side
    adds `_pca_moments`' single-scan bounded moment fold."""
    import numpy as np

    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    mom = _pca_moments(spark, e)
    rows = []
    if mom is not None:
        mu, w_mat, w_inv = mom
        d = len(mu)
        raw = _quantizer_stats(spark, e, np.eye(d))
        wfr = _pca_whiten_frame(spark, e).withColumnRenamed("w", "v")
        white = _quantizer_stats(spark, wfr, w_inv)
        rows = [("raw",) + raw, ("whitened",) + white]
    return spark.createDataFrame(
        rows,
        "variant string, cells long, occ_max long, occ_cv double, pq_mse_raw double",
    )
