"""Hierarchical (two-level) coarse quantizer for the semantic tier
(SURVEY.md §2 C2/C3 — the scale continuation of kmeans.semantic_dedup
and similarity.incremental_semantic_dedup).

The flat quantizers cap their centroid count at 4096 so the centroid
frame stays a bounded broadcast (similarity._ivf_nlist,
kmeans._kmeans_k). Past n ≈ 262k vectors that cap makes average bucket
occupancy — and therefore cluster-mate PAIR WORK in both semantic-dedup
forms — grow linearly with the corpus (SCALE.md r12 measured occupancy
488 at 2M vectors, where the SemDeDup economics want ~64). The fix is
depth, not a bigger broadcast:

- **Root quantizer**: ≤ 4096 spherical centroids sized for ~_ROOT_ROWS
  (4096) vectors per root bucket — the SAME bounded-broadcast training
  and zero-shuffle argmax assignment the flat IVF tier uses
  (similarity._ivf_centroids / ivf_assign_with).
- **Leaf quantizers**: one small k-means PER ROOT BUCKET, trained
  DISTRIBUTED — a single applyInPandas pass grouped by root bucket, so
  the work fans out across the cluster and the driver never collects a
  centroid (the leaf table can exceed any broadcast budget: n/64 rows).
  k_leaf is sized PER GROUP from its own occupancy (ceil(occ/64)), so
  a skewed hot root automatically gets more leaves — the flat form has
  no such degree of freedom.
- **Cell = (bucket, leaf)**: effective occupancy stays ~_LEAF_ROWS (64)
  for any corpus up to ~4096 · 4096 · 64 ≈ 1e9 vectors (past that, add
  a third level — same construction, the leaf trainer is already
  group-local). Candidate generation joins on the composite cell key
  against the (bucket, leaf)-bucketed standing inverted file, so the
  corpus side stays exchange-free exactly like the flat standing index.

Assignment never broadcasts the leaf table: vectors take the root
argmax (broadcast of ≤ 4096 roots), then meet ONLY their own root's
leaves in a cogroup keyed on the root bucket — the leaf side arrives
pre-bucketed from its standing table, so only the (small) delta
exchanges. Leaf scoring uses the house fold-order kernel
(similarity._fold_order_blocks): bit-stable and row-blocked, so a hot
root never allocates an unbounded score matrix.

Triage and batch dedup run the flat tier's cell kernels
(similarity.semantic_delta_status, similarity.cell_survivors) keyed on
the cell; ``incremental_semantic_dedup_hier`` is the registered
production form for corpora past the flat cap, property-tested with
planted statuses, a single-leaf-degeneration bit-equality pin against
the flat kernel, and an occupancy-flatness test; the sf100 interleaved
A/B vs the flat index lives in SCALE.md r13.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_py_spark.operators.vectors import (
    _ADC_K,
    _ADC_M,
    _kmeans_init,
    _lloyd,
    _nearest,
    _pq_encode_frame,
    _unit_rows,
    arrow_matrix,
)
from mr_py_spark.registry import register
from mr_py_spark.sources import tbl
from mr_py_spark.util import table_rows as _table_rows

#: Target occupancies per level. Roots hold ~4096 vectors (the ANN
#: bucket grain — bounds the per-group leaf-training input at
#: n/nroot ≤ ~262k rows even at the root cap), leaves ~64 (the
#: SemDeDup pair-work grain, kmeans._kmeans_k's target).
_ROOT_ROWS = 4096
_LEAF_ROWS = 64
_MAX_K = 4096  # per-level centroid cap (broadcast / per-group bound)

#: Persisted layouts of the leaf table, the (bucket, leaf) inverted file
#: and the PQ codebooks (``_books_frame``).
_LEAF_SCHEMA = "bucket long, leaf long, lv array<double>"
_CELL_SCHEMA = "vec_id long, bucket long, leaf long, v array<double>"
#: The two-level cell key: the triage and survivor kernels group on it.
_CELL = ("bucket", "leaf")
_BOOKS_SCHEMA = "mi long, ki long, sub array<double>"


def _hier_nroot(n: int, root_rows: int = _ROOT_ROWS) -> int:
    """Root count of an ``n``-vector build: sized for ~root_rows vectors
    per root, clamped like _ivf_nlist so the root broadcast stays
    bounded, and never more roots than vectors."""
    return min(max(8, min(_MAX_K, round(n / root_rows) or 1)), max(1, n))


def _spread_by_bucket(root_assigned: DataFrame, spread: int | None) -> DataFrame:
    """BUILD-path skew fix: the leaf-train / assign group exchanges
    default to the session's shuffle-partition count, so each task
    bundles many root groups — at 8M vectors max/p50 task time on leaf
    training measured 3.4x (a 298 s straggler against an 89 s median,
    the stage wall pinned by it) where 2M showed 1.2x. An explicit
    repartition on the group key
    into ~nroot partitions puts ~one group per task: HashPartitioning
    (bucket, spread) satisfies the groupBy/cogroup's required
    clustering for ANY partition count, so no second exchange is
    added, and an explicit-N repartition is exempt from AQE
    coalescing. Opt-in (None = current behavior) because the SERVE
    path must keep its standing leaf table exchange-free: spreading a
    delta-side cogroup would re-shuffle the big leaf side to match."""
    if spread is None:
        return root_assigned
    return root_assigned.repartition(max(1, int(spread)), "bucket")


def hier_leaf_centroids(
    root_assigned: DataFrame,
    leaf_rows: int = _LEAF_ROWS,
    spread: int | None = None,
) -> DataFrame:
    """(bucket, leaf, lv): per-root-bucket leaf centroids, trained in
    ONE distributed pass grouped by root bucket — no driver collect at
    any k (the flat quantizers' 4096-cap exists because their centroids
    ride a broadcast; leaves never do). Deterministic: each group is
    sorted by vec_id before training and the rng is seeded on the
    bucket id, so rebuilds are bit-identical regardless of partition
    layout. k_leaf = ceil(occupancy / leaf_rows), capped at _MAX_K —
    sized per group, so hot roots get proportionally more leaves.
    Training is the shared Lloyd kernel (vectors._lloyd, 8 rounds from
    vectors._kmeans_init); empty leaves are then dropped (renumbered
    dense) and the rest L2-normalized so dot == cosine during
    assignment. ``spread`` (build paths pass nroot) unbundles groups
    from tasks — see _spread_by_bucket."""

    def train(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        X = np.asarray(list(pdf["v"]), dtype=np.float64)
        b = int(pdf["bucket"].iloc[0])
        k = max(1, min(_MAX_K, -(-len(X) // leaf_rows)))
        cent = _lloyd(X, _kmeans_init(X, k, seed=b))
        cent = _unit_rows(cent[np.unique(_nearest(X, cent))])
        return pd.DataFrame(
            {
                "bucket": np.full(len(cent), b, dtype=np.int64),
                "leaf": np.arange(len(cent), dtype=np.int64),
                "lv": [[float(x) for x in c] for c in cent],
            }
        )

    return _spread_by_bucket(root_assigned, spread).groupBy("bucket").applyInPandas(
        train, _LEAF_SCHEMA
    )


def hier_assign(
    root_assigned: DataFrame,
    leaf_cent: DataFrame,
    spread: int | None = None,
) -> DataFrame:
    """(vec_id, bucket, leaf, v): leaf assignment WITHIN each root
    bucket — a cogroup on the root bucket id, so a vector only ever
    meets its own root's ≤ _MAX_K leaves and the leaf table as a whole
    is never broadcast or crossed. Scoring is the fold-order kernel
    (bit-stable, row-blocked against hot roots). When ``leaf_cent``
    comes from its (bucket)-bucketed standing table the leaf side is
    exchange-free; only ``root_assigned`` shuffles. ``spread`` is the
    BUILD-path skew fix (see _spread_by_bucket) — never set it on the
    delta/serve path, where it would re-shuffle the standing leaf
    side to match the spread partitioning. A root without leaves (empty
    at build time) assigns its vectors to leaf 0."""
    from mr_py_spark.operators.similarity import _fold_order_blocks

    def assign(key, vpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(vpdf):
            return pd.DataFrame(
                {
                    "vec_id": pd.Series([], dtype="int64"),
                    "bucket": pd.Series([], dtype="int64"),
                    "leaf": pd.Series([], dtype="int64"),
                    "v": pd.Series([], dtype="object"),
                }
            )
        if not len(cpdf):
            # a root that held no vectors at build time trains no leaf,
            # and later deltas can still land in it: the whole root is
            # then one cell, leaf 0, for every later assignment
            return pd.DataFrame(
                {
                    "vec_id": vpdf["vec_id"].to_numpy(),
                    "bucket": vpdf["bucket"].to_numpy(),
                    "leaf": np.zeros(len(vpdf), dtype=np.int64),
                    "v": vpdf["v"],
                }
            )
        cpdf = cpdf.sort_values("leaf")
        A = np.asarray(list(vpdf["v"]), dtype=np.float64)
        C = np.asarray(list(cpdf["lv"]), dtype=np.float64)
        leaf_ids = cpdf["leaf"].to_numpy()
        out = np.empty(len(A), dtype=np.int64)
        for s, sims in _fold_order_blocks(A, C):
            out[s : s + sims.shape[0]] = leaf_ids[sims.argmax(1)]
        return pd.DataFrame(
            {
                "vec_id": vpdf["vec_id"].to_numpy(),
                "bucket": vpdf["bucket"].to_numpy(),
                "leaf": out,
                "v": vpdf["v"],
            }
        )

    return (
        _spread_by_bucket(root_assigned, spread).groupBy("bucket")
        .cogroup(leaf_cent.groupBy("bucket"))
        .applyInPandas(assign, _CELL_SCHEMA)
    )


def hier_corpus_index(spark: SparkSession, sf_dir: str):
    """The STANDING two-level index of the fixture's corpus split (the
    same deterministic snapshot split as ivf_corpus_index, so the flat
    and hierarchical tiers describe the same corpus): root centroids,
    per-root leaf centroids (bucketed by root bucket), and the corpus
    inverted file bucketed by the composite CELL key (bucket, leaf) —
    candidate equi-joins on the cell stay exchange-free on the corpus
    side. All three ride the content-stamped cache with a builder
    stamp over every function and knob the persisted bytes depend on
    (``_hier_index_stamp`` plus the corpus/delta split constants).
    Returns (root_cent, leaf_cent, assigned)."""
    from mr_py_spark.operators.bucketed import builder_stamp, stamped_save
    from mr_py_spark.operators.dedup import (
        _INC_BUCKETS,
        _INC_DELTA_BUCKET,
        _INC_MULT,
    )
    from mr_py_spark.operators.similarity import _emb_double

    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    corpus = e.filter(
        (F.col("vec_id") * F.lit(_INC_MULT)) % F.lit(_INC_BUCKETS)
        != _INC_DELTA_BUCKET
    )
    n = _table_rows(e, sf_dir, "embeddings")
    stamp = _hier_index_stamp(n) + builder_stamp(
        inc=(_INC_MULT, _INC_BUCKETS, _INC_DELTA_BUCKET)
    )
    return hier_build(
        spark, corpus, n, stamped_save(spark, sf_dir, "embeddings", stamp),
        ("hier_root_cent", "hier_leaf_cent", "hier_corpus_assign"),
    )


@register(
    "incremental_semantic_dedup_hier", tags=("C2", "C3", "B22"), oracle=None
)
def incremental_semantic_dedup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``similarity.semantic_delta_status`` on the two-level CELLS
    (bucket, leaf), bound to the fixture's deterministic snapshot
    split — the O(delta) semantic-dedup form whose per-vector pair
    work stays ~_LEAF_ROWS at ANY corpus size, where the flat
    ``incremental_semantic_dedup``'s grows linearly past the
    4096-centroid broadcast cap (SCALE.md r12). Rows-only (seeded quantizers are
    engine-specific); planted cross-batch / within-batch / novel
    statuses, the single-leaf degeneration pin against the flat
    kernel, occupancy flatness, and determinism are property-tested
    (tests/test_properties.py); the standing-index scan and
    cartesian-freedom are plan-asserted (tests/test_plans.py)."""
    from mr_py_spark.operators.dedup import (
        _INC_BUCKETS,
        _INC_DELTA_BUCKET,
        _INC_MULT,
    )
    from mr_py_spark.operators.similarity import (
        _emb_double,
        ivf_assign_with,
        semantic_delta_status,
    )

    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    delta = e.filter(
        (F.col("vec_id") * F.lit(_INC_MULT)) % F.lit(_INC_BUCKETS)
        == _INC_DELTA_BUCKET
    )
    root_cent, leaf_cent, assigned = hier_corpus_index(spark, sf_dir)
    return semantic_delta_status(
        hier_assign(ivf_assign_with(root_cent, delta), leaf_cent),
        assigned, _CELL,
    )


@register("hier_index_occupancy", tags=("C3", "B7"), oracle=None)
def hier_index_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy audit of the two standing semantic indexes — the
    driver-visible witness of the hierarchy's claim: the flat index's
    average bucket occupancy grows linearly with the corpus past the
    centroid cap, the hierarchical index's CELL occupancy stays at the
    ~_LEAF_ROWS design point. One row per (index, grain): vector count,
    cell count, mean and max occupancy. Rows-only (layout metrics of
    engine-internal indexes); the flatness-under-growth property is
    tested on synthetic corpora in tests/test_properties.py."""
    from mr_py_spark.operators.similarity import ivf_corpus_index

    _, _, h_assigned = hier_corpus_index(spark, sf_dir)
    _, f_assigned = ivf_corpus_index(spark, sf_dir)

    def occ(assigned: DataFrame, keys: list[str], name: str) -> DataFrame:
        per = assigned.groupBy(*keys).agg(F.count(F.lit(1)).alias("occ"))
        return per.agg(
            F.lit(name).alias("index"),
            F.sum("occ").cast("long").alias("n_vecs"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.avg("occ").alias("mean_occ"),
            F.max("occ").cast("long").alias("max_occ"),
        )

    return occ(f_assigned, ["bucket"], "flat_bucket").unionByName(
        occ(h_assigned, ["bucket", "leaf"], "hier_cell")
    )


def hier_quantize(
    spark: SparkSession,
    vectors: DataFrame,
    n: int,
    root_rows: int = _ROOT_ROWS,
    leaf_rows: int = _LEAF_ROWS,
):
    """Train a two-level quantizer over ``vectors`` (vec_id, v) and
    assign every vector to its cell, all in one lineage — the PER-RUN
    form behind ``semantic_dedup_hier`` (the standing-index form is
    ``hier_corpus_index``); nothing is persisted, so each stage is the
    lazy frame the last one built. Returns (root_cent, leaf_cent,
    assigned)."""
    from mr_py_spark.operators.bucketed import identity_save

    return hier_build(
        spark, vectors, n, identity_save,
        ("hier_root", "hier_leaf", "hier_assign"),
        root_rows=root_rows, leaf_rows=leaf_rows,
    )


@register("semantic_dedup_hier", tags=("C2", "C3"), oracle=None)
def semantic_dedup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH semantic dedup through the two-level quantizer — the
    production form of ``semantic_dedup`` for corpora past the flat
    4096-centroid cap (kmeans.py's exact-integer Lloyd chain stays the
    oracle-pinned reference at driver scales; this is its scale
    continuation, the same relationship the LSH family has between its
    exact and banded forms). Per-vector pair work is the ~64-row CELL
    occupancy at ANY corpus size (SCALE.md r13: occupancy 64.4 at 8M
    vectors where the flat cap gives 1757.8). Rows-only (seeded
    quantizers are engine-specific); planted-dup recall,
    no-false-positive vs brute force, and determinism are
    property-tested (tests/test_properties.py)."""
    from mr_py_spark.operators.kmeans import _TAU
    from mr_py_spark.operators.similarity import _emb_double, cell_survivors

    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    n = _table_rows(e, sf_dir, "embeddings")
    _, _, assigned = hier_quantize(spark, e, n)
    return cell_survivors(assigned, _CELL, float(_TAU))


#: Probe counts for the hier ANN serve path: per-query candidate work
#: is root_probe x leaf_probe x ~_LEAF_ROWS rows — CONSTANT in corpus
#: size (the flat IVF tier's probed-FRACTION rule is Θ(n/4) per query;
#: this is the sub-Θ(n) knob its docstring names for 10⁹ vectors).
#: Recall comes from multi-probe at BOTH levels: a neighbor straddling
#: a root boundary is reached through the next-nearest roots, one
#: straddling a leaf boundary through sibling leaves — measured on the
#: 30k two-scale clustered corpus in tests/test_properties.py. 12x12
#: from the 2M-vector sweep on the HONEST mutated fixture (SCALE.md
#: r13, post-mixer-fix): STRONG-neighbor recall (cosine >= 0.9, the
#: near-dup tier's actual target set) is 1.000 at every probe setting
#: — true near-dups co-assign; all-neighbor recall@5 rises smoothly
#: with probes (0.57 @ 12x12 / 9k cands, 0.68 @ 24x24, 0.77 @ 48x24 —
#: each still constant-in-n) because the fixture's residual top-5 are
#: cosine ~0.3-0.5 NOISE directions no bucketing co-locates; on
#: clustered corpora (the realistic shape) small probes already clear
#: 0.7. 12x12 is the default operating point; callers own the knob.
_ROOT_PROBE = 12
_LEAF_PROBE = 12


def hier_topk_with(
    root_cent: DataFrame,
    leaf_cent: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    k: int = 5,
    root_probe: int = _ROOT_PROBE,
    leaf_probe: int = _LEAF_PROBE,
) -> DataFrame:
    """Approximate top-k over a standing two-level index: each query
    probes its ``root_probe`` nearest roots, then its ``leaf_probe``
    nearest leaves within each probed root (``_hier_probe_cells``), and
    candidates are an equi-join on the composite CELL key against the
    (bucket, leaf)-bucketed inverted file, pruned to the probed roots —
    exchange-free on the corpus side, exactly like the dedup tier. The
    exact rank is the one every kNN form shares
    (``similarity.exact_serve``).

    Per-query candidate work is root_probe·leaf_probe·~_LEAF_ROWS rows
    at ANY corpus size — the constant-cost serve tier the flat IVF
    form's Θ(n/4) probed-fraction rule can't reach. Leaf probing uses
    the fold-order kernel, so probe sets are bit-deterministic; with
    probes ≥ the level widths the result degenerates to the exact
    brute-force top-k (property-pinned in tests/test_properties.py)."""
    from mr_py_spark.operators.similarity import exact_serve

    cells = _hier_probe_cells(root_cent, leaf_cent, queries, root_probe, leaf_probe)
    return exact_serve(cells, assigned, _CELL, k)


def _hier_probe_cells(
    root_cent: DataFrame,
    leaf_cent: DataFrame,
    queries: DataFrame,
    root_probe: int,
    leaf_probe: int,
) -> DataFrame:
    """The two-level probe stage shared by the exact and PQ serve
    tiers: per query, the ``root_probe`` nearest roots (broadcast
    argmax over the bounded root frame — the exempt nested loop), then
    the ``leaf_probe`` nearest leaves WITHIN each probed root via a
    cogroup on the root bucket (the leaf table is never broadcast;
    only the query side exchanges). Returns (q_id, bucket, leaf, qv)
    — one row per probed CELL."""
    from mr_py_spark.operators.similarity import _fold_order_blocks, centroid_probe

    root_probes = centroid_probe(root_cent, queries, root_probe)

    lp = int(leaf_probe)

    def probe_leaves(key, qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        # an unoccupied root trains no leaves and indexes no vectors —
        # probing it legitimately yields no candidates
        if not len(qpdf) or not len(cpdf):
            return pd.DataFrame(
                {
                    "q_id": pd.Series([], dtype="int64"),
                    "bucket": pd.Series([], dtype="int64"),
                    "leaf": pd.Series([], dtype="int64"),
                    "qv": pd.Series([], dtype="object"),
                }
            )
        cpdf = cpdf.sort_values("leaf")
        A = np.asarray(list(qpdf["qv"]), dtype=np.float64)
        C = np.asarray(list(cpdf["lv"]), dtype=np.float64)
        leaf_ids = cpdf["leaf"].to_numpy()
        qids = qpdf["q_id"].to_numpy()
        qv_col = qpdf["qv"].reset_index(drop=True)
        b = int(key[0])
        out_q: list[int] = []
        out_leaf: list[int] = []
        out_qv: list = []
        for s, sims in _fold_order_blocks(A, C):
            for i in range(sims.shape[0]):
                # deterministic ties: (-sim, leaf) via stable lexsort
                order = np.lexsort((leaf_ids, -sims[i]))[:lp]
                for j in order:
                    out_q.append(int(qids[s + i]))
                    out_leaf.append(int(leaf_ids[j]))
                    out_qv.append(qv_col[s + i])
        return pd.DataFrame(
            {
                "q_id": np.asarray(out_q, dtype=np.int64),
                "bucket": np.full(len(out_q), b, dtype=np.int64),
                "leaf": np.asarray(out_leaf, dtype=np.int64),
                "qv": out_qv,
            }
        )

    return (
        root_probes.groupBy("bucket")
        .cogroup(leaf_cent.groupBy("bucket"))
        .applyInPandas(
            probe_leaves, "q_id long, bucket long, leaf long, qv array<double>"
        )
    )


#: Design ceiling of the TWO-level construction: ~4096 roots × ~4096
#: leaves/root × ~64 vectors/leaf ≈ 1.1e9 vectors. Past it, per-root
#: leaf-training groups exceed ~262k rows and cell occupancy drifts off
#: the ~_LEAF_ROWS grain — the continuation is a THIRD level (same
#: construction; the leaf trainer is already group-local), not built
#: while no ≥100M-vector fixture is on the measurement path, so
#: ``hier_build`` refuses such a corpus with a ValueError instead of
#: drifting silently.
_HIER_TWO_LEVEL_CEIL = 4096 * 4096 * 64


def hier_build(
    spark: SparkSession,
    train: DataFrame,
    n: int,
    save,
    names: tuple[str, ...],
    sample=None,
    root_rows: int = _ROOT_ROWS,
    leaf_rows: int = _LEAF_ROWS,
):
    """The one two-level quantizer build behind every hier index: roots
    trained on ``train`` (or on the given ordered ``sample``), ``train``
    assigned to the roots once, leaves trained per root, then ``train``
    assigned to its (bucket, leaf) cell. ``n`` sizes the roots
    (``_hier_nroot``); a corpus past ``_HIER_TWO_LEVEL_CEIL`` raises
    before any Spark job runs.

    ``save(name, frame_of, keys, schema)`` persists each stage and
    returns the persisted frame (bucketed.stamped_save / replace_save /
    absent_save, or identity for a per-run build); each later stage
    reads the frame ``save`` returned, so it always matches the
    generation on disk. ``names`` are the (root, leaf, cell) tables; a
    caller whose inverted file fills later (the streaming bootstrap)
    names only the quantizer pair.

    The root assignment is persisted MEMORY_AND_DISK: its O(n·nroot·d)
    matmul was ~85% of build CPU at 8M vectors, and both later stages
    read it; lazy, so a re-attached cache never materializes it. Both
    group stages are spread over ~nroot tasks (_spread_by_bucket).
    Returns (root_cent, leaf_cent, assigned or None)."""
    from pyspark import StorageLevel

    from mr_py_spark.operators.similarity import (
        CENT_SCHEMA,
        _ivf_centroids,
        centroid_frame,
        ivf_assign_with,
    )

    if n > _HIER_TWO_LEVEL_CEIL:  # not `assert` — python -O strips those
        raise ValueError(
            f"hier_build: {n} vectors exceeds the two-level design "
            f"ceiling ({_HIER_TWO_LEVEL_CEIL} ≈ 4096·4096·64) — add the "
            "third quantizer level (hier.py module docstring) before "
            "indexing corpora this size"
        )
    nroot = _hier_nroot(n, root_rows)
    root_cent = save(
        names[0],
        lambda: centroid_frame(
            spark, _ivf_centroids(spark, train, nroot, sample=sample)
        ),
        "cid", CENT_SCHEMA,
    )
    root_assigned = ivf_assign_with(root_cent, train).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        leaf_cent = save(
            names[1],
            lambda: hier_leaf_centroids(
                root_assigned, leaf_rows=leaf_rows, spread=nroot
            ),
            "bucket", _LEAF_SCHEMA,
        )
        assigned = None if len(names) == 2 else save(
            names[2],
            lambda: hier_assign(root_assigned, leaf_cent, spread=nroot),
            ("bucket", "leaf"), _CELL_SCHEMA,
        )
    finally:
        root_assigned.unpersist()
    return root_cent, leaf_cent, assigned


def _hier_index_stamp(n: int) -> str:
    """The builder stamp of every standing table derived from a hier
    index build — both index builders' three tables AND the PQ code
    table (an edit to the assignment must never leave codes whose
    (bucket, leaf) cells no longer match the index). It names every
    function the persisted bytes depend on: the builder, the root
    quantizer (the flat IVF stamp), the leaf trainer and the Lloyd
    kernel it calls, and the scoring kernel hier_assign delegates to —
    a wrapper in a stamp list hides edits to the body it calls."""
    from mr_py_spark.operators.bucketed import builder_stamp
    from mr_py_spark.operators.similarity import _fold_order_blocks, _ivf_stamp

    return _ivf_stamp(_hier_nroot(n)) + builder_stamp(
        hier_build, hier_leaf_centroids, hier_assign, _fold_order_blocks,
        _kmeans_init, _lloyd, _nearest, _unit_rows,
        root_rows=_ROOT_ROWS, leaf_rows=_LEAF_ROWS,
    )


def hier_index(spark: SparkSession, sf_dir: str):
    """The FULL-TABLE standing two-level index — the ANN serve twin of
    similarity.ivf_index (hier_corpus_index covers only the fixture's
    corpus split, the dedup convention): root centroids, per-root leaf
    centroids bucketed by root bucket, and the inverted file bucketed
    by the composite cell key (bucket, leaf), all through the
    content-stamped cache with the full builder stamp (every function
    and knob the persisted bytes depend on). Returns
    (root_cent, leaf_cent, assigned)."""
    from mr_py_spark.operators.bucketed import stamped_save
    from mr_py_spark.operators.similarity import _emb_double

    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    n = _table_rows(e, sf_dir, "embeddings")
    return hier_build(
        spark, e, n,
        stamped_save(spark, sf_dir, "embeddings", _hier_index_stamp(n)),
        ("hier_root_full", "hier_leaf_full", "hier_assign_full"),
    )


#: The ADC tier's default operating point: twice the exact tier's
#: probes per level. All-neighbor recall has no lever but probes, and
#: exact probes pay linearly in full-vector candidates; 16-byte codes
#: make 4x the cells cost ~1/8 the candidate bytes of the exact 12x12
#: tier.
_PQ_ROOT_PROBE = 24
_PQ_LEAF_PROBE = 24


def _books_frame(spark: SparkSession, books) -> DataFrame:
    """The persisted layout of (M, K, sub) PQ codebooks: one
    (mi, ki, sub) row per sub-centroid. ``_books_array`` reads it back."""
    return spark.createDataFrame(
        [
            (mi, ki, [float(x) for x in books[mi, ki]])
            for mi in range(books.shape[0])
            for ki in range(books.shape[1])
        ],
        _BOOKS_SCHEMA,
    )


def _books_array(books: DataFrame):
    """The (M, K, sub) ndarray of a ``_books_frame`` table, the tensor
    the encode kernel broadcasts. Bounded collect: M·K rows (4096 at
    m=16, k=256)."""
    rows = books.collect()
    m = max(r.mi for r in rows) + 1
    k = max(r.ki for r in rows) + 1
    out = np.empty((m, k, len(rows[0].sub)))
    for r in rows:
        out[r.mi, r.ki] = r.sub
    return out


def _pq_books_stamp() -> str:
    """The builder stamp of the PERSISTED PQ codebooks — everything the
    trained book bytes depend on, the Lloyd kernel _pq_train calls and
    the frame codec included. Shared by _hier_pq_books (its own table's
    stamp) and hier_pq_codes: the codes are a pure function of the
    books as well as the assignment, so a books rebuild must never
    leave stale codes to be scored against new books."""
    from mr_py_spark.operators.bucketed import builder_stamp
    from mr_py_spark.operators.similarity import _ordered_train_sample
    from mr_py_spark.operators.vectors import _PQ_TRAIN, _pq_train

    return builder_stamp(
        _pq_train, _lloyd, _nearest, _ordered_train_sample,
        _books_frame, _books_array,
        m=_ADC_M, k=_ADC_K, train=_PQ_TRAIN,
    )


def _hier_pq_books(spark: SparkSession, sf_dir: str):
    """Standing PQ codebooks for the hier serve tier: trained once on
    the deterministic ordered bounded sample (the _PQ_TRAIN exemption
    class), persisted as a tiny content-stamped table (m·k = 4096 rows
    of sub-vectors — bounded metadata, collected whole at serve time).
    Returns the (M, K, sub) ndarray."""
    from mr_py_spark.operators.bucketed import _bucketed_table
    from mr_py_spark.operators.similarity import (
        _emb_double,
        _ordered_train_sample,
    )
    from mr_py_spark.operators.vectors import _PQ_TRAIN, _pq_train

    def build() -> DataFrame:
        e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
        X = _ordered_train_sample(e, _PQ_TRAIN)
        return _books_frame(
            spark,
            _pq_train(X, m=_ADC_M, k=min(_ADC_K, len(X)), sub=X.shape[1] // _ADC_M),
        )

    return _books_array(
        _bucketed_table(
            spark, sf_dir, "hier_pq_books", "mi", frame_of=build,
            src_name="embeddings", schema=_BOOKS_SCHEMA,
            stamp_extra=_pq_books_stamp(),
        )
    )


def _pq_codes_stamp(n: int) -> str:
    """The builder stamp of the standing PQ-code table. The codes are a
    pure function of (assignment, books, encode pass), so it folds in
    all three builders, the encode kernel and the matrix conversion it
    calls included: an encode-only stamp would let a books or
    assignment rebuild serve STALE codes, and a wrapper in a stamp list
    hides edits to the body it calls."""
    from mr_py_spark.operators.bucketed import builder_stamp

    return (
        builder_stamp(
            hier_pq_codes, _pq_encode_frame, arrow_matrix, m=_ADC_M, k=_ADC_K
        )
        + _pq_books_stamp()
        + _hier_index_stamp(n)
    )


def hier_pq_codes(
    spark: SparkSession, sf_dir: str, assigned: DataFrame, books
) -> DataFrame:
    """Standing PQ-code inverted file for the hier serve tier: one
    zero-shuffle encode pass over the assigned table, persisted
    bucketed by the SAME composite cell key — so the ADC candidate
    join is exchange-free on the corpus side exactly like the exact
    tier's, but each candidate row carries 16 one-byte codes instead
    of the 512-byte double vector (~20× less through the join and the
    Python workers). Stamped by ``_pq_codes_stamp``."""
    from mr_py_spark.operators.bucketed import _bucketed_table

    n = _table_rows(tbl(spark, sf_dir, "embeddings"), sf_dir, "embeddings")
    return _bucketed_table(
        spark, sf_dir, "hier_pq_codes", ("bucket", "leaf"),
        frame_of=lambda: _pq_encode_frame(assigned, books),
        src_name="embeddings",
        schema="vec_id long, bucket long, leaf long, code array<int>",
        stamp_extra=_pq_codes_stamp(n),
    )


def hier_topk_pq_with(
    root_cent: DataFrame,
    leaf_cent: DataFrame,
    codes: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    books,
    k: int = 5,
    root_probe: int = _PQ_ROOT_PROBE,
    leaf_probe: int = _PQ_LEAF_PROBE,
    rerank: int = 20,
) -> DataFrame:
    """ADC-pre-ranked top-k over the standing two-level index, the
    all-neighbor recall lift: the measured misses are noise-direction
    neighbors that no bucketing co-locates, so the fix is affording
    wider probes (twice the exact tier's) rather than spilling
    boundary vectors. Candidates are the probed cells' rows of the
    (bucket, leaf)-bucketed code table, pruned to the probed roots, so
    the candidate stream carries (q_id, vec_id, code), never a vector;
    the shared ADC stage (``similarity.adc_rerank``) keeps the ADC top
    rerank·k per query and re-ranks them exactly against the assigned
    table pruned to the same roots, so no stage reads the corpus. With
    probes covering every cell and ``rerank·k`` ≥ the candidate count
    this degenerates to the exact tier bit-for-bit (property-pinned).
    The ~1.5x ADC task time over the exact tier at matched probes is
    decode volume by design; exact stays the default serve tier on a
    single node, because PQ's win is candidate bytes through a real
    multi-executor shuffle."""
    from mr_py_spark.operators.similarity import adc_rerank, probed_join

    cells = _hier_probe_cells(root_cent, leaf_cent, queries, root_probe, leaf_probe)
    cand, probed = probed_join(cells.select("q_id", "bucket", "leaf"), codes, _CELL)
    return adc_rerank(
        cand, queries, books, assigned.filter(F.col("bucket").isin(probed)), k, rerank
    )


@register("knn_hier_pq_topk_indexed", tags=("C3", "B22"), oracle=None)
def knn_hier_pq_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``knn_hier_topk_indexed``'s recall-lifted sibling: the same
    standing two-level index plus a standing 16-byte PQ code table —
    2× the probes of the exact tier at a fraction of its candidate
    bytes, exact re-rank of the ADC top-100. Rows-only (seeded
    quantizers + float ADC are engine-specific); the full-probe/full-
    rerank degeneration to the exact tier and the recall dominance
    over the exact tier at matched probes are property-tested
    (tests/test_properties.py); SCALE.md r14 records the 2M-fixture
    recall-vs-candidates curve against r13's probe sweep."""
    from mr_py_spark.operators.similarity import _emb_double, knn_queries

    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    root_cent, leaf_cent, assigned = hier_index(spark, sf_dir)
    books = _hier_pq_books(spark, sf_dir)
    codes = hier_pq_codes(spark, sf_dir, assigned, books)
    return hier_topk_pq_with(
        root_cent, leaf_cent, codes, assigned, knn_queries(e), books
    )


@register("knn_hier_topk_indexed", tags=("C3", "B22"), oracle=None)
def knn_hier_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 over the standing two-level index — the
    CONSTANT-per-query-cost ANN serve tier (root_probe·leaf_probe·~64
    candidate rows per query at any corpus size; the flat
    ``knn_ivf_topk_indexed``'s probed-fraction rule is Θ(n/4)). Same
    query set and emit shape as every other kNN form. Rows-only
    (seeded quantizers are engine-specific); the full-probe
    degeneration to exact brute force and the default-probe recall on
    a two-scale clustered corpus are property-tested
    (tests/test_properties.py); the standing-index scan, the absence
    of any query-time assignment pass, and cartesian-freedom are
    plan-asserted (tests/test_plans.py)."""
    from mr_py_spark.operators.similarity import _emb_double, knn_queries

    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    root_cent, leaf_cent, assigned = hier_index(spark, sf_dir)
    return hier_topk_with(root_cent, leaf_cent, assigned, knn_queries(e))


def hier_retrain(
    spark: SparkSession,
    root_table: str,
    leaf_table: str,
    idx_table: str,
    exclude_ids: DataFrame | None = None,
    extra_train: DataFrame | None = None,
    root_rows: int = _ROOT_ROWS,
    leaf_rows: int = _LEAF_ROWS,
) -> dict:
    """Quantizer RETRAIN for a standing two-level index triple — the
    hier twin of ``similarity.ivf_retrain`` (never-retrain is the
    default maintenance policy; this is the drift-triggered exception;
    the gauge is ``ivf_drift_frame`` pointed at the ROOT table and the
    inverted file's (vec_id, bucket, v) columns — a hier index drifts
    at the root level first, because leaves partition within roots).
    Re-fits the roots on the index's current contents, re-trains every
    root's leaves in the one distributed pass, re-assigns every indexed
    vector to its new cell, and rewrites all THREE standing tables in
    place under their existing bucket specs via the crash-atomic
    two-phase swap (``hier_build`` with bucketed.replace_save).

    Swap order is root → leaf → inverted file, each later stage
    TRAINING/ASSIGNING FROM THE PERSISTED GENERATION it just wrote
    (spark.table, not the builder lineage) — so the leaf trainer sees
    exactly the roots a crash would leave behind, and a crash between
    swaps leaves mixed generations that are still queryable and are
    converged by the next retrain (the same documented window as the
    flat form's two-table swap).

    Deterministic given the index contents: the root training sample
    is the tripping batch first, then the index's vectors BY vec_id
    (`similarity._retrain_sample`), leaf training sorts each group by
    vec_id and seeds on the bucket id — a replayed retrain rebuilds
    bit-identical tables. ``exclude_ids`` and ``extra_train`` carry the
    streaming replay discipline over unchanged (pre-batch index view
    for the decision AND the corpus; the tripping batch rides the
    training sample only). Returns {"nroot", "n_leaves", "n_vecs"}."""
    from mr_py_spark.operators.bucketed import replace_save
    from mr_py_spark.operators.similarity import _retrain_sample, pin_drift_ref

    idx = spark.table(idx_table).select("vec_id", "v")
    if exclude_ids is not None:
        idx = idx.join(exclude_ids.select("vec_id"), "vec_id", "left_anti")
    sample = _retrain_sample(idx, extra_train)
    n_vecs = idx.count()
    root_cent, leaf_cent, assigned = hier_build(
        spark, idx, n_vecs, replace_save(spark),
        (root_table, leaf_table, idx_table), sample=sample,
        root_rows=root_rows, leaf_rows=leaf_rows,
    )
    # pin the new generation's ROOT-level drift reference in the same
    # pass as the swap (a hier index gauges at the root)
    pin_drift_ref(
        spark, root_cent, idx_table, assigned.select("vec_id", "bucket", "v")
    )
    return {
        "nroot": int(_hier_nroot(n_vecs, root_rows)),
        "n_leaves": int(leaf_cent.count()),
        "n_vecs": int(n_vecs),
    }


@register("hier_pq_codes_maintenance", tags=("C3", "A8", "B22"), oracle=None)
def hier_pq_codes_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible end-to-end of the PQ-code table's O(delta)
    lifecycle: build a PRIVATE standing codes table from the fixture's
    corpus split under the shared hier quantizers and codebooks, admit
    the fixture's delta split through ``bucketed.append_entries``
    (assign + encode the delta only — never a corpus re-encode),
    replay the same append under the idempotent guard, and emit the
    audit the maintenance contract promises: the appended table is
    row-identical (codes included) to a one-pass encode of the full
    corpus — codes are a pure function of (assignment, books), so the
    O(delta) path must be bit-equal to the rebuild it replaces — and
    the replay admits exactly zero rows. Rows-only (PQ codes are
    engine-specific layout); the same bit-equality and
    replay-idempotence are property-tested on synthetic corpora
    (tests/test_properties.py).

    GENERATION CONTRACT: a retrain or books rebuild invalidates every
    stored code, so the owner rebuilds the codes table from the new
    generation instead of appending across generations (the batch tier
    through the shared content stamp, the streaming loop through its
    ``codes_gen`` sidecar)."""
    import os
    import re as _re
    import shutil
    import tempfile as _tf

    from mr_py_spark.operators.bucketed import append_entries, n_buckets
    from mr_py_spark.operators.dedup import (
        _INC_BUCKETS,
        _INC_DELTA_BUCKET,
        _INC_MULT,
    )
    from mr_py_spark.operators.similarity import _emb_double, ivf_assign_with
    from mr_py_spark.sources.sinks import write_bucketed

    e = _emb_double(tbl(spark, sf_dir, "embeddings"), "v")
    split = (F.col("vec_id") * F.lit(_INC_MULT)) % F.lit(_INC_BUCKETS)
    delta = e.filter(split == _INC_DELTA_BUCKET)
    # shared standing quantizers of the SAME corpus split + the shared
    # codebooks — only the codes table itself is private to this demo
    root_cent, leaf_cent, corpus_assigned = hier_corpus_index(spark, sf_dir)
    books = _hier_pq_books(spark, sf_dir)
    delta_codes = _pq_encode_frame(
        hier_assign(ivf_assign_with(root_cent, delta), leaf_cent), books
    )

    tag = (
        _re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/")) + f"_p{os.getpid()}"
    )
    table = f"mrps_pq_codes_demo_{tag}"
    root = os.path.join(_tf.gettempdir(), "spark_graft_pq_codes", tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed(
            _pq_encode_frame(corpus_assigned, books),
            table, ("bucket", "leaf"), n_buckets(spark),
            path=os.path.join(root, "codes"),
        )
        n_corpus = spark.table(table).count()
        append_entries(table, delta_codes, "vec_id")
        n_after = spark.table(table).count()
        # bit-equality vs the one-pass full encode this path replaces:
        # full outer on vec_id, any missing/extra/differing row counts
        full = _pq_encode_frame(
            hier_assign(
                ivf_assign_with(root_cent, e), leaf_cent
            ),
            books,
        ).select(
            "vec_id",
            F.struct("bucket", "leaf", "code").alias("want"),
        )
        got = spark.table(table).select(
            "vec_id", F.struct("bucket", "leaf", "code").alias("got")
        )
        mismatches = (
            got.join(full, "vec_id", "full_outer")
            .filter(
                F.col("got").isNull()
                | F.col("want").isNull()
                | (F.col("got") != F.col("want"))
            )
            .count()
        )
        # replayed append under the idempotent guard admits nothing
        append_entries(table, delta_codes, "vec_id", idempotent=True)
        replay_admitted = spark.table(table).count() - n_after
        return spark.createDataFrame(
            [
                ("n_corpus_codes", int(n_corpus)),
                ("n_delta_appended", int(n_after - n_corpus)),
                ("mismatch_vs_full_encode", int(mismatches)),
                ("replay_admitted", int(replay_admitted)),
            ],
            "metric string, value long",
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(root, ignore_errors=True)
