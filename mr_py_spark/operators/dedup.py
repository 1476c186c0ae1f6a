"""Deduplication operators (SURVEY.md §2C: C1-C2).

Exact dedup, prefix dedup, n-gram Jaccard, MinHash+LSH near-dup, and
SimHash — the training-data-pipeline surface. The fixtures plant ~4%
near-duplicates as shared 80-char prefixes (FIXTURES.md documents),
which the pytest suite uses as ground truth for the approximate paths.

Scale design: every approximate path is blocked/bucketed — candidate
generation is always an equi-join on a bucket key (LSH band or prefix),
never an all-pairs cross join, so the plan survives 10^9 documents.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql.functions import pandas_udf

from mr_py_spark.functions import ngrams_arr, words
from mr_py_spark.registry import register
from mr_py_spark.sources import tbl


@register(
    "dedup_exact",
    tags=("C1",),
    oracle="""
        SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        FROM documents
        GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (C1): keep the minimum doc_id per identical text.

    Scale note: at 100 TB you group by sha2(text, 256) instead of the
    full text so the shuffle carries 32-byte keys, not documents —
    tests/test_properties.py proves the hash-keyed variant selects the same
    survivor set.
    """
    docs = tbl(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies")
    ).select("doc_id", "n_copies")


def dedup_exact_hashed(docs: DataFrame) -> DataFrame:
    """The shuffle-lean form of dedup_exact: group on sha2(text) so only
    digests shuffle. Same survivor set (proven in tests)."""
    return (
        docs.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "n_copies")
    )


@register(
    "dedup_prefix",
    tags=("C2",),
    oracle="""
        SELECT min(doc_id) AS doc_id, count(*) AS n_near_copies
        FROM documents
        GROUP BY substring(text, 1, 80)
    """,
)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-key near-dedup (C2, exact-oracle variant): collapses the
    fixture's planted shared-80-char-prefix near-duplicates. The
    production analogue is URL/domain-key dedup before fuzzy passes."""
    docs = tbl(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.substring("text", 1, 80))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_near_copies"))
        .select("doc_id", "n_near_copies")
    )


@register(
    "ngram_jaccard_pairs",
    tags=("C2",),
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_distinct(string_split(lower(text), ' ')) AS ws,
                   substring(text, 1, 40)                        AS blk
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
        FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard over blocked candidate pairs (C2).

    Blocking key = 40-char prefix (candidate generation is an equi-join,
    never all-pairs); Jaccard = |A∩B| / |A∪B| on distinct token sets.
    The MinHash path below estimates this same quantity at scale.
    """
    docs = tbl(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.array_distinct(words(F.lower("text"))).alias("ws"),
        F.substring("text", 1, 40).alias("blk"),
    )
    a = t.alias("a")
    b = t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws")))
    union = F.size(F.array_union(F.col("a.ws"), F.col("b.ws")))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (inter.cast("double") / union).alias("jaccard"),
        )
    )


# MinHash configuration: 16 permutations, 4 bands x 4 rows.
_N_HASHES = 16
_BAND_ROWS = 4


#: 3-word shingles from a BOUND token-array column `w` (JVM-side, no
#: UDF). `w` must be materialized in its own projection — see
#: ``ngrams_arr``'s O(tokens^2) warning; the selectExpr chain below
#: keeps each alias in its own projection exactly as the Column form
#: did (CollapseProject leaves multiply-referenced non-cheap aliases
#: alone either way). Documents shorter than 3 words fall back to the
#: whole lowered text `lt` as one shingle. Single SQL string (r17):
#: the old nested when(...)/ngrams_arr Column tree cost ~45 py4j
#: round trips per construction; this parses JVM-side in one.
_SHINGLES_SQL = (
    "CASE WHEN size(w) >= 3 THEN transform(sequence(1, size(w) - 2), "
    "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1), "
    "element_at(w, i + 2))) ELSE array(lt) END AS sh"
)


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Per-document MinHash signature (doc_id, mh0..mh15) as a
    SCAN-LOCAL array expression: every shingle of a document lives in
    that document's row, so min(hash(shingle)) never needs an explode
    + groupBy — array_min over a transform computes all 16 components
    with ZERO shuffle. (min is multiplicity-invariant, so the
    historical explode->distinct->groupBy pipeline produced
    bitwise-identical signatures while paying two full shuffles of the
    shingle stream; r7 A/B in SCALE.md.) Exposed as a library function
    so tests can pin seed diversity — a signature whose 16 components
    collapse to one value passes pair-level recall tests while being
    useless for banding.

    r17 (VERDICT r16 item 1): the expression trees are built as
    JVM-parsed ``selectExpr`` strings — the Column-API form cost
    ~2,000 py4j round trips per construction (16 transform lambdas ×
    per-node calls), the dominant share of the streaming triage's
    ~1 s per-batch DataFrame-build constant. The parsed plan is the
    same analyzed expression tree (int seed literals, identical
    lambda bodies), so signatures are bit-identical — pinned by the
    equals-recompute and planted-recall property tests."""
    return (
        docs.selectExpr("doc_id", "lower(text) AS lt")
        .selectExpr("doc_id", "split(lt, ' ') AS w", "lt")
        .selectExpr("doc_id", _SHINGLES_SQL)
        .selectExpr(
            "doc_id",
            *[
                f"array_min(transform(sh, s -> xxhash64(s, {i}))) AS mh{i}"
                for i in range(_N_HASHES)
            ],
        )
    )


def lsh_band_entries(sig: DataFrame, band_rows: int | None = None) -> DataFrame:
    """LSH banding of a minhash_signatures frame: one row per
    (doc, band) carrying the full signature plus (band_id, band_key)
    — the standing near-dup INDEX a production warehouse materializes
    (and would bucket by band_key, making index-side lookups
    exchange-free — the q5_bucketed argument). band_key = hash of the
    band's signature slice; a scan-local explode, zero shuffle.

    ``band_rows`` (default _BAND_ROWS) is the re-band actuator's knob
    (r14): more rows per band = a more selective band key = fewer
    weak-similarity candidate collisions per probe, at a recall cost
    for mid-similarity pairs — the trade a standing index grown far
    past its build size takes deliberately (lsh_reband) instead of
    drifting off its candidate-mass design point. A banding must
    divide _N_HASHES; the index is self-describing via its band_id
    range (lsh_index_band_rows), so probes always band the delta to
    match."""
    band_rows = _BAND_ROWS if band_rows is None else int(band_rows)
    if _N_HASHES % band_rows:
        raise ValueError(f"band_rows {band_rows} must divide {_N_HASHES}")
    n_bands = _N_HASHES // band_rows
    # One JVM-parsed explode expression (r17, VERDICT r16 item 1) —
    # same analyzed tree as the old Column form (int band_id literals,
    # xxhash64 over the band's mh slice), ~70 fewer py4j round trips
    # per construction. Results bit-identical (property-pinned).
    band_structs = ", ".join(
        "struct({b} AS band_id, xxhash64({cols}) AS band_key)".format(
            b=b,
            cols=", ".join(f"mh{b * band_rows + r}" for r in range(band_rows)),
        )
        for b in range(n_bands)
    )
    mh_cols = [f"mh{i}" for i in range(_N_HASHES)]
    return sig.selectExpr(
        "doc_id", *mh_cols, f"explode(array({band_structs})) AS band"
    ).select("doc_id", *mh_cols, "band.band_id", "band.band_key")


def minhash_pairs_from_bands(
    band_entries: DataFrame, bucket_cap: int | None = None
) -> DataFrame:
    """LSH pair mining over a ``lsh_band_entries`` frame: equi-self-
    join on (band_id, band_key), verify with the exact signature
    agreement fraction, emit pairs with est >= 0.5.

    With ``bucket_cap``, band buckets holding more than that many
    entries are stripped BEFORE the self-join via a broadcast
    anti-join (the hot set is small by definition — buckets above the
    cap number at most n_entries/cap): the STOP-BUCKET rule, the LSH
    family's own instance of the video stop-frame df-cap. A band
    bucket of B entries costs C(B,2) candidate pairs, so an unbounded
    near-dup cluster (the byte-identical-replica degenerate the r10
    sf100 campaign hit) makes candidate mass quadratic; the cap bounds
    per-bucket work at C(cap,2) regardless of corpus shape. Dropped
    pairs are exactly those ALL of whose shared bands are hot — i.e.
    members of clusters larger than the cap, which is the population
    exact-dedup-first exists to strip (pipeline_clean_corpus ordering;
    SCALE.md r11 A/B) — while pairs sharing any normal bucket
    survive untouched (property-tested)."""
    if bucket_cap is not None:
        hot = (
            band_entries.groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > bucket_cap)
            .select("band_id", "band_key")
        )
        band_entries = band_entries.join(
            F.broadcast(hot), ["band_id", "band_key"], "left_anti"
        )
    # JVM-parsed join condition + verify expression: the 2×16-col
    # aliasing select and the 16-term agreement sum were ~1,500 py4j
    # round trips per construction. No intermediate distinct over the
    # 34 signature columns: jaccard_est is a pure function of the
    # signatures, so pairs duplicated across shared bands collapse
    # identically in the final distinct — output set unchanged
    # (property-pinned).
    agree_sql = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
        for i in range(_N_HASHES)
    )
    return (
        band_entries.alias("a")
        .join(
            band_entries.alias("b"),
            F.expr(
                "a.band_id = b.band_id AND a.band_key = b.band_key "
                "AND a.doc_id < b.doc_id"
            ),
        )
        .selectExpr(
            "a.doc_id AS doc_a",
            "b.doc_id AS doc_b",
            f"round(({agree_sql}) / {float(_N_HASHES)!r}D, 4) AS jaccard_est",
        )
        .filter("jaccard_est >= 0.5D")
        .distinct()
    )


@register("dedup_minhash", tags=("C2",), oracle=None)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate pairs (C2). Rows-only: hash
    permutations are engine-specific, so correctness is proven by
    property tests (planted near-dups recalled, Jaccard estimate close
    to exact) rather than a SQL oracle.

    Pipeline (all DataFrame ops, shuffle-bounded):
      1-2. minhash signature: per doc, min(xxhash64(shingle, seed_i))
         for 16 seeds — a scan-local array expression, zero shuffle
         (see minhash_signatures)
      3. LSH: 4 bands of 4 rows; band key = hash of the band's slice
      4. candidates = equi-self-join on (band_id, band_key), doc_a < doc_b
      5. verify candidates with the exact signature agreement fraction
         (estimate of Jaccard); emit pairs with est >= 0.5

    At 10^9 docs each stage is a hash shuffle on bounded keys; no
    cross join exists anywhere in the plan.
    """
    docs = tbl(spark, sf_dir, "documents")
    return minhash_pairs_from_bands(lsh_band_entries(minhash_signatures(docs)))


#: dedup_minhash_capped: strip band buckets holding more than this many
#: entries from candidate generation. Sized well above the fixture's
#: max bucket occupancy (asserted in tests, so the capped form is a
#: proven NO-OP there); at 100 TB the cap is what bounds the hottest
#: bucket's C(B,2) pair unfold on dup-dense corpora.
_LSH_BUCKET_CAP = 64


@register("dedup_minhash_capped", tags=("C2", "A5"), oracle=None)
def dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of ``dedup_minhash``: identical banding plus
    the stop-bucket occupancy cap (``minhash_pairs_from_bands``) — the
    operator-level mitigation for the quadratic-bucket degenerate the
    byte-identical sf100 fixture exposed (r10: ~C(1000,2) pairs per
    band bucket, 60 GB spill DNF; SCALE.md r11 measures this form
    completing on that exact corpus). Rows-only; property tests prove
    the cap is a no-op on the fixture (max occupancy asserted below
    the cap) and that on a planted mega-cluster corpus only
    cluster-internal pairs drop while every pair sharing a normal
    bucket survives."""
    docs = tbl(spark, sf_dir, "documents")
    return minhash_pairs_from_bands(
        lsh_band_entries(minhash_signatures(docs)), bucket_cap=_LSH_BUCKET_CAP
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 64
) -> DataFrame:
    """Connected components as iterated min-label propagation on
    DataFrames: each round joins labels across edges and keeps the
    min, until a fixpoint (no label changed). Rounds = O(component
    diameter); each round is one keyed shuffle — no driver-side graph,
    so the same loop runs at 10^9 edges.

    ``nodes`` must have a ``doc_id`` column, ``edges`` ``doc_a``/
    ``doc_b``. Returns (doc_id, label) with label = min doc_id of the
    component. Raises if ``max_rounds`` is hit before convergence —
    silent truncation would split long-chain components (a planted
    8-hop chain guards this in tests/test_properties.py).
    """
    edges = edges.select("doc_a", "doc_b").cache()
    labels = nodes.select("doc_id", F.col("doc_id").alias("label"))
    both = edges.unionByName(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    for _ in range(max_rounds):
        neighbor_min = (
            both.join(labels, both.doc_b == labels.doc_id)
            .groupBy("doc_a")
            .agg(F.min("label").alias("nlabel"))
        )
        # materialize each round and truncate lineage — without this the
        # plan doubles per round; with it, the final result no longer
        # references `edges`, so the cache can be released below. The
        # `changed` flag rides along so the convergence check is a cheap
        # agg over the checkpointed rows, not a second propagation job.
        step = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.doc_a, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nlabel"), F.col("label")) < F.col("label")).alias(
                    "changed"
                ),
            )
            .localCheckpoint(eager=True)
        )
        labels = step.select("doc_id", "label")
        if step.filter(F.col("changed")).limit(1).count() == 0:
            edges.unpersist()
            return labels
    edges.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds"
    )


@register("dedup_clusters", tags=("C2",), oracle=None)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters + survivor election (C2 end-to-end):
    candidate pairs (the prefix-blocked exact-Jaccard pairs at
    threshold 0.5) -> connected components (convergence-checked min-
    label propagation, see ``connected_components``) -> keep the
    minimum doc_id per cluster. Rows-only; pytest asserts cluster
    consistency against the pair set and chain-shaped convergence.
    """
    pairs = ngram_jaccard_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.5)
    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    labels = connected_components(docs, pairs.select("doc_a", "doc_b"))
    return labels.groupBy("label").agg(
        F.count("*").alias("cluster_size"),
        F.min("doc_id").alias("survivor"),
    ).select(F.col("label").alias("cluster_id"), "cluster_size", "survivor")


@register("dedup_simhash", tags=("C2",), oracle=None)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (C2). Rows-only; pytest asserts the
    planted prefix near-dups land within small Hamming distance and that
    the fingerprint is deterministic (md5-based, engine-independent).

    pandas_udf (Arrow-batched) because the 64-lane bit accumulation is
    a poor fit for per-bit SQL expressions; the UDF is pure so the
    operator still parallelizes per batch. The batch body is numpy
    throughout (r8 — the old form looped 64 bits per word per row in
    Python): one md5 per UNIQUE word in the batch (vocabulary, not
    token stream), then the per-row ±1 accumulation is a single
    scatter-add over a (vocab × 64) sign matrix. The uint64 view at
    the end is the same mod-2^64 signed wrap as the old
    `v - (1 << 64)` branch, so fingerprints are bit-identical.
    """

    @pandas_udf("long")
    def simhash(text: pd.Series) -> pd.Series:
        import numpy as np

        words_per_row = [
            [w for w in t.lower().split(" ") if w] if isinstance(t, str) else []
            for t in text
        ]
        counts = np.fromiter(
            (len(ws) for ws in words_per_row), dtype=np.int64, count=len(words_per_row)
        )
        flat = [w for ws in words_per_row for w in ws]
        if not flat:
            return pd.Series(np.zeros(len(text), dtype=np.int64))
        # hash-based factorize beats sort-based np.unique ~3x on token
        # streams; reduceat beats the unbuffered np.add.at scatter ~5x
        # (both measured at sf0.1, SCALE.md r8)
        codes, uniq = pd.factorize(np.asarray(flat, dtype=object), sort=False)
        digests = b"".join(hashlib.md5(w.encode()).digest()[:8] for w in uniq)
        h = np.frombuffer(digests, dtype=">u8").astype(np.uint64)
        signs = (
            ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
                np.int64
            )
            * 2
            - 1
        )  # (vocab, 64) in {-1, +1}
        # per-row segment sums: tokens are already in row order, so
        # reduceat over the nonempty rows' start offsets segments the
        # token stream exactly (empty rows keep their zero rows)
        starts = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        nz = counts > 0
        acc = np.zeros((len(text), 64), dtype=np.int64)
        if nz.any():
            acc[nz] = np.add.reduceat(signs[codes], starts[nz], axis=0)
        bits = (acc > 0).astype(np.uint64)
        v = (bits << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)
        return pd.Series(v.view(np.int64))

    docs = tbl(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash("text").alias("simhash64"))


@register(
    "dedup_latest",
    tags=("C1", "B34"),
    oracle="""
        SELECT user_id, event_type, event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
               value
        FROM (
            SELECT user_id, event_type, event_id, ts, value,
                   row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
)
def dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-newest-per-key dedup (C1/B34): the CDC-compaction shape
    every training-data pipeline runs — one surviving record per
    (user_id, event_type), newest ts wins, event_id as the total
    tie-break. One hash shuffle on the key; Spark's WindowGroupLimit
    prunes to the per-key max BEFORE the sort spills (map-side top-1),
    so at 100 TB the shuffle carries only each partition's per-key
    leaders, not the full history."""
    from mr_py_spark.functions import fmt_ts_us

    ev = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_type", "event_id", fmt_ts_us("ts").alias("ts"), "value"
        )
    )


@register(
    "fuzzy_dup_pairs",
    tags=("C2", "B29"),
    oracle="""
        WITH t AS (SELECT doc_id, text, substring(text, 1, 40) AS blk
                   FROM documents)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
        FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
    """,
)
def fuzzy_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy duplicate pairs (C2): full Levenshtein
    between candidate documents, candidates generated by a 40-char
    prefix block — the same equi-join blocking as ngram_jaccard_pairs,
    so the O(len^2) DP only runs on pairs that already share a prefix,
    never all-pairs. Both engines implement textbook Levenshtein, so
    the distance is oracle-comparable exactly. At 100 TB the block key
    would be a MinHash band instead of a prefix; the join shape is
    identical."""
    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", "text", F.substring("text", 1, 40).alias("blk")
    )
    a = docs.alias("a")
    b = docs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.text"), F.col("b.text"))
            .cast("long")
            .alias("edit_dist"),
        )
    )


# Snapshot split for the incremental-ingest demo: ~10% of documents
# play the "newly crawled delta", the rest the standing corpus. Pure
# int64 arithmetic (Knuth multiplicative hash) so both engines carve
# the identical split.
_INC_MULT = 2654435761
_INC_BUCKETS = 10
_INC_DELTA_BUCKET = 7


@register(
    "incremental_dedup",
    tags=("C1", "C2", "B20"),
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id, source,
                   md5(substring(text, 1, 80)) AS h,
                   (doc_id * {_INC_MULT}) % {_INC_BUCKETS} AS b
            FROM documents
        ),
        delta AS (SELECT * FROM keyed WHERE b = {_INC_DELTA_BUCKET}),
        corpus AS (SELECT DISTINCT h FROM keyed WHERE b <> {_INC_DELTA_BUCKET}),
        first_seen AS (
            SELECT h, min(doc_id) AS doc_id, count(*) AS n_delta_copies
            FROM delta GROUP BY h
        )
        SELECT f.doc_id, f.n_delta_copies
        FROM first_seen f
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = f.h)
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-corpus) dedup (C1/C2): the production
    ingest shape — every new crawl snapshot is deduplicated first
    WITHIN itself (keep min doc_id per content key), then AGAINST the
    standing corpus (anti-join on the key), and only the survivors are
    appended. Re-deduplicating the whole corpus per snapshot is the
    naive O(total) alternative this replaces with O(delta).

    The content key here is md5 of the 80-char prefix — the fixture
    plants ~4% prefix near-duplicates (FIXTURES.md), so both stages
    genuinely filter; in production any canonical key plugs in
    (sha256 of normalized text for exact dedup, a MinHash band key
    for fuzzy — see ``dedup_minhash``). The delta/corpus split is a
    deterministic hash bucket so the oracle sees the same snapshot.

    Scale shape: the within-delta groupBy shuffles only the DELTA
    (small by construction); the anti-join shuffles 16-byte digests,
    never documents — project the corpus to its key column before the
    join so a 100 TB corpus contributes a digest-only exchange, and a
    standing warehouse would keep that digest index materialized
    (bucketed by h) making the anti-join exchange-free on the corpus
    side (same argument as tests/test_sinks.py's bucketed merge
    join)."""
    docs = tbl(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.substring("text", 1, 80)).alias("h"),
        ((F.col("doc_id") * F.lit(_INC_MULT)) % F.lit(_INC_BUCKETS)).alias("b"),
    )
    delta = keyed.filter(F.col("b") == _INC_DELTA_BUCKET)
    corpus = keyed.filter(F.col("b") != _INC_DELTA_BUCKET).select("h")
    first_seen = delta.groupBy("h").agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("n_delta_copies"),
    )
    return first_seen.join(corpus, "h", "left_anti").select(
        "doc_id", "n_delta_copies"
    )


def minhash_delta_status(
    corpus: DataFrame | None,
    delta: DataFrame,
    tau: float = 0.5,
    corpus_bands: DataFrame | None = None,
    band_rows: int | None = None,
) -> DataFrame:
    """Incremental NEAR-dup triage of a delta batch (doc_id, text)
    against a standing corpus — the fuzzy companion to
    ``incremental_dedup``'s exact digest anti-join, and the production
    ingest shape for MinHash dedup: re-banding the whole corpus per
    snapshot is the naive O(total) alternative.

    Returns one row per delta doc: (doc_id, status, match_id) with
    status 'dup_of_corpus' (some corpus doc agrees on >= tau of the
    signature; match_id = min such corpus doc), else
    'dup_within_delta' (the house star rule: some LOWER-doc_id delta
    doc matches; match_id = min such), else 'new' (match_id null).
    Corpus-vs-corpus pairs are never formed.

    Scale shape: the corpus contributes ONLY its LSH index
    (lsh_band_entries — bands + 16 longs per doc, never text), which
    a standing warehouse keeps materialized and bucketed by band_key
    so the candidate lookup is exchange-free on the corpus side; the
    delta side is small by construction and AQE broadcasts it at
    runtime (declarative — no hint, the q5 fact-hint lesson). Work is
    O(delta x bucket-occupancy), independent of corpus size. The
    within-delta pass is dedup_minhash restricted to the delta.
    Candidate fan-out is band-bucket-bounded; no cross join (asserted
    in tests/test_plans.py).

    ``corpus_bands`` short-circuits the corpus signature pass with a
    PREBUILT lsh_band_entries frame (the standing materialized index —
    see ``corpus_lsh_index``); when given, ``corpus`` is unused and may
    be None. This is the production shape: the corpus contributes a
    scan of 18 small columns instead of a full text re-shingling. The
    delta is banded to MATCH the index's banding (lsh_index_band_rows
    — one bounded column-pruned agg; r14, the re-band actuator means
    an index's rows-per-band is no longer a compile-time constant),
    so a re-banded index keeps answering probes correctly.

    ``band_rows`` short-circuits THAT derivation for per-batch callers
    on a STANDING table (ADVICE r14: deriving from the frame each
    micro-batch re-paid the O(index) column agg the banding sidecar
    exists to avoid — pass ``lsh_table_band_rows(spark, table)``,
    sidecar-cached). Ignored when ``corpus_bands`` is None (both sides
    band at the build default)."""
    if corpus_bands is None:
        band_rows = None
    elif band_rows is None:
        band_rows = lsh_index_band_rows(corpus_bands)
    dband = lsh_band_entries(minhash_signatures(delta), band_rows)
    cband = (
        corpus_bands
        if corpus_bands is not None
        else lsh_band_entries(minhash_signatures(corpus))
    )

    # r17 (VERDICT r16 items 1+2). Expression side: the verify
    # predicate is ONE JVM-parsed string (the old 2×16-col aliasing
    # select + 16-term Column sum were the bulk of the ~6k py4j round
    # trips ≈ 0.9 s per triage build), applied BEFORE any projection so
    # only (doc_id, partner) survive each join — the 32 signature
    # columns never flow past the filter. Plan side: the per-candidate
    # 34-column .distinct() is gone (min() is multiplicity-invariant),
    # and the two verified-match streams UNION into a single
    # groupBy(doc_id) that computes both mins at once — one exchange +
    # one left join instead of two of each (the triage executed 13 AQE
    # stage-jobs per warm batch; this removes four of its exchanges).
    # The candidate JOINS are untouched: the corpus side still probes
    # the bucketed standing index exchange-free / AQE-broadcast
    # (plan-asserted), the within-delta side is the same band
    # self-join. Statuses are bit-identical (property-pinned: planted
    # statuses, indexed-equals-recompute).
    verify_sql = (
        "("
        + " + ".join(
            f"(CASE WHEN d.mh{i} = o.mh{i} THEN 1 ELSE 0 END)"
            for i in range(_N_HASHES)
        )
        + f") / {float(_N_HASHES)!r}D >= {float(tau)!r}D"
    )

    def verified(other: DataFrame, extra_cond: str, tag: str) -> DataFrame:
        """(delta doc, verified partner, side tag) from a band equi-join."""
        return (
            dband.alias("d")
            .join(
                other.alias("o"),
                F.expr(
                    "d.band_id = o.band_id AND d.band_key = o.band_key"
                    + extra_cond
                ),
            )
            .filter(F.expr(verify_sql))
            .selectExpr(
                "d.doc_id AS doc_id",
                "o.doc_id AS partner",
                f"{tag} AS is_corpus",
            )
        )

    matches = verified(cband, "", "true").unionByName(
        verified(dband, " AND o.doc_id < d.doc_id", "false")
    )
    agg = matches.groupBy("doc_id").agg(
        F.min(F.when(F.col("is_corpus"), F.col("partner"))).alias("corpus_match"),
        F.min(F.when(~F.col("is_corpus"), F.col("partner"))).alias("delta_match"),
    )
    return (
        delta.select("doc_id")
        .distinct()
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("corpus_match").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("delta_match").isNotNull(), F.lit("dup_within_delta"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.coalesce("corpus_match", "delta_match").alias("match_id"),
        )
    )


@register("incremental_minhash_dedup", tags=("C2", "C1", "B19"), oracle=None)
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``minhash_delta_status`` bound to the fixture's deterministic
    snapshot split (the incremental_dedup buckets: delta = bucket
    {_INC_DELTA_BUCKET} of {_INC_BUCKETS}). Rows-only — hash
    permutations are engine-specific; correctness is property-tested
    on planted cross-batch and within-batch near-dups plus a
    no-corpus-pairs invariant (tests/test_properties.py)."""
    docs = tbl(spark, sf_dir, "documents")
    b = (F.col("doc_id") * F.lit(_INC_MULT)) % F.lit(_INC_BUCKETS)
    delta = docs.filter(b == _INC_DELTA_BUCKET)
    corpus = docs.filter(b != _INC_DELTA_BUCKET)
    return minhash_delta_status(corpus, delta)


#: The standing LSH index's bucket spec: the FULL candidate-join key
#: set. Co-partitioning requires all cluster keys (r11 plan audit: a
#: band_key-only bucket spec still forced an index-side Exchange under
#: a shuffle join — hashpartitioning on a SUBSET of the join keys
#: satisfies clustering but cannot co-partition with the other side),
#: so the index is bucketed by exactly what the candidate join joins on.
_LSH_INDEX_KEYS = ("band_id", "band_key")


def corpus_lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STANDING materialized LSH index of the fixture's corpus
    split (every doc outside the delta bucket): ``lsh_band_entries``
    persisted once per sf_dir as a warehouse table BUCKETED BY
    (band_id, band_key) — the layout a production warehouse maintains
    so that per-snapshot near-dup triage never re-reads or re-shingles
    corpus text (r10's measured 6 s at sf10 was almost entirely that
    recompute). Bucketing by the FULL join key set makes the index
    side of the candidate join exchange-free even when the delta is
    too large to broadcast (plan-asserted under a forced shuffle join
    in tests/test_plans.py; see _LSH_INDEX_KEYS for why a subset spec
    does not co-partition). Built through the same content-stamped
    cache as the bucketed TPC-H warehouse (bucketed.py), so a
    regenerated fixture invalidates the index."""
    from mr_py_spark.operators.bucketed import _bucketed_table

    def build() -> DataFrame:
        docs = tbl(spark, sf_dir, "documents")
        b = (F.col("doc_id") * F.lit(_INC_MULT)) % F.lit(_INC_BUCKETS)
        return lsh_band_entries(minhash_signatures(docs.filter(b != _INC_DELTA_BUCKET)))

    from mr_py_spark.operators.bucketed import builder_stamp

    return _bucketed_table(
        spark, sf_dir, "lsh_bands_k2", _LSH_INDEX_KEYS,
        frame_of=build, src_name="documents",
        # builder stamp (r12 rule): any signature-shape/seed/split edit
        # must rebuild the cached index, not serve the stale banding
        stamp_extra=builder_stamp(
            minhash_signatures, lsh_band_entries,
            h=_N_HASHES, b=_BAND_ROWS,
            inc=(_INC_MULT, _INC_BUCKETS, _INC_DELTA_BUCKET),
        ),
    )


def lsh_index_append(
    new_docs: DataFrame,
    table: str,
    idempotent: bool = False,
    stats: tuple[int, int | None, int | None] | None = None,
) -> None:
    """Index MAINTENANCE: band ``new_docs`` (doc_id, text) and append
    their entries into the standing index table under the SAME bucket
    spec — the O(delta) upkeep step after a snapshot's survivors are
    admitted to the corpus. Spark validates the bucket spec against
    the existing table, so a drifted bucket count fails loudly instead
    of silently mixing layouts; the append bands at the TABLE's
    current rows-per-band (after a re-band, appends must not
    reintroduce the old banding). (Tests exercise this on a private
    table — the per-sf_dir cached index is content-stamped to the
    fixture file and must stay a pure function of it.)

    Before the rows land, the shared replay guard runs
    (``bucketed.append_guard``: ``idempotent=True`` drops doc_ids the
    table already holds, otherwise the watermark is raised), and the
    gauge sufficient statistics are bumped O(delta)
    (``_lsh_gauge_bump``; a no-op while no gauge sidecar exists). The
    entries frame is persisted across its consumers so the delta is
    shingled once.

    CONTRACT: batch doc_ids are MONOTONE across appends — each fresh
    batch's ids exceed every previously appended id. Both sidecars
    rest on it (replay_guard's watermark fast path and the gauge's
    replay skip); the streaming loops satisfy it by construction. A
    violating batch still APPENDS correctly (the index itself is
    id-agnostic) but is skipped by the gauge with a warning
    (stale-LOW — see ``_lsh_gauge_bump``) and, if idempotent replay is
    in use, may be re-admitted by a later replay.

    ``stats``: precomputed (n_docs, min_id, max_id) of ``new_docs``.
    The guard and the gauge bump share it, so the append runs no
    aggregation job of its own; the guard drops it when it filtered
    anything, and the append then aggregates the entries it writes."""
    from mr_py_spark.operators.bucketed import _BUCKETS, append_guard
    from mr_py_spark.sources.sinks import write_bucketed

    spark = new_docs.sparkSession
    rows, stats = (
        append_guard(table, new_docs, "doc_id", True, stats)
        if idempotent
        else (new_docs, stats)
    )
    entries = lsh_band_entries(
        minhash_signatures(rows), lsh_table_band_rows(spark, table)
    ).persist()
    try:
        if stats is None:
            row = (
                entries.filter(F.col("band_id") == 0)
                .agg(
                    F.count(F.lit(1)).alias("nd"),
                    F.min("doc_id").alias("mn"),
                    F.max("doc_id").alias("mx"),
                )
                .collect()[0]
            )
            stats = (int(row.nd), row.mn, row.mx)
        if not idempotent:  # the watermark raise shares the entries' stats
            append_guard(table, rows, "doc_id", False, stats)
        _lsh_gauge_bump(spark, table, entries, d0=stats)
        write_bucketed(entries, table, _LSH_INDEX_KEYS, _BUCKETS, mode="append")
    finally:
        entries.unpersist()


def lsh_index_band_rows(bands: DataFrame) -> int:
    """The rows-per-band a band-entries frame was built with, derived
    from its band_id range (_N_HASHES // n_bands): the index is
    SELF-DESCRIBING, so probes/appends/gauges never need a side
    metadata channel that could drift from the table (r14 re-band
    actuator). One column-pruned agg — O(index) reads, so PER-BATCH
    callers on a STANDING TABLE go through ``lsh_table_band_rows``
    (sidecar-cached, this as the fallback); an empty frame reports the
    build default."""
    row = bands.agg(F.max("band_id").alias("m")).collect()[0]
    if row.m is None:
        return _BAND_ROWS
    return _N_HASHES // (int(row.m) + 1)


def lsh_table_band_rows(spark: SparkSession, table: str) -> int:
    """``lsh_index_band_rows`` for a STANDING table, without the
    per-call index scan: a bounded-looking derive that reads a full
    column per micro-batch is O(index) per batch at 10⁹ rows. The
    banding rides the table's ``banding`` sidecar
    (``bucketed.sidecar_path``), which dies with the table generation,
    so a re-band, compaction or rollback can never leave a stale
    banding behind; absent or torn, it is re-derived exactly from the
    table and repaired."""
    from mr_py_spark.operators.bucketed import (
        sidecar_path,
        sidecar_read_json,
        sidecar_write_json,
    )

    side = sidecar_path(spark, table, "banding")
    rec = sidecar_read_json(side, ("band_rows",))
    if rec is not None:
        return int(rec["band_rows"])
    rows = lsh_index_band_rows(spark.table(table))
    sidecar_write_json(side, {"band_rows": rows})
    return rows


#: Re-band trigger: the index's mean COLLISION mass per band probe —
#: sum(occ*(occ-1))/n_docs, the expected number of candidate partners
#: a member's own band lookups hit — above this means candidate-verify
#: work per delta doc has drifted past the banding's design point.
#: The fixture index sits at ~0.6 (most band buckets are singletons);
#: true near-dup clusters contribute bounded mass after exact-dedup
#: (pipeline_clean_corpus ordering), so sustained mass above ~8 is
#: weak-similarity collision load a more selective banding removes.
_LSH_COLLISION_CAP = 8.0


def lsh_occupancy_frame(bands: DataFrame) -> DataFrame:
    """The re-band GAUGE (r14 — the text twin of ivf_drift_frame): one
    row of band-bucket occupancy stats over a band-entries frame.
    ``collision_per_doc`` = sum(occ·(occ−1)) / n_docs is the expected
    candidate count a member doc's own band probes produce — exactly
    the per-delta-doc verify work the banding is supposed to bound.
    ONE groupBy on the (bucketed) index keys + a 1-row agg — n_docs is
    Σocc over the band_id=0 buckets (every doc appears exactly once
    per band, the lsh_reband signature-recovery trick), so the old
    corpus-wide doc_id distinct-count second scan is gone (r15). On
    the standing table the groupBy is exchange-free. This is the
    EXACT full gauge for monitoring queries and re-band refreshes;
    per-micro-batch checks read the incrementally-maintained
    sufficient statistics instead (``lsh_gauge_stats`` — VERDICT r14
    item 1: the in-loop full gauge was an index-sized scan + hash
    table every 8 batches)."""
    occ = bands.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("occ")
    )
    nd = F.coalesce(
        F.sum(F.when(F.col("band_id") == 0, F.col("occ"))), F.lit(0)
    )
    return occ.agg(
        nd.cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("occ").alias("occ_max"),
        F.expr("percentile(occ, 0.99)").alias("occ_p99"),
        (
            F.sum(F.col("occ") * (F.col("occ") - F.lit(1)))
            / F.greatest(nd, F.lit(1)).cast("double")
        ).alias("collision_per_doc"),
    )


def lsh_reband_needed(
    occ_frame: DataFrame,
    cap: float = _LSH_COLLISION_CAP,
    band_rows: int | None = None,
) -> bool:
    """Decision rule over a ``lsh_occupancy_frame`` row: True when the
    per-doc collision mass exceeds ``cap`` AND a more selective
    banding is still available (pass the index's current ``band_rows``;
    at _N_HASHES — one band — there is no next escalation, so the
    alarm must not ring unanswerable). Bounded: the frame is 1 row."""
    if band_rows is not None and int(band_rows) >= _N_HASHES:
        return False
    row = occ_frame.collect()[0]
    if row.n_docs == 0 or row.collision_per_doc is None:
        return False
    return float(row.collision_per_doc) > cap


def lsh_next_band_rows(cur: int) -> int:
    """The next escalation step for the re-band actuator: doubling
    stays a divisor of _N_HASHES (a power of two), capped at one band.
    Each step roughly squares a weak pair's per-band collision
    probability's decay (p^r), so escalation converges in
    log2(_N_HASHES / build_rows) steps."""
    return min(_N_HASHES, max(1, int(cur)) * 2)


#: bump-watermark floor: below any real id, so the first delta after a
#: bootstrap/refresh always registers as un-bumped.
_GAUGE_WM_FLOOR = -(1 << 62)


#: the gauge sidecar's record: current stats, the pre-bump snapshot
#: and the bump watermark, written together in ONE atomic write — that
#: atomicity closes every crash window between "stats updated" and
#: "replay marker updated".
_GAUGE_KEYS = ("mass", "n_docs", "prev_mass", "prev_n_docs", "bump_wm")


def _lsh_gauge_write(
    path: str, cur: tuple[int, int], prev: tuple[int, int], bump_wm: int
) -> None:
    from mr_py_spark.operators.bucketed import sidecar_write_json

    sidecar_write_json(
        path, dict(zip(_GAUGE_KEYS, (*cur, *prev, bump_wm)))
    )


def _lsh_gauge_full(bands: DataFrame) -> tuple[int, int, int]:
    """Exact (mass, n_docs, max_doc_id) in ONE column-pruned pass over
    a band-entries frame: mass = Σocc·(occ−1); n_docs and the max id
    both come from the band_id=0 buckets (one row per doc there), so
    no second scan and no corpus-wide distinct. Bootstrap / refresh
    path only — O(index), paid once per table generation."""
    occ = bands.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("occ"),
        F.max(F.when(F.col("band_id") == 0, F.col("doc_id"))).alias("mid"),
    )
    row = occ.agg(
        F.sum(F.col("occ") * (F.col("occ") - F.lit(1))).alias("mass"),
        F.sum(F.when(F.col("band_id") == 0, F.col("occ"))).alias("nd"),
        F.max("mid").alias("mx"),
    ).collect()[0]
    return (
        int(row.mass or 0),
        int(row.nd or 0),
        _GAUGE_WM_FLOOR if row.mx is None else int(row.mx),
    )


def lsh_gauge_stats(
    spark: SparkSession, table: str, batch_max_id: int | None = None
) -> dict:
    """O(1) exact collision-mass statistics for a standing LSH index
    (VERDICT r14 item 1: the in-loop gauge ran a full-index groupBy +
    corpus-wide distinct count every 8 batches — the same complexity
    class as the replay-guard defect r14 itself fixed). Returns
    {"mass": Σocc·(occ−1), "n_docs": n} read from the generation-bound
    sidecar, maintained incrementally by every ``lsh_index_append``
    (``_lsh_gauge_bump``, O(delta)) and refreshed exactly by
    ``lsh_reband``. An absent or vanished sidecar (fresh table, a
    compaction swap, a crash before the refresh) pays ONE exact
    recompute per table generation and repairs.

    ``batch_max_id`` is the replay discipline — the pre-batch-view
    rule every maintenance decision follows: the sidecar atomically
    records the PRE-bump snapshot alongside a bump watermark, so a
    check on behalf of a batch whose entries were already bumped (its
    max id at-or-below the watermark — bumps raise it before the rows
    land, so under the monotone-id ingest precondition (see
    ``_lsh_gauge_bump``) only a replay can sit there) reads the
    pre-batch stats the ORIGINAL run decided on, and original and
    replay agree. A caller that VIOLATES the precondition by reusing
    low ids gets the matching treatment on both paths (r16 — the r15
    read path called this a one-bump lag while the bump path silently
    dropped the mass): the read serves the snapshot and the bump SKIPS
    the delta with a warning, so the gauge runs stale-LOW — never a
    wrong banding, an alarm late by at most one re-band refresh —
    until ``lsh_reband``'s exact recompute re-counts everything.

    The sidecar keeps exactly ONE pre-bump snapshot, which makes
    original-and-replay-agree hold for the SINGLE-WRITER /
    replay-the-last-batch discipline foreachBatch provides (a restart
    replays the one uncommitted batch; no second writer bumps in
    between). A multi-batch replay or a concurrent writer would serve
    an older check a newer snapshot — divergence is convergent today
    only because ``lsh_reband`` is a pure function of the stored
    signatures, but the one-snapshot design is sized to the loop's
    contract, not to multi-writer tables (ADVICE r15)."""
    from mr_py_spark.operators.bucketed import sidecar_path, sidecar_read_json

    got = sidecar_read_json(sidecar_path(spark, table, "gauge"), _GAUGE_KEYS)
    if got is None:
        got = lsh_pin_gauge(spark, table)
    if batch_max_id is not None and int(batch_max_id) <= got["bump_wm"]:
        return {"mass": got["prev_mass"], "n_docs": got["prev_n_docs"]}
    return {"mass": got["mass"], "n_docs": got["n_docs"]}


def lsh_pin_gauge(spark: SparkSession, table: str) -> dict:
    """Write ``table``'s gauge record from ONE exact pass over its
    current generation (``_lsh_gauge_full``) and return it: the lazy
    bootstrap of ``lsh_gauge_stats``, and the streaming loop's first
    build, which pins the gauge at creation (as ``pin_drift_ref`` pins
    the drift reference) so the serving loop's first check is a warm
    sidecar read, not an O(index) pass."""
    from mr_py_spark.operators.bucketed import sidecar_path

    mass, nd, mx = _lsh_gauge_full(spark.table(table))
    _lsh_gauge_write(sidecar_path(spark, table, "gauge"), (mass, nd), (mass, nd), mx)
    return dict(zip(_GAUGE_KEYS, (mass, nd, mass, nd, mx)))


def lsh_gauge_trips(
    stats: dict,
    cap: float = _LSH_COLLISION_CAP,
    band_rows: int | None = None,
) -> bool:
    """``lsh_reband_needed`` over sidecar sufficient statistics instead
    of a gauge frame — the in-loop decision form: two ints and a
    division, no Spark job at all."""
    if band_rows is not None and int(band_rows) >= _N_HASHES:
        return False
    if stats["n_docs"] <= 0:
        return False
    return stats["mass"] / stats["n_docs"] > cap


def _lsh_gauge_delta_frame(
    spark: SparkSession, table: str, entries: DataFrame
) -> DataFrame:
    """The O(delta) occupancy probe behind ``_lsh_gauge_bump``, split
    out so tests/test_plans.py can assert its physical shape: the
    appended band keys joined against ONLY those keys' current
    occupancies. The broadcast left-semi runs BEFORE the groupBy, so
    the index side is a map-only two-column scan feeding an
    exchange-free partial agg on the bucketed keys with aggregation
    state bounded by the DELTA's key count — no shuffle of index-sized
    data, no corpus-wide distinct, no index-sized hash table (the
    three O(index) costs the r14 in-loop gauge paid). An append of
    ``a`` rows to a key at occupancy ``o`` adds a·(2o + a − 1) to
    Σocc·(occ−1)."""
    dk = entries.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("a")
    )
    occ = (
        spark.table(table)
        .join(
            F.broadcast(dk.select("band_id", "band_key")),
            ["band_id", "band_key"],
            "left_semi",
        )
        .groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    return dk.join(occ, ["band_id", "band_key"], "left").agg(
        F.sum(
            F.col("a")
            * (2 * F.coalesce(F.col("o"), F.lit(0)) + F.col("a") - F.lit(1))
        ).alias("dm")
    )


def _lsh_gauge_bump(
    spark: SparkSession,
    table: str,
    entries: DataFrame,
    d0: tuple[int, int | None, int | None] | None = None,
) -> None:
    """O(delta) incremental gauge maintenance, called by
    ``lsh_index_append`` BEFORE the rows land — the stale-HIGH-safe
    direction: a crash between the bump and the append can only make
    the alarm ring early, and the next re-band's exact refresh resets
    it. No-op while no sidecar exists (nothing gauges this table —
    zero overhead beyond one file stat) and for deltas at-or-below the
    bump watermark: a crash-retry re-append would otherwise
    double-count its delta, and the watermark skip is exactly the
    idempotence the atomic (stats, prev, watermark) write provides.

    PRECONDITION (r16, VERDICT r15 item 4): ingest ids are MONOTONE —
    every fresh batch's min doc_id exceeds the bump watermark, the
    same discipline ``bucketed.replay_guard`` already rests on and the
    streaming loops satisfy by construction. The watermark cannot tell
    a fresh low-id batch from a replay; under the precondition the
    question never arises. A batch that STRADDLES the watermark
    (min ≤ wm < max — impossible for both a monotone fresh batch and a
    pure replay) is a precondition violation: it is SKIPPED with a
    warning rather than bumped, because bumping a replayed-plus-new
    mixture would double-count the replayed mass permanently while a
    skip only under-counts until the next re-band's exact refresh —
    stale-LOW (a check-interval-late alarm), the direction the warning
    names so an id-reusing caller is loud, never silent.

    ``d0`` (r17): precomputed (n_docs, min_id, max_id) of the delta —
    ``lsh_index_append`` computes it once and shares it with the
    replay-watermark raise, so the bump adds no job beyond the
    O(delta) occupancy probe."""
    from mr_py_spark.operators.bucketed import sidecar_path, sidecar_read_json

    path = sidecar_path(spark, table, "gauge")
    got = sidecar_read_json(path, _GAUGE_KEYS)
    if got is None:
        return
    if d0 is None:
        row = (
            entries.filter(F.col("band_id") == 0)
            .agg(
                F.count(F.lit(1)).alias("nd"),
                F.min("doc_id").alias("mn"),
                F.max("doc_id").alias("mx"),
            )
            .collect()[0]
        )
        d0 = (int(row.nd), row.mn, row.mx)
    nd, mn, mx = d0
    if mx is None or int(mx) <= got["bump_wm"]:
        return  # empty delta, or a replayed/retried delta already bumped
    if int(mn) <= got["bump_wm"]:
        import warnings

        warnings.warn(
            f"_lsh_gauge_bump({table}): delta ids straddle the bump "
            f"watermark ({mn}..{mx} vs wm={got['bump_wm']}) — "
            "non-monotone ingest violates the gauge's id-monotony "
            "precondition; skipping the bump (gauge stale-LOW until "
            "the next re-band refresh) to keep replay idempotence.",
            stacklevel=3,
        )
        return
    dm = _lsh_gauge_delta_frame(spark, table, entries).collect()[0].dm
    _lsh_gauge_write(
        path,
        (got["mass"] + int(dm or 0), got["n_docs"] + int(nd)),
        (got["mass"], got["n_docs"]),
        max(got["bump_wm"], int(mx)),
    )


def lsh_reband(spark: SparkSession, table: str, band_rows: int) -> dict:
    """The re-band ACTUATOR (the text tier's ivf_retrain): rewrite the
    standing LSH index's band entries at ``band_rows`` rows per band
    through the crash-atomic two-phase swap
    (bucketed.replace_bucketed_table — recover_compaction rolls
    forward/back from a crash at any point; same bucket spec, so every
    consumer keeps its exchange-free scan).

    The signatures are NOT recomputed: each doc's 16 mh columns are
    already in the index, so the rebuild is ONE scan of the
    band_id = 0 slice (every doc appears exactly once per band —
    a zero-shuffle way to recover one signature row per doc, no
    17-column distinct) + the scan-local re-banding explode. No text
    re-read, no shingling: O(index-signature bytes) once per re-band
    event. Returns {"band_rows", "n_docs"} for ledgers."""
    from mr_py_spark.operators.bucketed import (
        replace_bucketed_table,
        sidecar_path,
        sidecar_read_json,
        sidecar_write_json,
    )

    gauge = sidecar_path(spark, table, "gauge")
    old_gauge = sidecar_read_json(gauge, _GAUGE_KEYS)
    sig = spark.table(table).filter(F.col("band_id") == 0).select(
        "doc_id", *[f"mh{i}" for i in range(_N_HASHES)]
    )
    entries = lsh_band_entries(sig, band_rows)
    replace_bucketed_table(spark, table, entries, _LSH_INDEX_KEYS)
    # the swap installed a fresh directory without sidecars; a crash
    # before these writes just costs the next reader an exact re-derive
    sidecar_write_json(
        sidecar_path(spark, table, "banding"), {"band_rows": int(band_rows)}
    )
    # refresh the gauge sufficient statistics EXACTLY from the new
    # generation: ONE column-pruned pass that also supplies the return
    # dict's n_docs and funds the O(delta) gauge for every batch until
    # the next re-band. The bump watermark carries over monotonically:
    # it bounds ids whose deltas were ever bumped, and a rebuild only
    # re-bands rows already covered by it.
    mass, n_docs, mx = _lsh_gauge_full(spark.table(table))
    if old_gauge is not None:
        mx = max(mx, old_gauge["bump_wm"])
    _lsh_gauge_write(gauge, (mass, n_docs), (mass, n_docs), mx)
    return {"band_rows": int(band_rows), "n_docs": n_docs}


@register("lsh_index_occupancy", tags=("C2", "B7"), oracle=None)
def lsh_index_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lsh_occupancy_frame`` bound to the standing corpus LSH index —
    the monitoring query a production warehouse runs after each
    ``lsh_index_append`` batch to decide whether the banding still
    holds its candidate-mass design point (the text twin of
    ``ivf_drift_stats``; VERDICT r13 item 4: the semantic tier had the
    full gauge→actuator loop, the text tier had append+compaction
    only). Rows-only (hash-layout metrics); the gauge-moves-on-planted-
    growth and actuator properties live in tests/test_properties.py."""
    return lsh_occupancy_frame(corpus_lsh_index(spark, sf_dir)).select(
        "n_docs", "n_buckets", "occ_max", "occ_p99", "collision_per_doc"
    )


@register("lsh_reband_actuator", tags=("C2", "A8", "B7"), oracle=None)
def lsh_reband_actuator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The re-band ACTUATOR demo, registered so the driver exercises
    the text tier's full gauge→actuator path end-to-end (the
    ivf_drift_retrain shape): build a private LSH index over the
    fixture corpus split at the build-default banding, grow it with a
    PLANTED weak-similarity load (three near-copies per corpus doc,
    each sharing the doc's text except a globally-unique trailing
    token — the CLAUDE.md uniqueness rule, so no fake cross-doc
    structure), watch ``lsh_reband_needed`` fire, run ``lsh_reband``
    (crash-atomic in-place rewrite from the STORED signatures — no
    text re-read), and emit before/after collision mass plus a recall
    guard: a byte-identical probe twin is still triaged dup_of_corpus
    through the re-banded index (exact dups agree on every mh
    component, so every banding preserves them — deterministic, the
    planted-LSH-oracle lesson r13). Rows-only (hash-layout metrics);
    trip-exactly-once and statuses-unchanged-without-growth are
    property-tested."""
    import os
    import re as _re
    import shutil
    import tempfile as _tf

    from mr_py_spark.operators.bucketed import _BUCKETS
    from mr_py_spark.sources.sinks import write_bucketed

    docs = tbl(spark, sf_dir, "documents")
    b = (F.col("doc_id") * F.lit(_INC_MULT)) % F.lit(_INC_BUCKETS)
    corpus = docs.filter(b != _INC_DELTA_BUCKET).select("doc_id", "text")
    tag = (
        _re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/")) + f"_p{os.getpid()}"
    )
    table = f"mrps_reband_demo_{tag}"
    root = os.path.join(_tf.gettempdir(), "spark_graft_reband", tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed(
            lsh_band_entries(minhash_signatures(corpus)),
            table, _LSH_INDEX_KEYS, _BUCKETS, path=os.path.join(root, "idx"),
        )
        # planted weak-similarity growth: near-copies whose unique tail
        # perturbs a minority of shingles — they collide with their
        # base in SOME short band with high probability, rarely in a
        # full-signature-selective one
        copies = corpus.select(
            "doc_id",
            "text",
            F.explode(
                F.array(F.lit(0), F.lit(1), F.lit(2))
            ).alias("c"),  # scan-local explode — no join of any kind
        ).select(
            # copies live in a DISJOINT id range (ADVICE r14: doc_id*10
            # + c + 1 collided with standing corpus ids — doc 1's
            # copies 11-13 vs corpus docs 11-13 — appending a second
            # signature set under an existing id, so n_docs undercounted
            # and collision_per_doc was inflated in the emitted metrics;
            # the 1e9 offset matches the probe's 999_999_999 convention)
            (F.lit(1_000_000_000) + F.col("doc_id") * 3 + F.col("c")).alias(
                "doc_id"
            ),
            F.concat_ws(
                "", F.col("text"), F.lit(" uniq"),
                F.col("doc_id").cast("string"), F.lit("c"),
                F.col("c").cast("string"),
            ).alias("text"),
        )
        lsh_index_append(copies, table)
        before = lsh_occupancy_frame(spark.table(table))
        fired = lsh_reband_needed(before)
        b_row = before.collect()[0]
        if fired:
            lsh_reband(spark, table, _N_HASHES // 2)
        after_row = lsh_occupancy_frame(spark.table(table)).collect()[0]
        # recall guard: a byte-identical twin of a corpus doc must
        # triage dup_of_corpus through whatever banding now stands
        probe = corpus.orderBy("doc_id").limit(1).select(
            F.lit(999_999_999).alias("doc_id"), "text"
        )
        st = minhash_delta_status(
            None, probe, corpus_bands=spark.table(table)
        ).collect()
        exact_recalled = (
            1.0 if st and st[0].status == "dup_of_corpus" else 0.0
        )
        return spark.createDataFrame(
            [
                ("fired", 1.0 if fired else 0.0),
                ("band_rows_after", float(lsh_index_band_rows(spark.table(table)))),
                ("collision_before", float(b_row.collision_per_doc)),
                ("collision_after", float(after_row.collision_per_doc)),
                ("exact_probe_recalled", exact_recalled),
            ],
            "metric string, value double",
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(root, ignore_errors=True)


@register(
    "incremental_minhash_dedup_indexed", tags=("C2", "C1", "B19", "B22"), oracle=None
)
def incremental_minhash_dedup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``incremental_minhash_dedup`` consuming the STANDING index
    (``corpus_lsh_index``) instead of re-banding corpus text — the
    end-to-end production form of the O(delta) claim: per-snapshot
    work is the delta's own signatures plus band-bucket lookups
    against a materialized, band_key-bucketed table whose scan carries
    16 longs + 2 keys per (doc, band), never text. Rows-only (hash
    permutations are engine-specific); property tests pin it EXACTLY
    equal to the recomputing form on the same fixture and re-check the
    planted-status semantics through the index path
    (tests/test_properties.py); cartesian-free plan asserted
    (tests/test_plans.py)."""
    docs = tbl(spark, sf_dir, "documents")
    b = (F.col("doc_id") * F.lit(_INC_MULT)) % F.lit(_INC_BUCKETS)
    delta = docs.filter(b == _INC_DELTA_BUCKET)
    return minhash_delta_status(
        None, delta, corpus_bands=corpus_lsh_index(spark, sf_dir)
    )


#: paragraph_dedup unit: non-overlapping 32-word windows.
_PARA = 32


@register(
    "paragraph_dedup",
    tags=("C1", "C5", "B34"),
    oracle=f"""
        WITH ch AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), p AS (
            SELECT doc_id, CAST((s - 1) // {_PARA} AS BIGINT) AS idx,
                   array_to_string(list_slice(w, s, s + {_PARA - 1}), ' ')
                       AS ptext
            FROM (SELECT doc_id, w,
                         unnest(range(1, len(w) + 1, {_PARA})) AS s
                  FROM ch)
        ), m AS (
            SELECT doc_id, idx, ptext,
                   row_number() OVER (PARTITION BY md5(ptext)
                                      ORDER BY doc_id, idx) AS rn
            FROM p
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_paras,
               CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
               md5(string_agg(CASE WHEN rn = 1 THEN ptext END, ' '
                              ORDER BY idx)) AS text_md5
        FROM m GROUP BY doc_id
    """,
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup (the paragraph-level pass an LLM data
    pipeline runs AFTER whole-doc dedup — boilerplate paragraphs recur
    across otherwise-distinct pages): documents split into
    non-overlapping 32-word paragraphs, each paragraph kept only at
    its GLOBAL first occurrence (min (doc_id, idx) — a total order, so
    the survivor set is deterministic), and each document reassembled
    from its surviving paragraphs in order. Emits per-doc paragraph
    counts and the md5 of the reassembled text (row-shaped compare,
    as doc_chunks).

    Scale shape: the explode is shuffle-free fan-out; the dedup
    shuffle is keyed on md5(paragraph) — a 32-char key, never the
    paragraph text — and rank-1 filtering compiles to map-side
    WindowGroupLimit; the reassembly groups by doc_id, whose groups
    are bounded by document length. Docs whose every paragraph is a
    repeat emit NULL text_md5 (both engines: empty aggregate)."""
    docs = tbl(spark, sf_dir, "documents")
    w = words(F.col("text"))
    starts = F.sequence(F.lit(1), F.size(w), F.lit(_PARA))
    para = F.slice(F.col("w"), F.col("s"), _PARA)
    paras = docs.select(
        "doc_id", w.alias("w"), F.posexplode(starts).alias("idx", "s")
    ).select(
        "doc_id",
        F.col("idx").cast("long").alias("idx"),
        F.array_join(para, " ").alias("ptext"),
    )
    rn = F.row_number().over(
        W.partitionBy(F.md5("ptext")).orderBy("doc_id", "idx")
    )
    kept = F.when(F.col("rn") == 1, F.struct("idx", "ptext"))
    agg = (
        paras.withColumn("rn", rn)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.count(F.when(F.col("rn") == 1, F.lit(1))).alias("n_kept"),
            F.sort_array(F.collect_list(kept)).alias("ks"),
        )
    )
    return agg.select(
        "doc_id",
        "n_paras",
        "n_kept",
        F.when(
            F.col("n_kept") > 0,
            F.md5(
                F.array_join(
                    F.transform(F.col("ks"), lambda x: x["ptext"]), " "
                )
            ),
        ).alias("text_md5"),
    )


@register(
    "dedup_containment",
    tags=("C2",),
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_distinct(list_transform(generate_series(1, len(ws) - 2),
                          i -> array_to_string(ws[i:i+2], ' '))) AS gs
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
                  FROM documents)
            WHERE len(ws) >= 3
        ), grams AS (
            SELECT doc_id, unnest(gs) AS g FROM t
        ), rare AS (
            SELECT g FROM grams GROUP BY g HAVING count(*) BETWEEN 2 AND 4
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM grams a JOIN rare USING (g) JOIN grams b USING (g)
            WHERE a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(len(list_intersect(ta.gs, tb.gs)) AS DOUBLE)
                 / least(len(ta.gs), len(tb.gs)) AS containment
        FROM cand
        JOIN t ta ON ta.doc_id = doc_a
        JOIN t tb ON tb.doc_id = doc_b
        WHERE CAST(len(list_intersect(ta.gs, tb.gs)) AS DOUBLE)
                 / least(len(ta.gs), len(tb.gs)) >= 0.8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs (C2): the ASYMMETRIC companion to
    Jaccard — C(A,B) = |grams(A) ∩ grams(B)| / min(|A|, |B|) — which
    catches subset duplication (a document quoted whole inside a
    longer one) that symmetric Jaccard dilutes toward zero as the
    host document grows (Broder 1997's "containment" resemblance).

    Candidate generation is RARE-GRAM blocking, a different member of
    the blocked family than the prefix block (ngram_jaccard_pairs) or
    LSH bands (dedup_minhash): a pair is a candidate iff it shares a
    distinct word 3-gram with document frequency in [2, 4]. Pairs
    unfold from a PER-RARE-GRAM doc set built in df-filter-first
    order: count df (partial-agged, tiny shuffle), equi-join the gram
    stream against the rare keys, THEN collect_set(doc_id) per gram —
    bounded at 4 ids because only rare grams survive the join — and
    explode the <= C(4,2) = 6 pairs. Order matters twice over:
    collecting doc sets BEFORE the df filter materializes unbounded
    arrays for hot grams (measured slower at sf1 and a straggler/OOM
    at 100 TB — rejected, SCALE.md r9), while a gram-stream SELF-join
    on rare keys pays a second full shuffle of the gram stream that
    this form sheds (the groupBy(g) reuses the join's hash
    partitioning; local sf1 wall is a tie, the win is the shed
    shuffle). The candidate set is O(|rare grams|) — linear in corpus
    size, never all-pairs (the no-cross-join invariant,
    tests/test_plans.py). Containment itself is exact: the gram sets
    are joined back for CANDIDATES ONLY and intersected JVM-side. The
    compared double is one IEEE division of exact integers — emitted
    raw, per the no-sub-precision-round policy (mr_py_spark/functions).

    Scale shape at 100 TB: two gram-stream shuffles total (rare-key
    join probe, per-doc gram-set agg) plus two id-keyed join-backs; a
    hot gram can never blow up the pair unfold because df > 4 grams
    are excluded by definition — the degenerate-band failure
    audio_dup_pairs hit (SCALE.md r9) is structurally impossible here.
    On TILED fixtures (gen_sf.py multiplies whole documents, so every
    gram's df scales with the tile factor) the rare band empties and
    the output is empty by construction — real corpora keep a heavy
    hapax/rare tail at any size (Zipf), which is what the [2, 4] band
    targets; sf0.01/sf0.001 (untiled) are the semantic fixtures."""
    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words(F.lower("text")).alias("w"))
    grams = toks.select(
        "doc_id", F.explode(F.array_distinct(ngrams_arr("w", 3))).alias("g")
    )
    # Gram SETS for the candidate re-rank come back through a groupBy
    # barrier rather than a scan-local array projection: the join-back
    # makes Catalyst infer constraints on the set column, and against a
    # projection those inline the whole ngram expression — split()
    # included — into scan-level Filter conditions (the O(tokens^2)
    # inline-split trap, three copies of it; caught by test_plans). An
    # aggregation is opaque to that rewrite, at the price of one gram-
    # stream shuffle. A doc with < 3 words has no gram, so it cannot
    # reach any candidate pair — the oracle's WHERE len(ws) >= 3 is
    # vacuous on both sides, kept to make the parallel obvious.
    rare = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df").between(2, 4))
        .select("g")
    )
    rg = grams.join(rare, "g")
    # array_sort makes doc_a < doc_b by construction; the two-parameter
    # transform lambda receives the 0-based element index (the same
    # PySpark calling convention minhash_signatures' note warns about —
    # here it is exactly what we want).
    ds = F.array_sort(F.collect_set("doc_id"))
    pair_structs = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice("ds", i + F.lit(2), F.size("ds")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cand = (
        rg.groupBy("g")
        .agg(ds.alias("ds"))
        .select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # Gram sets are consumed ONLY for candidate docs, so restrict the
    # collect_set aggregation to them with a semi-join BEFORE the
    # barrier (r11: the unrestricted form aggregated sets for every
    # doc in the corpus — a full gram-stream shuffle whose spill, on
    # top of the df-count and probe shuffles all held live to job end,
    # exhausted 46 GB of disk at 5M docs while candidates named only
    # ~15k of them; candidate doc count is bounded by 6x the rare-gram
    # count, never corpus-sized). Semantically exact: the oracle's `t`
    # is likewise only ever dereferenced at candidate doc ids.
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    t = (
        grams.join(cand_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("g").alias("gs"))
    )
    ta = t.select(F.col("doc_id").alias("doc_a"), F.col("gs").alias("gsa"))
    tb = t.select(F.col("doc_id").alias("doc_b"), F.col("gs").alias("gsb"))
    containment = F.size(F.array_intersect("gsa", "gsb")).cast("double") / F.least(
        F.size("gsa"), F.size("gsb")
    )
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", containment.alias("containment"))
        .filter(F.col("containment") >= 0.8)
    )


#: Span length (in tokens) for substring-level exact dedup: long
#: enough that a shared span is evidence of copying rather than
#: idiom (the suffix-array dedup literature uses ~50 BPE tokens; 8
#: whitespace words is the same order on this fixture's vocabulary),
#: short enough that the fixture's planted near-dup prefixes and
#: mutated replicas actually carry duplicated spans at every sf.
_SPAN_L = 8


@register(
    "substring_dup_spans",
    tags=("C1", "C5"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        ),
        grams AS (
            SELECT doc_id, i AS pos,
                   array_to_string(w[i:i+{_SPAN_L - 1}], ' ') AS g
            FROM toks, UNNEST(generate_series(1, len(w) - {_SPAN_L - 1})) AS t(i)
        ),
        dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        dup AS (
            SELECT doc_id, pos FROM grams
            WHERE g IN (SELECT g FROM dupg)
        ),
        isl AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                  ORDER BY pos) <= {_SPAN_L}
                        THEN 0 ELSE 1 END AS brk
            FROM dup
        ),
        grp AS (
            SELECT doc_id, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
            FROM isl
        )
        SELECT doc_id,
               CAST(gid AS BIGINT) AS span_id,
               min(pos) AS start_tok,
               max(pos) + {_SPAN_L - 1} AS end_tok,
               max(pos) + {_SPAN_L - 1} - min(pos) + 1 AS n_tokens
        FROM grp
        GROUP BY doc_id, gid
    """,
)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (C1/C5): the MAXIMAL duplicated
    token spans per document — every _SPAN_L-token window whose text
    occurs at >= 2 positions corpus-wide (cross-doc copying AND
    within-doc repetition, both of which the suffix-array dedup
    literature removes), with overlapping/adjacent duplicated windows
    merged into [start_tok, end_tok] intervals. This is the REMOVAL
    PLAN substring dedup actually needs — which token ranges to cut —
    where document-level MinHash only says "these two docs are
    similar" and ``boilerplate_ngrams`` only scores distinct-trigram
    commonness per doc.

    Scale shape (the gram-stream discipline this family settled in
    r5/r11): duplicated grams come from groupBy(g).count() — partial
    aggregation folds each task's occurrences before the exchange, so
    a corpus-wide hot span ships one partial row per task — and the
    position stream is re-annotated via a LEFT-SEMI equi-join on g (a
    splittable probe side; never a gram-partitioned window, whose hot
    partitions cannot be split). The interval merge is a per-DOC
    gaps-and-islands window — keyed on doc_id, so its partitions are
    document-sized regardless of corpus size. Token positions are
    1-based on both engines (sequence/generate_series); windows break
    when the next duplicated position starts more than _SPAN_L tokens
    after the previous (covered-token unions stay contiguous through
    overlap AND adjacency). All emitted columns are long; gid's
    cumulative sum is HUGEINT in DuckDB and CAST back (the r10 rule).
    At 100 TB the shuffle keys are ~8-word strings; hashing them to 64
    bits (xxhash64) halves shuffle bytes but unpins the oracle —
    engines' hashes differ — so the compared form groups by the gram
    itself and the hash variant is the documented scale knob."""
    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words(F.lower("text")).alias("w"))
    grams = toks.select(
        "doc_id",
        F.posexplode(ngrams_arr("w", _SPAN_L)).alias("pos0", "g"),
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "g")
    dupg = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") >= 2
    )
    dup = grams.join(dupg.select("g"), "g", "left_semi")
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    isl = dup.select(
        "doc_id",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(wdoc) <= _SPAN_L, F.lit(0))
        .otherwise(F.lit(1))
        .alias("brk"),
    )
    grp = isl.select(
        "doc_id", "pos", F.sum("brk").over(wdoc).alias("gid")
    )
    return grp.groupBy("doc_id", "gid").agg(
        F.min("pos").alias("start_tok"),
        (F.max("pos") + F.lit(_SPAN_L - 1)).alias("end_tok"),
        (F.max("pos") + F.lit(_SPAN_L - 1) - F.min("pos") + 1).alias(
            "n_tokens"
        ),
    ).select(
        "doc_id",
        F.col("gid").cast("long").alias("span_id"),
        "start_tok",
        "end_tok",
        "n_tokens",
    )


@register(
    "substring_scrub",
    tags=("C1", "C5"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        ),
        grams AS (
            SELECT doc_id, i AS pos,
                   array_to_string(w[i:i+{_SPAN_L - 1}], ' ') AS g
            FROM toks, UNNEST(generate_series(1, len(w) - {_SPAN_L - 1})) AS t(i)
        ),
        dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        dup AS (
            SELECT doc_id, pos FROM grams
            WHERE g IN (SELECT g FROM dupg)
        ),
        covered AS (
            SELECT DISTINCT doc_id, j AS i
            FROM dup, UNNEST(generate_series(pos, pos + {_SPAN_L - 1})) AS t(j)
        ),
        tok AS (
            SELECT doc_id, i, w[i] AS tok
            FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)
        )
        SELECT tok.doc_id,
               count(*) AS n_tokens,
               CAST(count(covered.i) AS BIGINT) AS n_dropped,
               COALESCE(
                   string_agg(CASE WHEN covered.i IS NULL THEN tok.tok END,
                              ' ' ORDER BY tok.i),
                   '') AS text_scrubbed
        FROM tok
        LEFT JOIN covered
               ON tok.doc_id = covered.doc_id AND tok.i = covered.i
        GROUP BY tok.doc_id
    """,
)
def substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REWRITE half of substring-level dedup (C1/C5): emit each
    document with every token covered by a duplicated _SPAN_L-token
    window REMOVED — the training-data deliverable the suffix-array
    dedup literature actually produces (``substring_dup_spans`` is the
    removal plan; this executes it). One row per document: token
    count, dropped-token count, and the scrubbed text (empty string
    when the whole document was duplicated — both engines, COALESCE on
    the oracle side since string_agg over all-NULLs is NULL).

    Scale shape: the duplicated-position stream is the
    substring_dup_spans plan (partial-agg df, left-semi re-annotate);
    covered token indices explode it ×_SPAN_L then distinct — linear
    in duplicated positions. The rebuild joins the token stream LEFT
    against covered on (doc_id, i) — a doc_id-prefixed key, so the hot
    corpus-wide gram never concentrates a partition — and reassembles
    per doc with collect_list(struct(i, tok)) + array_sort: the
    document-sized buffer IS the asked-for output (the inverted-index
    posting-list precedent), never an aggregation intermediate."""
    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words(F.lower("text")).alias("w"))
    grams = toks.select(
        "doc_id",
        F.posexplode(ngrams_arr("w", _SPAN_L)).alias("pos0", "g"),
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "g")
    dupg = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") >= 2
    )
    dup = grams.join(dupg.select("g"), "g", "left_semi")
    covered = (
        dup.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(_SPAN_L - 1))
            ).alias("i"),
        )
        .distinct()
        .withColumn("cov", F.lit(1))
    )
    tok = toks.select(
        "doc_id", F.posexplode("w").alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).cast("long").alias("i"), "tok")
    kept = F.when(F.col("cov").isNull(), F.struct("i", "tok"))
    return (
        tok.join(covered, ["doc_id", "i"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("cov"), F.lit(0))).cast("long").alias(
                "n_dropped"
            ),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda x: x["tok"]
                ),
                " ",
            ).alias("text_scrubbed"),
        )
    )


@register("substring_dup_spans_hashed", tags=("C1", "C5"), oracle=None)
def substring_dup_spans_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``substring_dup_spans`` with the gram SHUFFLE KEY hashed to 64
    bits (xxhash64) — the documented 100 TB knob: the df aggregation
    and the duplicated-position semi-join then carry 8-byte keys
    instead of ~8-word strings (an order of magnitude less shuffle
    payload on the corpus-wide stages; the interval merge is
    unchanged, it never sees the gram). Rows-only: the oracle engine
    has no xxhash64, and a 64-bit collision — P(any) ≈ n²/2⁶⁵, ~1e-10
    at a billion distinct grams — could merge two distinct grams and
    mint a false duplicated position, which is an accepted
    approximation at scale exactly like MinHash's. Property-pinned
    output-equal to the exact string-keyed form on the fixture
    (tests/test_properties.py), where both are collision-free."""
    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words(F.lower("text")).alias("w"))
    grams = toks.select(
        "doc_id",
        F.posexplode(ngrams_arr("w", _SPAN_L)).alias("pos0", "g"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.xxhash64("g").alias("gh"),
    )
    dupg = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") >= 2
    )
    dup = grams.join(dupg.select("gh"), "gh", "left_semi")
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    isl = dup.select(
        "doc_id",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(wdoc) <= _SPAN_L, F.lit(0))
        .otherwise(F.lit(1))
        .alias("brk"),
    )
    grp = isl.select("doc_id", "pos", F.sum("brk").over(wdoc).alias("gid"))
    return grp.groupBy("doc_id", "gid").agg(
        F.min("pos").alias("start_tok"),
        (F.max("pos") + F.lit(_SPAN_L - 1)).alias("end_tok"),
        (F.max("pos") + F.lit(_SPAN_L - 1) - F.min("pos") + 1).alias(
            "n_tokens"
        ),
    ).select(
        "doc_id",
        F.col("gid").cast("long").alias("span_id"),
        "start_tok",
        "end_tok",
        "n_tokens",
    )


def substring_gram_df_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STANDING gram document-frequency table of the fixture's
    corpus split — the substring-dedup analogue of corpus_lsh_index:
    (g, df) for every _SPAN_L-token window in the corpus, persisted
    once per sf_dir BUCKETED BY g so the incremental form's
    gram-annotation join is exchange-free on the corpus side. Gram
    keys stay STRINGS here (the compared form's contract; the 64-bit
    xxhash64 key is the 100 TB knob, substring_dup_spans_hashed).
    Content-stamped to the fixture with the builder stamp covering
    the tokenization and span-length knobs."""
    from mr_py_spark.operators.bucketed import _bucketed_table, builder_stamp
    from mr_py_spark.functions import ngrams_arr as _ng

    def build() -> DataFrame:
        docs = tbl(spark, sf_dir, "documents")
        b = (F.col("doc_id") * F.lit(_INC_MULT)) % F.lit(_INC_BUCKETS)
        toks = docs.filter(b != _INC_DELTA_BUCKET).select(
            "doc_id", words(F.lower("text")).alias("w")
        )
        return (
            toks.select(F.explode(_ng("w", _SPAN_L)).alias("g"))
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
        )

    return _bucketed_table(
        spark, sf_dir, "sub_gram_df", "g", frame_of=build,
        src_name="documents", schema="g string, df long",
        stamp_extra=builder_stamp(
            words, ngrams_arr, span_l=_SPAN_L,
            inc=(_INC_MULT, _INC_BUCKETS, _INC_DELTA_BUCKET),
        ),
    )


@register(
    "incremental_substring_dedup",
    tags=("C1", "C5", "B22"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        ),
        grams AS (
            SELECT doc_id, i AS pos,
                   array_to_string(w[i:i+{_SPAN_L - 1}], ' ') AS g
            FROM toks, UNNEST(generate_series(1, len(w) - {_SPAN_L - 1})) AS t(i)
        ),
        dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        dup AS (
            SELECT doc_id, pos FROM grams
            WHERE g IN (SELECT g FROM dupg)
              AND (doc_id * {_INC_MULT}) % {_INC_BUCKETS} = {_INC_DELTA_BUCKET}
        ),
        isl AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                  ORDER BY pos) <= {_SPAN_L}
                        THEN 0 ELSE 1 END AS brk
            FROM dup
        ),
        grp AS (
            SELECT doc_id, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
            FROM isl
        )
        SELECT doc_id,
               CAST(gid AS BIGINT) AS span_id,
               min(pos) AS start_tok,
               max(pos) + {_SPAN_L - 1} AS end_tok,
               max(pos) + {_SPAN_L - 1} - min(pos) + 1 AS n_tokens
        FROM grp
        GROUP BY doc_id, gid
    """,
)
def incremental_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(delta) substring-span dedup — the incremental form of
    ``substring_dup_spans`` over the standing corpus gram-df table
    (the same snapshot convention as the MinHash and semantic
    incremental tiers): only the DELTA split is tokenized, its grams
    are annotated with corpus document frequency via one equi-join
    against the g-bucketed standing table (exchange-free on the corpus
    side; only the delta exchanges), a gram position is duplicated iff
    corpus df + within-delta count >= 2, and the per-doc interval
    merge is unchanged. The corpus is never re-tokenized per snapshot
    — the cost a non-indexed pipeline pays on every crawl drop.

    Output is BY CONSTRUCTION the full form's spans restricted to
    delta docs (corpus ∪ delta = all docs, so the >= 2 criterion
    coincides) — which is exactly what the oracle states (the full
    substring_dup_spans SQL with the delta-split filter), making this
    incremental form bitwise-oracle-backed, unlike the seeded MinHash/
    semantic tiers. Maintenance of the standing table is a df MERGE
    (sum counts per gram), not an append — the documented knob; the
    per-sf_dir cached table is content-stamped and read-only here."""
    docs = tbl(spark, sf_dir, "documents")
    b = (F.col("doc_id") * F.lit(_INC_MULT)) % F.lit(_INC_BUCKETS)
    delta = docs.filter(b == _INC_DELTA_BUCKET)
    toks = delta.select("doc_id", words(F.lower("text")).alias("w"))
    grams = toks.select(
        "doc_id",
        F.posexplode(ngrams_arr("w", _SPAN_L)).alias("pos0", "g"),
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "g")
    corpus_df = substring_gram_df_index(spark, sf_dir)
    delta_df = grams.groupBy("g").agg(F.count(F.lit(1)).alias("ddf"))
    dupg = (
        delta_df.join(corpus_df, "g", "left")
        .filter(F.coalesce(F.col("df"), F.lit(0)) + F.col("ddf") >= 2)
        .select("g")
    )
    dup = grams.join(dupg, "g", "left_semi")
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    isl = dup.select(
        "doc_id",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(wdoc) <= _SPAN_L, F.lit(0))
        .otherwise(F.lit(1))
        .alias("brk"),
    )
    grp = isl.select("doc_id", "pos", F.sum("brk").over(wdoc).alias("gid"))
    return grp.groupBy("doc_id", "gid").agg(
        F.min("pos").alias("start_tok"),
        (F.max("pos") + F.lit(_SPAN_L - 1)).alias("end_tok"),
        (F.max("pos") + F.lit(_SPAN_L - 1) - F.min("pos") + 1).alias(
            "n_tokens"
        ),
    ).select(
        "doc_id",
        F.col("gid").cast("long").alias("span_id"),
        "start_tok",
        "end_tok",
        "n_tokens",
    )
