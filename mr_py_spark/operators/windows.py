"""Window functions & grouping extensions (SURVEY.md §2B: B34-B36).

The reference gets these only via the secondary-sort metapattern
([MRDP ch.4]): composite keys, a custom partitioner, and a stateful
reducer walking the sorted group. Spark's Window frames are the
declarative form; the physical plan is one shuffle on the partition
key + in-partition sort — exactly what the MR secondary sort buys,
with spill support.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mr_py_spark.functions import davg, dec4, dsum
from mr_py_spark.registry import register
from mr_py_spark.sources import tbl
from mr_py_spark.util import (
    bc as _bc,
    scale_form_threshold,
    shuffle_width,
    table_rows,
)


def _partition_histogram(part: DataFrame, key: str):
    """Offsets/totals metadata for the two-pass distributed ranks.

    ``part`` MUST already be persisted: this collect is the action
    that materializes it, pinning every row's physical partition so
    the later rank-emission pass reads the exact placement the
    offsets were counted in. (Without the persist the two actions
    would re-execute the repartitionByRange shuffle independently,
    and RangePartitioner's reservoir sampling is seeded per-execution
    — once a partition exceeds the ~100-row sample size the two jobs
    could draw different bounds and silently shift every subsequent
    rank in a segment.) The histogram itself is numPartitions x
    |groups| rows — metadata-sized at any corpus size (documented
    bounded-collect exemption, CLAUDE.md).

    Returns (offsets {(pid, group): rows_before}, totals {group: n}).
    """
    hist = (
        part.withColumn("pid", F.spark_partition_id())
        .groupBy("pid", key)
        .count()
        .collect()
    )
    totals: dict = {}
    for r in hist:
        totals[r[key]] = totals.get(r[key], 0) + r["count"]
    offsets: dict = {}
    running: dict = {}
    for r in sorted(hist, key=lambda r: (r[key], r["pid"])):
        offsets[(r["pid"], r[key])] = running.get(r[key], 0)
        running[r[key]] = running.get(r[key], 0) + r["count"]
    return offsets, totals


def global_ntile(
    spark: SparkSession,
    df: DataFrame,
    key: str,
    order_cols,
    n_tiles: int = 4,
    tile_col: str = "tile",
) -> DataFrame:
    """UNPARTITIONED ntile(n) with NO WindowExec: the two-pass
    range-partition rank of ``ranking_window_scaled`` degenerated to a
    single global group. ``ntile(n) OVER (ORDER BY ...)`` pins the
    ENTIRE input into one window task; here `repartitionByRange` on
    the ORDER BY gives splittable contiguous slices, the bounded
    histogram (numPartitions rows — metadata-sized) provides each
    slice's global row offset and the total n, and a mapInPandas pass
    emits SQL's ceil-first-tiles ntile from (offset rank, n). Returns
    (key, tile_col) for the caller to join back; same persist-once
    determinism contract as ``ranking_window_scaled`` (two Spark jobs
    run at DataFrame-construction time)."""
    import pandas as pd

    part = (
        df.repartitionByRange(shuffle_width(spark), *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_g", F.lit(1))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    offsets, totals = _partition_histogram(part, "_g")
    b_meta = _bc(spark, (offsets, totals))
    key_t = dict(df.dtypes)[key]

    def add_tiles(batches):
        offs, tot = b_meta.value
        n = tot.get(1, 0)
        q, rem = divmod(n, n_tiles)
        big = rem * (q + 1)
        seen = 0
        base = 0
        pid = None
        for pdf in batches:
            if not len(pdf):
                continue
            if pid is None:
                pid = int(pdf["pid"].iloc[0])
                base = offs.get((pid, 1), 0)
            tiles = []
            for _ in range(len(pdf)):
                seen += 1
                r = base + seen
                if q == 0 or r <= big:
                    tiles.append((r - 1) // (q + 1) + 1)
                else:
                    tiles.append(rem + (r - big - 1) // q + 1)
            yield pd.DataFrame({key: pdf[key], tile_col: tiles})

    return part.withColumn("pid", F.spark_partition_id()).mapInPandas(
        add_tiles, f"{key} {key_t}, {tile_col} long"
    )


@register(
    "topk_window",
    tags=("B34", "B11"),
    oracle="""
        SELECT user_id, event_id, value, rn
        FROM (
            SELECT user_id, event_id, value,
                   row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
            FROM events
        )
        WHERE rn <= 3
    """,
)
def topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number. The (value desc, event_id) order
    is total, so ranks are deterministic. At scale this is the
    standard 'group top-k without materializing groups' plan; AQE
    splits skewed user_ids."""
    ev = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )


@register(
    "ranking_window",
    tags=("B34",),
    oracle="""
        SELECT c_custkey, c_mktsegment,
               rank()       OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rnk,
               dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS drnk,
               ntile(4)     OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS quartile
        FROM customer
    """,
)
def ranking_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile per group (B34).

    Size-adaptive: above ``scale_form_threshold()`` rows (default
    50M, env SPARK_GRAFT_SCALE_ROWS) the few-segment WindowExec would
    pin ~n/5 rows into one unsplittable sort task, so the default name
    dispatches to the bitwise-identical two-pass range-partition plan
    of ``ranking_window_scaled`` (same oracle, both driver-green).
    Below it, the single window is correct and cheaper."""
    limit = scale_form_threshold()  # a malformed knob fails before any read
    c = tbl(spark, sf_dir, "customer")
    if table_rows(c, sf_dir, "customer") > limit:
        return ranking_window_scaled(spark, sf_dir)
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "running_sum",
    tags=("B35",),
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(10,4))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_value
        FROM orders
    """,
)
def running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer (B35 analytic; MR would need a
    stateful reducer over a secondary-sorted group)."""
    o = tbl(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec4("o_totalprice")).over(w).cast("double").alias("cum_value"),
    )


@register(
    "lag_lead",
    tags=("B35",),
    oracle="""
        SELECT user_id, event_id,
               lag(value)  OVER w                              AS prev_value,
               lead(value) OVER w                              AS next_value,
               epoch_us(ts) - lag(epoch_us(ts)) OVER w         AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + inter-event gap per user (B35). The gap is exact
    microseconds (engines disagree on 'seconds between': boundary
    crossings vs truncated difference)."""
    ev = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # session TZ is UTC (harden)
    return ev.select(
        "user_id",
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (us - F.lag(us).over(w)).alias("gap_us"),
    )


@register(
    "rollup_agg",
    tags=("B36",),
    oracle="""
        SELECT r.r_name, n.n_name,
               count(*)                     AS n_supp,
               CAST(sum(CAST(s.s_acctbal AS DECIMAL(10,4))) AS DOUBLE) AS total_bal
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP multi-level aggregate (B36). MR form: mapper emits one
    record per grouping level; Spark plans a single Expand + aggregate."""
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_supp"),
            dsum("s_acctbal").alias("total_bal"),
        )
    )


@register(
    "cube_agg",
    tags=("B36",),
    oracle="""
        SELECT c_mktsegment, c_nationkey,
               count(*)                  AS n_cust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(10,4))) AS DOUBLE) / count(*) AS avg_bal
        FROM customer
        GROUP BY CUBE (c_mktsegment, c_nationkey)
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions (B36)."""
    c = tbl(spark, sf_dir, "customer")
    return c.cube("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("n_cust"),
        davg("c_acctbal").alias("avg_bal"),
    )


@register(
    "pivot_wide",
    tags=("B36", "B33"),
    oracle="""
        SELECT l_returnflag,
               CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(10,4)) END) AS DOUBLE) AS qty_open,
               CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(10,4)) END) AS DOUBLE) AS qty_filled
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide form. Expressed via Spark's native `.pivot` with an
    explicit value list (avoids the extra distinct-values job)."""
    li = tbl(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(dec4("l_quantity")).cast("double"))
    )
    return p.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_filled"),
    )


@register(
    "percentile_window",
    tags=("B34", "B35"),
    oracle="""
        SELECT s_suppkey, s_nationkey,
               percent_rank() OVER (PARTITION BY s_nationkey
                                    ORDER BY s_acctbal, s_suppkey) AS pct_rank,
               cume_dist()    OVER (PARTITION BY s_nationkey
                                    ORDER BY s_acctbal, s_suppkey) AS cume
        FROM supplier
    """,
)
def percentile_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist per group (B34): relative standing of
    each supplier's balance within its nation. The ORDER BY carries a
    unique tie-break so peer groups are singletons and both engines
    emit the identical (rank-1)/(n-1) and rank/n doubles (exact int
    divisions, same IEEE op). Singleton partitions (nations with one
    supplier at small sf) exercise the percent_rank 0/0 -> 0.0 edge.

    Scale note: like ``ranking_window``, this partitions on a
    tiny-cardinality key (25 nations), so each window partition is
    1/25th of the corpus in one unsplittable task. percent_rank and
    cume_dist are (rank-1)/(n-1) and rank/n, so at 10^9 rows the
    distributed two-pass formulation of ``ranking_window_scaled``
    (range partition + offset ranks + per-group totals) produces them
    with the same metadata-sized histogram and no WindowExec — the
    default name dispatches there above ``scale_form_threshold()``
    rows (same oracle, bitwise-identical output)."""
    s = tbl(spark, sf_dir, "supplier")
    if table_rows(s, sf_dir, "supplier") > scale_form_threshold():
        return percentile_window_scaled(spark, sf_dir)
    w = W.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_suppkey",
        "s_nationkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "ranking_window_scaled",
    tags=("B34", "B16"),
    oracle="""
        SELECT c_custkey, c_mktsegment,
               rank()       OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rnk,
               dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS drnk,
               ntile(4)     OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS quartile
        FROM customer
    """,
)
def ranking_window_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ranking_window``'s exact result (same oracle, bitwise) with
    NO WindowExec: the distributed two-pass rank (B34 x B16).

    Why: ``rank() over (partition by c_mktsegment ...)`` pins each
    segment — 1/5th of ALL customers — into one unsplittable window
    task; at 10^9 customers that is a single-task sort of 200M rows,
    the same straggler class as the gram-keyed window verdict r5
    flagged. Full-ranking-within-few-groups is inherently a total
    order problem, so it gets the total-order-sort treatment:

      1. `repartitionByRange` on (segment, acctbal desc, custkey) —
         Spark samples range bounds; every partition holds a
         contiguous slice of the global order and CAN be split by
         raising the partition count (unlike a window partition).
      2. A bounded histogram job counts rows per (physical partition,
         segment): numPartitions x |segments| rows collected to the
         driver — metadata-sized at any corpus size (the same scale
         class as range-bound sampling itself; documented alongside
         the IVF-centroid bounded-collect exemption).
      3. Per partition, a mapInPandas pass emits local row numbers
         plus the broadcast offset of earlier partitions within the
         segment. The ORDER BY carries the unique c_custkey
         tiebreak, so peer groups are singletons and rank ==
         dense_rank == row_number; ntile(4) is computed from the
         per-segment totals with SQL's ceil-first-tiles rule.

    Determinism: the range-partitioned frame is persisted and
    materialized by the histogram collect, so the rank-emission pass
    reads the very partition placement the offsets were counted in —
    RangePartitioner's per-execution sampling can never put a row in
    a different partition between the two passes (see
    ``_partition_histogram``). The cache entry (a 3-column
    projection) is left to the session's CacheManager/LRU; repeated
    calls with the same plan reuse the same entry rather than
    growing it.

    NOTE: building this DataFrame eagerly runs two Spark jobs (the
    range shuffle + the histogram collect) — callers that only want
    the plan (e.g. test_plans.plan_of) still pay them."""
    import pandas as pd

    c = tbl(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    part = c.repartitionByRange(
        shuffle_width(spark),
        F.col("c_mktsegment"),
        F.col("c_acctbal").desc(),
        F.col("c_custkey"),
    ).sortWithinPartitions(
        "c_mktsegment", F.col("c_acctbal").desc(), "c_custkey"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    offsets, seg_total = _partition_histogram(part, "c_mktsegment")
    b_meta = _bc(spark, (offsets, seg_total))

    def add_ranks(batches):
        offs, totals = b_meta.value
        seen: dict[str, int] = {}
        pid = None
        for pdf in batches:
            if not len(pdf):
                continue
            if pid is None:
                pid = int(pdf["pid"].iloc[0])
            ranks = []
            tiles = []
            for seg in pdf["c_mktsegment"]:
                base = offs.get((pid, seg), 0)
                seen[seg] = seen.get(seg, 0) + 1
                r = base + seen[seg]
                ranks.append(r)
                n = totals[seg]
                q, rem = divmod(n, 4)
                big = rem * (q + 1)
                if q == 0 or r <= big:
                    tiles.append((r - 1) // (q + 1) + 1)
                else:
                    tiles.append(rem + (r - big - 1) // q + 1)
            yield pd.DataFrame(
                {
                    "c_custkey": pdf["c_custkey"],
                    "c_mktsegment": pdf["c_mktsegment"],
                    "rnk": ranks,
                    "drnk": ranks,
                    "quartile": tiles,
                }
            )

    return part.withColumn("pid", F.spark_partition_id()).mapInPandas(
        add_ranks,
        "c_custkey long, c_mktsegment string, rnk long, drnk long, quartile long",
    )


@register(
    "percentile_window_scaled",
    tags=("B34", "B16"),
    oracle="""
        SELECT s_suppkey, s_nationkey,
               percent_rank() OVER (PARTITION BY s_nationkey
                                    ORDER BY s_acctbal, s_suppkey) AS pct_rank,
               cume_dist()    OVER (PARTITION BY s_nationkey
                                    ORDER BY s_acctbal, s_suppkey) AS cume
        FROM supplier
    """,
)
def percentile_window_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``percentile_window``'s exact result with NO WindowExec — the
    two-pass range-partition rank of ``ranking_window_scaled`` applied
    to percent_rank/cume_dist (B34 x B16), closing that docstring's
    promise with driver-comparable code. The ORDER BY's unique
    s_suppkey tiebreak makes peer groups singletons, so
    percent_rank = (rank-1)/(n-1) (0/0 -> 0.0 on singleton nations)
    and cume_dist = rank/n — one exact IEEE division each from the
    offset rank and the per-nation totals in the metadata histogram,
    identical in both engines.

    Determinism + eager-build behavior: same persist-once contract as
    ``ranking_window_scaled`` (see its docstring and
    ``_partition_histogram``) — two Spark jobs run at
    DataFrame-construction time and the partitioned frame stays
    cached for the rank-emission pass."""
    import pandas as pd

    s = tbl(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    part = s.repartitionByRange(
        shuffle_width(spark),
        F.col("s_nationkey"), F.col("s_acctbal"), F.col("s_suppkey")
    ).sortWithinPartitions(
        "s_nationkey", "s_acctbal", "s_suppkey"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    offsets, totals = _partition_histogram(part, "s_nationkey")
    b_meta = _bc(spark, (offsets, totals))

    def add_pcts(batches):
        offs, tot = b_meta.value
        seen: dict[int, int] = {}
        pid = None
        for pdf in batches:
            if not len(pdf):
                continue
            if pid is None:
                pid = int(pdf["pid"].iloc[0])
            pct = []
            cume = []
            for nk in pdf["s_nationkey"]:
                nk = int(nk)
                seen[nk] = seen.get(nk, 0) + 1
                r = offs.get((pid, nk), 0) + seen[nk]
                n = tot[nk]
                pct.append(0.0 if n == 1 else (r - 1) / (n - 1))
                cume.append(r / n)
            yield pd.DataFrame(
                {
                    "s_suppkey": pdf["s_suppkey"],
                    "s_nationkey": pdf["s_nationkey"],
                    "pct_rank": pct,
                    "cume": cume,
                }
            )

    return part.withColumn("pid", F.spark_partition_id()).mapInPandas(
        add_pcts,
        "s_suppkey long, s_nationkey long, pct_rank double, cume double",
    )
