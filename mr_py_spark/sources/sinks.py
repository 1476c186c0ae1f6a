"""Sinks (SURVEY.md §2A A8, §2B B14/B22).

The reference writes `key\\tvalue` text lines; the Spark-native sinks
are columnar parquet with layout control:

- :func:`write_partitioned` — hive-style directory partitioning
  ([MRDP ch.4] partitioning pattern): downstream readers get partition
  pruning on the routing key for free.
- :func:`write_bucketed` — bucketed + sorted table ([MRDP ch.5]
  composite join prerequisite): later equi-joins/aggs on the bucket
  key skip the shuffle entirely. This is the 100 TB answer for a fact
  table that is joined on the same key every day.

Bucketed tables are written one-file-per-bucket (an aligning
repartition baked into :func:`write_bucketed`) with ``row_group_bytes``
parquet row groups (default 8 MB, vs parquet's 128 MB): each file is
sorted on the bucket keys, so small row groups give every key-range
probe (`isin` over a bounded probed set, point lookups) tight min/max
stats to skip on. Measured on the 2M-vector hier serve path (SCALE.md
r16): with one ~25 MB row group per file a probed-set scan decodes the
ENTIRE table at any probe selectivity; with 8 MB groups + the In
pushdown threshold raised (session.harden) the decode tracks the
probed fraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


#: Row-group size for PROBE-SERVED vector tables (the IVF/hier
#: inverted files and PQ code tables): their rows are fat (a 64-dim
#: double vector ≈ 528 B), so 128 KB ≈ 250 rows ≈ ONE root bucket's
#: per-file mass at any corpus size (rows/root/file = root-occupancy /
#: n_buckets, and occupancy is pinned at ~4096 while nroot scales) —
#: the granularity at which a probed-root `isin` actually skips.
#: Measured at 2M vectors (SCALE.md r16): a 39/488-root probe decodes
#: 416k rows at 128 KB groups vs ALL 2M at the 8 MB default, with
#: full-scan wall unchanged. Generic bucketed tables keep the 8 MB
#: default: their rows are narrow, so small groups would explode
#: per-group column metadata without a probe pattern to serve.
VECTOR_ROW_GROUP_BYTES = 128 * 1024


def write_partitioned(df: DataFrame, path: str, *cols: str, mode: str = "overwrite") -> None:
    """Write parquet partitioned by ``cols`` (B14)."""
    df.write.mode(mode).partitionBy(*cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | tuple[str, ...] | list[str],
    n_buckets: int | None = None,
    mode: str = "overwrite",
    path: str | None = None,
    row_group_bytes: int | None = None,
) -> None:
    """Persist as a bucketed, per-bucket-sorted table (B22). ``key``
    may be a composite (tuple/list): a join avoids the bucketed side's
    exchange only when the bucket columns equal the FULL join key set
    (co-partitioning requires all cluster keys, r11 plan audit) — so
    bucket by exactly what you join on. With ``path`` the table is
    EXTERNAL (data at ``path``, only metadata in the catalog) —
    required on externally-owned sessions whose static
    ``spark.sql.warehouse.dir`` points somewhere unwritable.
    ``n_buckets=None`` writes under the existing table's own count
    (``bucketed.table_buckets``): an append keeps the spec the table
    was built with, and a new table must name its count."""
    keys = [key] if isinstance(key, str) else list(key)
    if n_buckets is None:
        from mr_py_spark.operators.bucketed import table_buckets

        n_buckets = table_buckets(df.sparkSession, table)
    if row_group_bytes is None:
        # auto: vector/embedding tables (any array-typed column — fat
        # rows) get the probe-serving small row group; everything else
        # the generic 8 MB (VECTOR_ROW_GROUP_BYTES rationale above).
        # Detection over the frame keeps every writer path — fresh
        # build, append, retrain replace, compaction — on the same
        # layout without threading a knob through each call site.
        from pyspark.sql.types import ArrayType

        fat = any(isinstance(f.dataType, ArrayType) for f in df.schema.fields)
        row_group_bytes = VECTOR_ROW_GROUP_BYTES if fat else 8 * 1024 * 1024
    # Align the write to the bucket spec: ONE file per occupied bucket
    # per write (r16). The bucketed writer emits a file per
    # (task, bucket) pair, so a frame arriving with N upstream
    # partitions writes up to N×n_buckets files — the r15 spread=nroot
    # build layout leaked 488 partitions into these writes and the 2M
    # standing tables landed as ~9,000 tiny files (measured: ~27 MB of
    # parquet footer reads and ~9k file opens per serve-path scan,
    # SCALE.md r16; at 1e9 vectors the same leak is ~16M files).
    # repartition's hash (pmod(murmur3(keys), n)) IS the bucket-id
    # function — same technique as compact_bucketed_table, here at
    # write time so the debt is never created. Explicit-N, so AQE
    # never coalesces it; per-bucket sort is restored by sortBy; a
    # source already aligned (e.g. a same-spec bucketed scan) elides
    # the exchange and was writing one-file-per-bucket anyway. Appends
    # gain too: a delta lands as ≤n_buckets files per append instead
    # of delta-partitions×n_buckets.
    w = (
        df.repartition(n_buckets, *keys)
        .write.mode(mode)
        .bucketBy(n_buckets, keys[0], *keys[1:])
        .sortBy(keys[0], *keys[1:])
        .format("parquet")
        # Small row groups so the per-file (bucket-key-sorted) layout
        # yields tight min/max ranges a pushed In/range predicate can
        # skip on (module docstring; probed-set serve scans measured
        # decoding the full table under 25 MB single-group files).
        .option("parquet.block.size", str(int(row_group_bytes)))
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
