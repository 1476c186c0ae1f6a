"""Structured Streaming surface (SURVEY.md §2C: C6-C9).

The reference has no streaming at all (SURVEY.md §1.1); the driver's
events table is stream-shaped (monotone-ish ts). These queries run the
*same* windowed aggregations as operators/events_windows.py, but
through `readStream` -> watermark -> `writeStream`, driven to
completion synchronously with an availableNow-style drain into a
memory sink, then returned as a DataFrame for the harness.

Notes:
- Every query here is oracle-checked: on a fully-drained bounded
  stream the emitted set is deterministic — complete-mode aggregates
  equal the batch answer, append-mode windows/sessions emit exactly
  what the final watermark closed, inner interval joins emit every
  provable match, and dedup emits the distinct key set — each
  expressible as plain SQL over the same fixture.
- The memory sink is a test/dev harness device; production sinks are
  kafka/parquet/foreachBatch and take the identical plan.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_py_spark.functions import dec4, dsum, fmt_ts, fmt_ts_us
from mr_py_spark.registry import register
from mr_py_spark.session import harden

_qid = itertools.count()


def stream_table_tag(sf_dir: str) -> str:
    """The per-sf_dir suffix of the streaming maintenance loops' table
    names (mrps_stream_lsh_idx_<tag> / mrps_stream_ivf_{cent,idx}_<tag>)
    — one owner for the naming scheme so external tooling (the r12
    lifecycle demo) can locate the tables without re-deriving it."""
    import re

    return re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/"))


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the same ns->µs
    normalization as the batch catalog (sources/catalog.py)."""
    harden(spark)
    from mr_py_spark.sources import tbl

    raw_schema = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet").schema
    # FileStreamSource wants a directory; glob-filter to the events file.
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir.rstrip("/"))
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        # Watermarks require TimestampType (not NTZ); the session TZ is
        # pinned to UTC by harden(), so the instant values match the
        # batch catalog's NTZ values exactly.
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Environments where the nanosAsLong legacy conf doesn't apply
        # surface TIMESTAMP(NANOS) parquet as TIMESTAMP_NTZ, which
        # withWatermark rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
        # harden() pins the session TZ to UTC, so NTZ -> TIMESTAMP is
        # the identity on the underlying instants.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


#: RocksDB-backed state store: the 100 TB answer for stateful streaming
#: (state spills to local disk + changelog instead of executor heap, so
#: per-key state survives key cardinalities far beyond memory). Opt in
#: with SPARK_GRAFT_STATE_STORE=rocksdb; results are provider-
#: independent (asserted by tests/test_streaming_state_store.py).
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def _drain(df: DataFrame, mode: str, require_rocksdb: bool = False) -> DataFrame:
    """Run a bounded streaming query to completion into a memory sink.

    The sink's temp view is dropped before returning (it pins the full
    result in driver memory; repeated invocations in a long-lived
    session would otherwise accumulate) — the materialized rows are
    re-wrapped as a local DataFrame. Streaming results here are small
    aggregates by construction; production topologies use kafka/parquet/
    foreachBatch sinks instead of memory.

    ``require_rocksdb``: transformWithState only runs on the RocksDB
    provider; the conf is read at query START, so it is set here and
    restored after the drain (never left behind on an externally-owned
    session)."""
    spark = df.sparkSession
    prev_provider = spark.conf.get(_PROVIDER_KEY, None)
    force = require_rocksdb or (
        os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb"
    )
    if force:
        spark.conf.set(_PROVIDER_KEY, _ROCKSDB_PROVIDER)
    name = f"mrps_stream_{next(_qid)}"
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        if require_rocksdb:  # env-var opt-in stays session-wide on purpose
            if prev_provider is None:
                spark.conf.unset(_PROVIDER_KEY)
            else:
                spark.conf.set(_PROVIDER_KEY, prev_provider)
    sink = spark.table(name)
    rows, schema = sink.collect(), sink.schema
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema)


@register(
    "stream_agg_complete",
    tags=("C6", "C9"),
    oracle="""
        SELECT event_type, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(10,4))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY event_type
    """,
)
def stream_agg_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming global aggregate, complete mode (C9 stateful agg).
    Draining the bounded stream must reproduce the batch answer
    exactly — the unified-model guarantee, oracle-checked."""
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"), dsum("value").alias("total_value")
    )
    return _drain(agg, "complete")


@register(
    "stream_tumbling_window",
    tags=("C6", "C8"),
    oracle="""
        WITH agg AS (
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(10,4))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1
        )
        SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS bucket,
               n_events, total_value
        FROM agg
        WHERE w_start + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 30 MINUTE
                                            FROM events)
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows with a 30-minute watermark, append mode
    (C6+C8). On a fully-drained bounded stream the emitted set is
    EXACTLY the windows whose end <= final watermark (= max event ts
    minus the 30-minute delay): the final no-data micro-batch closes
    everything the watermark passed, and the trailing window(s) are
    withheld. That makes C8's late-data semantics oracle-checkable in
    plain SQL — the batch windowed aggregate filtered to closed
    windows (verified exact at sf0.001 and sf0.01); pytest additionally
    asserts the emitted rows are a prefix of the batch result."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(fmt_ts(F.col("w.start")).alias("bucket"), "n_events", "total_value")
    )
    return _drain(agg, "append")


@register(
    "stream_session_window",
    tags=("C7", "C8"),
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)
                             >= INTERVAL 30 MINUTE
                        OR lag(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), numbered AS (
            SELECT user_id, ts, value,
                   sum(new_session) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM flagged
        ), sessions AS (
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(10,4))) AS DOUBLE)
                       AS session_value,
                   max(ts) + INTERVAL 30 MINUTE AS session_end
            FROM numbered GROUP BY user_id, session_id
        )
        SELECT user_id, session_start, n_events, session_value
        FROM sessions
        -- Spark tracks the watermark at millisecond precision (max event
        -- time floored to ms); mirror that floor so a session ending in
        -- the sub-millisecond gap is withheld by both engines.
        WHERE session_end <= (SELECT time_bucket(INTERVAL 1 MILLISECOND, max(ts))
                                     - INTERVAL 1 HOUR
                              FROM events)
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows on the stream (C7): the identical
    `session_window` expression as the batch operator, under a 1-hour
    watermark; a session emits once the watermark passes its end
    (last event + 30-minute gap). On a drained bounded stream that is
    a deterministic set, so the oracle is the batch gaps-and-islands
    session build (same SQL as the batch `session_window` oracle)
    filtered to sessions closed by the final watermark — verified
    exact at sf0.001/sf0.01; pytest additionally asserts the emitted
    sessions are a subset of the batch result."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("s_start"),
            F.count("*").alias("n_events"),
            dsum("value").alias("session_value"),
        )
        .select(
            "user_id",
            fmt_ts("s_start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )
    return _drain(agg, "append")


def quantize4(v):
    """Scaled-long (4 implied decimals) quantization matching
    CAST(x AS DECIMAL(10,4)) in BOTH engines: half-AWAY-from-zero
    (np.rint is half-to-even), applied to the value's SHORTEST DECIMAL
    REPRESENTATION — Spark casts via BigDecimal.valueOf(double) and
    DuckDB equivalently, so x = 0.00015 (binary ~1.4999999999999999e-4)
    must quantize to 2 even though the float product 10000*x < 1.5.
    The vectorized floor(|y|+0.5) path is exact except within FP noise
    of a .5 tie; those few elements take the exact Decimal(repr(x))
    path (pinned adversarially vs DuckDB in tests/test_hypothesis.py).
    Ships to workers inside pandas closures — numpy imported locally."""
    import numpy as np

    y = v * 10000.0
    a = np.abs(y)
    base = np.floor(a + 0.5)
    frac = a - np.floor(a)
    near = np.abs(frac - 0.5) <= 1e-12 * np.maximum(a, 1.0)
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        one = Decimal(1)
        for i in np.flatnonzero(near):
            # repr(float(x)), not repr(x): numpy >= 2.0 reprs scalars as
            # 'np.float64(x)', which Decimal rejects.
            base[i] = float(
                abs(Decimal(repr(float(v[i]))) * 10000).quantize(
                    one, rounding=ROUND_HALF_UP
                )
            )
    return (base * np.sign(y)).astype("int64")


@register(
    "stream_stateful_counts",
    tags=("C9",),
    oracle="""
        SELECT user_id, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(10,4))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY user_id
    """,
)
def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState
    (C9): a per-user running (count, total) kept in explicit state
    across micro-batches — the building block for bespoke operators
    Spark's built-in aggs can't express (e.g. decaying counters,
    per-key ML state).

    The running total is accumulated as scaled long (4 implied
    decimals), mirroring the repo-wide dec4 policy: integer addition
    is order-independent, so the final state is bitwise-identical to
    the batch/DuckDB DECIMAL(10,4) sum no matter how rows split
    across micro-batches — which is what makes this oracle-checkable.
    Update-mode emits one row per key per touching batch; the drained
    bounded fixture fits one batch, so the sink holds exactly the
    final per-user states."""
    import pandas as pd

    ev = _events_stream(spark, sf_dir).select("user_id", "value")

    def update(key, pdfs, state) -> "Iterator[pd.DataFrame]":
        n, scaled = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            scaled += int(quantize4(pdf["value"].to_numpy()).sum())
        state.update((n, scaled))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [scaled / 10000.0],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, scaled long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    return _drain(out, "update")


def _tws_available() -> bool:
    """`transformWithState` (Spark 4.x's successor to
    `applyInPandasWithState`) drives its stateful-processor protocol
    over protobuf: the JVM spawns a long-lived Python "driver worker"
    that imports `google.protobuf` at startup and crashes the query if
    it is absent (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE,
    reproduced in this container). protobuf is not part of PySpark's
    hard dependencies and is not installed here, so the query registers
    exactly when it can run — a documented capability gate, same policy
    as the Avro source (operators/csv_source.py)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


if _tws_available():  # pragma: no cover - protobuf absent in this container

    @register(
        "stream_stateful_counts_tws",
        tags=("C9",),
        oracle="""
            SELECT user_id, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(10,4))) AS DOUBLE) AS total_value
            FROM events
            GROUP BY user_id
        """,
    )
    def stream_stateful_counts_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The same per-user running (count, total) as
        ``stream_stateful_counts``, on Spark 4.x's `transformWithState`
        API (`transformWithStateInPandas`) — the successor to
        `applyInPandasWithState` and the 100 TB design point: state
        variables are named and typed (value/list/map states, TTL,
        timers, initial state) and the operator REQUIRES the RocksDB
        state-store provider, i.e. per-key state lives on executor disk
        + changelog rather than heap. `_drain` sets the provider for
        this query and restores the session conf afterwards.

        Both APIs stay registered deliberately where available:
        `applyInPandasWithState` is the stable/legacy surface, this is
        the migration target; the shared oracle proves they agree
        bitwise (scaled-long accumulation, same dec4 policy)."""
        import pandas as pd
        from pyspark.sql.streaming import StatefulProcessor

        ev = _events_stream(spark, sf_dir).select("user_id", "value")

        class RunningCounts(StatefulProcessor):
            # Defined inside the query fn so cloudpickle ships it by value.
            def init(self, handle) -> None:
                self._state = handle.getValueState("counts", "n long, scaled long")

            def handleInputRows(self, key, rows, timerValues):
                prev = self._state.get() if self._state.exists() else None
                n, scaled = prev if prev is not None else (0, 0)
                for pdf in rows:
                    n += len(pdf)
                    scaled += int(quantize4(pdf["value"].to_numpy()).sum())
                self._state.update((n, scaled))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n],
                        "total_value": [scaled / 10000.0],
                    }
                )

        out = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningCounts(),
            outputStructType="user_id long, n_events long, total_value double",
            outputMode="update",
            timeMode="none",
        )
        return _drain(out, "update", require_rocksdb=True)


@register(
    "stream_dedup",
    tags=("C9",),
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with bounded state (C9):
    dropDuplicatesWithinWatermark on (user_id, event_type) — state for
    a key is dropped once the watermark passes it, so memory is bounded
    by key-arrival rate x watermark horizon, not stream length.

    The emitted KEY SET on a drained bounded stream is deterministic
    (one row per distinct key; the fixture fits one micro-batch so no
    key re-emits after state expiry) and oracle-checked against SQL
    DISTINCT. WHICH physical row survives per key is arrival-order-
    dependent, so the projection excludes event_id on purpose."""
    ev = _events_stream(spark, sf_dir)
    dedup = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _drain(dedup, "append")


@register(
    "stream_dedup_filesink",
    tags=("C9",),
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_filesink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stream_dedup`` drained through a PARQUET FILE SINK instead of
    the memory sink (C9, the unbounded-result path): executors write
    the survivor stream directly to partitioned parquet — no
    driver-side materialization anywhere in the streaming topology, so
    the same plan drains a 100 TB survivor stream (the memory-sink
    forms exist for oracle parity on bounded fixtures; this is what
    production runs). Exactly-once comes from the sink's commit log +
    the checkpoint; the returned DataFrame is a plain batch read of
    the committed files, same oracle as stream_dedup.

    The sink/checkpoint live at a DETERMINISTIC per-sf_dir cache path
    (the csv_source _CSV_CACHE_ROOT pattern), cleared before each
    drain: repeated driver/bench invocations overwrite one location
    instead of leaking a fresh mkdtemp survivor-parquet + checkpoint
    copy per run (at sf10 that was a full 10M-event drain left in
    /tmp every invocation)."""
    import shutil
    import tempfile

    ev = _events_stream(spark, sf_dir)
    dedup = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    root = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_stream",
        sf_dir.rstrip("/").replace("/", "_"),
        "dedup_filesink",
    )
    shutil.rmtree(root, ignore_errors=True)
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(out, exist_ok=True)
    q = (
        dedup.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out)


@register(
    "stream_hypertable_rollup",
    tags=("C6", "C8"),
    oracle="""
        WITH wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events),
        hourly AS (
            SELECT 'hour' AS grain,
                   time_bucket(INTERVAL 1 HOUR, ts) AS w_start,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(10,4))) AS DOUBLE) AS total_value
            FROM events GROUP BY 2
        ),
        daily AS (
            SELECT 'day' AS grain,
                   time_bucket(INTERVAL 1 DAY, ts) AS w_start,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(10,4))) AS DOUBLE) AS total_value
            FROM events GROUP BY 2
        )
        SELECT grain, strftime(w_start, '%Y-%m-%d %H:%M:%S') AS bucket,
               n_events, total_value
        FROM (
            SELECT * FROM hourly
            WHERE w_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
            UNION ALL
            SELECT * FROM daily
            WHERE w_start + INTERVAL 1 DAY <= (SELECT w FROM wm)
        )
    """,
)
def stream_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming multi-granularity rollup (C6+C8): hourly AND daily
    windowed aggregates of one event stream in a SINGLE streaming
    query — a union of two stateful window operators under one
    watermark (Spark's multiple-stateful-operator support), the
    continuous-aggregate topology a timeseries store maintains (the
    batch form is ``hypertable_rollup``). Append mode: each
    granularity emits exactly the windows its end has passed the
    final watermark — so the drained set is deterministic per
    granularity (the trailing hour AND the trailing day are withheld)
    and the oracle is the batch rollup filtered by the same closure
    rule per grain. State is O(open windows per grain), independent
    of stream length."""
    ev = _events_stream(spark, sf_dir)

    def grain(dur: str, label: str) -> DataFrame:
        return (
            ev.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", dur).alias("w"))
            .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
            .select(
                F.lit(label).alias("grain"),
                fmt_ts(F.col("w.start")).alias("bucket"),
                "n_events",
                "total_value",
            )
        )

    return _drain(grain("1 hour", "hour").unionByName(grain("1 day", "day")), "append")


@register(
    "stream_cdc_latest",
    tags=("C9", "B19"),
    oracle="""
        WITH r AS (
            SELECT user_id, event_type, ts,
                   CAST(value AS DECIMAL(10,4)) AS v,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        SELECT user_id,
               event_type AS last_event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
               CAST(v AS DOUBLE) AS last_value
        FROM r WHERE rn = 1
    """,
)
def stream_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keep-latest CDC state (C9): the events stream treated
    as a change feed, folded to each key's CURRENT row — the
    materialized-view half of CDC (the batch upsert/merge half is
    ``cdc_upsert``; the history half is ``scd2_dim``). One streaming
    groupBy with ``max_by`` over a (ts, event_id) ordering struct:
    state per key is ONE row (the running winner), so memory is
    O(keys) regardless of stream length — the canonical
    last-write-wins table a CDC consumer maintains. The (ts,
    event_id) struct makes the winner total-ordered, hence the
    drained complete-mode result is deterministic and equal to the
    batch argmax — oracle-checked; value rides the DECIMAL(10,4)
    policy."""
    ev = _events_stream(spark, sf_dir)
    return _drain(_cdc_latest_agg(ev), "complete")


def _cdc_latest_agg(ev: DataFrame) -> DataFrame:
    """The keep-latest streaming aggregate shared by the memory-sink
    (oracle parity) and foreachBatch-upsert (production) CDC forms."""
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    latest = ev.groupBy("user_id").agg(
        F.max_by("event_type", ordk).alias("last_event_type"),
        F.max_by(F.col("ts"), ordk).alias("_last_ts"),
        F.max_by(dec4("value"), ordk).alias("_last_v"),
    )
    return latest.select(
        "user_id",
        "last_event_type",
        fmt_ts_us(F.col("_last_ts")).alias("last_ts"),
        F.col("_last_v").cast("double").alias("last_value"),
    )


_CDC_N_BUCKETS = 16


def _cdc_upsert_batch(
    batch_df: DataFrame, table: str, n_buckets: int = _CDC_N_BUCKETS
) -> None:
    """LWW-upsert one micro-batch of (user_id, ...) rows into a
    bucket-partitioned parquet table: existing rows for the batch's
    keys are replaced, other keys kept, and ONLY the hash buckets the
    batch touches are rewritten (dynamic partition overwrite). The
    merged frame is persisted+counted before the write because the
    merge lazily READS the very path being overwritten. The
    affected-bucket collect is <= n_buckets rows — bounded metadata.
    Module-level so the two-batch merge path is directly testable
    (the bounded fixture drains in one batch)."""
    from pyspark import StorageLevel

    sess = batch_df.sparkSession
    b = batch_df.withColumn(
        "bucket", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets))
    )
    try:
        cur = sess.read.parquet(table)
        have = True
    except Exception:  # first batch: nothing committed yet
        have = False
    if have:
        affected = [
            r["bucket"] for r in b.select("bucket").distinct().collect()
        ]
        keep = cur.filter(F.col("bucket").isin(affected)).join(
            b.select("user_id"), "user_id", "left_anti"
        )
        out = keep.unionByName(b)
    else:
        out = b
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()  # cut the lazy read of the path we're about to replace
    try:
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(table)
        )
    finally:
        out.unpersist()


@register(
    "stream_cdc_latest_filesink",
    tags=("C9", "B19", "A8"),
    oracle="""
        WITH r AS (
            SELECT user_id, event_type, ts,
                   CAST(value AS DECIMAL(10,4)) AS v,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        SELECT user_id,
               event_type AS last_event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
               CAST(v AS DOUBLE) AS last_value
        FROM r WHERE rn = 1
    """,
)
def stream_cdc_latest_filesink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stream_cdc_latest`` materialized as a TABLE instead of a
    memory sink (C9, the production LWW path): the same keep-latest
    aggregate drained in UPDATE mode through ``foreachBatch``, which
    upserts each micro-batch's changed keys into a bucket-partitioned
    parquet table. Update mode emits only the keys whose running
    winner changed, so per-batch work is O(changed keys); the upsert
    rewrites only the hash buckets those keys land in (dynamic
    partition overwrite — untouched buckets' files are never
    rewritten), which is how a parquet table takes keyed upserts
    without a full rewrite. Nothing is ever materialized on the
    driver: the batch frame flows executor-side into the table; the
    only collect is the affected-bucket id list (<= 16 rows — bounded
    metadata, CLAUDE.md exemption class). Same oracle as
    stream_cdc_latest.

    The merged frame is persisted+counted before the overwrite: the
    merge READS the table path being overwritten, and without forcing
    materialization first the lazy self-read would race the rewrite."""
    import shutil
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_stream",
        sf_dir.rstrip("/").replace("/", "_"),
        "cdc_filesink",
    )
    shutil.rmtree(root, ignore_errors=True)
    table = os.path.join(root, "table")
    ckpt = os.path.join(root, "ckpt")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        _cdc_upsert_batch(batch_df, table)

    ev = _events_stream(spark, sf_dir)
    q = (
        _cdc_latest_agg(ev)
        .writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(table).select(
        "user_id", "last_event_type", "last_ts", "last_value"
    )


@register(
    "stream_stream_join",
    tags=("C8", "C9", "B24"),
    oracle="""
        SELECT b.user_id, c.event_id AS click_id, b.event_id AS purchase_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
               strftime(b.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') b
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON b.user_id = c.user_id
         AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (C8/C9): purchases matched to the
    same user's clicks in the preceding hour, both sides watermarked so
    the join state is bounded — the canonical attribution topology.
    Inner stream-stream joins emit every provable match (the watermark
    only bounds buffered state, it withholds nothing on a drained
    bounded stream), so the oracle is simply the batch interval join —
    exact set equality, also pytest-asserted. Scale shape: state is
    partitioned by user_id and each side retains <= 1 hour of events
    per the watermark — memory is O(rate x window), independent of
    stream length."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = buys.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        fmt_ts_us("c_ts").alias("click_ts"),
        fmt_ts_us("p_ts").alias("purchase_ts"),
    )
    return _drain(joined, "append")


@register(
    "stream_static_enrich",
    tags=("C6", "C8", "B21"),
    oracle="""
        WITH agg AS (
            SELECT c.c_mktsegment,
                   time_bucket(INTERVAL 1 HOUR, e.ts) AS w_start,
                   count(*) AS n_events,
                   CAST(sum(CAST(e.value AS DECIMAL(10,4))) AS DOUBLE)
                       AS total_value
            FROM events e
            JOIN customer c ON c.c_custkey = e.user_id
            GROUP BY 1, 2
        )
        SELECT c_mktsegment,
               strftime(w_start, '%Y-%m-%d %H:%M:%S') AS bucket,
               n_events, total_value
        FROM agg
        WHERE w_start + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 30 MINUTE
                                            FROM events)
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (the third Structured Streaming
    join topology, next to stream-stream and self-contained windows):
    the event stream joins the STATIC customer dimension — no state,
    no watermark on the static side; Spark broadcasts the dim into
    every micro-batch — then rolls up 1-hour tumbling windows per
    market segment under a 30-minute watermark. On a drained bounded
    stream the emitted set is exactly the closed windows of the batch
    join+aggregate (the stream_tumbling_window argument; the static
    join adds nothing time-dependent), so the oracle is plain SQL.

    Scale shape: this is the production enrich-then-aggregate
    topology — the dim is broadcast (or a map-side state store for
    dims too big to broadcast), the only shuffle is the windowed
    aggregation keyed on (segment, window), and state is
    O(segments x open windows), independent of stream length. The
    stream side never shuffles for the join itself."""
    from mr_py_spark.sources import tbl

    ev = _events_stream(spark, sf_dir)
    cust = tbl(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(
        F.broadcast(cust), ev.user_id == cust.c_custkey, "inner"
    )
    agg = (
        joined.withWatermark("ts", "30 minutes")
        .groupBy("c_mktsegment", F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            "c_mktsegment",
            fmt_ts(F.col("w.start")).alias("bucket"),
            "n_events",
            "total_value",
        )
    )
    return _drain(agg, "append")


@register(
    "stream_outer_join",
    tags=("C8", "C9", "B19"),
    oracle="""
        WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
             b AS (SELECT * FROM events WHERE event_type = 'purchase'),
             wm AS (SELECT least((SELECT max(ts) FROM c),
                                 (SELECT max(ts) FROM b))
                           - INTERVAL 1 HOUR AS w)
        SELECT c.user_id, c.event_id AS click_id, b.event_id AS purchase_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
               strftime(b.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
        FROM c JOIN b ON b.user_id = c.user_id
         AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 1 HOUR
        UNION ALL
        SELECT c.user_id, c.event_id, NULL,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f'), NULL
        FROM c, wm
        WHERE c.ts + INTERVAL 1 HOUR < wm.w
          AND NOT EXISTS (SELECT 1 FROM b WHERE b.user_id = c.user_id
                          AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 1 HOUR)
    """,
)
def stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join (C8): every click, with
    its same-user purchase within the following hour or NULL-extended
    if none arrived — the unconverted-traffic topology, and the join
    semantic `stream_stream_join`'s inner form cannot express.

    The outer semantics make WATERMARK WITHHOLDING observable: a
    click can only be declared unmatched once the watermark proves no
    in-window purchase can still arrive, so null-extended rows emit
    when watermark > c_ts + 1h, and clicks in the final
    (delay + interval) tail of a drained bounded stream are withheld
    FOREVER — correct streaming behavior, not data loss. The oracle
    mirrors this mechanically: Spark's global watermark is
    min(per-side max event time) - delay (each withWatermark node
    tracks its own input's max), so the NULL branch keeps exactly the
    unmatched clicks with c_ts + 1h < that watermark. The strict <
    matches Spark's eviction predicate; the fixture's microsecond-
    grained timestamps make an exact tie (the only divergence hazard)
    a measure-zero event, and the drain is single-micro-batch so the
    final watermark is deterministic.

    Scale shape: identical to the inner form — state partitioned by
    user_id, each side buffers <= (delay + interval) of events, memory
    O(rate x window) independent of stream length; the null-extension
    adds no state, only an eviction-time emit."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        buys,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        fmt_ts_us("c_ts").alias("click_ts"),
        fmt_ts_us("p_ts").alias("purchase_ts"),
    )
    return _drain(joined, "append")


@register(
    "statestore_read",
    tags=("C9", "A7", "B7"),
    oracle="""
        SELECT event_type, count(*) AS n_events
        FROM events
        GROUP BY event_type
    """,
)
def statestore_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE STORE DATA SOURCE read (the Spark 4 ops surface for
    stateful streaming): drain a stateful counting stream to a noop
    sink, then open its CHECKPOINT as a batch table via
    ``spark.read.format("statestore")`` and emit the keyed state. On a
    fully-drained bounded stream the state content must equal the
    batch aggregate — so this oracle checks the STATE ITSELF, not a
    sink: a state-corruption bug (lost partition, double-applied
    batch, bad changelog replay) breaks parity even though no result
    was ever written.

    This is the production debugging workflow at 100 TB: state lives
    sharded across executors (RocksDB files + changelog under the
    checkpoint), and the reader exposes it as one partitioned
    DataFrame — inspect hot keys, audit counts, bootstrap a migration
    — without touching the running query. Checkpoint is per-sf cached
    and cleared before each run (the stream_dedup_filesink dir
    pattern), so repeated drains never accumulate."""
    import shutil
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_stream",
        sf_dir.rstrip("/").replace("/", "_"),
        "statestore_read",
    )
    shutil.rmtree(root, ignore_errors=True)
    ckpt = os.path.join(root, "ckpt")
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    q = (
        agg.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    st = spark.read.format("statestore").load(ckpt)
    return st.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
    )


def maintenance_step(
    spark: SparkSession,
    out: str,
    index_table: str,
    id_col: str,
    *,
    project,
    view,
    trips,
    actuate,
    triage,
    first_build,
    append,
    recover=None,
    bootstrap=None,
    after=None,
    check_every: int = 8,
    actuation_log: list | None = None,
):
    """The one foreachBatch body behind every standing-index
    maintenance loop (LSH, flat IVF, hier): triage each micro-batch
    against the live index, write its statuses to the parquet sink at
    ``out``, and admit the survivors (status 'new': each within-batch
    cluster's min-id representative plus every novel row) into
    ``index_table``. Per-batch work is O(batch x bucket occupancy),
    independent of corpus size. The per-index parts are hooks; the
    phase order is fixed here:

    1. ``recover()`` finishes crash-interrupted swaps;
    2. ``project(batch_df)`` selects the batch columns and
       ``bootstrap(batch, n_rows)`` fits the first-batch quantizer;
    3. ``view(batch, corpus)`` builds the triage context from the
       pre-batch corpus (None while the index does not exist);
    4. every ``check_every`` batches (0 disables), ``trips(batch, ctx,
       batch_max)`` reads the gauge and, when it trips,
       ``actuate(batch, ids, ctx)`` rebuilds the index in place
       (crash-atomic), ``actuation_log`` records the batch_id, and the
       view is derived again;
    5. ``triage(batch, ctx)`` yields the statuses, which are persisted;
    6. one aggregate over them and the batch ids materialises the cache,
       yields the admitted ids' (count, min, max) — the STATS — and
       refuses a batch that repeats an id;
    7. the statuses land in the batch_id partition of ``out``;
    8. the admitted rows are the batch semi-joined to the 'new' ids;
    9. ``append(ctx, rows, stats)`` (index present) or
       ``first_build(ctx, rows)``; then ``after(ctx, rows, stats,
       warm)``; the statuses are unpersisted on every exit.

    DUPLICATE IDS: a batch that repeats an ``id_col`` value raises a
    ValueError naming the column and batch_id before anything is
    written. Null ids are not counted: such a row gets a status and is
    never admitted (the semi-join never matches null). The check rides a job the step runs anyway: the stats
    aggregate, or, when a write comes earlier, the one batch aggregate
    behind ``n_rows()``/``batch_max()`` (zero-argument callables for
    the bootstrap's row count and the gauge's max id), which also runs
    before an actuation.

    REPLAY-IDEMPOTENT: foreachBatch is at-least-once (a crash between
    the index append and the checkpoint commit re-runs the batch), so
    three guards make a replayed (batch, batch_id) a byte-level no-op:

    - guard 1: triage sees the PRE-BATCH corpus — the index anti-joined
      against the batch's own ids — so a replay whose survivors already
      landed neither matches itself nor flips dup_within_delta to
      dup_of_corpus against its own admitted representative;
    - guard 2: statuses land in a batch_id=N partition under DYNAMIC
      partition overwrite, so a replay rewrites its own partition;
    - guard 3: appends run ``idempotent=True`` through
      ``bucketed.append_guard``: ids the index already holds are
      dropped, at zero index I/O for a fresh batch.

    All three are broadcast-side joins on the small batch frame, so no
    index-sized data is shuffled. The gauge reads a pre-batch snapshot
    and an actuation rebuilds from the pre-batch view, so an original
    run and its replay make the same decision and build the same
    tables.

    STATS CONTRACT: the stats describe exactly ``rows`` as handed to
    ``append``/``after`` (the semi-join keeps precisely the 'new' ids).
    An append passes them to ``append_guard``, which drops them when
    its guard filtered anything; the append then aggregates what it
    writes itself.

    PRECONDITIONS: one writer per index (the watermark and gauge
    sidecars are read-modify-write), and ids monotone across batches
    (each fresh batch's ids exceed every appended id — the watermark
    fast path and the gauge's replay skip rest on it). Ids repeated
    inside one batch are refused (DUPLICATE IDS above)."""
    import functools

    from pyspark.sql import functions as SF

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if recover is not None:
            recover()
        batch = project(batch_df)
        ids = batch.select(id_col)

        def refuse_repeats(n: int, n_ids: int) -> None:
            if n != n_ids:
                raise ValueError(
                    f"micro-batch {batch_id}: {id_col} is not unique ({n} "
                    f"non-null {id_col} values, {n_ids} distinct); "
                    f"standing-index maintenance needs one row per id"
                )

        @functools.cache
        def batch_agg():
            row = batch.agg(
                SF.count(SF.lit(1)).alias("n"),
                SF.count(id_col).alias("n_key"),
                SF.size(SF.collect_set(id_col)).alias("n_ids"),
                SF.max(id_col).alias("mx"),
            ).collect()[0]
            refuse_repeats(row.n_key, row.n_ids)
            return row

        if bootstrap is not None:
            bootstrap(batch, lambda: batch_agg().n)
        warm = spark.catalog.tableExists(index_table)

        def pre_batch_view():
            # guard 1: map-only anti-join against the broadcast batch ids
            corpus = (
                spark.table(index_table).join(ids, id_col, "left_anti")
                if warm
                else None
            )
            return view(batch, corpus)

        ctx = pre_batch_view()
        if (
            check_every
            and warm
            and batch_id > 0
            and batch_id % check_every == 0
            and trips(batch, ctx, lambda: batch_agg().mx)
        ):
            batch_agg()
            actuate(batch, ids, ctx)
            if actuation_log is not None:
                actuation_log.append(int(batch_id))
            ctx = pre_batch_view()
        status = triage(batch, ctx).persist()
        try:
            new = SF.col("status") == "new"
            adm, key = SF.col("adm"), SF.col(id_col)
            row = (
                status.filter(new)
                .select(id_col, SF.lit(True).alias("adm"))
                .unionByName(ids.withColumn("adm", SF.lit(False)))
                .agg(
                    SF.count(SF.when(adm, 1)),
                    SF.min(SF.when(adm, key)),
                    SF.max(SF.when(adm, key)),
                    SF.count(SF.when(~adm, key)),
                    SF.size(SF.collect_set(SF.when(~adm, key))),
                )
                .collect()[0]
            )
            refuse_repeats(row[3], row[4])
            stats = tuple(row[:3])
            # guard 2
            (
                status.withColumn("batch_id", SF.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out)
            )
            rows = batch.join(status.filter(new).select(id_col), id_col, "left_semi")
            if warm:
                append(ctx, rows, stats)  # guard 3
            else:
                first_build(ctx, rows)
            if after is not None:
                after(ctx, rows, stats, warm)
        finally:
            status.unpersist()

    return step


def _lsh_maintenance_step(
    spark: SparkSession, table: str, out: str, idx_path: str,
    check_every: int = 8, collision_cap: float | None = None,
    actuation_log: list | None = None,
):
    """``maintenance_step`` for the text LSH index (doc_id, text).
    Triage is ``minhash_delta_status`` against the band table at the
    TABLE's current rows-per-band (the banding sidecar), the first
    batch builds the index at ``idx_path`` and later batches admit
    through ``lsh_index_append``.

    Gauge: the collision mass from the incremental sufficient
    statistics (``lsh_gauge_stats`` — a sidecar read, pinned by the
    first build and bumped O(delta) by every append; the decision
    reads the pre-bump snapshot keyed by the batch max id, so a replay
    agrees). Past ``collision_cap`` the
    actuator escalates the banding in place (``lsh_reband``,
    crash-atomic; ``recover`` finishes a swap a crash interrupted).
    Band entries are a pure function of (signature, band_rows), so a
    double-fired replay rewrite converges to the same rows."""
    from mr_py_spark.operators.bucketed import _BUCKETS, recover_compaction
    from mr_py_spark.operators.dedup import (
        _LSH_COLLISION_CAP,
        _LSH_INDEX_KEYS,
        _N_HASHES,
        lsh_band_entries,
        lsh_gauge_stats,
        lsh_gauge_trips,
        lsh_index_append,
        lsh_next_band_rows,
        lsh_pin_gauge,
        lsh_reband,
        lsh_table_band_rows,
        minhash_delta_status,
        minhash_signatures,
    )
    from mr_py_spark.sources.sinks import write_bucketed

    cap = _LSH_COLLISION_CAP if collision_cap is None else collision_cap

    def view(batch, corpus):
        return corpus, None if corpus is None else lsh_table_band_rows(spark, table)

    def trips(batch, ctx, batch_max):
        cur = ctx[1]
        return cur < _N_HASHES and lsh_gauge_trips(
            lsh_gauge_stats(spark, table, batch_max_id=batch_max()),
            cap,
            band_rows=cur,
        )

    def triage(batch, ctx):
        bands, cur = ctx
        return minhash_delta_status(
            batch.limit(0) if bands is None else None,
            batch,
            corpus_bands=bands,
            band_rows=cur,
        )

    def first_build(ctx, rows):
        entries = lsh_band_entries(minhash_signatures(rows))
        write_bucketed(entries, table, _LSH_INDEX_KEYS, _BUCKETS, path=idx_path)
        lsh_pin_gauge(spark, table)

    return maintenance_step(
        spark, out, table, "doc_id",
        project=lambda b: b.select("doc_id", "text"),
        recover=lambda: recover_compaction(spark, idx_path),
        view=view,
        trips=trips,
        actuate=lambda batch, ids, ctx: lsh_reband(
            spark, table, lsh_next_band_rows(ctx[1])
        ),
        triage=triage,
        first_build=first_build,
        append=lambda ctx, rows, stats: lsh_index_append(
            rows, table, idempotent=True, stats=stats
        ),
        check_every=check_every,
        actuation_log=actuation_log,
    )


def _ivf_maintenance_step(
    spark: SparkSession, cent_table: str, idx_table: str, out: str,
    cent_path: str, idx_path: str, check_every: int = 8,
    drift_ratio: float | None = None, actuation_log: list | None = None,
):
    """``maintenance_step`` for the flat IVF index (vec_id, embedding).
    The quantizer trains once, on the first batch, from an EXPLICITLY
    ORDERED sample (a bare-limit sample's row order is not
    replay-stable), with ``_kmeans_k`` sizing for cluster-mate work.
    Triage is ``semantic_delta_status``; admits go through
    ``ivf_index_append``; the first build also pins the drift
    reference (the quantizer's own training cohort).

    Gauge: the batch's p05 top-1 similarity against the
    GENERATION-PINNED reference (``drift_ref_stats`` — a sidecar inside
    the index's data dir, so it resets exactly when a retrain swaps the
    generation; only the delta is scored). Degradation past
    ``drift_ratio`` triggers ``ivf_retrain`` (centroids + inverted file,
    crash-atomic swap; the pre-batch view via ``exclude_ids``, the
    tripping batch via ``extra_train``). ``recover`` finishes a swap a
    crash interrupted."""
    from pyspark.sql import functions as SF

    from mr_py_spark.operators.bucketed import _BUCKETS, recover_compaction
    from mr_py_spark.operators.kmeans import _kmeans_k
    from mr_py_spark.operators.similarity import (
        _DRIFT_P05_RATIO,
        _ivf_centroids,
        _ordered_train_sample,
        delta_p05,
        drift_degraded_pinned,
        drift_ref_stats,
        ivf_assign_with,
        ivf_index_append,
        ivf_retrain,
        pin_drift_ref,
        semantic_delta_status,
    )
    from mr_py_spark.sources.sinks import write_bucketed

    if drift_ratio is None:
        drift_ratio = _DRIFT_P05_RATIO

    def recover():
        recover_compaction(spark, cent_path)
        recover_compaction(spark, idx_path)

    def bootstrap(batch, n_rows):
        if spark.catalog.tableExists(cent_table):
            return
        cents = _ivf_centroids(
            spark, batch, max(2, _kmeans_k(n_rows())),
            sample=_ordered_train_sample(batch),
        )
        cent_df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], "cid long, cv array<double>"
        )
        write_bucketed(cent_df, cent_table, "cid", _BUCKETS, path=cent_path)

    def view(batch, corpus):
        cent = spark.table(cent_table)
        return cent, ivf_assign_with(cent, batch.limit(0)) if corpus is None else corpus

    def trips(batch, ctx, batch_max):
        cent, corpus = ctx
        return drift_degraded_pinned(
            drift_ref_stats(spark, cent, idx_table, corpus),
            delta_p05(cent, batch),
            drift_ratio,
        )

    def first_build(ctx, rows):
        write_bucketed(
            ivf_assign_with(ctx[0], rows), idx_table, "bucket", _BUCKETS,
            path=idx_path,
        )
        pin_drift_ref(spark, ctx[0], idx_table)

    return maintenance_step(
        spark, out, idx_table, "vec_id",
        project=lambda b: b.select(
            "vec_id", SF.col("embedding").cast("array<double>").alias("v")
        ),
        recover=recover,
        bootstrap=bootstrap,
        view=view,
        trips=trips,
        actuate=lambda batch, ids, ctx: ivf_retrain(
            spark, cent_table, idx_table, exclude_ids=ids, extra_train=batch
        ),
        triage=lambda batch, ctx: semantic_delta_status(*ctx, batch),
        first_build=first_build,
        append=lambda ctx, rows, stats: ivf_index_append(
            ctx[0], rows, idx_table, idempotent=True, stats=stats
        ),
        check_every=check_every,
        actuation_log=actuation_log,
    )


def _drain_maintenance(
    spark: SparkSession, sf_dir: str, name: str, source: str,
    tables: tuple[str, ...], make_step, id_col: str,
) -> DataFrame:
    """Drain one standing-index maintenance loop over the fixture's
    ``source`` parquet file: a fresh per-sf_dir temp root ``name``, the
    loop's ``tables`` dropped, a file stream through
    ``foreachBatch(make_step(root, out))`` run to completion. Returns
    the statuses with ``id_col`` (batch_id widened to long)."""
    import shutil
    import tempfile

    harden(spark)
    src = sf_dir.rstrip("/")
    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_stream", src.replace("/", "_"), name
    )
    shutil.rmtree(root, ignore_errors=True)
    out = os.path.join(root, "out")
    os.makedirs(out, exist_ok=True)
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    schema = spark.read.parquet(f"{src}/{source}.parquet").schema
    q = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", f"{source}.parquet")
        .load(src)
        .writeStream.foreachBatch(make_step(root, out))
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out).select(
        id_col,
        "status",
        "match_id",
        # partition-inferred int -> long (stable emit width)
        F.col("batch_id").cast("long").alias("batch_id"),
    )


@register("stream_semantic_index_maintenance", tags=("C9", "C2", "C3", "A8"))
def stream_semantic_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest loop for the STANDING IVF index: semantic
    near-dup triage of each micro-batch of newly-embedded documents
    against the live index, statuses to a parquet sink, survivors
    admitted via ``ivf_index_append``, drift-triggered retrains in
    loop (``_ivf_maintenance_step``). Replay-idempotent under
    foreachBatch's at-least-once contract (``maintenance_step``).

    Rows-only (seeded quantizers are engine-specific): cross-batch
    semantics and byte-level replay idempotence are property-tested
    over controlled streams (tests/test_streaming_sink.py); the
    fixture drain is checked for one-status-per-vector and
    determinism."""
    tag = stream_table_tag(sf_dir)
    cent_table = f"mrps_stream_ivf_cent_{tag}"
    idx_table = f"mrps_stream_ivf_idx_{tag}"
    return _drain_maintenance(
        spark, sf_dir, "ivf_maint", "embeddings", (cent_table, idx_table),
        lambda root, out: _ivf_maintenance_step(
            spark, cent_table, idx_table, out,
            os.path.join(root, "cent"), os.path.join(root, "index"),
        ),
        "vec_id",
    )


@register("stream_lsh_index_maintenance", tags=("C9", "C2", "C1", "A8"))
def stream_lsh_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest loop for the STANDING LSH index (C9 + C2). Each
    micro-batch of newly-crawled documents is fuzzy-triaged against the
    index (``minhash_delta_status`` over the materialized band table —
    no corpus re-banding), its statuses appended to a parquet result
    sink, and its SURVIVORS admitted via ``lsh_index_append`` — so the
    index the NEXT batch sees includes this batch's survivors.
    foreachBatch is the right tool because the state is a queryable
    warehouse table, not operator state: downstream batch queries join
    against the live index between micro-batches. EXACTLY-ONCE in
    effect despite foreachBatch's at-least-once contract: the step is
    replay-idempotent (``maintenance_step``), so a re-run batch leaves
    both sinks byte-identical.

    Rows-only (MinHash statuses are engine-specific): cross-batch
    semantics and byte-level replay idempotence are property-tested
    over controlled streams (tests/test_streaming_sink.py); the
    fixture drain is checked for one-status-per-doc and determinism."""
    table = f"mrps_stream_lsh_idx_{stream_table_tag(sf_dir)}"
    return _drain_maintenance(
        spark, sf_dir, "lsh_maint", "documents", (table,),
        lambda root, out: _lsh_maintenance_step(
            spark, table, out, os.path.join(root, "index")
        ),
        "doc_id",
    )


def _root_gen_hash(spark: SparkSession, root_table: str) -> str:
    """Content hash of a ROOT centroid table — the identity of a hier
    index GENERATION (every retrain rewrites the roots; appends never
    do). Bounded collect: the root frame is capped at 4096 rows by the
    two-level design (the documented broadcast-bounded class)."""
    import hashlib

    import numpy as np

    rows = sorted(
        (r.cid, tuple(r.cv))
        for r in spark.table(root_table).select("cid", "cv").collect()
    )
    h = hashlib.sha1()
    for cid, cv in rows:
        h.update(np.int64(cid).tobytes())
        h.update(np.asarray(cv, dtype=np.float64).tobytes())
    return h.hexdigest()


def _codes_gen_read(spark: SparkSession, codes_table: str) -> str | None:
    """The root generation the codes table was encoded under (its
    ``codes_gen`` sidecar); None when absent or torn."""
    from mr_py_spark.operators.bucketed import sidecar_path, sidecar_read_json

    rec = sidecar_read_json(
        sidecar_path(spark, codes_table, "codes_gen"), ("root_gen",)
    )
    return None if rec is None else rec["root_gen"]


def _books_np(spark: SparkSession, books_table: str):
    """Materialize the stored PQ codebooks (mi, ki, sub) as the numpy
    (M, K, sub) tensor the encode kernel broadcasts. Bounded collect:
    M·K rows (≤ 4096 at production m=16, k=256)."""
    import numpy as np

    rows = spark.table(books_table).collect()
    m = max(r.mi for r in rows) + 1
    k = max(r.ki for r in rows) + 1
    books = np.empty((m, k, len(rows[0].sub)))
    for r in rows:
        books[r.mi, r.ki] = r.sub
    return books


def _hier_maintenance_step(
    spark: SparkSession, root_table: str, leaf_table: str, idx_table: str,
    out: str, root_path: str, leaf_path: str, idx_path: str,
    check_every: int = 8, drift_ratio: float | None = None,
    actuation_log: list | None = None,
    root_rows: int | None = None, leaf_rows: int | None = None,
    codes_table: str | None = None, codes_path: str | None = None,
    books_table: str | None = None, books_path: str | None = None,
    pq_m: int = 4, pq_k: int = 16,
):
    """``maintenance_step`` for the TWO-LEVEL index — the production
    semantic form past the flat tier's 4096-centroid broadcast cap.
    The quantizer pair (roots + leaf table) trains on the first batch;
    the two bootstrap writes are guarded separately, so a crash
    between them replays into a leaf rebuild from the persisted roots
    and the same batch (deterministic). Triage runs through the
    (bucket, leaf) cells (``semantic_delta_status_hier``); admits go
    through ``hier_index_append``. The gauge scores the ROOT level (a
    hier index drifts at the root first) against the generation-pinned
    reference, and a trip triggers ``hier_retrain``, the crash-atomic
    three-table rebuild. ``root_rows``/``leaf_rows`` are test knobs
    (defaults: the module grains, ~4096/~64).

    With ``codes_table``/``codes_path``/``books_table``/``books_path``
    set, the after-hook also maintains the STANDING PQ-CODE inverted
    file the ADC serve tier reads:

    - Codebooks train ONCE (``pq_m`` x ``pq_k``), on a bounded ordered
      sample of the first indexed cohort, keyed on "codes missing,
      index present" so an empty or all-dup first batch defers it and a
      crash before it lands repeats it on replay. They quantize RAW
      subspaces, so retrains do not invalidate them.
    - Admitted vectors are encoded O(delta) per batch
      (``hier_pq_codes_append``, replay-guarded against the codes
      table's own watermark — a crash between the index append and the
      codes append replays into an idx no-op plus the missed codes
      append).
    - GENERATION COHERENCE self-heals: the codes table's ``codes_gen``
      sidecar (``bucketed.sidecar_path``) records the ROOT-table content
      hash the codes were encoded under; every step entry compares it to the
      live root hash and re-encodes the codes table from the index
      (crash-atomic ``replace_bucketed_table``) on mismatch. A retrain
      re-encodes at once, and a crash between the retrain's swap and
      the re-encode is repaired at the next entry. The root hash is the
      generation identity because every retrain rewrites the roots and
      no append does."""
    import numpy as np
    from pyspark.sql import functions as SF

    from mr_py_spark.operators.bucketed import (
        _BUCKETS,
        recover_compaction,
        replace_bucketed_table,
        sidecar_path,
        sidecar_write_json,
    )
    from mr_py_spark.operators.hier import (
        _LEAF_ROWS,
        _ROOT_ROWS,
        _hier_nroot,
        _pq_encode_frame,
        hier_assign,
        hier_index_append,
        hier_leaf_centroids,
        hier_pq_codes_append,
        hier_retrain,
        semantic_delta_status_hier,
    )
    from mr_py_spark.operators.similarity import (
        _DRIFT_P05_RATIO,
        _ivf_centroids,
        _ordered_train_sample,
        delta_p05,
        drift_degraded_pinned,
        drift_ref_stats,
        ivf_assign_with,
        pin_drift_ref,
    )
    from mr_py_spark.operators.vectors import _pq_train
    from mr_py_spark.sources.sinks import write_bucketed

    if drift_ratio is None:
        drift_ratio = _DRIFT_P05_RATIO
    r_rows = _ROOT_ROWS if root_rows is None else int(root_rows)
    l_rows = _LEAF_ROWS if leaf_rows is None else int(leaf_rows)
    codes_on = codes_table is not None
    if codes_on and not (codes_path and books_table and books_path):
        raise ValueError(
            "_hier_maintenance_step: codes maintenance needs codes_table, "
            "codes_path, books_table AND books_path"
        )
    exists = spark.catalog.tableExists

    def encoded_index(books):
        idx = spark.table(idx_table).select("vec_id", "bucket", "leaf", "v")
        return _pq_encode_frame(idx, books)

    def rebuild_codes(gen: str) -> None:
        # a pure function of (index, books): a crash before the sidecar
        # lands only repeats it
        replace_bucketed_table(
            spark, codes_table, encoded_index(_books_np(spark, books_table)),
            ("bucket", "leaf"),
        )
        stamp_codes(gen)

    def stamp_codes(gen: str) -> None:
        sidecar_write_json(
            sidecar_path(spark, codes_table, "codes_gen"), {"root_gen": gen}
        )

    def recover():
        for p in (root_path, leaf_path, idx_path) + (
            (codes_path, books_path) if codes_on else ()
        ):
            recover_compaction(spark, p)
        if codes_on and exists(codes_table) and exists(root_table):
            gen = _root_gen_hash(spark, root_table)
            if _codes_gen_read(spark, codes_table) != gen:
                rebuild_codes(gen)

    def bootstrap(batch, n_rows):
        if not exists(root_table):
            n = n_rows()
            nroot = min(_hier_nroot(n, r_rows), max(1, n))
            cents = _ivf_centroids(
                spark, batch, nroot, sample=_ordered_train_sample(batch)
            )
            write_bucketed(
                spark.createDataFrame(
                    [(i, c) for i, c in enumerate(cents)],
                    "cid long, cv array<double>",
                ),
                root_table, "cid", _BUCKETS, path=root_path,
            )
        if not exists(leaf_table):
            write_bucketed(
                hier_leaf_centroids(
                    ivf_assign_with(spark.table(root_table), batch),
                    leaf_rows=l_rows,
                ),
                leaf_table, "bucket", _BUCKETS, path=leaf_path,
            )

    def view(batch, corpus):
        if corpus is None:
            corpus = spark.createDataFrame(
                [], "vec_id long, bucket long, leaf long, v array<double>"
            )
        return spark.table(root_table), spark.table(leaf_table), corpus

    def trips(batch, ctx, batch_max):
        root, _, corpus = ctx
        return drift_degraded_pinned(
            drift_ref_stats(
                spark, root, idx_table, corpus.select("vec_id", "bucket", "v")
            ),
            delta_p05(root, batch),
            drift_ratio,
        )

    def actuate(batch, ids, ctx):
        hier_retrain(
            spark, root_table, leaf_table, idx_table,
            exclude_ids=ids, extra_train=batch,
            root_rows=r_rows, leaf_rows=l_rows,
        )
        if codes_on and exists(codes_table):
            rebuild_codes(_root_gen_hash(spark, root_table))

    def first_build(ctx, rows):
        root, leaf, _ = ctx
        write_bucketed(
            hier_assign(ivf_assign_with(root, rows), leaf),
            idx_table, ("bucket", "leaf"), _BUCKETS, path=idx_path,
        )
        pin_drift_ref(
            spark, root, idx_table,
            spark.table(idx_table).select("vec_id", "bucket", "v"),
        )

    def after(ctx, rows, stats, warm):
        if exists(codes_table):
            if warm:
                hier_pq_codes_append(
                    ctx[0], ctx[1], _books_np(spark, books_table), rows,
                    codes_table, idempotent=True, stats=stats,
                )
            return
        if not exists(idx_table):
            return
        X = _ordered_train_sample(spark.table(idx_table).select("vec_id", "v"))
        if not len(X):
            return
        books = _pq_train(
            np.asarray(X, dtype=np.float64),
            m=pq_m, k=min(pq_k, len(X)), sub=X.shape[1] // pq_m,
        )
        write_bucketed(
            spark.createDataFrame(
                [
                    (mi, ki, [float(x) for x in books[mi, ki]])
                    for mi in range(books.shape[0])
                    for ki in range(books.shape[1])
                ],
                "mi long, ki long, sub array<double>",
            ),
            books_table, "mi", _BUCKETS, path=books_path,
        )
        write_bucketed(
            encoded_index(books), codes_table, ("bucket", "leaf"), _BUCKETS,
            path=codes_path,
        )
        stamp_codes(_root_gen_hash(spark, root_table))

    return maintenance_step(
        spark, out, idx_table, "vec_id",
        project=lambda b: b.select(
            "vec_id", SF.col("embedding").cast("array<double>").alias("v")
        ),
        recover=recover,
        bootstrap=bootstrap,
        view=view,
        trips=trips,
        actuate=actuate,
        triage=lambda batch, ctx: semantic_delta_status_hier(*ctx, batch),
        first_build=first_build,
        append=lambda ctx, rows, stats: hier_index_append(
            ctx[0], ctx[1], rows, idx_table, idempotent=True, stats=stats
        ),
        after=after if codes_on else None,
        check_every=check_every,
        actuation_log=actuation_log,
    )


@register("stream_hier_index_maintenance", tags=("C9", "C2", "C3", "A8"))
def stream_hier_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest loop for the STANDING TWO-LEVEL index — the
    production semantic-maintenance form past the flat tier's
    4096-centroid cap (cell occupancy stays ~64 at any corpus size,
    where the flat loop's bucket occupancy grows linearly): each
    micro-batch is triaged against the live (bucket, leaf) cells,
    statuses land in a parquet sink, survivors are admitted via
    ``hier_index_append``, and root-level drift triggers the
    crash-atomic three-table ``hier_retrain``
    (``_hier_maintenance_step``). Replay-idempotent under
    foreachBatch's at-least-once contract (``maintenance_step``).
    Rows-only (seeded quantizers are engine-specific); the fixture
    drain is checked for one-status-per-vector and determinism."""
    tag = stream_table_tag(sf_dir)
    tables = tuple(
        f"mrps_stream_hier_{t}_{tag}" for t in ("root", "leaf", "idx")
    )
    return _drain_maintenance(
        spark, sf_dir, "hier_maint", "embeddings", tables,
        lambda root, out: _hier_maintenance_step(
            spark, *tables, out,
            os.path.join(root, "root"),
            os.path.join(root, "leaf"),
            os.path.join(root, "index"),
        ),
        "vec_id",
    )


@register("stream_hier_pq_maintenance", tags=("C9", "C3", "A8", "B22"))
def stream_hier_pq_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stream_hier_index_maintenance`` with the ADC tier's standing
    PQ-CODE table maintained in the same loop (``_hier_maintenance_step``
    codes options: books train once on the bootstrap cohort, admitted
    vectors are encoded O(delta) under the codes table's own replay
    guard, and a root-hash sidecar keeps the codes on the live
    generation). Emits the audit the lifecycle promises instead of the
    triage statuses: the codes table is row-identical (codes included)
    to a one-pass encode of the final index under the stored books,
    covers exactly the indexed ids, and the stored generation matches
    the live roots. Rows-only (seeded quantizers + engine-specific code
    layout); crash-window, replay, and retrain-re-encode properties are
    byte-level-tested in tests/test_streaming_sink.py."""
    from mr_py_spark.operators.hier import _pq_encode_frame

    tag = stream_table_tag(sf_dir)
    root_table, leaf_table, idx_table, codes_table, books_table = (
        f"mrps_stream_hpq_{t}_{tag}"
        for t in ("root", "leaf", "idx", "codes", "books")
    )
    _drain_maintenance(
        spark, sf_dir, "hier_pq_maint", "embeddings",
        (root_table, leaf_table, idx_table, codes_table, books_table),
        lambda root, out: _hier_maintenance_step(
            spark, root_table, leaf_table, idx_table, out,
            os.path.join(root, "root"),
            os.path.join(root, "leaf"),
            os.path.join(root, "index"),
            codes_table=codes_table, codes_path=os.path.join(root, "codes"),
            books_table=books_table, books_path=os.path.join(root, "books"),
        ),
        "vec_id",
    )
    # lifecycle audit (vs the statuses the sibling query already emits)
    idx = spark.table(idx_table)
    got = spark.table(codes_table).select(
        "vec_id", F.struct("bucket", "leaf", "code").alias("got")
    )
    want = _pq_encode_frame(
        idx.select("vec_id", "bucket", "leaf", "v"),
        _books_np(spark, books_table),
    ).select("vec_id", F.struct("bucket", "leaf", "code").alias("want"))
    mismatches = (
        got.join(want, "vec_id", "full_outer")
        .filter(
            F.col("got").isNull()
            | F.col("want").isNull()
            | (F.col("got") != F.col("want"))
        )
        .count()
    )
    gen_ok = _codes_gen_read(spark, codes_table) == _root_gen_hash(
        spark, root_table
    )
    return spark.createDataFrame(
        [
            ("n_indexed", int(idx.count())),
            ("n_codes", int(spark.table(codes_table).count())),
            ("mismatch_vs_full_encode", int(mismatches)),
            ("generation_coherent", 1 if gen_ok else 0),
        ],
        "metric string, value long",
    )
