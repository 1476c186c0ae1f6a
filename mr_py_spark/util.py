"""Shared cross-operator helpers.

Hosts the tiny utilities several operator modules need so that no
module has to import another module's underscore-private symbols
(similarity.py originally owned ``_bc``; windows.py grew a dependency
on it — both now import from here).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


class _LocalBroadcast:
    """Closure-captured fallback when no SparkContext exists (Spark
    Connect): cloudpickle ships the value inside the UDF instead of a
    torrent broadcast — same semantics, higher serialization cost."""

    def __init__(self, value):
        self.value = value


def bc(spark: SparkSession, value):
    """Broadcast ``value`` to executors, falling back to closure
    capture on Spark Connect sessions that expose no SparkContext."""
    try:
        return spark.sparkContext.broadcast(value)
    except Exception:
        return _LocalBroadcast(value)


def table_rows(df, sf_dir: str, name: str) -> int:
    """Row count for size-adaptive plan selection — parquet footer
    metadata when the fixture is a single file (milliseconds, no Spark
    job), else one count() job. Only a sizing heuristic, so staleness
    is harmless."""
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(
            f"{sf_dir.rstrip('/')}/{name}.parquet"
        ).metadata.num_rows
    except Exception:
        return df.count()


# Row count above which the dual-form operators (inverted_index,
# ranking_window, percentile_window) auto-select their scale-safe
# plan. Below it the single-window / single-buffer plan is both
# correct and faster (no histogram pass, no extra shuffle); above it
# the unsplittable-task risk dominates. Both forms stay registered
# under their own names regardless — the dispatch only changes what
# the DEFAULT name plans. Tests pin the env override low to drive the
# big-n path on the small fixtures and assert bitwise-equal output.
_SCALE_FORM_ROWS = 50_000_000


def scale_form_threshold() -> int:
    return positive_int_knob("SPARK_GRAFT_SCALE_ROWS", _SCALE_FORM_ROWS)


def positive_int_knob(name: str, default=None):
    """The positive integer in environment variable ``name``, read at
    use, or ``default`` when it is unset. A malformed value raises a
    ValueError naming the knob, so it fails before any Spark work
    instead of falling back silently."""
    import os

    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n < 1:
        raise ValueError(f"{name} must be a positive integer, got {raw!r}")
    return n


def shuffle_width(spark: SparkSession, default: int = 32) -> int:
    """The session's declared reducer width, parse-hardened.

    ``spark.sql.shuffle.partitions`` may be unset or non-numeric
    (e.g. "auto" on platforms with AQE auto-partitioning), so every
    operator that sizes fan-out from it must go through this guard
    rather than a bare ``int(conf.get(...))``.
    """
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (TypeError, ValueError):
        return default
