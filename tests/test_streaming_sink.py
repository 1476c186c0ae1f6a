"""Streaming file-sink test (C6/C8 production shape): stream -> parquet
with checkpointed exactly-once output, then the batch engine reads the
sink back. The memory sink in streaming/ is a harness device; this is
the durable path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mr_py_spark.functions import dsum
from mr_py_spark.sources import tbl
from mr_py_spark.streaming import _events_stream
from tests.conftest import SF_DIR


def test_stream_to_parquet_sink_exactly_once(spark, tmp_path):
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    ev = _events_stream(spark, SF_DIR).select("event_id", "user_id", "value")
    q = (
        ev.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = tbl(spark, SF_DIR, "events")
    sink = spark.read.parquet(out)
    assert sink.count() == batch.count()
    assert sorted(r.event_id for r in sink.select("event_id").collect()) == sorted(
        r.event_id for r in batch.select("event_id").collect()
    )

    # restart against the same checkpoint: no new data -> no duplicates
    q2 = (
        _events_stream(spark, SF_DIR)
        .select("event_id", "user_id", "value")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == batch.count()


def test_foreach_batch_aggregate_sink(spark, tmp_path):
    """foreachBatch: the arbitrary-sink escape hatch — run a batch
    aggregation per micro-batch and overwrite a parquet summary."""
    out = str(tmp_path / "agg_sink")
    ckpt = str(tmp_path / "ckpt_fb")

    def write_batch(df, epoch_id):
        (
            df.groupBy("event_type")
            .agg(F.count("*").alias("n"), dsum("value").alias("total"))
            .write.mode("overwrite")
            .parquet(out)
        )

    ev = _events_stream(spark, SF_DIR)
    q = (
        ev.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {(r.event_type, r.n) for r in spark.read.parquet(out).collect()}
    want = {
        (r.event_type, r.n)
        for r in tbl(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_cdc_upsert_batch_merges_and_rewrites_only_touched_buckets(spark, tmp_path):
    """The foreachBatch LWW upsert behind stream_cdc_latest_filesink,
    driven directly through TWO batches (the bounded fixture drains in
    one, so the merge path never runs there): batch 2 must replace its
    keys' rows, keep everyone else, and leave parquet files in
    untouched buckets physically unrewritten (dynamic partition
    overwrite)."""
    import os

    from mr_py_spark.streaming import _cdc_upsert_batch

    table = str(tmp_path / "cdc_table")
    b1 = spark.createDataFrame(
        [(i, f"t{i}", "2024-01-01 00:00:00.000000", float(i)) for i in range(40)],
        "user_id long, last_event_type string, last_ts string, last_value double",
    )
    _cdc_upsert_batch(b1, table, n_buckets=8)
    first = {
        r.user_id: (r.last_event_type, r.last_value)
        for r in spark.read.parquet(table).collect()
    }
    assert len(first) == 40

    files_before = {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _, fs in os.walk(table)
        for f in fs
        if f.endswith(".parquet")
    }

    b2 = spark.createDataFrame(
        [(7, "updated", "2024-01-02 00:00:00.000000", 99.0),
         (100, "new", "2024-01-02 00:00:00.000000", 1.0)],
        "user_id long, last_event_type string, last_ts string, last_value double",
    )
    _cdc_upsert_batch(b2, table, n_buckets=8)
    got = {
        r.user_id: (r.last_event_type, r.last_value)
        for r in spark.read.parquet(table).collect()
    }
    assert len(got) == 41  # 40 originals - 0 dropped + 1 new
    assert got[7] == ("updated", 99.0)
    assert got[100] == ("new", 1.0)
    for k, v in first.items():
        if k != 7:
            assert got[k] == v, k

    # buckets not containing keys 7 or 100 keep their original files
    touched = {
        r.b
        for r in spark.createDataFrame([(7,), (100,)], "user_id long")
        .select(F.pmod(F.xxhash64("user_id"), F.lit(8)).alias("b"))
        .collect()
    }
    for path, mtime in files_before.items():
        bucket = int(path.split("bucket=")[1].split("/")[0])
        if bucket not in touched:
            assert os.path.exists(path) and os.path.getmtime(path) == mtime, path


def test_stream_lsh_maintenance_fixture_drain(spark):
    """One status row per fixture doc; statuses in the enum; the
    per-sf_dir index table ends populated with exactly the admitted
    survivor set; a second drain (fresh root) reproduces the same
    statuses — the file source delivers the single fixture file as one
    deterministic batch."""
    from mr_py_spark.registry import load_all

    reg = load_all()
    out1 = {
        r.doc_id: (r.status, r.match_id)
        for r in reg["stream_lsh_index_maintenance"].fn(spark, SF_DIR).collect()
    }
    n_docs = tbl(spark, SF_DIR, "documents").count()
    assert len(out1) == n_docs
    assert set(s for s, _ in out1.values()) <= {"new", "dup_within_delta"}
    import re

    table = "mrps_stream_lsh_idx_" + re.sub(r"[^0-9a-zA-Z]+", "_", SF_DIR.strip("/"))
    idx_ids = {r.doc_id for r in spark.table(table).select("doc_id").distinct().collect()}
    assert idx_ids == {d for d, (s, _) in out1.items() if s == "new"}
    out2 = {
        r.doc_id: (r.status, r.match_id)
        for r in reg["stream_lsh_index_maintenance"].fn(spark, SF_DIR).collect()
    }
    assert out1 == out2


def test_stream_lsh_maintenance_cross_batch(spark, tmp_path):
    """Two controlled micro-batches: batch-2 near-dups of batch-1
    docs report dup_of_corpus AGAINST THE MAINTAINED INDEX (including
    a doc admitted in batch 1), within-batch-2 dups report
    dup_within_delta, and the index ends with exactly the survivors
    of both batches."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mr_py_spark.streaming import _lsh_maintenance_step

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    other = "completely different content about spark engines and parquet files "
    novel = "entirely novel words " * 10
    d = tmp_path / "feed"
    d.mkdir()
    f1 = str(d / "b1.parquet")
    f2 = str(d / "b2.parquet")
    pq.write_table(
        pa.table({"doc_id": [1, 2], "text": [base, other]}), f1
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": [10, 11, 12, 13],
                "text": [base + " tail words", other + "plus", novel, novel + " extra"],
            }
        ),
        f2,
    )
    now = time.time()
    os.utime(f1, (now - 60, now - 60))  # batch order: f1 first
    os.utime(f2, (now, now))

    table = "mrps_test_stream_lsh_cross"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    out = str(tmp_path / "out")
    idx_path = str(tmp_path / "index")
    try:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(str(d))
        )
        q = (
            stream.writeStream.foreachBatch(
                _lsh_maintenance_step(spark, table, out, idx_path)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r.doc_id: (r.status, r.match_id, r.batch_id)
            for r in spark.read.parquet(out).collect()
        }
        assert got[1] == ("new", None, 0)
        assert got[2] == ("new", None, 0)
        assert got[10] == ("dup_of_corpus", 1, 1)
        assert got[11] == ("dup_of_corpus", 2, 1)
        assert got[12] == ("new", None, 1)
        assert got[13] == ("dup_within_delta", 12, 1)
        idx_ids = {
            r.doc_id for r in spark.table(table).select("doc_id").distinct().collect()
        }
        assert idx_ids == {1, 2, 12}  # the survivor set of both batches
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_semantic_maintenance_fixture_drain(spark):
    """Registered-query drain on the fixture: one status per embedding,
    statuses in the enum, deterministic across two drains."""
    from mr_py_spark.registry import load_all

    reg = load_all()
    q = reg["stream_semantic_index_maintenance"]
    out1 = {
        r.vec_id: (r.status, r.match_id)
        for r in q.fn(spark, SF_DIR).collect()
    }
    n = tbl(spark, SF_DIR, "embeddings").count()
    assert len(out1) == n
    assert {s for s, _ in out1.values()} <= {"new", "dup_within_delta", "dup_of_corpus"}
    out2 = {
        r.vec_id: (r.status, r.match_id)
        for r in q.fn(spark, SF_DIR).collect()
    }
    assert out1 == out2


_BASE_TEXT = "the quick brown fox jumps over the lazy dog again and again " * 5
_OTHER_TEXT = "completely different content about spark engines and parquet files "


def _loop_kind(spark, kind: str, root):
    """A private standing-index loop of ``kind`` ("lsh", "ivf", or
    "hier" with PQ-code maintenance on): (step, id_col, rows of the two
    replay batches, snapshot). The snapshot is every sink the loop
    writes — statuses plus the index, quantizer, books and codes tables
    (and the codes generation sidecar) — as sorted row reprs, so
    equality is byte-level (repr round-trips doubles exactly)."""
    import os

    import numpy as np

    from mr_py_spark.streaming import (
        _codes_gen_read,
        _hier_maintenance_step,
        _ivf_maintenance_step,
        _lsh_maintenance_step,
    )

    out = os.path.join(root, "out")
    os.makedirs(out, exist_ok=True)
    tag = f"mrps_test_loop_{kind}_{os.path.basename(root)}"
    if kind == "lsh":
        tables = (f"{tag}_idx",)
        step = _lsh_maintenance_step(spark, tables[0], out, os.path.join(root, "index"))
        batches = (
            [(1, _BASE_TEXT), (2, _OTHER_TEXT), (3, _BASE_TEXT + " tail")],
            [(10, _BASE_TEXT + " more"), (11, "novel words entirely " * 8)],
        )
        schema, id_col = "doc_id long, text string", "doc_id"
    else:
        vecs = [[float(x) for x in r] for r in np.eye(40)]
        batches = (
            [(i, vecs[i]) for i in range(20)] + [(100, vecs[3])],
            [(200, vecs[7]), (201, vecs[25])],
        )
        schema, id_col = "vec_id long, embedding array<double>", "vec_id"
        if kind == "ivf":
            tables = (f"{tag}_cent", f"{tag}_idx")
            step = _ivf_maintenance_step(
                spark, *tables, out,
                os.path.join(root, "cent"), os.path.join(root, "index"),
            )
        else:
            tables = tuple(
                f"{tag}_{t}" for t in ("root", "leaf", "idx", "codes", "books")
            )
            step = _hier_maintenance_step(
                spark, *tables[:3], out,
                os.path.join(root, "root"), os.path.join(root, "leaf"),
                os.path.join(root, "index"),
                root_rows=4, leaf_rows=2,  # force a real multi-leaf hierarchy
                codes_table=tables[3], codes_path=os.path.join(root, "codes"),
                books_table=tables[4], books_path=os.path.join(root, "books"),
            )
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    def snapshot():
        def rows(df):
            return sorted(repr(tuple(r)) for r in df.collect())

        snap = {"status": rows(spark.read.parquet(out))}
        for t in tables:  # keyed by role (idx, cent, ...), not by name
            role = t[len(tag) + 1:]
            snap[role] = rows(spark.table(t)) if spark.catalog.tableExists(t) else None
        if kind == "hier":
            snap["codes_gen"] = _codes_gen_read(spark, tables[3])
        return snap

    frames = [spark.createDataFrame(b, schema) for b in batches]
    return step, id_col, frames, snapshot, tables


def _statuses(spark, out, id_col):
    return {
        r[0]: (r.status, r.match_id)
        for r in spark.read.parquet(out).select(id_col, "status", "match_id").collect()
    }


@pytest.fixture(scope="module")
def loop_reference(spark, tmp_path_factory):
    """Per kind, the snapshots of an UNCRASHED loop after batch 0 and
    after batch 1. Building one also checks the two-batch semantics and
    the plain replay (a re-run of a batch that finished): each replay
    leaves every sink byte-identical."""
    import os

    refs = {}

    def get(kind):
        if kind in refs:
            return refs[kind]
        root = str(tmp_path_factory.mktemp(f"ref_{kind}"))
        step, id_col, (b0, b1), snapshot, tables = _loop_kind(spark, kind, root)
        out = os.path.join(root, "out")
        try:
            step(b0, 0)
            snap0 = snapshot()
            step(b0, 0)  # replay of the table-creation batch
            assert snapshot() == snap0
            got0 = _statuses(spark, out, id_col)
            if kind == "lsh":
                # 3 is a within-delta dup of 1 and must STAY that on the
                # replay (1 is now in the index — guard 1)
                assert got0[1] == ("new", None)
                assert got0[3] == ("dup_within_delta", 1)
            else:
                assert len(got0) == 21  # one status per batch vector
                assert got0[3] == ("new", None)
                assert got0[100] == ("dup_within_delta", 3)  # exact in-batch copy
            if kind == "hier":
                leaves = spark.table(tables[1]).count()
                assert leaves > spark.table(tables[0]).count()  # more leaves than roots
            step(b1, 1)
            snap1 = snapshot()
            step(b1, 1)  # replay of the latest batch
            assert snapshot() == snap1
            got1 = _statuses(spark, out, id_col)
            if kind == "lsh":
                assert got1[10] == ("dup_of_corpus", 1)
                assert got1[11] == ("new", None)
            else:
                assert got1[200] == ("dup_of_corpus", 7)  # copy of an indexed vec
                assert got1[201] == ("new", None)  # orthogonal to everything
            idx = [t for t in tables if t.endswith("_idx")][0]
            idx_ids = {r[0] for r in spark.table(idx).select(id_col).collect()}
            assert idx_ids == {d for d, (s, _) in got1.items() if s == "new"}
            if kind == "hier":  # codes cover exactly the indexed ids
                codes = {r.vec_id for r in spark.table(tables[3]).collect()}
                assert codes == idx_ids
        finally:
            for t in tables:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
        refs[kind] = (snap0, snap1)
        return refs[kind]

    return get


class _Crash(Exception):
    pass


@pytest.mark.parametrize(
    "kind,point",
    [(k, p) for k in ("lsh", "ivf", "hier") for p in ("stats", "status", "admit")]
    + [("hier", "after")],  # only hier has an after-hook (the PQ codes)
)
def test_maintenance_step_crash_replay(spark, tmp_path, monkeypatch, loop_reference, kind, point):
    """foreachBatch is at-least-once: a crash anywhere inside the step
    re-runs the batch. Crash each batch once at ``point`` — "stats":
    after triage, before the stats aggregate and the status write
    (nothing durable lies between them); "status": after the status
    write, as the append or first build starts; "admit": as the append
    or first build returns; "after": as hier's PQ-codes upkeep returns —
    then replay it: every sink — statuses, index, quantizer, books,
    codes — must end byte-identical to the uncrashed loop's."""
    import mr_py_spark.streaming as streaming

    armed = []

    def crash(at):
        if armed and at == point:
            armed.clear()
            raise _Crash(at)

    def hooked(hook, before, done):
        def run(*args):
            crash(before)
            result = hook(*args)
            crash(done)
            return result

        return run

    real = streaming.maintenance_step

    def crashing_step(*args, triage, append, first_build, after=None, **kw):
        return real(
            *args,
            triage=hooked(triage, None, "stats"),
            append=hooked(append, "status", "admit"),
            first_build=hooked(first_build, "status", "admit"),
            after=after and hooked(after, None, "after"),
            **kw,
        )

    snap0, snap1 = loop_reference(kind)
    monkeypatch.setattr(streaming, "maintenance_step", crashing_step)
    step, _, (b0, b1), snapshot, tables = _loop_kind(spark, kind, str(tmp_path))
    try:
        for bid, (frame, want) in enumerate(((b0, snap0), (b1, snap1))):
            armed.append(True)
            with pytest.raises(_Crash):
                step(frame, bid)
            step(frame, bid)  # the replay
            assert snapshot() == want, (kind, point, bid)
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


#: per kind, the builders that derive a batch's index entries: banding
#: (LSH), flat cell assignment (IVF), and root + leaf assignment (hier)
_ENTRY_BUILDERS = {
    "lsh": (("dedup", "minhash_signatures"),),
    "ivf": (("similarity", "ivf_assign_with"),),
    "hier": (("similarity", "ivf_assign_with"), ("hier", "hier_assign")),
}


@pytest.mark.parametrize("kind", ["lsh", "ivf", "hier"])
def test_maintenance_step_builds_entries_once(spark, tmp_path, monkeypatch, kind):
    """A warm, non-gauge step derives the batch's index entries once, in
    triage: the append (and, for hier, the PQ-codes upkeep) writes those
    entries and never re-bands or re-assigns the admitted rows. The rows
    the step appends to the index are exactly the triage entries of the
    ids it marked 'new'."""
    import collections
    import importlib
    import os

    import mr_py_spark.streaming as streaming

    counts = collections.Counter()
    for mod_name, fn_name in _ENTRY_BUILDERS[kind]:
        mod = importlib.import_module(f"mr_py_spark.operators.{mod_name}")
        real_fn = getattr(mod, fn_name)

        def counted(*args, _real=real_fn, _name=fn_name, **kw):
            counts[_name] += 1
            return _real(*args, **kw)

        monkeypatch.setattr(mod, fn_name, counted)

    triaged = []
    real_step = streaming.maintenance_step

    def recording_step(*args, triage, **kw):
        def run(batch, ctx):
            out = triage(batch, ctx)
            triaged.append(out)
            return out

        return real_step(*args, triage=run, **kw)

    monkeypatch.setattr(streaming, "maintenance_step", recording_step)
    root = str(tmp_path)
    step, id_col, (b0, b1), _, tables = _loop_kind(spark, kind, root)
    idx = [t for t in tables if t.endswith("_idx")][0]

    def idx_rows():
        return collections.Counter(repr(tuple(r)) for r in spark.table(idx).collect())

    try:
        step(b0, 0)
        before = idx_rows()
        counts.clear()
        step(b1, 1)  # warm; check_every=8, so no gauge check at batch 1
        assert dict(counts) == {name: 1 for _, name in _ENTRY_BUILDERS[kind]}
        appended = idx_rows() - before
        new_ids = (
            spark.read.parquet(os.path.join(root, "out"))
            .filter((F.col("batch_id") == 1) & (F.col("status") == "new"))
            .select(id_col)
        )
        want = collections.Counter(
            repr(tuple(r))
            for r in triaged[-1][1]  # (status, entries)
            .join(new_ids, id_col, "left_semi")
            .select(*spark.table(idx).columns)
            .collect()
        )
        assert appended == want and sum(want.values()) > 0
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.parametrize("kind", ["lsh", "ivf", "hier"])
def test_maintenance_step_refuses_duplicate_ids(spark, tmp_path, kind):
    """A batch that repeats an id fails loudly — a ValueError naming the
    id column and the batch_id — before the step writes anything: on the
    first batch no table exists afterwards, on a warm batch every sink
    is unchanged. A null id is not a repeat: that row gets a status and
    is never admitted (the semi-join never matches null)."""
    import os

    root = str(tmp_path)
    step, id_col, (b0, b1), snapshot, tables = _loop_kind(spark, kind, root)
    try:
        dup0 = b0.unionByName(b0.limit(1))
        with pytest.raises(ValueError, match=rf"micro-batch 0: {id_col} is not unique"):
            step(dup0, 0)
        assert not any(spark.catalog.tableExists(t) for t in tables)
        assert os.listdir(os.path.join(root, "out")) == []
        step(b0, 0)
        snap0 = snapshot()
        with pytest.raises(ValueError, match=rf"micro-batch 1: {id_col} is not unique"):
            step(b1.unionByName(b1), 1)
        assert snapshot() == snap0
        null_id = b1.limit(1).withColumn(id_col, F.lit(None).cast("long"))
        step(b1.unionByName(null_id), 1)
        status = spark.read.parquet(os.path.join(root, "out"))
        assert status.filter(F.col(id_col).isNull()).count() == 1
        idx = [t for t in tables if t.endswith("_idx")][0]
        assert spark.table(idx).filter(F.col(id_col).isNull()).count() == 0
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_lsh_maintenance_reband_trips_once_and_replays(spark, tmp_path):
    """The text tier's gauge→actuator loop (r14, VERDICT r13 item 4):
    a standing index whose weak-similarity collision mass has grown
    past the cap is re-banded IN the maintenance loop — exactly once,
    at the scheduled check batch, to the next banding step — and the
    escalated index keeps answering probes (an exact twin still
    triages dup_of_corpus). Self-validating plant: the cap is chosen
    strictly between the MEASURED collision mass at 4 and 8 rows per
    band, so the test fails loudly if the planted corpus stops
    separating the bandings instead of passing vacuously. Replaying
    the tripping batch is a byte-level no-op (the gauge reads the
    pre-batch view at the CURRENT banding, which is already below the
    cap)."""
    import os

    from mr_py_spark.operators.bucketed import n_buckets
    from mr_py_spark.operators.dedup import (
        _LSH_INDEX_KEYS,
        lsh_band_entries,
        lsh_index_band_rows,
        lsh_occupancy_frame,
        minhash_delta_status,
        minhash_signatures,
    )
    from mr_py_spark.sources.sinks import write_bucketed
    from mr_py_spark.streaming import _lsh_maintenance_step

    # sliding 80-token windows (stride 5) over a stream of globally
    # unique tokens, plus one unique token per doc: neighbors share
    # most shingles (real overlap, no salt-collision structure), so
    # short bands collide far more than selective ones
    stream = [f"w{n}" for n in range(600)]
    docs = [
        (i, " ".join(stream[i * 5 : i * 5 + 80] + [f"u{i}"]))
        for i in range((600 - 80) // 5)
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    sig = minhash_signatures(corpus)
    mass = {
        r: float(
            lsh_occupancy_frame(lsh_band_entries(sig, r))
            .collect()[0]
            .collision_per_doc
        )
        for r in (4, 8)
    }
    assert mass[8] < mass[4], mass  # the plant must separate bandings
    cap = (mass[4] + mass[8]) / 2.0

    table = "mrps_test_stream_lsh_reband"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    out = str(tmp_path / "out")
    os.makedirs(out, exist_ok=True)
    write_bucketed(
        lsh_band_entries(sig), table, _LSH_INDEX_KEYS, n_buckets(spark),
        path=str(tmp_path / "index"),
    )
    log: list[int] = []
    step = _lsh_maintenance_step(
        spark, table, out, str(tmp_path / "index"),
        check_every=2, collision_cap=cap, actuation_log=log,
    )

    def snapshot():
        return (
            sorted(
                (r.doc_id, r.status, r.match_id, r.batch_id)
                for r in spark.read.parquet(out).collect()
            ),
            sorted(tuple(r) for r in spark.table(table).collect()),
        )

    novel = [
        (2000 + i, f"totally novel content {i} " + " ".join(f"n{i}_{j}" for j in range(30)))
        for i in range(3)
    ]
    try:
        step(spark.createDataFrame(novel[:1], "doc_id long, text string"), 0)
        step(spark.createDataFrame(novel[1:2], "doc_id long, text string"), 1)
        assert log == [] and lsh_index_band_rows(spark.table(table)) == 4
        # batch 2 is the scheduled check: fires exactly once
        step(spark.createDataFrame(novel[2:3], "doc_id long, text string"), 2)
        assert log == [2]
        assert lsh_index_band_rows(spark.table(table)) == 8
        after = float(
            lsh_occupancy_frame(spark.table(table))
            .collect()[0].collision_per_doc
        )
        assert after < cap
        snap2 = snapshot()
        # replay of the tripping batch: byte-identical, no second fire
        step(spark.createDataFrame(novel[2:3], "doc_id long, text string"), 2)
        assert snapshot() == snap2 and log == [2]
        # the next check batch stays quiet below the cap
        step(spark.createDataFrame(
            [(3000, "more novel " + " ".join(f"m{j}" for j in range(30)))],
            "doc_id long, text string"), 4)
        assert log == [2]
        # the escalated index still answers probes: an exact twin of a
        # planted doc triages dup_of_corpus (every banding preserves
        # full-signature agreement)
        probe = spark.createDataFrame(
            [(9_999_999, docs[0][1])], "doc_id long, text string"
        )
        st = minhash_delta_status(
            None, probe, corpus_bands=spark.table(table)
        ).collect()
        assert st[0].status == "dup_of_corpus" and st[0].match_id == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def _novel_docs(ids):
    return [
        (i, f"novel document {i} " + " ".join(f"t{i}_{j}" for j in range(30)))
        for i in ids
    ]


def test_lsh_maintenance_reband_crash_recovers(spark, tmp_path, monkeypatch):
    """A crash inside ``lsh_reband``'s two-phase swap is finished by the
    replay: seed 20 docs, send a batch of 5 whose gauge check trips
    (cap -1), fail the ``__old`` rename, then replay the batch. The
    loop's ``recover`` hook rolls the swap forward, so the index holds
    all 25 docs and the commit marker is gone (without it the replay
    saw no index table and rebuilt it from the 5 docs alone)."""
    import os

    from mr_py_spark.operators import bucketed
    from mr_py_spark.streaming import _lsh_maintenance_step

    table = "mrps_test_stream_lsh_reband_crash"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    idx_path = str(tmp_path / "index")
    out = str(tmp_path / "out")
    os.makedirs(out)
    step = _lsh_maintenance_step(
        spark, table, out, idx_path, check_every=1, collision_cap=-1.0
    )
    schema = "doc_id long, text string"
    real_replace = os.replace
    armed = []

    def failing_replace(src, dst, *a, **kw):
        if armed and str(dst).endswith("__old"):
            armed.clear()
            raise OSError("injected crash on the __old rename")
        return real_replace(src, dst, *a, **kw)

    try:
        step(spark.createDataFrame(_novel_docs(range(20)), schema), 0)
        batch = spark.createDataFrame(_novel_docs(range(100, 105)), schema)
        monkeypatch.setattr(bucketed.os, "replace", failing_replace)
        armed.append(True)
        with pytest.raises(OSError, match="injected"):
            step(batch, 1)
        assert os.path.exists(bucketed._commit_marker(idx_path))
        step(batch, 1)  # the replay
        ids = {
            r.doc_id
            for r in spark.table(table).filter(F.col("band_id") == 0).collect()
        }
        assert ids == set(range(20)) | set(range(100, 105))
        assert not os.path.exists(bucketed._commit_marker(idx_path))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_lsh_first_build_pins_the_gauge(spark, tmp_path, monkeypatch):
    """The LSH loop's first build pins the gauge record, byte-identical
    to the one the lazy bootstrap of ``lsh_gauge_stats`` writes, so the
    serving loop's gauge checks never pay the O(index) pass: with
    ``_lsh_gauge_full`` forbidden after the first build, a second batch
    whose gauge check runs (check_every=1) still goes through."""
    import os

    from mr_py_spark.operators import dedup
    from mr_py_spark.operators.bucketed import sidecar_path
    from mr_py_spark.streaming import _lsh_maintenance_step

    table = "mrps_test_stream_lsh_gauge_pin"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    out = str(tmp_path / "out")
    os.makedirs(out)
    checks = []
    real_stats = dedup.lsh_gauge_stats
    monkeypatch.setattr(
        dedup, "lsh_gauge_stats",
        lambda *a, **kw: checks.append(1) or real_stats(*a, **kw),
    )
    step = _lsh_maintenance_step(
        spark, table, out, str(tmp_path / "index"), check_every=1
    )
    schema = "doc_id long, text string"
    try:
        step(spark.createDataFrame(_novel_docs(range(20)), schema), 0)
        gauge = sidecar_path(spark, table, "gauge")
        with open(gauge, "rb") as f:
            pinned = f.read()
        os.remove(gauge)
        real_stats(spark, table)  # the lazy bootstrap
        with open(gauge, "rb") as f:
            assert f.read() == pinned

        def forbidden(bands):
            raise AssertionError("O(index) gauge pass in the serving loop")

        monkeypatch.setattr(dedup, "_lsh_gauge_full", forbidden)
        step(spark.createDataFrame(_novel_docs(range(100, 105)), schema), 1)
        assert checks == [1]  # batch 1 ran its gauge check
        assert real_stats(spark, table)["n_docs"] == 25
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ivf_maintenance_drift_triggers_one_retrain(spark, tmp_path):
    """The drift actuator (VERDICT r12 item 3): a planted-drift stream
    — batch 0 trains the quantizer on subspace A, batch 1 arrives from
    an orthogonal subspace B — triggers EXACTLY one in-loop retrain,
    the rebuilt quantizer actually covers the drifted region (batch 2,
    more of B, scores healthy and does NOT retrain again), and a replay
    of the retraining batch leaves statuses, index, and centroids
    byte-identical (the decision and the retrain corpus both use the
    pre-batch view)."""
    import os

    import numpy as np

    from mr_py_spark.streaming import _ivf_maintenance_step

    X = np.eye(60)
    vecs = [[float(x) for x in r] for r in X]
    cent_t, idx_t = "mrps_test_drift_cent", "mrps_test_drift_idx"
    spark.sql(f"DROP TABLE IF EXISTS {cent_t}")
    spark.sql(f"DROP TABLE IF EXISTS {idx_t}")
    out = str(tmp_path / "out")
    os.makedirs(out, exist_ok=True)
    log: list[int] = []
    step = _ivf_maintenance_step(
        spark, cent_t, idx_t, out,
        str(tmp_path / "cent"), str(tmp_path / "index"),
        check_every=1, actuation_log=log,
    )

    def snapshot():
        statuses = sorted(
            (r.vec_id, r.status, r.match_id, r.batch_id)
            for r in spark.read.parquet(out).collect()
        )
        index = sorted((r.vec_id, r.bucket) for r in spark.table(idx_t).collect())
        cents = sorted(tuple(r.cv) for r in spark.table(cent_t).collect())
        return statuses, index, cents

    try:
        # batch 0: subspace A (basis 0..19) trains the quantizer
        step(
            spark.createDataFrame(
                [(i, vecs[i]) for i in range(20)],
                "vec_id long, embedding array<double>",
            ),
            0,
        )
        assert log == []
        # batch 1: subspace B (basis 30..44) — top-1 sims vs the
        # A-trained centroids are ~0, p05 degrades -> retrain fires
        b1 = spark.createDataFrame(
            [(100 + i, vecs[30 + i]) for i in range(15)],
            "vec_id long, embedding array<double>",
        )
        # the same batch with a repeated id trips the gauge too, but is
        # refused before the retrain writes anything
        snap0 = snapshot()
        with pytest.raises(ValueError, match="micro-batch 1: vec_id is not unique"):
            step(b1.unionByName(b1.limit(1)), 1)
        assert log == [] and snapshot() == snap0
        step(b1, 1)
        assert log == [1]
        snap1 = snapshot()
        # the rebuilt quantizer covers B: some centroid has mass in
        # dims 30..44 (the retrain folded the tripping batch in)
        assert any(
            any(abs(c[d]) > 1e-9 for d in range(30, 45)) for c in snap1[2]
        )
        # batch 2: MORE of B — now in-distribution, no second retrain
        step(
            spark.createDataFrame(
                [(200 + i, vecs[35 + i]) for i in range(8)],
                "vec_id long, embedding array<double>",
            ),
            2,
        )
        assert log == [1]  # exactly one rebuild on the whole stream
        snap2 = snapshot()
        # replay of the RETRAINING batch (crash between index append
        # and checkpoint commit): the drift decision replays on the
        # pre-batch view, the retrain is deterministic, admission is
        # idempotent -> everything byte-identical
        step(b1, 1)
        assert snapshot() == snap2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {cent_t}")
        spark.sql(f"DROP TABLE IF EXISTS {idx_t}")


def test_ivf_maintenance_undrifted_never_retrains(spark, tmp_path):
    """The actuator must not fire on healthy data: an in-distribution
    stream (later batches are exact copies + same-subspace vectors)
    produces statuses BYTE-EQUAL to a loop running the pure
    never-retrain policy, and the retrain log stays empty."""
    import os

    import numpy as np

    from mr_py_spark.streaming import _ivf_maintenance_step

    X = np.eye(40)
    vecs = [[float(x) for x in r] for r in X]
    batches = [
        [(i, vecs[i]) for i in range(20)],
        # copies of indexed vectors + fresh same-subspace basis vecs:
        # their top-1 sims match the indexed cohort's, no degradation
        [(100, vecs[3]), (101, vecs[7]), (102, vecs[15]), (103, vecs[18])],
    ]
    results = {}
    for label, every in (("checked", 1), ("never", 0)):
        cent_t, idx_t = f"mrps_test_nodrift_cent_{label}", f"mrps_test_nodrift_idx_{label}"
        spark.sql(f"DROP TABLE IF EXISTS {cent_t}")
        spark.sql(f"DROP TABLE IF EXISTS {idx_t}")
        out = str(tmp_path / f"out_{label}")
        os.makedirs(out, exist_ok=True)
        log: list[int] = []
        step = _ivf_maintenance_step(
            spark, cent_t, idx_t, out,
            str(tmp_path / f"cent_{label}"), str(tmp_path / f"index_{label}"),
            check_every=every, actuation_log=log,
        )
        try:
            for bid, rows in enumerate(batches):
                step(
                    spark.createDataFrame(
                        rows, "vec_id long, embedding array<double>"
                    ),
                    bid,
                )
            assert log == []
            results[label] = sorted(
                (r.vec_id, r.status, r.match_id, r.batch_id)
                for r in spark.read.parquet(out).collect()
            )
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {cent_t}")
            spark.sql(f"DROP TABLE IF EXISTS {idx_t}")
    assert results["checked"] == results["never"] and len(results["checked"]) == 24


def test_hier_maintenance_drift_retrains_once_and_replays(spark, tmp_path):
    """Planted drift through the two-level loop: a subspace-B batch
    trips the root-level p05 rule exactly once, the three-table
    rebuild covers B (follow-up B data is in-distribution — no second
    retrain), and a replay of the RETRAINING batch leaves statuses,
    the inverted file, and both quantizer tables byte-identical."""
    import os

    import numpy as np

    from mr_py_spark.streaming import _hier_maintenance_step

    X = np.eye(60)
    vecs = [[float(x) for x in r] for r in X]
    root_t, leaf_t, idx_t = (
        "mrps_test_hdrift_root", "mrps_test_hdrift_leaf", "mrps_test_hdrift_idx"
    )
    for t in (root_t, leaf_t, idx_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    out = str(tmp_path / "out")
    os.makedirs(out, exist_ok=True)
    log: list[int] = []
    step = _hier_maintenance_step(
        spark, root_t, leaf_t, idx_t, out,
        str(tmp_path / "root"), str(tmp_path / "leaf"),
        str(tmp_path / "index"),
        check_every=1, actuation_log=log, root_rows=4, leaf_rows=2,
    )

    def snapshot():
        return (
            sorted(
                (r.vec_id, r.status, r.match_id, r.batch_id)
                for r in spark.read.parquet(out).collect()
            ),
            sorted(
                (r.vec_id, r.bucket, r.leaf)
                for r in spark.table(idx_t).collect()
            ),
            sorted(tuple(r.cv) for r in spark.table(root_t).collect()),
            sorted(
                (r.bucket, r.leaf, tuple(r.lv))
                for r in spark.table(leaf_t).collect()
            ),
        )

    try:
        step(
            spark.createDataFrame(
                [(i, vecs[i]) for i in range(20)],
                "vec_id long, embedding array<double>",
            ),
            0,
        )
        assert log == []
        b1 = spark.createDataFrame(
            [(100 + i, vecs[30 + i]) for i in range(15)],
            "vec_id long, embedding array<double>",
        )
        step(b1, 1)
        assert log == [1]
        snap1 = snapshot()
        # the rebuilt ROOTS cover subspace B
        assert any(
            any(abs(c[d]) > 1e-9 for d in range(30, 45)) for c in snap1[2]
        )
        step(
            spark.createDataFrame(
                [(200 + i, vecs[35 + i]) for i in range(8)],
                "vec_id long, embedding array<double>",
            ),
            2,
        )
        assert log == [1]  # exactly one rebuild on the whole stream
        snap2 = snapshot()
        step(b1, 1)  # replay of the retraining batch
        assert snapshot() == snap2
    finally:
        for t in (root_t, leaf_t, idx_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_hier_maintenance_fixture_drain(spark):
    """Registered-query drain on the fixture: one status per embedding,
    statuses in the enum, deterministic across two drains."""
    from mr_py_spark.registry import load_all

    reg = load_all()
    q = reg["stream_hier_index_maintenance"]
    out1 = {
        r.vec_id: (r.status, r.match_id)
        for r in q.fn(spark, SF_DIR).collect()
    }
    n = tbl(spark, SF_DIR, "embeddings").count()
    assert len(out1) == n
    assert {s for s, _ in out1.values()} <= {
        "new", "dup_within_delta", "dup_of_corpus"
    }
    out2 = {
        r.vec_id: (r.status, r.match_id)
        for r in q.fn(spark, SF_DIR).collect()
    }
    assert out1 == out2


def test_hier_maintenance_bootstrap_crash_between_quantizer_writes(
    spark, tmp_path
):
    """The two-level bootstrap has a crash window the flat loop lacks:
    die between the root write and the leaf write, and the replayed
    batch must rebuild the leaf table from the persisted roots and
    finish — byte-identical to a loop that never crashed (roots train
    deterministically on the same batch, so the crash state IS a
    prefix of the uncrashed run)."""
    import os

    import numpy as np

    from mr_py_spark.operators.bucketed import n_buckets
    from mr_py_spark.operators.hier import _hier_nroot
    from mr_py_spark.operators.similarity import _ivf_centroids, centroid_frame
    from mr_py_spark.sources.sinks import write_bucketed
    from mr_py_spark.streaming import _hier_maintenance_step

    X = np.eye(30)
    rows_b0 = [
        (i, [float(x) for x in X[i]]) for i in range(15)
    ]
    b0 = spark.createDataFrame(rows_b0, "vec_id long, embedding array<double>")
    batch = b0.selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")

    snaps = {}
    for label, pre_crash in (("clean", False), ("crashed", True)):
        root_t, leaf_t, idx_t = (
            f"mrps_test_hboot_root_{label}",
            f"mrps_test_hboot_leaf_{label}",
            f"mrps_test_hboot_idx_{label}",
        )
        for t in (root_t, leaf_t, idx_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        out = str(tmp_path / f"out_{label}")
        os.makedirs(out, exist_ok=True)
        if pre_crash:
            # reproduce exactly the bootstrap's root write, then "die"
            cents = _ivf_centroids(spark, batch, _hier_nroot(batch.count(), 4))
            write_bucketed(
                centroid_frame(spark, cents), root_t, "cid", n_buckets(spark),
                path=str(tmp_path / f"root_{label}"),
            )
        step = _hier_maintenance_step(
            spark, root_t, leaf_t, idx_t, out,
            str(tmp_path / f"root_{label}"), str(tmp_path / f"leaf_{label}"),
            str(tmp_path / f"index_{label}"),
            root_rows=4, leaf_rows=2,
        )
        try:
            step(b0, 0)
            snaps[label] = (
                sorted(
                    (r.vec_id, r.status, r.match_id, r.batch_id)
                    for r in spark.read.parquet(out).collect()
                ),
                sorted(
                    (r.vec_id, r.bucket, r.leaf)
                    for r in spark.table(idx_t).collect()
                ),
                sorted(tuple(r.cv) for r in spark.table(root_t).collect()),
                sorted(
                    (r.bucket, r.leaf, tuple(r.lv))
                    for r in spark.table(leaf_t).collect()
                ),
            )
        finally:
            for t in (root_t, leaf_t, idx_t):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
    assert snaps["crashed"] == snaps["clean"]
    assert len(snaps["clean"][0]) == 15


def test_hier_pq_codes_loop_replay_and_generation_self_heal(spark, tmp_path):
    """r16 (VERDICT r15 item 7): the codes-maintaining hier loop. Per
    batch the standing PQ-code table stays row-identical (codes
    included) to a one-pass encode of the live index under the stored
    books; a replayed batch admits nothing (codes-table watermark);
    books train once and never move; and a retrain whose codes
    re-encode never ran (the crash window between the three-table swap
    and the re-encode, simulated by retraining the tables OUTSIDE the
    step) is repaired by the next step entry's generation self-heal —
    the root-hash sidecar mismatch triggers the crash-atomic
    re-encode before anything reads or appends."""
    import os

    import numpy as np

    from mr_py_spark.operators.hier import (
        _books_array,
        _pq_encode_frame,
        hier_retrain,
    )
    from mr_py_spark.streaming import (
        _codes_gen_read,
        _hier_maintenance_step,
        _root_gen_hash,
    )

    X = np.eye(40)
    vecs = [[float(x) for x in r] for r in X]
    root_t, leaf_t, idx_t, codes_t, books_t = (
        "mrps_test_hpq_root", "mrps_test_hpq_leaf", "mrps_test_hpq_idx",
        "mrps_test_hpq_codes", "mrps_test_hpq_books",
    )
    for t in (root_t, leaf_t, idx_t, codes_t, books_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    out = str(tmp_path / "out")
    os.makedirs(out, exist_ok=True)
    codes_path = str(tmp_path / "codes")
    step = _hier_maintenance_step(
        spark, root_t, leaf_t, idx_t, out,
        str(tmp_path / "root"), str(tmp_path / "leaf"),
        str(tmp_path / "index"),
        root_rows=4, leaf_rows=2,
        codes_table=codes_t, codes_path=codes_path,
        books_table=books_t, books_path=str(tmp_path / "books"),
    )

    def codes_snapshot():
        return sorted(
            (r.vec_id, r.bucket, r.leaf, tuple(r.code))
            for r in spark.table(codes_t).collect()
        )

    def full_encode():
        return sorted(
            (r.vec_id, r.bucket, r.leaf, tuple(r.code))
            for r in _pq_encode_frame(
                spark.table(idx_t).select("vec_id", "bucket", "leaf", "v"),
                _books_array(spark.table(books_t)),
            ).collect()
        )

    def books_snapshot():
        return sorted(
            (r.mi, r.ki, tuple(r.sub)) for r in spark.table(books_t).collect()
        )

    b0 = spark.createDataFrame(
        [(i, vecs[i]) for i in range(20)] + [(100, vecs[3])],
        "vec_id long, embedding array<double>",
    )
    b1 = spark.createDataFrame(
        [(200, vecs[25]), (201, vecs[26])],
        "vec_id long, embedding array<double>",
    )
    try:
        step(b0, 0)
        books0 = books_snapshot()
        assert codes_snapshot() == full_encode()
        idx_ids = {r.vec_id for r in spark.table(idx_t).collect()}
        assert {c[0] for c in codes_snapshot()} == idx_ids
        step(b1, 1)
        snap1 = codes_snapshot()
        assert snap1 == full_encode()
        assert {c[0] for c in snap1} >= {200, 201}
        assert books_snapshot() == books0  # books train once, never move
        step(b1, 1)  # replay: codes watermark admits nothing
        assert codes_snapshot() == snap1
        # crash window: a retrain swapped the three index tables but
        # died before the codes re-encode — codes still carry the OLD
        # generation's (bucket, leaf)
        hier_retrain(spark, root_t, leaf_t, idx_t, root_rows=4, leaf_rows=2)
        assert _codes_gen_read(spark, codes_t) != _root_gen_hash(spark, root_t)
        stale = codes_snapshot()
        assert stale != full_encode()  # demonstrably stale
        b2 = spark.createDataFrame(
            [(300, vecs[30])], "vec_id long, embedding array<double>"
        )
        step(b2, 2)  # entry self-heal re-encodes, then admits the batch
        assert _codes_gen_read(spark, codes_t) == _root_gen_hash(spark, root_t)
        assert codes_snapshot() == full_encode()
        assert 300 in {c[0] for c in codes_snapshot()}
        assert books_snapshot() == books0
    finally:
        for t in (root_t, leaf_t, idx_t, codes_t, books_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
