"""The table-sidecar rule: every per-generation metadata record of a
standing table (replay watermark, LSH banding, LSH gauge, drift
reference, PQ codes generation) is an ``_<name>.json`` file inside the
table's data directory, read and written only through
``bucketed.sidecar_read_json`` / ``bucketed.sidecar_write_json``.

Per kind: the record survives an append, is gone after an in-place
overwrite and after a ``replace_bucketed_table`` swap, a torn or
key-less record re-derives the exact value, and an I/O error on an
existing record propagates instead of reading as "absent"."""
from __future__ import annotations

import builtins
import errno
import json
import os

import numpy as np
import pytest

from mr_py_spark.operators import bucketed as bk
from mr_py_spark.sources.sinks import write_bucketed


def _vecs(spark, ids):
    rng = np.random.RandomState(5)
    rows = []
    for i in ids:
        v = np.eye(8)[i % 8] + 0.05 * rng.standard_normal(8)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(40))) for i in ids],
        "doc_id long, text string",
    )


class _Table:
    """A standing bucketed table of one kind plus its sidecar's
    production writer (``produce``), its production reader that
    re-derives on a missing record (``rederive``), the exact value that
    re-derive must land on (``expected``) and a function returning
    fresh rows of the table's schema (``frame``; an overwrite may not
    read its own target)."""

    def __init__(self, spark, tmp_path, kind):
        self.spark, self.kind = spark, kind
        self.table = f"t_sidecar_{kind}"
        self.path = str(tmp_path / "idx")
        spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        getattr(self, f"_setup_{kind}")(tmp_path)

    def write(self, ids, mode="overwrite"):
        write_bucketed(
            self.frame(ids), self.table, self.key, bk.n_buckets(self.spark),
            mode=mode,
            path=self.path if mode == "overwrite" else None,
        )

    def sidecar(self):
        return bk.sidecar_path(self.spark, self.table, self.name)

    def record(self):
        with open(self.sidecar()) as f:
            return json.load(f)

    # -- kinds -----------------------------------------------------------

    def _setup_rwm(self, tmp_path):
        spark = self.spark
        self.name, self.key = "rwm", "vec_id"
        self.frame = lambda ids: spark.createDataFrame(
            [(i, i * 10) for i in ids], "vec_id long, x long"
        )
        self.write(range(10))
        batch = self.frame([10, 11, 12])

        def produce():
            bk.replay_guard(spark, self.table, batch, "vec_id")

        self.produce = self.rederive = produce
        self.read = lambda: bk.replay_guard(
            spark, self.table, batch, "vec_id", minmax=(10, 12)
        )
        self.expected = {"wm": 12}

    def _lsh_table(self):
        from mr_py_spark.operators.dedup import (
            _LSH_INDEX_KEYS,
            lsh_band_entries,
            minhash_signatures,
        )

        spark = self.spark
        self.key = _LSH_INDEX_KEYS
        # 8 rows per band, not the build default 4: the re-derive must
        # read the banding off the table, not fall back to the default
        self.frame = lambda ids: lsh_band_entries(
            minhash_signatures(_docs(spark, ids)), 8
        )
        self.write(range(12))

    def _setup_banding(self, tmp_path):
        from mr_py_spark.operators.dedup import lsh_table_band_rows

        self.name = "banding"
        self._lsh_table()
        self.produce = self.rederive = self.read = lambda: lsh_table_band_rows(
            self.spark, self.table
        )
        self.expected = {"band_rows": 8}

    def _setup_gauge(self, tmp_path):
        from mr_py_spark.operators.dedup import _lsh_gauge_full, lsh_gauge_stats

        self.name = "gauge"
        self._lsh_table()
        mass, nd, mx = _lsh_gauge_full(self.spark.table(self.table))
        self.produce = self.rederive = self.read = lambda: lsh_gauge_stats(
            self.spark, self.table
        )
        self.expected = {
            "mass": mass, "n_docs": nd, "prev_mass": mass,
            "prev_n_docs": nd, "bump_wm": mx,
        }

    def _setup_drift_ref(self, tmp_path):
        from mr_py_spark.operators.similarity import (
            _drift_ref_compute,
            drift_ref_stats,
            ivf_assign_with,
            pin_drift_ref,
        )

        spark = self.spark
        self.name, self.key = "drift_ref", "bucket"
        cent = spark.createDataFrame(
            [(c, [float(x) for x in np.eye(8)[c]]) for c in range(4)],
            "cid long, cv array<double>",
        )
        self.frame = lambda ids: ivf_assign_with(cent, _vecs(spark, ids))
        self.write(range(24))
        self.produce = lambda: pin_drift_ref(spark, cent, self.table)
        self.rederive = lambda: drift_ref_stats(
            spark, cent, self.table, spark.table(self.table)
        )
        self.read = lambda: drift_ref_stats(spark, cent, self.table, None)
        self.expected = _drift_ref_compute(
            cent, spark.table(self.table).select("vec_id", "bucket", "v")
        )

    def _setup_codes_gen(self, tmp_path):
        from mr_py_spark.streaming import (
            _codes_gen_read,
            _hier_maintenance_step,
            _root_gen_hash,
        )

        spark = self.spark
        self.name, self.key = "codes_gen", ("bucket", "leaf")
        self.tables = tuple(
            f"t_sidecar_cg_{t}" for t in ("root", "leaf", "idx", "books")
        )
        root_t, leaf_t, idx_t, books_t = self.tables
        for t in self.tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        out = str(tmp_path / "out")
        os.makedirs(out)
        step = _hier_maintenance_step(
            spark, root_t, leaf_t, idx_t, out,
            str(tmp_path / "root"), str(tmp_path / "leaf"),
            str(tmp_path / "index"), root_rows=4, leaf_rows=2,
            codes_table=self.table, codes_path=self.path,
            books_table=books_t, books_path=str(tmp_path / "books"),
        )
        b0 = _vecs(spark, range(16)).withColumnRenamed("v", "embedding")
        step(b0, 0)  # builds the tables and stamps the codes generation
        codes = [tuple(r) for r in spark.table(self.table).collect()]
        schema = spark.table(self.table).schema
        self.frame = lambda ids: spark.createDataFrame(codes, schema)
        self.produce = lambda: step(b0, 0)
        # a replay's entry self-heal re-encodes on a generation mismatch
        self.rederive = lambda: step(b0, 0)
        self.read = lambda: _codes_gen_read(spark, self.table)
        self.expected = {"root_gen": _root_gen_hash(spark, root_t)}

    def drop(self):
        for t in (self.table,) + getattr(self, "tables", ()):
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")


_KINDS = ("rwm", "banding", "gauge", "drift_ref", "codes_gen")


@pytest.mark.parametrize("kind", _KINDS)
def test_sidecar_lives_and_dies_with_its_generation(
    spark, tmp_path, monkeypatch, kind
):
    """The module docstring's four properties, for one record kind."""
    t = _Table(spark, tmp_path, kind)
    try:
        t.produce()
        side = t.sidecar()
        assert os.path.samefile(os.path.dirname(side), t.path)
        assert os.path.basename(side) == f"_{kind}.json"
        assert t.record() == t.expected

        # torn and key-less records re-derive the exact value
        for bad in ('{"', "{}"):
            with open(side, "w") as f:
                f.write(bad)
            t.rederive()
            assert t.record() == t.expected, bad

        # a transient I/O error on an existing record propagates
        real_open = builtins.open

        def failing_open(file, *args, **kwargs):
            if isinstance(file, (str, os.PathLike)) and os.fspath(file) == side:
                raise OSError(errno.EIO, "injected I/O error", side)
            return real_open(file, *args, **kwargs)

        monkeypatch.setattr(builtins, "open", failing_open)
        with pytest.raises(OSError) as err:
            t.read()
        assert err.value.errno == errno.EIO
        monkeypatch.setattr(builtins, "open", real_open)

        # an append leaves the record in place
        t.write(range(100, 103), mode="append")
        assert t.record() == t.expected

        # an in-place overwrite (no rmtree first) clears it
        t.write(range(10))
        assert not os.path.exists(side)

        # ... and so does the crash-atomic two-phase swap
        t.produce()
        assert os.path.exists(side)
        bk.replace_bucketed_table(spark, t.table, t.frame(range(10)), t.key)
        assert not os.path.exists(side)
    finally:
        t.drop()


def test_unreadable_commit_marker_fails_loudly(spark, tmp_path):
    """A commit marker that exists but cannot be parsed means a swap IS
    in flight: recovery must refuse, not read it as "no swap"."""
    path = str(tmp_path / "t")
    marker = bk._commit_marker(path)
    with open(marker, "w") as f:
        f.write('{"table": ')
    with pytest.raises(RuntimeError, match="unreadable commit marker"):
        bk.recover_compaction(spark, path)
    assert os.path.exists(marker)
    os.remove(marker)
    assert bk.recover_compaction(spark, path) is False


def test_every_sidecar_write_goes_through_the_one_writer(
    spark, tmp_path, monkeypatch
):
    """Run a two-batch LSH stream, one hier+codes loop batch and
    ``pin_drift_ref`` with the writer instrumented: all five record
    kinds are written through ``sidecar_write_json`` and no temporary
    file is left behind in any table directory."""
    from mr_py_spark.operators.similarity import pin_drift_ref
    from mr_py_spark.streaming import (
        _hier_maintenance_step,
        _lsh_maintenance_step,
    )

    written = []
    real = bk.sidecar_write_json

    def recording(path, payload):
        written.append(os.path.basename(path))
        real(path, payload)

    monkeypatch.setattr(bk, "sidecar_write_json", recording)
    lsh_t = "t_one_writer_lsh"
    hier = tuple(
        f"t_one_writer_{t}" for t in ("root", "leaf", "idx", "codes", "books")
    )
    for t in (lsh_t,) + hier:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        os.makedirs(tmp_path / "lsh_out")
        lsh = _lsh_maintenance_step(
            spark, lsh_t, str(tmp_path / "lsh_out"), str(tmp_path / "lsh"),
            check_every=1,
        )
        lsh(_docs(spark, range(6)), 0)
        lsh(_docs(spark, range(6, 9)), 1)
        os.makedirs(tmp_path / "hier_out")
        step = _hier_maintenance_step(
            spark, *hier[:3], str(tmp_path / "hier_out"),
            *(str(tmp_path / d) for d in ("root", "leaf", "index")),
            root_rows=4, leaf_rows=2,
            codes_table=hier[3], codes_path=str(tmp_path / "codes"),
            books_table=hier[4], books_path=str(tmp_path / "books"),
        )
        step(_vecs(spark, range(16)).withColumnRenamed("v", "embedding"), 0)
        pin_drift_ref(spark, spark.table(hier[0]), hier[2])
        assert {f"_{k}.json" for k in _KINDS} <= set(written), written
        leftovers = [
            os.path.join(d, f)
            for d, _, files in os.walk(tmp_path)
            for f in files
            if ".tmp" in f
        ]
        assert leftovers == []
    finally:
        for t in (lsh_t,) + hier:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
