"""The workloads: set-up, one timed op, and the output check of each.

Every workload calls the package only through its entry points: the
registered query function ``knn_hier_pq_topk_indexed`` and the streaming
step factory ``streaming._lsh_maintenance_step``, whose step runs
unchanged under ``foreachBatch``. An op reports its phases through ``tracer.phase``:
``build`` is DataFrame construction (for the hier build it includes the
eager index build), ``exec`` is the Spark action.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import fixtures

def dir_usage(*roots: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``roots``."""
    files = size = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in names:
                try:
                    size += os.path.getsize(os.path.join(dirpath, n))
                    files += 1
                except OSError:
                    pass
    return files, size


class Op:
    """One timed op: phase walls (seconds) plus workload-specific counts."""

    def __init__(self):
        self.phases: dict[str, float] = {}
        self.extra: dict[str, float] = {}


class LshStream:
    """Warm standing-index maintenance: the production LSH step behind a
    file stream (``maxFilesPerTrigger=1``), one fixed-size batch file of
    seed-permuted mutated documents per op."""

    name = "lsh_stream_sf1mut"
    #: the step factory is called directly, as tests/test_streaming_sink.py
    #: does, so the run never loads the query registry
    uses_registry = False
    #: timed batches per run; the run's window is far shorter than five
    #: batches, so the count does not depend on how fast they run
    min_ops = 5

    def __init__(self, ctx):
        from mr_py_spark.streaming import _lsh_maintenance_step

        self.ctx, self.spark = ctx, ctx.spark
        sizes = ctx.sizes["lsh"]
        self.seed_docs, self.batch = sizes["seed"], sizes["batch"]
        corpus = pq.read_table(os.path.join(ctx.fixture(), "documents.parquet"))
        perm = np.random.default_rng(ctx.seed).permutation(corpus.num_rows)
        self.corpus = corpus.take(pa.array(perm))
        self.base_n = corpus.num_rows // fixtures.MUT_FACTOR  # copy c of d: c * base_n + d
        self.next_row = 0
        self.batch_no = 0
        root = os.path.join(ctx.tmp, "lsh")
        self.feed = os.path.join(root, "feed")
        self.stage = os.path.join(root, "stage")
        self.out = os.path.join(root, "status")
        self.idx = os.path.join(root, "index")
        os.makedirs(self.feed)
        os.makedirs(self.stage)
        self.table = "perfbench_lsh_idx"
        step = _lsh_maintenance_step(self.spark, self.table, self.out, self.idx)
        #: wall seconds of the production step, by batch id
        self.step_wall: dict[int, float] = {}

        def timed_step(batch_df, batch_id):
            t0 = time.perf_counter()
            step(batch_df, batch_id)
            self.step_wall[int(batch_id)] = time.perf_counter() - t0

        self.query = (
            self.spark.readStream.schema("doc_id long, text string")
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(self.feed)
            .writeStream.foreachBatch(timed_step)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .start()
        )
        # batch 0 seeds the standing index (its first build)
        self._stage(self.seed_docs)
        self._publish()

    def _stage(self, n: int) -> None:
        part = self.corpus.slice(self.next_row, n).select(["doc_id", "text"])
        self.next_row += n
        self.staged = f"b{self.batch_no:05d}.parquet"
        pq.write_table(part, os.path.join(self.stage, self.staged))

    def _publish(self) -> int:
        """Move the staged batch file into the feed and drain the stream;
        returns the file's size."""
        src = os.path.join(self.stage, self.staged)
        size = os.path.getsize(src)
        os.replace(src, os.path.join(self.feed, self.staged))
        self.batch_no += 1
        self.query.processAllAvailable()
        return size

    def warm_up(self) -> None:
        # Batch latency falls over the first batches while the JVM
        # compiles. Three warm-up batches (ids 1-3) leave ids 4-8 timed;
        # batch 8 runs the step's re-band gauge check (every 8th id).
        for _ in range(self.ctx.sizes["lsh"]["warm_batches"]):
            self._stage(self.batch)
            self._publish()

    def prepare(self) -> None:
        self._stage(self.batch)
        self.before = dir_usage(self.out, self.idx)

    def op(self, tracer) -> Op:
        res = Op()
        batch_id = self.batch_no
        with tracer.stream_phase(res, self.query):
            size = self._publish()
        res.phases["exec"] = self.step_wall[batch_id]
        res.phases["build"] = res.phases["op"] - res.phases["exec"]
        res.extra.update(batch_id=batch_id, batch_docs=self.batch, input_bytes=size)
        return res

    def account(self, res: Op) -> None:
        """Storage counts of a finished op, taken outside its timing."""
        after = dir_usage(self.out, self.idx)
        idx_files, idx_bytes = dir_usage(self.idx)
        res.extra.update(
            files_written=after[0] - self.before[0],
            stored_bytes=after[1] - self.before[1],
            index_files=idx_files,
            index_bytes=idx_bytes,
        )

    def check(self) -> dict:
        streamed = self.corpus.slice(0, self.next_row)
        ids = streamed.column("doc_id").to_numpy()
        copies = ids // self.base_n
        n_light = fixtures.gen_sf()._N_LIGHT
        st = self.spark.read.parquet(self.out).select("doc_id", "status").toPandas()
        one_each = len(st) == len(ids) and set(st.doc_id.tolist()) == set(ids.tolist())
        status = dict(zip(st.doc_id.tolist(), st.status.tolist()))
        new_ids = {d for d, s in status.items() if s == "new"}
        idx_ids = {
            r.doc_id
            for r in self.spark.table(self.table).select("doc_id").distinct().collect()
        }
        # Planted near-duplicates: a light copy whose base or another light
        # copy arrived in an earlier batch, or earlier (lower id) in its own
        # batch, should not come out 'new'.
        seen: set[int] = set()
        planted = caught = 0
        start = 0
        for size in [self.seed_docs] + [self.batch] * (self.batch_no - 1):
            rows = sorted(range(start, start + size), key=lambda r: ids[r])
            start += size
            in_batch: set[int] = set()
            for r in rows:
                if copies[r] > n_light:
                    continue
                base = int(ids[r]) % self.base_n
                if copies[r] >= 1 and (base in seen or base in in_batch):
                    planted += 1
                    caught += status.get(int(ids[r])) != "new"
                in_batch.add(base)
            seen |= in_batch
        return {
            "ok": bool(one_each and idx_ids == new_ids),
            "one_status_per_doc": bool(one_each),
            "index_equals_seeded_plus_new": idx_ids == new_ids,
            "streamed_docs": int(len(ids)),
            "planted_near_dups": planted,
            "catch_rate": caught / planted if planted else None,
        }

    def close(self) -> None:
        self.query.stop()


class HierBuild:
    """Cold hier + PQ index build and the first ANN answer
    (``knn_hier_pq_topk_indexed``) on a fresh snapshot path per op; the
    package keys its index cache by path. The seed permutes row order."""

    name = "hier_build_sf1mut"
    uses_registry = True
    #: timed builds per run (the run's window is far shorter than a build)
    min_ops = 1

    def __init__(self, ctx):
        self.ctx, self.spark, self.reg = ctx, ctx.spark, ctx.reg
        self.emb = pq.read_table(os.path.join(ctx.fixture(), "embeddings.parquet"))
        self.root = os.path.join(ctx.tmp, "hier")
        self.cache = os.path.join(ctx.tmp, "spark_graft_bucketed")
        self.snap_no = 0
        self.rows: list = []

    def prepare(self, key: str = "vectors") -> None:
        """Write the next snapshot, ``sizes["hier"][key]`` vectors in a
        seed-permuted row order, at a fresh path. The snapshot holds every
        copy of its first base vectors: base rows (the 50 query ids among
        them), near-duplicates and distinct rows in the corpus's
        proportions."""
        rows = self.ctx.sizes["hier"][key]
        base = self.emb.column("vec_id").to_numpy() % (self.emb.num_rows // fixtures.MUT_FACTOR)
        table = self.emb.filter(pa.array(base < rows // fixtures.MUT_FACTOR))
        rng = np.random.default_rng([self.ctx.seed, self.snap_no])
        self.path = os.path.join(self.root, f"snap{self.snap_no:03d}")
        self.snap_no += 1
        os.makedirs(self.path)
        self.snap_file = os.path.join(self.path, "embeddings.parquet")
        pq.write_table(table.take(pa.array(rng.permutation(table.num_rows))), self.snap_file)
        self.before = dir_usage(self.cache)

    def op(self, tracer) -> Op:
        res = Op()
        with tracer.phase(res, "build"):
            df = self.reg["knn_hier_pq_topk_indexed"].fn(self.spark, self.path)
        with tracer.phase(res, "exec"):
            self.rows = df.collect()
        return res

    def account(self, res: Op) -> None:
        """Storage counts of a finished op, taken outside its timing."""
        files, size = dir_usage(self.cache)
        res.extra.update(
            input_bytes=os.path.getsize(self.snap_file),
            files_written=files - self.before[0],
            stored_bytes=size - self.before[1],
            index_files=files - self.before[0],
            index_bytes=size - self.before[1],
        )

    def warm_up(self) -> None:
        # A first build in a fresh JVM is mostly JIT compilation and swung
        # 25-49 s with other load on the machine; a small build compiles
        # the same code paths, so the timed build runs warm.
        self.prepare("warm_vectors")
        self.op(self.ctx.null_tracer)

    def check(self) -> dict:
        t = pq.read_table(self.snap_file)
        ids = t.column("vec_id").to_numpy()
        x = np.asarray(t.column("embedding").combine_chunks().flatten(), dtype=np.float64)
        x = x.reshape(len(ids), -1)
        q = np.flatnonzero(ids < 50)
        sims = x[q] @ x.T
        sims[np.arange(len(q)), q] = -np.inf  # the oracle excludes self
        brute = set()
        for qi, row in zip(ids[q], sims):
            top = np.lexsort((ids, -row))[:5]  # sim desc, id asc
            brute |= {(int(qi), int(ids[j])) for j in top}
        got = {(int(r.q_id), int(r.nn_id)) for r in self.rows}
        rec = len(brute & got) / len(brute)
        full = len(self.rows) == len(q) * 5 and len({r.q_id for r in self.rows}) == len(q)
        # 0.5: the recall floor tests/test_properties.py asserts for this query
        return {
            "ok": bool(full and rec >= 0.5),
            "recall_at_5": rec,
            "recall_floor": 0.5,
            "probes": int(len(q)),
            "full_top5": bool(full),
        }

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (LshStream, HierBuild)}
