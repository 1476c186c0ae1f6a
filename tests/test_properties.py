"""Property tests for operators without a SQL oracle (SURVEY.md §5.4):
approximation quality, determinism, recall against exact baselines,
and planted-near-duplicate recovery (FIXTURES.md documents ~4% shared
80-char prefixes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mr_py_spark.registry import load_all
from tests.conftest import SF_DIR

REG = load_all()


def rows(spark, name):
    return REG[name].fn(spark, SF_DIR).collect()


def test_approx_distinct_within_rsd(spark):
    for r in rows(spark, "approx_distinct"):
        assert abs(r.approx_users - r.exact_users) <= max(3, 0.1 * r.exact_users)


def test_sample_seeded_deterministic(spark):
    a = {(r.which, r.n) for r in rows(spark, "sample_seeded")}
    b = {(r.which, r.n) for r in rows(spark, "sample_seeded")}
    assert a == b
    n_events = REG["distinct_agg"].fn(spark, SF_DIR).agg(F.sum("n_events")).collect()[0][0]
    plain = next(n for w, n in a if w == "plain")
    assert 0.05 * n_events <= plain <= 0.15 * n_events  # fraction=0.1


def test_shuffle_random_is_permutation_and_stable(spark):
    a = [r.o_orderkey for r in rows(spark, "shuffle_random")]
    b = [r.o_orderkey for r in rows(spark, "shuffle_random")]
    assert a == b  # seeded
    assert len(set(a)) == len(a) == 100


def _planted_pairs(spark):
    """Ground-truth near-dup pairs: docs sharing an 80-char prefix."""
    from mr_py_spark.sources import tbl

    docs = tbl(spark, SF_DIR, "documents").select(
        "doc_id", F.substring("text", 1, 80).alias("pre")
    )
    a, b = docs.alias("a"), docs.alias("b")
    return {
        (r.da, r.db)
        for r in a.join(
            b, (F.col("a.pre") == F.col("b.pre")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .collect()
    }


def test_minhash_recalls_planted_dups(spark):
    planted = _planted_pairs(spark)
    assert planted, "fixture should contain planted near-dups"
    found = {(r.doc_a, r.doc_b) for r in rows(spark, "dedup_minhash")}
    recall = len(planted & found) / len(planted)
    assert recall >= 0.8, f"minhash recall {recall:.2f} over {len(planted)} planted pairs"


def test_minhash_estimate_tracks_exact_jaccard(spark):
    est = {(r.doc_a, r.doc_b): r.jaccard_est for r in rows(spark, "dedup_minhash")}
    # exact word-set jaccard for the same pairs
    from mr_py_spark.functions import words
    from mr_py_spark.sources import tbl

    docs = tbl(spark, SF_DIR, "documents").select(
        "doc_id", F.array_distinct(words(F.lower("text"))).alias("ws")
    )
    a, b = docs.alias("a"), docs.alias("b")
    exact = {
        (r.da, r.db): r.j
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            (
                F.size(F.array_intersect("a.ws", "b.ws"))
                / F.size(F.array_union("a.ws", "b.ws"))
            ).alias("j"),
        )
        .collect()
    }
    errs = [abs(est[p] - exact[p]) for p in est if p in exact]
    assert errs and sum(errs) / len(errs) < 0.3


def test_simhash_planted_dups_close(spark):
    import itertools

    sh = {r.doc_id: r.simhash64 for r in rows(spark, "dedup_simhash")}
    sh2 = {r.doc_id: r.simhash64 for r in rows(spark, "dedup_simhash")}
    assert sh == sh2  # deterministic

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    planted = _planted_pairs(spark)
    planted_d = [hamming(sh[a], sh[b]) for a, b in planted]
    assert planted_d and max(planted_d) <= 16, f"planted dists {sorted(planted_d)[-5:]}"
    # non-dup pairs share the fixture's common vocabulary, so absolute
    # distances are modest; require clear separation from planted pairs
    ids = sorted(sh)
    rand_d = [
        hamming(sh[a], sh[b])
        for a, b in itertools.islice(zip(ids, ids[7:]), 100)
        if (a, b) not in planted
    ]
    assert sum(rand_d) / len(rand_d) > sum(planted_d) / len(planted_d) + 5


def test_ivf_recall_vs_bruteforce(spark):
    brute = {(r.q_id, r.nn_id) for r in rows(spark, "knn_cosine_topk")}
    approx = {(r.q_id, r.nn_id) for r in rows(spark, "knn_ivf_topk")}
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.5, f"IVF recall@5 {recall:.2f}"


def test_ivfpq_recall_vs_bruteforce(spark):
    """IVFPQ must not lose recall to plain IVF on the fixture: ADC
    top-100 + exact re-rank recovers what the code coarseness costs."""
    brute = {(r.q_id, r.nn_id) for r in rows(spark, "knn_cosine_topk")}
    approx = {(r.q_id, r.nn_id) for r in rows(spark, "knn_ivfpq_topk")}
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.5, f"IVFPQ recall@5 {recall:.2f}"


def test_ivf_recall_on_skewed_corpus(spark):
    """Learned (k-means) centroids must hold recall on a corpus with
    badly imbalanced natural clusters — the case where the old
    vec_id%31 pseudo-centroids produced arbitrarily-sized buckets."""
    import numpy as np

    from mr_py_spark.operators.similarity import _ivf_topk_core

    rng = np.random.RandomState(3)
    sizes = [1000, 300, 150, 40, 10]
    centers = rng.standard_normal((len(sizes), 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    m = np.vstack(
        [centers[i] + 0.15 * rng.standard_normal((s, 16)) for i, s in enumerate(sizes)]
    )
    m /= np.linalg.norm(m, axis=1, keepdims=True)

    e = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(m)],
        "vec_id long, v array<double>",
    )
    q = spark.createDataFrame(
        [(int(i), [float(x) for x in m[i]]) for i in range(30)],
        "q_id long, qv array<double>",
    )
    approx = {(r.q_id, r.nn_id) for r in _ivf_topk_core(spark, e, q).collect()}

    sims = m[:30] @ m.T
    sims[np.arange(30), np.arange(30)] = -np.inf
    brute = {
        (qi, int(ni))
        for qi in range(30)
        for ni in np.argsort(-sims[qi], kind="stable")[:5]
    }
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.7, f"skewed-corpus IVF recall@5 {recall:.2f}"


def test_ln_ratio_quantization_cross_engine(spark, oracle):
    """lm_perplexity_score's bitwise parity rests on JVM Math.log and
    DuckDB's libm ln producing the same DECIMAL(18,9) for every c2/c1
    count ratio — ln is NOT a correctly-rounded operation, so this is
    a platform property, not an IEEE guarantee (ADVICE r7). Sweep all
    ~20k ratios with c1 <= 200 through both engines so a platform or
    libm change breaks HERE, not in the driver's verification window."""
    from pyspark.sql import functions as F

    N = 200
    s_rows = (
        spark.range(1, N + 1)
        .select(F.col("id").alias("c1"))
        .join(spark.range(1, N + 1).select(F.col("id").alias("c2")), how="cross")
        .filter(F.col("c2") <= F.col("c1"))
        .select(
            "c1",
            "c2",
            F.log(F.col("c2").cast("double") / F.col("c1").cast("double"))
            .cast("decimal(18,9)")
            .alias("lp"),
        )
        .collect()
    )
    got = {(r.c1, r.c2): r.lp for r in s_rows}
    o_rows = oracle.execute(
        f"""
        SELECT c1.range AS c1, c2.range AS c2,
               CAST(ln(CAST(c2.range AS DOUBLE) / CAST(c1.range AS DOUBLE))
                    AS DECIMAL(18,9)) AS lp
        FROM range(1, {N + 1}) c1, range(1, {N + 1}) c2
        WHERE c2.range <= c1.range
        """
    ).fetchall()
    assert len(o_rows) == len(got)
    bad = [(c1, c2, got[(c1, c2)], lp) for c1, c2, lp in o_rows if got[(c1, c2)] != lp]
    assert not bad, f"{len(bad)} ln quantization disagreements, e.g. {bad[:3]}"


def test_ivf_multitable_capped_probe_recall(spark):
    """The L-table tier's claim, measured (VERDICT r7 item 5): with a
    FIXED probe budget — 6 of 128 lists per table, ~4.7% of buckets,
    vs the single-table tier's adaptive 32/128 = 25% — recall on a
    hard zipf-clustered 50k corpus collapses for ONE capped table but
    is recovered by 4 independently-seeded quantizer tables probing
    the same 6-per-table cap (misses decorrelate across partitions;
    measured 0.795 capped-single vs 0.99 multi vs 0.995 adaptive).
    Per-query candidate work in the multi-table form is
    L * n_probe * bucket_rows — constant in corpus size."""
    import numpy as np
    import pandas as pd

    from mr_py_spark.operators.similarity import _ivf_topk_core

    rng = np.random.RandomState(11)
    n_clusters = 1000
    raw = (1.0 / np.arange(1, n_clusters + 1)) ** 1.1
    sizes = np.maximum(1, (50_000 * raw / raw.sum()).astype(int))
    centers = rng.standard_normal((n_clusters, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    m = np.vstack(
        [
            centers[i] + 0.5 * rng.standard_normal((s, 16))
            for i, s in enumerate(sizes)
        ]
    )
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    n = len(m)
    m = m[rng.permutation(n)]
    e = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n), "v": list(map(list, m))})
    )
    qidx = rng.choice(n, 40, replace=False)
    q = spark.createDataFrame(
        pd.DataFrame({"q_id": qidx.astype("int64"), "qv": [list(m[i]) for i in qidx]})
    )
    sims = m[qidx] @ m.T
    sims[np.arange(len(qidx)), qidx] = -np.inf
    brute = {
        (int(qi), int(ni))
        for j, qi in enumerate(qidx)
        for ni in np.argsort(-sims[j], kind="stable")[:5]
    }
    capped1 = {
        (r.q_id, r.nn_id)
        for r in _ivf_topk_core(
            spark, e, q, n_hint=n, nlist=128, tables=1, n_probe=6
        ).collect()
    }
    multi = {
        (r.q_id, r.nn_id)
        for r in _ivf_topk_core(
            spark, e, q, n_hint=n, nlist=128, tables=4, n_probe=6
        ).collect()
    }
    r_capped1 = len(brute & capped1) / len(brute)
    r_multi = len(brute & multi) / len(brute)
    assert r_multi >= 0.9, f"multi-table recall@5 {r_multi:.3f}"
    assert r_multi >= r_capped1 + 0.05, (
        f"no decorrelation gain: multi {r_multi:.3f} vs capped single {r_capped1:.3f}"
    )


def test_rplsh_recall_vs_bruteforce(spark):
    brute = {(r.q_id, r.nn_id) for r in rows(spark, "knn_cosine_topk")}
    approx = {(r.q_id, r.nn_id) for r in rows(spark, "knn_rplsh_topk")}
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.4, f"RP-LSH recall@5 {recall:.2f}"


def test_local_broadcast_fallback_unit():
    """_bc must degrade to the closure-capture shim when no
    SparkContext exists (Spark Connect)."""
    from mr_py_spark.operators.similarity import _bc, _LocalBroadcast

    class NoCtx:
        @property
        def sparkContext(self):
            raise RuntimeError("Spark Connect session has no SparkContext")

    b = _bc(NoCtx(), [1, 2, 3])
    assert isinstance(b, _LocalBroadcast)
    assert b.value == [1, 2, 3]


def test_rplsh_answers_with_closure_broadcast(spark, monkeypatch):
    """knn_rplsh_topk must still answer when broadcasting falls back to
    closure capture — proves the shim end-to-end, not just the type."""
    from mr_py_spark.operators import similarity

    monkeypatch.setattr(
        similarity, "_bc", lambda s, v: similarity._LocalBroadcast(v)
    )
    df = similarity.knn_rplsh_topk(spark, SF_DIR)
    assert df.limit(5).count() > 0


def test_merge_upsert_null_override(spark):
    """True MERGE semantics: a matched update row overrides the target
    in full, including columns it sets to NULL."""
    from mr_py_spark.operators.cdc import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, name string, val double"
    )
    updates = spark.createDataFrame(
        [(2, None, 99.0), (3, "c", 30.0)], "k long, name string, val double"
    )
    out = {r.k: (r.name, r.val) for r in merge_upsert(target, updates, "k").collect()}
    assert out == {1: ("a", 10.0), 2: (None, 99.0), 3: ("c", 30.0)}


def test_stream_session_subset_of_batch(spark):
    batch = {
        (r.user_id, r.session_start, r.n_events, r.session_value)
        for r in REG["session_window"].fn(spark, SF_DIR).collect()
    }
    stream = {
        (r.user_id, r.session_start, r.n_events, r.session_value)
        for r in rows(spark, "stream_session_window")
    }
    assert stream, "watermark should close most sessions in a bounded stream"
    assert stream <= batch


def test_percentile_approx_bounds(spark):
    for r in rows(spark, "percentile_approx_digest"):
        assert abs(r.approx_median - r.exact_median) <= 0.02 * abs(r.exact_median)
        assert r.approx_p99 >= r.exact_median


def test_dedup_hashed_matches_exact(spark):
    from mr_py_spark.operators.dedup import dedup_exact_hashed
    from mr_py_spark.sources import tbl

    docs = tbl(spark, SF_DIR, "documents")
    exact = {(r.doc_id, r.n_copies) for r in REG["dedup_exact"].fn(spark, SF_DIR).collect()}
    hashed = {(r.doc_id, r.n_copies) for r in dedup_exact_hashed(docs).collect()}
    assert exact == hashed


def test_stream_tumbling_is_prefix_of_batch(spark):
    batch = {
        (r.bucket, r.n_events, r.total_value)
        for r in REG["tumbling_window"].fn(spark, SF_DIR).collect()
    }
    stream = {
        (r.bucket, r.n_events, r.total_value)
        for r in rows(spark, "stream_tumbling_window")
    }
    assert stream <= batch
    assert len(stream) >= len(batch) - 2  # only trailing window(s) withheld


def test_stream_stateful_counts_equal_batch(spark):
    from mr_py_spark.sources import tbl

    ev = tbl(spark, SF_DIR, "events")
    batch = {
        (r.user_id, r.n): round(r.t, 4)
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    stream = {
        (r.user_id, r.n_events): r.total_value
        for r in rows(spark, "stream_stateful_counts")
    }
    assert set(batch) == set(stream)
    for k, v in batch.items():
        assert abs(stream[k] - v) < 1e-6


def test_dedup_clusters_consistent_with_pairs(spark):
    """Every strong pair must land in one cluster; survivors are the
    cluster minima; singleton docs stay their own cluster."""
    pairs = [
        (r.doc_a, r.doc_b)
        for r in REG["ngram_jaccard_pairs"].fn(spark, SF_DIR).collect()
        if r.jaccard >= 0.5
    ]
    clusters = REG["dedup_clusters"].fn(spark, SF_DIR).collect()
    n_docs = sum(r.cluster_size for r in clusters)
    from mr_py_spark.sources import tbl

    assert n_docs == tbl(spark, SF_DIR, "documents").count()
    # exact reference: union-find over the same pair set
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected_multi = {}
    for d in list(parent):
        expected_multi.setdefault(find(d), set()).add(d)
    got_multi = {
        r.survivor: r.cluster_size for r in clusters if r.cluster_size > 1
    }
    assert got_multi == {
        min(members): len(members) for members in expected_multi.values()
    }
    assert len(got_multi) > 0, "planted near-dups should form clusters"


def test_connected_components_converges_on_long_chain(spark):
    """A chain-shaped component of diameter 8 — the shape the old
    fixed-5-round loop silently split — must collapse to one label,
    and the loop must detect the fixpoint rather than round-cap."""
    from mr_py_spark.operators.dedup import connected_components

    # chain 0-1-2-...-8 (diameter 8), plus an isolated node and a triangle
    chain = [(i, i + 1) for i in range(8)]
    tri = [(20, 21), (21, 22)]
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(9)) + [15, 20, 21, 22]], "doc_id long"
    )
    edges = spark.createDataFrame(chain + tri, "doc_a long, doc_b long")
    labels = {r.doc_id: r.label for r in connected_components(nodes, edges).collect()}
    assert all(labels[i] == 0 for i in range(9)), labels
    assert labels[15] == 15
    assert labels[20] == labels[21] == labels[22] == 20


def test_connected_components_raises_without_convergence(spark):
    """The round cap must be a loud error, not silent truncation."""
    import pytest as _pytest

    from mr_py_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_rounds=2)


def test_media_features_shape_and_determinism(spark):
    a = rows(spark, "media_features")
    b = rows(spark, "media_features")
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for r in a:
        if r.fmt in ("bmp", "gif"):
            assert 4 <= r.width <= 16 and 4 <= r.height <= 10
            assert r.n_frames == 1 and r.frame_idx == 0
        else:
            assert r.fmt == "wav"
            assert r.width is None and r.height is None
            assert 1 <= r.n_frames <= 2048
            assert 0 <= r.frame_idx <= 2


def test_audio_window_rms_analytic_and_determinism(spark):
    """wav_samples is a REAL PCM decode: a hand-built payload's
    per-window RMS must equal the analytic value, and the registered
    query must be deterministic and cover exactly the WAV third of the
    fixture with ceil(n_frames/256)-window fan-out per channel."""
    import math

    import numpy as np

    from mr_py_spark.operators.multimodal import (
        _RMS_WINDOW,
        synth_media,
        wav_samples,
    )

    # analytic check on a synthetic stereo payload (doc_id % 2 == 1
    # -> 2 channels): decoded samples equal the generation formula
    doc_id, text = 5, "stereo " * 400
    rate, frames = wav_samples(synth_media(doc_id, text))
    assert rate == 8000 and frames.shape[1] == 2
    body = text.encode()
    n = min(len(body), 2048)
    exp = np.array(
        [[body[i % len(body)] for _ in range(2)] for i in range(n)], dtype=np.uint8
    )
    assert (frames == exp).all()

    a = rows(spark, "audio_window_rms")
    b = rows(spark, "audio_window_rms")
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    assert a and all(r.doc_id % 3 == 2 for r in a)
    for r in a:
        assert 1 <= r.n_frames <= _RMS_WINDOW and r.rms >= 0.0
    # analytic RMS for one FIXTURE doc: rebuild its payload from the
    # fixture text and compare the registered query's first window
    import duckdb

    from tests.conftest import SF_DIR

    wav_doc = min(r.doc_id for r in a)
    txt = duckdb.query(
        f"SELECT text FROM read_parquet('{SF_DIR}/documents.parquet')"
        f" WHERE doc_id = {wav_doc}"
    ).fetchone()[0]
    _, fx_frames = wav_samples(synth_media(wav_doc, txt))
    dev = fx_frames[:_RMS_WINDOW].astype(np.int64) - 128
    exp_rms = math.sqrt(int((dev[:, 0] ** 2).sum()) / len(dev))
    got = {(r.doc_id, r.channel, r.window_idx): r.rms for r in a}
    assert got[(wav_doc, 0, 0)] == exp_rms


def test_image_pixel_stats_independent_rederivation(spark):
    """bmp_pixels is a real pixel decode: one fixture doc's pixel
    tensor re-derived INDEPENDENTLY from synth_media's generation
    formula (body bytes row-major, bottom-up, 4-byte padded) must
    match, and the registered query's mean/thumbnail for that doc must
    equal values computed from the independent tensor."""
    import hashlib

    import duckdb
    import numpy as np

    from mr_py_spark.operators.multimodal import (
        _THUMB,
        bmp_pixels,
        synth_media,
    )
    from tests.conftest import SF_DIR

    a = rows(spark, "image_pixel_stats")
    b = rows(spark, "image_pixel_stats")
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    assert a and all(r.doc_id % 3 == 0 for r in a)

    doc = min(r.doc_id for r in a)
    txt = duckdb.query(
        f"SELECT text FROM read_parquet('{SF_DIR}/documents.parquet')"
        f" WHERE doc_id = {doc}"
    ).fetchone()[0]
    body = txt.encode() or b"\x00"
    w, h = 4 + doc % 13, 4 + doc % 7
    row = w * 3
    exp = np.zeros((h, w, 3), dtype=np.uint8)
    for r_img in range(h):
        r_buf = h - 1 - r_img  # buffer is bottom-up
        for c in range(w):
            for k in range(3):
                exp[r_img, c, k] = body[(r_buf * row + c * 3 + k) % len(body)]
    assert (bmp_pixels(synth_media(doc, txt)) == exp).all()

    got = {r.doc_id: r for r in a}[doc]
    assert (got.width, got.height) == (w, h)
    sums = exp.reshape(-1, 3).astype(np.int64).sum(axis=0)
    assert (got.mean_b, got.mean_g, got.mean_r) == tuple(
        float(s / (h * w)) for s in sums
    )
    ri = (np.arange(_THUMB) * h) // _THUMB
    ci = (np.arange(_THUMB) * w) // _THUMB
    assert got.thumb_md5 == hashlib.md5(exp[ri][:, ci].tobytes()).hexdigest()


def test_video_frame_sample_independent_rederivation(spark):
    """avi_frames is a real frame walk + decode: one fixture doc's
    sampled frames re-derived independently from synth_video's formula
    (per-frame byte offset, bottom-up scanlines, 4-byte padding) must
    match what the registered query emits."""
    import hashlib

    import duckdb
    import numpy as np

    from mr_py_spark.operators.multimodal import (
        _FRAME_STEP,
        _VID_MIN_FRAMES,
        avi_frames,
        synth_video,
    )
    from tests.conftest import SF_DIR

    a = rows(spark, "video_frame_sample")
    b = rows(spark, "video_frame_sample")
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    assert a and all(r.frame_idx % _FRAME_STEP == 0 for r in a)

    doc = min(r.doc_id for r in a)
    txt = duckdb.query(
        f"SELECT text FROM read_parquet('{SF_DIR}/documents.parquet')"
        f" WHERE doc_id = {doc}"
    ).fetchone()[0]
    body = txt.encode() or b"\x00"
    w, h = 4 + doc % 13, 4 + doc % 7
    stride = (w * 3 + 3) & ~3
    n_frames = _VID_MIN_FRAMES + doc % 4

    frames = dict(avi_frames(synth_video(doc, txt), w, h))
    assert len(frames) == n_frames
    got = {(r.doc_id, r.frame_idx): r for r in a}
    for f in range(0, n_frames, _FRAME_STEP):
        exp = np.zeros((h, w, 3), dtype=np.uint8)
        for r_img in range(h):
            r_buf = h - 1 - r_img
            for c in range(w * 3):
                exp[r_img, c // 3, c % 3] = body[(f * 7 + r_buf * stride + c) % len(body)]
        assert (frames[f] == exp).all()
        row = got[(doc, f)]
        assert (row.width, row.height) == (w, h)
        assert row.frame_md5 == hashlib.md5(exp.tobytes()).hexdigest()
        s = exp.reshape(-1, 3).astype(np.int64).sum(axis=0)
        assert row.mean_luma == float(
            (0.114 * s[0] + 0.587 * s[1] + 0.299 * s[2]) / (h * w)
        )


def _reference_bpe(word_freqs, n_merges):
    """Independent pure-Python Sennrich BPE: same semantics
    (char+</w> init, freq-then-lexical argmax, left-to-right greedy
    merge application, stop below pair_count 2), separate code path —
    the oracle-by-reimplementation for bpe_learn_merges."""
    vocab = {}
    for w, f in word_freqs.items():
        vocab[tuple(list(w) + ["</w>"])] = vocab.get(tuple(list(w) + ["</w>"]), 0) + f
    merges = []
    for _ in range(n_merges):
        counts = {}
        for seq, f in vocab.items():
            for a, b in zip(seq, seq[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        merges.append((a, b, c))
        new_vocab = {}
        for seq, f in vocab.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + f
        vocab = new_vocab
    return merges


def test_bpe_matches_reference_reimplementation(spark):
    """The distributed BPE's merge list must equal an independent
    pure-Python implementation run on the same corpus word counts —
    merge-for-merge, counts included (fixture corpus), plus a
    hand-checkable micro-corpus."""
    import duckdb

    from mr_py_spark.operators.bpe import learn_bpe, word_freqs
    from tests.conftest import SF_DIR

    got = [
        (r.left, r.right, r.pair_count)
        for r in rows(spark, "bpe_learn_merges")
    ]
    wf = dict(
        duckdb.query(
            "SELECT w, count(*) FROM ("
            f"  SELECT unnest(string_split(lower(text), ' ')) AS w"
            f"  FROM read_parquet('{SF_DIR}/documents.parquet')"
            ") WHERE w <> '' GROUP BY w"
        ).fetchall()
    )
    assert got == _reference_bpe(wf, 20)

    # micro-corpus: 'low'x5 + 'lower'x2 -> first merges are l+o, lo+w
    micro = spark.createDataFrame(
        [("low", 5), ("lower", 2)], "word string, freq long"
    )
    ms = learn_bpe(spark, micro, n_merges=3)
    assert ms == _reference_bpe({"low": 5, "lower": 2}, 3)
    assert ms[0][:2] == ("l", "o") and ms[1][:2] == ("lo", "w")


def test_bpe_token_stats_matches_reference(spark):
    """The train-then-apply loop: token occurrence counts under the
    learned vocab must equal the reference reimplementation tokenizing
    the same word counts with the same merges."""
    import duckdb

    from tests.conftest import SF_DIR

    wf = dict(
        duckdb.query(
            "SELECT w, count(*) FROM ("
            f"  SELECT unnest(string_split(lower(text), ' ')) AS w"
            f"  FROM read_parquet('{SF_DIR}/documents.parquet')"
            ") WHERE w <> '' GROUP BY w"
        ).fetchall()
    )
    merges = [(a, b) for a, b, _ in _reference_bpe(wf, 20)]
    counts: dict = {}
    for w, f in wf.items():
        seq = list(w) + ["</w>"]
        for a, b in merges:
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seq = out
        for t in seq:
            counts[t] = counts.get(t, 0) + f
    exp = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    got = [(r.token, r.n_occurrences) for r in rows(spark, "bpe_token_stats")]
    assert got == exp


def test_pagerank_matches_reference_exactly(spark):
    """pagerank_parts must match a pure-Python power iteration
    replaying the identical quantize/sum/update sequence BIT FOR BIT —
    possible only because per-edge contributions are quantized to
    DECIMAL(18,9) before the neighbor sum (decimal sums are exact and
    order-free, so Spark's parallel aggregation cannot drift from the
    sequential reference)."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from mr_py_spark.operators.graph import _DAMPING, _N_ITER
    from tests.conftest import SF_DIR

    edges = duckdb.query(
        "WITH items AS (SELECT DISTINCT l_orderkey, l_partkey"
        f"              FROM read_parquet('{SF_DIR}/lineitem.parquet'))"
        " SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d"
        " FROM items a JOIN items b"
        "   ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
    ).fetchall()
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, []).append(s)
    n = len(adj)
    q9 = Decimal("1e-9")
    rank = {v: 1.0 / n for v in adj}
    base = (1.0 - _DAMPING) / n
    for _ in range(_N_ITER):
        sums = {v: Decimal(0) for v in adj}
        for v, nbrs in adj.items():
            c = Decimal(repr(rank[v] / len(nbrs))).quantize(q9, ROUND_HALF_UP)
            for u in nbrs:
                sums[u] += c
        rank = {v: base + _DAMPING * float(sums[v]) for v in adj}
    exp = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    got = [(r.part, r.rank) for r in rows(spark, "pagerank_parts")]
    assert got == exp, f"first diff: {next((g, e) for g, e in zip(got, exp) if g != e)}"


def test_pagerank_directed_dangling_matches_reference(spark):
    """pagerank(directed=True) on a graph WITH sinks (the r8 verdict's
    generality gap): dangling rank mass is redistributed uniformly
    each round — total mass is conserved — and every rank matches a
    sequential reference replaying the identical quantize/sum/update
    sequence bit for bit (dangling rank/n is quantized to
    DECIMAL(18,9) before the mass sum, same order-free policy as the
    edge contributions)."""
    from decimal import ROUND_HALF_UP, Decimal

    from mr_py_spark.operators.graph import _DAMPING, _N_ITER, pagerank

    # 6 and 7 are sinks (no out-edges); 7 is reachable only via 5.
    edges = [(1, 2), (1, 3), (2, 3), (4, 3), (3, 6), (5, 7), (3, 5), (2, 6)]
    nodes = sorted({v for e in edges for v in e})
    outadj: dict = {v: [] for v in nodes}
    for s, d in edges:
        outadj[s].append(d)
    n = len(nodes)
    q9 = Decimal("1e-9")
    rank = {v: 1.0 / n for v in nodes}
    base = (1.0 - _DAMPING) / n
    for _ in range(_N_ITER):
        sums = {v: Decimal(0) for v in nodes}
        dm = Decimal(0)
        for v, nbrs in outadj.items():
            if nbrs:
                c = Decimal(repr(rank[v] / len(nbrs))).quantize(q9, ROUND_HALF_UP)
                for u in nbrs:
                    sums[u] += c
            else:
                dm += Decimal(repr(rank[v] / n)).quantize(q9, ROUND_HALF_UP)
        rank = {
            v: base + _DAMPING * (float(sums[v]) + float(dm)) for v in nodes
        }
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.rank for r in pagerank(spark, df, directed=True).collect()}
    assert got == rank, f"diff: { {v: (got.get(v), rank[v]) for v in nodes if got.get(v) != rank[v]} }"
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conserved


def test_decode_media_roundtrips_planted_payloads():
    """decode_media is a real header parser: BMP/GIF/WAV files built by
    synth_media (and a hand-built multi-chunk WAV) parse back to their
    generation parameters; unknown containers raise."""
    import struct

    from mr_py_spark.operators.multimodal import decode_media, synth_media

    for doc_id, text in [(0, "abc" * 50), (1, "xyz"), (2, "q" * 5000), (3, ""),
                         (4, "gif body"), (5, "stereo " * 400)]:
        feats = decode_media(synth_media(doc_id, text))
        assert set(feats) == {"fmt", "width", "height", "n_frames",
                              "sample_rate", "byte_entropy"}
        kind = doc_id % 3
        if kind in (0, 1):
            assert feats["fmt"] == ("bmp", "gif")[kind]
            assert feats["width"] == 4 + doc_id % 13
            assert feats["height"] == 4 + doc_id % 7
            assert feats["n_frames"] == 1
        else:
            n = min(len(text.encode()) or 1, 2048)
            assert feats["fmt"] == "wav"
            assert feats["sample_rate"] == 8000
            assert feats["n_frames"] == n
        assert feats["byte_entropy"] >= 0.0

    # WAV with an extra odd-length chunk before fmt/data: the chunk walk
    # must skip it (word alignment) and still find the real metadata.
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    std = synth_media(2, "hello")
    tail = junk + std[12:]
    riff = b"RIFF" + struct.pack("<I", 4 + len(tail)) + b"WAVE" + tail
    feats = decode_media(riff)
    assert feats["fmt"] == "wav" and feats["n_frames"] == 5

    with pytest.raises(NotImplementedError):
        decode_media(b"")
    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG\r\n\x1a\nnot-supported")


def test_rollup_grand_total_consistent(spark):
    out = REG["rollup_agg"].fn(spark, SF_DIR).collect()
    grand = [r for r in out if r.r_name is None and r.n_name is None]
    assert len(grand) == 1
    from mr_py_spark.sources import tbl

    assert grand[0].n_supp == tbl(spark, SF_DIR, "supplier").count()


def test_lang_id_well_formed(spark):
    """The fixture's text vocabulary is identical across lang labels
    (verified: per-lang distinct-word sets are equal), so ground-truth
    accuracy is not measurable on this data; the operator's exactness
    is proven by its DuckDB oracle. This asserts the prediction
    contract: valid label set, one prediction per doc."""
    out = rows(spark, "lang_id_heuristic")
    assert {r.lang_pred for r in out} <= {"en", "fr", "es", "de"}
    assert len(out) == len({r.doc_id for r in out})


def test_emb_centroid_matches_planted_means(spark):
    """emb_centroid recovers planted Gaussian cluster means: build a
    synthetic frame with 3 labels at known centers and assert each
    centroid is within sampling tolerance of its center, dims intact,
    and labels 1:1 with output rows."""
    import numpy as np
    import pandas as pd

    from mr_py_spark.operators.similarity import emb_centroid, emb_centroid_vectors

    rng = np.random.RandomState(11)
    centers = {0: 0.5, 1: -0.25, 2: 0.0}
    recs = []
    for lbl, mu in centers.items():
        for i in range(200):
            recs.append(
                {
                    "vec_id": lbl * 1000 + i,
                    "embedding": (mu + 0.05 * rng.standard_normal(8)).astype(
                        np.float32
                    ).tolist(),
                    "label": lbl,
                }
            )
    sdf = spark.createDataFrame(pd.DataFrame(recs))
    sdf.createOrReplaceTempView("_emb_centroid_fixture")

    import mr_py_spark.sources as sources

    orig = sources.tbl
    try:
        sources.tbl = lambda sp, sf, name: (
            sp.table("_emb_centroid_fixture") if name == "embeddings" else orig(sp, sf, name)
        )
        # the operator resolves tbl at call time through its module global
        import mr_py_spark.operators.similarity as sim

        sim_tbl = sim.tbl
        sim.tbl = sources.tbl
        out = {r.label: r for r in emb_centroid_vectors(spark, SF_DIR).collect()}
        proj = {r.label: r for r in emb_centroid(spark, SF_DIR).collect()}
    finally:
        sources.tbl = orig
        sim.tbl = sim_tbl
    assert set(out) == set(centers)
    for lbl, mu in centers.items():
        r = out[lbl]
        assert r.dim == 8
        got = np.asarray(r.centroid)
        # 200 samples of sigma=0.05 -> se ~ 0.0035; 5 sigma margin
        assert np.all(np.abs(got - mu) < 0.02), (lbl, got)
        # registered query projects the same vector driver-hashably:
        # scalar columns only, csv parses back to the array values.
        p = proj[lbl]
        csv = np.array([float(s) for s in p.centroid_csv.split(",")])
        assert len(csv) == p.dim == 8
        # %.6f rendering (5e-7) + 2^-24 fixed-point quantization (3e-8)
        assert np.allclose(csv, got, atol=6e-7)
        assert abs(float(p.c0) - got[0]) < 6e-7


def test_seq_packing_invariants(spark):
    """seq_packing: every doc packed exactly once; no pack exceeds the
    512-token budget unless it is a single oversized doc; pack ids are
    dense per (lang, bucket); two runs agree row-for-row (the packing
    decision is hash/order-based, never partitioning-dependent)."""
    from collections import defaultdict

    from mr_py_spark.operators.corpus_prep import _PACK_BUDGET
    from mr_py_spark.sources import tbl

    out1 = sorted(map(tuple, rows(spark, "seq_packing")))
    out2 = sorted(map(tuple, rows(spark, "seq_packing")))
    assert out1 == out2

    all_ids = [r.doc_id for r in tbl(spark, SF_DIR, "documents").select("doc_id").collect()]
    assert sorted(r[0] for r in out1) == sorted(all_ids)

    packs = defaultdict(list)
    seqs = defaultdict(set)
    for doc_id, lang, bucket, n_tokens, pack_seq in out1:
        packs[(lang, bucket, pack_seq)].append(n_tokens)
        seqs[(lang, bucket)].add(pack_seq)
    for key, toks in packs.items():
        assert sum(toks) <= _PACK_BUDGET or len(toks) == 1, (key, toks)
    for key, ids in seqs.items():
        assert ids == set(range(len(ids))), key


def test_stratified_sample_hash_rates(spark):
    """The md5-prefix sampler hits its per-language keep rates within
    binomial tolerance and is a strict subset of the corpus."""
    from mr_py_spark.sources import tbl

    kept = rows(spark, "stratified_sample_hash")
    totals = {
        r.lang: r.n
        for r in tbl(spark, SF_DIR, "documents").groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    rates = {"en": 8 / 16, "fr": 4 / 16, "es": 4 / 16}
    by_lang = {}
    for r in kept:
        by_lang[r.lang] = by_lang.get(r.lang, 0) + 1
    for lang, n_total in totals.items():
        rate = rates.get(lang, 2 / 16)
        got = by_lang.get(lang, 0) / n_total
        # 4-sigma binomial margin
        margin = 4 * (rate * (1 - rate) / n_total) ** 0.5
        assert abs(got - rate) < margin, (lang, got, rate, n_total)


def test_emb_quantize_int8_error_bound(spark):
    """Symmetric int8 quantization invariants: reconstruction error is
    bounded by scale/2 (round-to-nearest), scale is positive, and the
    quantized codes are reproducible (md5 fingerprints stable across
    two runs)."""
    out1 = rows(spark, "emb_quantize_int8")
    assert out1
    for r in out1:
        assert r.scale > 0
        # strict <= scale/2 + tiny float slack for the x/scale*scale trip
        assert r.max_abs_err <= r.scale / 2 * (1 + 1e-12), (r.vec_id, r.max_abs_err, r.scale)
        assert -127 * 64 <= r.q_sum <= 127 * 64
    out2 = rows(spark, "emb_quantize_int8")
    assert sorted(r.q_md5 for r in out1) == sorted(r.q_md5 for r in out2)


def test_decontaminate_ngrams_sound_and_complete(spark):
    """Every flagged doc really shares a 6-gram with the eval set, no
    eval doc is flagged, and every planted near-duplicate of an eval
    doc (shared 80-char prefix => shared 6-grams) is caught."""
    from mr_py_spark.operators.corpus_prep import _DECON_MOD, _DECON_N
    from mr_py_spark.sources import tbl

    flagged = {r.doc_id: r.n_contaminated_ngrams for r in rows(spark, "decontaminate_ngrams")}
    assert all(d % _DECON_MOD != 0 for d in flagged)
    assert all(n >= 1 for n in flagged.values())

    docs = {
        r.doc_id: tuple(r.text.split(" "))
        for r in tbl(spark, SF_DIR, "documents").collect()
    }
    eval_ngrams = set()
    for d, w in docs.items():
        if d % _DECON_MOD == 0:
            for i in range(len(w) - _DECON_N + 1):
                eval_ngrams.add(w[i : i + _DECON_N])
    expect = set()
    for d, w in docs.items():
        if d % _DECON_MOD != 0 and any(
            w[i : i + _DECON_N] in eval_ngrams for i in range(len(w) - _DECON_N + 1)
        ):
            expect.add(d)
    assert set(flagged) == expect


def test_stream_stream_join_equals_batch(spark):
    """The drained stream-stream interval join emits exactly the batch
    interval-join pairs: inner joins withhold nothing once the bounded
    stream is fully processed."""
    from mr_py_spark.functions import fmt_ts_us
    from mr_py_spark.sources import tbl

    got = sorted(map(tuple, rows(spark, "stream_stream_join")))

    ev = tbl(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    batch = (
        buys.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            fmt_ts_us("c_ts").alias("click_ts"),
            fmt_ts_us("p_ts").alias("purchase_ts"),
        )
    )
    expect = sorted(map(tuple, batch.collect()))
    assert got == expect and len(got) > 0


def test_boilerplate_ngrams_short_docs(spark, tmp_path):
    """Documents with < 3 words have no trigram: the guarded sequence
    must yield an empty array (unguarded, F.sequence(1, size-2) goes
    DESCENDING and element_at throws INVALID_ARRAY_INDEX), and such
    docs are silently dropped — exactly what the oracle's
    generate_series does. A 3-word doc contributes exactly 1 gram."""
    docs = spark.createDataFrame(
        [
            (1, "", "en"),
            (2, "one", "en"),
            (3, "two words", "en"),
            (4, "exactly three words", "en"),
            (5, "a longer doc with several words here", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in REG["boilerplate_ngrams"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == {4, 5}  # <3-word docs dropped, no crash
    assert out[4].n_grams == 1 and out[4].n_common == 0
    assert out[5].n_grams == 5  # 7 words -> 5 distinct trigrams


def test_corpus_split_content_keyed_never_leaks(spark, tmp_path):
    """Planted byte-identical duplicates always land in the same split
    under corpus_split (content-keyed), whatever their doc_ids — the
    invariant split_leakage_audit shows the naive id-keyed split lacks.
    Also pins the 98/1/1 thresholds: every assignment is one of the
    three labels and train dominates."""
    import pandas as pd

    from mr_py_spark.registry import load_all

    reg = load_all()
    texts = [f"document body number {i} with shared tail words" for i in range(200)]
    # 100 duplicated texts spread over distant doc_id ranges
    rows_ = [(i, texts[i % 100]) for i in range(200)] + [
        (10_000 + i, texts[i]) for i in range(100)
    ]
    pdf = pd.DataFrame(rows_, columns=["doc_id", "text"])
    out = str(tmp_path / "documents.parquet")
    pdf.to_parquet(out)
    res = reg["corpus_split"].fn(spark, str(tmp_path)).toPandas()
    assert set(res["split"]) <= {"train", "val", "test"}
    assert (res["split"] == "train").mean() > 0.8
    joined = res.merge(pdf, on="doc_id")
    n_splits = joined.groupby("text")["split"].nunique()
    assert (n_splits == 1).all(), "content-keyed split scattered duplicates"


def test_near_dup_lsh_recall_and_exact_precision(spark):
    """cosine_near_dup_pairs_lsh on a PLANTED near-dup corpus (the
    shipped fixtures have zero pairs at the 0.9 threshold at every sf,
    so a fixture-based recall assertion would be vacuous): recall of
    the exact pair set >= 0.9, and precision exact — every emitted
    pair really has sim >= 0.9 because candidates are verified with
    the exact dot product."""
    import numpy as np

    from mr_py_spark.operators.similarity import _near_dup_pairs_lsh_core

    rng = np.random.RandomState(5)
    base = rng.standard_normal((300, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    vecs = [base]
    # plant 100 near-dups at controlled cosines straddling the
    # threshold: v = cos(t)*u + sin(t)*w with w a unit vector
    # orthogonal to u, so sim(u, v) == cos(t) exactly
    targets = np.linspace(0.85, 0.995, 100)
    planted = []
    for i, s in enumerate(targets):
        u = base[i]
        w = rng.standard_normal(64)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        planted.append(s * u + np.sqrt(1 - s * s) * w)
    vecs.append(np.asarray(planted))
    m = np.vstack(vecs).astype(np.float32).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)

    sims = m @ m.T
    iu = np.triu_indices(len(m), k=1)
    exact = {
        (int(a), int(b))
        for a, b in zip(iu[0][sims[iu] >= 0.9], iu[1][sims[iu] >= 0.9])
    }
    assert len(exact) >= 60  # the planted pairs above threshold

    e = spark.createDataFrame(
        [(int(i), int(i) % 7, [float(x) for x in row]) for i, row in enumerate(m)],
        "vec_id long, label int, embedding array<float>",
    )
    got = {
        (r.id_a, r.id_b)
        for r in _near_dup_pairs_lsh_core(spark, e, len(m)).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"banded-LSH pair recall {recall:.3f}"
    missed_precision = got - exact
    assert not missed_precision, f"non-near-dup pairs emitted: {missed_precision}"


def test_heavy_hitter_candidates_superset_under_eviction(spark):
    """heavy_hitters' pass-1 guarantee on a corpus where the sketch
    actually evicts (the shipped fixture's 31-word vocab never fills
    k counters, so fixture parity alone would be vacuous): under a
    20k-word zipf vocabulary with k=64 counters, the union of
    per-partition Misra-Gries candidates (a) stays metadata-sized,
    (b) evicts most of the vocabulary, and (c) still contains EVERY
    true heavy hitter — so the exact-recount pass 2 reproduces the
    naive GROUP BY ... HAVING bit-for-bit."""
    from collections import Counter

    import numpy as np

    from mr_py_spark.operators.text import heavy_hitter_candidates

    rng = np.random.RandomState(11)
    k, parts = 64, 8
    toks = [f"w{min(int(v), 20000)}" for v in rng.zipf(1.3, 40000)]
    exact = Counter(toks)
    n = len(toks)
    heavy = {w for w, c in exact.items() if c * k >= n}
    assert heavy, "degenerate draw: no heavy hitters planted"

    items = spark.createDataFrame([(t,) for t in toks], "g string").repartition(parts)
    summary = heavy_hitter_candidates(items, "g", k=k).collect()
    cands = {r.g for r in summary if r.g is not None}
    # the sentinel rows reconstruct the global total from the same scan
    assert sum(r.part_n for r in summary) == n

    assert len(cands) <= parts * k  # bounded summary
    assert len(cands) < len(exact) / 4, (
        f"no eviction: {len(cands)} candidates vs {len(exact)} vocab"
    )
    assert heavy <= cands, f"missed heavy hitters: {heavy - cands}"
    # pass-2 semantics: exact recount of candidates + same threshold
    # == the naive global HAVING
    recount = {w: exact[w] for w in cands if exact[w] * k >= n}
    assert recount == {w: c for w, c in exact.items() if c * k >= n}


def test_cosine_dup_clusters_refine_exact_closure(spark):
    """cosine_dup_clusters on a planted near-dup corpus: emitted
    clusters must REFINE the transitive closure of the exact >= 0.9
    pair set (precision is exact, so LSH can only under-merge), every
    vector must appear exactly once, and >= 80% of the vectors that
    have at least one exact near-dup must land in a non-singleton
    cluster (recall)."""
    import numpy as np

    from mr_py_spark.operators.dedup import connected_components
    from mr_py_spark.operators.similarity import _near_dup_star_edges

    rng = np.random.RandomState(9)
    base = rng.standard_normal((200, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    planted = []
    for i in range(60):  # two extra copies each for the first 30 bases
        u = base[i % 30]
        w = rng.standard_normal(64)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        s = 0.94 + 0.05 * rng.rand()
        planted.append(s * u + np.sqrt(1 - s * s) * w)
    m = np.vstack([base, planted]).astype(np.float32).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)

    sims = m @ m.T
    iu = np.triu_indices(len(m), k=1)
    exact_pairs = [
        (int(a), int(b))
        for a, b in zip(iu[0][sims[iu] >= 0.9], iu[1][sims[iu] >= 0.9])
    ]
    # union-find over the exact closure
    parent = list(range(len(m)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in exact_pairs:
        parent[find(a)] = find(b)
    exact_root = {i: find(i) for i in range(len(m))}
    dup_vertices = {v for p in exact_pairs for v in p}
    assert len(dup_vertices) >= 60

    e = spark.createDataFrame(
        [(int(i), int(i) % 7, [float(x) for x in row]) for i, row in enumerate(m)],
        "vec_id long, label int, embedding array<float>",
    )
    pairs = _near_dup_star_edges(spark, e, len(m))
    nodes = e.select(F.col("vec_id").alias("doc_id"))
    labels = connected_components(nodes, pairs).collect()

    assert len(labels) == len(m)
    assert len({r.doc_id for r in labels}) == len(m)  # each vector once
    by_cluster: dict = {}
    for r in labels:
        by_cluster.setdefault(r.label, []).append(r.doc_id)
    for members in by_cluster.values():
        roots = {exact_root[d] for d in members}
        assert len(roots) == 1, f"cluster merges distinct exact components: {members}"
    clustered = {
        d for members in by_cluster.values() if len(members) > 1 for d in members
    }
    recall = len(clustered & dup_vertices) / len(dup_vertices)
    assert recall >= 0.8, f"cluster recall {recall:.3f}"


def test_minhash_signature_seed_diversity(spark):
    """The 16 signature components must come from 16 DIFFERENT seeded
    hash families. A seed-plumbing bug (e.g. PySpark's two-parameter
    transform lambda passing the array index where the seed belongs)
    collapses every component to one value — which still recalls
    planted exact dups, so pair-level tests cannot catch it."""
    from mr_py_spark.operators.dedup import minhash_signatures
    from mr_py_spark.sources import tbl

    docs = tbl(spark, SF_DIR, "documents")
    sig = minhash_signatures(docs).limit(100).collect()
    assert sig
    for r in sig:
        comps = tuple(r)[1:]
        assert len(set(comps)) >= 8, f"doc {r[0]}: collapsed signature {comps[:4]}"


def test_aes_key_selects_proportional_to_weight():
    """The weighted_sample_topk construction (argmax of ln(u)/w) must
    select with probability proportional to weight [Efraimidis &
    Spirakis, IPL 2006]. Verified on the math directly (numpy u draws,
    k=1, 60k trials over 4 items with weights 1:2:3:4): empirical
    selection frequencies match w/sum(w) within 3 sigma. The registered
    query pins the IMPLEMENTATION bitwise via its SQL oracle; this pins
    the ALGORITHM the implementation instantiates."""
    import numpy as np

    rng = np.random.RandomState(23)
    w = np.array([1.0, 2.0, 3.0, 4.0])
    trials = 60_000
    u = rng.uniform(size=(trials, 4))
    wins = np.bincount(np.argmax(np.log(u) / w, axis=1), minlength=4)
    p = w / w.sum()
    sigma = np.sqrt(trials * p * (1 - p))
    assert (np.abs(wins - trials * p) < 3 * sigma).all(), wins


def test_image_phash_independent_rederivation(spark):
    """image_phash is a real decode→resize→hash chain: one fixture
    doc's 64-bit average hash re-derived independently from
    synth_media's generation formula (pixel tensor → 8×8 NN resize →
    integer ITU-R 601 luma → above-mean bits, MSB-first) must match
    the registered query's value; plus determinism."""
    import duckdb
    import numpy as np

    from mr_py_spark.operators.multimodal import _PH_EDGE

    a = rows(spark, "image_phash")
    b = rows(spark, "image_phash")
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert a and all(r.doc_id % 3 == 0 for r in a)

    doc = min(r.doc_id for r in a)
    txt = duckdb.query(
        f"SELECT text FROM read_parquet('{SF_DIR}/documents.parquet')"
        f" WHERE doc_id = {doc}"
    ).fetchone()[0]
    body = txt.encode() or b"\x00"
    w, h = 4 + doc % 13, 4 + doc % 7
    row = w * 3
    exp = np.zeros((h, w, 3), dtype=np.uint8)
    for r_img in range(h):
        r_buf = h - 1 - r_img
        for c in range(w):
            for k in range(3):
                exp[r_img, c, k] = body[(r_buf * row + c * 3 + k) % len(body)]
    ri = (np.arange(_PH_EDGE) * h) // _PH_EDGE
    ci = (np.arange(_PH_EDGE) * w) // _PH_EDGE
    t = exp[ri][:, ci].astype(np.int64)
    luma = (299 * t[:, :, 2] + 587 * t[:, :, 1] + 114 * t[:, :, 0]).ravel()
    ph = 0
    for bit in (64 * luma > luma.sum()).astype(int):
        ph = (ph << 1) | int(bit)
    if ph >= 1 << 63:
        ph -= 1 << 64
    got = {r.doc_id: r for r in a}[doc]
    assert (got.width, got.height, got.phash) == (w, h, ph)


def test_image_dup_pairs_band_join_is_exact(spark):
    """The 4×16-bit band join is EXACT for hamming ≤ 3 (pigeonhole:
    ≤3 flipped bits leave ≥1 of 4 bands untouched): the registered
    pair set must equal the O(n²) brute-force pair set over the same
    corpus (fixture BMPs + planted twins), and the planting must make
    the query non-vacuous."""
    from mr_py_spark.operators.multimodal import (
        _PH_RADIUS,
        _VARIANT_OFFSET,
        bmp_variants,
        media_table,
        phash_of,
    )

    corpus = (
        media_table(spark, SF_DIR)
        .filter(F.col("doc_id") % 3 == 0)
        .unionByName(bmp_variants(spark, SF_DIR))
    )
    hashes = [(r.doc_id, r.phash) for r in phash_of(corpus).collect()]
    brute = set()
    for i, (da, pa) in enumerate(hashes):
        for db, pb in hashes[i + 1 :]:
            d = bin((pa ^ pb) & ((1 << 64) - 1)).count("1")
            if d <= _PH_RADIUS:
                brute.add((min(da, db), max(da, db), d))
    got = {(r.doc_a, r.doc_b, r.hamming) for r in rows(spark, "image_dup_pairs")}
    assert got == brute
    assert any(b - a == _VARIANT_OFFSET for a, b, _ in got)  # non-vacuous


def test_hll_rollup_merge_is_lossless_and_bounded(spark):
    """Sketch-union exactness: merging per-day HLL sketches must give
    the SAME estimate as one direct sketch over all rows (union is
    lossless for HLL), and the estimate must sit inside the standard
    HLL error envelope of the exact distinct count (lgConfigK=12 →
    RSE ~1.04/√4096 ≈ 1.6%; 5σ guard band)."""
    from mr_py_spark.sources import tbl

    merged = {r.event_type: r.est_users for r in rows(spark, "hll_rollup_merge")}
    ev = tbl(spark, SF_DIR, "events")
    direct = {
        r.event_type: r.est
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert merged == direct
    for t, est in merged.items():
        assert abs(est - exact[t]) <= max(3, 0.08 * exact[t])


def test_zorder_buckets_are_bounded_rectangles(spark):
    """The file-skipping claim behind zorder_clustering: with 8-bit
    bins and bucket = morton >> 8, every bucket's (cust, day) extents
    must fit a 16x16 bin rectangle (the low 4 bits of each dimension
    are the intra-bucket bits), so per-bucket min/max stats prune on
    EITHER dimension. Also: the bucket id must re-derive from any
    member's high bin bits (buckets tile the space disjointly)."""
    out = rows(spark, "zorder_clustering")
    assert out and len(out) <= 256
    for r in out:
        assert 0 <= r.cust_bin_hi - r.cust_bin_lo <= 15, r
        assert 0 <= r.day_bin_hi - r.day_bin_lo <= 15, r
        bx_hi, by_hi = r.cust_bin_lo >> 4, r.day_bin_lo >> 4
        z = 0
        for i in range(4):
            z |= ((bx_hi >> i) & 1) << (2 * i + 1)
            z |= ((by_hi >> i) & 1) << (2 * i)
        assert z == r.z_bucket, r


def test_audio_sig_independent_rederivation(spark):
    """audio_sig is a real PCM decode -> windowed energy -> delta-bit
    chain: one fixture doc's 64-bit signature re-derived independently
    from synth_media's generation formula must match the registered
    query's value; plus determinism."""
    import duckdb
    import numpy as np

    from mr_py_spark.operators.multimodal import (
        _AU_WIN_SAMPLES,
        _AU_WINDOWS,
    )

    a = rows(spark, "audio_sig")
    b = rows(spark, "audio_sig")
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert a and all(r.doc_id % 3 == 2 for r in a)

    doc = min(r.doc_id for r in a)
    txt = duckdb.query(
        f"SELECT text FROM read_parquet('{SF_DIR}/documents.parquet')"
        f" WHERE doc_id = {doc}"
    ).fetchone()[0]
    body = txt.encode() or b"\x00"
    channels = 1 + doc % 2
    n = min(len(body), 2048)
    mono = np.array(
        [body[i % len(body)] for i in range(n)], dtype=np.int64
    ) - 128
    span = _AU_WINDOWS * _AU_WIN_SAMPLES
    filled = mono[np.arange(span) % n]  # cyclic fill, as audio_sig_of
    energy = (filled * filled).reshape(_AU_WINDOWS, _AU_WIN_SAMPLES).sum(axis=1)
    bits = (energy > np.roll(energy, -1)).astype(np.uint8)
    sig = int.from_bytes(np.packbits(bits).tobytes(), "big")
    if sig >= 1 << 63:
        sig -= 1 << 64
    got = {r.doc_id: r for r in a}[doc]
    assert (got.n_frames, got.sig) == (n, sig)


def test_audio_dup_pairs_band_join_is_exact(spark):
    """Same exactness bar as the image family: the registered pair set
    must equal the O(n^2) brute-force pair set over fixture WAVs +
    tail-trimmed twins, and the planting must be non-vacuous."""
    from mr_py_spark.operators.multimodal import (
        _AU_RADIUS,
        _VARIANT_OFFSET,
        audio_sig_of,
        media_table,
        wav_variants,
    )

    corpus = (
        media_table(spark, SF_DIR)
        .filter(F.col("doc_id") % 3 == 2)
        .unionByName(wav_variants(spark, SF_DIR))
    )
    sigs = [(r.doc_id, r.sig) for r in audio_sig_of(corpus).collect()]
    brute = set()
    for i, (da, sa) in enumerate(sigs):
        for db, sb in sigs[i + 1 :]:
            d = bin((sa ^ sb) & ((1 << 64) - 1)).count("1")
            if d <= _AU_RADIUS:
                brute.add((min(da, db), max(da, db), d))
    got = {(r.doc_a, r.doc_b, r.hamming) for r in rows(spark, "audio_dup_pairs")}
    assert got == brute
    assert any(b - a == _VARIANT_OFFSET for a, b, _ in got)  # non-vacuous


def test_video_sig_independent_rederivation(spark):
    """video_sig is a real movi-walk -> DIB decode -> ahash chain: one
    fixture doc's per-frame hashes re-derived independently (pure
    Python shift-loop ahash, no numpy) from synth_video's generation
    formula must match the registered query's values; plus
    determinism."""
    import duckdb
    import numpy as np

    a = rows(spark, "video_sig")
    b = rows(spark, "video_sig")
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    doc = min(r.doc_id for r in a)
    txt = duckdb.query(
        f"SELECT text FROM read_parquet('{SF_DIR}/documents.parquet')"
        f" WHERE doc_id = {doc}"
    ).fetchone()[0]
    body = txt.encode() or b"\x00"
    w, h = 4 + doc % 13, 4 + doc % 7
    stride = (w * 3 + 3) & ~3
    n_frames = 2 + doc % 4
    got = sorted((r.frame_idx, r.fhash) for r in a if r.doc_id == doc)
    assert len(got) == n_frames
    for f in range(n_frames):
        frame = bytes(body[(f * 7 + i) % len(body)] for i in range(stride * h))
        img = (
            np.frombuffer(frame, np.uint8)
            .reshape(h, stride)[:, : w * 3]
            .reshape(h, w, 3)[::-1]
        )
        lumas = []
        for r8 in range(8):
            for c8 in range(8):
                px = img[(r8 * h) // 8, (c8 * w) // 8]
                lumas.append(
                    299 * int(px[2]) + 587 * int(px[1]) + 114 * int(px[0])
                )
        total = sum(lumas)
        ph = 0
        for i, v in enumerate(lumas):
            if 64 * v > total:
                ph |= 1 << (63 - i)
        if ph >= 1 << 63:
            ph -= 1 << 64
        assert got[f] == (f, ph)


def test_video_dup_pairs_inverted_index_is_exact(spark):
    """Same exactness bar as the image/audio families: the registered
    pair set (frame-hash inverted index -> Jaccard >= tau) must equal
    the O(n^2) brute-force pair set over distinct frame-hash sets, and
    the truncated-twin planting must be non-vacuous."""
    from mr_py_spark.operators.multimodal import (
        _VARIANT_OFFSET,
        _VID_JACCARD,
        avi_variants,
        video_sig_of,
        video_table,
    )

    corpus = (
        video_table(spark, SF_DIR)
        .filter(F.col("doc_id") % 4 == 0)
        .unionByName(avi_variants(spark, SF_DIR))
    )
    sets = {}
    for r in video_sig_of(corpus).collect():
        sets.setdefault(r.doc_id, set()).add(r.fhash)
    ids = sorted(sets)
    brute = set()
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            inter = len(sets[da] & sets[db])
            if inter and inter / len(sets[da] | sets[db]) >= _VID_JACCARD:
                brute.add((da, db, inter, len(sets[da]), len(sets[db])))
    got = {
        (r.doc_a, r.doc_b, r.inter, r.n_a, r.n_b)
        for r in rows(spark, "video_dup_pairs")
    }
    assert got == brute
    assert any(b - a == _VARIANT_OFFSET for a, b, *_ in got)  # non-vacuous


def test_video_dup_pairs_capped_noop_without_hub(spark):
    """The df-capped production form equals the uncapped pair set on
    the hub-free fixture: no frame hash reaches the cap, so the
    broadcast anti-join strips nothing — the cap only ever acts on a
    hub that exists."""
    a = sorted(map(tuple, rows(spark, "video_dup_pairs")))
    b = sorted(map(tuple, rows(spark, "video_dup_pairs_capped")))
    assert a == b
    assert len(a) > 0


def test_video_dup_pairs_capped_drops_only_hub_pairs(spark):
    """Planted-hub semantics: inject a synthetic boilerplate frame
    hash into every doc's signature set (df = n_docs >> cap). The
    capped pair set over the hubbed corpus must equal the UNCAPPED
    pair set over the hub-stripped corpus — the cap removes exactly
    the hub rows and nothing else, so only hub-carried pairs drop."""
    from pyspark.sql import Row

    from mr_py_spark.operators.multimodal import video_pairs_from_sigs

    # small synthetic frame-set corpus: 40 docs in 20 twin pairs
    # (jaccard 2/4 = tau) plus a private filler frame per doc
    rows_ = []
    for d in range(40):
        base = d // 2 * 100
        rows_ += [Row(doc_id=d, fhash=base + k) for k in (1, 2)]
        rows_.append(Row(doc_id=d, fhash=10_000 + d))  # private frame
    sigs = spark.createDataFrame(rows_)
    # the hubbed corpus: every doc gains the boilerplate frame, plus 5
    # title-card-only clips whose WHOLE set is the hub frame
    hub = sigs.select("doc_id").distinct().withColumn("fhash", F.lit(-7))
    only_hub = spark.createDataFrame(
        [Row(doc_id=100 + i, fhash=-7) for i in range(5)]
    )
    hubbed = sigs.unionByName(hub.select("doc_id", "fhash")).unionByName(only_hub)
    cap = 8  # hub df = 45 >> cap; every real frame df <= 2
    capped_on_hubbed = {
        tuple(r) for r in video_pairs_from_sigs(hubbed, df_cap=cap).collect()
    }
    uncapped_on_clean = {
        tuple(r) for r in video_pairs_from_sigs(sigs).collect()
    }
    assert capped_on_hubbed == uncapped_on_clean
    assert len(capped_on_hubbed) == 20  # the twin pairs survive
    # without the cap the hub manufactures C(5,2) jaccard-1.0 pairs
    # between unrelated title-card-only clips
    uncapped_on_hubbed = {
        tuple(r) for r in video_pairs_from_sigs(hubbed).collect()
    }
    assert len(uncapped_on_hubbed) == 30


def test_dedup_containment_rare_gram_blocking_semantics(spark, tmp_path):
    """Pins the two rules future edits could silently break:
    (1) a subset-duplicate pair IS found when it shares a gram with
    df in [2,4] — doc 2 embeds doc 1 whole, so containment = 1.0;
    (2) docs that only share HOT grams (df > 4) are NEVER candidates,
    no matter how similar — the df cap is what bounds fan-out, so a
    regression here is a quadratic blowup, not a wrong number."""
    hot = "alpha beta gamma delta epsilon zeta eta"  # shared by 6 docs
    docs = spark.createDataFrame(
        [
            (1, "quick brown fox jumps over lazy dog", "en"),
            (2, "quick brown fox jumps over lazy dog tail tokens", "en"),
            # six hot-gram docs: every shared gram has df = 6 > 4
            *[(10 + i, hot, "en") for i in range(6)],
        ],
        "doc_id long, text string, lang string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    pairs = {
        (r.doc_a, r.doc_b): r.containment
        for r in REG["dedup_containment"].fn(spark, str(tmp_path)).collect()
    }
    assert set(pairs) == {(1, 2)}, pairs  # hot-gram clones invisible
    assert pairs[(1, 2)] == 1.0  # doc 1's gram set fully inside doc 2


def test_stream_outer_join_withholds_tail(spark, tmp_path):
    """Pins the watermark-withholding model the oracle encodes: a
    click is null-extended only once the min-of-sides watermark passes
    its match window (c_ts + 1h), and clicks inside the final
    delay+interval tail are withheld entirely — correct streaming
    semantics, not data loss. Hand-placed timestamps make each case
    unambiguous: final watermark = min(max click, max purchase) - 1h
    = 09:00."""
    from datetime import datetime

    def ev(eid, ts, uid, typ):
        return (eid, datetime(2024, 1, 1, *ts), uid, typ, 1.0, "{}")

    rows = [
        ev(1, (6, 0), 1, "click"),      # matched by eid 2
        ev(2, (6, 30), 1, "purchase"),
        ev(3, (6, 0), 2, "click"),      # no purchase; 07:00 < 09:00 -> null row
        ev(4, (8, 30), 3, "click"),     # 09:30 > 09:00 -> WITHHELD
        ev(5, (10, 0), 98, "click"),    # anchors: per-side max = 10:00
        ev(6, (10, 0), 99, "purchase"),
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    # one parquet FILE named events.parquet (the fixture layout — the
    # stream helper glob-filters on the file name, so a directory-
    # shaped Spark write would match nothing)
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    out = REG["stream_outer_join"].fn(spark, str(tmp_path)).collect()
    got = {(r.user_id, r.click_id, r.purchase_id) for r in out}
    assert got == {(1, 1, 2), (2, 3, None)}, got


def test_lsh_reband_gauge_and_actuator_demo(spark):
    """The re-band surface (r14): the gauge does NOT fire on the plain
    fixture index (no-op without planted growth — the never-reband
    default holds), and the registered actuator demo's contract holds
    end-to-end: planted weak-similarity growth trips it, the rewrite
    escalates to the next banding, collision mass drops below its
    before value, and a byte-identical probe is still recalled through
    the re-banded index."""
    from mr_py_spark.operators.dedup import (
        corpus_lsh_index,
        lsh_occupancy_frame,
        lsh_reband_needed,
    )

    # no-op without growth: the standing fixture index sits far below
    # the cap (most band buckets are singletons after the planted ~4%)
    assert not lsh_reband_needed(
        lsh_occupancy_frame(corpus_lsh_index(spark, SF_DIR)), band_rows=4
    )

    out = {
        r.metric: r.value
        for r in rows(spark, "lsh_reband_actuator")
    }
    assert out["fired"] == 1.0
    assert out["band_rows_after"] == 8.0
    assert out["collision_after"] < out["collision_before"]
    assert out["exact_probe_recalled"] == 1.0


def test_lsh_band_entries_band_rows_param_and_derivation(spark):
    """Parameterized banding invariants: band_rows must divide
    _N_HASHES (loud failure otherwise), the band_id range matches the
    banding, lsh_index_band_rows derives the banding back from any
    entries frame (the index is self-describing), and a full-signature
    (one-band) banding keys on ALL 16 components."""
    import pytest as _pytest

    from mr_py_spark.operators.dedup import (
        _N_HASHES,
        lsh_band_entries,
        lsh_index_band_rows,
        lsh_next_band_rows,
        minhash_signatures,
    )
    from mr_py_spark.sources import tbl

    sig = minhash_signatures(
        tbl(spark, SF_DIR, "documents").limit(20)
    )
    for r in (4, 8, 16):
        bands = lsh_band_entries(sig, r)
        n_bands = _N_HASHES // r
        ids = sorted(
            x.band_id for x in bands.select("band_id").distinct().collect()
        )
        assert ids == list(range(n_bands))
        assert lsh_index_band_rows(bands) == r
    with _pytest.raises(ValueError):
        lsh_band_entries(sig, 5)
    assert lsh_next_band_rows(4) == 8
    assert lsh_next_band_rows(8) == 16
    assert lsh_next_band_rows(16) == 16  # capped at one band
    # empty frame reports the build default
    assert lsh_index_band_rows(lsh_band_entries(sig.limit(0))) == 4


def test_lsh_table_band_rows_sidecar_lifecycle(spark, tmp_path):
    """The per-batch banding lookup must not scan the index (the
    replay-guard lesson): the sidecar answers after a derive-and-
    repair bootstrap, lsh_reband refreshes it in the same call, a
    vanished sidecar re-derives correctly, and table recreation at the
    same path clears it (a stale 8-row sidecar over a recreated 4-row
    table would band appends wrong)."""
    import os

    from mr_py_spark.operators.bucketed import n_buckets, sidecar_path
    from mr_py_spark.operators.dedup import (
        _LSH_INDEX_KEYS,
        lsh_band_entries,
        lsh_reband,
        lsh_table_band_rows,
        minhash_signatures,
    )
    from mr_py_spark.sources.sinks import write_bucketed

    docs = spark.createDataFrame(
        [(i, f"some text body number {i} " * 4) for i in range(30)],
        "doc_id long, text string",
    )
    table = "t_banding_sidecar"
    path = str(tmp_path / "idx")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed(
            lsh_band_entries(minhash_signatures(docs)), table,
            _LSH_INDEX_KEYS, n_buckets(spark), path=path,
        )
        side = sidecar_path(spark, table, "banding")
        assert not os.path.exists(side)
        assert lsh_table_band_rows(spark, table) == 4  # derive + repair
        assert os.path.exists(side)
        lsh_reband(spark, table, 8)
        assert lsh_table_band_rows(spark, table) == 8  # refreshed in-call
        import shutil

        os.remove(side)  # r16: the sidecar is a JSON file, not a dir
        assert lsh_table_band_rows(spark, table) == 8  # re-derive correct
        # crash window: a rebuild WITHOUT the sidecar refresh (a crash
        # between lsh_reband's swap and its sidecar write) must not
        # serve the stale banding — the swap installs a directory
        # without the sidecar, which forces a re-derive
        from mr_py_spark.operators.bucketed import replace_bucketed_table
        from mr_py_spark.operators.dedup import lsh_index_band_rows as _derive

        assert lsh_table_band_rows(spark, table) == 8  # sidecar warm
        sig2 = spark.table(table).filter(F.col("band_id") == 0).select(
            "doc_id", *[f"mh{i}" for i in range(16)]
        )
        replace_bucketed_table(
            spark, table, lsh_band_entries(sig2, 16), _LSH_INDEX_KEYS
        )  # the swap alone; the 8-row sidecar left with the old dir
        assert _derive(spark.table(table)) == 16
        assert lsh_table_band_rows(spark, table) == 16  # healed, not 8
        # recreation clears the sidecar
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(path, ignore_errors=True)
        write_bucketed(
            lsh_band_entries(minhash_signatures(docs)), table,
            _LSH_INDEX_KEYS, n_buckets(spark), path=path,
        )
        assert not os.path.exists(side)
        assert lsh_table_band_rows(spark, table) == 4
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_lsh_gauge_incremental_exact_zero_io_and_replay(spark, tmp_path, monkeypatch):
    """The O(delta) gauge (VERDICT r14 item 1 — the in-loop full gauge
    was an index-sized groupBy + corpus-wide distinct every 8 batches):

    - the incrementally-maintained sufficient statistics match the
      exact one-pass recompute EXACTLY (integer mass, not an
      estimator) through bootstrap, two appends, and a re-band refresh;
    - the warm check path reads ZERO index data (spark.table is forced
      to raise — the decision is a 1-file sidecar read);
    - a ``batch_max_id`` read serves the PRE-batch snapshot (the
      replay discipline: original and replay decide on the same view);
    - a crash-retry double-bump is a no-op (the bump watermark)."""
    from mr_py_spark.operators.bucketed import n_buckets
    from mr_py_spark.operators.dedup import (
        _LSH_INDEX_KEYS,
        _lsh_gauge_bump,
        _lsh_gauge_full,
        lsh_band_entries,
        lsh_gauge_stats,
        lsh_index_append,
        lsh_reband,
        lsh_table_band_rows,
        minhash_signatures,
    )
    from mr_py_spark.sources.sinks import write_bucketed

    def mk(ids):
        # every other doc shares one of two texts -> real band-bucket
        # collisions, so mass > 0 and every append moves it
        return spark.createDataFrame(
            [(i, f"shared body text variant {i % 2} " * 6) for i in ids],
            "doc_id long, text string",
        )

    def exact():
        m, nd, _ = _lsh_gauge_full(spark.table(table))
        return {"mass": m, "n_docs": nd}

    def entries_of(ids):
        return lsh_band_entries(
            minhash_signatures(mk(ids)), lsh_table_band_rows(spark, table)
        )

    table = "t_gauge_stats"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed(
            lsh_band_entries(minhash_signatures(mk(range(20)))),
            table, _LSH_INDEX_KEYS, n_buckets(spark), path=str(tmp_path / "idx"),
        )
        s0 = lsh_gauge_stats(spark, table)  # bootstrap (exact, repairs)
        assert s0 == exact() and s0["n_docs"] == 20 and s0["mass"] > 0
        lsh_index_append(entries_of(range(100, 110)), table)  # bump O(delta)
        s1 = lsh_gauge_stats(spark, table)
        assert s1 == exact() and s1["n_docs"] == 30
        lsh_index_append(entries_of(range(200, 210)), table)
        s2 = lsh_gauge_stats(spark, table)
        assert s2 == exact() and s2["n_docs"] == 40
        # replay discipline: a check on behalf of the already-bumped
        # batch (max id 209 <= bump watermark) sees the PRE-batch stats
        assert lsh_gauge_stats(spark, table, batch_max_id=209) == s1
        assert lsh_gauge_stats(spark, table, batch_max_id=210) == s2
        # crash-retry: re-bumping the same delta is a watermark no-op
        entries = lsh_band_entries(
            minhash_signatures(mk(range(200, 210))),
            lsh_table_band_rows(spark, table),
        )
        _lsh_gauge_bump(spark, table, entries)
        assert lsh_gauge_stats(spark, table) == s2 == exact()
        # warm check path: NO index read at all
        monkeypatch.setattr(
            type(spark), "table",
            lambda self, name: (_ for _ in ()).throw(
                AssertionError("warm gauge check scanned the index")
            ),
        )
        assert lsh_gauge_stats(spark, table) == s2
        assert lsh_gauge_stats(spark, table, batch_max_id=209) == s1
        monkeypatch.undo()
        # re-band refreshes the statistics exactly at the new banding
        out = lsh_reband(spark, table, 8)
        assert out["n_docs"] == 40
        assert lsh_gauge_stats(spark, table) == exact()
    finally:
        monkeypatch.undo()
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_lsh_gauge_bump_nonmonotone_ids_skip_stale_low(spark, tmp_path):
    """r16 (VERDICT r15 item 4): the gauge's id-monotony precondition
    is pinned. A batch STRADDLING the bump watermark (min ≤ wm < max —
    impossible under monotone ingest) is skipped WITH a warning, never
    partially bumped (bumping the mixture would double-count replayed
    mass permanently; the skip is stale-LOW, recovered by the next
    re-band's exact refresh). A wholly-below-watermark fresh batch is
    indistinguishable from a replay and is skipped silently — the
    documented consequence of violating the contract. lsh_reband's
    exact recompute then re-counts every skipped row."""
    import pytest

    from mr_py_spark.operators.bucketed import n_buckets
    from mr_py_spark.operators.dedup import (
        _LSH_INDEX_KEYS,
        _lsh_gauge_bump,
        _lsh_gauge_full,
        lsh_band_entries,
        lsh_gauge_stats,
        lsh_index_append,
        lsh_table_band_rows,
        minhash_signatures,
    )
    from mr_py_spark.sources.sinks import write_bucketed

    def mk(ids):
        return spark.createDataFrame(
            [(i, f"shared body text variant {i % 2} " * 6) for i in ids],
            "doc_id long, text string",
        )

    def entries_of(ids):
        return lsh_band_entries(
            minhash_signatures(mk(ids)), lsh_table_band_rows(spark, table)
        )

    table = "t_gauge_monotone"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed(
            lsh_band_entries(minhash_signatures(mk(range(20)))),
            table, _LSH_INDEX_KEYS, n_buckets(spark), path=str(tmp_path / "idx"),
        )
        lsh_gauge_stats(spark, table)  # bootstrap the sidecar
        lsh_index_append(entries_of(range(100, 110)), table)  # wm -> 109
        s = lsh_gauge_stats(spark, table)
        # straddling batch (105..114): warned, NOT bumped
        straddle = entries_of(range(105, 115))
        with pytest.warns(UserWarning, match="id-monotony"):
            _lsh_gauge_bump(spark, table, straddle)
        assert lsh_gauge_stats(spark, table) == s
        # wholly-low fresh batch (50..59): silent replay-skip
        _lsh_gauge_bump(spark, table, entries_of(range(50, 60)))
        assert lsh_gauge_stats(spark, table) == s
        # the skipped rows DO land in the table (the index is
        # id-agnostic); the gauge runs stale-LOW until the re-band's
        # exact refresh re-counts them
        write_bucketed(
            entries_of(range(50, 60)), table, _LSH_INDEX_KEYS, mode="append",
        )
        m, nd, _ = _lsh_gauge_full(spark.table(table))
        assert lsh_gauge_stats(spark, table)["n_docs"] < nd  # stale-LOW
        from mr_py_spark.operators.dedup import lsh_reband

        lsh_reband(spark, table, 8)
        m2, nd2, _ = _lsh_gauge_full(spark.table(table))
        assert lsh_gauge_stats(spark, table) == {"mass": m2, "n_docs": nd2}
        assert lsh_gauge_stats(spark, table)["n_docs"] == 40
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_raise_watermark_closes_mixed_mode_replay(spark, tmp_path):
    """ADVICE r14: replay_guard's soundness precondition (every append
    raises the watermark first) is now ENFORCED by the append helpers —
    an idempotent=False append of above-watermark ids no longer lets a
    later idempotent replay of those rows take the zero-I/O fast path
    and re-admit duplicates. Also pins the absent-sidecar rule: while
    no watermark exists, raise_watermark leaves it absent (a
    batch-local max could land BELOW pre-existing ids — stale-LOW)."""
    import os

    from mr_py_spark.operators.bucketed import (
        append_entries,
        n_buckets,
        raise_watermark,
        replay_guard,
        sidecar_path,
    )
    from mr_py_spark.sources.sinks import write_bucketed

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in ids], "vec_id long, v array<double>"
        )

    from mr_py_spark.operators.similarity import ivf_assign_with

    def append_cells(cent, new_vectors, table, idempotent):
        append_entries(
            table, ivf_assign_with(cent, new_vectors), "vec_id", idempotent
        )

    table = "t_rwm_mixed"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        cent = spark.createDataFrame(
            [(0, [1.0, 0.0])], "cid long, cv array<double>"
        )
        write_bucketed(
            ivf_assign_with(cent, vecs(range(5))), table, "bucket",
            n_buckets(spark), path=str(tmp_path / "ivf"),
        )
        wm_path = sidecar_path(spark, table, "rwm")
        # absent sidecar: raise_watermark must NOT invent one
        raise_watermark(spark, table, vecs([100]), "vec_id")
        assert not os.path.exists(wm_path)
        # an idempotent append bootstraps the watermark (full max)
        append_cells(cent, vecs(range(5, 8)), table, idempotent=True)
        # the mixed-mode hole: a NON-idempotent append of higher ids...
        append_cells(cent, vecs(range(10, 13)), table, idempotent=False)
        # ...must have raised the watermark, so an idempotent REPLAY of
        # exactly those rows admits nothing
        before = spark.table(table).count()
        append_cells(cent, vecs(range(10, 13)), table, idempotent=True)
        assert spark.table(table).count() == before
        # and replay_guard itself sees them as suspects, not fast-path
        kept = replay_guard(spark, table, vecs(range(10, 13)), "vec_id")
        assert kept.count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_drift_ref_stats_pinned_generation(spark, tmp_path):
    """The generation-pinned drift reference (r15 — the semantic twin
    of the O(delta) LSH gauge): bootstrap equals the exact
    ivf_drift_frame indexed-cohort stats; the warm path reads ZERO
    index data (assigned=None would crash the bootstrap branch); an
    empty cohort is returned but never pinned; appends leave the
    reference pinned (the drift-masking fix); a retrain swap resets it
    to the new generation's cohort; and the pinned decision agrees
    with the exact rule on both a healthy and a planted-drift batch."""
    import os

    import numpy as np

    from mr_py_spark.operators.bucketed import (
        n_buckets,
        replace_bucketed_table,
        sidecar_path,
    )
    from mr_py_spark.operators.similarity import (
        delta_p05,
        drift_degraded,
        drift_degraded_pinned,
        drift_ref_stats,
        ivf_assign_with,
        ivf_drift_frame,
    )
    from mr_py_spark.sources.sinks import write_bucketed

    def vecs(ids, axis):
        base = np.zeros(4)
        base[axis] = 1.0
        rng = np.random.RandomState(7)
        out = []
        for i in ids:
            v = base + 0.05 * rng.standard_normal(4)
            v /= np.linalg.norm(v)
            out.append((i, [float(x) for x in v]))
        return spark.createDataFrame(out, "vec_id long, v array<double>")

    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cid long, cv array<double>",
    )
    table = "t_drift_ref"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        corpus = vecs(range(40), 0)
        write_bucketed(
            ivf_assign_with(cent, corpus), table, "bucket", n_buckets(spark),
            path=str(tmp_path / "idx"),
        )
        assigned = spark.table(table)
        # bootstrap == the exact frame's indexed cohort
        ref = drift_ref_stats(spark, cent, table, assigned)
        exact = {
            r.cohort: r
            for r in ivf_drift_frame(cent, assigned, vecs([99], 0)).collect()
        }["indexed"]
        assert ref["n_vecs"] == exact.n_vecs
        assert ref["p05_top1"] == float(exact.p05_top1)
        # warm path: no index access at all (bootstrap would raise)
        assert drift_ref_stats(spark, cent, table, None) == ref
        # append does NOT move the pinned reference
        write_bucketed(
            ivf_assign_with(cent, vecs(range(100, 120), 1)), table,
            "bucket", mode="append",
        )
        assert drift_ref_stats(spark, cent, table, None) == ref
        # decisions agree with the exact rule on both cohorts
        healthy, drifted = vecs(range(200, 220), 0), vecs(range(300, 320), 2)
        pre = spark.table(table)
        for batch in (healthy, drifted):
            assert drift_degraded_pinned(
                ref, delta_p05(cent, batch)
            ) == drift_degraded(ivf_drift_frame(cent, pre, batch))
        assert drift_degraded_pinned(ref, delta_p05(cent, drifted))
        assert not drift_degraded_pinned(ref, delta_p05(cent, healthy))
        # empty cohort: returned, never pinned
        side = sidecar_path(spark, table, "drift_ref")
        os.remove(side)
        empty = drift_ref_stats(
            spark, cent, table, spark.table(table).limit(0)
        )
        assert empty["n_vecs"] == 0 and not os.path.exists(side)
        ref2 = drift_ref_stats(spark, cent, table, spark.table(table))
        assert ref2["n_vecs"] == 60 and os.path.exists(side)
        # a generation swap resets the reference to the new cohort
        replace_bucketed_table(
            spark, table, ivf_assign_with(cent, vecs(range(400, 410), 1)),
            "bucket",
        )
        ref3 = drift_ref_stats(spark, cent, table, spark.table(table))
        assert ref3["n_vecs"] == 10 and ref3 != ref2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_pin_drift_ref_at_creation(spark, tmp_path):
    """r16 (VERDICT r15 item 3): generation writers pin the drift
    reference AT CREATION — a check before any append equals the
    at-creation cohort (no bootstrap frame needed, zero index I/O),
    appends between creation and the first scheduled check can no
    longer join the reference cohort, pin OVERWRITES a stale leftover
    sidecar, and ivf_retrain pins the NEW generation immediately (a
    post-retrain warm check equals the rebuilt cohort's exact stats,
    before any check ever ran on that generation)."""
    import os

    import numpy as np

    from mr_py_spark.operators.bucketed import (
        n_buckets,
        replace_bucketed_table,
        sidecar_path,
    )
    from mr_py_spark.operators.similarity import (
        _drift_ref_compute,
        drift_ref_stats,
        ivf_assign_with,
        ivf_retrain,
        pin_drift_ref,
    )
    from mr_py_spark.sources.sinks import write_bucketed

    def vecs(ids, axis):
        base = np.zeros(4)
        base[axis] = 1.0
        rng = np.random.RandomState(11)
        out = []
        for i in ids:
            v = base + 0.05 * rng.standard_normal(4)
            v /= np.linalg.norm(v)
            out.append((i, [float(x) for x in v]))
        return spark.createDataFrame(out, "vec_id long, v array<double>")

    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cid long, cv array<double>",
    )
    cent_t, idx_t = "t_pin_cent", "t_pin_idx"
    for t in (cent_t, idx_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        write_bucketed(cent, cent_t, "cid", n_buckets(spark), path=str(tmp_path / "c"))
        write_bucketed(
            ivf_assign_with(cent, vecs(range(30), 0)), idx_t, "bucket",
            n_buckets(spark), path=str(tmp_path / "i"),
        )
        # creation-time pin: warm check BEFORE any append == the
        # at-creation cohort, no bootstrap frame supplied
        pinned = pin_drift_ref(spark, cent, idx_t)
        assert pinned["n_vecs"] == 30
        assert drift_ref_stats(spark, cent, idx_t, None) == pinned
        # an append between creation and the first check cannot join
        # the reference cohort
        write_bucketed(
            ivf_assign_with(cent, vecs(range(100, 140), 1)), idx_t,
            "bucket", mode="append",
        )
        assert drift_ref_stats(spark, cent, idx_t, None) == pinned
        # pin overwrites a stale sidecar (creation defines the
        # generation — drift_ref_stats would have trusted the leftover)
        repinned = pin_drift_ref(spark, cent, idx_t)
        assert repinned["n_vecs"] == 70
        assert drift_ref_stats(spark, cent, idx_t, None) == repinned
        # retrain pins the NEW generation immediately: the sidecar
        # exists post-swap and equals the rebuilt cohort's exact stats
        ivf_retrain(spark, cent_t, idx_t, nlist=2)
        side = sidecar_path(spark, idx_t, "drift_ref")
        assert os.path.exists(side)
        exact = _drift_ref_compute(
            spark.table(cent_t),
            spark.table(idx_t).select("vec_id", "bucket", "v"),
        )
        assert drift_ref_stats(spark, spark.table(cent_t), idx_t, None) == exact
    finally:
        for t in (cent_t, idx_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_minhash_delta_status_planted(spark):
    """incremental_minhash_dedup's core on planted docs: a delta
    near-dup of a corpus doc is 'dup_of_corpus' (min corpus partner),
    a delta near-dup of a LOWER-id delta doc is 'dup_within_delta',
    distinct content is 'new', and corpus precedence beats
    within-delta. Deterministic across runs."""
    from pyspark.sql import Row

    from mr_py_spark.operators.dedup import minhash_delta_status

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    other = "completely different content about spark engines and parquet files "
    corpus = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=base + "suffix")]
    )
    delta = spark.createDataFrame(
        [
            Row(doc_id=10, text=base + "tail words"),  # dups corpus 1 AND 2
            Row(doc_id=11, text=other),
            Row(doc_id=12, text=other + "plus"),  # dups delta 11
            Row(doc_id=13, text="entirely novel words " * 10),
        ]
    )
    out1 = {r.doc_id: (r.status, r.match_id) for r in minhash_delta_status(corpus, delta).collect()}
    assert out1[10] == ("dup_of_corpus", 1)  # min corpus partner, corpus wins
    assert out1[11] == ("new", None)
    assert out1[12] == ("dup_within_delta", 11)
    assert out1[13] == ("new", None)
    out2 = {r.doc_id: (r.status, r.match_id) for r in minhash_delta_status(corpus, delta).collect()}
    assert out1 == out2


def test_incremental_minhash_dedup_invariants(spark):
    """Fixture-level invariants: exactly one row per delta doc; every
    corpus match points into the corpus bucket, every within-delta
    match at a LOWER delta doc_id; statuses within the enum."""
    from mr_py_spark.operators.dedup import (
        _INC_BUCKETS,
        _INC_DELTA_BUCKET,
        _INC_MULT,
    )

    out = rows(spark, "incremental_minhash_dedup")
    delta_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter((F.col("doc_id") * _INC_MULT) % _INC_BUCKETS == _INC_DELTA_BUCKET)
        .select("doc_id")
        .collect()
    }
    assert {r.doc_id for r in out} == delta_ids
    assert len(out) == len(delta_ids)
    for r in out:
        assert r.status in ("dup_of_corpus", "dup_within_delta", "new")
        if r.status == "dup_of_corpus":
            assert (r.match_id * _INC_MULT) % _INC_BUCKETS != _INC_DELTA_BUCKET
        elif r.status == "dup_within_delta":
            assert r.match_id in delta_ids and r.match_id < r.doc_id
        else:
            assert r.match_id is None


def test_incremental_minhash_indexed_matches_recompute(spark):
    """The standing-index form must return EXACTLY the recomputing
    form's frame: corpus_lsh_index materializes lsh_band_entries of
    the same corpus split, so (status, match_id) per delta doc are
    bit-identical. This is the correctness anchor for the O(delta)
    production path."""
    a = sorted(map(tuple, rows(spark, "incremental_minhash_dedup")))
    b = sorted(map(tuple, rows(spark, "incremental_minhash_dedup_indexed")))
    assert a == b
    assert len(a) > 0


def test_lsh_index_append_maintenance(spark, tmp_path):
    """Index upkeep end-to-end on a PRIVATE table: triage a delta
    against the index, admit its survivors via lsh_index_append, and
    the same docs re-triage as dup_of_corpus (each matches its own
    index entry at sim 1.0; earlier admissions win min-partner) —
    per-snapshot cost never re-bands the standing corpus."""
    from pyspark.sql import Row

    from mr_py_spark.operators.bucketed import n_buckets
    from mr_py_spark.operators.dedup import (
        _LSH_INDEX_KEYS,
        lsh_band_entries,
        lsh_index_append,
        minhash_delta_status,
        minhash_signatures,
    )
    from mr_py_spark.sources.sinks import write_bucketed

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    other = "completely different content about spark engines and parquet files "
    corpus = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=base + "suffix")]
    )
    delta = spark.createDataFrame(
        [
            Row(doc_id=10, text=base + "tail words"),
            Row(doc_id=11, text=other),
            Row(doc_id=12, text=other + "plus"),
            Row(doc_id=13, text="entirely novel words " * 10),
        ]
    )
    table = "mrps_test_lsh_maint"
    try:
        write_bucketed(
            lsh_band_entries(minhash_signatures(corpus)),
            table,
            _LSH_INDEX_KEYS,
            n_buckets(spark),
            path=str(tmp_path / "idx"),
        )
        out1 = {
            r.doc_id: (r.status, r.match_id)
            for r in minhash_delta_status(
                None, delta, corpus_bands=spark.table(table)
            ).collect()
        }
        assert out1[10] == ("dup_of_corpus", 1)
        assert out1[11] == ("new", None)
        assert out1[12] == ("dup_within_delta", 11)
        assert out1[13] == ("new", None)
        # admit the snapshot's survivors (status 'new') to the index
        lsh_index_append(
            lsh_band_entries(
                minhash_signatures(delta.filter(F.col("doc_id").isin([11, 13])))
            ),
            table,
        )
        out2 = {
            r.doc_id: (r.status, r.match_id)
            for r in minhash_delta_status(
                None, delta, corpus_bands=spark.table(table)
            ).collect()
        }
        # corpus precedence now wins everywhere: 11/13 match their own
        # entries, 12's partner 11 is corpus now, 10 unchanged
        assert out2[10] == ("dup_of_corpus", 1)
        assert out2[11] == ("dup_of_corpus", 11)
        assert out2[12] == ("dup_of_corpus", 11)
        assert out2[13] == ("dup_of_corpus", 13)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_knn_ivf_indexed_matches_per_run(spark):
    """The standing-index ANN form returns EXACTLY the per-run form's
    frame: ivf_index persists the same deterministic centroids and
    argmax assignment knn_ivf_topk recomputes, so probe sets,
    candidates, and ranks coincide bit-for-bit."""
    a = sorted(map(tuple, rows(spark, "knn_ivf_topk")))
    b = sorted(map(tuple, rows(spark, "knn_ivf_topk_indexed")))
    assert a == b
    assert len(a) > 0


def test_dedup_minhash_capped_noop_on_fixture(spark):
    """The stop-bucket cap must be a proven no-op on the fixture: max
    band-bucket occupancy is asserted below the cap (so the equality
    is meaningful, not vacuous), and the capped pair set equals the
    uncapped one."""
    from mr_py_spark.operators.dedup import (
        _LSH_BUCKET_CAP,
        lsh_band_entries,
        minhash_signatures,
    )
    from mr_py_spark.sources import tbl

    bands = lsh_band_entries(
        minhash_signatures(tbl(spark, SF_DIR, "documents"))
    )
    max_occ = (
        bands.groupBy("band_id", "band_key")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_occ < _LSH_BUCKET_CAP, max_occ
    a = sorted(map(tuple, rows(spark, "dedup_minhash")))
    b = sorted(map(tuple, rows(spark, "dedup_minhash_capped")))
    assert a == b
    assert len(a) > 0


def test_dedup_minhash_capped_drops_only_mega_cluster(spark):
    """Planted mega-cluster semantics: 100 byte-identical copies (every
    band bucket they occupy exceeds the cap) plus one normal near-dup
    pair. The capped miner drops ALL intra-cluster pairs and keeps the
    normal pair — pairs sharing any sub-cap bucket survive."""
    from pyspark.sql import Row

    from mr_py_spark.operators.dedup import (
        lsh_band_entries,
        minhash_pairs_from_bands,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    other = "completely different content about spark engines and parquet files " * 3
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=base) for i in range(100)]
        + [Row(doc_id=200, text=other), Row(doc_id=201, text=other + " tail")]
    )
    bands = lsh_band_entries(minhash_signatures(docs))
    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_pairs_from_bands(bands, bucket_cap=16).collect()
    }
    assert (200, 201) in capped  # the normal pair survives
    assert all(a >= 200 for a, _ in capped), capped  # no mega-cluster pairs
    # and the uncapped form on the same bands does emit cluster pairs
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in minhash_pairs_from_bands(bands).collect()
    }
    assert (0, 1) in uncapped and len(uncapped) > len(capped)


def test_ivf_index_append_consistency(spark, tmp_path):
    """IVF maintenance: appending a delta assigned against the
    EXISTING centroids yields a table bit-identical to a full rebuild
    with those centroids — assignment is a pure function of the
    centroid frame, so incremental upkeep never drifts from batch."""
    from mr_py_spark.operators.bucketed import append_entries, n_buckets
    from mr_py_spark.operators.similarity import (
        _emb_double,
        _ivf_centroids,
        ivf_assign_with,
    )
    from mr_py_spark.sources import tbl
    from mr_py_spark.sources.sinks import write_bucketed

    e = _emb_double(tbl(spark, SF_DIR, "embeddings"), "v")
    sub = e.filter(F.col("vec_id") < 150)
    delta = e.filter(F.col("vec_id") >= 150)
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(_ivf_centroids(spark, sub, 16))],
        "cid long, cv array<double>",
    )
    table = "mrps_test_ivf_maint"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed(
            ivf_assign_with(cent, sub), table, "bucket", n_buckets(spark),
            path=str(tmp_path / "idx"),
        )
        append_entries(table, ivf_assign_with(cent, delta), "vec_id")
        merged = sorted(
            (r.vec_id, r.bucket, tuple(r.v))
            for r in spark.table(table).collect()
        )
        rebuilt = sorted(
            (r.vec_id, r.bucket, tuple(r.v))
            for r in ivf_assign_with(cent, e).collect()
        )
        assert merged == rebuilt
        assert len(merged) == e.count()
        # REPLAY guard (VERDICT r12 item 1): an idempotent re-append of
        # the same delta is a no-op — the table stays bit-identical.
        append_entries(
            table, ivf_assign_with(cent, delta), "vec_id", idempotent=True
        )
        replayed = sorted(
            (r.vec_id, r.bucket, tuple(r.v))
            for r in spark.table(table).collect()
        )
        assert replayed == merged
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_semantic_delta_status_planted(spark):
    """Incremental semantic dedup: planted
    statuses over a controlled corpus/delta. Corpus lives in dims 0-5;
    the delta plants (a) an exact copy of a corpus vector ->
    dup_of_corpus with a genuinely-tau-close corpus match, (b) a
    vector orthogonal to the whole corpus -> new, (c) a near-copy of
    (b) with a higher vec_id -> dup_within_delta matching (b). One
    status per delta vector, corpus ids never appear as delta rows,
    and the triage is deterministic."""
    import numpy as np

    from mr_py_spark.operators.kmeans import _TAU
    from mr_py_spark.operators.similarity import (
        _ivf_centroids,
        ivf_assign_with,
        semantic_delta_status,
    )

    rng = np.random.RandomState(3)
    X = rng.randn(200, 6)
    X = np.hstack([X, np.zeros((200, 2))])  # dims 6,7 free for plants
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(200)],
        "vec_id long, v array<double>",
    )
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(_ivf_centroids(spark, corpus, 8))],
        "cid long, cv array<double>",
    )
    assigned = ivf_assign_with(cent, corpus)
    e7 = [0.0] * 6 + [0.0, 1.0]
    twin = np.array([0.0] * 6 + [0.05, 1.0])
    twin = [float(x) for x in twin / np.linalg.norm(twin)]
    delta = spark.createDataFrame(
        [(1000, [float(x) for x in X[5]]), (1001, e7), (1002, twin)],
        "vec_id long, v array<double>",
    )

    def triage():
        return semantic_delta_status(ivf_assign_with(cent, delta), assigned)

    out = {r.vec_id: (r.status, r.match_id) for r in triage().collect()}
    assert set(out) == {1000, 1001, 1002}  # one status per delta vec
    s, m = out[1000]
    assert s == "dup_of_corpus" and m is not None and m <= 5
    assert float(X[m] @ X[5]) >= _TAU  # the match is genuinely tau-close
    assert out[1001] == ("new", None)
    assert out[1002] == ("dup_within_delta", 1001)
    out2 = {r.vec_id: (r.status, r.match_id) for r in triage().collect()}
    assert out2 == out  # deterministic


def test_incremental_semantic_dedup_fixture_sanity(spark):
    """The registered form on the fixture: one row per delta vector
    (the _INC split applied to vec_id), statuses in the enum, every
    match_id a CORPUS id (never a delta id for dup_of_corpus, always a
    lower delta id for dup_within_delta), and every claimed match
    genuinely at cosine >= tau."""
    import numpy as np

    from mr_py_spark.operators.dedup import (
        _INC_BUCKETS,
        _INC_DELTA_BUCKET,
        _INC_MULT,
    )
    from mr_py_spark.operators.kmeans import _TAU
    from mr_py_spark.sources import tbl

    reg = load_all()
    rows = reg["incremental_semantic_dedup"].fn(spark, SF_DIR).collect()
    e = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in tbl(spark, SF_DIR, "embeddings").collect()
    }
    delta_ids = {
        v for v in e if (v * _INC_MULT) % _INC_BUCKETS == _INC_DELTA_BUCKET
    }
    assert {r.vec_id for r in rows} == delta_ids
    for r in rows:
        if r.status == "dup_of_corpus":
            assert r.match_id not in delta_ids
            assert float(e[r.match_id] @ e[r.vec_id]) >= _TAU
        elif r.status == "dup_within_delta":
            assert r.match_id in delta_ids and r.match_id < r.vec_id
            assert float(e[r.match_id] @ e[r.vec_id]) >= _TAU
        else:
            assert r.status == "new" and r.match_id is None


@pytest.mark.parametrize("cells", ["flat", "hier"])
def test_semantic_delta_status_kernels_bit_equal(spark, cells):
    """The arrow kernel (cogrouped fold-order numpy verify, the default
    path) and the declarative join kernel (cell equi-join + Catalyst
    fold-dot, the semantics reference) must produce IDENTICAL status
    frames on the flat IVF cells (bucket) and the two-level cells
    (bucket, leaf) — _fold_order_blocks replays the exact float64 op
    sequence of functions.dot, so even knife-edge tau pairs cannot flip
    between engines."""
    from mr_py_spark.operators.dedup import (
        _INC_BUCKETS,
        _INC_DELTA_BUCKET,
        _INC_MULT,
    )
    from mr_py_spark.operators.hier import _CELL, hier_assign, hier_corpus_index
    from mr_py_spark.operators.similarity import (
        _emb_double,
        ivf_assign_with,
        ivf_corpus_index,
        semantic_delta_status,
    )
    from mr_py_spark.sources import tbl

    e = _emb_double(tbl(spark, SF_DIR, "embeddings"), "v")
    delta = e.filter(
        (F.col("vec_id") * F.lit(_INC_MULT)) % F.lit(_INC_BUCKETS)
        == _INC_DELTA_BUCKET
    )
    if cells == "flat":
        cent, assigned = ivf_corpus_index(spark, SF_DIR)
        d_asg, cell = ivf_assign_with(cent, delta), ("bucket",)
    else:
        root, leaf, assigned = hier_corpus_index(spark, SF_DIR)
        d_asg, cell = hier_assign(ivf_assign_with(root, delta), leaf), _CELL
    a, j = (
        sorted(
            tuple(r)
            for r in semantic_delta_status(
                d_asg, assigned, cell, kernel=kernel
            ).collect()
        )
        for kernel in ("arrow", "join")
    )
    assert a == j and len(a) > 0


def test_fold_order_kernel_block_size_independent(monkeypatch):
    """Row-blocking the fold-order kernel changes WHICH pairs share an
    allocation, never any pair's float64 op sequence: with the block
    cap forced to a few cells (every row its own block) the sim matrix
    must be BITWISE identical to the default 128 MB blocks — the skew
    guard cannot move answers. Also pins the fold order itself against
    a per-pair left-to-right reference (what functions.dot computes),
    on values where BLAS pairwise summation WOULD differ."""
    import numpy as np

    import mr_py_spark.operators.similarity as sim

    rng = np.random.RandomState(17)
    # mixed magnitudes make float64 summation order observable
    A = rng.randn(23, 16) * np.logspace(-8, 8, 16)
    B = rng.randn(11, 16) * np.logspace(8, -8, 16)
    base = sim._fold_order_sims(A, B)
    monkeypatch.setattr(sim, "_FOLD_BLOCK_CELLS", 7)
    tiny = sim._fold_order_sims(A, B)
    assert tiny.tobytes() == base.tobytes()
    # per-pair sequential fold reference (the Catalyst op sequence)
    for i in (0, 5, 22):
        for j in (0, 10):
            acc = 0.0
            for d in range(16):
                acc = acc + A[i, d] * B[j, d]
            assert base[i, j] == acc  # bitwise
    # Context, not an assertion: on THIS numpy's BLAS the pairwise-
    # summed matmul usually differs from the fold on this data (what
    # makes the kernel's order-preservation non-vacuous); a BLAS-free
    # numpy whose matmul happens to accumulate left-to-right agrees,
    # which is fine — the property under test is the two asserts above.
    if not (A @ B.T != base).any():
        pytest.skip("this numpy's matmul is sequentially-accumulated")


def test_ivf_drift_monitor_moves_on_planted_drift(spark):
    """The drift monitor (VERDICT r12 item 7) must (a) sit level when
    the delta is drawn from the indexed distribution and (b) drop when
    the delta lives in a subspace the quantizer never saw — the signal
    that schedules a retrain."""
    import numpy as np

    from mr_py_spark.operators.similarity import (
        _ivf_centroids,
        ivf_assign_with,
        ivf_drift_frame,
    )

    rng = np.random.RandomState(11)
    X = rng.randn(400, 6)
    X = np.hstack([X, np.zeros((400, 2))])
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(300)],
        "vec_id long, v array<double>",
    )
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(_ivf_centroids(spark, corpus, 8))],
        "cid long, cv array<double>",
    )
    assigned = ivf_assign_with(cent, corpus)
    in_dist = spark.createDataFrame(
        [(1000 + i, [float(x) for x in X[300 + i]]) for i in range(100)],
        "vec_id long, v array<double>",
    )
    D = rng.randn(100, 2)  # drifted: all mass in the unseen dims 6,7
    D = np.hstack([np.zeros((100, 6)), D])
    D /= np.linalg.norm(D, axis=1, keepdims=True)
    drifted = spark.createDataFrame(
        [(2000 + i, [float(x) for x in D[i]]) for i in range(100)],
        "vec_id long, v array<double>",
    )

    def stats(delta):
        return {
            r.cohort: (r.n_vecs, r.mean_top1, r.p05_top1)
            for r in ivf_drift_frame(cent, assigned, delta).collect()
        }

    level = stats(in_dist)
    moved = stats(drifted)
    assert level["indexed"][0] == 300 and level["delta"][0] == 100
    # in-distribution delta: mean within noise of the indexed cohort
    assert abs(level["delta"][1] - level["indexed"][1]) < 0.15
    # drifted delta: orthogonal to every centroid -> scores collapse
    assert moved["delta"][1] < 0.1 < moved["indexed"][1]
    assert moved["delta"][1] < moved["indexed"][1] - 0.3


def test_drift_stats_do_not_depend_on_partitioning(spark):
    """The drift cohort statistics (``ivf_drift_frame`` and the pinned
    reference share them) over one scored frame are bitwise equal at 1
    and 5 partitions: the mean sums in DECIMAL, so its last digit no
    longer follows the partition count."""
    import struct

    import numpy as np

    from mr_py_spark.operators.similarity import _top1_stats

    scores = np.random.RandomState(23).uniform(-0.2, 1.0, 5000)
    df = spark.createDataFrame([(float(x),) for x in scores], "score double")

    def stats(parts):
        row = df.repartition(parts).agg(*_top1_stats()).first()
        return [struct.pack("<d", x) if isinstance(x, float) else x for x in row]

    assert stats(1) == stats(5)


def test_gen_sf_mutate_structure():
    """Pins the mutation invariants the sf100 near-dup evidence rests
    on (SCALE.md r11): deterministic across calls; light copies keep
    most 3-token shingles (near-dups); heavy copies break EVERY
    shingle (distinct docs); replacement tokens are globally unique
    per (doc, copy, position) — the salt-collision fix."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(root, "scripts", "gen_sf.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    text = " ".join(f"w{i % 7}" for i in range(64))  # small vocab, like the fixture

    def shingles(t):
        toks = t.split(" ")
        return {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}

    light = gen.mutate_texts([text], [5], copy=1)[0]
    light2 = gen.mutate_texts([text], [5], copy=1)[0]
    assert light == light2 and light != text  # deterministic, not identical
    base_sh = shingles(text)
    inter = len(base_sh & shingles(light))
    assert inter / len(base_sh | shingles(light)) > 0.5  # near-dup

    heavy = gen.mutate_texts([text], [5], copy=7)[0]
    assert not (base_sh & shingles(heavy))  # every shingle touched

    # global uniqueness: the same token position mutated for two
    # different (doc, copy) pairs yields different replacement tokens
    a = set(gen.mutate_texts([text], [5], copy=7)[0].split(" "))
    b = set(gen.mutate_texts([text], [6], copy=7)[0].split(" "))
    c = set(gen.mutate_texts([text], [5], copy=9)[0].split(" "))
    orig = set(text.split(" "))
    assert not ((a - orig) & (b - orig)) and not ((a - orig) & (c - orig))

    # embedding mutation: perturbation directions must be INDEPENDENT
    # across (id, copy) — the r13-review fix: the first cut's affine
    # integer map had no bit avalanche and correlated directions
    # systematically (86% of cross-id heavy pairs at cosine >= 0.35,
    # 8% >= 0.9 — manufactured near-dup structure, the vector twin of
    # the r11 salt-collision bug). On random unit vectors the honest
    # geometry is cos ~ N(0, 1/64): the >= 0.35 (2.8 sigma) tail must
    # stay at the ~0.3% it has on a real corpus, never tens of percent.
    import numpy as np

    rng = np.random.RandomState(0)
    base = rng.standard_normal((500, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    ids = np.arange(500)
    iu = np.triu_indices(500, 1)
    for copy in (1, 50):
        H = np.asarray(gen.mutate_embeddings(base, ids, copy=copy),
                       dtype=np.float64)
        assert np.abs(np.linalg.norm(H, axis=1) - 1).max() < 1e-6
        s = (H @ H.T)[iu]
        assert (s >= 0.35).mean() < 0.01, (copy, (s >= 0.35).mean())
        assert s.max() < 0.75, (copy, s.max())
    light = np.asarray(gen.mutate_embeddings(base, ids, copy=1),
                       dtype=np.float64)
    heavy = np.asarray(gen.mutate_embeddings(base, ids, copy=50),
                       dtype=np.float64)
    assert (light * base).sum(1).min() > 0.99   # near-dup copies
    assert (heavy * base).sum(1).max() < 0.35   # distinct copies
    # same id, different heavy copies: also distinct
    h2 = np.asarray(gen.mutate_embeddings(base, ids, copy=51),
                    dtype=np.float64)
    assert (heavy * h2).sum(1).max() < 0.5


def _hier_toy_index(spark, X, leaf_rows=16, nroot=4):
    """Small two-level index over an in-memory corpus matrix: returns
    (root_cent, leaf_cent, corpus_assigned) with knobs scaled down so
    the hierarchy is REAL (multiple leaves per root) at toy sizes."""
    from mr_py_spark.operators.hier import hier_assign, hier_leaf_centroids
    from mr_py_spark.operators.similarity import _ivf_centroids, ivf_assign_with

    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, v array<double>",
    )
    root_cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(_ivf_centroids(spark, corpus, nroot))],
        "cid long, cv array<double>",
    )
    root_assigned = ivf_assign_with(root_cent, corpus)
    leaf_cent = hier_leaf_centroids(root_assigned, leaf_rows=leaf_rows)
    assigned = hier_assign(root_assigned, leaf_cent)
    return root_cent, leaf_cent, assigned


def test_hier_delta_status_planted(spark):
    """Hierarchical semantic delta triage: the
    planted-status contract of the flat form holds through the
    two-level quantizer — exact corpus copy -> dup_of_corpus with a
    genuinely-tau-close match, orthogonal plant -> new, its higher-id
    twin -> dup_within_delta — and the hierarchy is real (leaf_rows
    forces multiple leaves per root on this corpus)."""
    import numpy as np

    from mr_py_spark.operators.hier import _CELL, hier_assign
    from mr_py_spark.operators.kmeans import _TAU
    from mr_py_spark.operators.similarity import (
        ivf_assign_with,
        semantic_delta_status,
    )

    rng = np.random.RandomState(3)
    X = rng.randn(200, 6)
    X = np.hstack([X, np.zeros((200, 2))])  # dims 6,7 free for plants
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    root_cent, leaf_cent, assigned = _hier_toy_index(spark, X, leaf_rows=16)
    n_leaves = leaf_cent.count()
    assert n_leaves > 4  # multiple leaves per root: a real hierarchy
    e7 = [0.0] * 6 + [0.0, 1.0]
    twin = np.array([0.0] * 6 + [0.05, 1.0])
    twin = [float(x) for x in twin / np.linalg.norm(twin)]
    delta = spark.createDataFrame(
        [(1000, [float(x) for x in X[5]]), (1001, e7), (1002, twin)],
        "vec_id long, v array<double>",
    )

    def triage():
        d_asg = hier_assign(ivf_assign_with(root_cent, delta), leaf_cent)
        return semantic_delta_status(d_asg, assigned, _CELL)

    out = {r.vec_id: (r.status, r.match_id) for r in triage().collect()}
    assert set(out) == {1000, 1001, 1002}
    s, m = out[1000]
    assert s == "dup_of_corpus" and m is not None
    assert float(X[m] @ X[5]) >= _TAU
    assert out[1001] == ("new", None)
    assert out[1002] == ("dup_within_delta", 1001)
    out2 = {r.vec_id: (r.status, r.match_id) for r in triage().collect()}
    assert out2 == out  # deterministic


def test_hier_single_leaf_degenerates_to_flat(spark):
    """With leaf_rows >= every root's occupancy each root trains
    exactly ONE leaf, so the cell partition equals the flat bucket
    partition — and the hierarchical triage must be BIT-EQUAL to the
    flat ``semantic_delta_status`` on the same root centroids. Pins the
    hierarchy as a pure refinement of the flat form."""
    import numpy as np

    from mr_py_spark.operators.hier import _CELL, hier_assign
    from mr_py_spark.operators.similarity import (
        ivf_assign_with,
        semantic_delta_status,
    )

    rng = np.random.RandomState(11)
    X = rng.randn(150, 8)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    root_cent, leaf_cent, assigned = _hier_toy_index(
        spark, X, leaf_rows=10**9, nroot=6
    )
    assert leaf_cent.count() == leaf_cent.select("bucket").distinct().count()
    D = rng.randn(20, 8)
    D /= np.linalg.norm(D, axis=1, keepdims=True)
    # include one exact corpus copy so dup_of_corpus is exercised
    D[0] = X[42]
    delta = spark.createDataFrame(
        [(1000 + i, [float(x) for x in D[i]]) for i in range(len(D))],
        "vec_id long, v array<double>",
    )
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, v array<double>",
    )
    d_root = ivf_assign_with(root_cent, delta)
    flat = sorted(
        tuple(r)
        for r in semantic_delta_status(
            d_root, ivf_assign_with(root_cent, corpus)
        ).collect()
    )
    hier = sorted(
        tuple(r)
        for r in semantic_delta_status(
            hier_assign(d_root, leaf_cent), assigned, _CELL
        ).collect()
    )
    assert hier == flat and any(t[1] == "dup_of_corpus" for t in hier)


def test_hier_assign_puts_a_leafless_roots_vectors_in_leaf_0(spark):
    """A root that held no vectors at build time trains no leaf, yet the
    maintenance loop's later deltas can land in it (the drift test's
    off-distribution batch does). Such a root is one cell, leaf 0, for
    every assignment, so its deltas meet each other and their own
    earlier admits; the other roots keep their trained leaves."""
    import numpy as np

    from mr_py_spark.operators.hier import hier_assign
    from mr_py_spark.operators.similarity import ivf_assign_with

    rng = np.random.RandomState(5)
    X = rng.randn(120, 8)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    root_cent, leaf_cent, assigned = _hier_toy_index(spark, X, leaf_rows=16)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, v array<double>",
    )
    root_assigned = ivf_assign_with(root_cent, corpus)
    b = root_assigned.agg(F.min("bucket")).first()[0]
    leafless = leaf_cent.filter(F.col("bucket") != b)
    got = {r.vec_id: (r.bucket, r.leaf)
           for r in hier_assign(root_assigned, leafless).collect()}
    want = {r.vec_id: (r.bucket, r.leaf) for r in assigned.collect()}
    assert set(got) == set(want)
    assert {got[v] for v in got if got[v][0] == b} == {(b, 0)}
    assert all(got[v] == want[v] for v in got if want[v][0] != b)


def test_hier_leaf_training_deterministic(spark):
    """Leaf training must be bit-identical across runs AND input
    partition layouts: groups are sorted by vec_id before training and
    the rng is seeded on the bucket id, so the persisted standing index
    can never depend on scan parallelism."""
    import numpy as np

    from mr_py_spark.operators.hier import hier_leaf_centroids
    from mr_py_spark.operators.similarity import _ivf_centroids, ivf_assign_with

    rng = np.random.RandomState(5)
    X = rng.randn(400, 8)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, v array<double>",
    )
    root_cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(_ivf_centroids(spark, corpus, 4))],
        "cid long, cv array<double>",
    )
    outs = []
    for parts in (3, 7):
        asg = ivf_assign_with(root_cent, corpus.repartition(parts))
        outs.append(
            sorted(
                (r.bucket, r.leaf, tuple(r.lv))
                for r in hier_leaf_centroids(asg, leaf_rows=16).collect()
            )
        )
    assert outs[0] == outs[1] and len(outs[0]) > 4


def test_hier_occupancy_flat_as_n_grows(spark):
    """THE scale claim (VERDICT r12 item 1): when the corpus grows past
    a capped flat quantizer's reach, flat bucket occupancy grows
    linearly while the hierarchical CELL occupancy stays at the
    leaf_rows design point — because k_leaf is sized per root from its
    own occupancy, depth absorbs the growth that a bounded broadcast
    cannot."""
    import numpy as np

    from mr_py_spark.operators.hier import hier_assign, hier_leaf_centroids
    from mr_py_spark.operators.similarity import _ivf_centroids, ivf_assign_with

    leaf_rows, cap = 16, 6  # scaled-down stand-ins for 64 / 4096
    mean_cell_occ = {}
    for n in (1500, 6000):
        rng = np.random.RandomState(n)
        X = rng.randn(n, 8)
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        corpus = spark.createDataFrame(
            [(i, [float(x) for x in X[i]]) for i in range(n)],
            "vec_id long, v array<double>",
        )
        root_cent = spark.createDataFrame(
            [(i, c) for i, c in enumerate(_ivf_centroids(spark, corpus, cap))],
            "cid long, cv array<double>",
        )
        asg = ivf_assign_with(root_cent, corpus)
        assigned = hier_assign(asg, hier_leaf_centroids(asg, leaf_rows=leaf_rows))
        occ = (
            assigned.groupBy("bucket", "leaf")
            .count()
            .agg(F.avg("count"))
            .head()[0]
        )
        mean_cell_occ[n] = float(occ)
        # flat occupancy at the same cap grows with n by construction
        assert n / cap >= 2 * leaf_rows  # the regime where flat degrades
    # hier cell occupancy sits near the design point at BOTH sizes...
    for n, occ in mean_cell_occ.items():
        assert leaf_rows / 4 <= occ <= leaf_rows * 4, (n, occ)
    # ...and does not scale with the 4x corpus growth (flat would 4x)
    assert mean_cell_occ[6000] < 2 * mean_cell_occ[1500]


def test_ivf_drift_retrain_recovers_delta_p05(spark):
    """The registered actuator demo: on the fixture, the reversed-dims
    delta trips the drift rule (retrained == 1) and the rebuilt
    quantizer — whose training sample folded the tripping delta in —
    scores that same delta markedly closer to the indexed cohort."""
    from mr_py_spark.operators.similarity import drift_threshold

    reg = load_all()
    out = {r.metric: r.value for r in reg["ivf_drift_retrain"].fn(spark, SF_DIR).collect()}
    assert out["retrained"] == 1.0
    assert out["p05_delta_before"] < drift_threshold(out["p05_indexed_before"])
    # recovery: the delta cohort's p05 improves and clears the trigger
    assert out["p05_delta_after"] > out["p05_delta_before"]
    assert out["p05_delta_after"] >= drift_threshold(out["p05_indexed_after"])


def test_multimodal_indexed_forms_bit_equal_recompute(spark):
    """The standing multimodal indexes (VERDICT r12 item 4): each
    *_dup_pairs_indexed form must emit EXACTLY the per-run recompute
    form's pair set — the index stores precisely what the recompute
    derives, so the only difference is where the decode work happened."""
    reg = load_all()
    for fam in ("image", "audio", "video"):
        a = sorted(tuple(r) for r in reg[f"{fam}_dup_pairs"].fn(spark, SF_DIR).collect())
        b = sorted(
            tuple(r)
            for r in reg[f"{fam}_dup_pairs_indexed"].fn(spark, SF_DIR).collect()
        )
        assert a == b and len(a) > 0, fam


def test_video_frame_index_append_and_compaction(spark, tmp_path):
    """The video frame index's maintenance lifecycle on a PRIVATE
    table: build from a third of the corpus, grow with two O(delta)
    appends, and the indexed pair mine equals the full recompute;
    compaction then cuts the append file debt without changing a row
    (the dedup.py:731 lifecycle, applied to the last family that
    lacked it)."""
    import os

    from mr_py_spark.operators.bucketed import (
        n_buckets,
        _data_files,
        compact_bucketed_table,
    )
    from mr_py_spark.operators.multimodal import (
        _video_corpus,
        video_frame_index_append,
        video_pairs_from_sigs,
        video_sig_of,
    )
    from mr_py_spark.registry import load_all as _load
    from mr_py_spark.sources.sinks import write_bucketed

    corpus = _video_corpus(spark, SF_DIR)
    table = "t_video_frames_private"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    path = str(tmp_path / table)
    part = F.col("doc_id") % 3
    try:
        write_bucketed(
            video_sig_of(corpus.filter(part == 0))
            .select("doc_id", "fhash").distinct(),
            table, "fhash", n_buckets(spark), path=path,
        )
        for i in (1, 2):
            video_frame_index_append(corpus.filter(part == i), table)
        expect = sorted(
            tuple(r) for r in _load()["video_dup_pairs"].fn(spark, SF_DIR).collect()
        )
        got = sorted(
            tuple(r) for r in video_pairs_from_sigs(spark.table(table)).collect()
        )
        assert got == expect and len(got) > 0
        files_before = len(_data_files(path))
        stats = compact_bucketed_table(spark, table, "fhash")
        assert stats["files_after"] < files_before
        after = sorted(
            tuple(r) for r in video_pairs_from_sigs(spark.table(table)).collect()
        )
        assert after == expect
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_semantic_dedup_hier_star_rule_vs_brute_force(spark):
    """Batch hier semantic dedup: NO FALSE POSITIVES — every dropped
    vector has a genuine lower-id cell-mate at cosine >= tau (verified
    against brute-force numpy on the full assignment), survivors have
    none, planted exact duplicates always drop (identical vectors share
    a cell deterministically), and two runs agree."""
    import numpy as np

    from mr_py_spark.operators.hier import _CELL, hier_quantize
    from mr_py_spark.operators.similarity import cell_survivors

    tau = 0.35
    rng = np.random.RandomState(17)
    X = rng.randn(400, 16)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    X[350:] = X[:50]  # planted exact duplicates (higher ids must drop)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, v array<double>",
    )
    _, _, assigned = hier_quantize(spark, corpus, len(X), root_rows=64, leaf_rows=8)
    cells = {r.vec_id: (r.bucket, r.leaf) for r in assigned.collect()}
    out1 = {r.vec_id for r in cell_survivors(assigned, _CELL, tau).collect()}
    assert set(range(350, 400)).isdisjoint(out1)  # planted dups dropped
    for v in range(len(X)):
        mates = [
            u for u in range(v) if cells[u] == cells[v]
            and float(X[u] @ X[v]) >= tau
        ]
        assert (v not in out1) == bool(mates), (v, mates[:3])
    out2 = {r.vec_id for r in cell_survivors(assigned, _CELL, tau).collect()}
    assert out2 == out1  # deterministic


def test_hier_quantize_refuses_past_two_level_ceiling(spark):
    """Every two-level build path goes through ``hier_build``, which
    refuses a corpus past the design ceiling before any Spark job runs
    (the per-run form included, not only the standing index)."""
    from mr_py_spark.operators.hier import _HIER_TWO_LEVEL_CEIL, hier_quantize

    tiny = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, v array<double>"
    )
    sc = spark.sparkContext
    group = "hier-ceiling-probe"
    sc.setJobGroup(group, "two-level ceiling check")
    try:
        with pytest.raises(ValueError, match="two-level design ceiling"):
            hier_quantize(spark, tiny, _HIER_TWO_LEVEL_CEIL + 1)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        tiny.collect()  # the probe does see a job of this group
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)


def test_hier_quantize_matches_standing_hier_index(spark):
    """The per-run build (``hier_quantize``) and the standing full-table
    index (``hier_index``) are the same ``hier_build`` over the same
    vectors, so on the fixture they agree row for row: the same root
    and leaf centroids and the same (vec_id, bucket, leaf) cells."""
    from mr_py_spark.operators.hier import hier_index, hier_quantize
    from mr_py_spark.operators.similarity import _emb_double
    from mr_py_spark.sources import tbl
    from mr_py_spark.util import table_rows

    e = _emb_double(tbl(spark, SF_DIR, "embeddings"), "v")
    run = hier_quantize(spark, e, table_rows(e, SF_DIR, "embeddings"))
    standing = hier_index(spark, SF_DIR)

    def tables(root, leaf, assigned):
        return (
            sorted((r.cid, tuple(r.cv)) for r in root.collect()),
            sorted((r.bucket, r.leaf, tuple(r.lv)) for r in leaf.collect()),
            sorted(
                tuple(r) for r in assigned.select("vec_id", "bucket", "leaf").collect()
            ),
        )

    got, want = tables(*run), tables(*standing)
    assert len(got[2]) == e.count()
    assert len(got[1]) > len(got[0])  # a real two-level split
    assert got == want


def test_hier_index_append_bit_equal_to_rebuild(spark, tmp_path):
    """O(delta) maintenance for the two-level inverted file: build a
    private index from part of a corpus, append the rest against the
    EXISTING centroids, and the table must be row-identical to
    assigning the full corpus in one pass (assignment is a pure
    function of (roots, leaves, vector)); the idempotent replay guard
    admits nothing twice."""
    import numpy as np

    from mr_py_spark.operators.bucketed import append_entries, n_buckets
    from mr_py_spark.operators.hier import hier_assign, hier_leaf_centroids
    from mr_py_spark.operators.similarity import _ivf_centroids, ivf_assign_with
    from mr_py_spark.sources.sinks import write_bucketed

    rng = np.random.RandomState(23)
    X = rng.randn(300, 8)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    full = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, v array<double>",
    )
    base = full.filter(F.col("vec_id") < 200)
    delta = full.filter(F.col("vec_id") >= 200)
    root_cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(_ivf_centroids(spark, base, 4))],
        "cid long, cv array<double>",
    )
    leaf_cent = hier_leaf_centroids(ivf_assign_with(root_cent, base), leaf_rows=16)
    table = "t_hier_append_private"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed(
            hier_assign(ivf_assign_with(root_cent, base), leaf_cent),
            table, ("bucket", "leaf"), n_buckets(spark),
            path=str(tmp_path / table),
        )
        delta_cells = hier_assign(ivf_assign_with(root_cent, delta), leaf_cent)
        append_entries(table, delta_cells, "vec_id")
        got = sorted(
            (r.vec_id, r.bucket, r.leaf) for r in spark.table(table).collect()
        )
        want = sorted(
            (r.vec_id, r.bucket, r.leaf)
            for r in hier_assign(ivf_assign_with(root_cent, full), leaf_cent).collect()
        )
        assert got == want
        # replayed append admits nothing under the idempotent guard
        append_entries(table, delta_cells, "vec_id", idempotent=True)
        again = sorted(
            (r.vec_id, r.bucket, r.leaf) for r in spark.table(table).collect()
        )
        assert again == got
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_hier_pq_codes_append_bit_equal_to_rebuild(spark, tmp_path):
    """r16 (VERDICT r15 item 7): O(delta) maintenance for the standing
    PQ-code table. Build codes from part of a corpus, append the rest
    against the EXISTING centroids + codebooks, and the table must be
    row-identical (codes included) to encoding the full corpus in one
    pass — codes are a pure function of (assignment, books); the
    idempotent replay guard admits nothing twice."""
    import numpy as np

    from mr_py_spark.operators.bucketed import append_entries, n_buckets
    from mr_py_spark.operators.hier import (
        _pq_encode_frame,
        hier_assign,
        hier_leaf_centroids,
    )
    from mr_py_spark.operators.similarity import _ivf_centroids, ivf_assign_with
    from mr_py_spark.operators.vectors import _pq_train
    from mr_py_spark.sources.sinks import write_bucketed

    rng = np.random.RandomState(29)
    X = rng.randn(300, 8)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    full = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, v array<double>",
    )
    base = full.filter(F.col("vec_id") < 200)
    delta = full.filter(F.col("vec_id") >= 200)
    root_cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(_ivf_centroids(spark, base, 4))],
        "cid long, cv array<double>",
    )
    leaf_cent = hier_leaf_centroids(ivf_assign_with(root_cent, base), leaf_rows=16)
    books = _pq_train(X[:200], m=4, k=16, sub=2)
    table = "t_hier_pq_append_private"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed(
            _pq_encode_frame(
                hier_assign(ivf_assign_with(root_cent, base), leaf_cent), books
            ),
            table, ("bucket", "leaf"), n_buckets(spark),
            path=str(tmp_path / table),
        )
        delta_codes = _pq_encode_frame(
            hier_assign(ivf_assign_with(root_cent, delta), leaf_cent), books
        )
        append_entries(table, delta_codes, "vec_id")
        got = sorted(
            (r.vec_id, r.bucket, r.leaf, tuple(r.code))
            for r in spark.table(table).collect()
        )
        want = sorted(
            (r.vec_id, r.bucket, r.leaf, tuple(r.code))
            for r in _pq_encode_frame(
                hier_assign(ivf_assign_with(root_cent, full), leaf_cent), books
            ).collect()
        )
        assert got == want and len(got) == 300
        # replayed append admits nothing under the idempotent guard
        append_entries(table, delta_codes, "vec_id", idempotent=True)
        again = sorted(
            (r.vec_id, r.bucket, r.leaf, tuple(r.code))
            for r in spark.table(table).collect()
        )
        assert again == got
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_drift_rule_continuous_monotone_never_fires_on_better(spark):
    """ADVICE r13: the drift decision's fire threshold as a function
    of the indexed cohort's p05 must be CONTINUOUS (the old two-branch
    rule jumped from margin ~0 at idx=+eps to 0.2 at idx=0 — a
    marginally-healthier index was far more trigger-happy than a
    neutral one) and monotone, and a delta at-or-above the indexed
    cohort must never fire. Scalar sweep + DataFrame spot checks
    through the real entry point."""
    from mr_py_spark.operators.similarity import (
        drift_degraded,
        drift_threshold as thr,
    )

    grid = [x / 1000.0 for x in range(-1000, 1001)]
    for a, b in zip(grid, grid[1:]):
        assert abs(thr(b) - thr(a)) <= 0.001 + 1e-12  # continuous
        assert thr(b) >= thr(a) - 1e-12  # monotone in idx
    assert all(thr(i) < i for i in grid)  # better delta never fires

    def frame(i, d):
        return spark.createDataFrame(
            [("indexed", 10, i, i, i), ("delta", 10, d, d, d)],
            "cohort string, n_vecs long, mean_top1 double, "
            "p05_top1 double, p50_top1 double",
        ).select("cohort", "n_vecs", "mean_top1", "p05_top1", "p50_top1")

    # around zero: the old rule's inversion — +eps-healthy fired on a
    # delta the exactly-neutral index ignored; now both agree, and the
    # margin floor ((1-ratio)*0.25 = 0.05) separates noise from drift
    assert not drift_degraded(frame(0.001, -0.04))
    assert not drift_degraded(frame(0.0, -0.04))
    assert drift_degraded(frame(0.001, -0.06))
    assert drift_degraded(frame(0.0, -0.06))
    # healthy regime keeps the multiplicative semantics
    assert drift_degraded(frame(0.8, 0.63))
    assert not drift_degraded(frame(0.8, 0.65))
    # better-than-indexed delta never fires (the r13 review case)
    assert not drift_degraded(frame(-0.10, -0.09))
    assert not drift_degraded(frame(-0.5, -0.5))
    assert not drift_degraded(frame(0.5, 0.6))


def test_retrain_sample_keeps_tripping_batch_past_cap(spark):
    """ADVICE r13 (medium): the retrain training sample must contain
    the drift-tripping batch even when the index holds >= cap vectors
    with LOWER vec_ids (the normal streaming case — the old
    union-then-sort silently dropped every extra_train row past the
    cap, so the rebuilt quantizer never saw the drifted region). Also:
    bit-identical on replay."""
    import numpy as np

    from mr_py_spark.operators.similarity import _retrain_sample

    idx = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(40)],
        "vec_id long, v array<double>",
    )
    extra = spark.createDataFrame(
        [(1000 + i, [0.0, float(1000 + i)]) for i in range(5)],
        "vec_id long, v array<double>",
    )
    s1 = _retrain_sample(idx, extra, cap=10)
    assert s1.shape == (10, 2)
    # batch first, in vec_id order; remainder = lowest index vec_ids
    assert [row[1] for row in s1[:5]] == [1000.0, 1001.0, 1002.0, 1003.0, 1004.0]
    assert [row[0] for row in s1[5:]] == [0.0, 1.0, 2.0, 3.0, 4.0]
    s2 = _retrain_sample(idx, extra, cap=10)
    assert np.array_equal(s1, s2)
    # batch alone larger than the cap: bounded, batch-prefix only
    s3 = _retrain_sample(idx, extra, cap=3)
    assert s3.shape == (3, 2) and [r[1] for r in s3] == [1000.0, 1001.0, 1002.0]
    # no batch: the plain ordered prefix
    s4 = _retrain_sample(idx, None, cap=4)
    assert [r[0] for r in s4] == [0.0, 1.0, 2.0, 3.0]


def test_hier_retrain_planted_drift_recovers(spark, tmp_path):
    """hier_retrain (the drift actuator for the two-level tier): a
    planted-drift delta trips the ROOT-level drift rule on a private
    standing index triple, the crash-atomic three-table rebuild
    recovers the delta's quantization quality, index membership is
    preserved, and a REPLAYED retrain (same index contents, same
    tripping batch) rebuilds bit-identical cells."""
    import numpy as np

    from mr_py_spark.operators.bucketed import n_buckets
    from mr_py_spark.operators.hier import (
        hier_assign,
        hier_leaf_centroids,
        hier_retrain,
    )
    from mr_py_spark.operators.similarity import (
        _ivf_centroids,
        drift_degraded,
        ivf_assign_with,
        ivf_drift_frame,
    )
    from mr_py_spark.sources.sinks import write_bucketed

    rng = np.random.RandomState(31)
    centers = rng.standard_normal((6, 8))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    X = np.vstack([c + 0.12 * rng.standard_normal((50, 8)) for c in centers])
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, v array<double>",
    )
    root_t, leaf_t, idx_t = (
        "t_hier_rt_root", "t_hier_rt_leaf", "t_hier_rt_idx"
    )
    for t in (root_t, leaf_t, idx_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        root_cent = spark.createDataFrame(
            [(i, c) for i, c in enumerate(_ivf_centroids(spark, corpus, 8))],
            "cid long, cv array<double>",
        )
        write_bucketed(root_cent, root_t, "cid", n_buckets(spark),
                       path=str(tmp_path / root_t))
        ra = ivf_assign_with(spark.table(root_t), corpus)
        write_bucketed(hier_leaf_centroids(ra, leaf_rows=8), leaf_t,
                       "bucket", n_buckets(spark), path=str(tmp_path / leaf_t))
        write_bucketed(hier_assign(ra, spark.table(leaf_t)), idx_t,
                       ("bucket", "leaf"), n_buckets(spark),
                       path=str(tmp_path / idx_t))
        assert spark.table(leaf_t).count() > 8  # a real hierarchy

        # planted drift: dimension-reversed copies — unit norm kept,
        # uncorrelated with every trained root
        delta = corpus.select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.reverse("v").alias("v"),
        )

        def drift():
            return ivf_drift_frame(
                spark.table(root_t),
                spark.table(idx_t).select("vec_id", "bucket", "v"),
                delta,
            )

        before = {r.cohort: float(r.p05_top1) for r in drift().collect()}
        assert drift_degraded(drift())
        ids_before = {r.vec_id for r in spark.table(idx_t).collect()}

        stats = hier_retrain(
            spark, root_t, leaf_t, idx_t, extra_train=delta,
            root_rows=64, leaf_rows=8,
        )
        assert stats["n_vecs"] == len(X) and stats["n_leaves"] > stats["nroot"]
        # r16: the retrain pinned the NEW generation's ROOT-level drift
        # reference at creation — warm read, no bootstrap frame, equal
        # to the rebuilt cohort's exact stats
        from mr_py_spark.operators.similarity import (
            _drift_ref_compute,
            drift_ref_stats,
        )

        assert drift_ref_stats(
            spark, spark.table(root_t), idx_t, None
        ) == _drift_ref_compute(
            spark.table(root_t),
            spark.table(idx_t).select("vec_id", "bucket", "v"),
        )
        after = {r.cohort: float(r.p05_top1) for r in drift().collect()}
        # the rebuilt quantizer covers the drifted region: the delta's
        # quantization quality recovers, the indexed cohort stays sane
        assert after["delta"] > before["delta"]
        assert {r.vec_id for r in spark.table(idx_t).collect()} == ids_before

        cells1 = sorted(
            (r.vec_id, r.bucket, r.leaf) for r in spark.table(idx_t).collect()
        )
        # replayed retrain: same index contents + same tripping batch
        # -> bit-identical tables
        hier_retrain(
            spark, root_t, leaf_t, idx_t, extra_train=delta,
            root_rows=64, leaf_rows=8,
        )
        cells2 = sorted(
            (r.vec_id, r.bucket, r.leaf) for r in spark.table(idx_t).collect()
        )
        assert cells1 == cells2
    finally:
        for t in (root_t, leaf_t, idx_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_hier_topk_full_probe_equals_brute_force(spark):
    """The hier ANN serve path (hier_topk_with) with probes >= the
    level widths must degenerate to the EXACT top-k: every cell is
    probed, so the candidate set is the whole corpus and the re-rank
    is brute force. Expected sims computed with the fold-order kernel
    (the same left-to-right float64 op sequence Catalyst's dot folds),
    so the compare is bitwise through round(_, 6)."""
    import numpy as np

    from mr_py_spark.operators.hier import hier_topk_with
    from mr_py_spark.operators.similarity import _fold_order_blocks

    rng = np.random.RandomState(11)
    X = rng.randn(400, 8)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    root_cent, leaf_cent, assigned = _hier_toy_index(
        spark, X, leaf_rows=16, nroot=4
    )
    assert leaf_cent.count() > 4  # a real hierarchy, not one leaf/root
    q_ids = list(range(20))
    queries = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in q_ids],
        "q_id long, qv array<double>",
    )
    out = hier_topk_with(
        root_cent, leaf_cent, assigned, queries,
        k=5, root_probe=1000, leaf_probe=1000,
    ).collect()
    got = sorted((r.q_id, r.nn_id, r.rn) for r in out)
    got_sim = {(r.q_id, r.nn_id): r.sim for r in out}
    Q = X[: len(q_ids)]
    sims = np.vstack([s for _, s in _fold_order_blocks(Q, X)])
    want = []
    for qi in q_ids:
        s = sims[qi].copy()
        s[qi] = -np.inf  # q_id != nn_id
        order = np.lexsort((np.arange(len(X)), -s))[:5]
        want.extend((qi, int(ni), rn + 1) for rn, ni in enumerate(order))
    assert got == sorted(want) and len(got) == 5 * len(q_ids)
    # raw scoring is the same fold-order op sequence both sides; only
    # the display rounding differs in MODE (Spark HALF_UP vs numpy
    # half-even), so compare the rounded emit within one ulp of 1e-6
    for (qi, ni, _rn) in want:
        assert abs(got_sim[(qi, ni)] - float(sims[qi][ni])) < 1.0e-6


def test_hier_topk_recall_on_clustered_corpus(spark):
    """Default-probe recall of the constant-cost hier serve tier on a
    two-scale clustered corpus (coarse clusters -> roots, sub-clusters
    -> leaves — the structure real embedding corpora have): recall@5
    vs numpy brute force must clear the bar even though per-query
    candidate work is a constant root_probe*leaf_probe*~leaf_rows rows,
    independent of corpus size."""
    import numpy as np

    from mr_py_spark.operators.hier import hier_topk_with

    rng = np.random.RandomState(7)
    n_coarse, n_sub, per_sub, dim = 12, 5, 100, 16
    coarse = rng.standard_normal((n_coarse, dim))
    coarse /= np.linalg.norm(coarse, axis=1, keepdims=True)
    blocks = []
    for c in coarse:
        subs = c + 0.25 * rng.standard_normal((n_sub, dim))
        subs /= np.linalg.norm(subs, axis=1, keepdims=True)
        for sc in subs:
            blocks.append(sc + 0.08 * rng.standard_normal((per_sub, dim)))
    X = np.vstack(blocks)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    root_cent, leaf_cent, assigned = _hier_toy_index(
        spark, X, leaf_rows=32, nroot=n_coarse
    )
    n_q = 40
    queries = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n_q)],
        "q_id long, qv array<double>",
    )
    approx = {
        (r.q_id, r.nn_id)
        for r in hier_topk_with(
            root_cent, leaf_cent, assigned, queries, k=5,
            root_probe=4, leaf_probe=4,
        ).collect()
    }
    sims = X[:n_q] @ X.T
    sims[np.arange(n_q), np.arange(n_q)] = -np.inf
    brute = {
        (qi, int(ni))
        for qi in range(n_q)
        for ni in np.argsort(-sims[qi], kind="stable")[:5]
    }
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.7, f"hier recall@5 {recall:.2f}"


def test_knn_hier_indexed_fixture_recall(spark):
    """The registered standing-index form on the fixture: same emit
    shape as the other kNN forms, non-vacuous (every query returns a
    full top-5), and recall@5 vs the oracle-backed exact form clears
    the same bar the flat IVF tier is held to."""
    brute = {(r.q_id, r.nn_id) for r in rows(spark, "knn_cosine_topk")}
    out = rows(spark, "knn_hier_topk_indexed")
    approx = {(r.q_id, r.nn_id) for r in out}
    assert len(out) == len({r.q_id for r in out}) * 5
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.5, f"hier indexed recall@5 {recall:.2f}"


def test_hier_pq_full_probe_full_rerank_degenerates_to_exact(spark):
    """The ADC pre-rank tier's anchor pin (r14): with probes covering
    every cell and the rerank budget covering every candidate, the PQ
    path's shortlist IS the full candidate set, the exact re-rank sees
    exactly what the exact tier scores, and the emit must match the
    exact tier BIT-FOR-BIT (same (q_id, nn_id, sim, rn) rows) — ADC
    can only reorder a shortlist that here contains everything."""
    import numpy as np

    from mr_py_spark.operators.hier import (
        _pq_encode_frame,
        hier_topk_pq_with,
        hier_topk_with,
    )
    from mr_py_spark.operators.vectors import _pq_train

    rng = np.random.RandomState(23)
    X = rng.randn(300, 16)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    root_cent, leaf_cent, assigned = _hier_toy_index(
        spark, X, leaf_rows=16, nroot=4
    )
    books = _pq_train(X, m=8, k=16, sub=2)
    codes = _pq_encode_frame(assigned, books)
    queries = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(15)],
        "q_id long, qv array<double>",
    )
    exact = sorted(
        tuple(r)
        for r in hier_topk_with(
            root_cent, leaf_cent, assigned, queries,
            k=5, root_probe=1000, leaf_probe=1000,
        ).collect()
    )
    pq = sorted(
        tuple(r)
        for r in hier_topk_pq_with(
            root_cent, leaf_cent, codes, assigned, queries, books,
            k=5, root_probe=1000, leaf_probe=1000, rerank=1000,
        ).collect()
    )
    assert pq == exact and len(pq) == 75


def test_hier_pq_recall_dominates_exact_at_matched_cost(spark):
    """The recall-lift claim (VERDICT r13 item 6): on the two-scale
    clustered corpus, the ADC tier at its 2×-probes operating point
    must recall at least as much as the exact tier at the baseline
    probes — wider probes are the fix for neighbors outside the probed
    cells, and 16-byte codes are what make them affordable."""
    import numpy as np

    from mr_py_spark.operators.hier import (
        _pq_encode_frame,
        hier_topk_pq_with,
        hier_topk_with,
    )
    from mr_py_spark.operators.vectors import _pq_train

    rng = np.random.RandomState(7)
    n_coarse, n_sub, per_sub, dim = 12, 5, 100, 16
    coarse = rng.standard_normal((n_coarse, dim))
    coarse /= np.linalg.norm(coarse, axis=1, keepdims=True)
    blocks = []
    for c in coarse:
        subs = c + 0.25 * rng.standard_normal((n_sub, dim))
        subs /= np.linalg.norm(subs, axis=1, keepdims=True)
        for sc in subs:
            blocks.append(sc + 0.08 * rng.standard_normal((per_sub, dim)))
    X = np.vstack(blocks)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    root_cent, leaf_cent, assigned = _hier_toy_index(
        spark, X, leaf_rows=32, nroot=n_coarse
    )
    books = _pq_train(X[:4096], m=8, k=32, sub=2)
    codes = _pq_encode_frame(assigned, books)
    n_q = 40
    queries = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n_q)],
        "q_id long, qv array<double>",
    )
    sims = X[:n_q] @ X.T
    sims[np.arange(n_q), np.arange(n_q)] = -np.inf
    brute = {
        (qi, int(ni))
        for qi in range(n_q)
        for ni in np.argsort(-sims[qi], kind="stable")[:5]
    }

    def recall(pairs):
        return len(brute & pairs) / len(brute)

    r_exact = recall(
        {
            (r.q_id, r.nn_id)
            for r in hier_topk_with(
                root_cent, leaf_cent, assigned, queries, k=5,
                root_probe=4, leaf_probe=4,
            ).collect()
        }
    )
    r_pq = recall(
        {
            (r.q_id, r.nn_id)
            for r in hier_topk_pq_with(
                root_cent, leaf_cent, codes, assigned, queries, books,
                k=5, root_probe=8, leaf_probe=8, rerank=20,
            ).collect()
        }
    )
    assert r_pq >= r_exact, (r_pq, r_exact)
    assert r_pq >= 0.7, r_pq


def test_knn_hier_pq_indexed_fixture_contract(spark):
    """The registered ADC tier on the fixture: full top-5 per query,
    and recall vs the oracle-backed exact form at least the exact
    hier tier's bar."""
    brute = {(r.q_id, r.nn_id) for r in rows(spark, "knn_cosine_topk")}
    out = rows(spark, "knn_hier_pq_topk_indexed")
    approx = {(r.q_id, r.nn_id) for r in out}
    assert len(out) == len({r.q_id for r in out}) * 5
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.5, f"hier pq indexed recall@5 {recall:.2f}"


def test_emb_pca_whiten_identity_covariance_and_determinism(spark):
    """Whitening contract: the projected fixture has (population)
    covariance == identity and zero mean up to float noise — provided
    the original covariance is numerically full-rank, which is
    asserted as a precondition so the check cannot pass vacuously
    through the eigenvalue clip — and a same-session re-run is
    bit-identical. The registered surface emits a repr-joined csv
    STRING per vector (the r13 driver red: array cells crash the
    canonicalizer); repr round-trips float64 exactly, so parsing it
    back loses nothing and the checks are as strong as on the array
    frame."""
    import numpy as np

    out1 = rows(spark, "emb_pca_whiten")
    W = np.asarray(
        [
            [float(x) for x in r.w_csv.split(",")]
            for r in sorted(out1, key=lambda r: r.vec_id)
        ]
    )
    n, d = W.shape
    assert n == len(out1) and d == 64
    mu = W.mean(0)
    cov = W.T @ W / n - np.outer(mu, mu)
    # precondition: source covariance full-rank (clip not engaged)
    from mr_py_spark.sources import tbl
    from mr_py_spark.operators.similarity import _emb_double

    X = np.asarray(
        [
            r.v
            for r in _emb_double(
                tbl(spark, SF_DIR, "embeddings"), "v"
            ).collect()
        ]
    )
    xmu = X.mean(0)
    lam = np.linalg.eigvalsh(X.T @ X / len(X) - np.outer(xmu, xmu))
    assert lam.min() > 1e-9
    assert np.abs(mu).max() < 1e-9
    assert np.abs(cov - np.eye(d)).max() < 1e-7, np.abs(cov - np.eye(d)).max()
    out2 = rows(spark, "emb_pca_whiten")
    assert sorted((r.vec_id, r.w_csv) for r in out1) == sorted(
        (r.vec_id, r.w_csv) for r in out2
    )


def test_emb_whiten_quantizer_audit_contract(spark):
    """The whitening consumer emits exactly one row per variant with
    well-formed stats (cells within the coarse k, occupancies
    consistent, finite MSEs) and is empty-input-safe (ADVICE r13).
    The A/B DIRECTION is deliberately not asserted here — it is a
    measured outcome recorded in SCALE.md, not a contract."""
    import math

    out = {r.variant: r for r in rows(spark, "emb_whiten_quantizer_audit")}
    assert set(out) == {"raw", "whitened"}
    from mr_py_spark.operators.similarity import _AUDIT_NLIST

    for r in out.values():
        assert 1 <= r.cells <= _AUDIT_NLIST
        assert r.occ_max >= 1 and r.occ_cv >= 0.0
        assert math.isfinite(r.pq_mse_raw) and r.pq_mse_raw >= 0.0
    # same corpus both sides: occ_max can't exceed the corpus size
    n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert all(r.occ_max <= n for r in out.values())


def test_emb_pca_whiten_empty_input_returns_empty_frame(spark):
    """ADVICE r13: an empty embeddings table must yield an empty
    frame (both surfaces), not IndexError/ZeroDivisionError from the
    moment fold."""
    from mr_py_spark.operators.similarity import (
        _pca_moments,
        _pca_whiten_frame,
    )

    empty = spark.createDataFrame([], "vec_id long, v array<double>")
    assert _pca_moments(spark, empty) is None
    assert _pca_whiten_frame(spark, empty).count() == 0
    assert _pca_whiten_frame(spark, empty, csv=True).columns == [
        "vec_id",
        "w_csv",
    ]


def test_substring_hashed_equals_exact_on_fixture(spark):
    """The 64-bit-keyed scale form must emit EXACTLY the string-keyed
    form's spans on the fixture (collision-free there: distinct grams
    are asserted to hash distinctly, so the equality is meaningful and
    any future divergence means a real plan bug, not hash luck)."""
    from mr_py_spark.functions import ngrams_arr, words
    from mr_py_spark.operators.dedup import _SPAN_L
    from mr_py_spark.sources import tbl

    toks = tbl(spark, SF_DIR, "documents").select(
        "doc_id", words(F.lower("text")).alias("w")
    )
    grams = toks.select(
        F.explode(ngrams_arr("w", _SPAN_L)).alias("g")
    ).distinct()
    n_grams = grams.count()
    n_hashes = grams.select(F.xxhash64("g")).distinct().count()
    assert n_grams == n_hashes  # no collision on the fixture
    a = sorted(map(tuple, rows(spark, "substring_dup_spans")))
    b = sorted(map(tuple, rows(spark, "substring_dup_spans_hashed")))
    assert a == b and len(a) > 0


def test_incremental_substring_equals_full_form_on_delta(spark):
    """Engine-internal pin (the oracle states the same thing cross-
    engine): the incremental form's spans are EXACTLY the full form's
    spans restricted to the delta split — corpus-df + within-delta
    count coincides with the corpus-wide >= 2 criterion because
    corpus ∪ delta = all docs."""
    from mr_py_spark.operators.dedup import (
        _INC_BUCKETS,
        _INC_DELTA_BUCKET,
        _INC_MULT,
    )

    full = [
        t
        for t in map(tuple, rows(spark, "substring_dup_spans"))
        if (t[0] * _INC_MULT) % _INC_BUCKETS == _INC_DELTA_BUCKET
    ]
    inc = sorted(map(tuple, rows(spark, "incremental_substring_dedup")))
    assert inc == sorted(full) and len(inc) > 0
