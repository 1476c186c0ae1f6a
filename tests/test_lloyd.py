"""The one in-memory Lloyd kernel (vectors._kmeans_init / _nearest /
_lloyd / _unit_rows) behind the IVF/hier root, hier leaf, PQ codebook
and whitening-audit fits: numerics pinned against the per-cluster
mask-loop form it replaced, the empty-cluster and k-clamp rules, loud
failure on malformed vectors, and the builder stamps that must name it.
"""

from __future__ import annotations

import numpy as np
import pytest

from mr_py_spark.operators.vectors import (
    _kmeans_init,
    _lloyd,
    _nearest,
    _pq_train,
    _unit_rows,
    arrow_matrix,
)


def _pq_train_reference(X, m, k, sub, iters=8):
    """The pre-kernel _pq_train body: broadcast (n, k, sub) distances
    and a per-cluster mask-loop mean update."""
    books = np.empty((m, k, sub))
    for mi in range(m):
        s = X[:, mi * sub : (mi + 1) * sub]
        cent = s[:k].copy()
        for _ in range(iters):
            d2 = ((s[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for ki in range(k):
                mask = assign == ki
                if mask.any():
                    cent[ki] = s[mask].mean(0)
        books[mi] = cent
    return books


def _unit_sample(seed, n, d):
    X = np.random.RandomState(seed).randn(n, d)
    return X / np.linalg.norm(X, axis=1, keepdims=True)


@pytest.mark.parametrize(
    "seed,n,m,k,sub",
    [
        (1, 2000, 16, 256, 4),  # the serve-tier / perfbench PQ shape
        (2, 4096, 8, 16, 8),  # the emb_pq_codes default
        (3, 1000, 8, 16, 8),
    ],
)
def test_pq_train_bitwise_equals_mask_loop_reference(seed, n, m, k, sub):
    X = _unit_sample(seed, n, 64)
    got = _pq_train(X, m=m, k=k, sub=sub)
    want = _pq_train_reference(X, m, k, sub)
    assert got.shape == (m, k, sub)
    assert np.array_equal(got.view(np.uint64), want.view(np.uint64))


@pytest.mark.parametrize("f32", [False, True])
def test_lloyd_empty_cluster_keeps_its_centre(f32):
    X = np.array([[0.0, 0.0], [0.5, 0.0], [1.0, 1.0], [1.5, 1.0]])
    start = np.array([[0.0, 0.0], [1.0, 1.0], [50.0, -50.0]])
    cent = _lloyd(X, start.copy(), iters=3, f32=f32)
    assert np.array_equal(cent[2], start[2])  # never assigned, untouched
    assert np.array_equal(cent[:2], [[0.25, 0.0], [1.25, 1.0]])
    assert list(_nearest(X, cent, f32)) == [0, 0, 1, 1]


def test_lloyd_single_centre_is_the_sequential_mean():
    """k = 1 needs no special case: one round from any start is the
    same mean ``X.mean(0)`` computes, bit for bit."""
    X = _unit_sample(4, 333, 16)
    for start in (0, 17, 332):
        cent = _lloyd(X, X[[start]].copy(), iters=1)
        assert np.array_equal(cent, X.mean(0, keepdims=True))


def test_kmeans_init_clamps_k_and_spherical_rows_are_unit():
    from mr_py_spark.operators.similarity import _ivf_centroids

    X = _unit_sample(5, 100, 8)
    assert len(_kmeans_init(X, 16, 7)) == 16
    assert len(_kmeans_init(X[:5], 16, 7)) == 5  # farthest-point branch
    assert len(_kmeans_init(X, 300, 7)) == 100  # seeded-choice branch
    cents = np.asarray(_ivf_centroids(None, None, 300, sample=X))
    assert cents.shape == (100, 8)
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0)
    z = _unit_rows(np.array([[3.0, 4.0], [0.0, 0.0]]))
    assert np.array_equal(z, [[0.6, 0.8], [0.0, 0.0]])


def test_ivf_centroids_refuses_a_ragged_training_vector(spark):
    from mr_py_spark.operators.similarity import _ivf_centroids

    X = _unit_sample(6, 30, 8)
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    rows[11] = (11, rows[11][1][:7])
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    with pytest.raises(ValueError):
        _ivf_centroids(spark, df, 4)


_BAD_VECTORS = {
    "ragged": [[0.1] * 63, [0.1] * 65],  # 128 values: reshapes into two rows silently
    "null_vector": [[0.1] * 64, None],
    "null_value": [[0.1] * 64, [0.1] * 63 + [None]],
    # every row consistent, but not the kernel's width: a slicing
    # encoder silently used the first 64 dims
    "all_wide": [[0.1] * 65, [0.1] * 65],
}


@pytest.mark.parametrize(
    "kernel,bad",
    [("assign", b) for b in _BAD_VECTORS] + [("encode", b) for b in _BAD_VECTORS],
    ids=[*_BAD_VECTORS, *(f"encode_{b}" for b in _BAD_VECTORS)],
)
def test_ivf_assign_refuses_ragged_or_null_vectors(spark, kernel, bad):
    """The broadcast-argmax assignment and the PQ encode pass both
    refuse a malformed vector batch, naming the ``v`` column: 64-dim
    centroids, and 16 x 4-dim codebooks."""
    from mr_py_spark.operators.similarity import ivf_assign_with
    from mr_py_spark.operators.vectors import _pq_encode_frame

    vecs = spark.createDataFrame(
        list(enumerate(_BAD_VECTORS[bad])), "vec_id long, v array<double>"
    ).coalesce(1)
    if kernel == "assign":
        C = _unit_sample(7, 4, 64)
        cent = spark.createDataFrame(
            [(i, [float(x) for x in C[i]]) for i in range(len(C))],
            "cid long, cv array<double>",
        )
        out = ivf_assign_with(cent, vecs)
    else:
        out = _pq_encode_frame(vecs, _unit_sample(8, 16 * 8, 4).reshape(16, 8, 4))
    with pytest.raises(Exception, match="column 'v'"):
        out.collect()


@pytest.mark.parametrize(
    "rows,other",
    [
        ([[0.1] * 63, [0.1] * 65], None),  # ragged against row 0
        ([[0.1] * 64, None], None),
        ([[0.1] * 64, [0.1] * 63 + [None]], None),
        ([[0.1] * 63], [[0.1] * 64]),  # fine alone, wrong against the other side
    ],
    ids=["ragged", "null_vector", "null_value", "cross_side"],
)
def test_arrow_matrix_refuses_ragged_or_null_vectors(rows, other):
    """The one list -> matrix conversion checks every row, so a bad
    vector raises naming its column instead of reshaping into wrong
    rows; a good column comes back as a zero-copy view."""
    import pyarrow as pa

    good = pa.chunked_array([pa.array([[1.0, 2.0], [3.0, 4.0]])])
    m = arrow_matrix(good, "emb")
    assert not m.flags.writeable  # a view of the Arrow buffer, no copy
    assert np.array_equal(m, [[1.0, 2.0], [3.0, 4.0]])
    d = None if other is None else arrow_matrix(pa.array(other), "emb").shape[1]
    with pytest.raises(ValueError, match="column 'emb'"):
        arrow_matrix(pa.array(rows, pa.list_(pa.float64())), "emb", d)


def test_builder_stamps_name_the_lloyd_kernel(monkeypatch):
    """Each quantizer kind's stamp helper must hash the kernel's source,
    not only the trainer that wraps it: otherwise a kernel edit
    re-attaches stale cached tables."""
    from mr_py_spark.operators import bucketed
    from mr_py_spark.operators.hier import (
        _hier_index_stamp,
        _pq_books_stamp,
        _pq_codes_stamp,
    )
    from mr_py_spark.operators.vectors import _pq_encode_frame
    from mr_py_spark.operators.similarity import _ivf_stamp

    real = bucketed.builder_stamp
    seen: list = []

    def recording(*fns, **knobs):
        seen.extend(fns)
        return real(*fns, **knobs)

    monkeypatch.setattr(bucketed, "builder_stamp", recording)
    cases = [
        (
            lambda: _ivf_stamp(16),
            {_kmeans_init, _lloyd, _nearest, _unit_rows, arrow_matrix},
        ),
        (
            lambda: _hier_index_stamp(10_000),
            {_kmeans_init, _lloyd, _nearest, _unit_rows, arrow_matrix},
        ),
        (_pq_books_stamp, {_lloyd, _nearest, _pq_train}),
        (
            lambda: _pq_codes_stamp(10_000),
            {_pq_encode_frame, arrow_matrix, _lloyd, _nearest, _pq_train},
        ),
    ]
    for helper, kernel in cases:
        seen.clear()
        assert helper()
        assert kernel <= set(seen), [f.__name__ for f in seen]
