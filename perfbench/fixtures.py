"""Deterministic benchmark inputs, generated from source.

The benchmark runs from a bare checkout and reads nothing outside it, so
it cannot use the TESTDATA.md fixture directories. It writes base
``documents`` and ``embeddings`` tables with the FIXTURES.md schemas,
every value from a ``numpy`` generator seeded with ``GEN_SEED``, and
replicates them ``MUT_FACTOR`` times with ``scripts/gen_sf.py``'s own
``scale_table(..., mutate=True)``, as ``gen_sf --mutate`` does: copy ``c``
of base row ``d`` gets id ``c * n + d``; copy 0 is the base row, copies
1..``gen_sf._N_LIGHT`` are near-duplicates and later copies are distinct
rows. A given scale always yields byte-identical parquet files
(``content_stamp`` hashes them). The run's ``--seed`` never changes these
tables: it permutes the stream's slice of documents and the snapshot row
order instead, so parent and change read the same bytes.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
MUT_FACTOR = 10
TABLES = ("documents", "embeddings")

#: base rows per table at scale factor 1 (the FIXTURES.md counts / 0.1)
_ROWS_SF1 = {"documents": 50_000, "embeddings": 20_000}
_LANGS = ["en", "en", "fr", "es", "zh", "de"]
_VOCAB = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window cache index shard"
).split()
_DIM = 64


@functools.cache
def gen_sf():
    """``scripts/gen_sf.py`` of the checkout this file sits in."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "scripts", "gen_sf.py")
    spec = importlib.util.spec_from_file_location("gen_sf", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rows(table: str, sf: float) -> int:
    return max(10, int(round(_ROWS_SF1[table] * sf)))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(8, 90, n)
    toks = rng.integers(0, len(_VOCAB), int(lens.sum()))
    out, pos = [], 0
    for m in lens:
        out.append(" ".join(_VOCAB[t] for t in toks[pos : pos + m]))
        pos += m
    # ~4% planted near-duplicates: a copy of an earlier text with its
    # last word replaced
    for i in rng.choice(np.arange(1, n), size=max(1, n // 25), replace=False):
        j = int(rng.integers(0, i))
        words = out[j].split(" ")
        words[-1] = _VOCAB[(i * 7) % len(_VOCAB)]
        out[i] = " ".join(words)
    return out


def _embeddings(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Two-scale clustered unit vectors: 10 labels, 8 sub-centres each."""
    centres = rng.standard_normal((10, _DIM))
    subs = centres[:, None, :] + 0.6 * rng.standard_normal((10, 8, _DIM))
    label = rng.integers(0, 10, n)
    sub = rng.integers(0, 8, n)
    x = subs[label, sub] + 0.35 * rng.standard_normal((n, _DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), label.astype(np.int32)


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The base ``documents`` and ``embeddings`` tables at scale ``sf``."""
    rng = np.random.default_rng(GEN_SEED)
    nd = _rows("documents", sf)
    texts = _texts(rng, nd)
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), type=pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), nd)],
            "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(x) for x in texts], type=pa.int64()),
        }
    )
    nv = _rows("embeddings", sf)
    x, label = _embeddings(rng, nv)
    offsets = pa.array(np.arange(0, nv * _DIM + 1, _DIM, dtype=np.int32))
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), type=pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(x.reshape(-1))),
            "label": pa.array(label, type=pa.int32()),
        }
    )
    return {"documents": docs, "embeddings": emb}


def write_mutated(out_dir: str, sf: float) -> list[str]:
    """Write the base tables to ``out_dir/base`` and their ``MUT_FACTOR``
    mutated replicas, made by ``gen_sf.scale_table``, to ``out_dir``."""
    base_dir = os.path.join(out_dir, "base")
    os.makedirs(base_dir, exist_ok=True)
    bases = {}
    for name, table in base_tables(sf).items():
        pq.write_table(table, os.path.join(base_dir, f"{name}.parquet"))
        bases[{"documents": "doc", "embeddings": "vec"}[name]] = table.num_rows
    for name in TABLES:
        gen_sf().scale_table(base_dir, out_dir, name, MUT_FACTOR, bases,
                             row_group_size=150_000, mutate=True)
    return list(TABLES)


def content_stamp(out_dir: str, names) -> str:
    """sha256 over the named parquet files' bytes (first 16 hex digits)."""
    h = hashlib.sha256()
    for name in sorted(names):
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()[:16]


def ensure(out_dir: str, build) -> str:
    """Build ``out_dir`` with ``build(out_dir)`` unless a previous run
    left it complete; returns the content stamp, re-hashed each call so
    a damaged cache is rebuilt, not measured."""
    marker = os.path.join(out_dir, "_STAMP")
    try:
        with open(marker) as f:
            names, stamp = f.read().split("\n", 1)
        if content_stamp(out_dir, names.split(",")) == stamp.strip():
            return stamp.strip()
    except (OSError, ValueError):
        pass
    names = build(out_dir)
    stamp = content_stamp(out_dir, names)
    with open(marker + ".tmp", "w") as f:
        f.write(",".join(names) + "\n" + stamp)
    os.replace(marker + ".tmp", marker)
    return stamp
