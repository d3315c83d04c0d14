"""Seeded, vectorized input generation for the benchmark workloads.

The library only ever sees the parquet written here. Every array is drawn
from ``numpy.random.default_rng`` keyed by (workload, seed[, round]), so one
seed always gives the same bytes and another seed gives other bytes.
``grenier_spark.sources.synth`` is deliberately not used: its seed is fixed
and it draws one PCG64 stream per row, far too slow at benchmark size.

Files are cached under ``<cache>/<workload>-s<seed>-n<size>/`` and reused
when the ``_DONE`` marker is present.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_257                       # FIXTURES.md section 1
SOURCES = ("web", "books", "code", "wiki")
N_TENANTS = 64
_MASK64 = (1 << 64) - 1


def n_tok(doc_index: np.ndarray) -> np.ndarray:
    """FIXTURES.md section 1 doc lengths: 16 + (i * 2654435761 mod 241)."""
    i = doc_index.astype(np.uint64)
    return (16 + (i * np.uint64(2654435761)) % np.uint64(241)).astype(np.int32)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer (public constants), wrapping uint64 arithmetic.
    Kept here, not imported from the library, so that the inputs never
    depend on the code under test."""
    x = x.astype(np.uint64, copy=True)
    x += np.uint64(0x9E3779B97F4A7C15)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def docs_table(seed: int, first_doc: int, n_docs: int) -> pa.Table:
    """FIXTURES.md section 1 documents: ``array<int32>`` tokens drawn as
    floor(V * u^3), 16..256 tokens per doc, four round-robin sources."""
    idx = np.arange(first_doc, first_doc + n_docs, dtype=np.int64)
    lens = n_tok(idx)
    rng = np.random.default_rng([seed, first_doc])
    u = rng.random(int(lens.sum()))
    tokens = np.floor(VOCAB * u * u * u).astype(np.int32)
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    source = pa.DictionaryArray.from_arrays(
        pa.array(idx % len(SOURCES), pa.int32()), pa.array(SOURCES))
    return pa.table({
        "source": source.cast(pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets),
                                           pa.array(tokens)),
        "n_tok": pa.array(lens),
    })


def keys_table(seed: int, n_keys: int) -> pa.Table:
    """All-distinct int64 keys: splitmix64 of seed-offset indices (the shape
    of document and content hashes), spread over 64 tenants by the key's
    high bits."""
    base = (seed * (1 << 40)) & _MASK64
    h = splitmix64(np.arange(n_keys, dtype=np.uint64) + np.uint64(base))
    tenant = (h >> np.uint64(58)).astype(np.int32)
    names = pa.array([f"t{t:02d}" for t in range(N_TENANTS)])
    return pa.table({
        "tenant": pa.DictionaryArray.from_arrays(
            pa.array(tenant), names).cast(pa.string()),
        "key": pa.array(h.view(np.int64)),
    })


def write_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files of contiguous rows, so
    Spark gets one scan split per file however small the input is."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for f in range(n_files):
        part = table.slice(int(bounds[f]), int(bounds[f + 1] - bounds[f]))
        pq.write_table(part, os.path.join(out_dir, f"part-{f:04d}.parquet"))


def cached(cache_dir: str, workload: str, seed: int, size: int,
           build) -> "tuple[str, float]":
    """Directory holding ``build(tmp_dir)``'s output for (workload, seed,
    size), and the seconds spent generating it (0.0 on a cache hit)."""
    path = os.path.join(cache_dir, f"{workload}-s{seed}-n{size}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path, 0.0
    t0 = time.perf_counter()
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path, time.perf_counter() - t0
