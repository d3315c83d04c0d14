"""Distributed two-level sketch build (SURVEY.md §3.2 lifecycle).

Pipeline shape::

    df.select(group_cols + value_cols)           # Catalyst prunes the scan
      .mapInArrow(partial_builder, ...)          # level 1: per-partition
                                                 #   vectorized numpy updates
      .groupBy(group, name, salt).applyInArrow   # level 2a: salted merge
      .groupBy(group, name).applyInArrow         # level 2b: final merge

Level 1 turns token-scale data into sketch-scale rows (one KB-sized state
per (input partition x group x spec)); only sketch-sized rows ever shuffle.
With N partial rows per (group, spec), level 2a hashes them over
``fanout`` salts by partition id, so each (group, spec, salt) task folds
about N/``fanout`` rows and emits one; level 2b then folds at most
``fanout`` rows per (group, spec). Level 2a runs only when one merge key
can receive more than ``fanout`` partial rows: a caller that knows N from
its own plan (the scan's partition count, the reader task count, the
checkpointed file count) and finds N <= ``fanout`` gets level 2b alone, one
shuffle and one Python stage fewer, whose one merge folds at most
``fanout`` rows per key like level 2b; an unknown N keeps both levels.
HLL/CMS/Bloom merges are exact and associative, so the result is
BIT-IDENTICAL to a single-threaded build regardless of partitioning or
merge depth (tests/test_spark_pipeline.py asserts this parity).

Per-partition metrics (partition id, rows, values, build time) ride along in
the partial rows and survive aggregation as sums — the lineage/metrics
surface the checkpoint layer (plans/checkpoint.py) persists.

Per-batch grouping cost: one token-level ``np.repeat`` + stable argsort per
value column, then O(1) slices per group — no per-group rescans.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType)

from ..core import hll
from ..core.bits import U64, wang64
from ..core.bloom import Bloom
from ..core.cuckoo import Cuckoo
from ..core.countmin import CountMin
from ..core.countsketch import CountSketch
from ..core.doubledouble import DDSum, Moments
from ..core.kll import KLL
from ..core.req import REQ
from ..core.freqdirs import FrequentDirections
from ..core.ddsketch import DDSketch
from ..core.kmv import KMV
from ..core.minhash import MinHashSig
from ..core.misragries import MisraGries
from ..core.prioritysample import PrioritySample
from ..core.tdigest import TDigest


@dataclass(frozen=True)
class SketchSpec:
    """One sketch to build.

    kind: 'hll' | 'cms' | 'csk' | 'bloom' | 'ckf' | 'kmv' | 'mh' | 'mg'
          | 'kll' | 'tdigest' | 'dd' | 'req' | 'ddsum' | 'mom' | 'fd'
    column: source column — array<int*> token sequences (hll/cms/bloom/kmv
            hash each token; mg counts the raw integer keys; kll/tdigest
            sketch the token values), a numeric scalar column, or for 'fd'
            an array<float*> vector column (each row one input vector;
            fixed dim, non-null, NaN-free by contract).
    params: kind-specific, via ``SketchSpec.of(name, kind, column, p=14)``:
            hll {'p'}, cms {'depth','width','seed'}, bloom {'m','k','seed'},
            csk {'depth','width','seed'}, kmv {'k'}, mh {'k','seed'},
            mg {'k'},
            kll {'k','seed'}, tdigest {'delta'},
            req {'k','seed'} (REQ PODS'21 — relative TAIL rank error,
            order-sensitive like kll), dd {'alpha'} (DDSketch —
            bucket-histogram quantiles; order-INsensitive, so it merges
            byte-identically like hll/cms, unlike kll/tdigest),
            fd {'ell','dim'},
            ckf {'n_buckets','fp_bits','seed'} (deletable membership —
            MULTISET semantics, size n_buckets for TOTAL insertions via
            cuckoo.params_for; build raises loudly past capacity).
    """

    name: str
    kind: str
    column: str
    params: "frozenset[tuple]" = field(default_factory=frozenset)

    @staticmethod
    def of(name: str, kind: str, column: str, **params) -> "SketchSpec":
        return SketchSpec(name, kind, column, frozenset(params.items()))

    @property
    def p(self) -> dict:
        return dict(self.params)


def _new_state(spec: SketchSpec):
    p = spec.p
    if spec.kind == "hll":
        if "error" in p:  # reference surface: make ~error (hll.ml:26-32, Q1)
            return hll.make(p["error"])
        return hll.make_p(p.get("p", 14))
    if spec.kind == "cms":
        return CountMin(p.get("depth", 5), p.get("width", 8192), p.get("seed", 7))
    if spec.kind == "csk":
        return CountSketch(p.get("depth", 5), p.get("width", 8192),
                           p.get("seed", 7))
    if spec.kind == "bloom":
        return Bloom(p.get("m", 1 << 20), p.get("k", 7), p.get("seed", 7))
    if spec.kind == "ckf":
        return Cuckoo(p.get("n_buckets", 1 << 16), p.get("fp_bits", 16),
                      p.get("seed", 7))
    if spec.kind == "kmv":
        return KMV(p.get("k", 256))
    if spec.kind == "mh":
        return MinHashSig(p.get("k", 64), p.get("seed", 7))
    if spec.kind == "mg":
        return MisraGries(p.get("k", 256))
    if spec.kind == "kll":
        return KLL(p.get("k", 200), seed=p.get("seed", 42))
    if spec.kind == "tdigest":
        return TDigest(p.get("delta", 200))
    if spec.kind == "dd":
        return DDSketch(p.get("alpha", 0.01))
    if spec.kind == "req":
        return REQ(p.get("k", 32), seed=p.get("seed", 42))
    if spec.kind == "ddsum":
        return DDSum()
    if spec.kind == "mom":
        return Moments()
    if spec.kind == "fd":
        return FrequentDirections(p.get("ell", 16), p["dim"])
    raise ValueError(f"unknown sketch kind {spec.kind!r}")


_CHUNK = 1 << 16   # cache-block hash kernels: wang64/scatter temporaries stay
# L2-resident (measured 3x single-core vs full-width passes)
_VOCAB_LIMIT = 1 << 22  # dictionary-update fast path bound (16 MB bincount)


def _dictionarize(values: np.ndarray):
    """(distinct_keys, counts) when values are dense small non-negative ints.

    Token ids from BPE-style vocabularies are ints in [0, ~50k-200k); a batch
    of millions of tokens touches each id many times. One int32 bincount pass
    then updating sketches ONCE PER DISTINCT id is byte-exact for HLL
    (max over same key set), count-min (weighted add), and Bloom (same bits),
    and cuts hash traffic by the batch/vocab ratio (~50x here) — this is what
    keeps the build compute-light at 100TB token scale. Returns None for
    high-cardinality/negative/float keys (fall back to direct hashing).
    """
    if len(values) < 8192 or not np.issubdtype(values.dtype, np.integer):
        return None
    vmax = int(values.max())
    if vmax >= _VOCAB_LIMIT or int(values.min()) < 0:
        return None
    counts = np.bincount(values, minlength=0)
    nz = np.flatnonzero(counts)
    return nz.astype(np.int64).view(U64), counts[nz].astype(np.int64)


def _grouped_counts(batch: pa.RecordBatch, col: str, codes: np.ndarray,
                    n_groups: int):
    """Per-group (distinct_keys, counts, n_values) via ONE composite
    bincount over ``group_code * V + token`` — the count-sketch fast path
    generalized to grouped batches.

    Versus routing through :func:`_grouped_column` (token-level group-code
    repeat, per-group mask scans, gather copies, int64 upcast: ~100 bytes
    of memory traffic per token), this touches each token ~3x less — and
    memory traffic is what bounds this box (BENCH/BASELINE.md). Returns
    None when inapplicable (nulls, negative/huge ids, float keys); callers
    fall back to the exact generic path. Byte-exact for hll/cms/bloom/kmv: the
    same distinct keys and multiplicities reach the state updates.
    """
    arr = batch.column(col)
    is_list = pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
    if is_list:
        offsets = arr.offsets.to_numpy()
        flat = arr.values.slice(int(offsets[0]),
                                int(offsets[-1] - offsets[0]))
        if flat.null_count or arr.null_count:
            return None
        values = flat.to_numpy(zero_copy_only=False)
    else:
        if arr.null_count:
            return None
        values = arr.to_numpy(zero_copy_only=False)
    # applicability checks BEFORE the token-scale repeat: a column that
    # declines every batch (md5-range ids) must not pay a wasted 8B/token
    # write first
    if len(values) < 8192 or not np.issubdtype(values.dtype, np.integer):
        return None
    vmax = int(values.max())
    if int(values.min()) < 0 or (vmax + 1) * n_groups >= _VOCAB_LIMIT:
        return None
    if n_groups > 1:
        vcodes = np.repeat(codes, np.diff(offsets)) if is_list else codes
    else:
        vcodes = None
    v_span = vmax + 1
    if vcodes is None:
        counts = np.bincount(values, minlength=v_span)
    else:
        # composite key built in place in the repeat buffer: two fewer
        # token-scale allocations/write passes than `vcodes * V + values`
        comp = vcodes if vcodes.base is None and vcodes is not codes \
            else vcodes.astype(np.int64)
        np.multiply(comp, np.int64(v_span), out=comp)
        np.add(comp, values, out=comp, casting="unsafe")
        counts = np.bincount(comp, minlength=n_groups * v_span)
    out = []
    for g in range(n_groups):
        sl = counts[g * v_span:(g + 1) * v_span]
        nz = np.flatnonzero(sl)
        gcounts = sl[nz]
        out.append((nz.astype(np.int64).view(U64), gcounts,
                    int(gcounts.sum())))
    return out


def _update_from_counts(state, spec: SketchSpec, keys: np.ndarray,
                        counts: np.ndarray) -> None:
    """Apply a (distinct keys, multiplicities) histogram — identical state
    transitions to feeding the raw stream (max-merge HLL, weighted CMS add,
    idempotent Bloom bits)."""
    if not len(keys):
        return
    if spec.kind == "hll":
        hll.add_batch(state, wang64(keys))
    elif spec.kind in ("cms", "csk"):
        state.update_batch(keys, weights=counts)
    elif spec.kind == "mg":
        # dense small non-negative ints: the u64 view equals the original
        # int64 values, so counting the view verbatim is exact
        state.update_batch(keys.view(np.int64), weights=counts)
    elif spec.kind == "ckf":
        # cuckoo is a MULTISET (each occurrence occupies a slot): expand
        # the histogram back so the fast path transitions identically to
        # the raw stream
        state.update_batch(np.repeat(keys, counts.astype(np.int64)))
    else:
        state.update_batch(keys)


def _update(state, spec: SketchSpec, values: np.ndarray) -> None:
    if not len(values):
        return
    if spec.kind == "fd":
        # the vector column arrives element-flattened; the fixed dim from
        # the spec recovers the (rows, dim) shape. A non-multiple length
        # means ragged vectors or dropped null/NaN elements — corrupt
        # input for a matrix sketch, so fail loudly instead of shearing
        # every subsequent row by one element.
        dim = state.dim
        if len(values) % dim:
            raise ValueError(
                f"fd sketch: {len(values)} elements is not a multiple of "
                f"dim={dim} (ragged, null or NaN vector elements?)")
        state.update_batch(values.astype(np.float64,
                                         copy=False).reshape(-1, dim))
        return
    if spec.kind == "mg":
        if values.dtype.kind == "f":
            raise ValueError("mg sketch over a float column: counting "
                             "kinds need integer keys")
        # one exact-histogram absorb per batch — equivalent state
        # transition to the _grouped_counts fast path (same histogram)
        state.update_batch(values.astype(np.int64, copy=False))
        return
    if spec.kind == "ckf":
        if values.dtype.kind == "f":
            raise ValueError("ckf sketch over a float column: hashed "
                             "kinds need integer keys")
        # no dictionarize: duplicates occupy slots by the multiset contract
        state.update_batch(values.astype(np.int64, copy=False).view(U64))
        return
    if spec.kind in ("hll", "cms", "csk", "bloom", "kmv", "mh"):
        dic = _dictionarize(values)
        if dic is not None:
            keys, counts = dic
            if spec.kind == "hll":
                hll.add_batch(state, wang64(keys))
            elif spec.kind in ("cms", "csk"):
                state.update_batch(keys, weights=counts)
            else:
                state.update_batch(keys)
            return
        if values.dtype.kind == "f":
            # astype would TRUNCATE floats (1.1 and 1.9 both -> key 1),
            # silently collapsing distinct values; hashed kinds take
            # integer keys by contract — hash float bits explicitly if
            # that is what you mean
            raise ValueError(
                f"{spec.kind} sketch over a float column: hashed kinds "
                f"need integer keys (cast, or hash the bit pattern)")
        keys = values.astype(np.int64, copy=False).view(U64)
        for s in range(0, len(keys), _CHUNK):
            chunk = keys[s:s + _CHUNK]
            if spec.kind == "hll":
                # canonical token hash: wang64 (mirrors reference hll/test.ml:7)
                hll.add_batch(state, wang64(chunk))
            else:  # cms/bloom hash internally (salted wang64 rows)
                state.update_batch(chunk)
    else:  # quantile sketches take raw values
        state.update_batch(values.astype(np.float64))


def _to_bytes(state, kind: str) -> bytes:
    # level-1 HLL partials use the auto (sparse-when-smaller) encoding to
    # keep shuffle volume proportional to actual register fill; every merge
    # re-emits the dense public wire format (hll.to_bytes_auto docstring)
    return hll.to_bytes_auto(state) if kind == "hll" else state.to_bytes()


def _merge_blobs(kind: str, blobs: "list[bytes]") -> bytes:
    if kind == "hll":
        return hll.to_bytes(
            hll.merge_many([hll.from_bytes_any(b) for b in blobs]))
    cls = {"cms": CountMin, "csk": CountSketch, "bloom": Bloom,
           "ckf": Cuckoo, "kmv": KMV, "mh": MinHashSig, "mg": MisraGries,
           "kll": KLL,
           "tdigest": TDigest, "dd": DDSketch, "req": REQ,
           "ddsum": DDSum, "mom": Moments,
           "fd": FrequentDirections, "ps": PrioritySample}[kind]
    acc = cls.from_bytes(blobs[0])
    for b in blobs[1:]:
        acc.merge(cls.from_bytes(b))
    return acc.to_bytes()


_TAIL_FIELDS = [
    StructField("sketch_name", StringType(), False),
    StructField("sketch", BinaryType(), False),
    StructField("n_rows", LongType(), False),
    StructField("n_values", LongType(), False),
    StructField("part_id", IntegerType(), False),
    StructField("build_us", LongType(), False),
]


def _group_order(codes: np.ndarray, n_groups: int):
    """(order, bounds): the stable permutation that sorts ``codes`` and each
    group's span in it — group g's rows are ``order[bounds[g]:bounds[g +
    1]]``, in input order. One O(n log n) sort instead of a mask pass per
    group."""
    order = np.argsort(codes, kind="stable")
    bounds = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(np.bincount(codes, minlength=n_groups), out=bounds[1:])
    return order, bounds


def _grouped_column(batch: pa.RecordBatch, col: str, codes: np.ndarray,
                    n_groups: int):
    """Group-sorted flat values + group boundaries for a list/scalar column.

    Returns (sorted_values, bounds) where group g's values are
    ``sorted_values[bounds[g]:bounds[g + 1]]``.
    """
    arr = batch.column(col)
    if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
        offsets = arr.offsets.to_numpy()
        flat = arr.values.slice(int(offsets[0]),
                                int(offsets[-1] - offsets[0]))
        vcodes = np.repeat(codes, np.diff(offsets))
    else:
        flat = arr
        vcodes = codes
    # drop nulls at the ARROW level, before numpy conversion: an int64
    # column with nulls otherwise converts to float64, silently mangling
    # token ids with |v| > 2^53 and turning null list elements into NaN
    # that would later be counted as garbage int64 values
    if flat.null_count:
        ok = ~np.asarray(flat.is_null())
        flat = flat.drop_null()
        vcodes = vcodes[ok]
    values = flat.to_numpy(zero_copy_only=False)
    if values.dtype.kind == "f":  # float32 NaN must filter like float64
        keep = ~np.isnan(values)
        values, vcodes = values[keep], vcodes[keep]
    if n_groups == 1:
        return values, np.array([0, len(values)], dtype=np.int64)
    if n_groups <= 16:
        # few groups: g boolean-mask compressions beat an O(n log n) argsort
        # (measured ~5x on 4-group token batches)
        parts = [values[vcodes == g] for g in range(n_groups)]
        bounds = np.zeros(n_groups + 1, dtype=np.int64)
        np.cumsum([len(p) for p in parts], out=bounds[1:])
        return np.concatenate(parts) if parts else values, bounds
    order, bounds = _group_order(vcodes, n_groups)
    return values[order], bounds


def build_sketches(df: DataFrame, specs: "list[SketchSpec]",
                   group_cols: "list[str] | None" = None,
                   fanout: int = 32) -> DataFrame:
    """Build all ``specs`` over ``df``, optionally grouped by ``group_cols``.

    Returns DataFrame[group_cols..., sketch_name, sketch, n_rows, n_values,
    part_id(-1 after merge), build_us(summed)], one row per (group, spec).
    """
    group_cols = list(group_cols or [])
    specs = list(specs)
    value_cols = sorted({s.column for s in specs})
    src = df.select(*group_cols, *value_cols)

    out_schema = StructType([src.schema[c] for c in group_cols] + _TAIL_FIELDS)
    arrow_schema = to_arrow_schema(out_schema)
    kind_of = {s.name: s.kind for s in specs}

    def partial_builder(batches):
        acc = _Accumulator(specs, group_cols, value_cols, out_schema,
                           arrow_schema)
        for batch in batches:
            acc.feed(batch)
        rb = acc.flush()
        if rb is not None:
            yield rb

    partials = src.mapInArrow(partial_builder, out_schema)
    # each level-1 task emits one row per (group, spec) it saw
    return _merge_partials(partials, kind_of, group_cols, fanout,
                           _scan_partitions(src))


def _batch_group_codes(batch: pa.RecordBatch, group_cols: "list[str]"):
    """(codes, gkeys) for one Arrow batch — THE shared group encoding for
    every per-partition builder (the _Accumulator specs path, the
    weighted-dd and priority-sample builders). Single non-null group
    column rides Arrow dictionary_encode C-side; the general path
    factorizes with use_na_sentinel=False so NULL group values form a
    REAL group, normalized NaN->None so the key is stable across batches
    (NaN != NaN would fragment dict state AND crash the Arrow flush when
    a float NaN lands in a string group field)."""
    if (len(group_cols) == 1
            and batch.column(group_cols[0]).null_count == 0
            and not pa.types.is_floating(batch.column(group_cols[0]).type)):
        # single non-null group column: Arrow dictionary_encode gives
        # codes + uniques C-side (pandas to_pandas + factorize on a
        # string column costs ~0.5 us/row of pure Python-object churn).
        # Float group columns are excluded: a NaN is a VALUE to Arrow but
        # norm() below folds it into the NULL group — routing floats
        # through factorize keeps the same logical key whichever path a
        # batch takes.
        enc = batch.column(group_cols[0]).dictionary_encode()
        codes = enc.indices.to_numpy().astype(np.int64, copy=False)
        return codes, [(u,) for u in enc.dictionary.to_pylist()]
    if group_cols:
        gdf = pd.DataFrame(
            {c: batch.column(c).to_pandas() for c in group_cols})
        key_obj = (pd.MultiIndex.from_frame(gdf) if len(group_cols) > 1
                   else gdf[group_cols[0]])
        # use_na_sentinel=False: null group values form a real group
        # (otherwise factorize emits -1 codes and null rows vanish)
        codes, uniques = pd.factorize(key_obj, sort=False,
                                      use_na_sentinel=False)

        def norm(v):
            # NaN != NaN would fragment dict state across batches
            return None if not isinstance(v, (tuple, list, np.ndarray)) \
                and pd.isna(v) else v

        gkeys = [tuple(norm(x) for x in u) if isinstance(u, tuple)
                 else (norm(u),) for u in uniques]
        return codes, gkeys
    return np.zeros(batch.num_rows, dtype=np.int64), [()]


def _flush_partials(entries, group_cols, out_schema, arrow_schema, t0):
    """One partial-rows RecordBatch from ``entries`` =
    [(gkey, sketch_name, blob, n_rows, n_values), ...] — the shared
    flush for every per-partition builder. Returns None when empty.

    build_us is the TASK's wall time apportioned across its emitted
    rows (remainder on the first), so SUM(build_us) over any row set
    equals total build wall time — stamping the full elapsed on
    every (group, spec) row would overcount by rows-per-task once
    the metrics table is aggregated."""
    if not entries:
        return None
    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else -1
    elapsed_us = int((time.monotonic() - t0) * 1e6)
    share, rem = divmod(elapsed_us, len(entries))
    out: dict = {f.name: [] for f in out_schema.fields}
    for gkey, name, blob, n_rows, n_values in entries:
        for c, v in zip(group_cols, gkey):
            out[c].append(v)
        out["sketch_name"].append(name)
        out["sketch"].append(blob)
        out["n_rows"].append(n_rows)
        out["n_values"].append(n_values)
        out["part_id"].append(pid)
        out["build_us"].append(share + (rem if not out["build_us"]
                                        else 0))
    return pa.RecordBatch.from_pydict(out, schema=arrow_schema)


class _Accumulator:
    """Per-task partial-sketch state shared by the DataFrame path
    (build_sketches) and the native-reader path (build_sketches_from_files):
    feed Arrow RecordBatches, flush one partial-rows batch."""

    def __init__(self, specs, group_cols, value_cols, out_schema,
                 arrow_schema):
        self.specs = specs
        self.group_cols = group_cols
        self.value_cols = value_cols
        self.out_schema = out_schema
        self.arrow_schema = arrow_schema
        self.kind_of = {s.name: s.kind for s in specs}
        # columns consumed ONLY by count-sketches can ride the composite-
        # bincount fast path (quantile/sum sketches need the raw stream)
        self.countable = {
            c: all(s.kind in ("hll", "cms", "csk", "bloom", "kmv", "mh",
                              "mg")
                   for s in specs if s.column == c)
            for c in value_cols}
        self.states: dict = {}   # (gkey, spec_name) -> state
        self.counts: dict = {}   # (gkey, spec_name) -> [rows, values]
        self.t0 = time.monotonic()

    def feed(self, batch: pa.RecordBatch) -> None:
        if batch.num_rows == 0:
            return
        codes, gkeys = _batch_group_codes(batch, self.group_cols)
        grouped: dict = {}
        counted: dict = {}
        for c in self.value_cols:
            gc = (_grouped_counts(batch, c, codes, len(gkeys))
                  if self.countable[c] else None)
            if gc is not None:
                counted[c] = gc
            else:
                grouped[c] = _grouped_column(batch, c, codes, len(gkeys))
        row_counts = np.bincount(codes, minlength=len(gkeys))
        for g, gkey in enumerate(gkeys):
            for spec in self.specs:
                key = (gkey, spec.name)
                st = self.states.get(key)
                if st is None:
                    st = self.states.setdefault(key, _new_state(spec))
                cnt = self.counts.setdefault(key, [0, 0])
                cnt[0] += int(row_counts[g])
                if spec.column in counted:
                    keys, gcounts, nvals = counted[spec.column][g]
                    _update_from_counts(st, spec, keys, gcounts)
                    cnt[1] += nvals
                else:
                    vals, bounds = grouped[spec.column]
                    gvals = vals[bounds[g]:bounds[g + 1]]
                    _update(st, spec, gvals)
                    cnt[1] += len(gvals)

    def flush(self) -> "pa.RecordBatch | None":
        entries = [(gkey, name, _to_bytes(st, self.kind_of[name]),
                    self.counts[(gkey, name)][0],
                    self.counts[(gkey, name)][1])
                   for (gkey, name), st in self.states.items()]
        return _flush_partials(entries, self.group_cols, self.out_schema,
                               self.arrow_schema, self.t0)


def _reader_threads(spark, n_tasks: int) -> bool:
    """Default ``use_threads`` for :func:`build_sketches_from_files`.

    An Arrow decode thread-pool per concurrent task oversubscribes the box
    when tasks ~ cores (measured 6x wall blowup under load at 64 tasks);
    with FEW fat readers the idle cores belong to the decoder, so threads
    help. The crossover is the executor-core budget: threads on only when
    readers use <= half the cores. When that budget cannot be read, threads
    stay off: the local cpu count says nothing about the executors, and
    guessing high is the oversubscription this default exists to avoid."""
    try:
        slots = int(spark.sparkContext.defaultParallelism)
    except Exception:
        return False
    return n_tasks * 2 <= slots


def build_sketches_from_files(spark, files: "list[str]",
                              specs: "list[SketchSpec]",
                              group_cols: "list[str] | None" = None,
                              fanout: int = 32,
                              batch_rows: int = 65536,
                              n_tasks: "int | None" = None,
                              use_threads: "bool | None" = None
                              ) -> DataFrame:
    """Native-reader variant: Python workers read the parquet FILES directly
    with pyarrow, skipping the JVM nested-column decode + Arrow-IPC hop
    (measured ~20x faster per file for array<int32> token columns).

    Trade-off vs build_sketches: bypasses Catalyst's scan (no predicate
    pushdown / row-group pruning), so use it for FULL-SCAN sketch jobs over
    known file lists — exactly the bench/checkpoint workload, where the file
    list comes from a snapshot manifest anyway. Parallelism: ``n_tasks``
    concurrent readers (default one per file), each folding its file
    subset into ONE partial row. On a bandwidth-bound host fewer, fatter
    readers win (the decode is a memory-stream workload: 8 concurrent
    decoders saturate a single-socket bus; 32 thrash it) — on a real
    multi-executor cluster set n_tasks ~ total executor cores, the same
    sizing rule as any scan. Partial rows and everything downstream are
    identical to build_sketches (byte parity asserted in tests)."""
    import pyarrow.parquet as pq

    group_cols = list(group_cols or [])
    specs = list(specs)
    value_cols = sorted({s.column for s in specs})
    kind_of = {s.name: s.kind for s in specs}

    # Spark-side schema probed from the first file (0 rows read)
    probe = spark.read.parquet(files[0]).select(*group_cols, *value_cols)
    out_schema = StructType([probe.schema[c] for c in group_cols]
                            + _TAIL_FIELDS)
    arrow_schema = to_arrow_schema(out_schema)
    need_cols = group_cols + value_cols

    if n_tasks is None:
        n_tasks = len(files)
    n_tasks = max(1, min(n_tasks, len(files)))
    # RoundRobinPartitioning spreads the file rows evenly over n_tasks
    # partitions; each task streams its subset sequentially
    paths_df = (spark.createDataFrame([(f,) for f in files], "path string")
                .repartition(n_tasks))

    if use_threads is None:
        use_threads = _reader_threads(spark, n_tasks)

    def worker(batches):
        acc = _Accumulator(specs, group_cols, value_cols, out_schema,
                           arrow_schema)
        for b in batches:
            for path in b.column("path").to_pylist():
                tbl = pq.read_table(path, columns=need_cols,
                                    use_threads=use_threads)
                for rb in tbl.to_batches(max_chunksize=batch_rows):
                    acc.feed(rb)
        out = acc.flush()
        if out is not None:
            yield out

    partials = paths_df.mapInArrow(worker, out_schema)
    return _merge_partials(partials, kind_of, group_cols, fanout, n_tasks)


def build_sketches_deterministic(df: DataFrame, specs: "list[SketchSpec]",
                                 group_cols: "list[str] | None" = None,
                                 order_cols: "list[str] | None" = None
                                 ) -> DataFrame:
    """Deterministic single-stream variant for order-sensitive sketches
    (KLL / t-digest / ddsum): each group's rows are routed to ONE partition
    and sorted by ``order_cols`` before the build, so the update sequence —
    and therefore the serialized sketch BYTES — is identical across runs
    and input partitionings (asserted in test_spark_pipeline.py).

    ``order_cols`` need only make the update VALUES deterministic: sorting
    by the sketched value columns themselves suffices (rows tied on the
    full sort key feed identical values, so tie order cannot change the
    state).

    This is the calibration/reproducibility path: one task per group, so
    use it when per-group data fits a task (or for golden-file tests); the
    production path stays :func:`build_sketches`, whose order-sensitive
    results are deterministic per partitioning and estimate-bound-gated.
    Order-insensitive kinds (hll/cms/bloom/kmv/mh/dd) produce the same
    bytes on both paths.
    """
    group_cols = list(group_cols or [])
    order_cols = list(order_cols or [])
    if group_cols:
        routed = df.repartition(*[F.col(c) for c in group_cols])
    else:
        routed = df.coalesce(1)
    routed = routed.sortWithinPartitions(*(group_cols + order_cols))
    # every group lives in exactly one sorted partition -> its level-1
    # partial is the complete sketch; the merge stages are identity
    return build_sketches(routed, specs, group_cols=group_cols, fanout=1)


def merge_partials(partials: DataFrame, kind_of: "dict[str, str]",
                   group_cols: "list[str]", fanout: int = 32) -> DataFrame:
    """Associative merge of partial-sketch rows: one row per (group, spec).

    The rows per merge key are not known here, so both levels run (the
    module docstring states the fan-in each one has)."""
    return _merge_partials(partials, kind_of, group_cols, fanout, None)


def _merge_partials(partials: DataFrame, kind_of: "dict[str, str]",
                    group_cols: "list[str]", fanout: int,
                    rows_per_key: "int | None") -> DataFrame:
    """merge_partials with the caller's bound on partial rows per merge
    key. A bound within ``fanout`` plans the final merge alone; an unknown
    (None) or larger bound plans the salted level 2a first."""
    merge_keys = group_cols + ["sketch_name"]
    out_schema = partials.schema
    arrow_schema = to_arrow_schema(out_schema)

    def merge_group(table: pa.Table) -> pa.Table:
        kind = kind_of[table.column("sketch_name")[0].as_py()]
        merged = {"sketch": [_merge_blobs(kind,
                                          table.column("sketch").to_pylist())],
                  "part_id": [-1]}
        for c in ("n_rows", "n_values", "build_us"):
            merged[c] = [pc.sum(table.column(c)).as_py()]
        head = table.slice(0, 1)
        return pa.Table.from_arrays(
            [pa.array(merged[f.name], f.type) if f.name in merged
             else head.column(f.name).cast(f.type) for f in arrow_schema],
            schema=arrow_schema)

    if rows_per_key is None or rows_per_key > fanout:
        partials = (partials
                    .withColumn("_salt",
                                F.pmod(F.col("part_id"), F.lit(fanout)))
                    .groupBy(*merge_keys, "_salt")
                    .applyInArrow(merge_group, out_schema))
    return partials.groupBy(*merge_keys).applyInArrow(merge_group, out_schema)


def _scan_partitions(df: DataFrame) -> "int | None":
    """Partition count of ``df`` when its physical plan is ONE file scan
    under narrow operators only (no Exchange, no second input, no
    bucketing), else None. Read from the planned scan's input RDD, so no
    Spark job runs. A streaming DataFrame has no batch plan to read."""
    if df.isStreaming:
        return None
    stack, leaves = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        if "Exchange" in node.getClass().getSimpleName():
            return None
        kids = node.children()
        if kids.length() == 0:
            leaves.append(node)
        stack.extend(kids.apply(i) for i in range(kids.length()))
    if (len(leaves) != 1
            or leaves[0].getClass().getSimpleName() != "FileSourceScanExec"
            or leaves[0].relation().bucketSpec().isDefined()):
        return None
    return int(leaves[0].inputRDD().getNumPartitions())


def build_dd_weighted(df: DataFrame, value_col: str, weight_col: str,
                      group_cols: "list[str] | None" = None,
                      alpha: float = 0.01, name: str = "dw",
                      fanout: int = 32) -> DataFrame:
    """Per-group WEIGHTED DDSketch build: each row's ``value_col`` counts
    ``weight_col`` times (integer weights >= 0), answering weighted
    quantiles — "the value a random unit of WEIGHT lives at", e.g. the
    doc-length distribution as experienced by a random token when
    weight = token count.

    Same 10^12-row shape as :func:`build_sketches`: the (value, weight)
    pairs fold into KB bucket histograms in the scan stage (mapInArrow,
    narrow — the payload never shuffles) and only sketch-sized partial
    rows ride the two-stage bounded-fan-in merge. DDSketch state is a
    pure bucket histogram, so the result is BYTE-IDENTICAL to a
    single-stream weighted build under any partitioning, and the weighted
    estimator is value-exactly SQL-reproducible
    (sql_oracles.dd_quantile_sql with ``weight_col=``).

    Rows where value or weight is NULL are dropped (counted in n_rows,
    not n_values); zero weights fold as no-ops; negative weights raise.
    NULL group values form a real group (same contract as
    build_sketches). A group whose MERGED state is empty (every pair
    NULL or zero-weight) emits NO result row — matching the SQL twin,
    where the w > 0 filter leaves no group to aggregate, and keeping
    downstream quantile reads from hitting an empty sketch; the filter
    runs on the merged KB rows, so per-partition metrics of surviving
    groups stay exact. Output schema matches
    build_sketches: [group_cols..., sketch_name, sketch, n_rows,
    n_values, part_id, build_us] with n_values = the number of non-null
    (value, weight) pairs folded (the total WEIGHT is the sketch's own
    n, read via ``functions.dd_stats_col(...)['n']``).
    """
    group_cols = list(group_cols or [])
    src = df.select(*group_cols, value_col, weight_col)
    out_schema = StructType([src.schema[c] for c in group_cols]
                            + _TAIL_FIELDS)
    arrow_schema = to_arrow_schema(out_schema)

    def builder(batches):
        t0 = time.monotonic()
        states: dict = {}
        counts: dict = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            codes, gkeys = _batch_group_codes(batch, group_cols)
            row_counts = np.bincount(codes, minlength=len(gkeys))
            # JOINT null filter at the Arrow level: value and weight must
            # both be present, and int64 weights must never pass through a
            # nullable-float pandas conversion (|w| > 2^53 would mangle)
            varr, warr = batch.column(value_col), batch.column(weight_col)
            ok = pc.and_(varr.is_valid(), warr.is_valid())
            keep = np.asarray(ok)
            vals = np.asarray(varr.to_numpy(zero_copy_only=False),
                              dtype=np.float64)[keep]
            w = warr.filter(ok).to_numpy(zero_copy_only=False)
            # float64 NaN values filter like NULL (same contract as the
            # unweighted quantile-kind path in _grouped_column)
            fin = ~np.isnan(vals)
            order, bounds = _group_order(codes[keep][fin], len(gkeys))
            vals, w = vals[fin][order], w[fin][order]
            for g, gkey in enumerate(gkeys):
                st = states.get(gkey)
                if st is None:
                    st = states.setdefault(gkey, DDSketch(alpha))
                cnt = counts.setdefault(gkey, [0, 0])
                cnt[0] += int(row_counts[g])
                lo, hi = bounds[g], bounds[g + 1]
                st.update_batch_weighted(vals[lo:hi], w[lo:hi])
                cnt[1] += int(hi - lo)
        rb = _flush_partials(
            [(gkey, name, st.to_bytes(), counts[gkey][0], counts[gkey][1])
             for gkey, st in states.items()],
            group_cols, out_schema, arrow_schema, t0)
        if rb is not None:
            yield rb

    from ..functions.estimates import dd_stats_col

    partials = src.mapInArrow(builder, out_schema)
    merged = merge_partials(partials, {name: "dd"}, group_cols, fanout)
    return merged.where(dd_stats_col("sketch").getField("n") > 0)


def build_priority_sample(df: DataFrame, k: int, weight_col: str,
                          group_cols: "list[str] | None" = None,
                          id_col: str = "doc_id", seed: int = 0,
                          name: str = "ps", fanout: int = 32) -> DataFrame:
    """WINDOW-FREE distributed priority sampling: per group, the
    mergeable top-(k+1) state (core/prioritysample.PrioritySample) built
    through the same two-level bounded-fan-in pipeline as every other
    sketch kind. Each partition folds its rows into a KB-sized
    (id, weight, priority) list; the tree merge keeps the global
    top-(k+1) — so a group holding most of a 10^12-row corpus spreads
    over ALL its partitions instead of pinning one row_number reducer
    (the degenerate-group regime splits.priority_sample documents as its
    scale limit; its two-pass pre-prune IS this operator).

    Priorities are the identical JVM-side md5 chain as the window path
    (splits._priority_inputs), so the sample, tau, and every downstream
    DLT subset-sum estimate match splits.priority_sample_estimate
    bit-for-bit (asserted in test_prioritysample_build.py) and stay
    value-exact vs the DuckDB twin. Ids must be integers (the int64
    north-rule payload contract; string ids stay on the window path).
    Rows with NULL id/weight drop (n_rows counts them, n_values not);
    zero weights cannot bias estimates (dropped in the core state).
    NULL group values form a real group (build_sketches contract); a
    group whose MERGED sample is empty (no positive-weight rows) emits
    NO result row — matching the SQL twin, whose ranked CTE has no row
    for it.
    """
    from ..functions.estimates import ps_items_col
    from .splits import _priority_inputs

    group_cols = list(group_cols or [])
    _, prio = _priority_inputs(id_col, weight_col, seed)
    src = df.select(*group_cols,
                    F.col(id_col).alias("_id"),
                    F.col(weight_col).alias("_w"),
                    prio.alias("_prio"))
    out_schema = StructType([src.schema[c] for c in group_cols]
                            + _TAIL_FIELDS)
    arrow_schema = to_arrow_schema(out_schema)

    def builder(batches):
        t0 = time.monotonic()
        states: dict = {}
        counts: dict = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            codes, gkeys = _batch_group_codes(batch, group_cols)
            row_counts = np.bincount(codes, minlength=len(gkeys))
            iarr, warr = batch.column("_id"), batch.column("_w")
            parr = batch.column("_prio")
            ok = pc.and_(pc.and_(iarr.is_valid(), warr.is_valid()),
                         parr.is_valid())
            keep = np.asarray(ok)
            ids = iarr.filter(ok).to_numpy(zero_copy_only=False)
            w = warr.filter(ok).to_numpy(zero_copy_only=False)
            prios = np.asarray(parr.filter(ok)
                               .to_numpy(zero_copy_only=False),
                               dtype=np.float64)
            order, bounds = _group_order(codes[keep], len(gkeys))
            ids, w, prios = ids[order], w[order], prios[order]
            for g, gkey in enumerate(gkeys):
                st = states.get(gkey)
                if st is None:
                    st = states.setdefault(gkey, PrioritySample(k))
                cnt = counts.setdefault(gkey, [0, 0])
                cnt[0] += int(row_counts[g])
                lo, hi = bounds[g], bounds[g + 1]
                st.update_batch(ids[lo:hi], w[lo:hi], prios[lo:hi])
                cnt[1] += int(hi - lo)
        rb = _flush_partials(
            [(gkey, name, st.to_bytes(), counts[gkey][0], counts[gkey][1])
             for gkey, st in states.items()],
            group_cols, out_schema, arrow_schema, t0)
        if rb is not None:
            yield rb

    partials = src.mapInArrow(builder, out_schema)
    merged = merge_partials(partials, {name: "ps"}, group_cols, fanout)
    return merged.where(F.size(ps_items_col("sketch")) > 0)
