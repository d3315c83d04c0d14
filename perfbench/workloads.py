"""The three workloads: inputs, single-process references, output checks and
the closed-loop drivers of the public ``grenier_spark`` calls.

One client issues one call at a time (closed loop); every call is checked,
and a call that raises or fails a check counts as failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from grenier_spark.core import hll
from grenier_spark.core.bits import wang64
from grenier_spark.core.bloom import Bloom
from grenier_spark.core.countmin import CountMin
from grenier_spark.core.kll import KLL
from grenier_spark.operators.sketch_build import SketchSpec

HLL_P = 14
HLL_TOL = 3 * 1.04 / np.sqrt(1 << HLL_P)       # 3 standard errors
KLL_K = 200
KLL_EPS = 2.0 / KLL_K                           # rank error, core/kll.py
QUANTILES = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
QUERY_KEYS_PER_GROUP = 4
ESTIMATE_SETS = 4        # estimate sets after a build workload's timed loop

TOKEN_SPECS = [
    SketchSpec.of("tok_hll", "hll", "tokens", p=HLL_P),
    SketchSpec.of("tok_cms", "cms", "tokens", depth=4, width=8192, seed=7),
    SketchSpec.of("tok_bloom", "bloom", "tokens", m=1 << 20, k=5, seed=7),
    SketchSpec.of("len_kll", "kll", "n_tok", k=KLL_K),
]
KEY_SPECS = [
    SketchSpec.of("key_hll", "hll", "key", p=HLL_P),
    SketchSpec.of("key_cms", "cms", "key", depth=4, width=8192, seed=7),
    SketchSpec.of("key_bloom", "bloom", "key", m=1 << 20, k=5, seed=7),
]


@dataclass(frozen=True)
class Workload:
    name: str
    group_col: str
    specs: "list[SketchSpec]"
    value_col: str        # the column whose values count as "folded"
    size: int             # docs (vocab-build, per refresh round) or keys
    n_files: int          # parquet files per input (one scan split each)
    min_ops: int          # timed ops a run makes at least, after one
                          # untimed warm-up op (refresh: exactly, rounds)


VOCAB = Workload("vocab-build", "source", TOKEN_SPECS, "tokens",
                 size=120_000, n_files=8, min_ops=5)
HASHED = Workload("hashed-build", "tenant", KEY_SPECS, "key",
                  size=1_000_000, n_files=8, min_ops=3)
REFRESH = Workload("refresh", "source", TOKEN_SPECS, "tokens",
                   size=4_000, n_files=1, min_ops=4)
WORKLOADS = {w.name: w for w in (VOCAB, HASHED, REFRESH)}


# -- inputs -------------------------------------------------------------------

def make_inputs(w: Workload, cache: str,
                seed: int) -> "tuple[list[str], float]":
    """Parquet files for one run of ``w`` and the seconds spent generating
    them. For refresh, one file per round, in round order."""
    size = w.size
    if w.name == REFRESH.name:
        size = w.size * (w.min_ops + 1)        # docs over all rounds

        def build(d):
            for r in range(w.min_ops + 1):
                t = inputs.docs_table(seed, r * w.size, w.size)
                inputs.write_parts(t, os.path.join(d, f"round-{r}"),
                                   w.n_files)
    elif w.name == VOCAB.name:
        def build(d):
            inputs.write_parts(inputs.docs_table(seed, 0, w.size), d,
                               w.n_files)
    else:
        def build(d):
            inputs.write_parts(inputs.keys_table(seed, w.size), d, w.n_files)
    path, gen_s = inputs.cached(cache, w.name, seed, size, build)
    files = sorted(os.path.join(dp, f) for dp, _, fs in os.walk(path)
                   for f in fs if f.endswith(".parquet"))
    return files, gen_s


# -- reference --------------------------------------------------------------

def _flat_with_groups(table: pa.Table, group_col: str, col: str,
                      groups: "list[str]"):
    """(values, index into ``groups`` per value) for a list or scalar
    column."""
    enc = table.column(group_col).combine_chunks().dictionary_encode()
    remap = np.array([groups.index(v) for v in enc.dictionary.to_pylist()])
    codes = remap[enc.indices.to_numpy()]
    arr = table.column(col).combine_chunks()
    if pa.types.is_list(arr.type):
        offsets = arr.offsets.to_numpy()
        return arr.values.to_numpy(), np.repeat(codes, np.diff(offsets))
    return arr.to_numpy(), codes


def _histogram(values: np.ndarray):
    """(distinct keys as uint64, counts) of an integer array."""
    if len(values) and values.min() >= 0 and values.max() < (1 << 22):
        counts = np.bincount(values)
        nz = np.flatnonzero(counts)
        return nz.astype(np.int64).view(np.uint64), counts[nz]
    keys, counts = np.unique(values.astype(np.int64), return_counts=True)
    return keys.view(np.uint64), counts


@dataclass
class _Group:
    states: dict = field(default_factory=dict)    # spec name -> core state
    keys: "np.ndarray | None" = None              # distinct value_col keys
    counts: "np.ndarray | None" = None            # and their exact counts
    quantile_values: "list[np.ndarray]" = field(default_factory=list)
    n_values: dict = field(default_factory=dict)  # spec name -> values


class Reference:
    """Single-process build of the same specs through the ``core`` public
    APIs; ``add`` folds one more input table (refresh increments)."""

    def __init__(self, w: Workload):
        self.w = w
        self.groups: "dict[str, _Group]" = {}

    def add(self, table: pa.Table) -> None:
        w = self.w
        names = sorted(set(self.groups) | set(
            table.column(w.group_col).unique().to_pylist()))
        for col in sorted({s.column for s in w.specs}):
            specs = [s for s in w.specs if s.column == col]
            vals, codes = _flat_with_groups(table, w.group_col, col, names)
            for gi, g in enumerate(names):
                grp = self.groups.setdefault(g, _Group())
                gv = vals[codes == gi]
                for spec in specs:
                    grp.n_values[spec.name] = (grp.n_values.get(spec.name, 0)
                                               + len(gv))
                for spec in specs:
                    if spec.kind == "kll":
                        grp.quantile_values.append(gv.astype(np.float64))
                        grp.states.setdefault(
                            spec.name, KLL(spec.p["k"])).update_batch(gv)
                hashed = [s for s in specs if s.kind != "kll"]
                if not hashed:
                    continue
                keys, counts = _histogram(gv)
                for spec in hashed:
                    st = grp.states.setdefault(spec.name, _new_state(spec))
                    if spec.kind == "hll":
                        hll.add_batch(st, wang64(keys))
                    elif spec.kind == "cms":
                        st.update_batch(keys, weights=counts)
                    else:
                        st.update_batch(keys)
                if col != w.value_col:
                    continue
                if grp.keys is None:
                    grp.keys, grp.counts = keys, counts
                else:
                    uniq, inv = np.unique(np.concatenate([grp.keys, keys]),
                                          return_inverse=True)
                    grp.counts = np.bincount(inv, weights=np.concatenate(
                        [grp.counts, counts])).astype(np.int64)
                    grp.keys = uniq

    def blob(self, group: str, spec: SketchSpec) -> "bytes | None":
        """The reference bytes for order-insensitive kinds; None for KLL,
        whose bytes depend on merge order and which is checked by rank
        error instead."""
        if spec.kind == "kll":
            return None
        st = self.groups[group].states[spec.name]
        return hll.to_bytes(st) if spec.kind == "hll" else st.to_bytes()

    def folded(self) -> int:
        """Values of ``value_col`` folded so far (tokens or keys)."""
        name = next(s.name for s in self.w.specs
                    if s.column == self.w.value_col)
        return sum(g.n_values[name] for g in self.groups.values())

    def query_keys(self) -> "list[tuple[str, int]]":
        """Per group, member keys spread evenly over its sorted distinct
        keys (head and tail), as (group, signed int64 key)."""
        out = []
        for g, grp in sorted(self.groups.items()):
            idx = np.linspace(0, len(grp.keys) - 1,
                              QUERY_KEYS_PER_GROUP).astype(int)
            out += [(g, int(k)) for k in grp.keys[idx].view(np.int64)]
        return out

    def exact_count(self, group: str, key: int) -> int:
        grp = self.groups[group]
        k = np.array([key], dtype=np.int64).view(np.uint64)
        i = int(np.searchsorted(grp.keys, k)[0])
        return int(grp.counts[i]) if i < len(grp.keys) \
            and grp.keys[i] == k[0] else 0


def _new_state(spec: SketchSpec):
    p = spec.p
    if spec.kind == "hll":
        return hll.make_p(p["p"])
    if spec.kind == "cms":
        return CountMin(p["depth"], p["width"], p["seed"])
    return Bloom(p["m"], p["k"], p["seed"])


# -- checks -----------------------------------------------------------------

def hll_ok(card: float, exact: int) -> bool:
    return abs(card - exact) <= HLL_TOL * max(exact, 1)


def quantiles_ok(estimates, values: np.ndarray) -> bool:
    """Each estimate's true rank bracket lies within KLL_EPS of its q. For
    ties, the bracket spans the data values around the estimate."""
    v = np.sort(values)
    n = len(v)
    if len(estimates) != len(QUANTILES):
        return False
    for q, est in zip(QUANTILES, estimates):
        i = np.searchsorted(v, est, side="right")
        lo_val = v[max(i - 1, 0)]
        hi_val = v[min(np.searchsorted(v, est, side="left"), n - 1)]
        lo = np.searchsorted(v, lo_val, side="left") / n
        hi = np.searchsorted(v, hi_val, side="right") / n
        if not lo - KLL_EPS <= q <= hi + KLL_EPS:
            return False
    return True


def check_rows(rows: "list[dict]", ref: Reference) -> "list[str]":
    """Problems in merged result rows against the reference: blob bytes
    (hll/cms/bloom), n_values, HLL error and KLL rank error."""
    w = ref.w
    spec_of = {s.name: s for s in w.specs}
    problems = []
    seen = set()
    for r in rows:
        g, name = r[w.group_col], r["sketch_name"]
        if (g, name) in seen:
            problems.append(f"duplicate row {g}/{name}")
        seen.add((g, name))
        spec = spec_of.get(name)
        if spec is None or g not in ref.groups:
            problems.append(f"unexpected row {g}/{name}")
            continue
        grp = ref.groups[g]
        blob = bytes(r["sketch"])
        if r["n_values"] != grp.n_values[name]:
            problems.append(f"{g}/{name}: n_values {r['n_values']} != "
                            f"{grp.n_values[name]}")
        want = ref.blob(g, spec)
        if want is not None and blob != want:
            problems.append(f"{g}/{name}: blob differs from reference")
        try:
            if spec.kind == "hll" and not hll_ok(
                    hll.card(hll.from_bytes(blob)), len(grp.keys)):
                problems.append(f"{g}/{name}: HLL outside 3 sigma")
            if spec.kind == "kll" and not quantiles_ok(
                    KLL.from_bytes(blob).quantiles(QUANTILES),
                    np.concatenate(grp.quantile_values)):
                problems.append(f"{g}/{name}: KLL outside rank error")
        except (ValueError, IndexError) as e:
            problems.append(f"{g}/{name}: undecodable blob ({e})")
    for g in ref.groups:
        for name in spec_of:
            if (g, name) not in seen:
                problems.append(f"missing row {g}/{name}")
    return problems


# -- estimates --------------------------------------------------------------

class Estimates:
    """The fixed estimate set over one op's merged rows. Each call is one
    public ``functions.estimates`` column through ``collect()``, checked
    against the reference."""

    def __init__(self, spark, rows: "list[dict]", ref: Reference):
        import pandas as pd

        w = ref.w
        self.ref = ref
        self.g = w.group_col
        self.kinds = {s.kind: s.name for s in w.specs}
        pdf = pd.DataFrame({
            self.g: [r[self.g] for r in rows],
            "sketch_name": [r["sketch_name"] for r in rows],
            "sketch": [bytes(r["sketch"]) for r in rows]})
        self.rows = spark.createDataFrame(pdf)
        self.queries = spark.createDataFrame(
            pd.DataFrame(ref.query_keys(), columns=[self.g, "key"]))

    def calls(self) -> "list[tuple[str, callable]]":
        order = [("hll", "hll_card"), ("cms", "cms_query"),
                 ("bloom", "bloom_contains"), ("kll", "kll_quantiles")]
        return [(label, getattr(self, label)) for kind, label in order
                if kind in self.kinds]

    def _rows_of(self, kind: str):
        from pyspark.sql import functions as F
        return self.rows.where(F.col("sketch_name") == self.kinds[kind])

    def hll_card(self) -> bool:
        from grenier_spark.functions import hll_card_col
        out = self._rows_of("hll").select(
            self.g, hll_card_col("sketch").alias("v")).collect()
        return len(out) == len(self.ref.groups) and all(
            hll_ok(r.v, len(self.ref.groups[r[self.g]].keys)) for r in out)

    def cms_query(self) -> bool:
        from grenier_spark.functions import cms_query_col
        out = self._rows_of("cms").join(self.queries, self.g).select(
            self.g, "key", cms_query_col("sketch", "key").alias("v")
        ).collect()
        return len(out) == len(self.ref.query_keys()) and all(
            r.v >= self.ref.exact_count(r[self.g], r.key) for r in out)

    def bloom_contains(self) -> bool:
        from grenier_spark.functions import bloom_contains_col
        out = self._rows_of("bloom").join(self.queries, self.g).select(
            bloom_contains_col("sketch", "key").alias("v")).collect()
        return len(out) == len(self.ref.query_keys()) and all(
            r.v for r in out)

    def kll_quantiles(self) -> bool:
        from grenier_spark.functions import kll_quantiles_col
        out = self._rows_of("kll").select(
            self.g, kll_quantiles_col("sketch", QUANTILES).alias("v")
        ).collect()
        return len(out) == len(self.ref.groups) and all(
            quantiles_ok(r.v, np.concatenate(
                self.ref.groups[r[self.g]].quantile_values)) for r in out)


# -- the closed loop --------------------------------------------------------

@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    problems: "list[str]" = field(default_factory=list)
    op_s: "list[float]" = field(default_factory=list)
    estimate_s: "dict[str, list[float]]" = field(default_factory=dict)
    sketch_bytes: int = 0
    values_per_op: float = 0.0
    build_us: "dict[str, int]" = field(default_factory=dict)  # by op id

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def check_op(tally: Tally, rows: "list[dict]", ref: Reference,
             label: str) -> None:
    """Count one op's merged rows as attempted, and as failed when any
    output check misses."""
    problems = check_rows(rows, ref)
    tally.record(not problems, f"{label}: {problems[:3]}")


def _run_estimates(spark, rows, ref, tally: Tally, tracer, label,
                   timed: bool = True) -> None:
    try:
        est = Estimates(spark, rows, ref)
    except Exception as e:  # noqa: BLE001 — a failed call is a data point
        tally.record(False, f"{label}: estimate setup raised {e!r}")
        return
    for name, call in est.calls():
        tracer.label(spark, f"estimate.{name}")
        with tracer.span(f"estimates.{name}"):
            t0 = time.perf_counter()
            try:
                ok, why = call(), "failed its check"
            except Exception as e:  # noqa: BLE001
                ok, why = False, f"raised {e!r}"
            dt = time.perf_counter() - t0
        if timed:
            tally.estimate_s.setdefault(name, []).append(dt)
        tally.record(ok, f"{label}: estimate {name} {why}")


def _rows_as_dicts(rows) -> "list[dict]":
    return [r.asDict() for r in rows]


def run_build(spark, w: Workload, files, ref: Reference, seconds: float,
              tracer) -> Tally:
    """Build through ``collect()`` and check every result: one untimed
    warm-up op, then timed ops until ``seconds`` have passed (at least
    ``w.min_ops``); then, on the last result, one untimed warm-up estimate
    set and ESTIMATE_SETS timed ones."""
    from grenier_spark.operators.sketch_build import build_sketches

    tally = Tally(values_per_op=ref.folded())
    df = spark.read.parquet(*files)
    t_end = None
    i = 0
    last = None
    while t_end is None or i <= w.min_ops or time.perf_counter() < t_end:
        name = "warm" if t_end is None else "op"
        tracer.start_op(spark, f"{name}{i}")
        rows = None
        with tracer.span(name):
            t0 = time.perf_counter()
            try:
                with tracer.span("sketch_build.build_sketches"):
                    merged = build_sketches(df, w.specs, [w.group_col])
                with tracer.span("collect"):
                    rows = _rows_as_dicts(merged.collect())
            except Exception as e:  # noqa: BLE001
                tally.record(False, f"op{i}: build raised {e!r}")
            dt = time.perf_counter() - t0
        if rows is not None:
            if t_end is not None:
                tally.op_s.append(dt)
                tally.build_us[f"op{i}"] = sum(r["build_us"] for r in rows)
            check_op(tally, rows, ref, f"op{i}")
            tally.sketch_bytes = sum(len(r["sketch"]) for r in rows)
            last = rows
        if t_end is None:
            t_end = time.perf_counter() + seconds
        i += 1
    for k in range(ESTIMATE_SETS + 1 if last is not None else 0):
        tracer.start_op(spark, f"extra{k}" if k else "warm-estimates")
        _run_estimates(spark, last, ref, tally, tracer, f"estimates {k}",
                       timed=k > 0)
    return tally


def _table_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet") or f == "_manifest.json")


def run_refresh(spark, w: Workload, rounds, work: str, seconds: float,
                tracer, checkpoint_stats=None, op_name: str = "op",
                estimates: bool = True) -> Tally:
    """One round per entry of ``rounds`` (a list of parquet files): append
    it to the input table, ``CheckpointedSketchJob.run`` +
    ``collect()``, check against the reference over all rounds so far, then
    (with ``estimates``) the estimate set. The first round is a warm-up:
    checked, not timed. The estimate set then repeats on the last merged
    rows until ``seconds`` have passed. Rounds are ops ``<op_name><i>``,
    the first ``warm<i>`` (``warm-<op_name><i>`` unless ``op_name`` is
    "op")."""
    from grenier_spark.plans.checkpoint import CheckpointedSketchJob
    from grenier_spark.sources.tableio import SnapshotTable

    base = os.path.join(work, "refresh")
    shutil.rmtree(base, ignore_errors=True)
    table = SnapshotTable(os.path.join(base, "input"))
    job = CheckpointedSketchJob(os.path.join(base, "checkpoint"), w.specs,
                                group_cols=[w.group_col])
    tracer.wrap(spark, job, "covered_files", "lineage_diff", "build_persist")
    tracer.wrap(spark, job.table, "append", "append", "integrity_gate")
    ref = Reference(w)
    tally = Tally()
    t_end = time.perf_counter() + seconds
    rows = None
    busy_us = 0
    warm = "warm" if op_name == "op" else f"warm-{op_name}"
    for rnd, part in enumerate(rounds):
        ref.add(pq.read_table(part))
        tracer.label(spark, "input_append")
        table.append(spark.read.parquet(*part))
        name = op_name if rnd else warm
        tracer.start_op(spark, f"{name}{rnd}")
        got = None
        with tracer.span(name):
            t0 = time.perf_counter()
            try:
                with tracer.span("checkpoint.run"):
                    merged = job.run(spark, table)
                tracer.label(spark, "final_merge")
                with tracer.span("collect"):
                    got = _rows_as_dicts(merged.collect())
            except Exception as e:  # noqa: BLE001
                tally.record(False, f"round {rnd}: run raised {e!r}")
            dt = time.perf_counter() - t0
        if got is None:
            continue
        rows = got
        total_us = sum(r["build_us"] for r in rows)
        if rnd:
            tally.op_s.append(dt)
            tally.build_us[f"{name}{rnd}"] = total_us - busy_us  # new file
        busy_us = total_us
        check_op(tally, rows, ref, f"round {rnd}")
        if checkpoint_stats is not None:
            tracer.label(spark, "stats")
            checkpoint_stats.append({
                "rows": job.metrics(spark).count(),
                "files": len(job.table.files())})
        if estimates:
            _run_estimates(spark, rows, ref, tally, tracer, f"round {rnd}",
                           timed=rnd > 0)
    tally.sketch_bytes = _table_bytes(job.table.path)
    tally.values_per_op = ref.folded() / len(rounds)
    i = 0
    while estimates and rows is not None and time.perf_counter() < t_end:
        tracer.start_op(spark, f"extra{i}")
        _run_estimates(spark, rows, ref, tally, tracer, f"extra {i}")
        i += 1
    return tally


def run_workload(spark, w: Workload, files, ref, work: str, seconds: float,
                 tracer, checkpoint_stats=None) -> Tally:
    if w is REFRESH:
        return run_refresh(spark, w, [[f] for f in files], work, seconds,
                           tracer, checkpoint_stats)
    return run_build(spark, w, files, ref, seconds, tracer)


def median(xs) -> float:
    return float(statistics.median(xs))
