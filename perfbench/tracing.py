"""The traced run: per-layer numbers measured from outside the library.

It follows the untraced timed section of the same process:

1. a session restart with Spark's event log on (this run's config only);
2. the same closed loop again, with spans around every public call and
   every Spark job tagged with its op and step (local properties);
3. prefix jobs over the same input: the scan alone, then the scan plus a
   no-op ``mapInArrow``;
4. single-core ``core`` kernel and serde timings in this process;
5. the event log is parsed into stage spans; layer times, counts and each
   span's self time (its duration minus its children's) follow.

Tracing overhead is the traced op median minus the untraced one.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import harness
import workloads as wl
from grenier_spark.core import hll
from grenier_spark.core.bits import wang64
from grenier_spark.core.bloom import Bloom
from grenier_spark.core.countmin import CountMin
from grenier_spark.core.kll import KLL

CHUNK = 1 << 16            # core kernels run on 64 Ki-value chunks
CORE_VALUES = 1 << 22      # at most this many stream values per kernel
PREFIX_REPS = 3
COVERAGE_TOL = 0.10        # stage + driver time must sum to op wall +-10%
CHECKPOINT_STEPS = ("lineage_diff", "build_persist", "append",
                    "integrity_gate", "final_merge")
# steps whose jobs belong to no timed op (estimates are timed on their own)
_NOT_OP = ("estimate.", "input_append", "stats", "prefix")
_CLS = {"cms": CountMin, "bloom": Bloom, "kll": KLL}


# -- event log --------------------------------------------------------------

def parse_event_log(path: str) -> "tuple[list[dict], list[dict]]":
    """(jobs, completed stages) with their op/step tags, walls in seconds
    since the epoch, shuffle/GC counters and per-task durations."""
    jobs, stages, tasks, submitted = {}, {}, {}, {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                jobs[e["Job ID"]] = {"op": p.get("perfbench.op"),
                                     "step": p.get("perfbench.step"),
                                     "start": e["Submission Time"] / 1e3}
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                p = e.get("Properties") or {}
                submitted[e["Stage Info"]["Stage ID"]] = (
                    p.get("perfbench.op"), p.get("perfbench.step"))
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                tasks.setdefault(e["Stage ID"], []).append(
                    ((info["Finish Time"] - info["Launch Time"]) / 1e3,
                     m.get("JVM GC Time", 0) / 1e3))
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if "Completion Time" not in si:
                    continue
                acc = {a["Name"]: a.get("Value") for a in
                       si.get("Accumulables", [])}
                scopes = {json.loads(r["Scope"])["name"]
                          for r in si["RDD Info"] if r.get("Scope")}
                op, step = submitted.get(si["Stage ID"], (None, None))
                stages[si["Stage ID"]] = {
                    "id": si["Stage ID"], "op": op, "step": step,
                    "start": si["Submission Time"] / 1e3,
                    "end": si["Completion Time"] / 1e3,
                    "scopes": scopes,
                    "w_bytes": int(acc.get(
                        "internal.metrics.shuffle.write.bytesWritten", 0)),
                    "w_records": int(acc.get(
                        "internal.metrics.shuffle.write.recordsWritten", 0)),
                    "r_bytes": int(acc.get(
                        "internal.metrics.shuffle.read.localBytesRead", 0))
                    + int(acc.get(
                        "internal.metrics.shuffle.read.remoteBytesRead", 0)),
                }
    for sid, st in stages.items():
        ts = tasks.get(sid, [])
        st["task_s"] = [t for t, _ in ts]
        st["gc_s"] = sum(g for _, g in ts)
    return list(jobs.values()), sorted(stages.values(),
                                       key=lambda s: s["start"])


def classify(op_stages: "list[dict]") -> None:
    """Tag each stage of one op: ``l1`` (the ``mapInArrow`` partial build),
    ``l2a``/``l2b`` (the two ``applyInPandas`` merges of a merge_partials
    call, which alternate in submission order) or ``other``."""
    merges = 0
    for st in op_stages:
        if "MapInArrow" in st["scopes"]:
            st["cls"] = "l1"
        elif "FlatMapGroupsInPandas" in st["scopes"]:
            st["cls"] = "l2a" if merges % 2 == 0 else "l2b"
            merges += 1
        else:
            st["cls"] = "other"


def _union_s(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def attach_stage_spans(spans: "list[dict]", stages: "list[dict]") -> None:
    """Add each tagged stage as a span under the innermost benchmark span of
    the same op that was open when the stage was submitted."""
    layer = {"l1": "sketch_build.l1", "l2a": "merge_partials.l2a",
             "l2b": "merge_partials.l2b"}
    own = list(enumerate(spans))
    for st in stages:
        if st["op"] is None:
            continue
        parent = None
        for i, s in own:   # later spans open inside earlier ones
            if s["op"] == st["op"] and s["start"] - 0.002 <= st["start"] \
                    <= s["end"]:
                parent = i
        spans.append({"name": layer.get(st.get("cls"), "spark.stage"),
                      "start": st["start"], "end": st["end"],
                      "parent": parent, "op": st["op"]})


def self_times(spans: "list[dict]") -> "dict[str, float]":
    """Median self time per span name: duration minus the part of it that
    its child spans cover."""
    kids: dict = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict = {}
    for i, s in enumerate(spans):
        cover = _union_s([(max(a, s["start"]), min(b, s["end"]))
                          for a, b in kids.get(i, []) if b > s["start"]
                          and a < s["end"]])
        out.setdefault(s["name"], []).append(s["end"] - s["start"] - cover)
    return {k: statistics.median(v) for k, v in out.items()}


# -- prefix jobs and core timings -----------------------------------------

def prefix_jobs(spark, w, files, tracer) -> dict:
    """Median wall of the scan alone (the same select, aggregated with no
    Python) and of the scan plus a no-op ``mapInArrow`` hop."""
    from pyspark.sql import functions as F

    value_cols = sorted({s.column for s in w.specs})
    src = spark.read.parquet(*files).select(w.group_col, *value_cols)
    aggs = [F.count(w.group_col)]
    for c in value_cols:
        is_list = src.schema[c].dataType.typeName() == "array"
        aggs.append(F.sum(F.size(c)) if is_list else F.max(c))

    def noop(batches):
        n = 0
        for b in batches:
            n += b.num_rows
        yield pa.RecordBatch.from_pydict(
            {"n": [n]}, schema=pa.schema([("n", pa.int64())]))

    jobs = {"scan": lambda: src.agg(*aggs).collect(),
            "hop": lambda: src.mapInArrow(noop, "n long")
            .agg(F.sum("n")).collect()}
    out = {}
    tracer.start_op(spark, "prefix")
    for name, fn in jobs.items():
        tracer.label(spark, f"prefix.{name}")
        walls = []
        for _ in range(PREFIX_REPS):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        out[name] = statistics.median(walls)
    return out


def _stream(w, files) -> "tuple[np.ndarray, np.ndarray | None]":
    """The workload's own value stream (hashed keys, uint64) and, when it
    has a KLL spec, the quantile stream (float64), read back from parquet."""
    t = pq.read_table(files, columns=sorted({s.column for s in w.specs}))
    arr = t.column(w.value_col).combine_chunks()
    if pa.types.is_list(arr.type):
        arr = arr.values
    keys = arr.to_numpy()[:CORE_VALUES].astype(np.int64).view(np.uint64)
    kll_col = [s.column for s in w.specs if s.kind == "kll"]
    q = (t.column(kll_col[0]).to_numpy()[:CORE_VALUES].astype(np.float64)
         if kll_col else None)
    return keys, q


def _per_value_ns(fn, values: np.ndarray) -> float:
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        for s in range(0, len(values), CHUNK):
            fn(values[s:s + CHUNK])
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / len(values) * 1e9


def core_timings(w, files) -> dict:
    """Single-core ns per value of each kernel on the workload's stream."""
    keys, q = _stream(w, files)
    hashed = wang64(keys)
    st = hll.make_p(wl.HLL_P)
    return {
        "core.wang64_ns": _per_value_ns(wang64, keys),
        "core.cms_ns": _per_value_ns(CountMin(4, 8192, 7).update_batch, keys),
        "core.bloom_ns": _per_value_ns(Bloom(1 << 20, 5, 7).update_batch,
                                       keys),
        "core.kll_ns": (_per_value_ns(KLL(wl.KLL_K).update_batch, q)
                        if q is not None else 0.0),
        "core.hll_ns": _per_value_ns(lambda h: hll.add_batch(st, h), hashed),
    }


def _partial_blobs(w, files, n: int) -> "dict[tuple, list[bytes]]":
    """(group, kind) -> level-1-style partial blobs: the input split into
    n parts (refresh: one per increment), each built through ``core`` and
    serialized as the pipeline's partials are (HLL in the auto encoding)."""
    parts = [files[i::n] for i in range(n)] if w is not wl.REFRESH \
        else [[f] for f in files]
    out: dict = {}
    for part in parts:
        if not part:
            continue
        ref = wl.Reference(w)
        ref.add(pq.read_table(part))
        for g, grp in ref.groups.items():
            for spec in w.specs:
                st = grp.states[spec.name]
                out.setdefault((g, spec.kind), []).append(
                    hll.to_bytes_auto(st) if spec.kind == "hll"
                    else st.to_bytes())
    return out


def _merge(kind: str, blobs: "list[bytes]") -> bytes:
    if kind == "hll":
        return hll.to_bytes(hll.merge_many(
            [hll.from_bytes_any(b) for b in blobs]))
    acc = _CLS[kind].from_bytes(blobs[0])
    for b in blobs[1:]:
        acc.merge(_CLS[kind].from_bytes(b))
    return acc.to_bytes()


def serde_timings(w, files, n: int) -> dict:
    """Per kind: median microseconds to ``from_bytes`` + ``merge`` +
    ``to_bytes`` one group's partials, and the mean partial blob size."""
    blobs = _partial_blobs(w, files, n)
    out = {}
    for kind in ("hll", "cms", "bloom", "kll"):
        groups = [b for (g, k), b in blobs.items() if k == kind]
        if not groups:
            out[f"core.merge_us.{kind}"] = 0.0
            out[f"core.blob_bytes.{kind}"] = 0.0
            continue
        walls = []
        for bs in groups:
            t0 = time.perf_counter()
            _merge(kind, bs)
            walls.append(time.perf_counter() - t0)
        out[f"core.merge_us.{kind}"] = statistics.median(walls) * 1e6
        out[f"core.blob_bytes.{kind}"] = float(np.mean(
            [len(b) for bs in groups for b in bs]))
    return out


# -- the run ----------------------------------------------------------------

PER_LAYER_UNITS = {
    "sketch_build.scan_s": "s", "sketch_build.arrow_hop_s": "s",
    "sketch_build.l1_s": "s", "sketch_build.l1_task_skew": "ratio",
    "sketch_build.task_busy_s": "s", "sketch_build.partial_rows": "count",
    "sketch_build.partial_bytes": "bytes", "sketch_build.driver_s": "s",
    "merge_partials.l2a_s": "s", "merge_partials.l2b_s": "s",
    "merge_partials.bytes_in": "bytes",
    **{f"core.{k}_ns": "ns" for k in ("wang64", "hll", "cms", "bloom",
                                      "kll")},
    **{f"core.merge_us.{k}": "us" for k in ("hll", "cms", "bloom", "kll")},
    **{f"core.blob_bytes.{k}": "bytes" for k in ("hll", "cms", "bloom",
                                                 "kll")},
    **{f"estimates.{k}_s": "s" for k in ("hll_card", "cms_query",
                                         "bloom_contains", "kll_quantiles")},
    "checkpoint.run_s": "s",
    **{f"checkpoint.{k}_s": "s" for k in CHECKPOINT_STEPS},
    "checkpoint.rows": "count", "checkpoint.files": "count",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.gc_s": "s",
    "trace.overhead_s": "s", "trace.span_coverage": "ratio",
}


def traced_run(w, files, ref, work, n, seconds, untraced, diag):
    """(tally of the traced pass, per-layer metrics); see the module doc."""
    evdir = os.path.join(work, "trace")
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir)
    spark = harness.start_session(harness.session_conf(work, n, evdir))
    harness.warm_up(spark, n)
    tracer = harness.Tracer(True)
    stats: "list[dict]" = []
    tally = wl.run_workload(spark, w, files, ref, work, seconds, tracer,
                            stats)
    prefix_files = files[-1:] if w is wl.REFRESH else files
    prefix = prefix_jobs(spark, w, prefix_files, tracer)
    if w is not wl.REFRESH:
        # the checkpoint layer on a build workload: the same input as three
        # increments, the last two runs timed
        half, three_q = len(files) // 2, 3 * len(files) // 4
        ck = wl.run_refresh(spark, w, [files[:half], files[half:three_q],
                                       files[three_q:]], work, 0, tracer,
                            stats, op_name="ckpt", estimates=False)
        tally.attempted += ck.attempted
        tally.failed += ck.failed
        tally.problems += ck.problems
    spark.stop()
    t0 = time.perf_counter()
    core = core_timings(w, files)
    core.update(serde_timings(w, files, n))
    diag["core_timing_s"] = round(time.perf_counter() - t0, 3)

    logs = [os.path.join(evdir, f) for f in os.listdir(evdir)
            if not f.startswith(".")]
    jobs, stages = parse_event_log(logs[0])
    metrics, coverage = layer_metrics(tally, tracer, jobs, stages, stats,
                                      prefix)
    metrics.update(core)
    metrics["trace.overhead_s"] = (wl.median(tally.op_s)
                                   - wl.median(untraced.op_s))
    attach_stage_spans(tracer.spans, stages)
    tracer.write(os.path.join(evdir, "spans.jsonl"))
    diag["self_s"] = {k: round(v, 4) for k, v in
                      self_times(tracer.spans).items()}
    diag["prefix_s"] = prefix
    diag["span_coverage"] = coverage
    bad = [round(c, 3) for c in coverage if abs(c - 1) > COVERAGE_TOL]
    tally.record(not bad, f"span coverage {bad} outside 1 +- {COVERAGE_TOL}")
    return tally, {k: {"value": float(metrics[k]), "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}


def layer_metrics(tally, tracer, jobs, stages, stats, prefix):
    """(per-layer metrics, each the median over the timed ops; span
    coverage per op)."""
    ops = [s for s in tracer.spans if s["name"] == "op"]
    per_op: "dict[str, list]" = {}
    coverage = []
    for span in ops:
        op = span["op"]
        mine = [s for s in stages if s["op"] == op
                and not (s["step"] or "").startswith(_NOT_OP)]
        classify(mine)
        wall = span["end"] - span["start"]
        by = {c: [s for s in mine if s["cls"] == c]
              for c in ("l1", "l2a", "l2b", "other")}
        walls = {c: sum(s["end"] - s["start"] for s in v)
                 for c, v in by.items()}
        op_jobs = [j for j in jobs if j["op"] == op
                   and not (j["step"] or "").startswith(_NOT_OP)]
        # driver time: the op's wall outside every Spark job (planning,
        # result transfer and conversion, library-side Python)
        driver = wall - _union_s([(j["start"], j["end"]) for j in op_jobs])
        coverage.append((sum(walls.values()) + driver) / wall)
        l1_tasks = [t for s in by["l1"] for t in s["task_s"]]
        row = {
            "sketch_build.l1_s": walls["l1"],
            "sketch_build.l1_task_skew": (max(l1_tasks) / statistics.median(
                l1_tasks)) if l1_tasks else 0.0,
            "sketch_build.partial_rows": sum(s["w_records"]
                                             for s in by["l1"]),
            "sketch_build.partial_bytes": sum(s["w_bytes"] for s in by["l1"]),
            "sketch_build.driver_s": driver,
            "merge_partials.l2a_s": walls["l2a"],
            "merge_partials.l2b_s": walls["l2b"],
            "merge_partials.bytes_in": sum(s["r_bytes"] for s in by["l2a"]
                                           + by["l2b"]),
            "spark.jobs_per_op": len(op_jobs),
            "spark.stages_per_op": len(mine),
            "spark.tasks_per_op": sum(len(s["task_s"]) for s in mine),
            "spark.gc_s": sum(s["gc_s"] for s in mine),
        }
        row["sketch_build.task_busy_s"] = tally.build_us.get(op, 0) / 1e6
        for k, v in row.items():
            per_op.setdefault(k, []).append(v)
    out = {k: statistics.median(v) for k, v in per_op.items()}
    out["trace.span_coverage"] = statistics.median(coverage)
    out["sketch_build.scan_s"] = prefix["scan"]
    out["sketch_build.arrow_hop_s"] = prefix["hop"] - prefix["scan"]
    spans_by: dict = {}
    for s in tracer.spans:
        if not (s["op"] or "").startswith("warm"):
            spans_by.setdefault(s["name"], []).append(s["end"] - s["start"])
    for name in ("hll_card", "cms_query", "bloom_contains", "kll_quantiles"):
        out[f"estimates.{name}_s"] = statistics.median(
            spans_by.get(f"estimates.{name}", [0.0]))
    out["checkpoint.run_s"] = statistics.median(
        spans_by.get("checkpoint.run", [0.0]))
    # checkpoint steps: job time by step within each timed checkpointed run
    ck_ops = [s["op"] for s in tracer.spans if s["name"] == "checkpoint.run"
              and not s["op"].startswith("warm")]
    for step in CHECKPOINT_STEPS:
        out[f"checkpoint.{step}_s"] = statistics.median([
            sum(j["end"] - j["start"] for j in jobs
                if j["op"] == op and j["step"] == step)
            for op in ck_ops] or [0.0])
    out["checkpoint.rows"] = stats[-1]["rows"] if stats else 0
    out["checkpoint.files"] = stats[-1]["files"] if stats else 0
    return out, coverage
