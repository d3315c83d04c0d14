"""The benchmark's own tests (no Spark):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads as wl  # noqa: E402

SMALL = {"vocab-build": dataclasses.replace(wl.VOCAB, size=2_000, n_files=2),
         "hashed-build": dataclasses.replace(wl.HASHED, size=5_000,
                                             n_files=2),
         "refresh": dataclasses.replace(wl.REFRESH, size=500)}


def _tables(w, cache, seed):
    files, _ = wl.make_inputs(w, str(cache), seed)
    return [pq.read_table(f) for f in files]


@pytest.mark.parametrize("name", sorted(SMALL))
def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, name):
    w = SMALL[name]
    a = _tables(w, tmp_path / "a", 7)
    b = _tables(w, tmp_path / "b", 7)
    c = _tables(w, tmp_path / "c", 8)
    assert len(a) == len(b) == len(c) > 0
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not any(x.equals(y) for x, y in zip(a, c))


def test_inputs_are_cached_by_workload_seed_and_size(tmp_path):
    w = SMALL["hashed-build"]
    _, first = wl.make_inputs(w, str(tmp_path), 3)
    _, again = wl.make_inputs(w, str(tmp_path), 3)
    assert first > 0 and again == 0.0


def test_docs_follow_fixture_shape():
    t = inputs.docs_table(1, 0, 1_000)
    lens = t.column("n_tok").to_numpy()
    toks = t.column("tokens").combine_chunks().values.to_numpy()
    assert lens.min() >= 16 and lens.max() <= 256
    assert toks.min() >= 0 and toks.max() < inputs.VOCAB
    assert set(t.column("source").to_pylist()) == set(inputs.SOURCES)


def _reference_rows(w, table):
    """Merged rows as the pipeline returns them, made from the reference
    itself: every check must pass on them."""
    ref = wl.Reference(w)
    ref.add(table)
    rows = []
    for g, grp in ref.groups.items():
        for spec in w.specs:
            st = grp.states[spec.name]
            blob = (wl.hll.to_bytes(st) if spec.kind == "hll"
                    else st.to_bytes())
            rows.append({w.group_col: g, "sketch_name": spec.name,
                         "sketch": blob, "n_values": grp.n_values[spec.name]})
    return ref, rows


@pytest.mark.parametrize("name,kind", [("vocab-build", "hll"),
                                       ("vocab-build", "cms"),
                                       ("hashed-build", "bloom")])
def test_planted_bit_flip_counts_as_failed(name, kind):
    w = SMALL[name]
    table = (inputs.docs_table(5, 0, w.size) if w.value_col == "tokens"
             else inputs.keys_table(5, w.size))
    ref, rows = _reference_rows(w, table)
    tally = wl.Tally()
    wl.check_op(tally, rows, ref, "clean")
    assert (tally.attempted, tally.failed) == (1, 0), tally.problems

    bad = next(r for r in rows
               if r["sketch_name"] == next(s.name for s in w.specs
                                           if s.kind == kind))
    blob = bytearray(bad["sketch"])
    blob[len(blob) // 2] ^= 0x04
    bad["sketch"] = bytes(blob)
    wl.check_op(tally, rows, ref, "planted")
    assert (tally.attempted, tally.failed) == (2, 1)
    assert "differs" in tally.problems[0]


def test_wrong_count_missing_and_duplicate_rows_count_as_failed():
    w = SMALL["vocab-build"]
    ref, rows = _reference_rows(w, inputs.docs_table(5, 0, w.size))
    assert any("missing" in p for p in wl.check_rows(rows[1:], ref))
    assert any("duplicate" in p
               for p in wl.check_rows(rows + rows[:1], ref))
    rows[0]["n_values"] += 1
    assert any("n_values" in p for p in wl.check_rows(rows, ref))


def test_accuracy_checks_reject_out_of_bound_estimates():
    vals = np.arange(1_000.0)
    exact = np.quantile(vals, wl.QUANTILES)
    assert wl.quantiles_ok(exact, vals)
    assert not wl.quantiles_ok(exact + 50, vals)
    assert wl.hll_ok(10_000 * (1 + 0.9 * wl.HLL_TOL), 10_000)
    assert not wl.hll_ok(10_000 * (1 + 1.1 * wl.HLL_TOL), 10_000)


def test_self_time_subtracts_children():
    spans = [{"name": "op", "start": 0.0, "end": 10.0, "parent": None},
             {"name": "a", "start": 1.0, "end": 4.0, "parent": 0},
             {"name": "b", "start": 3.0, "end": 6.0, "parent": 0}]
    st = tracing.self_times(spans)
    assert st["op"] == pytest.approx(5.0)
    assert st["a"] == pytest.approx(3.0)


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    tally = wl.Tally(op_s=[1.0], estimate_s={"hll_card": [0.5]},
                     sketch_bytes=1, values_per_op=10)
    e2e = run.end_to_end(tally, [1.0], 1.0)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: v["unit"] for k, v in e2e.items()}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        tracing.PER_LAYER_UNITS
    assert {x["name"] for x in bench["workloads"]} <= set(wl.WORKLOADS)
