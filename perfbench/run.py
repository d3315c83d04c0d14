"""Benchmark of record for grenier_spark (see LAYERS.md for the metric map).

    python3 perfbench/run.py --workload vocab-build --seed 1 --seconds 15 \
        --trace 0

Run from the repository root. One process drives the public grenier_spark
calls on ``local[nproc]`` in a closed loop (one client, one call at a time)
and checks every output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Diagnostics (input generation time, machine-load markers, raw samples)
go to stderr as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3   # session starts per run; setup_s is their median


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import pyarrow.parquet as pq

        import harness
        import workloads as wl
    except ImportError as e:
        print(f"perfbench: cannot import the library: {e}", file=sys.stderr)
        return 2
    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    w = wl.WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work")
    files, gen_s = wl.make_inputs(w, os.path.join(work, "inputs"), args.seed)
    t0 = time.perf_counter()
    ref = None
    if w is not wl.REFRESH:
        ref = wl.Reference(w)
        ref.add(pq.read_table(files))

    harness.prepare_env(ROOT, work)
    n = harness.nproc()
    diag = {"workload": w.name, "seed": args.seed, "nproc": n,
            "input_gen_s": round(gen_s, 3),
            "reference_s": round(time.perf_counter() - t0, 3)}
    spark = None
    try:
        setup = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = harness.start_session(harness.session_conf(work, n, None))
            harness.warm_up(spark, n)
            setup.append(time.perf_counter() - t0)
        diag["setup_s"] = setup
        diag["load_before"] = harness.load_marker(n)
        with harness.RssSampler() as rss:
            tally = wl.run_workload(spark, w, files, ref, work, args.seconds,
                                    harness.Tracer(False))
        diag["load_after"] = harness.load_marker(n)
        if args.trace:
            import tracing
            spark.stop()
            spark = None
            traced, metrics = tracing.traced_run(
                w, files, ref, work, n, args.seconds, untraced=tally,
                diag=diag)
            tally.attempted += traced.attempted
            tally.failed += traced.failed
            tally.problems += traced.problems
        else:
            metrics = end_to_end(tally, setup, rss.peak_mb)
    finally:
        harness.shutdown(spark)
    diag.update(op_s=tally.op_s, estimate_s=tally.estimate_s,
                problems=tally.problems[:5])
    print(json.dumps(diag), file=sys.stderr, flush=True)
    print(json.dumps({"correct": tally.failed == 0,
                      "attempted": tally.attempted,
                      "failed": tally.failed,
                      "metrics": metrics}), flush=True)
    return 0


def end_to_end(tally, setup, peak_rss_mb) -> dict:
    import workloads as wl

    def m(value, unit):
        return {"value": value, "unit": unit}

    # a run whose every call failed reports zeros next to correct=false
    op = wl.median(tally.op_s) if tally.op_s else float("inf")
    # per call kind the median, then their mean: the kinds differ in cost,
    # so one median over all calls would fall in the gap between them
    est = (statistics.fmean(wl.median(v) for v in tally.estimate_s.values())
           if tally.estimate_s else 0.0)
    return {
        "setup_s": m(wl.median(setup), "s"),
        "values_per_s": m(tally.values_per_op / op, "values/s"),
        "estimate_call_s": m(est, "s"),
        "worker_peak_rss_mb": m(peak_rss_mb, "MB"),
        "sketch_mb": m(tally.sketch_bytes / 1e6, "MB"),
    }


if __name__ == "__main__":
    sys.exit(main())
