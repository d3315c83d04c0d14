"""Spark distribution-layer parity tests (SURVEY.md §5.2.5).

The claim under test: the mapInArrow + two-level-merge pipeline adds NOTHING
— HLL/CMS/Bloom states coming out of Spark are byte-identical to a
single-threaded pure-numpy build over the same rows, for any partitioning.
"""

import numpy as np
import pytest

from grenier_spark.core import hll
from grenier_spark.core.bits import U64, wang64
from grenier_spark.core.bloom import Bloom
from grenier_spark.core.countmin import CountMin
from grenier_spark.core.jmphash import jump_bucket
from grenier_spark.operators.sketch_build import SketchSpec, build_sketches
from grenier_spark.sources.synth import generate_rows

N_DOCS = 1_000


@pytest.fixture(scope="module")
def local_rows():
    return generate_rows(0, N_DOCS)


def local_tokens(local_rows, source=None):
    sel = (local_rows if source is None
           else local_rows[local_rows.source == source])
    return np.concatenate(list(sel.tokens)).astype(np.int64).view(U64)


@pytest.fixture(scope="module")
def docs_df(spark, docs_tiny):
    return spark.read.parquet(docs_tiny)


SPECS = [
    SketchSpec.of("tok_hll", "hll", "tokens", p=12),
    SketchSpec.of("tok_cms", "cms", "tokens", depth=4, width=2048, seed=7),
    SketchSpec.of("tok_bloom", "bloom", "tokens", m=1 << 18, k=5, seed=7),
    SketchSpec.of("tok_kmv", "kmv", "tokens", k=128),
    SketchSpec.of("tok_mh", "mh", "tokens", k=48, seed=7),
    SketchSpec.of("tok_csk", "csk", "tokens", depth=5, width=512, seed=7),
    SketchSpec.of("tok_kll", "kll", "tokens", k=200),
    SketchSpec.of("ntok_td", "tdigest", "n_tok", delta=200),
    SketchSpec.of("ntok_dd", "dd", "n_tok", alpha=0.01),
]


@pytest.fixture(scope="module")
def grouped_result(spark, docs_df):
    res = build_sketches(docs_df.repartition(7), SPECS, group_cols=["source"])
    pdf = res.toPandas()
    return {(r.source, r.sketch_name): r for r in pdf.itertuples()}


def test_hll_byte_parity_per_group(grouped_result, local_rows):
    for src in ["web", "books", "code", "wiki"]:
        toks = local_tokens(local_rows, src)
        t = hll.make_p(12)
        hll.add_batch(t, wang64(toks))
        got = bytes(grouped_result[(src, "tok_hll")].sketch)
        assert got == hll.to_bytes(t), src


def test_cms_byte_parity_per_group(grouped_result, local_rows):
    for src in ["web", "books", "code", "wiki"]:
        cm = CountMin(4, 2048, seed=7)
        cm.update_batch(local_tokens(local_rows, src))
        got = CountMin.from_bytes(bytes(grouped_result[(src, "tok_cms")].sketch))
        assert np.array_equal(got.counts, cm.counts)
        assert got.total == cm.total


def test_bloom_byte_parity_per_group(grouped_result, local_rows):
    for src in ["web", "books", "code", "wiki"]:
        bf = Bloom(1 << 18, 5, seed=7)
        bf.update_batch(local_tokens(local_rows, src))
        got = Bloom.from_bytes(bytes(grouped_result[(src, "tok_bloom")].sketch))
        assert np.array_equal(got.bits, bf.bits)


def test_csk_byte_parity_per_group(grouped_result, local_rows):
    from grenier_spark.core.countsketch import CountSketch

    for src in ["web", "books", "code", "wiki"]:
        cs = CountSketch(5, 512, seed=7)
        cs.update_batch(local_tokens(local_rows, src))
        got = CountSketch.from_bytes(
            bytes(grouped_result[(src, "tok_csk")].sketch))
        assert np.array_equal(got.counts, cs.counts), src
        assert got.total == cs.total


def test_kmv_byte_parity_per_group(grouped_result, local_rows):
    from grenier_spark.core.kmv import KMV

    for src in ["web", "books", "code", "wiki"]:
        km = KMV(128)
        km.update_batch(local_tokens(local_rows, src))
        got = bytes(grouped_result[(src, "tok_kmv")].sketch)
        assert got == km.to_bytes(), src


def test_dd_byte_parity_per_group(grouped_result, local_rows):
    # DDSketch is the order-INsensitive quantile kind: bucket-count
    # addition commutes with any merge tree, so unlike kll/tdigest the
    # distributed bytes must equal a single-stream numpy build exactly
    from grenier_spark.core.ddsketch import DDSketch

    for src in ["web", "books", "code", "wiki"]:
        dd = DDSketch(0.01)
        sel = local_rows[local_rows.source == src]
        dd.update_batch(sel.n_tok.to_numpy().astype(np.float64))
        got = bytes(grouped_result[(src, "ntok_dd")].sketch)
        assert got == dd.to_bytes(), src


def test_minhash_sig_byte_parity_per_group(grouped_result, local_rows):
    from grenier_spark.core.minhash import MinHashSig

    for src in ["web", "books", "code", "wiki"]:
        mh = MinHashSig(48, seed=7)
        mh.update_batch(local_tokens(local_rows, src).view(np.int64))
        got = bytes(grouped_result[(src, "tok_mh")].sketch)
        assert got == mh.to_bytes(), src


def test_mg_guarantees_per_group(spark, docs_df, local_rows):
    """Misra-Gries through the distributed build: counter values are
    merge-tree-dependent (like KLL), so the gate is the PODS-2012
    deterministic guarantees vs exact counts — per group, at two
    different input partitionings."""
    from grenier_spark.core.misragries import MisraGries

    spec = [SketchSpec.of("tok_mg", "mg", "tokens", k=32)]
    for parts in (5, 17):
        res = build_sketches(docs_df.repartition(parts), spec,
                             group_cols=["source"]).toPandas()
        got = {r.source: MisraGries.from_bytes(bytes(r.sketch))
               for r in res.itertuples()}
        for src in ["web", "books", "code", "wiki"]:
            toks = local_tokens(local_rows, src).view(np.int64)
            keys, counts = np.unique(toks, return_counts=True)
            exact = dict(zip(keys.tolist(), counts.tolist()))
            mg = got[src]
            assert mg.n == len(toks)
            assert 0 < len(mg.keys) <= 32
            for key, lo, hi in mg.items():
                assert lo <= exact.get(key, 0) <= hi, (src, key)
            # completeness: guaranteed-present set is fully reported
            stored = set(mg.keys.tolist())
            for key, c in exact.items():
                if c * (mg.k + 1) > mg.n:
                    assert key in stored, (src, key, c)
            assert mg.decr * (mg.k + 1) <= mg.n


def test_mg_deterministic_per_partitioning(spark, docs_df):
    """Same partitioning in, same bytes out (two runs), through the full
    two-level merge."""
    spec = [SketchSpec.of("m", "mg", "tokens", k=16)]

    def run():
        pdf = build_sketches(docs_df.repartition(4, "doc_id"), spec,
                             group_cols=["source"]).toPandas()
        return {r.source: bytes(r.sketch) for r in pdf.itertuples()}

    assert run() == run()


def test_metrics_counts(grouped_result, local_rows):
    for src in ["web", "books", "code", "wiki"]:
        row = grouped_result[(src, "tok_hll")]
        n_rows_true = int((local_rows.source == src).sum())
        n_tok_true = int(local_rows[local_rows.source == src].n_tok.sum())
        assert row.n_rows == n_rows_true
        assert row.n_values == n_tok_true
        assert row.part_id == -1
        assert row.build_us > 0


def test_quantile_sketches_within_bounds(grouped_result, local_rows):
    from grenier_spark.core.kll import KLL
    from grenier_spark.core.tdigest import TDigest

    toks = local_tokens(local_rows, "web").astype(np.float64)
    k = KLL.from_bytes(bytes(grouped_result[("web", "tok_kll")].sketch))
    for q in [0.1, 0.5, 0.9]:
        est = float(k.quantiles([q])[0])
        assert abs(float(np.mean(toks <= est)) - q) < 0.04
    ntoks = local_rows[local_rows.source == "web"].n_tok.to_numpy(dtype=float)
    td = TDigest.from_bytes(bytes(grouped_result[("web", "ntok_td")].sketch))
    for q in [0.1, 0.5, 0.9]:
        est = float(td.quantiles([q])[0])
        assert abs(float(np.mean(ntoks <= est)) - q) < 0.05


def test_global_build_partitioning_invariance(spark, docs_df, local_rows):
    """Same bytes out of 1-partition and 13-partition builds (global group)."""
    spec = [SketchSpec.of("g_hll", "hll", "tokens", p=11)]
    one = build_sketches(docs_df.coalesce(1), spec).toPandas()
    many = build_sketches(docs_df.repartition(13), spec, fanout=4).toPandas()
    assert bytes(one.sketch[0]) == bytes(many.sketch[0])
    t = hll.make_p(11)
    hll.add_batch(t, wang64(local_tokens(local_rows)))
    assert bytes(one.sketch[0]) == hll.to_bytes(t)
    assert int(many.n_values[0]) == int(local_rows.n_tok.sum())


def test_merge_depth_parity(spark, tmp_path, local_rows):
    """One merge level and two give the same result. Over a three-file
    scan the default fanout merges in one level, fanout=1 forces the salted
    level 2a. hll/cms/bloom bytes and n_rows/n_values are identical; on the
    SAME partial rows the build_us sums are too; KLL (byte order-sensitive
    by contract) stays within its rank-error bound either way."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from grenier_spark.core.kll import KLL
    from grenier_spark.operators.sketch_build import (_merge_partials,
                                                      _scan_partitions,
                                                      merge_partials)

    tbl = pa.Table.from_pandas(local_rows, preserve_index=False)
    for i, lo in enumerate(range(0, N_DOCS, 400)):
        pq.write_table(tbl.slice(lo, 400), str(tmp_path / f"part-{i}.parquet"))
    df = spark.read.parquet(str(tmp_path))
    n_parts = _scan_partitions(df)
    assert n_parts is not None and 1 < n_parts <= 32
    specs = [SketchSpec.of("h", "hll", "tokens", p=12),
             SketchSpec.of("c", "cms", "tokens", depth=4, width=2048, seed=7),
             SketchSpec.of("b", "bloom", "tokens", m=1 << 18, k=5, seed=7),
             SketchSpec.of("q", "kll", "tokens", k=200)]
    kind_of = {sp.name: sp.kind for sp in specs}

    def rows(res):
        return {(r.source, r.sketch_name): r for r in res.collect()}

    # the same partial rows (one per (source, partition, spec)) merged at
    # both depths
    partials = (build_sketches(df.withColumn("_p", F.spark_partition_id()),
                               specs, ["source", "_p"])
                .withColumn("part_id", F.col("_p")).drop("_p")
                .localCheckpoint())
    sums = {(r.source, r.sketch_name): (r.n_rows, r.n_values, r.build_us)
            for r in partials.groupBy("source", "sketch_name")
            .agg(*[F.sum(c).alias(c)
                   for c in ("n_rows", "n_values", "build_us")]).collect()}
    results = {
        "one-level build": rows(build_sketches(df, specs, ["source"])),
        "two-level build": rows(build_sketches(df, specs, ["source"],
                                               fanout=1)),
        "one-level merge": rows(_merge_partials(partials, kind_of,
                                                ["source"], 32, n_parts)),
        "two-level merge": rows(merge_partials(partials, kind_of,
                                               ["source"], fanout=2)),
    }
    one = results["one-level build"]
    assert len(one) == 16
    for depth, got in results.items():
        assert got.keys() == one.keys(), depth
        for key, r in got.items():
            if kind_of[key[1]] != "kll":
                assert bytes(r.sketch) == bytes(one[key].sketch), (depth, key)
            assert (r.n_rows, r.n_values) == sums[key][:2], (depth, key)
            if depth.endswith("merge"):
                assert r.build_us == sums[key][2], (depth, key)
            assert r.part_id == -1
        for src in ["web", "books", "code", "wiki"]:
            toks = local_tokens(local_rows, src).view(np.int64)
            est = KLL.from_bytes(bytes(got[(src, "q")].sketch))
            probes = np.quantile(toks, [0.1, 0.25, 0.5, 0.75, 0.9])
            exact = np.array([np.mean(toks <= x) for x in probes])
            assert np.max(np.abs(est.rank(probes) - exact)) <= 2.0 / 200, \
                (depth, src)


def test_estimate_columns(spark, docs_df, local_rows):
    from grenier_spark.functions import hll_card_col, kll_quantiles_col

    res = build_sketches(docs_df, [SketchSpec.of("h", "hll", "tokens", p=12),
                                   SketchSpec.of("q", "kll", "tokens", k=200)],
                         group_cols=["source"])
    ests = (res.where("sketch_name = 'h'")
            .select("source", hll_card_col("sketch").alias("est"))
            .toPandas().set_index("source").est)
    for src in ["web", "books", "code", "wiki"]:
        exact = len(np.unique(local_tokens(local_rows, src)))
        assert abs(ests[src] - exact) / exact < 3 * 1.04 / np.sqrt(1 << 12)
    qdf = (res.where("sketch_name = 'q'")
           .select("source", kll_quantiles_col("sketch", [0.5]).alias("qs"))
           .toPandas())
    assert len(qdf) == 4 and all(len(v) == 1 for v in qdf.qs)


def test_deterministic_stream_build_byte_stable(spark, docs_df):
    """build_sketches_deterministic: order-sensitive sketches (KLL,
    t-digest) must serialize to IDENTICAL bytes across runs and across
    arbitrary upstream partitionings — the calibration/golden-file
    contract (VERDICT r1 #7). Sorting by the sketched value column alone
    is sufficient (ties feed identical values)."""
    from grenier_spark.operators.sketch_build import \
        build_sketches_deterministic

    specs = [SketchSpec.of("k", "kll", "n_tok", k=64),
             SketchSpec.of("t", "tdigest", "n_tok", delta=100),
             SketchSpec.of("r", "req", "n_tok", k=16)]

    def run(df):
        pdf = build_sketches_deterministic(
            df, specs, group_cols=["source"],
            order_cols=["n_tok"]).toPandas()
        return {(r.source, r.sketch_name): bytes(r.sketch)
                for r in pdf.itertuples()}

    a = run(docs_df.repartition(7))
    b = run(docs_df.repartition(3, "doc_id"))
    c = run(docs_df.coalesce(1))
    assert a == b == c
    assert len(a) == 12  # 4 sources x 3 specs, non-vacuous

    # and the estimates coming out of the deterministic path are sane
    from grenier_spark.core.kll import KLL
    from grenier_spark.core.req import REQ
    for src in ["web", "books"]:
        sk = KLL.from_bytes(a[(src, "k")])
        assert sk.n > 0
        rq = REQ.from_bytes(a[(src, "r")])
        assert rq.n == sk.n


def _vec_df(spark, n=240, dim=12, seed=21):
    """Synthetic grouped vector frame: 3 labels, low-rank-plus-noise."""
    rng = np.random.default_rng(seed)
    X = (rng.normal(size=(n, 3)) @ rng.normal(size=(3, dim))
         + 0.1 * rng.normal(size=(n, dim)))
    import pandas as pd
    pdf = pd.DataFrame({
        "vid": np.arange(n, dtype=np.int64),
        "label": (np.arange(n) % 3).astype(np.int64),
        "vec": [row.astype(np.float64) for row in X]})
    return spark.createDataFrame(pdf), X


def test_fd_guarantees_per_group(spark):
    """Frequent Directions through the distributed build: B values are
    merge-tree-dependent (like KLL/MG), so the check is the GLPW16
    deterministic guarantees vs the exact per-group gram — at two
    different input partitionings."""
    from grenier_spark.core.freqdirs import FrequentDirections

    df, X = _vec_df(spark)
    dim, ell = X.shape[1], 4
    spec = [SketchSpec.of("fd", "fd", "vec", ell=ell, dim=dim)]
    for parts in (5, 17):
        res = build_sketches(df.repartition(parts), spec,
                             group_cols=["label"]).toPandas()
        assert len(res) == 3
        for r in res.itertuples():
            fd = FrequentDirections.from_bytes(bytes(r.sketch))
            G = X[np.arange(len(X)) % 3 == r.label]
            A = G.T @ G
            evals = np.linalg.eigvalsh(A - fd.gram())
            tol = 1e-8 * fd.fnorm2
            assert evals.min() >= -tol
            assert evals.max() <= fd.delta + tol
            assert fd.ell * fd.delta <= fd.fnorm2 - fd.stored_fnorm2() + tol
            assert fd.n == len(G) == r.n_rows
            assert r.n_values == len(G) * dim  # flattened element count
            assert abs(fd.fnorm2 - (G * G).sum()) <= tol


def test_fd_deterministic_build_byte_stable(spark):
    """build_sketches_deterministic with fd: identical bytes across
    upstream partitionings when rows are fed in vid order."""
    from grenier_spark.operators.sketch_build import \
        build_sketches_deterministic

    df, _ = _vec_df(spark, n=90, dim=6)
    specs = [SketchSpec.of("f", "fd", "vec", ell=3, dim=6)]

    def run(d):
        pdf = build_sketches_deterministic(
            d, specs, group_cols=["label"], order_cols=["vid"]).toPandas()
        return {r.label: bytes(r.sketch) for r in pdf.itertuples()}

    a = run(df.repartition(7))
    b = run(df.coalesce(1))
    assert a == b and len(a) == 3


def test_fd_ragged_vectors_fail_loudly(spark):
    import pandas as pd
    pdf = pd.DataFrame({"vec": [np.ones(4), np.ones(3)]})
    df = spark.createDataFrame(pdf)
    spec = [SketchSpec.of("f", "fd", "vec", ell=2, dim=4)]
    with pytest.raises(Exception, match="multiple of dim|PythonException"):
        build_sketches(df, spec).collect()


def test_jump_bucket_col_parity(spark):
    from grenier_spark.functions import jump_bucket_col, wang64_col
    import pandas as pd
    from pyspark.sql import functions as F

    keys = np.arange(-500, 500, dtype=np.int64)
    sdf = spark.createDataFrame(pd.DataFrame({"k": keys}))
    got = (sdf.select("k", jump_bucket_col("k", 32).alias("b"),
                      wang64_col("k").alias("w"))
           .toPandas().sort_values("k"))
    expect_b = jump_bucket(keys.view(np.uint64), 32)
    expect_w = wang64(keys.view(np.uint64)).view(np.int64)
    assert np.array_equal(got.b.to_numpy(), expect_b)
    assert np.array_equal(got.w.to_numpy(), expect_w)


def test_synth_spark_vs_local_equality(spark, tmp_path):
    """Token-array equality invariant: executor-parallel generation produces
    the identical table to local generation (FIXTURES.md §1)."""
    from grenier_spark.sources.synth import write_documents_spark

    path = str(tmp_path / "docs")
    write_documents_spark(spark, path, 200, partitions=5)
    pdf = spark.read.parquet(path).orderBy("doc_id").toPandas()
    local = generate_rows(0, 200)
    assert list(pdf.doc_id) == list(local.doc_id)
    assert list(pdf.source) == list(local.source)
    for a, b in zip(pdf.tokens, local.tokens):
        assert np.array_equal(np.asarray(a, dtype=np.int32), b)


def test_native_file_builder_byte_parity(spark, docs_tiny, local_rows):
    """build_sketches_from_files (pyarrow-native scan) must equal the
    DataFrame path byte-for-byte."""
    import os

    from grenier_spark.operators.sketch_build import build_sketches_from_files

    files = sorted(os.path.join(docs_tiny, f) for f in os.listdir(docs_tiny)
                   if f.endswith(".parquet"))
    specs = [SketchSpec.of("h", "hll", "tokens", p=12),
             SketchSpec.of("c", "cms", "tokens", depth=4, width=1024, seed=7)]
    native = build_sketches_from_files(spark, files, specs, ["source"])
    df_path = build_sketches(spark.read.parquet(docs_tiny), specs, ["source"])
    a = {(r.source, r.sketch_name): bytes(r.sketch)
         for r in native.collect()}
    b = {(r.source, r.sketch_name): bytes(r.sketch)
         for r in df_path.collect()}
    assert a == b
    n = {(r.source, r.sketch_name): (r.n_rows, r.n_values)
         for r in native.collect()}
    assert n[("web", "h")] == (250, int(local_rows[local_rows.source == "web"]
                                        .n_tok.sum()))


def test_native_file_builder_n_tasks_invariance(spark, docs_tiny):
    """n_tasks (fewer, fatter readers) and use_threads change only the
    execution shape — mergeable-kind sketch BYTES are invariant, and
    identical to the one-task-per-file default."""
    import os

    from grenier_spark.operators.sketch_build import build_sketches_from_files

    files = sorted(os.path.join(docs_tiny, f) for f in os.listdir(docs_tiny)
                   if f.endswith(".parquet"))
    specs = [SketchSpec.of("h", "hll", "tokens", p=12),
             SketchSpec.of("c", "cms", "tokens", depth=4, width=1024, seed=7)]
    want = {(r.source, r.sketch_name): bytes(r.sketch)
            for r in build_sketches_from_files(spark, files, specs,
                                               ["source"]).collect()}
    for n_tasks, threads in ((1, False), (2, True), (3, None)):
        got = {(r.source, r.sketch_name): bytes(r.sketch)
               for r in build_sketches_from_files(
                   spark, files, specs, ["source"], n_tasks=n_tasks,
                   use_threads=threads).collect()}
        assert got == want, (n_tasks, threads)


def test_native_reader_threads_off_when_core_budget_unknown(spark,
                                                          monkeypatch):
    """The default use_threads needs the executor-core budget; when
    defaultParallelism cannot be read (no JVM SparkContext, as under Spark
    Connect) the decode threads stay off rather than guessing from the
    local cpu count."""
    from pyspark import SparkContext

    from grenier_spark.operators.sketch_build import _reader_threads

    assert _reader_threads(spark, 1) is True      # 1 reader, local[4]
    assert _reader_threads(spark, 4) is False     # readers fill the cores

    def unreadable(self):
        raise RuntimeError("defaultParallelism unavailable")

    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(unreadable))
    assert _reader_threads(spark, 1) is False


def test_sql_function_registration(spark, docs_df):
    """Registered SQL functions work in spark.sql strings end-to-end."""
    from grenier_spark.functions.register import register_sql_functions

    register_sql_functions(spark)
    res = build_sketches(docs_df, [SketchSpec.of("h", "hll", "tokens", p=11),
                                   SketchSpec.of("k", "kll", "n_tok", k=200)],
                         group_cols=["source"])
    res.createOrReplaceTempView("sk")
    got = spark.sql("""
        SELECT source, hll_card(sketch) AS est, hll_card_original(sketch) AS est0
        FROM sk WHERE sketch_name = 'h'""").toPandas()
    assert len(got) == 4 and (got.est > 0).all() and (got.est0 > 0).all()
    q = spark.sql("""
        SELECT source, kll_quantile(sketch, 0.5) AS med
        FROM sk WHERE sketch_name = 'k'""").toPandas()
    assert len(q) == 4 and q.med.between(16, 256).all()
    jb = spark.sql(
        "SELECT jump_bucket(wang64(id), 16) AS b FROM range(100)").toPandas()
    assert jb.b.between(0, 15).all()


def test_high_cardinality_groups(spark, docs_df):
    """1000 distinct groups (one per doc): per-group states stay small and
    counts stay exact — the grouped path at high group cardinality."""
    res = build_sketches(docs_df.repartition(5),
                         [SketchSpec.of("h", "hll", "tokens", p=6)],
                         group_cols=["doc_id"], fanout=8)
    pdf = res.toPandas()
    assert len(pdf) == 1_000
    assert (pdf.n_rows == 1).all()
    # spot-check one doc against the local kernel
    row = pdf[pdf.doc_id == "doc-000000000007"].iloc[0]
    local = generate_rows(7, 8)
    t = hll.make_p(6)
    hll.add_batch(t, wang64(local.tokens[0].astype(np.int64).view(U64)))
    assert bytes(row.sketch) == hll.to_bytes(t)


def test_null_tokens_dropped_not_mangled(spark):
    """Null elements in int64 token arrays (and null scalar values) must be
    DROPPED at the Arrow level — converting int64-with-nulls to numpy
    yields float64, which silently rounds |id| > 2^53 (found by review)."""
    big = 4611686018427387907  # > 2^53; float64 round-trips to ...904
    rows = [(1, [big, None, big + 1], "a"), (2, [big], "a"), (3, None, "a")]
    df = spark.createDataFrame(
        rows, "doc_id long, tokens array<long>, source string")
    res = build_sketches(df, [SketchSpec.of("h", "hll", "tokens", p=10)],
                         group_cols=["source"]).collect()
    got = hll.from_bytes(bytes(res[0].sketch))
    want = hll.make_p(10)
    hll.add_batch(want, wang64(np.array([big, big + 1, big],
                                        dtype=np.int64).view(U64)))
    assert bytes(hll.to_bytes(got)) == bytes(hll.to_bytes(want))
    assert res[0].n_values == 3  # nulls not counted


def test_grouped_counts_equals_generic_path_fuzz():
    """The composite-bincount fast path must produce byte-identical sketch
    states to the generic grouped path for every applicable batch shape —
    and correctly decline (fall back) on nulls / negatives / huge ids.
    Pure-numpy fuzz, no Spark session."""
    import numpy as np
    import pyarrow as pa

    from grenier_spark.core import hll
    from grenier_spark.operators.sketch_build import (SketchSpec,
                                                      _grouped_column,
                                                      _grouped_counts,
                                                      _new_state, _update,
                                                      _update_from_counts)

    rng = np.random.default_rng(7)
    specs = [SketchSpec.of("h", "hll", "v", p=10),
             SketchSpec.of("c", "cms", "v", depth=3, width=256, seed=7),
             SketchSpec.of("b", "bloom", "v", m=1 << 14, k=4, seed=7),
             SketchSpec.of("s", "csk", "v", depth=3, width=256, seed=7),
             SketchSpec.of("m", "kmv", "v", k=32),
             SketchSpec.of("g", "mg", "v", k=16)]

    def states_equal(a, b, kind):
        if kind == "hll":
            return hll.to_bytes(a) == hll.to_bytes(b)
        return a.to_bytes() == b.to_bytes()

    for trial in range(40):
        n_rows = int(rng.integers(1, 400))
        n_groups = int(rng.integers(1, 6))
        codes = rng.integers(0, n_groups, size=n_rows).astype(np.int64)
        # ensure every group id occurs so bincount bounds line up
        codes[:n_groups] = np.arange(n_groups)
        scalar = bool(rng.integers(0, 2))
        lo = 0 if rng.integers(0, 2) else -3          # sometimes negatives
        hi = [60_000, 9_000_000][int(rng.integers(0, 2))]  # sometimes huge
        if scalar:
            vals = rng.integers(lo, hi, size=n_rows).astype(np.int64)
            arr = pa.array(vals)
        else:
            lens = rng.integers(0, 300, size=n_rows)
            flat = rng.integers(lo, hi, size=int(lens.sum())).astype(np.int64)
            offs = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
            arr = pa.ListArray.from_arrays(pa.array(offs), pa.array(flat))
        batch = pa.RecordBatch.from_arrays([arr], ["v"])

        gc = _grouped_counts(batch, "v", codes, n_groups)
        vals_b, bounds = _grouped_column(batch, "v", codes, n_groups)

        for spec in specs:
            for g in range(n_groups):
                ref = _new_state(spec)
                _update(ref, spec, vals_b[bounds[g]:bounds[g + 1]])
                if gc is not None:
                    got = _new_state(spec)
                    keys, cnts, nv = gc[g]
                    _update_from_counts(got, spec, keys, cnts)
                    assert states_equal(got, ref, spec.kind), \
                        (trial, spec.kind, g)
                    assert nv == bounds[g + 1] - bounds[g]
        # declination contract: the fast path must refuse batches whose
        # keys are negative or whose composite range exceeds the limit
        flat_np = (vals if scalar
                   else flat if len(flat) else np.empty(0, dtype=np.int64))
        if len(flat_np) >= 8192:
            applicable = (int(flat_np.min()) >= 0 and
                          (int(flat_np.max()) + 1) * n_groups < (1 << 22))
            assert (gc is not None) == applicable, trial


# -- grouped-aggregate (UDAF) surface ---------------------------------------

def test_grouped_agg_udaf_byte_parity(spark, docs_df):
    """hll/cms/bloom/kmv through the GROUPED_AGG pandas UDAF must emit
    bytes IDENTICAL to build_sketches over the same rows (same _update
    kernel, order-insensitive merges), at any input partitioning."""
    from grenier_spark.functions.aggregates import (bloom_agg_col,
                                                    cms_agg_col,
                                                    hll_agg_col,
                                                    kmv_agg_col)

    ref = build_sketches(docs_df, SPECS[:4], group_cols=["source"]).toPandas()
    ref = {(r.source, r.sketch_name): bytes(r.sketch)
           for r in ref.itertuples()}
    got = (docs_df.repartition(11).groupBy("source")
           .agg(hll_agg_col("tokens", p=12).alias("h"),
                cms_agg_col("tokens", depth=4, width=2048, seed=7).alias("c"),
                bloom_agg_col("tokens", m=1 << 18, k=5, seed=7).alias("b"),
                kmv_agg_col("tokens", k=128).alias("kv"))
           .toPandas())
    assert len(got) == 4
    for r in got.itertuples():
        assert bytes(r.h) == ref[(r.source, "tok_hll")], r.source
        assert bytes(r.c) == ref[(r.source, "tok_cms")], r.source
        assert bytes(r.b) == ref[(r.source, "tok_bloom")], r.source
        assert bytes(r.kv) == ref[(r.source, "tok_kmv")], r.source


def test_dd_agg_udaf_byte_parity(spark, docs_df, local_rows):
    """dd through the GROUPED_AGG UDAF: byte parity with BOTH the
    distributed build and a pure-numpy single-stream build (the
    order-insensitive contract — not just determinism like kll)."""
    from grenier_spark.core.ddsketch import DDSketch
    from grenier_spark.functions.aggregates import dd_agg_col

    got = (docs_df.repartition(11).groupBy("source")
           .agg(dd_agg_col("n_tok", alpha=0.01).alias("d")).toPandas())
    assert len(got) == 4
    for r in got.itertuples():
        dd = DDSketch(0.01)
        sel = local_rows[local_rows.source == r.source]
        dd.update_batch(sel.n_tok.to_numpy().astype(np.float64))
        assert bytes(r.d) == dd.to_bytes(), r.source


def test_sql_aggregate_surface_composes(spark, docs_df, local_rows):
    """Plain-SQL GROUP BY through registered hll_agg/ddsum_agg composes
    with the scalar estimators; HLL estimate equals the kernel's."""
    from grenier_spark.functions.aggregates import register_sql_aggregates
    from grenier_spark.functions.register import register_sql_functions

    register_sql_functions(spark)
    register_sql_aggregates(spark, hll_p=12)
    docs_df.createOrReplaceTempView("udaf_docs")
    out = {r.source: (r.est, r.total) for r in spark.sql(
        "SELECT source, hll_card(hll_agg(tokens)) AS est, "
        "       ddsum_value(ddsum_agg(n_tok)) AS total "
        "FROM udaf_docs GROUP BY source").collect()}
    for src in ["web", "books", "code", "wiki"]:
        toks = local_tokens(local_rows, src)
        t = hll.make_p(12)
        hll.add_batch(t, wang64(toks))
        assert out[src][0] == hll.card(t), src
        sel = local_rows[local_rows.source == src]
        assert out[src][1] == float(sum(int(x) for x in sel.n_tok)), src
    # the newer kinds compose in plain SQL too: kmv estimate and the
    # Moments mean must equal their kernel twins
    from grenier_spark.core.doubledouble import Moments
    from grenier_spark.core.kmv import KMV

    out2 = {r.source: (r.kest, r.mmean) for r in spark.sql(
        "SELECT source, kmv_card(kmv_agg(tokens)) AS kest, "
        "       mom_mean(mom_agg(CAST(n_tok AS DOUBLE))) AS mmean "
        "FROM udaf_docs GROUP BY source").collect()}
    for src in ["web", "books"]:
        toks = local_tokens(local_rows, src)
        kv = KMV(256)
        kv.update_batch(toks.view(np.int64))
        assert out2[src][0] == kv.estimate(), src
        sel = local_rows[local_rows.source == src]
        mo = Moments()
        mo.update_batch(sel.n_tok.to_numpy(dtype=np.float64))
        assert out2[src][1] == pytest.approx(mo.stats()[1], rel=1e-12), src
    # dd composes too, and its estimate is EXACT vs the kernel (order-
    # insensitive state + deterministic double arithmetic)
    from grenier_spark.core.ddsketch import DDSketch

    out3 = {r.source: r.dq for r in spark.sql(
        "SELECT source, dd_quantile(dd_agg(CAST(n_tok AS DOUBLE)), 0.5) "
        "       AS dq FROM udaf_docs GROUP BY source").collect()}
    for src in ["web", "books"]:
        sel = local_rows[local_rows.source == src]
        dd = DDSketch(0.01)
        dd.update_batch(sel.n_tok.to_numpy(dtype=np.float64))
        assert out3[src] == dd.quantile(0.5), src
    # req composes in plain SQL too; the tail estimate must sit within
    # the multiplicative rank band of the exact per-group quantile
    out4 = {r.source: r.rq for r in spark.sql(
        "SELECT source, req_quantile(req_agg(CAST(n_tok AS DOUBLE)), 0.9)"
        "       AS rq FROM udaf_docs GROUP BY source").collect()}
    for src in ["web", "books"]:
        vals = np.sort(local_rows[local_rows.source == src]
                       .n_tok.to_numpy(dtype=np.float64))
        n = len(vals)
        rank = int(np.searchsorted(vals, out4[src], side="right"))
        assert abs(rank - 0.9 * n) <= 0.5 * 0.1 * n + 4, (src, rank, n)


def test_udaf_kll_quantiles_within_rank_bound(spark, docs_df, local_rows):
    """Order-sensitive kinds through the UDAF: KLL quantile estimates stay
    within the sketch's rank-error bound of the exact quantile."""
    from grenier_spark.functions.aggregates import kll_agg_col
    from grenier_spark.core.kll import KLL

    got = {r.source: bytes(r.k) for r in
           (docs_df.groupBy("source")
            .agg(kll_agg_col("tokens", k=200).alias("k"))).collect()}
    for src in ["web", "books"]:
        vals = np.sort(local_tokens(local_rows, src).view(np.int64)
                       .astype(np.float64))
        sk = KLL.from_bytes(got[src])
        for q in (0.1, 0.5, 0.9):
            est = sk.quantiles([q])[0]
            rank = np.searchsorted(vals, est, side="right") / len(vals)
            assert abs(rank - q) < 0.05, (src, q, rank)


def test_udaf_fd_guarantees(spark):
    """fd through the GROUPED_AGG UDAF: the GLPW16 guarantees hold vs the
    exact per-group gram at a nontrivial input partitioning."""
    from grenier_spark.core.freqdirs import FrequentDirections
    from grenier_spark.functions.aggregates import fd_agg_col

    df, X = _vec_df(spark, n=150, dim=10, seed=5)
    got = {r.label: bytes(r.s) for r in
           (df.repartition(6).groupBy("label")
            .agg(fd_agg_col("vec", ell=3, dim=10).alias("s"))).collect()}
    assert len(got) == 3
    for lbl, blob in got.items():
        fd = FrequentDirections.from_bytes(blob)
        G = X[np.arange(len(X)) % 3 == lbl]
        evals = np.linalg.eigvalsh(G.T @ G - fd.gram())
        tol = 1e-8 * fd.fnorm2
        assert evals.min() >= -tol
        assert evals.max() <= fd.delta + tol
        assert fd.n == len(G)
        assert abs(fd.fnorm2 - (G * G).sum()) <= tol


def test_token_freq_spectrum_matches_counter(spark, docs_df, local_rows):
    """Spectrum vs a pure-python Counter over the same token arrays."""
    from collections import Counter

    from grenier_spark.operators.textstats import token_freq_spectrum

    got = {(r.source, r.freq_bin): (r.n_distinct_tokens, r.n_occurrences)
           for r in token_freq_spectrum(docs_df, group_col="source")
           .collect()}
    want = {}
    for src in ["web", "books", "code", "wiki"]:
        cnt = Counter(local_tokens(local_rows, src).tolist())
        for t, c in cnt.items():
            b = c.bit_length() - 1
            d, o = want.get((src, b), (0, 0))
            want[(src, b)] = (d + 1, o + c)
    assert got == want


def test_udaf_refuses_lossy_nullable_int64(spark):
    """A nullable BIGINT key column with values >= 2^53 reaches the
    grouped-agg UDF as float64 (lossy): the aggregate must raise, not emit
    a silently-wrong sketch."""
    import pandas as pd
    import pytest as _pytest

    from grenier_spark.functions.aggregates import hll_agg_col

    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "a", "a"],
                      "k": [2 ** 62 + 1, None, 5]}),
        schema="g string, k long")
    with _pytest.raises(Exception, match="2\\^53|float64"):
        df.groupBy("g").agg(hll_agg_col("k").alias("s")).collect()
    # NULL-free stays exact int64 and works
    ok = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "a"], "k": [2 ** 62 + 1, 5]}),
        schema="g string, k long")
    assert ok.groupBy("g").agg(hll_agg_col("k").alias("s")).count() == 1


def test_mom_distributed_build_matches_fsum(spark, docs_df):
    """Moments (kind 'mom') through the two-level pipeline: power sums per
    group equal math.fsum of the identical per-element power chain over
    the group's values (to 1e-15 rel — dd merges are order-sensitive only
    at ~2^-104), at two different partitionings; the UDAF surface agrees."""
    import math

    from pyspark.sql import functions as F

    from grenier_spark.core.doubledouble import Moments
    from grenier_spark.functions.aggregates import mom_agg_col

    spec = [SketchSpec.of("m", "mom", "n_tok")]
    vals = {r.source: r.v for r in
            (docs_df.groupBy("source")
             .agg(F.collect_list(F.col("n_tok").cast("double")).alias("v"))
             .collect())}

    def expect(v):
        out, p = [], np.asarray(v, dtype=np.float64)
        for _ in range(4):
            out.append(math.fsum(p.tolist()))
            p = p * np.asarray(v, dtype=np.float64)
        return out

    for df in (docs_df.repartition(9), docs_df.repartition(2, "doc_id")):
        res = build_sketches(df, spec, group_cols=["source"]).toPandas()
        assert len(res) == 4
        for r in res.itertuples():
            m = Moments.from_bytes(bytes(r.sketch))
            assert m.n == len(vals[r.source])
            for got, exp in zip(m.sums(), expect(vals[r.source])):
                assert got == pytest.approx(exp, rel=1e-15), r.source
    udaf = (docs_df.repartition(5).groupBy("source")
            .agg(mom_agg_col(F.col("n_tok").cast("double")).alias("s"))
            .toPandas())
    for r in udaf.itertuples():
        m = Moments.from_bytes(bytes(r.s))
        assert m.n == len(vals[r.source])
        for got, exp in zip(m.sums(), expect(vals[r.source])):
            assert got == pytest.approx(exp, rel=1e-15), r.source


def test_hll_fold_col_distributed_parity(spark, docs_df):
    """hll_fold_col over a table of serialized p=12 group sketches emits
    bytes IDENTICAL to a direct p=9 build of the same groups, and the
    folded blobs merge with native p=9 blobs (the cross-precision
    archive-merge story, all on KB rows)."""
    from grenier_spark.core import hll as H
    from grenier_spark.functions import hll_fold_col

    hi = build_sketches(docs_df, [SketchSpec.of("h", "hll", "tokens", p=12)],
                        group_cols=["source"])
    lo = build_sketches(docs_df, [SketchSpec.of("h", "hll", "tokens", p=9)],
                        group_cols=["source"])
    folded = (hi.select("source", hll_fold_col("sketch", 9).alias("f"))
              .toPandas().set_index("source").f.map(bytes))
    direct = {r.source: bytes(r.sketch) for r in lo.collect()}
    assert set(folded.index) == set(direct)
    for s, b in folded.items():
        assert b == direct[s], s
    # folded blob merges with a native p=9 blob: equals the union build
    srcs = sorted(direct)
    a, b = H.from_bytes(folded[srcs[0]]), H.from_bytes(direct[srcs[1]])
    H.merge(a, b)
    union = build_sketches(
        docs_df.where(docs_df.source.isin(srcs[:2])),
        [SketchSpec.of("h", "hll", "tokens", p=9)]).collect()[0]
    assert H.to_bytes(a) == bytes(union.sketch)
