"""Count-min sketch: guarantee, merge exactness, serde (SURVEY.md §2.3 X1)."""

import collections

import numpy as np
import pytest

from grenier_spark.core.countmin import CountMin, params_for


def zipf_stream(n=60_000, seed=42):
    rng = np.random.default_rng(seed)
    return (50_257 * rng.random(n) ** 3).astype(np.uint64)


def test_never_underestimates_and_error_bound():
    keys = zipf_stream()
    exact = collections.Counter(keys.tolist())
    cm = CountMin(5, 2048, seed=7)
    cm.update_batch(keys)
    qk = np.fromiter(exact.keys(), dtype=np.uint64)
    est = cm.query(qk)
    true = np.fromiter((exact[int(k)] for k in qk), dtype=np.int64)
    assert (est >= true).all()
    eps_n = np.e / 2048 * len(keys)
    # paper: P(err > eps*N) <= delta per key; allow a tiny tail
    frac_over = float(np.mean(est - true > eps_n))
    assert frac_over < 0.01


def test_merge_is_exact_and_associative():
    keys = zipf_stream(30_000)
    whole = CountMin(4, 1024, seed=1)
    whole.update_batch(keys)
    parts = []
    for i in range(5):
        c = CountMin(4, 1024, seed=1)
        c.update_batch(keys[i * 6000:(i + 1) * 6000])
        parts.append(c)
    acc = parts[0]
    for p in parts[1:]:
        acc.merge(p)
    assert np.array_equal(acc.counts, whole.counts)
    assert acc.total == whole.total
    with pytest.raises(ValueError):
        whole.merge(CountMin(4, 512, seed=1))
    with pytest.raises(ValueError):
        whole.merge(CountMin(4, 1024, seed=2))


def test_weighted_updates():
    cm = CountMin(3, 256, seed=0)
    cm.update_batch(np.array([5, 5, 9], dtype=np.uint64),
                    weights=np.array([10, 5, 2]))
    assert int(cm.query(np.array([5], dtype=np.uint64))[0]) >= 15
    assert cm.total == 17


def test_serde_roundtrip():
    cm = CountMin(5, 2048, seed=7)
    cm.update_batch(zipf_stream(10_000))
    cm2 = CountMin.from_bytes(cm.to_bytes())
    assert np.array_equal(cm.counts, cm2.counts)
    assert (cm.depth, cm.width, cm.seed, cm.total) == \
        (cm2.depth, cm2.width, cm2.seed, cm2.total)
    with pytest.raises(ValueError):
        CountMin.from_bytes(b"XXXX" + cm.to_bytes()[4:])


def test_params_for():
    d, w = params_for(0.001, 0.01)
    assert w >= np.e / 0.001 - 1 and d >= 4


def test_weighted_update_exact_above_float53():
    """Weights >= 2^53 must not round through bincount's float64 path."""
    from grenier_spark.core.countmin import CountMin

    cm = CountMin(1, 8, 0)
    cm.update_batch(np.array([42], dtype=np.uint64),
                    weights=np.array([(1 << 60) + 1], dtype=np.int64))
    assert int(cm.query(np.array([42], dtype=np.uint64))[0]) == (1 << 60) + 1


def test_seed_must_fit_u32():
    from grenier_spark.core.countmin import CountMin

    with pytest.raises(ValueError, match="32-bit"):
        CountMin(2, 8, seed=1 << 32)


def test_fold_equals_direct_build():
    """fold(depth', width') is bit-identical to building directly at the
    smaller config — random configs, weighted and unweighted streams,
    non-power-of-two widths; width' must divide width."""
    rng = np.random.default_rng(21)
    for trial in range(15):
        n = int(rng.integers(0, 3000))
        keys = rng.integers(0, 1 << 63, n, dtype=np.uint64)
        w = rng.integers(1, 9, n).astype(np.int64) if trial % 2 else None
        d = int(rng.integers(1, 6))
        wd = int(rng.choice([64, 128, 384, 512, 1000]))
        seed = int(rng.integers(0, 100))
        cm = CountMin(d, wd, seed)
        cm.update_batch(keys, w)
        d2 = int(rng.integers(1, d + 1))
        w2 = int(rng.choice([x for x in range(1, wd + 1) if wd % x == 0]))
        direct = CountMin(d2, w2, seed)
        direct.update_batch(keys, w)
        f = cm.fold(d2, w2)
        assert np.array_equal(f.counts, direct.counts), (d, wd, d2, w2)
        assert f.total == direct.total
        assert f.to_bytes() == direct.to_bytes()
    cm = CountMin(4, 512, 7)
    with pytest.raises(ValueError, match="fold"):
        cm.fold(depth_new=5)
    with pytest.raises(ValueError, match="fold"):
        cm.fold(width_new=100)  # 100 does not divide 512
    with pytest.raises(ValueError, match="fold"):
        cm.fold(depth_new=0)


def test_from_bytes_rejects_truncated_and_trailing():
    """Every strict prefix of a real blob and the blob plus one byte raise
    ValueError: depth and width in the header fix the exact size."""
    cm = CountMin(3, 40, seed=5)
    cm.update_batch(zipf_stream(2_000))
    b = cm.to_bytes()
    assert CountMin.from_bytes(b).to_bytes() == b
    for cut in range(len(b)):
        with pytest.raises(ValueError):
            CountMin.from_bytes(b[:cut])
    with pytest.raises(ValueError):
        CountMin.from_bytes(b + b"\x00")


def test_from_bytes_rejects_zero_shape_and_inconsistent_total():
    import struct

    hdr = struct.Struct("<4sIIIq")
    for depth, width in ((0, 8), (3, 0)):
        with pytest.raises(ValueError, match="zero"):
            CountMin.from_bytes(hdr.pack(b"CMS1", depth, width, 0, 0))
    cm = CountMin(3, 16, seed=1)
    cm.update_batch(np.arange(50, dtype=np.uint64))
    b = cm.to_bytes()
    for total in (cm.total - 1, cm.total + 1, 0):
        with pytest.raises(ValueError, match="total"):
            CountMin.from_bytes(hdr.pack(b"CMS1", 3, 16, 1, total)
                                + b[hdr.size:])
    counts = cm.counts.copy()
    counts[1, 0] += 1   # one row off, the others still sum to total
    with pytest.raises(ValueError, match="total"):
        CountMin.from_bytes(b[:hdr.size] + counts.tobytes())


def test_update_merge_fold_keep_row_sums_equal_total():
    rng = np.random.default_rng(3)
    keys = rng.integers(0, 1 << 63, 5_000, dtype=np.uint64)
    a, b = CountMin(4, 96, seed=2), CountMin(4, 96, seed=2)
    a.update_batch(keys[:2_000])
    b.update_batch(keys[2_000:], weights=rng.integers(1, 50, 3_000))
    b.update_batch(keys[:3], weights=np.array([1 << 55, 7, -2]))
    a.merge(b)
    for sk in (a, b, a.fold(2, 32)):
        assert (sk.counts.sum(axis=1) == sk.total).all()
        assert CountMin.from_bytes(sk.to_bytes()).total == sk.total
