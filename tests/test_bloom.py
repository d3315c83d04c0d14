"""Bloom filter: no false negatives, FPR, OR-merge exactness (X2)."""

import numpy as np
import pytest

from grenier_spark.core.bloom import Bloom, params_for


def test_no_false_negatives_and_fpr():
    m, k = params_for(5000, 0.01)
    bf = Bloom(m, k, seed=3)
    members = np.arange(5000, dtype=np.uint64) * np.uint64(2654435761)
    bf.update_batch(members)
    assert bf.contains(members).all()
    non = np.arange(10**9, 10**9 + 20_000, dtype=np.uint64)
    fpr = float(bf.contains(non).mean())
    assert fpr < 0.03  # sized for 1%
    assert abs(bf.cardinality() - 5000) / 5000 < 0.05


def test_merge_is_exact():
    members = np.arange(4000, dtype=np.uint64)
    whole = Bloom(50_000, 5, seed=1)
    whole.update_batch(members)
    a, b = Bloom(50_000, 5, seed=1), Bloom(50_000, 5, seed=1)
    a.update_batch(members[:1500])
    b.update_batch(members[1500:])
    a.merge(b)
    assert np.array_equal(a.bits, whole.bits)
    with pytest.raises(ValueError):
        whole.merge(Bloom(50_000, 4, seed=1))


def test_serde_roundtrip():
    bf = Bloom(10_001, 7, seed=9)  # non-multiple-of-8 m exercises packbits tail
    bf.update_batch(np.arange(500, dtype=np.uint64))
    b2 = Bloom.from_bytes(bf.to_bytes())
    assert np.array_equal(bf.bits, b2.bits)
    assert (bf.m, bf.k, bf.seed) == (b2.m, b2.k, b2.seed)


def test_duplicate_heavy_batch():
    bf = Bloom(1000, 3, seed=0)
    bf.update_batch(np.zeros(10_000, dtype=np.uint64))
    assert bf.contains(np.zeros(1, dtype=np.uint64)).all()
    assert np.count_nonzero(bf.bits) <= 3


def test_from_bytes_rejects_truncation():
    import numpy as np
    import pytest as _pt

    from grenier_spark.core.bloom import Bloom

    b = Bloom(1 << 12, 5, seed=3)
    b.update_batch(np.arange(100, dtype=np.uint64))
    blob = b.to_bytes()
    with _pt.raises(ValueError):
        Bloom.from_bytes(blob[:-5])
    assert Bloom.from_bytes(blob).contains(
        np.array([5], dtype=np.uint64))[0]


def test_seed_must_fit_u32():
    with pytest.raises(ValueError, match="32-bit"):
        Bloom(64, 3, seed=-1)


def test_fold_equals_direct_build():
    """fold(m') (m' | m) is bit-identical to a filter built directly at
    m' — every probe position folds as (h % m) % m' == h % m'."""
    rng = np.random.default_rng(22)
    for _ in range(15):
        n = int(rng.integers(0, 3000))
        keys = rng.integers(0, 1 << 63, n, dtype=np.uint64)
        m = int(rng.choice([1024, 4096, 3000]))
        k = int(rng.integers(1, 6))
        seed = int(rng.integers(0, 100))
        bf = Bloom(m, k, seed)
        bf.update_batch(keys)
        m2 = int(rng.choice([x for x in [8, 64, 125, 250, 256, 512, 1024]
                             if m % x == 0]))
        direct = Bloom(m2, k, seed)
        direct.update_batch(keys)
        f = bf.fold(m2)
        assert np.array_equal(f.bits, direct.bits), (m, m2, k, seed)
        assert f.to_bytes() == direct.to_bytes()
        # no false negatives through the fold, same as a native m' filter
        if n:
            assert f.contains(keys).all()
    bf = Bloom(1024, 3, 1)
    for bad in (100, 2048, 0):
        with pytest.raises(ValueError, match="fold"):
            bf.fold(bad)


def test_from_bytes_rejects_every_prefix_trailing_byte_and_padding():
    """Every strict prefix of a real blob and the blob plus one byte raise
    ValueError, and so does a set bit in the packbits padding past m."""
    bf = Bloom(1001, 3, seed=4)          # 1001 bits: 7 padding bits
    bf.update_batch(np.arange(300, dtype=np.uint64))
    b = bf.to_bytes()
    assert Bloom.from_bytes(b).to_bytes() == b
    for cut in range(len(b)):
        with pytest.raises(ValueError):
            Bloom.from_bytes(b[:cut])
    with pytest.raises(ValueError):
        Bloom.from_bytes(b + b"\x00")
    for pad_bit in range(7):
        bad = b[:-1] + bytes([b[-1] | (1 << pad_bit)])
        with pytest.raises(ValueError, match="padding"):
            Bloom.from_bytes(bad)
    full = Bloom(1000, 3, seed=4)        # m % 8 == 0: no padding to check
    full.bits[:] = 1
    assert Bloom.from_bytes(full.to_bytes()).bits.all()
