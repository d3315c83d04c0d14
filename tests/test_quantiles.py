"""KLL + t-digest: rank-error bounds, merge tolerance, serde (X3/X4)."""

import numpy as np
import pytest

from grenier_spark.core.kll import KLL
from grenier_spark.core.tdigest import TDigest

QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def rank_errors(values, estimates, qs):
    return [abs(float(np.mean(values <= e)) - q) for e, q in zip(estimates, qs)]


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(42)
    return np.concatenate([
        rng.normal(100, 15, 100_000),
        rng.exponential(50, 50_000),
        rng.integers(0, 10, 50_000).astype(float),  # heavy ties
    ])


def test_kll_single_stream(data):
    k = KLL(200, seed=1)
    k.update_batch(data)
    errs = rank_errors(data, k.quantiles(QS), QS)
    assert max(errs) < 0.025


def test_kll_merge_within_bound(data):
    parts = np.array_split(data, 8)
    sketches = []
    for i, p in enumerate(parts):
        s = KLL(200, seed=i)
        s.update_batch(p)
        sketches.append(s)
    acc = sketches[0]
    for s in sketches[1:]:
        acc.merge(s)
    assert acc.n == len(data)
    errs = rank_errors(data, acc.quantiles(QS), QS)
    assert max(errs) < 0.035
    with pytest.raises(ValueError):
        acc.merge(KLL(128))


def test_kll_serde(data):
    k = KLL(200, seed=1)
    k.update_batch(data[:50_000])
    k2 = KLL.from_bytes(k.to_bytes())
    assert np.allclose(k.quantiles(QS), k2.quantiles(QS))
    assert k2.n == k.n


def test_kll_from_bytes_rejects_truncated_and_trailing(data):
    """Every strict prefix of a real blob and the blob plus one byte raise
    ValueError: the header's level lengths fix the exact size."""
    k = KLL(32, seed=1)
    k.update_batch(data[:5_000])
    b = k.to_bytes()
    assert KLL.from_bytes(b).to_bytes() == b
    for cut in range(len(b)):
        with pytest.raises(ValueError):
            KLL.from_bytes(b[:cut])
    with pytest.raises(ValueError):
        KLL.from_bytes(b + b"\x00")


def test_kll_from_bytes_rejects_inconsistent_n(data):
    """n must equal the weighted item count the levels imply (level h items
    weigh 2**h) — the invariant every update, compaction and merge keeps."""
    import struct

    k = KLL(32, seed=1)
    k.update_batch(data[:5_000])
    b = k.to_bytes()
    assert k.n == sum(len(lv) << h for h, lv in enumerate(k.levels))
    n_off = struct.calcsize("<4sII")
    for n in (k.n - 1, k.n + 1, 0):
        bad = b[:n_off] + struct.pack("<Q", n) + b[n_off + 8:]
        with pytest.raises(ValueError):
            KLL.from_bytes(bad)


def test_kll_rank_query(data):
    k = KLL(200, seed=1)
    k.update_batch(data)
    v = float(np.quantile(data, 0.5))
    assert abs(float(k.rank([v])[0]) - 0.5) < 0.03


def test_tdigest_single_stream(data):
    # the module fixture is adversarial for t-digest: 25% of items are ties
    # over 10 integer values, which caps interpolation accuracy — hence the
    # looser bound here; see test_tdigest_smooth for the headline accuracy
    td = TDigest(200)
    td.update_batch(data)
    errs = rank_errors(data, td.quantiles(QS), QS)
    assert max(errs) < 0.02
    assert len(td.means) <= 2 * td.delta


def test_tdigest_smooth():
    rng = np.random.default_rng(7)
    vals = rng.normal(0, 1, 200_000)
    td = TDigest(200)
    td.update_batch(vals)
    errs = rank_errors(vals, td.quantiles(QS), QS)
    assert max(errs) < 0.005


def test_tdigest_merge_within_bound(data):
    parts = np.array_split(data, 8)
    sketches = []
    for p in parts:
        s = TDigest(200)
        s.update_batch(p)
        sketches.append(s)
    acc = sketches[0]
    for s in sketches[1:]:
        acc.merge(s)
    assert acc.n == len(data)
    errs = rank_errors(data, acc.quantiles(QS), QS)
    assert max(errs) < 0.025
    with pytest.raises(ValueError):
        acc.merge(TDigest(100))


def test_tdigest_extremes_and_serde(data):
    td = TDigest(200)
    td.update_batch(data)
    q = td.quantiles([0.0, 1.0])
    assert q[0] == pytest.approx(float(data.min()))
    assert q[1] == pytest.approx(float(data.max()))
    t2 = TDigest.from_bytes(td.to_bytes())
    assert np.allclose(t2.quantiles(QS), td.quantiles(QS))
    assert (t2.vmin, t2.vmax, t2.n) == (td.vmin, td.vmax, td.n)


def test_empty_sketches():
    assert np.isnan(KLL(200).quantiles([0.5])).all()
    assert np.isnan(TDigest(100).quantiles([0.5])).all()


def test_tdigest_nan_values_drop_their_weights():
    """NaN values must take THEIR weights with them — filtering values only
    would misalign every (value, weight) pair after the NaN (found by
    review: median came out 2.98 instead of 2.0)."""
    import numpy as np

    from grenier_spark.core.tdigest import TDigest

    t = TDigest(100)
    t.update_batch(np.array([1.0, np.nan, 3.0]),
                   weights=np.array([1.0, 100.0, 1.0]))
    assert t.n == 2
    assert float(t.quantiles([0.5])[0]) == 2.0
    import pytest as _pt
    with _pt.raises(ValueError):
        TDigest(100).update_batch(np.array([1.0, 2.0]),
                                  weights=np.array([1.0]))


def test_tdigest_scalar_q_single_centroid():
    from grenier_spark.core.tdigest import TDigest

    td = TDigest()
    td.update_batch(np.array([5.0]))
    assert float(td.quantiles(0.5)[0]) == 5.0
