"""Category-3 invariant tests: centroid k-span bounds, weight ordering,
monotonicity, scale-function math (SURVEY.md §5.3)."""

import numpy as np
import pytest

from t_digest_spark.core import TDigest
from t_digest_spark.scale import (
    K_0, K_1, K_1_FAST, K_2, K_3, K_2_NO_NORM, K_3_NO_NORM, get_scale,
)

pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")

NORMALIZED = [K_0, K_1, K_1_FAST, K_2, K_3]


@pytest.mark.parametrize("scale", NORMALIZED, ids=lambda s: s.name)
def test_scale_q_k_roundtrip(scale):
    # ScaleFunctionTests.java:110-264 — q(k(q)) inverse within 1e-10
    compression, n = 100.0, 1e6
    norm = scale.normalizer(compression, n)
    qs = np.concatenate([
        np.linspace(1e-6, 1 - 1e-6, 1001),
        np.array([1e-10, 1e-8, 1 - 1e-8, 1 - 1e-10]),
    ])
    back = scale.q(scale.k(qs, norm), norm)
    assert np.max(np.abs(back - qs)) < 1e-9


@pytest.mark.parametrize("scale", NORMALIZED, ids=lambda s: s.name)
def test_scale_monotone(scale):
    norm = scale.normalizer(100.0, 1e6)
    qs = np.linspace(1e-9, 1 - 1e-9, 10001)
    ks = np.asarray(scale.k(qs, norm))
    assert (np.diff(ks) >= 0).all()
    k_grid = np.linspace(ks[0], ks[-1], 1001)
    q_back = np.asarray(scale.q(k_grid, norm))
    assert (np.diff(q_back) >= -1e-15).all()


@pytest.mark.parametrize("scale", [K_1, K_2, K_3], ids=lambda s: s.name)
def test_scale_max_symmetric(scale):
    # max(q) == max(1-q) — required for the alternating (reversed) merge
    norm = scale.normalizer(100.0, 1e6)
    qs = np.linspace(0.0, 1.0, 1001)
    a = np.asarray(scale.max_size(qs, norm))
    b = np.asarray(scale.max_size(1 - qs, norm))
    assert np.allclose(a, b, rtol=1e-12, atol=1e-18)


def test_no_norm_rejected():
    # MergingDigest.java:853-856
    for s in (K_2_NO_NORM, K_3_NO_NORM):
        with pytest.raises(ValueError):
            TDigest(100, scale=s)


def test_get_scale_names():
    assert get_scale("k_2") is K_2
    assert get_scale(K_3) is K_3
    with pytest.raises(ValueError):
        get_scale("nope")


def test_fill_k_span():
    # MergingDigestTest.java:173-200 / MergingDigest.checkWeights:
    # every multi-sample centroid spans <= ~1 k-unit after compress
    rng = np.random.default_rng(10)
    for scale in (K_2, K_3):
        d = TDigest(200, scale=scale)
        d.add_batch(rng.uniform(size=100_000))
        d.compress()
        d.check_weights()
        spans = d.k_spans()
        w = d._weight[:d._ncentroids]
        assert (spans[w > 1] <= 1 + 1e-4).all()


def test_centroid_count_bounds():
    # docs/vldb/short.tex:158; TDigestTest.java:460 — count in [delta/3, delta]
    rng = np.random.default_rng(11)
    for compression in (50, 100, 200):
        d = TDigest(compression)
        d.add_batch(rng.uniform(size=100_000))
        c = len(d.centroids()[0])
        assert c <= compression
        assert c >= compression / 3


def test_sorted_centroids():
    # TDigestTest.java:532-549
    rng = np.random.default_rng(12)
    d = TDigest(100)
    x = rng.uniform(size=10_000)
    w = rng.integers(1, 11, size=10_000).astype(np.float64)
    d.add_batch(x, w)
    means, weights = d.centroids()
    assert (np.diff(means) >= 0).all()
    assert weights.sum() == w.sum()


def test_monotonicity():
    # TDigestTest.java:961-979
    rng = np.random.default_rng(13)
    d = TDigest(100)
    d.add_batch(rng.uniform(size=100_000))
    zs = np.concatenate([
        np.arange(0, 1.0000001, 1e-3),
        np.arange(0, 2e-3, 1e-6),            # fine grid at left tail
        np.arange(1 - 2e-3, 1.0000001, 1e-6),  # fine grid at right tail
    ])
    zs = np.clip(np.sort(zs), 0, 1)
    last_x = -np.inf
    for z in zs:
        x = d.quantile(z)
        assert x >= last_x, z
        last_x = x
    last_q = -np.inf
    for z in np.arange(0, 1.0000001, 1e-3):
        q = d.cdf(z)
        assert q >= last_q, z
        last_q = q


def test_endpoint_singletons():
    # MergingDigest.java:489-490 invariant: extreme centroids are singletons
    rng = np.random.default_rng(14)
    d = TDigest(100)
    d.add_batch(rng.normal(size=50_000))
    means, weights = d.centroids()
    assert weights[0] == 1
    assert weights[-1] == 1
    assert d.min == means[0]
    assert d.max == means[-1]


def test_alternating_sort_flag():
    rng = np.random.default_rng(15)
    data = rng.uniform(size=50_000)
    for flag in (True, False):
        d = TDigest(100, use_alternating_sort=flag)
        d.add_batch(data)
        sorted_data = np.sort(data)
        for q in (0.01, 0.5, 0.99):
            est = d.quantile(q)
            rank = np.searchsorted(sorted_data, est) / data.size
            assert abs(rank - q) < 0.012


def test_quantiles_vectorized_matches_scalar():
    # the vectorized quantiles() must agree with the faithful scalar
    # quantile() walk everywhere, including tails and singleton spheres
    rng = np.random.default_rng(16)
    cases = [
        rng.uniform(size=100_000),
        rng.gamma(0.1, 10.0, size=50_000),
        np.arange(20, dtype=np.float64),
        np.array([1.0, 2.0, 3.0]),
        np.rint(rng.uniform(size=20_000) * 10) / 10.0,
        np.concatenate([np.full(10_000, 5.0), [1.0, 9.0]]),
    ]
    qs = np.unique(np.concatenate([
        np.linspace(0, 1, 501),
        np.array([1e-7, 1e-5, 1e-4, 1 - 1e-4, 1 - 1e-5, 1 - 1e-7]),
    ]))
    qs = np.append(qs, np.nan)  # NaN in, NaN out on both paths
    for data in cases:
        d = TDigest(100)
        d.add_batch(data)
        vec = d.quantiles(qs)
        for q, v in zip(qs, vec):
            s = d.quantile(q)
            assert v == s or (np.isnan(v) and np.isnan(s)), (
                data[:3], q, v, s)


def test_cdfs_vectorized_matches_scalar():
    # the vectorized cdfs() must agree with the faithful scalar cdf()
    # walk everywhere: tails, exact centroid hits, equal-mean runs,
    # two-singleton gaps, min/max, out-of-range, and tiny digests
    rng = np.random.default_rng(23)
    cases = [
        rng.uniform(size=100_000),
        rng.gamma(0.1, 10.0, size=50_000),
        np.arange(20, dtype=np.float64),
        np.array([1.0, 2.0, 3.0]),
        np.array([7.0]),
        np.rint(rng.uniform(size=20_000) * 10) / 10.0,   # heavy ties
        np.concatenate([np.full(10_000, 5.0), [1.0, 9.0]]),
    ]
    for data in cases:
        d = TDigest(100)
        d.add_batch(data)
        means, _ = d.centroids()
        probes = np.unique(np.concatenate([
            means,                                # exact centroid hits
            (means[:-1] + means[1:]) / 2 if means.size > 1 else means,
            [d.min, d.max, d.min - 1, d.max + 1],
            np.quantile(data, [0.001, 0.01, 0.5, 0.99, 0.999]),
        ]))
        vec = d.cdfs(probes)
        for x, v in zip(probes, vec):
            assert v == d.cdf(float(x)), (data[:3], x, v, d.cdf(float(x)))


def test_k1_fast_tolerance_parity():
    """Reference parity for the K_1_FAST alias (ScaleFunctionTests.java:
    211-226): the reference's fastAsin must stay within 1e-6 of asin
    over [-1, 1].  Our K_1_FAST delegates to np.arcsin (exact to ulp),
    so the same bound holds with error 0 — asserted here against K_1
    across the full q range and both directions, plus round-trip."""
    from t_digest_spark.scale import K_1, K_1_FAST

    q = np.linspace(1e-12, 1 - 1e-12, 20001)
    norm = 50.0
    k_fast = K_1_FAST.k(q, norm)
    k_ref = K_1.k(q, norm)
    assert np.max(np.abs(k_fast - k_ref)) <= 1e-6 * norm  # ref tolerance
    assert np.array_equal(k_fast, k_ref)                  # ours: exact
    ks = np.linspace(-norm * np.pi / 2, norm * np.pi / 2, 20001)
    assert np.array_equal(K_1_FAST.q(ks, norm), K_1.q(ks, norm))
    # round-trip through the fast variant stays within the reference bar
    assert np.max(np.abs(K_1_FAST.q(k_fast, norm) - q)) < 1e-9


def test_cluster_starts_matches_bruteforce_greedy():
    """The production weight-limit sweep (searchsorted horizon +
    convex-endpoint shortcut + vectorized fallback,
    core._cluster_starts) must produce exactly the boundaries of the
    reference's per-element greedy sweep (MergingDigest.java:421-472),
    here re-implemented as a transparent brute-force oracle."""
    from t_digest_spark.core import TDigest
    from t_digest_spark.scale import get_scale

    def greedy(w, total, scale, normalizer):
        n = w.size
        if n == 1:
            return [0]
        csum = np.cumsum(w)
        starts = [0]
        s = 1
        while s < n - 1:
            starts.append(s)
            w_start = csum[s - 1]
            cap0 = total * scale.max_py(w_start / total, normalizer)
            e = s
            while e + 1 <= n - 2:
                j = e + 1
                cap2 = total * float(scale.max_size(
                    np.array([csum[j] / total]), normalizer)[0])
                if csum[j] - w_start <= min(cap0, cap2):
                    e = j
                else:
                    break
            s = e + 1
        if n >= 2:
            starts.append(n - 1)
        return starts

    rng = np.random.default_rng(0)
    for scale_name in ("K_0", "K_1", "K_2", "K_3"):
        sc = get_scale(scale_name)
        for trial in range(12):
            n = int(rng.integers(3, 1500))
            mode = trial % 3
            if mode == 0:
                w = np.ones(n)
            elif mode == 1:
                w = rng.integers(1, 50, size=n).astype(float)
            else:
                w = rng.uniform(0.1, 10.0, size=n)
            total = w.sum()
            comp = float(rng.choice([50.0, 100.0, 400.0]))
            norm = sc.normalizer(comp, total)
            d = TDigest(comp, scale=scale_name)
            got = d._cluster_starts(w, total, norm).tolist()
            assert got == greedy(w, total, sc, norm), \
                (scale_name, n, mode, comp)


def test_cluster_starts_klimit_matches_bruteforce_greedy():
    """Same brute-force-oracle check for the k-limit branch
    (use_weight_limit=False, MergingDigest.java:404-419): cluster at s
    absorbs members while csum[j] <= total*q(k(csum[s-1]/total)+1),
    driven through the scalar k_py/q_py exactly as the production loop
    is — so the vectorized all-singletons early exit (widened by an ulp
    slack) must never change the result."""
    from t_digest_spark.core import TDigest
    from t_digest_spark.scale import get_scale

    def greedy_k(w, total, scale, normalizer):
        n = w.size
        if n == 1:
            return [0]
        csum = np.cumsum(w)
        starts = [0]
        s = 1
        while s < n - 1:
            starts.append(s)
            k1 = scale.k_py(csum[s - 1] / total, normalizer)
            w_limit = total * scale.q_py(k1 + 1, normalizer)
            e = s
            while e + 1 <= n - 2 and csum[e + 1] <= w_limit:
                e += 1
            s = e + 1
        if n >= 2:
            starts.append(n - 1)
        return starts

    rng = np.random.default_rng(7)
    for scale_name in ("K_0", "K_1", "K_2", "K_3"):
        sc = get_scale(scale_name)
        for trial in range(12):
            n = int(rng.integers(3, 1500))
            mode = trial % 3
            if mode == 0:
                w = np.ones(n)
            elif mode == 1:
                w = rng.integers(1, 50, size=n).astype(float)
            else:
                w = rng.uniform(0.1, 10.0, size=n)
            total = w.sum()
            comp = float(rng.choice([50.0, 100.0, 400.0]))
            norm = sc.normalizer(comp, total)
            d = TDigest(comp, scale=scale_name, use_weight_limit=False)
            got = d._cluster_starts(w, total, norm).tolist()
            assert got == greedy_k(w, total, sc, norm), \
                (scale_name, n, mode, comp)
