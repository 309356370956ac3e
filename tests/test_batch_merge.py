"""The batch merge kernel (``core.merge_blob_groups``) against the scalar
merge (``merge_blobs(...).to_bytes()``), byte for byte, and the stage-2
path built on it."""

import struct

import numpy as np
import pyarrow as pa
import pytest

from t_digest_spark import core
from t_digest_spark.core import TDigest, merge_blob_groups, merge_blobs

pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")

CONFIGS = [(scale, delta) for scale in ("K_1", "K_2", "K_3")
           for delta in (100.0, 200.0)]
GROUPS_PER_CONFIG = 1700


def _values(rng, n: int) -> np.ndarray:
    v = rng.normal(size=n) * 10.0 ** rng.integers(-3, 4)
    r = rng.random()
    if r < 0.25:
        v = np.rint(v)                          # ties
    elif r < 0.4:
        v[rng.random(n) < 0.3] = 0.0            # signed zeros
        v[rng.random(n) < 0.3] = -0.0
    if rng.random() < 0.1 and n > 2:
        v[rng.integers(0, n, 2)] = (-np.inf, np.inf)
    return v


def _weights(rng, n: int):
    r = rng.random()
    if r < 0.5:
        return None                             # unit
    if r < 0.75:
        return rng.integers(1, 6, n).astype(np.float64)
    return rng.uniform(0.05, 4.0, n)            # fractional


def _blob(rng, scale: str, delta: float) -> bytes:
    """A partial or final blob: empty, one sample, a few singletons or a
    merged digest; VERBOSE compressed or not, or SMALL."""
    n = int(rng.choice([0, 1, 2, 3, 6, 20, 80, 400, 3000],
                       p=[.06, .1, .08, .08, .12, .16, .16, .16, .08]))
    d = TDigest(float(rng.choice([delta, 2 * delta, 50.0])), scale=scale)
    if n:
        d.add_batch(_values(rng, n), _weights(rng, n))
    r = rng.random()
    if r < 0.45:
        return d.to_bytes(compress=False)
    if r < 0.8:
        return d.to_bytes()
    return d.to_small_bytes()


def _verbose(weights, means) -> bytes:
    """A VERBOSE blob of the given centroids."""
    pairs = np.empty((len(means), 2), ">f8")
    pairs[:, 0], pairs[:, 1] = weights, means
    return struct.pack(">iddd i", 1, float(np.min(means)),
                       float(np.max(means)), 100.0, len(means)) \
        + pairs.tobytes()


@pytest.fixture(scope="module")
def cases():
    """Per config: random groups of 0, 1, 2, a few and many blobs, and
    each group's scalar merge."""
    rng = np.random.default_rng(2024)
    out = []
    for scale, delta in CONFIGS:
        groups = [[_blob(rng, scale, delta) for _ in range(int(rng.choice(
            [0, 1, 2, 3, 6, 12], p=[.02, .28, .3, .2, .12, .08])))]
            for _ in range(GROUPS_PER_CONFIG)]
        want = [merge_blobs(g, delta, scale).to_bytes() for g in groups]
        out.append((scale, delta, groups, want))
    return out


def _merge(groups, delta, scale):
    flat = pa.array([b for g in groups for b in g], pa.binary())
    offsets = np.zeros(len(groups) + 1, np.int64)
    np.cumsum([len(g) for g in groups], out=offsets[1:])
    return merge_blob_groups(flat, offsets, delta, scale).to_pylist()


@pytest.fixture
def branches(monkeypatch):
    """Counts of the sweep's rarer branches taken: the per-group horizon
    search of non-unit groups and the window scan."""
    seen = {"horizon": 0, "window": 0}

    def count(name, fn):
        def wrapped(*args):
            seen[name] += 1
            return fn(*args)
        return wrapped

    monkeypatch.setattr(core, "_horizon", count("horizon", core._horizon))
    monkeypatch.setattr(core, "_first_over",
                        count("window", core._first_over))
    return seen


@pytest.mark.parametrize("layout", ["default", "tiny_slices"])
def test_kernel_matches_scalar_merge(cases, branches, layout, monkeypatch):
    """Over 10^4 random groups, every K_1/K_2/K_3 at delta 100 and 200:
    each merged blob is the scalar merge's bytes.  ``tiny_slices``
    merges a few groups per slice and runs the elementwise steps in
    blocks of 256 centroids, so slice and block edges land everywhere."""
    if layout == "tiny_slices":
        monkeypatch.setattr(core, "_SLICE_BYTES", 1 << 15)
        monkeypatch.setattr(core, "_BLOCK", 1 << 8)
    total = 0
    for scale, delta, groups, want in cases:
        got = _merge(groups, delta, scale)
        bad = [i for i, (a, b) in enumerate(zip(got, want)) if a != b]
        assert not bad, (scale, delta, bad[:5], groups[bad[0]])
        total += len(groups)
    assert total >= 10_000
    assert branches["horizon"] > 0 and branches["window"] > 0, branches


def test_long_groups_match(branches):
    """Groups of up to 1.5 x 10^5 centroids (clusters past 8,192
    centroids, runs of ties), many-blob groups sorted one at a time and
    few-blob groups sorted in blocks, unit and fractional weights."""
    rng = np.random.default_rng(7)
    groups = []
    for runs, size in ((3, 50_000), (40, 2_500), (2, 30_000), (9, 700)):
        blobs = []
        for _ in range(runs):
            m = np.sort(np.rint(rng.normal(size=size) * 300))
            w = np.ones(size) if rng.random() < 0.5 \
                else rng.uniform(0.5, 3.0, size)
            blobs.append(_verbose(w, m))
        groups.append(blobs)
    for scale in ("K_1", "K_2", "K_3"):
        want = [merge_blobs(g, 100.0, scale).to_bytes() for g in groups]
        assert _merge(groups, 100.0, scale) == want
    assert branches["horizon"] > 0


def test_total_summed_as_scalar_merge():
    """The group total is the scalar merge's ``weights.sum()``, not any
    other summation order: with K_0 (cap2 = total / normalizer) at
    delta = 10 x total, every adjacent pair of 0.1 weights sits within
    an ulp of cap2, so a total off by one ulp (a flat ``reduceat`` gets
    about 40% of these wrong) flips the all-singletons test."""
    for n in range(20, 1000, 3):
        w, m = np.full(n, 0.1), np.arange(n, dtype=np.float64)
        group = [_verbose(w[:n // 2], m[:n // 2]),
                 _verbose(w[n // 2:], m[n // 2:])]
        delta = 10 * float(w.sum())
        assert _merge([group], delta, "K_0") == [
            merge_blobs(group, delta, "K_0").to_bytes()], n


def test_kernel_edges():
    """No groups, empty groups, empty blobs, a sliced input array, a
    large_binary input and a NULL blob."""
    d = TDigest(100.0)
    d.add_batch(np.arange(50.0))
    blob = d.to_bytes(compress=False)
    empty = TDigest(100.0).to_bytes()
    assert _merge([], 100.0, "K_2") == []
    for groups in ([[]], [[], [empty], [empty, empty]],
                   [[blob], [], [empty, blob]]):
        assert _merge(groups, 100.0, "K_2") == [
            merge_blobs(g, 100.0, "K_2").to_bytes() for g in groups]
    arr = pa.array([empty, blob, blob, blob], pa.binary()).slice(1)
    want = merge_blobs([blob, blob], 100.0, "K_2").to_bytes()
    assert merge_blob_groups(arr, np.array([0, 1, 3]), 100.0).to_pylist() \
        == [merge_blobs([blob], 100.0, "K_2").to_bytes(), want]
    large = pa.array([blob, blob], pa.large_binary())
    assert merge_blob_groups(large, np.array([0, 2])).to_pylist() == [want]
    with pytest.raises(ValueError, match="NULL"):
        merge_blob_groups(pa.array([blob, None], pa.binary()),
                          np.array([0, 2]))


def test_codec_contract():
    """Every codec's ``merge_blobs`` is batch-shaped: the digest codec
    is the kernel, the level-1 codec passes one-blob groups through as
    is, an object codec merges each group, and a global group of none is
    an empty sketch."""
    from t_digest_spark.functions.kll import KLLSketch
    from t_digest_spark.operators.aggregate import (
        _level1_codec, digest_codec, object_codec,
    )

    rng = np.random.default_rng(5)
    blobs = []
    for n in (30, 500, 7):
        d = TDigest(100.0)
        d.add_batch(rng.normal(size=n))
        blobs.append(d.to_bytes(compress=False))
    arr = pa.array(blobs, pa.binary())
    offsets = np.array([0, 2, 3])
    digest = digest_codec(100.0, "K_2")
    assert digest.merge_blobs(arr, offsets).to_pylist() == [
        merge_blobs(blobs[:2], 100.0, "K_2").to_bytes(),
        merge_blobs(blobs[2:], 100.0, "K_2").to_bytes()]
    level1 = _level1_codec(100.0, "K_2").merge_blobs(arr, offsets)
    assert level1.to_pylist() == [
        merge_blobs(blobs[:2], 200.0, "K_2").to_bytes(), blobs[2]]
    assert _level1_codec(100.0, "K_2").merge_blobs(
        arr, np.arange(4)).to_pylist() == blobs

    def sketch(v):
        s = KLLSketch(200)
        s.update(np.asarray(v, dtype=np.float64))
        return s

    kll = object_codec("kll", lambda: KLLSketch(200),
                       lambda s, v, w: s.update(v), KLLSketch.from_bytes)
    parts = [sketch(range(i, i + 40)).to_bytes() for i in range(3)]
    got = kll.merge_blobs(pa.array(parts, pa.binary()),
                          np.array([0, 0, 2, 3])).to_pylist()
    assert KLLSketch.from_bytes(got[0]).n == 0
    assert [KLLSketch.from_bytes(b).n for b in got[1:]] == [80, 40]


def test_canonical_key_merges_raw_groups(spark):
    """A canonical key that reaches one merge partition as several raw
    groups with two or more partials each (0.0 and -0.0 are distinct
    Arrow dictionary entries) comes out as ONE row, merged by the
    kernel over the union of its blobs: the same bytes as
    ``merge_blobs`` over them (integer weights and distinct means make
    the merge independent of the blobs' order)."""
    from pyspark.sql import functions as F

    from t_digest_spark.operators.aggregate import merge_digests_df

    rng = np.random.default_rng(11)
    rows, zero = [], []
    for key in (0.0, -0.0, 0.0, -0.0, 1.0, 1.0):
        d = TDigest(100.0)
        d.add_batch(rng.normal(size=300) + 10)
        blob = d.to_bytes(compress=False)
        rows.append((key, blob, 300))
        if key == 0.0:
            zero.append(blob)
    df = spark.createDataFrame(rows, "g double, digest binary, rows long")
    out = merge_digests_df(df.repartition(3), ["g"]).collect()
    assert sorted(r.g for r in out) == [0.0, 1.0]
    (row,) = [r for r in out if r.g == 0.0]
    assert str(row.g) == "0.0" and row.rows == 4 * 300
    assert bytes(row.digest) == merge_blobs(zero, 100.0, "K_2").to_bytes()
    # the raw partials do carry both zeros
    signs = df.where(F.col("g") == 0.0).select(
        F.expr("cast(g as string)")).collect()
    assert {r[0] for r in signs} == {"0.0", "-0.0"}
