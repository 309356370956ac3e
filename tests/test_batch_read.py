"""The batch read kernel (``core.DigestBatch``) against the scalar
MergingDigest walks, bit for bit, and the probe UDFs built on it."""

from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest

from t_digest_spark.core import DigestBatch, TDigest

pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")

QS = np.array([0.0, 1e-9, 1e-4, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99,
               1 - 1e-4, 1.0, np.nan])
TRIM = (0.1, 0.9)


def _same(a, b) -> bool:
    """Bit for bit, except that any NaN equals any NaN."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    return a.shape == b.shape and bool(np.all(
        ((a == b) & (np.signbit(a) == np.signbit(b)))
        | (np.isnan(a) & np.isnan(b))))


def _trimmed_reference(d: TDigest, q0: float, q1: float) -> float:
    """The single-digest trimmed mean as the per-row read computed it."""
    n = d._ncentroids
    if n == 0:
        return np.nan
    w, m = d._weight[:n], d._mean[:n]
    right = np.cumsum(w)
    left = right - w
    take = np.clip(np.minimum(right, q1 * d._total_weight)
                   - np.maximum(left, q0 * d._total_weight), 0, None)
    tw = take.sum()
    if tw <= 0:
        return np.nan
    with np.errstate(invalid="ignore"):
        return float((m * take).sum() / tw)


def _random_blobs(rng, count: int) -> list:
    """``(encoding, blob)`` pairs: empty, one-sample, all-singleton,
    tied, ±inf and fractionally weighted digests, as final VERBOSE,
    uncompressed partial VERBOSE and SMALL blobs."""
    out = []
    for _ in range(count):
        n = int(rng.choice([0, 1, 2, 3, 8, 40, 300, 2500],
                           p=[.05, .1, .1, .1, .2, .2, .15, .1]))
        v = rng.normal(size=n) * 10.0 ** rng.integers(-3, 4)
        r = rng.random()
        if r < 0.25:
            v = np.rint(v)                       # equal-mean runs
        elif r < 0.35 and n > 2:
            v[[0, -1]] = (-np.inf, np.inf)
        w = rng.uniform(0.05, 4.0, size=n) if rng.random() < 0.3 else None
        d = TDigest(float(rng.choice([20, 100, 200])))
        d.add_batch(v, w)
        kind = str(rng.choice(["final", "partial", "small"],
                              p=[.45, .4, .15]))
        out.append(("small" if kind == "small" else "verbose",
                    d.to_small_bytes() if kind == "small"
                    else d.to_bytes(compress=kind == "final")))
    return out


def _cdf_probes(blob: bytes, rng, k: int = 9) -> np.ndarray:
    """Finite probes that hit centroid means (ties), the gaps between
    them, min, max and both sides of the range."""
    d = TDigest.from_bytes(blob)
    m = d._mean[:d._ncentroids]
    if m.size == 0:
        return np.zeros(k)
    pick = m[rng.integers(0, m.size, 4)]
    mid = (m[:-1] + m[1:]) / 2 if m.size > 1 else m
    xs = np.concatenate([pick, mid[rng.integers(0, mid.size, 1)],
                         [d.min, d.max, d.min - 1, d.max + 1]])
    with np.errstate(invalid="ignore"):
        return np.where(np.isfinite(xs), xs, 0.0)


@pytest.fixture(scope="module")
def corpus():
    """10^4 random blobs with per-digest CDF probes and every scalar
    answer."""
    rng = np.random.default_rng(20261019)
    blobs = _random_blobs(rng, 10_000)
    xs = np.array([_cdf_probes(b, rng) for _, b in blobs])
    quant, cdf, trim, size = [], [], [], []
    # the scalar walks meet inf - inf on the ±inf digests
    with np.errstate(invalid="ignore"):
        for (_, b), x in zip(blobs, xs):
            d = TDigest.from_bytes(b)
            quant.append([d.quantile(q) for q in QS])
            cdf.append([d.cdf(v) if d._ncentroids else np.nan for v in x])
            trim.append(_trimmed_reference(d, *TRIM))
            size.append(d.size)
    return blobs, xs, np.array(quant), np.array(cdf), np.array(trim), \
        np.array(size)


@pytest.mark.parametrize("encodings", [("verbose",), ("small",),
                                       ("verbose", "small")])
def test_batch_matches_scalar_walks(corpus, encodings):
    blobs, xs, quant, cdf, trim, size = corpus
    rows = np.array([i for i, (e, _) in enumerate(blobs) if e in encodings])
    b = DigestBatch.from_arrow(pa.array([blobs[i][1] for i in rows],
                                        pa.binary()))
    assert _same(b.total, size[rows])
    assert _same(b.quantiles(QS), quant[rows])
    assert _same(b.cdfs(xs[rows]), cdf[rows])
    assert _same(b.trimmed_means(*TRIM), trim[rows])


def test_tdigest_reads_are_a_batch_of_one(corpus):
    """``TDigest.quantiles``/``cdfs``/``trimmed_mean`` on live digests
    — buffered samples and a running total, not a decoded blob — agree
    with the scalar walks."""
    blobs, *_ = corpus
    rng = np.random.default_rng(7)
    for _, blob in blobs[:300]:
        d = TDigest.from_bytes(blob)
        d.add_batch(rng.normal(size=int(rng.integers(1, 50))))
        x = _cdf_probes(d.to_bytes(compress=False), rng)
        with np.errstate(invalid="ignore"):
            want = ([d.quantile(q) for q in QS], [d.cdf(v) for v in x],
                    _trimmed_reference(d, *TRIM))
        assert _same(d.quantiles(QS), want[0])
        assert _same(d.cdfs(x), want[1])
        assert _same(d.trimmed_mean(*TRIM), want[2])


def test_batch_edges():
    empty = TDigest(100).to_bytes()
    one = TDigest(100)
    one.add(3.5)
    many = TDigest(100)
    many.add_batch(np.arange(50.0))
    blobs = [empty, None, one.to_bytes(), many.to_bytes(), None]
    b = DigestBatch.from_arrow(pa.array(blobs, pa.binary()))
    assert _same(b.size, [0.0, np.nan, 1.0, 50.0, np.nan])
    lo, hi = b.extremes()
    assert _same(lo, [np.nan, np.nan, 3.5, 0.0, np.nan])
    assert _same(hi, [np.nan, np.nan, 3.5, 49.0, np.nan])
    k = many.centroid_count()
    assert list(b.count) == [0, 0, 1, k, 0]
    assert list(b.nbytes) == [32, 0, 48, 32 + k * 16, 0]
    q = b.quantiles([0.0, 0.5, 1.0, np.nan])
    assert _same(q[[0, 1, 4]], np.full((3, 4), np.nan))
    assert _same(q[2], [3.5] * 4)            # one centroid, even for NaN
    assert _same(q[3], [many.quantile(v) for v in (0.0, 0.5, 1.0, np.nan)])
    assert _same(b.cdfs([3.5])[:, 0], [np.nan, np.nan, 0.5, many.cdf(3.5),
                                        np.nan])
    assert _same(b.trimmed_means(0.0, 1.0),
                 [np.nan, np.nan, 3.5, _trimmed_reference(many, 0, 1),
                  np.nan])

    # a probe the scalar walk rejects stays loud on a live row, and is
    # not looked at on a NULL one
    for bad in (1.5, -0.1):
        with pytest.raises(ValueError, match="q should be in"):
            b.quantiles([bad])
        with pytest.raises(ValueError):
            many.quantiles([bad])
    for bad in (np.nan, np.inf, -np.inf):
        with pytest.raises(ValueError, match="Invalid value"):
            b.cdfs([bad])
        with pytest.raises(ValueError):
            many.cdf(bad)
    for q0, q1 in ((0.5, 0.5), (np.nan, 1.0), (0.2, 1.1)):
        with pytest.raises(ValueError, match="need 0 <= q0 < q1 <= 1"):
            b.trimmed_means(q0, q1)
    nulls = DigestBatch.from_arrow(pa.array([None, many.to_bytes()],
                                            pa.binary()))
    assert _same(nulls.quantiles([[1.5], [0.5]])[:, 0],
                 [np.nan, many.quantile(0.5)])
    assert _same(nulls.cdfs([[np.inf], [3.0]])[:, 0],
                 [np.nan, many.cdf(3.0)])
    assert _same(nulls.trimmed_means([0.9, 0.1], [0.1, 0.9]),
                 [np.nan, _trimmed_reference(many, 0.1, 0.9)])


def test_batch_decodes_any_arrow_layout():
    rng = np.random.default_rng(5)
    blobs = [b for _, b in _random_blobs(rng, 40)]
    want = DigestBatch.from_arrow(pa.array(blobs, pa.binary())) \
        .quantiles(QS)
    sliced = pa.array([b"\x00"] * 3 + blobs, pa.binary()).slice(3)
    large = pa.array(blobs, pa.large_binary())
    for arr in (sliced, large):
        assert _same(DigestBatch.from_arrow(arr).quantiles(QS), want)
    assert DigestBatch.from_arrow(pa.array([], pa.binary())) \
        .quantiles(QS).shape == (0, QS.size)
    full = next(b for b in blobs if len(b) > 64)
    for broken in (full[:20], full[:-1], b"\x00\x00\x00\x07" + full[4:]):
        with pytest.raises(ValueError):
            DigestBatch.from_arrow(pa.array([broken], pa.binary()))


def test_decimal_arguments_are_correctly_rounded():
    from t_digest_spark.operators.extract import _floats

    got = _floats(pa.array([Decimal("0.3"), None, Decimal("0.1")],
                           pa.decimal128(2, 1)))
    assert _same(got, [0.3, np.nan, 0.1])


def test_probe_udfs_match_scalar_reads(spark):
    """Every digest probe and SQL function over one batch holding NULL
    blobs, an empty digest, a SMALL blob and per-row arguments some of
    which are NULL, against the scalar reads row by row."""
    from pyspark.sql import functions as F

    from t_digest_spark.operators.extract import (
        cdf_of, cdfs_of, digest_stats, digest_summary, quantile_of,
        quantiles_of, trimmed_mean_of,
    )
    from t_digest_spark.operators.sql_api import register_sql_functions

    register_sql_functions(spark)
    rng = np.random.default_rng(11)
    blobs = [b for _, b in _random_blobs(rng, 60)] \
        + [None, TDigest(100).to_bytes(), None]
    rows = []
    for i, b in enumerate(blobs):
        x = None
        if b is not None:
            d = TDigest.from_bytes(b)
            x = float(np.nan_to_num(d.quantile(0.4), posinf=0, neginf=0)) \
                if d._ncentroids else 0.0
        q = None if i % 7 == 3 else float(rng.uniform())
        rows.append((i, b, q, None if i % 5 == 2 else x,
                     None if i % 11 == 4 else 0.1, 0.8))
    df = spark.createDataFrame(
        rows, "i int, b binary, q double, x double, lo double, hi double")
    qs = [0.01, 0.5, 0.99]
    got = df.select(
        "i",
        F.expr("tdigest_quantile(b, q)").alias("sq"),
        F.expr("tdigest_cdf(b, x)").alias("sc"),
        F.expr("tdigest_trimmed_mean(b, lo, hi)").alias("st"),
        F.expr("tdigest_count(b)").alias("sn"),
        quantile_of("b", 0.3).alias("q1"),
        quantiles_of("b", qs).alias("qs"),
        cdf_of("b", 0.0).alias("c1"),
        cdfs_of("b", [-1.0, 1.0]).alias("cs"),
        trimmed_mean_of("b", *TRIM).alias("tm"),
        digest_stats("b").alias("st_"),
        digest_summary("b", qs, TRIM).alias("su"),
    ).orderBy("i").collect()

    with np.errstate(invalid="ignore"):     # inf - inf in the scalar walks
        _check_rows(rows, got, qs)


def _check_rows(rows, got, qs):
    def sql(v):
        return None if v is None or v != v else v

    for (i, b, q, x, lo, hi), r in zip(rows, got):
        if b is None:
            assert (r.sq, r.sc, r.st, r.sn, r.q1, r.c1, r.tm) \
                == (None,) * 7
            assert r.qs == [None] * 3 and r.cs == [None] * 2
            assert tuple(r.st_) == (None, 0, None, None, None, 0)
            assert tuple(r.su) == ([None] * 3, None, None, None, None, 0)
            continue
        d = TDigest.from_bytes(b)
        live = d._ncentroids > 0
        assert r.sq == (None if q is None else sql(d.quantile(q)))
        assert r.sc == (None if x is None or not live
                        else sql(d.cdf(x)))
        assert r.st == (None if lo is None
                        else sql(_trimmed_reference(d, lo, hi)))
        assert r.sn == d.size
        assert r.q1 == sql(d.quantile(0.3))
        assert r.qs == [sql(d.quantile(v)) for v in qs]
        assert r.c1 == (sql(d.cdf(0.0)) if live else None)
        assert r.cs == [sql(d.cdf(v)) if live else None
                        for v in (-1.0, 1.0)]
        assert r.tm == sql(_trimmed_reference(d, *TRIM))
        assert tuple(r.st_) == (d.size, d._ncentroids, sql(d.min),
                                sql(d.max), d.public_compression, len(b))
        assert tuple(r.su) == ([sql(d.quantile(v)) for v in qs],
                               sql(_trimmed_reference(d, *TRIM)), d.size,
                               sql(d.min), sql(d.max), d._ncentroids)
