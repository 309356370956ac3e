"""The probe UDF every sketch column is read through, and the digest
extraction functions built on it.

These run *after* aggregation, over one row per group.  Every probe is
one Arrow UDF over ``(blob column, *argument columns)`` (``_probe``).
The digest probes hand each Arrow batch to the batch kernel
``core.DigestBatch``: the blobs are decoded from the Arrow buffers into
one flat centroid layout and every row is answered at once, with no
per-row ``bytes`` or ``TDigest``.  The sibling sketches, which have no
such layout, decode per row inside the same UDF (docs/DESIGN.md §8).

Public surface (SURVEY.md §2.B "UDF/UDAF surface"):
  quantile_of / quantiles_of / cdf_of / cdfs_of / trimmed_mean_of /
  digest_stats / digest_summary
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pyarrow as pa

from pyspark.sql import Column
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType, DataType, DoubleType, IntegerType, StructField, StructType,
)

from ..core import DigestBatch

__all__ = [
    "quantile_of", "quantiles_of", "cdf_of", "cdfs_of",
    "trimmed_mean_of", "digest_stats", "digest_summary", "STATS_SCHEMA",
]

STATS_SCHEMA = StructType([
    StructField("n", DoubleType()),            # total weight (float64 — >2^31 safe)
    StructField("centroids", IntegerType()),
    StructField("min", DoubleType()),
    StructField("max", DoubleType()),
    StructField("compression", DoubleType()),
    StructField("bytes", IntegerType()),
])


def _probe(return_type: DataType, kernel: Callable):
    """The Arrow UDF over ``(blob, *argument columns)`` that gives
    ``kernel(blobs, *columns)`` for each Arrow batch: an Arrow array, or
    a list of Python values in which None and NaN read as NULL (as a
    pandas UDF's NaN does)."""
    arrow_type = to_arrow_type(return_type)

    def probe(blobs: pa.Array, *cols: pa.Array) -> pa.Array:
        out = kernel(blobs, *cols)
        if isinstance(out, pa.Array):
            return out
        return pa.array(out, arrow_type, from_pandas=True)

    return arrow_udf(probe, return_type)


def _per_row(decode: Callable[[bytes], object], fn: Callable):
    """A ``_probe`` kernel for a sketch without a batch layout:
    ``fn(decode(blob), *argument values)`` for each row, or NULL when
    the blob or any argument is NULL."""
    def kernel(blobs, *cols):
        return [None if b is None or None in vals else fn(decode(b), *vals)
                for b, *vals in zip(blobs.to_pylist(),
                                    *(c.to_pylist() for c in cols))]
    return kernel


def _floats(col: pa.Array) -> np.ndarray:
    """An argument column as float64, NaN where NULL.  Decimals (SQL
    literals such as 0.5) go through their text: Arrow's decimal to
    double cast is not correctly rounded (0.3 gives
    0.30000000000000004)."""
    if pa.types.is_decimal(col.type):
        col = col.cast(pa.string())
    return col.cast(pa.float64()).to_numpy(zero_copy_only=False)


def _digests(read: Callable):
    """A ``_probe`` kernel over the batch kernel: ``read(batch, *args)``
    with the argument columns as float64 arrays.  A row whose blob or
    any argument is NULL — or a NaN argument, which a pandas UDF could
    not tell from NULL — reads as no digest."""
    def kernel(blobs, *cols):
        batch = DigestBatch.from_arrow(blobs)
        args = [_floats(c) for c in cols]
        if args:
            miss = np.isnan(args).any(axis=0)
            batch.live &= ~miss
            args = [np.where(miss, 0.0, a) for a in args]
        return read(batch, *args)
    return kernel


def _doubles(x: np.ndarray) -> pa.Array:
    """A float64 Arrow array, NULL where NaN."""
    return pa.array(x, pa.float64(), mask=np.isnan(x))


def _lists(x: np.ndarray) -> pa.Array:
    """One ``array<double>`` per row of a (rows, probes) array."""
    rows, k = x.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(rows + 1, dtype=np.int32) * k),
        _doubles(x.ravel()))


def _ints(x: np.ndarray) -> pa.Array:
    return pa.array(x.astype(np.int32))


def quantile_of(digest: Column | str, q: float) -> Column:
    """quantile(q) of each digest (MergingDigest.java:697-783 semantics)."""
    qv = [float(q)]
    return _probe(DoubleType(), _digests(
        lambda b: _doubles(b.quantiles(qv)[:, 0])))(digest)


def quantiles_of(digest: Column | str, qs: Sequence[float]) -> Column:
    """array of quantiles at the given probabilities."""
    qvs = [float(q) for q in qs]
    return _probe(ArrayType(DoubleType()), _digests(
        lambda b: _lists(b.quantiles(qvs))))(digest)


def cdf_of(digest: Column | str, x: float) -> Column:
    xv = [float(x)]
    return _probe(DoubleType(), _digests(
        lambda b: _doubles(b.cdfs(xv)[:, 0])))(digest)


def cdfs_of(digest: Column | str, xs: Sequence[float]) -> Column:
    xvs = [float(x) for x in xs]
    return _probe(ArrayType(DoubleType()), _digests(
        lambda b: _lists(b.cdfs(xvs))))(digest)


def trimmed_mean_of(digest: Column | str, q0: float, q1: float) -> Column:
    """Mean of samples between rank-quantiles q0 and q1 (SURVEY §2.A8)."""
    a, b = float(q0), float(q1)
    return _probe(DoubleType(), _digests(
        lambda d: _doubles(d.trimmed_means(a, b))))(digest)


def digest_summary(digest: Column | str, qs: Sequence[float],
                   trim: tuple[float, float] = (0.05, 0.95)) -> Column:
    """All common statistics in ONE digest decode per batch: struct of
    quantiles array, trimmed mean, n, min, max, centroids.

    Prefer this over stacking quantile_of/trimmed_mean_of/digest_stats
    when extracting several statistics — each of those decodes the
    batch again (docs/DESIGN.md §8)."""
    qvs = [float(q) for q in qs]
    t0, t1 = float(trim[0]), float(trim[1])
    schema = StructType([
        StructField("quantiles", ArrayType(DoubleType())),
        StructField("trimmed_mean", DoubleType()),
        StructField("n", DoubleType()),
        StructField("min", DoubleType()),
        StructField("max", DoubleType()),
        StructField("centroids", IntegerType()),
    ])

    def read(b):
        lo, hi = b.extremes()
        return pa.StructArray.from_arrays(
            [_lists(b.quantiles(qvs)), _doubles(b.trimmed_means(t0, t1)),
             _doubles(b.size), _doubles(lo), _doubles(hi), _ints(b.count)],
            names=schema.fieldNames())

    return _probe(schema, _digests(read))(digest)


def digest_stats(digest: Column | str) -> Column:
    """Metadata struct: n, centroid count, min, max, compression, bytes.

    These are *exact* (min/max/n track the raw stream), so they are
    DuckDB-oracle-checkable — SURVEY.md §7.5.
    """
    def read(b):
        lo, hi = b.extremes()
        return pa.StructArray.from_arrays(
            [_doubles(b.size), _ints(b.count), _doubles(lo), _doubles(hi),
             _doubles(b.comp), _ints(b.nbytes)],
            names=STATS_SCHEMA.fieldNames())

    return _probe(STATS_SCHEMA, _digests(read))(digest)
