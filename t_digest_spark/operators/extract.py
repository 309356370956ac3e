"""The per-row probe kernel every sketch column is read through, and
the digest extraction functions built on it.

These run *after* aggregation, over one row per group — cheap O(delta)
work per row (SURVEY.md §3.3), implemented as Arrow-batched pandas UDFs.

Public surface (SURVEY.md §2.B "UDF/UDAF surface"):
  quantile_of / quantiles_of / cdf_of / cdfs_of / trimmed_mean_of /
  digest_stats / digest_summary
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, DataType, DoubleType, IntegerType, StructField, StructType,
)

from ..core import TDigest

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


def _is_null(v) -> bool:
    # pandas hands a NULL double argument over as NaN
    return v is None or (isinstance(v, float) and v != v)


def _probe(return_type: DataType, decode: Callable[[bytes], object],
           fn: Callable, missing):
    """The pandas UDF over ``(blob, *argument columns)`` that gives
    ``fn(decode(blob), *argument values)`` for each row, or ``missing``
    when the blob or any argument is NULL.  For a struct
    ``return_type``, ``fn`` and ``missing`` give tuples in field
    order."""
    struct = isinstance(return_type, StructType)

    def kernel(blobs: pd.Series, *cols: pd.Series) -> pd.Series:
        out = [missing if b is None or any(map(_is_null, vals))
               else fn(decode(bytes(b)), *vals)
               for b, *vals in zip(blobs, *cols)]
        if struct:
            return pd.DataFrame(out, columns=return_type.fieldNames())
        return pd.Series(out)

    if struct:
        kernel.__annotations__["return"] = pd.DataFrame
    return pandas_udf(kernel, return_type)


def quantile_of(digest: Column | str, q: float) -> Column:
    """quantile(q) of each digest (MergingDigest.java:697-783 semantics)."""
    qv = float(q)
    return _probe(DoubleType(), TDigest.from_bytes,
                  lambda d: d.quantile(qv), np.nan)(digest)


def quantiles_of(digest: Column | str, qs: Sequence[float]) -> Column:
    """array of quantiles at the given probabilities."""
    qvs = [float(q) for q in qs]
    return _probe(ArrayType(DoubleType()), TDigest.from_bytes,
                  lambda d: d.quantiles(qvs).tolist(),
                  [np.nan] * len(qvs))(digest)


def cdf_of(digest: Column | str, x: float) -> Column:
    xv = float(x)
    return _probe(DoubleType(), TDigest.from_bytes, lambda d: d.cdf(xv),
                  np.nan)(digest)


def cdfs_of(digest: Column | str, xs: Sequence[float]) -> Column:
    xvs = [float(x) for x in xs]
    return _probe(ArrayType(DoubleType()), TDigest.from_bytes,
                  lambda d: d.cdfs(xvs).tolist(),
                  [np.nan] * len(xvs))(digest)


def trimmed_mean_of(digest: Column | str, q0: float, q1: float) -> Column:
    """Mean of samples between rank-quantiles q0 and q1 (SURVEY §2.A8)."""
    a, b = float(q0), float(q1)
    return _probe(DoubleType(), TDigest.from_bytes,
                  lambda d: d.trimmed_mean(a, b), np.nan)(digest)


def digest_summary(digest: Column | str, qs: Sequence[float],
                   trim: tuple[float, float] = (0.05, 0.95)) -> Column:
    """All common statistics in ONE digest decode per row: struct of
    quantiles array, trimmed mean, n, min, max, centroids.

    Prefer this over stacking quantile_of/trimmed_mean_of/digest_stats
    when extracting several statistics — each of those decodes the blob
    again (docs/DESIGN.md §8)."""
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
    return _probe(
        schema, TDigest.from_bytes,
        lambda d: (d.quantiles(qvs).tolist(), d.trimmed_mean(t0, t1),
                   float(d.size), d.min, d.max, int(d.centroid_count())),
        ([np.nan] * len(qvs), np.nan, np.nan, np.nan, np.nan, 0))(digest)


def digest_stats(digest: Column | str) -> Column:
    """Metadata struct: n, centroid count, min, max, compression, bytes.

    These are *exact* (min/max/n track the raw stream), so they are
    DuckDB-oracle-checkable — SURVEY.md §7.5.
    """
    return _probe(STATS_SCHEMA, bytes, _stats,
                  (np.nan, 0, np.nan, np.nan, np.nan, 0))(digest)


def _stats(blob: bytes) -> tuple:
    d = TDigest.from_bytes(blob)
    return (float(d.size), int(d.centroid_count()), d.min, d.max,
            d.public_compression, len(blob))
