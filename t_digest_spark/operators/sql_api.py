"""SQL-facing registration of the digest function surface.

``register_sql_functions(spark)`` exposes the extraction functions to
Spark SQL, so a digest table produced by ``tdigest_aggregate`` can be
queried with plain SQL:

    SELECT role, tdigest_quantile(digest, 0.99) AS p99,
           tdigest_trimmed_mean(digest, 0.05, 0.95) AS tmean
    FROM latency_digests

All functions are probe-kernel UDFs over the binary digest column; the
q/x arguments are per-row columns (use literals for fixed probes), and
a NULL digest or argument gives NULL.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import SparkSession
from pyspark.sql.types import DoubleType

from ..core import TDigest
from .extract import _probe

__all__ = ["register_sql_functions"]

# SQL literals like 0.5 arrive as decimals, hence the float() casts
_FUNCTIONS = {
    "tdigest_quantile": lambda d, q: d.quantile(float(q)),
    "tdigest_cdf": lambda d, x: d.cdf(float(x)),
    "tdigest_trimmed_mean":
        lambda d, q0, q1: d.trimmed_mean(float(q0), float(q1)),
    "tdigest_count": lambda d: float(d.size),
}


def register_sql_functions(spark: SparkSession) -> None:
    for name, fn in _FUNCTIONS.items():
        spark.udf.register(
            name, _probe(DoubleType(), TDigest.from_bytes, fn, np.nan))
