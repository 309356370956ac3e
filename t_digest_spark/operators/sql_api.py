"""SQL-facing registration of the digest function surface.

``register_sql_functions(spark)`` exposes the extraction functions to
Spark SQL, so a digest table produced by ``tdigest_aggregate`` can be
queried with plain SQL:

    SELECT role, tdigest_quantile(digest, 0.99) AS p99,
           tdigest_trimmed_mean(digest, 0.05, 0.95) AS tmean
    FROM latency_digests

All functions are batch-kernel UDFs over the binary digest column; the
q/x arguments are per-row columns (use literals for fixed probes), and
a NULL digest or argument gives NULL.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import DoubleType

from .extract import _digests, _doubles, _probe

__all__ = ["register_sql_functions"]

_FUNCTIONS = {
    "tdigest_quantile": lambda b, q: _doubles(b.quantiles(q[:, None])[:, 0]),
    "tdigest_cdf": lambda b, x: _doubles(b.cdfs(x[:, None])[:, 0]),
    "tdigest_trimmed_mean":
        lambda b, q0, q1: _doubles(b.trimmed_means(q0, q1)),
    "tdigest_count": lambda b: _doubles(b.size),
}


def register_sql_functions(spark: SparkSession) -> None:
    for name, fn in _FUNCTIONS.items():
        spark.udf.register(name, _probe(DoubleType(), _digests(fn)))
