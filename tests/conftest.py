"""Shared fixtures + the exact oracle (port of the reference Dist.java)."""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def dist_cdf(x: float, data: np.ndarray, w: float = 0.5) -> float:
    """Exact midpoint-rule CDF (Dist.java:31-39)."""
    n1 = int((data < x).sum())
    n2 = int((data == x).sum())
    return (n1 + w * n2) / data.size


def dist_quantile(q: float, data_sorted: np.ndarray) -> float:
    """Exact quantile: data[floor(q*n)] clamped (Dist.java:55-68)."""
    n = data_sorted.size
    if n == 0:
        return math.nan
    index = q * n
    index = min(max(index, 0), n - 1)
    return float(data_sorted[int(math.floor(index))])


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from t_digest_spark.session import _daemon_importable

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("t-digest-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
    )
    if _daemon_importable():
        # the worker daemon the library recommends
        builder = builder.config("spark.python.daemon.module",
                                 "t_digest_spark.daemon")
    spark = builder.getOrCreate()
    yield spark
    spark.stop()
