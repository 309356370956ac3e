"""Count-min / Bloom / HLL: pure-NumPy behavior, mergeability, and the
Spark two-stage aggregation (partition-split independence)."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from t_digest_spark.functions.sketches import (
    BloomFilter, CountMinSketch, HyperLogLog, sketch_from_bytes,
)
from t_digest_spark.operators.sketch_agg import (
    bloom_contains, cm_estimates, distinct_count_approx, hashed,
    hll_estimate, sketch_aggregate,
)


def _hashes(n, seed=0):
    return np.random.default_rng(seed).integers(
        -2**63, 2**63 - 1, size=n, dtype=np.int64)


# ---------------------------------------------------------------- core

def test_cm_exact_when_wide():
    rng = np.random.default_rng(1)
    items = _hashes(200, 2)
    counts = rng.integers(1, 50, size=200)
    cm = CountMinSketch(width=8192, depth=5)
    cm.add_hashes(np.repeat(items, counts))
    est = cm.estimate_hashes(items)
    # overestimate-only, and exact with overwhelming probability at
    # 200 items in 8192 buckets x 5 rows
    assert (est >= counts).all()
    assert (est == counts).mean() > 0.99
    assert cm.n == counts.sum()


def test_cm_merge_equals_single():
    items = _hashes(1000, 3)
    whole = CountMinSketch(1024, 4)
    whole.add_hashes(items)
    parts = [CountMinSketch(1024, 4) for _ in range(4)]
    for i, p in enumerate(parts):
        p.add_hashes(items[i::4])
    merged = parts[0]
    for p in parts[1:]:
        merged.merge(p)
    assert (merged.table == whole.table).all()
    rt = CountMinSketch.from_bytes(merged.to_bytes())
    assert (rt.table == whole.table).all()
    assert rt.n == whole.n


def test_bloom_no_false_negatives():
    present = _hashes(5000, 4)
    absent = _hashes(5000, 5)
    bf = BloomFilter.ideal(5000, fpp=0.01)
    bf.add_hashes(present)
    assert bf.contains_hashes(present).all()
    fpp = bf.contains_hashes(absent).mean()
    assert fpp < 0.03


def test_bloom_merge_is_union():
    a, b = _hashes(1000, 6), _hashes(1000, 7)
    bf1 = BloomFilter(1 << 16, 7)
    bf1.add_hashes(a)
    bf2 = BloomFilter(1 << 16, 7)
    bf2.add_hashes(b)
    bf1.merge(bf2)
    assert bf1.contains_hashes(a).all()
    assert bf1.contains_hashes(b).all()
    rt = BloomFilter.from_bytes(bf1.to_bytes())
    assert rt.contains_hashes(a).all()


@pytest.mark.parametrize("n", [100, 10_000, 1_000_000])
def test_hll_accuracy(n):
    h = HyperLogLog(p=14)
    h.add_hashes(_hashes(n, 8))
    # standard error ~ 1.04/sqrt(2^14) = 0.8%; allow 3 sigma + slack
    assert h.estimate() == pytest.approx(n, rel=0.04)


def test_hll_merge_split_independent():
    items = _hashes(100_000, 9)
    whole = HyperLogLog(12)
    whole.add_hashes(items)
    parts = [HyperLogLog(12) for _ in range(8)]
    for i, p in enumerate(parts):
        p.add_hashes(items[i::8])
    merged = parts[0]
    for p in parts[1:]:
        merged.merge(p)
    # register-max merge is exactly order independent
    assert (merged.registers == whole.registers).all()
    rt = sketch_from_bytes(merged.to_bytes())
    assert rt.estimate() == whole.estimate()


def test_hll_duplicates_dont_count():
    h = HyperLogLog(14)
    items = _hashes(1000, 10)
    for _ in range(5):
        h.add_hashes(items)
    assert h.estimate() == pytest.approx(1000, rel=0.05)


# --------------------------------------------------------------- spark

def test_spark_cm_counts(spark):
    sdf = spark.createDataFrame(
        [(x,) for x in ["a"] * 50 + ["b"] * 30 + ["c"] * 20], "item string")
    agg = sketch_aggregate(sdf.repartition(4), "item", "cm", width=4096)
    probe = agg.select(
        cm_estimates(
            "sketch",
            F.array(*[hashed(F.lit(v)) for v in ["a", "b", "c", "zz"]]),
        ).alias("est"))
    est = probe.collect()[0].est
    assert est[0] == 50 and est[1] == 30 and est[2] == 20
    assert est[3] <= 2  # absent item: tiny overestimate at worst


def test_spark_bloom_membership(spark):
    sdf = spark.range(0, 1000).select(
        F.concat(F.lit("k"), F.col("id")).alias("item"))
    agg = sketch_aggregate(sdf.repartition(8), "item", "bloom",
                           expected_items=1000, fpp=0.001)
    probes = ["k1", "k500", "k999", "absent-1", "absent-2"]
    got = agg.select(bloom_contains(
        "sketch", F.array(*[hashed(F.lit(v)) for v in probes])).alias("c")
    ).collect()[0].c
    assert got[:3] == [True, True, True]
    assert got[3] is False or got[4] is False  # fpp=1e-3: both FP ~ never


def test_spark_hll_grouped(spark, request):
    sdf = spark.range(0, 20_000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        (F.col("id") % 5000).alias("item"))
    agg = sketch_aggregate(sdf.repartition(8), "item", "hll",
                           group_cols=["g"], p=14)
    rows = agg.select("g", hll_estimate("sketch").alias("d")).collect()
    for r in rows:
        # each parity class holds 2500 distinct item values
        assert r.d == pytest.approx(2500, rel=0.05)


def test_spark_distinct_methods_agree(spark):
    sdf = spark.range(0, 30_000).select((F.col("id") % 7777).alias("u"))
    own = distinct_count_approx(sdf, "u").collect()[0].approx_distinct
    builtin = distinct_count_approx(sdf, "u", method="builtin") \
        .collect()[0].approx_distinct
    assert own == pytest.approx(7777, rel=0.05)
    # Spark's builtin defaults to rsd=5%; allow 3 sigma
    assert builtin == pytest.approx(7777, rel=0.15)


def test_spark_cm_partition_independence(spark):
    sdf = spark.createDataFrame(
        [(f"k{i % 17}",) for i in range(1700)], "item string")
    ests = []
    for parts in (1, 4, 16):
        agg = sketch_aggregate(sdf.repartition(parts), "item", "cm",
                               width=4096)
        est = agg.select(cm_estimates(
            "sketch", F.array(hashed(F.lit("k3")))).alias("e")
        ).collect()[0].e[0]
        ests.append(est)
    assert ests[0] == ests[1] == ests[2] == 100


def test_spark_cm_drops_null_and_nonpositive_weights(spark):
    """Weighted count-min follows the digest's rule: a row whose weight
    is NULL or <= 0 is dropped, never cast into a garbage count."""
    sdf = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 2), ("b", 0), ("b", -4), ("b", 5)],
        "item string, w bigint")
    agg = sketch_aggregate(sdf.repartition(2), "item", "cm",
                           weight_col="w", width=4096)
    row = agg.select("rows", cm_estimates(
        "sketch", F.array(hashed(F.lit("a")), hashed(F.lit("b"))))
        .alias("est")).collect()[0]
    assert row.est == [3, 5]
    assert row.rows == 3
    assert sketch_from_bytes(bytes(agg.collect()[0].sketch)).n == 8
