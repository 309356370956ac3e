"""Stage-2 sizing and the tree path's salted level, tested the way
FP-Hadoop tests its Intermediate Reduce: multi-wave against one-wave
inputs, skewed keys and mixed fan-in.

- ``_scan_tasks`` is Spark's own scan split count, read without a job;
- the fused transcript aggregate pins whole waves (``REPARTITION_BY_NUM``)
  only behind a scan of more than one wave, and every other grouped
  merge leaves AQE to size the exchange (``REPARTITION_BY_COL``);
- ``tree_merge`` passes one-blob salted groups through untouched and
  meets the AccuracyTest.java:131-151 bounds for any fan-in and any
  input order.
"""

from __future__ import annotations

import contextlib
import re

import numpy as np
import pytest

from pyspark.sql import functions as F

from t_digest_spark.core import TDigest, merge_blobs
from t_digest_spark.operators.aggregate import (
    _level1_codec, _partition_merge_gen, _scan_tasks, merge_digests_df,
    tdigest_aggregate, tree_merge,
)
from t_digest_spark.sources.tables import (
    latency_digests_clustered, synth_transcripts,
)

FANOUT = 8
# partials per key: one, fanout - 1, fanout + 1 and 10 x fanout
FAN_IN = {"one": 1, "below": FANOUT - 1, "above": FANOUT + 1,
          "hot": 10 * FANOUT}
POINTS = 2000
QS = (0.001, 0.01, 0.1, 0.2, 0.3, 0.5, 0.7, 0.9, 0.99, 0.999)


@contextlib.contextmanager
def _conf(spark, key: str, value: str):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _one_file_per_task(spark):
    # a split closes before any second file once a file's open cost
    # alone fills it
    return _conf(spark, "spark.sql.files.openCostInBytes", str(1 << 30))


def _merge_exchanges(df) -> list:
    """(partition count, repartition kind) of each hash exchange in the
    final plan, after running it."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # the plan that ran
    return [(int(n), kind) for n, kind in re.findall(
        r"hashpartitioning\([^)]*, (\d+)\), (REPARTITION_BY_\w+)", plan)]


def _waves(spark) -> tuple[int, int]:
    return (spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.shuffle.partitions")))


@pytest.fixture(scope="module")
def transcripts_path(spark, tmp_path_factory):
    """Conv-clustered transcripts in 2 x defaultParallelism files."""
    cores, _ = _waves(spark)
    path = str(tmp_path_factory.mktemp("shape") / "transcripts")
    synth_transcripts(spark, n_convs=600, seed=9, partitions=2 * cores,
                      with_text=False).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def fan_in():
    """Per key: its exact sorted values and one partial blob per split,
    the stage-1 VERBOSE encoding."""
    rng = np.random.default_rng(17)
    data, partials = {}, []
    for i, (key, n) in enumerate(FAN_IN.items()):
        vals = rng.lognormal(i, 1.0 + 0.3 * i, size=n * POINTS)
        data[key] = np.sort(vals)
        for chunk in np.split(vals, n):
            d = TDigest(100.0)
            d.add_batch(chunk)
            partials.append((key, d.to_bytes(compress=False), POINTS))
    return data, partials


@pytest.fixture(scope="module")
def partials_path(spark, fan_in, tmp_path_factory):
    """The fan-in partials as 2 x defaultParallelism parquet files."""
    cores, _ = _waves(spark)
    path = str(tmp_path_factory.mktemp("shape") / "partials")
    spark.createDataFrame(fan_in[1], "k string, digest binary, rows long") \
        .repartition(2 * cores).write.parquet(path)
    return path


def test_scan_tasks_is_the_scan_split_count(spark, transcripts_path,
                                            partials_path, tmp_path):
    """The scan's real partition count under packing, one file per
    task, files split at maxPartitionBytes, a non-splittable codec and
    a partition-pruned scan."""
    gz, parted = str(tmp_path / "gz"), str(tmp_path / "parted")
    spark.range(0, 20000, numPartitions=3).selectExpr("id", "id * 0.5 v") \
        .write.option("compression", "gzip").csv(gz)
    spark.range(0, 20000, numPartitions=4).selectExpr("id % 4 p", "id v") \
        .write.partitionBy("p").parquet(parted)
    confs = [contextlib.nullcontext(), _one_file_per_task(spark),
             _conf(spark, "spark.sql.files.maxPartitionBytes", "4096")]
    for conf in confs:
        with conf:
            for path in (transcripts_path, partials_path):
                df = spark.read.parquet(path)
                narrow = df.where(F.col("rows") > 0) \
                    if "rows" in df.columns else df.select("role", "ts")
                assert _scan_tasks(narrow) == df.rdd.getNumPartitions()
            for df in (spark.read.csv(gz),
                       spark.read.parquet(parted).where(F.col("p") == 1)):
                assert _scan_tasks(df) == df.rdd.getNumPartitions()
    assert _scan_tasks(spark.range(10)) is None
    assert _scan_tasks(spark.readStream.format("rate").load()) is None
    assert _scan_tasks(spark.read.parquet(partials_path)
                       .groupBy("k").count()) is None


def test_multi_wave_scan_pins_whole_waves(spark, transcripts_path,
                                          partials_path):
    """The flagship shape (one file per scan task, more tasks than
    cores): the fused job's merge exchanges by number into S
    partitions, as the 2v8 gate's merge stage always did; a grouped
    aggregate and both tree levels over the same kind of scan keep AQE."""
    cores, shuffle = _waves(spark)
    assert shuffle <= 2 * cores  # so min(S, C * ceil(P1 / C)) is S
    with _one_file_per_task(spark):
        t = spark.read.parquet(transcripts_path)
        assert _scan_tasks(t) > cores
        fused = latency_digests_clustered(t)
        assert _merge_exchanges(fused) == [(shuffle, "REPARTITION_BY_NUM")]
        tree = tree_merge(spark.read.parquet(partials_path), ["k"],
                          fanout=FANOUT)
        agg = tdigest_aggregate(t.withColumn("v", F.col("turn_idx") * 1.0),
                                "v", ["role"])
        for df in (tree, agg):
            assert {k for _, k in _merge_exchanges(df)} \
                == {"REPARTITION_BY_COL"}


def test_one_wave_scan_and_small_aggregate_keep_aqe(spark, transcripts_path,
                                                    partials_path):
    """A scan of at most one wave, and a grouped aggregate over a
    non-file input, leave the merge exchange to AQE."""
    cores, _ = _waves(spark)
    t = spark.read.parquet(transcripts_path)
    assert _scan_tasks(t) <= cores
    assert {k for _, k in _merge_exchanges(latency_digests_clustered(t))} \
        == {"REPARTITION_BY_COL"}
    tree = tree_merge(spark.read.parquet(partials_path), ["k"],
                      fanout=FANOUT)
    assert {k for _, k in _merge_exchanges(tree)} == {"REPARTITION_BY_COL"}
    small = spark.range(0, 2000).select(
        (F.col("id") % 7).alias("g"), F.col("id").cast("double").alias("v"))
    assert {k for _, k in _merge_exchanges(
        tdigest_aggregate(small, "v", ["g"]))} == {"REPARTITION_BY_COL"}


def _assert_bounds(d: TDigest, data: np.ndarray, key: str):
    for q in QS:
        x = d.quantile(q)
        rank = (np.searchsorted(data, x, "left")
                + np.searchsorted(data, x, "right")) / (2 * data.size)
        assert abs(rank - q) < 0.015, (key, q, rank)
        assert abs(rank - q) / q < 0.4, (key, q, rank)


@pytest.mark.parametrize("seed", [0, 1])
def test_tree_merge_skewed_mixed_fan_in(spark, fan_in, seed):
    """Keys with 1, fanout - 1, fanout + 1 and 10 x fanout partials, in
    shuffled input order: exact rows, the AccuracyTest bounds on every
    key, and the one-partial key's digest is the flat merge's, byte for
    byte (its level-1 group passed through untouched)."""
    data, partials = fan_in
    order = np.random.default_rng(seed).permutation(len(partials))
    df = spark.createDataFrame([partials[i] for i in order],
                               "k string, digest binary, rows long") \
        .repartition(3 + seed)
    got = {r.k: r for r in tree_merge(df, ["k"], fanout=FANOUT).collect()}
    assert set(got) == set(FAN_IN)
    for key, vals in data.items():
        assert got[key].rows == vals.size
        d = TDigest.from_bytes(bytes(got[key].digest))
        assert d.size == vals.size
        assert (d.min, d.max) == (vals[0], vals[-1])
        _assert_bounds(d, vals, key)
    flat = merge_digests_df(df.where(F.col("k") == "one"), ["k"]).collect()
    assert bytes(got["one"].digest) == bytes(flat[0].digest)


def test_level1_passes_single_blob_groups_through(fan_in):
    """The salted level's kernel returns a one-blob group's blob as is
    and merges groups of two or more at twice the compression."""
    import pyarrow as pa

    _, partials = fan_in
    blobs = [b for _, b, _ in partials[:3]]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["a", "a", "b"]), pa.array([0, 0, 5], pa.int32()),
         pa.array(blobs, pa.binary()), pa.array([POINTS] * 3, pa.int64())],
        names=["k", "__salt", "digest", "rows"])
    out = next(_partition_merge_gen(_level1_codec(100.0, "K_2"),
                                    ["k", "__salt"])([batch])).to_pydict()
    got = {(k, s): (b, r) for k, s, b, r in
           zip(out["k"], out["__salt"], out["digest"], out["rows"])}
    assert got[("b", 5)] == (blobs[2], POINTS)
    assert got[("a", 0)] == (
        merge_blobs(blobs[:2], 200.0, "K_2").to_bytes(), 2 * POINTS)
