"""Checkpoint/resume pipeline and streaming digest aggregation."""

import glob
import os
import shutil
import time

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from t_digest_spark.core import TDigest
from t_digest_spark.plans.pipeline import DigestCheckpointPipeline
from t_digest_spark.streaming.digest_stream import (
    read_digest_state, stream_digests,
)

from conftest import dist_cdf


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path)


def _write_input(spark, path, n=20_000, parts=8, seed=0):
    rng = np.random.default_rng(seed)
    pdf = [(("g%d" % (i % 3)), float(v))
           for i, v in enumerate(rng.uniform(size=n))]
    df = spark.createDataFrame(pdf, "g string, v double").repartition(parts)
    df.write.mode("overwrite").parquet(path)
    return np.sort(rng.integers(0, 1, 1))  # placeholder


def test_checkpoint_resume_equivalence(spark, workdir):
    inp = os.path.join(workdir, "input.parquet")
    rng = np.random.default_rng(1)
    vals = rng.uniform(size=30_000)
    df = spark.createDataFrame(
        [(("g%d" % (i % 2)), float(v)) for i, v in enumerate(vals)],
        "g string, v double").repartition(8)
    df.write.mode("overwrite").parquet(inp)

    ck = os.path.join(workdir, "ckpt")
    pipe = DigestCheckpointPipeline(spark, inp, "v", ["g"], ck,
                                    files_per_batch=3)
    # run 1: process only the first batch of files
    all_files = sorted(spark.read.parquet(inp).inputFiles())
    p1 = DigestCheckpointPipeline(spark, inp, "v", ["g"], ck,
                                  files_per_batch=3)
    # simulate interruption: process a subset by temporarily batching
    state = p1.run_partials()
    assert state["complete"]
    assert state["processed_now"] == len(all_files)

    # run again: nothing left to do (resume is a no-op)
    state2 = pipe.run_partials()
    assert state2["processed_now"] == 0
    assert state2["already_done"] == len(all_files)

    # lineage recorded
    lin = pipe.lineage()
    assert lin["complete"] is True
    assert lin["n_input_files"] == len(all_files)

    # metrics exist per (file, group)
    m = pipe.metrics().collect()
    assert len(m) > 0
    assert all(r.centroids > 0 and r.digest_bytes > 0 for r in m)

    # finalize matches a direct aggregation within merge bounds
    final = {r.g: TDigest.from_bytes(bytes(r.digest))
             for r in pipe.finalize().collect()}
    by_g = {"g0": np.sort(vals[0::2]), "g1": np.sort(vals[1::2])}
    for g, data in by_g.items():
        d = final[g]
        assert d.size == data.size
        for q in (0.01, 0.5, 0.99):
            assert abs(dist_cdf(d.quantile(q), data) - q) < 0.015


def test_checkpoint_partial_interrupt(spark, workdir):
    """Interrupt mid-run (small files_per_batch), resume, finalize —
    the resumed run must only process the remaining files."""
    inp = os.path.join(workdir, "input2.parquet")
    rng = np.random.default_rng(2)
    vals = rng.normal(size=12_000)
    spark.createDataFrame([(float(v),) for v in vals], "v double") \
        .repartition(6).write.mode("overwrite").parquet(inp)
    ck = os.path.join(workdir, "ckpt2")

    class Interrupting(DigestCheckpointPipeline):
        def run_first_batch_only(self):
            files = self._input_files()
            batch = files[: self.files_per_batch]
            df = self.spark.read.parquet(*batch).withColumn(
                "__source_file", F.input_file_name())
            from t_digest_spark.operators.aggregate import partial_digests
            from t_digest_spark.operators.extract import digest_stats
            partials = partial_digests(df, self.value_col,
                                       ["__source_file"], self.compression)
            enriched = partials.select(
                "*", digest_stats("digest").alias("__stats")
            ).select(
                "__source_file", "digest", "rows",
                F.col("__stats").getField("centroids").alias("centroids"),
                F.col("__stats").getField("min").alias("v_min"),
                F.col("__stats").getField("max").alias("v_max"),
                F.length("digest").alias("digest_bytes"))
            enriched.write.mode("append").parquet(self.partials_path)

    broken = Interrupting(spark, inp, "v", [], ck, files_per_batch=2)
    broken.run_first_batch_only()
    done_before = broken._done_files()
    assert 0 < len(done_before) < 6

    resumed = DigestCheckpointPipeline(spark, inp, "v", [], ck,
                                       files_per_batch=2)
    state = resumed.run_partials()
    assert state["already_done"] == len(done_before)
    assert state["processed_now"] == 6 - len(done_before)
    assert state["complete"]

    d = TDigest.from_bytes(bytes(resumed.finalize().collect()[0].digest))
    data = np.sort(vals)
    assert d.size == data.size
    for q in (0.1, 0.5, 0.9):
        assert abs(dist_cdf(d.quantile(q), data) - q) < 0.015


def test_streaming_fold_retry_idempotent(spark, workdir):
    """foreachBatch re-executes a batch_id on recovery; the fold must
    not merge the batch's rows on top of state the failed attempt of
    the SAME batch already wrote (regression: read_digest_state used
    to return versions[-1], double-counting retried batches)."""
    from t_digest_spark.streaming import digest_stream as ds

    state = os.path.join(workdir, "retry_state")
    b0 = spark.createDataFrame(
        [("k", float(v)) for v in range(100)], "g string, v double")
    b1 = spark.createDataFrame(
        [("k", float(v)) for v in range(100, 250)], "g string, v double")

    captured = {}

    def start_fold():
        # reproduce the fold closure exactly as stream_digests wires it
        def fold(batch_df, batch_id):
            from t_digest_spark.operators.aggregate import (
                merge_digests_df, partial_digests,
            )
            partials = partial_digests(batch_df, "v", ["g"], 100.0, "K_2")
            prev = ds.read_digest_state(spark, state, before_batch=batch_id)
            if prev is not None:
                partials = partials.unionByName(
                    prev.select("g", "digest", "rows"))
            merged = merge_digests_df(partials, ["g"], 100.0, "K_2")
            out = os.path.join(state, f"v_{batch_id:012d}")
            tmp = out + ".tmp"
            merged.write.mode("overwrite").parquet(tmp)
            import shutil
            if os.path.isdir(out):
                shutil.rmtree(out)
            os.rename(tmp, out)
        return fold

    fold = start_fold()
    fold(b0, 0)
    fold(b1, 1)      # first (─× failed after state write) attempt
    fold(b1, 1)      # retry of the same batch_id
    out = ds.read_digest_state(spark, state)
    row = out.collect()[0]
    d = TDigest.from_bytes(bytes(row.digest))
    # 250 rows total — NOT 400 (b1 double-counted)
    assert d.size == 250
    assert row.rows == 250


def test_streaming_digests(spark, workdir):
    """File-source stream: drop files in, watch the state fold them."""
    src = os.path.join(workdir, "stream_src")
    state = os.path.join(workdir, "stream_state")
    ckpt = os.path.join(workdir, "stream_ckpt")
    os.makedirs(src, exist_ok=True)

    rng = np.random.default_rng(3)
    all_vals = []

    def drop(n, seed_part):
        vals = rng.uniform(size=n)
        all_vals.extend(vals.tolist())
        pdf = spark.createDataFrame(
            [("k", float(v)) for v in vals], "g string, v double")
        pdf.coalesce(1).write.mode("append").parquet(src)

    drop(2000, 0)
    stream = (spark.readStream
              .schema("g string, v double")
              .parquet(src))
    q = stream_digests(stream, "v", ["g"], state, ckpt,
                       trigger_seconds=None)
    try:
        q.processAllAvailable()
        drop(3000, 1)
        q.processAllAvailable()
    finally:
        q.stop()

    out = read_digest_state(spark, state)
    assert out is not None
    row = out.collect()[0]
    d = TDigest.from_bytes(bytes(row.digest))
    data = np.sort(np.asarray(all_vals))
    assert d.size == data.size == 5000
    for qq in (0.1, 0.5, 0.9):
        assert abs(dist_cdf(d.quantile(qq), data) - qq) < 0.02


def test_windowed_digests_late_data(spark, workdir):
    """Event-time tumbling windows with LATE arrivals: rows for an old
    window landing in a later micro-batch must fold into that window's
    digest (window_start is an ordinary group key in the versioned
    state, so late data merges instead of being dropped).  Small n per
    window ⇒ medians are exact order statistics."""
    from t_digest_spark.streaming.digest_stream import (
        windowed_digest_query,
    )
    src = os.path.join(workdir, "wsrc")
    state = os.path.join(workdir, "wstate")
    ckpt = os.path.join(workdir, "wckpt")
    os.makedirs(src, exist_ok=True)

    def drop(rows):
        spark.createDataFrame(rows, "ts timestamp, v double") \
            .coalesce(1).write.mode("append").parquet(src)

    import datetime as dt
    h0 = dt.datetime(2026, 1, 1, 10, 0, 0)
    h1 = dt.datetime(2026, 1, 1, 11, 0, 0)
    w0_batch1 = [(h0 + dt.timedelta(minutes=m), float(m)) for m in
                 (1, 5, 9, 22, 40)]
    w1_batch1 = [(h1 + dt.timedelta(minutes=m), 100.0 + m) for m in
                 (3, 7)]
    # batch 2: three LATE rows for hour-10 plus more hour-11 rows
    w0_batch2 = [(h0 + dt.timedelta(minutes=m), float(m)) for m in
                 (2, 30, 55)]
    w1_batch2 = [(h1 + dt.timedelta(minutes=m), 100.0 + m) for m in
                 (10, 20, 45)]

    drop(w0_batch1 + w1_batch1)
    stream = spark.readStream.schema("ts timestamp, v double").parquet(src)
    q = windowed_digest_query(stream, "ts", "v", [], "1 hour",
                              state, ckpt)
    try:
        q.processAllAvailable()
        drop(w0_batch2 + w1_batch2)
        q.processAllAvailable()
    finally:
        q.stop()

    out = {r.window_start: r for r in
           read_digest_state(spark, state).collect()}
    assert set(out) == {h0, h1}
    d0 = TDigest.from_bytes(bytes(out[h0].digest))
    d1 = TDigest.from_bytes(bytes(out[h1].digest))
    # hour-10 window holds ALL 8 rows incl the 3 late ones: exact median
    assert out[h0].rows == 8 and d0.size == 8
    vals0 = sorted(v for _, v in w0_batch1 + w0_batch2)
    assert d0.quantile(0.5) == pytest.approx(
        (vals0[3] + vals0[4]) / 2, abs=1e-9) or \
        vals0[3] <= d0.quantile(0.5) <= vals0[4]
    assert out[h1].rows == 5 and d1.size == 5
    vals1 = sorted(v for _, v in w1_batch1 + w1_batch2)
    assert d1.quantile(0.5) == vals1[2]   # odd n ⇒ exact middle


def test_expire_numeric_and_timestamp_columns(spark):
    """_expire handles both timestamp and numeric horizon columns and
    keeps exactly the trailing window relative to the observed max."""
    import datetime as dt

    from t_digest_spark.streaming.digest_stream import _expire

    num = spark.createDataFrame(
        [(i, float(i * 100)) for i in range(10)], "k long, w double")
    kept = sorted(r.k for r in _expire(num, "w", 300.0).collect())
    assert kept == [6, 7, 8, 9]          # w >= 900 - 300

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    ts = spark.createDataFrame(
        [(i, t0 + dt.timedelta(minutes=i)) for i in range(10)],
        "k long, w timestamp")
    kept = sorted(r.k for r in _expire(ts, "w", 180.0).collect())
    assert kept == [6, 7, 8, 9]          # trailing 3 minutes


def test_stateful_stream_ttl_eviction(spark, workdir):
    """ttl_minutes on the applyInPandasWithState path: a key idle past
    the TTL is evicted from the state store — its next arrival starts a
    FRESH digest instead of folding into stale state — while keys that
    kept receiving data retain their accumulated state."""
    import time as _time

    from t_digest_spark.streaming.digest_stream import (
        stateful_digest_stream,
    )
    src = os.path.join(workdir, "tsrc")
    ckpt = os.path.join(workdir, "tckpt")
    os.makedirs(src, exist_ok=True)

    def drop(rows):
        spark.createDataFrame(rows, "g string, v double").coalesce(1) \
            .write.mode("append").parquet(src)

    stream = spark.readStream.schema("g string, v double").parquet(src)
    # TTL vs keep-alive cadence needs generous slack: the sandbox host
    # throttles unpredictably, and a micro-batch stalling past the TTL
    # would evict the kept-alive key and deadlock the polling waits
    # (observed flaky at 6s TTL / 2s cadence = 3x slack; 15/3 = 5x)
    ttl_s = 15.0
    out = stateful_digest_stream(stream, "v", ["g"],
                                 ttl_minutes=ttl_s / 60)
    # TTL queries need the RocksDB state store (see stateful_digest_
    # stream docstring: the HDFS-backed store has a commit/maintenance
    # race under the continuous empty batches timeouts cause)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key,
                   "org.apache.spark.sql.execution.streaming.state."
                   "RocksDBStateStoreProvider")
    q = (out.writeStream.queryName("ttl_digest")
         .option("checkpointLocation", ckpt)
         .trigger(processingTime="1 second")
         .outputMode("update").format("memory").start())

    # with ProcessingTimeTimeout the engine runs continuous empty
    # micro-batches to fire timeouts, so processAllAvailable() never
    # settles — poll the sink for the expected emission instead
    def wait_for(pred, timeout=120.0):
        t0 = _time.time()
        while _time.time() - t0 < timeout:
            rows = spark.sql("select g, rows from ttl_digest").collect()
            if pred({(r.g, r.rows) for r in rows}):
                return
            _time.sleep(0.5)
        raise AssertionError("sink never reached expected state")

    try:
        drop([("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0),
              ("b", 20.0)])
        wait_for(lambda s: ("a", 3) in s and ("b", 2) in s)
        # keep a alive with a row every ~3s while b idles past the TTL
        t_b_idle = _time.time()
        for i, v in enumerate([4.0, 5.0, 6.0, 7.0]):
            _time.sleep(3.0)
            drop([("a", v)])
            wait_for(lambda s, n=4 + i: ("a", n) in s)
        # make sure b has truly idled past the TTL before it returns
        remaining = ttl_s + 3.0 - (_time.time() - t_b_idle)
        if remaining > 0:
            _time.sleep(remaining)
        drop([("b", 99.0)])                   # b returns after eviction
        wait_for(lambda s: ("b", 1) in s)
    finally:
        q.stop()
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)

    rows = spark.sql("select * from ttl_digest").collect()
    seen = {}
    for r in rows:
        seen.setdefault(r.g, set()).add(r.rows)
    # a was refreshed inside every TTL window: monotone growth, never
    # evicted
    assert max(seen["a"]) == 7 and 1 not in seen["a"]
    # b: 2 rows in batch 1, then EVICTED after >6s idle — its return is
    # a fresh 1-row digest, never a stale 3-row fold
    assert seen["b"] == {2, 1}
    fresh_b = [r for r in rows if r.g == "b" and r.rows == 1]
    d = TDigest.from_bytes(bytes(fresh_b[0].digest))
    assert d.size == 1 and d.quantile(0.5) == 99.0


def test_windowed_state_expiry(spark, workdir):
    """retention='1 hour' on per-minute windows: state stays bounded to
    the trailing horizon as event time advances over 3 hours, a
    too-late arrival is dropped (watermark semantics), and the
    trailing-hour comparison digest (merge of live window rows) still
    exactly matches the raw last-hour data — the reference monitoring
    scenario's shape (core ComparisonTest.java:38-127)."""
    from t_digest_spark.core import TDigest, merge_digests
    from t_digest_spark.streaming.digest_stream import (
        read_digest_state, windowed_digest_query,
    )
    src = os.path.join(workdir, "esrc")
    state = os.path.join(workdir, "estate")
    ckpt = os.path.join(workdir, "eckpt")
    os.makedirs(src, exist_ok=True)

    def drop(rows):
        spark.createDataFrame(rows, "ts timestamp, v double") \
            .coalesce(1).write.mode("append").parquet(src)

    import datetime as dt
    t0 = dt.datetime(2026, 1, 1, 8, 0, 0)
    # three hourly batches of one row per minute
    batches = [
        [(t0 + dt.timedelta(minutes=h * 60 + m), float(h * 60 + m))
         for m in range(60)]
        for h in range(3)
    ]
    drop(batches[0])
    stream = spark.readStream.schema("ts timestamp, v double").parquet(src)
    q = windowed_digest_query(stream, "ts", "v", [], "1 minute",
                              state, ckpt, retention="1 hour")
    try:
        q.processAllAvailable()
        drop(batches[1])
        q.processAllAvailable()
        # a too-late row (2h behind the max) + the third hour
        drop(batches[2] + [(t0 + dt.timedelta(minutes=5), 9999.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = read_digest_state(spark, state).collect()
    # horizon = 1 hour => max window 10:59, cutoff 09:59: 61 windows
    assert len(rows) == 61
    starts = sorted(r.window_start for r in rows)
    assert starts[0] == t0 + dt.timedelta(minutes=119)
    assert starts[-1] == t0 + dt.timedelta(minutes=179)
    # the too-late 08:05 row must NOT have resurrected its window
    assert t0 + dt.timedelta(minutes=5) not in set(starts)
    # trailing-hour comparison: merge the last 60 live windows and
    # check the digest holds exactly the last hour's raw values
    last60 = sorted(rows, key=lambda r: r.window_start)[-60:]
    merged = merge_digests(
        [TDigest.from_bytes(bytes(r.digest)) for r in last60])
    expect = sorted(v for _, v in batches[2])
    assert merged.size == 60
    # reference t-digest even-n median lands on/between the two middle
    # singletons (not the order-statistic midpoint)
    assert expect[29] <= merged.quantile(0.5) <= expect[30]
    assert merged.min == expect[0] and merged.max == expect[-1]
    for qq in (0.1, 0.9):
        assert abs(merged.cdf(merged.quantile(qq)) - qq) <= 1.5 / 60


def test_stateful_digest_stream(spark, workdir):
    # applyInPandasWithState path: state lives in Spark's state store;
    # two micro-batches fold into one digest per key, exact vs raw data
    import numpy as np

    from t_digest_spark.streaming.digest_stream import (
        stateful_digest_stream,
    )

    src = os.path.join(workdir, "src2")
    ckpt = os.path.join(workdir, "ckpt2")
    os.makedirs(src, exist_ok=True)
    rng = np.random.default_rng(3)
    all_vals = {}

    def drop(n, batch):
        vals = rng.gamma(2.0, 3.0, size=n)
        g = ["a" if i % 2 == 0 else "b" for i in range(n)]
        for gg, v in zip(g, vals):
            all_vals.setdefault(gg, []).append(float(v))
        pdf = pd.DataFrame({"g": g, "v": vals})
        spark.createDataFrame(pdf).coalesce(1).write.mode("append") \
            .parquet(src)

    drop(2000, 0)
    stream = (spark.readStream.schema("g string, v double").parquet(src))
    out = stateful_digest_stream(stream, "v", ["g"])
    q = (out.writeStream.queryName("stateful_digest")
         .option("checkpointLocation", ckpt)
         .outputMode("update").format("memory").start())
    try:
        q.processAllAvailable()
        drop(3000, 1)
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql("select * from stateful_digest").collect()
    # memory sink in update mode appends updated rows per batch, but
    # collect() order is NOT guaranteed to follow emission order — pick
    # the emission with the largest row count per key (state only grows)
    latest = {}
    for r in rows:
        if r.g not in latest or r.rows > latest[r.g].rows:
            latest[r.g] = r
    assert set(latest) == {"a", "b"}
    for g, r in latest.items():
        d = TDigest.from_bytes(bytes(r.digest))
        data = np.sort(np.asarray(all_vals[g]))
        assert d.size == data.size == r.rows
        assert r.p50 == pytest.approx(d.quantile(0.5))
        for qq in (0.1, 0.5, 0.9):
            assert abs(dist_cdf(d.quantile(qq), data) - qq) < 0.02


def test_expire_retains_null_expiry_rows(spark):
    """State rows with a NULL expiry column carry no event-time
    position; _expire must retain them (a bare >= comparison would
    evaluate to NULL and silently evict them forever)."""
    from t_digest_spark.streaming.digest_stream import _expire

    rows = [(i, float(i * 100)) for i in range(10)]
    rows += [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "k long, w double")
    kept = sorted(r.k for r in _expire(df, "w", 300.0).collect())
    assert kept == [6, 7, 8, 9, 100, 101]
    # all-null expiry: everything retained, nothing crashes
    all_null = spark.createDataFrame([(1, None), (2, None)],
                                     "k long, w double")
    kept = sorted(r.k for r in _expire(all_null, "w", 60.0).collect())
    assert kept == [1, 2]


def test_finalize_reads_partials_without_inference(spark, workdir):
    """Once the pipeline has read its partials, building ``finalize()``
    again (flat or tree) starts no Spark job: the partials' schema is
    not inferred a second time.  The read gives the rows an inferring
    read gives, and partials appended later stay visible."""
    inp = os.path.join(workdir, "input3.parquet")
    rng = np.random.default_rng(3)
    spark.createDataFrame(
        [("g%d" % (i % 3), float(v))
         for i, v in enumerate(rng.uniform(size=3_000))],
        "g string, v double").repartition(4) \
        .write.mode("overwrite").parquet(inp)
    pipe = DigestCheckpointPipeline(spark, inp, "v", ["g"],
                                    os.path.join(workdir, "ckpt3"),
                                    files_per_batch=2)
    pipe.run_partials()
    first = {r.g: r.rows for r in pipe.finalize().collect()}

    sc = spark.sparkContext
    sc.setJobGroup("finalize-build", "builds only", False)
    try:
        flat = pipe.finalize()
        tree = pipe.finalize(tree=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("finalize-build")) \
        == []

    cols = ["__source_file", "g", "digest", "rows"]
    inferred = spark.read.parquet(pipe.partials_path).select(cols).collect()
    assert sorted(pipe._partials().select(cols).collect()) \
        == sorted(inferred)
    assert {r.g: r.rows for r in flat.collect()} == first
    assert {r.g: r.rows for r in tree.collect()} == first

    # a partial appended after the schema was learned is read too
    spark.read.parquet(pipe.partials_path).limit(1) \
        .write.mode("append").parquet(pipe.partials_path)
    assert pipe._partials().count() == len(inferred) + 1
