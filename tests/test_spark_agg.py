"""Spark-layer tests: two-stage digest aggregation, partition-count
independence, tree merge, extraction UDFs, transcripts source
(SURVEY.md §5 "Spark-level tests")."""

from decimal import Decimal

import numpy as np
import pytest

from pyspark.sql import functions as F

from t_digest_spark.core import TDigest
from t_digest_spark.operators.aggregate import (
    merge_digests_df, partial_digests, tdigest_aggregate, tdigest_collect,
    tree_merge,
)
from t_digest_spark.operators.extract import (
    cdf_of, digest_stats, quantile_of, quantiles_of, trimmed_mean_of,
)
from t_digest_spark.sources.tables import (
    load_table, synth_transcripts, turn_metrics,
)

from conftest import SF_DIR, dist_cdf

QS = [0.01, 0.1, 0.5, 0.9, 0.99]


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_DIR, "events").cache()


@pytest.fixture(scope="module")
def exact_by_type(events):
    rows = events.select("event_type", "value").collect()
    out = {}
    for r in rows:
        out.setdefault(r.event_type, []).append(r.value)
    return {k: np.sort(np.asarray(v)) for k, v in out.items()}


def test_grouped_aggregate_bounds(spark, events, exact_by_type):
    agg = tdigest_aggregate(events, "value", ["event_type"])
    got = {r.event_type: r for r in agg.collect()}
    assert set(got) == set(exact_by_type)
    for etype, data in exact_by_type.items():
        d = TDigest.from_bytes(bytes(got[etype].digest))
        assert d.size == data.size
        assert got[etype].rows == data.size
        assert d.min == data[0]
        assert d.max == data[-1]
        for q in QS:
            q_back = dist_cdf(d.quantile(q), data)
            assert abs(q_back - q) < 0.015, (etype, q)


def test_partial_digests_row_bound(spark, events):
    nparts = 8
    df = events.repartition(nparts)
    partials = partial_digests(df, "value", ["event_type"])
    nkeys = events.select("event_type").distinct().count()
    assert partials.count() <= nparts * nkeys


def test_partition_count_independence(spark, events, exact_by_type):
    # same table, 1/4/16 partitions → same-bounded quantiles (§5 port
    # strategy); merge bounds hold for any split
    for nparts in (1, 4, 16):
        agg = tdigest_aggregate(events.repartition(nparts), "value",
                                ["event_type"])
        for r in agg.collect():
            d = TDigest.from_bytes(bytes(r.digest))
            data = exact_by_type[r.event_type]
            assert d.size == data.size
            for q in QS:
                q_back = dist_cdf(d.quantile(q), data)
                assert abs(q_back - q) < 0.015, (nparts, r.event_type, q)


def test_tree_merge_equivalence(spark, events, exact_by_type):
    partials = partial_digests(events.repartition(16), "value",
                               ["event_type"])
    treed = tree_merge(partials, ["event_type"], fanout=4)
    for r in treed.collect():
        d = TDigest.from_bytes(bytes(r.digest))
        data = exact_by_type[r.event_type]
        assert d.size == data.size
        for q in QS:
            q_back = dist_cdf(d.quantile(q), data)
            assert abs(q_back - q) < 0.015


def test_skewed_hot_key_aggregate(spark):
    """north_star skew clause: one conv-like hot key carrying ~95% of
    rows must not distort results or stage-1 output size.  Stage 1 is
    skew-immune by construction — each partition emits ONE digest per
    key it sees, independent of that key's row count — so the hot key
    costs nparts partial rows like any other key, and only the reduce
    fan-in (bounded by tree_merge) grows."""
    n_hot, n_cold_keys, per_cold = 190_000, 50, 200
    hot = spark.range(n_hot).select(
        F.lit("conv_hot").alias("k"),
        (F.rand(seed=7) * 100).alias("v"))
    cold = spark.range(n_cold_keys * per_cold).select(
        F.concat(F.lit("conv_"), (F.col("id") % n_cold_keys)).alias("k"),
        (F.rand(seed=8) * 100 + 50).alias("v"))
    df = hot.unionByName(cold).repartition(16)

    partials = partial_digests(df, "v", ["k"])
    # skew immunity: partial count bounded by nparts x nkeys, NOT by
    # row distribution
    assert partials.count() <= 16 * (n_cold_keys + 1)

    agg = tdigest_aggregate(df, "v", ["k"], tree=True, fanout=4)
    rows = {r.k: r for r in agg.collect()}
    assert rows["conv_hot"].rows == n_hot
    hot_d = TDigest.from_bytes(bytes(rows["conv_hot"].digest))
    exact = np.sort(np.asarray(
        [r.v for r in df.where(F.col("k") == "conv_hot").collect()]))
    for q in QS:
        assert abs(dist_cdf(hot_d.quantile(q), exact) - q) < 0.015
    # cold keys unaffected by the hot neighbor
    some_cold = rows[f"conv_{n_cold_keys // 2}"]
    assert some_cold.rows == per_cold


def test_global_collect(spark, events):
    values = np.sort(np.asarray(
        [r.value for r in events.select("value").collect()]))
    d = tdigest_collect(events, "value")
    assert d.size == values.size
    assert d.min == values[0]
    assert d.max == values[-1]
    for q in QS:
        assert abs(dist_cdf(d.quantile(q), values) - q) < 0.015


def test_extract_udfs(spark, events, exact_by_type):
    agg = tdigest_aggregate(events, "value", ["event_type"])
    res = (
        agg.select(
            "event_type",
            quantile_of("digest", 0.5).alias("p50"),
            quantiles_of("digest", [0.1, 0.9]).alias("qs"),
            cdf_of("digest", 50.0).alias("cdf50"),
            trimmed_mean_of("digest", 0.25, 0.75).alias("iqm"),
            digest_stats("digest").alias("stats"),
        )
    ).collect()
    for r in res:
        data = exact_by_type[r.event_type]
        assert abs(dist_cdf(r.p50, data) - 0.5) < 0.015
        assert abs(dist_cdf(r.qs[0], data) - 0.1) < 0.015
        assert abs(dist_cdf(r.qs[1], data) - 0.9) < 0.015
        assert r.cdf50 == pytest.approx(dist_cdf(50.0, data), abs=0.015)
        lo, hi = int(0.25 * len(data)), int(0.75 * len(data))
        assert r.iqm == pytest.approx(data[lo:hi].mean(),
                                      rel=0.05, abs=0.05)
        assert r.stats.n == data.size
        assert r.stats["min"] == data[0]
        assert r.stats["max"] == data[-1]
        assert 0 < r.stats.centroids <= 100


def test_weighted_aggregate(spark):
    sdf = spark.createDataFrame(
        [(float(v), float(w)) for v, w in [(1, 5), (2, 3), (3, 2)]],
        "v double, w double")
    d = TDigest.from_bytes(bytes(
        tdigest_aggregate(sdf, "v", weight_col="w").collect()[0].digest))
    assert d.size == 10
    assert d.min == 1.0 and d.max == 3.0
    # index=1 sits at the recorded min; index>total-1 returns max
    assert d.quantile(0.1) == 1.0
    assert d.quantile(0.99) == 3.0
    # interior quantiles interpolate between weighted centroids
    assert 1.0 <= d.quantile(0.3) <= 2.0


def test_null_values_ignored(spark):
    sdf = spark.createDataFrame(
        [(1.0,), (None,), (2.0,), (None,), (3.0,)], "v double")
    d = TDigest.from_bytes(bytes(
        tdigest_aggregate(sdf, "v").collect()[0].digest))
    assert d.size == 3
    assert d.min == 1.0 and d.max == 3.0


# ---------------------------------------------------------------------
# transcripts source + derived metrics (input_hint shape)
# ---------------------------------------------------------------------

def test_transcripts_deterministic(spark):
    t1 = synth_transcripts(spark, n_convs=200, seed=42, partitions=4)
    t2 = synth_transcripts(spark, n_convs=200, seed=42, partitions=4)
    h1 = t1.select(F.sha2(F.concat_ws("|", "conv_id", "turn_idx", "role",
                                      F.sha2("text", 256)), 256).alias("h"))
    h2 = t2.select(F.sha2(F.concat_ws("|", "conv_id", "turn_idx", "role",
                                      F.sha2("text", 256)), 256).alias("h"))
    agg1 = h1.agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")))
    agg2 = h2.agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")))
    assert agg1.collect()[0][0] == agg2.collect()[0][0]
    assert t1.count() == t2.count() > 200


def test_transcripts_text_equality_invariant(spark):
    # per-turn text equality under stable (conv_id, turn_idx) ordering:
    # turn_metrics derives columns but must not touch the payload
    t = synth_transcripts(spark, n_convs=100, seed=7, partitions=2).cache()
    before = t.select("conv_id", "turn_idx",
                      F.sha2("text", 256).alias("h")) \
        .orderBy("conv_id", "turn_idx").collect()
    after = turn_metrics(t).select("conv_id", "turn_idx",
                                   F.sha2("text", 256).alias("h")) \
        .orderBy("conv_id", "turn_idx").collect()
    assert before == after
    t.unpersist()


def test_transcripts_metrics_digest(spark):
    t = turn_metrics(synth_transcripts(spark, n_convs=500, seed=42,
                                       partitions=4))
    agg = tdigest_aggregate(t.where(F.col("latency_s").isNotNull()),
                            "latency_s", ["role"])
    rows = agg.collect()
    assert {r.role for r in rows} <= {"user", "assistant", "system", "tool"}
    for r in rows:
        d = TDigest.from_bytes(bytes(r.digest))
        assert d.size > 0
        assert d.quantile(0.5) >= 0


def test_rollup_matches_direct_aggregation(spark, events, exact_by_type):
    from t_digest_spark.operators.rollup import tdigest_rollup

    rolled = tdigest_rollup(events, "value", ["event_type"]).collect()
    by_level = {}
    for r in rolled:
        by_level.setdefault(r.grouping_level, []).append(r)
    # level 0: one row per type, exact stats per group
    assert len(by_level[0]) == len(exact_by_type)
    for r in by_level[0]:
        d = TDigest.from_bytes(bytes(r.digest))
        assert d.size == exact_by_type[r.event_type].size
    # level 1: grand total row with NULL key, derived purely by merge
    assert len(by_level[1]) == 1
    total = TDigest.from_bytes(bytes(by_level[1][0].digest))
    all_data = np.sort(np.concatenate(list(exact_by_type.values())))
    assert by_level[1][0].event_type is None
    assert total.size == all_data.size
    assert total.min == all_data[0] and total.max == all_data[-1]
    for q in (0.05, 0.5, 0.95):
        from conftest import dist_cdf
        assert abs(dist_cdf(total.quantile(q), all_data) - q) < 0.015


def test_cube_grouping_sets(spark):
    from t_digest_spark.operators.rollup import tdigest_cube

    sdf = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0),
         ("b", "y", 4.0)] * 25,
        "g1 string, g2 string, v double")
    cube = tdigest_cube(sdf, "v", ["g1", "g2"]).collect()
    # 4 + 2 + 2 + 1 = 9 grouping-set rows
    assert len(cube) == 9
    totals = [r for r in cube if r.g1 is None and r.g2 is None]
    assert len(totals) == 1
    assert TDigest.from_bytes(bytes(totals[0].digest)).size == 100


def test_digest_summary_single_decode(spark, events, exact_by_type):
    from t_digest_spark.operators.extract import digest_summary

    agg = tdigest_aggregate(events, "value", ["event_type"])
    rows = agg.select(
        "event_type",
        digest_summary("digest", [0.1, 0.5, 0.9]).alias("s")).collect()
    for r in rows:
        data = exact_by_type[r.event_type]
        assert r.s.n == data.size
        assert r.s["min"] == data[0] and r.s["max"] == data[-1]
        for q, est in zip([0.1, 0.5, 0.9], r.s.quantiles):
            assert abs(dist_cdf(est, data) - q) < 0.015


def test_sql_registered_functions(spark, events, exact_by_type):
    from t_digest_spark.operators.sql_api import register_sql_functions

    register_sql_functions(spark)
    tdigest_aggregate(events, "value", ["event_type"]) \
        .createOrReplaceTempView("ev_digests")
    rows = spark.sql("""
        SELECT event_type,
               tdigest_quantile(digest, 0.5) AS p50,
               tdigest_cdf(digest, 50.0) AS c50,
               tdigest_trimmed_mean(digest, 0.25, 0.75) AS iqm,
               tdigest_count(digest) AS n
        FROM ev_digests
    """).collect()
    for r in rows:
        data = exact_by_type[r.event_type]
        assert r.n == data.size
        assert abs(dist_cdf(r.p50, data) - 0.5) < 0.015
        assert r.c50 == pytest.approx(dist_cdf(50.0, data), abs=0.015)
    # a NULL argument (or digest) gives NULL, never a figure or an error
    null_rows = spark.sql("""
        SELECT tdigest_quantile(digest, CAST(NULL AS DOUBLE)) AS p,
               tdigest_cdf(digest, CAST(NULL AS DOUBLE)) AS c,
               tdigest_trimmed_mean(digest, CAST(NULL AS DOUBLE), 0.75)
                   AS lo,
               tdigest_trimmed_mean(digest, 0.25, CAST(NULL AS DOUBLE))
                   AS hi,
               tdigest_count(CAST(NULL AS BINARY)) AS n
        FROM ev_digests
    """).collect()
    assert len(null_rows) == len(rows)
    assert all(tuple(r) == (None,) * 5 for r in null_rows), null_rows


def _null_blob_probes():
    """Every public probe, as ``name -> (column over a NULL blob column
    "b" and a hash-array column "hs", its result)``."""
    from t_digest_spark.functions.kll import kll_quantiles_of
    from t_digest_spark.operators.extract import (
        cdfs_of, digest_summary,
    )
    from t_digest_spark.operators.sketch_agg import (
        bloom_contains, cm_estimates, hll_estimate,
    )

    return {
        "quantile_of": (quantile_of("b", 0.5), None),
        "quantiles_of": (quantiles_of("b", [0.1, 0.9]), [None, None]),
        "cdf_of": (cdf_of("b", 1.0), None),
        "cdfs_of": (cdfs_of("b", [1.0, 2.0]), [None, None]),
        "trimmed_mean_of": (trimmed_mean_of("b", 0.1, 0.9), None),
        "digest_summary": (digest_summary("b", [0.5]),
                           ([None], None, None, None, None, 0)),
        "digest_stats": (digest_stats("b"),
                         (None, 0, None, None, None, 0)),
        "tdigest_quantile": (F.expr("tdigest_quantile(b, 0.5)"), None),
        "tdigest_cdf": (F.expr("tdigest_cdf(b, 1.0)"), None),
        "tdigest_trimmed_mean": (
            F.expr("tdigest_trimmed_mean(b, 0.1, 0.9)"), None),
        "tdigest_count": (F.expr("tdigest_count(b)"), None),
        "kll_quantiles_of": (kll_quantiles_of("b", [0.5]), None),
        "hll_estimate": (hll_estimate("b"), None),
        "cm_estimates": (cm_estimates("b", "hs"), None),
        "bloom_contains": (bloom_contains("b", "hs"), None),
    }


@pytest.mark.parametrize("probe", [
    "quantile_of", "quantiles_of", "cdf_of", "cdfs_of", "trimmed_mean_of",
    "digest_summary", "digest_stats", "tdigest_quantile", "tdigest_cdf",
    "tdigest_trimmed_mean", "tdigest_count", "kll_quantiles_of",
    "hll_estimate", "cm_estimates", "bloom_contains",
])
def test_null_blob_probes(spark, probe):
    """A NULL sketch column reads as each probe's missing value: NULL
    scalars, arrays of NULLs for the digest's multi-probes, zero counts
    in the digest's structs."""
    from t_digest_spark.operators.sql_api import register_sql_functions

    register_sql_functions(spark)
    col, expect = _null_blob_probes()[probe]
    df = spark.createDataFrame([(None, [1, 2])], "b binary, hs array<bigint>")
    (got,) = df.select(col.alias("out")).collect()
    assert got.out == expect


# ---------------------------------------------------------------------
# clustered (shuffle-free) lag path vs the window path
# ---------------------------------------------------------------------

def test_turn_metrics_clustered_equals_window(spark, tmp_path):
    from t_digest_spark.sources.tables import turn_metrics_clustered

    path = str(tmp_path / "transcripts.parquet")
    synth_transcripts(spark, n_convs=400, seed=11, partitions=4) \
        .write.parquet(path)
    t = spark.read.parquet(path)
    cols = ["conv_id", "turn_idx", "text_len", "latency_s", "ts_hour"]
    a = turn_metrics(t).select(cols) \
        .orderBy("conv_id", "turn_idx").collect()
    b = turn_metrics_clustered(t).select(cols) \
        .orderBy("conv_id", "turn_idx").collect()
    assert len(a) == len(b) > 1000
    for ra, rb in zip(a, b):
        # bit-identical latency: both paths do double(us/1e6) then subtract
        assert ra == rb, (ra, rb)


def _utf8_transcripts(spark, path):
    """One parquet file of conv-clustered turns whose texts mix empty
    strings, multi-byte UTF-8 and characters outside the BMP."""
    import datetime as dt

    texts = ["", "héllo", "日本語のテキスト", "🙂🙂 ok", "a", "naïve café",
             "ß" * 40, "", "Ωmega – “quotes”", "x" * 300]
    rng = np.random.default_rng(9)
    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for c in range(60):
        ts = t0 + dt.timedelta(minutes=int(rng.integers(0, 600)))
        for i in range(int(rng.integers(1, 7))):
            ts += dt.timedelta(seconds=int(rng.integers(1, 90)))
            rows.append((f"c{c:03d}", i, ["user", "assistant"][i % 2],
                         None, texts[int(rng.integers(len(texts)))], ts))
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string, "
              "text string, ts timestamp") \
        .coalesce(1).write.parquet(path)
    return rows


def test_fused_text_len_never_crosses_arrow(spark, tmp_path):
    """The fused kernel's text_len is length(text) computed in Catalyst:
    the mapInArrow input has no text column, and the digests are the
    bytes the engine builds from Python's code-point lengths."""
    import re

    from t_digest_spark.sources.tables import turn_digests_clustered

    path = str(tmp_path / "utf8.parquet")
    rows = _utf8_transcripts(spark, path)
    fused = turn_digests_clustered(spark.read.parquet(path),
                                   ("latency_s", "text_len"), ("role",))
    plan = fused._jdf.queryExecution().executedPlan().toString()
    arrow_in = [ln for ln in plan.splitlines() if "MapInArrow" in ln]
    assert arrow_in
    assert not any(re.search(r"\btext#", ln) for ln in arrow_in), arrow_in

    got = {r.role: (r.rows, bytes(r.digest)) for r in
           fused.where(F.col("metric") == "text_len").collect()}
    want = tdigest_aggregate(
        spark.createDataFrame([(r[2], float(len(r[4]))) for r in rows],
                              "role string, text_len double").coalesce(1),
        "text_len", ["role"])
    assert got == {r.role: (r.rows, bytes(r.digest))
                   for r in want.collect()}


def test_turn_metrics_clustered_rejects_unsorted(spark):
    from t_digest_spark.sources.tables import turn_metrics_clustered

    rows = [("c1", 0, "user", "a", None, "2026-01-01 00:00:00"),
            ("c1", 2, "user", "b", None, "2026-01-01 00:00:02"),
            ("c1", 1, "user", "c", None, "2026-01-01 00:00:01")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_str string") \
        .withColumn("ts", F.to_timestamp("ts_str")).drop("ts_str") \
        .coalesce(1)
    with pytest.raises(Exception, match="not sorted"):
        turn_metrics_clustered(df).collect()


def test_turn_metrics_clustered_rejects_split_conversation(spark):
    from t_digest_spark.sources.tables import turn_metrics_clustered

    rows = [("c1", 3, "user", "a", None, "2026-01-01 00:00:03"),
            ("c1", 4, "user", "b", None, "2026-01-01 00:00:04")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_str string") \
        .withColumn("ts", F.to_timestamp("ts_str")).drop("ts_str") \
        .coalesce(1)
    with pytest.raises(Exception, match="mid-conversation"):
        turn_metrics_clustered(df).collect()


def test_turn_metrics_clustered_digest_equality(spark, tmp_path):
    # end-to-end: digests built from the clustered path match digests
    # built from the window path, group by group
    from t_digest_spark.sources.tables import turn_metrics_clustered

    path = str(tmp_path / "transcripts2.parquet")
    synth_transcripts(spark, n_convs=300, seed=5, partitions=4,
                      with_text=False).write.parquet(path)
    t = spark.read.parquet(path)

    def digests(m):
        agg = tdigest_aggregate(
            m.where(F.col("latency_s").isNotNull()), "latency_s", ["role"])
        return {r.role: TDigest.from_bytes(bytes(r.digest)) for r in
                agg.collect()}

    da = digests(turn_metrics(t))
    db = digests(turn_metrics_clustered(t))
    assert set(da) == set(db)
    for role in da:
        assert da[role].size == db[role].size
        assert da[role].min == db[role].min
        assert da[role].max == db[role].max
        # the input rows are bit-identical (asserted exactly above);
        # residual quantile differences are merge-order effects of the
        # different partitionings, bounded by the digest's own accuracy
        for q in (0.1, 0.5, 0.9, 0.99):
            assert da[role].cdf(db[role].quantile(q)) == pytest.approx(
                q, abs=0.02)
            assert db[role].cdf(da[role].quantile(q)) == pytest.approx(
                q, abs=0.02)


def test_latency_digests_clustered_fused_equals_two_pass(spark, tmp_path):
    # the fused one-pass kernel (lag + partial digests in one
    # mapInArrow) must produce byte-identical digests to the two-pass
    # clustered path over the same scan partitioning
    from t_digest_spark.sources.tables import (
        latency_digests_clustered, turn_metrics_clustered,
    )

    path = str(tmp_path / "transcripts3.parquet")
    synth_transcripts(spark, n_convs=300, seed=8, partitions=4,
                      with_text=False).write.parquet(path)
    t = spark.read.parquet(path)
    fused = {(r.role, r.ts_hour): (bytes(r.digest), r.rows)
             for r in latency_digests_clustered(t, ["role", "ts_hour"])
             .collect()}
    m = turn_metrics_clustered(t).where(F.col("latency_s").isNotNull())
    two = {(r.role, r.ts_hour): (bytes(r.digest), r.rows)
           for r in tdigest_aggregate(m, "latency_s", ["role", "ts_hour"])
           .collect()}
    assert set(fused) == set(two)
    for k in two:
        assert fused[k][1] == two[k][1], k          # exact row counts
        da = TDigest.from_bytes(fused[k][0])
        db = TDigest.from_bytes(two[k][0])
        assert da.size == db.size
        assert da.min == db.min and da.max == db.max
        if da.size >= 100:  # midpoint-rule steps dominate tiny groups
            for q in (0.1, 0.5, 0.9, 0.99):
                assert da.cdf(db.quantile(q)) == pytest.approx(q, abs=0.02)


def test_turn_digests_clustered_multimetric(spark, tmp_path):
    # one scan, one Python pass, two digest families: latency digests
    # match the single-metric fused path; text_len digests match
    # tdigest_aggregate over the window-derived metrics
    from t_digest_spark.sources.tables import (
        latency_digests_clustered, turn_digests_clustered,
        turn_metrics_clustered,
    )

    path = str(tmp_path / "transcripts4.parquet")
    synth_transcripts(spark, n_convs=300, seed=4, partitions=4) \
        .write.parquet(path)
    t = spark.read.parquet(path)
    multi = turn_digests_clustered(
        t, ("latency_s", "text_len"), ["role"])
    rows = {(r.metric, r.role): r for r in multi.collect()}
    lat_single = {r.role: r for r in
                  latency_digests_clustered(t, ["role"]).collect()}
    m = turn_metrics_clustered(t)
    tl_ref = {r.role: r for r in tdigest_aggregate(
        m, "text_len", ["role"]).collect()}
    roles = {k[1] for k in rows}
    assert roles == set(lat_single) == set(tl_ref)
    for role in roles:
        a = TDigest.from_bytes(bytes(rows[("latency_s", role)].digest))
        b = TDigest.from_bytes(bytes(lat_single[role].digest))
        assert a.size == b.size and a.min == b.min and a.max == b.max
        c = TDigest.from_bytes(bytes(rows[("text_len", role)].digest))
        d = TDigest.from_bytes(bytes(tl_ref[role].digest))
        assert c.size == d.size and c.min == d.min and c.max == d.max
        assert rows[("text_len", role)].rows == tl_ref[role].rows


def _family_aggs():
    """Every sketch family through its public aggregate, as
    ``(aggregate(df, group_cols), output field, rows-in-blob(bytes))``.
    Every row of the inputs below is a distinct value, so HLL's
    estimate is the row count too."""
    from t_digest_spark.functions.histogram import (
        histogram_aggregate, histogram_from_bytes,
    )
    from t_digest_spark.functions.kll import KLLSketch, kll_aggregate
    from t_digest_spark.functions.sketches import sketch_from_bytes
    from t_digest_spark.operators.sketch_agg import sketch_aggregate

    def sketch(kind):
        return lambda df, g: sketch_aggregate(df, "v", kind, g)

    return {
        "digest": (lambda df, g: tdigest_aggregate(df, "v", g), "digest",
                   lambda b: int(TDigest.from_bytes(b).size)),
        "kll": (lambda df, g: kll_aggregate(df, "v", g), "kll",
                lambda b: KLLSketch.from_bytes(b).n),
        "histogram": (lambda df, g: histogram_aggregate(df, "v", g),
                      "histogram",
                      lambda b: int(histogram_from_bytes(b).counts.sum())),
        "hll": (sketch("hll"), "sketch",
                lambda b: round(sketch_from_bytes(b).estimate())),
        "cm": (sketch("cm"), "sketch", lambda b: sketch_from_bytes(b).n),
        "bloom": (sketch("bloom"), "sketch",
                  lambda b: sketch_from_bytes(b).n_added),
    }


FAMILIES = ["digest", "kll", "histogram", "hll", "cm", "bloom"]


@pytest.mark.parametrize("family", FAMILIES)
def test_nan_and_negzero_group_keys(spark, family):
    """Group-key canonicalization (operators/aggregate._canonical and
    its shared ``_NAN``): NaN keys form ONE group across Arrow
    batches/partitions (Spark groupBy semantics; a naive Python dict
    would split them because hash(nan) is id-based), and -0.0 groups
    with 0.0 under the key 0.0 — for every sketch family, not only the
    digest."""
    agg, field, size = _family_aggs()[family]
    rows = [(float("nan"), float(i)) for i in range(10)]
    rows += [(0.0, 100.0), (-0.0, 200.0)]
    df = spark.createDataFrame(rows, "g double, v double").repartition(4)
    out = agg(df, ["g"]).collect()
    assert len(out) == 2
    assert all(r.g is not None for r in out)
    by_nan = {(r.g != r.g): r for r in out}
    assert by_nan[True].rows == 10
    assert by_nan[False].rows == 2
    zero = by_nan[False]
    assert str(zero.g) == "0.0"  # not -0.0
    for r in out:
        assert size(bytes(r[field])) == r.rows
    if family == "digest":
        d = TDigest.from_bytes(bytes(zero.digest))
        assert (d.min, d.max) == (100.0, 200.0)  # both zeros' values merged


@pytest.mark.parametrize("family", FAMILIES)
def test_array_typed_group_keys(spark, family):
    """Array-typed group columns: Arrow has no dictionary_encode kernel
    for nested types, so both stages take the Python-encoding fallback,
    which must treat the (unhashable) lists as tuples.  Result must
    match Spark groupBy semantics."""
    agg, field, size = _family_aggs()[family]
    rows = [([1, 2], float(i)) for i in range(6)]
    rows += [([3], 7.0), ([3], 9.0), (None, 5.0)]
    df = spark.createDataFrame(rows, "g array<bigint>, v double") \
        .repartition(3)
    out = agg(df, ["g"]).collect()
    got = {tuple(r.g) if r.g is not None else None: r.rows for r in out}
    assert got == {(1, 2): 6, (3,): 2, None: 1}
    for r in out:
        assert size(bytes(r[field])) == r.rows


@pytest.mark.parametrize("family", FAMILIES)
def test_empty_global_input_one_row(spark, family):
    """An ungrouped aggregate over no rows is one row holding an empty
    sketch, like SQL's global aggregate over an empty table."""
    agg, field, size = _family_aggs()[family]
    df = spark.createDataFrame([], "g double, v double").repartition(2)
    out = agg(df, []).collect()
    assert len(out) == 1
    assert out[0].rows == 0
    assert size(bytes(out[0][field])) == 0


@pytest.mark.parametrize("family", FAMILIES)
def test_grouped_plan_shape(spark, family):
    """Every family's grouped aggregate runs as one Arrow kernel on each
    side of a single hash exchange: no per-group pandas merge."""
    agg, _, _ = _family_aggs()[family]
    df = spark.range(0, 2000).select(
        (F.col("id") % 7).alias("g"), F.col("id").cast("double").alias("v"))
    out = agg(df.repartition(3), ["g"])
    assert len(out.collect()) == 7
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # the plan that ran
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("MapInArrow") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    head, tail = plan.split("Exchange hashpartitioning")
    assert "MapInArrow" in head and "MapInArrow" in tail, plan


def test_dictionary_typed_float_group_keys():
    """Dictionary-typed float keys are canonical like plain doubles:
    NaN keys form one group and -0.0 folds into 0.0 across batches."""
    import pyarrow as pa

    from t_digest_spark.operators.aggregate import (
        SketchAccumulator, digest_codec,
    )

    acc = SketchAccumulator(digest_codec(100.0, "K_2"), ["g"])
    for keys in ([float("nan"), -0.0, 1.0], [float("nan"), 0.0, 1.0]):
        g = pa.array(keys).dictionary_encode()
        assert pa.types.is_dictionary(g.type)
        acc.update(pa.RecordBatch.from_arrays(
            [g, pa.array([1.0, 2.0, 3.0])], names=["g", "v"]))
    out = acc.finish().to_pydict()
    assert out["rows"] == [2, 2, 2], out
    g = out["g"]
    assert g[0] != g[0] and [str(x) for x in g[1:]] == ["0.0", "1.0"], out


# non-default NaN payloads: quiet with a payload bit, negative quiet,
# and signalling
NAN_PAYLOADS = (0x7ff8000000000001, 0xfff8000000000000, 0x7ff0000000000001)


def _nan_bits(col) -> set:
    """The distinct bit patterns of the NaNs in a float64 column."""
    v = np.asarray(col.to_numpy(zero_copy_only=False), np.float64)
    return set(v[np.isnan(v)].view(np.uint64).tolist())


def _payload_keys(bits):
    """A float64 Arrow column holding exactly these bit patterns."""
    import pyarrow as pa

    return pa.array(np.array(bits, np.uint64).view(np.float64))


def test_nan_payloads_one_group_across_batches():
    """Every NaN payload is one key in both stages: across two Arrow
    batches fed to one SketchAccumulator, and across two batches of raw
    partials fed to the stage-2 merge kernel."""
    import pyarrow as pa

    from t_digest_spark.operators.aggregate import (
        SketchAccumulator, _partition_merge_gen, digest_codec,
    )

    one = 0x3ff0000000000000  # 1.0
    batches = [_payload_keys([NAN_PAYLOADS[0], one, NAN_PAYLOADS[1]]),
               _payload_keys([NAN_PAYLOADS[2], one, 0x7ff8000000000000])]
    assert len(_nan_bits(pa.concat_arrays(batches))) >= 3
    codec = digest_codec(100.0, "K_2")
    acc = SketchAccumulator(codec, ["g"])
    for g in batches:
        acc.update(pa.RecordBatch.from_arrays(
            [g, pa.array([1.0, 2.0, 3.0])], names=["g", "v"]))
    out = acc.finish().to_pydict()
    nan_rows = [r for g, r in zip(out["g"], out["rows"]) if g != g]
    assert nan_rows == [4] and sorted(out["rows"]) == [2, 4], out

    blob = bytes(out["digest"][0])
    parts = [pa.RecordBatch.from_arrays(
        [g, pa.array([blob] * 3, pa.binary()), pa.array([1, 1, 1])],
        names=["g", "digest", "rows"]) for g in batches]
    (merged,) = _partition_merge_gen(codec, ["g"])(iter(parts))
    merged = merged.to_pydict()
    nan_rows = [r for g, r in zip(merged["g"], merged["rows"]) if g != g]
    assert nan_rows == [4] and sorted(merged["rows"]) == [2, 4], merged


@pytest.mark.parametrize("family", FAMILIES)
def test_nan_payloads_one_group_across_partitions(spark, family, tmp_path):
    """NaN keys with non-default payloads, written by pyarrow to two
    Parquet files (so the payloads reach the Arrow kernels), come out as
    ONE NaN group through every family's two-stage aggregate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    agg, field, size = _family_aggs()[family]
    zero, one = 0x0000000000000000, 0x3ff0000000000000
    files = [[NAN_PAYLOADS[0], NAN_PAYLOADS[0], one, zero],
             [NAN_PAYLOADS[1], NAN_PAYLOADS[2], one, 0x8000000000000000]]
    bits = set()
    n = 0
    for i, keys in enumerate(files):
        path = str(tmp_path / f"part-{i}.parquet")
        pq.write_table(pa.table({
            "g": _payload_keys(keys),
            "v": pa.array(np.arange(n, n + len(keys), dtype=np.float64))}),
            path, use_dictionary=False)
        n += len(keys)
        bits |= _nan_bits(pq.read_table(path).column("g"))
    assert len(bits) >= 3
    df = spark.read.parquet(str(tmp_path))
    assert df.rdd.getNumPartitions() == 2
    out = agg(df, ["g"]).collect()
    assert sorted((r.g != r.g, r.rows) for r in out) == \
        [(False, 2), (False, 2), (True, 4)]
    assert all(str(r.g) != "-0.0" for r in out)
    for r in out:
        assert size(bytes(r[field])) == r.rows


def _key_str(v) -> str:
    """A group key as a comparable string (NaN equals NaN, -0.0 shows)."""
    if isinstance(v, (list, tuple)):  # arrays, and structs as Rows
        return "(" + ", ".join(_key_str(x) for x in v) + ")"
    return repr(v)


_NAN = float("nan")
_TYPED_KEYS = {
    "array<double>": [[0.0, 1.0], [-0.0, 1.0], [_NAN, 2.0], [-_NAN, 2.0],
                      [-0.0], [0.0], [], None],
    "struct<a double, b double, c int>": [
        (0.0, _NAN, 1), (-0.0, -_NAN, 1), (-0.0, 1.0, None),
        (0.0, 1.0, None), (1.5, 0.0, 2), None],
    "float": [0.0, -0.0, _NAN, -_NAN, 1.5, 1.5, None],
    "decimal(10,2)": [Decimal("0.00"), Decimal("1.25"), Decimal("1.25"),
                      Decimal("-3.10"), None],
}


@pytest.mark.parametrize("key_type", list(_TYPED_KEYS))
@pytest.mark.parametrize("family", FAMILIES)
def test_typed_group_keys_match_spark_groupby(spark, family, key_type):
    """Nested keys with -0.0 and NaN children, float keys and decimal
    keys group exactly as Spark's own groupBy().count() does, keep their
    input type, and never surface -0.0 as an output key."""
    agg, field, size = _family_aggs()[family]
    keys = _TYPED_KEYS[key_type]
    rows = [(k, float(i)) for i, k in enumerate(keys * 2)]
    df = spark.createDataFrame(rows, f"g {key_type}, v double") \
        .repartition(3)
    res = agg(df, ["g"])
    assert res.schema["g"].dataType == df.schema["g"].dataType
    out = res.collect()
    want = sorted((_key_str(r.g), r["count"])
                  for r in df.groupBy("g").count().collect())
    assert sorted((_key_str(r.g), r.rows) for r in out) == want
    assert not any("-0.0" in _key_str(r.g) for r in out)
    for r in out:
        assert size(bytes(r[field])) == r.rows


def test_singleton_blob_bit_identical():
    """core.try_singleton_blob is byte-for-byte the full path's partial
    blob whenever it fires, and declines (None) exactly when the merge
    pass would fuse something — swept across sizes spanning the
    eligibility threshold, plus duplicate/negative/inf values."""
    from t_digest_spark.core import try_singleton_blob
    from t_digest_spark.operators.aggregate import DEFAULT_BUFFER

    rng = np.random.default_rng(3)
    fired = declined = 0
    sizes = list(range(1, 40)) + [100, 200, 400, 800, 1600, 3200, 6400]
    for n in sizes:
        for vals in (rng.gamma(2.0, 1.0, size=n),
                     np.repeat(rng.normal(size=max(1, n // 4 + 1)),
                               4)[:n].astype(np.float64)):
            blob = try_singleton_blob(vals, 100.0, DEFAULT_BUFFER, "K_2")
            d = TDigest(100.0, buffer_size=DEFAULT_BUFFER, scale="K_2")
            d.add_batch(vals)
            full = d.to_bytes(compress=False)
            if blob is None:
                declined += 1
                # declined ⇒ the real path must actually have merged
                # something (fewer centroids than samples) — the
                # predicate may only be conservative NEAR the boundary,
                # not wildly so; allow equality there
                continue
            fired += 1
            assert blob == full, f"fast path diverged at n={n}"
    assert fired > 20 and declined > 0


def test_singleton_blob_threshold_behavior():
    """The fast path serves the flagship shape (~tens-to-hundreds of
    rows per key) and declines huge keys rather than shipping raw
    samples as a giant singleton blob."""
    from t_digest_spark.core import try_singleton_blob
    from t_digest_spark.operators.aggregate import DEFAULT_BUFFER

    rng = np.random.default_rng(4)
    assert try_singleton_blob(rng.normal(size=110), 100.0,
                              DEFAULT_BUFFER, "K_2") is not None
    assert try_singleton_blob(rng.normal(size=100_000), 100.0,
                              DEFAULT_BUFFER, "K_2") is None


def test_singleton_blob_memo_bounded():
    """The per-n eligibility memo only holds n below the buffer size:
    larger n is declined at the first check, so a sweep of large group
    sizes must not grow it."""
    from t_digest_spark import core

    key = (37.0, -1, "K_2")
    core._SINGLETON_PROBES.pop(key, None)
    probe = core.TDigest(37.0, scale="K_2")
    buf = probe._buffer_size
    for n in list(range(1, 64)) + list(range(buf - 2, buf + 3000)):
        blob = core.try_singleton_blob(np.arange(float(n)), 37.0, -1, "K_2")
        assert blob is None or n < buf
    assert len(core._SINGLETON_PROBES[key][1]) <= buf
    core._SINGLETON_PROBES.pop(key, None)


def test_singleton_blob_mixed_signed_zeros():
    """0.0 and -0.0 tie but differ in their bytes: the fast path, the
    unit-weight full path and the weighted (stable argsort) path must
    all keep them in input order and agree on min/max."""
    from t_digest_spark.core import try_singleton_blob
    from t_digest_spark.operators.aggregate import DEFAULT_BUFFER

    rng = np.random.default_rng(0)
    pool = np.array([0.0, -0.0, 1.0, -1.0])
    cases = [rng.choice(pool, size=19)]
    cases += [rng.choice(pool, size=int(rng.integers(17, 40)))
              for _ in range(500)]
    for vals in cases:
        blob = try_singleton_blob(vals, 100.0, DEFAULT_BUFFER, "K_2")
        d = TDigest(100.0, buffer_size=DEFAULT_BUFFER, scale="K_2")
        d.add_batch(vals)
        w = TDigest(100.0, buffer_size=DEFAULT_BUFFER, scale="K_2")
        w.add_batch(vals, np.ones(vals.size))
        assert blob is not None
        assert blob == d.to_bytes(compress=False), vals
        assert blob == w.to_bytes(compress=False), vals


@pytest.mark.parametrize("cards", [(9,), (129, 3), (300, 300),
                                   (2000, 2000, 2000),
                                   (70_000, 70_000, 70_000, 70_000)])
def test_groups_narrow_codes_match_lexicographic_order(cards):
    """_groups sorts on the narrowest code dtype (uint16 radix sort,
    uint32, int64, or renumbered codes past 2^62) and still returns
    exactly the stable lexicographic order over the key codes — the
    order of the plain int64 combined code — with nulls, and the group
    bounds and key tuples of that order, for code spaces below 2^16
    and past 2^16, 2^32 and int64."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from t_digest_spark.operators.aggregate import _groups

    rng = np.random.default_rng(sum(cards))
    n = 120_000
    cols = []
    for i, card in enumerate(cards):
        v = rng.integers(0, card, size=n)
        mask = rng.random(n) < 0.01
        cols.append(pa.array(v if i % 2 == 0 else v.astype(str).astype(object),
                             mask=mask))
    order, bounds, keys = _groups(cols, n)

    encs = [pc.dictionary_encode(c) for c in cols]
    codes = [pc.fill_null(e.indices, -1).to_numpy(zero_copy_only=False)
             .astype(np.int64) + 1 for e in encs]
    want = np.lexsort(codes[::-1])
    assert np.array_equal(order, want)
    combo = np.stack(codes, axis=1)[want]
    starts = np.flatnonzero(np.any(combo[1:] != combo[:-1], axis=1)) + 1
    assert np.array_equal(bounds, np.concatenate(([0], starts, [n])))
    dicts = [e.dictionary.to_pylist() for e in encs]
    first = want[bounds[:-1]]
    assert keys(first) == [
        tuple(dicts[j][codes[j][r] - 1] if codes[j][r] else None
              for j in range(len(cols))) for r in first]


def test_groups_of_no_rows_and_no_keys():
    """With no key columns every row is one group, even when there is
    none; with key columns and no rows there is no group."""
    import pyarrow as pa

    from t_digest_spark.operators.aggregate import _groups

    order, bounds, keys = _groups([], 5)
    assert order.tolist() == [0, 1, 2, 3, 4] and bounds.tolist() == [0, 5]
    assert keys(order[bounds[:-1]]) == [()]
    order, bounds, keys = _groups([], 0)
    assert order.size == 0 and bounds.tolist() == [0, 0]
    order, bounds, keys = _groups([pa.array([], pa.string())], 0)
    assert order.size == 0 and bounds.tolist() == [0]
    assert keys(order[bounds[:-1]]) == []


def _batch(keys: dict, v, w=None):
    import pyarrow as pa

    cols = {**{k: pa.array(c) for k, c in keys.items()},
            "v": pa.array(v, pa.float64())}
    if w is not None:
        cols["w"] = pa.array(w, pa.float64())
    return pa.RecordBatch.from_pydict(cols)


def _digest_of(v, w=None) -> bytes:
    from t_digest_spark.operators.aggregate import DEFAULT_BUFFER

    d = TDigest(100.0, buffer_size=DEFAULT_BUFFER, scale="K_2")
    d.add_batch(np.asarray(v, np.float64),
                None if w is None else np.asarray(w, np.float64))
    return d.to_bytes(compress=False)


@pytest.mark.parametrize("keyed", [True, False], ids=["keyed", "global"])
def test_zero_row_batch_changes_nothing(keyed):
    """A zero-row batch fed to ``SketchAccumulator`` adds nothing: alone
    it gives no partial, and between non-empty batches the partials are
    unchanged.  (A zero-row keyed batch used to raise IndexError.)"""
    import pyarrow as pa

    from t_digest_spark.operators.aggregate import (
        SketchAccumulator, digest_codec,
    )

    rng = np.random.default_rng(3)
    names = ["g"] if keyed else []

    def batch(n):
        keys = {"g": rng.choice(["a", "b", "c"], n).tolist()} \
            if keyed else {}
        return _batch(keys, rng.normal(size=n))

    empty = _batch({"g": pa.array([], pa.string())} if keyed else {}, [])
    full = [batch(300), batch(200)]
    codec = digest_codec(100.0, "K_2")

    def run(batches):
        acc = SketchAccumulator(codec, names)
        for b in batches:
            acc.update(b)
        return acc.finish()

    assert run([empty]) is None
    assert run([empty, full[0], empty, full[1], empty]).equals(run(full))


@pytest.mark.parametrize("keyed", [True, False], ids=["keyed", "global"])
def test_zero_row_partials_merge_like_none(keyed):
    """Stage 2 skips zero-row partial batches: among non-empty ones they
    change no output row; alone, a keyed partition emits nothing and a
    global one emits one empty sketch."""
    import pyarrow as pa

    from t_digest_spark.operators.aggregate import (
        _partition_merge_gen, digest_codec,
    )

    names = ["g"] if keyed else []
    blobs = [_digest_of(np.arange(i, i + 40.0)) for i in range(3)]

    def part(keys, bl):
        cols = ([pa.array(keys, pa.string())] if keyed else []) + [
            pa.array(bl, pa.binary()), pa.array([40] * len(bl), pa.int64())]
        return pa.RecordBatch.from_arrays(cols, names=names + ["digest",
                                                               "rows"])

    merge = _partition_merge_gen(digest_codec(100.0, "K_2"), names)
    full = [part(["a", "b"], blobs[:2]), part(["a"], blobs[2:])]
    empty = part([], [])
    (want,) = merge(iter(full))
    (got,) = merge(iter([empty, full[0], empty, full[1]]))
    assert got.equals(want)
    out = list(merge(iter([empty])))
    if keyed:
        assert out == []
    else:
        assert [r["rows"] for r in out[0].to_pylist()] == [0]


@pytest.mark.parametrize("weighted", [False, True],
                         ids=["values", "weights"])
def test_filter_after_grouping(weighted):
    """Rows are grouped first and filtered after, in one batch: a key
    whose every row is dropped (value NaN or NULL; weight 0, negative,
    NaN or NULL) emits no row, and a key with some dropped rows counts
    and digests only its kept ones."""
    from t_digest_spark.operators.aggregate import (
        SketchAccumulator, digest_codec,
    )

    nan = float("nan")
    rng = np.random.default_rng(11)
    g, v, w = [], [], []
    for key, n in (("gone", 30), ("part", 200), ("full", 60)):
        vals = rng.normal(size=n).tolist()
        wts = rng.integers(1, 5, n).astype(float).tolist()
        if key == "gone":
            if weighted:
                wts = [(0.0, -1.0, nan, None)[i % 4] for i in range(n)]
            else:
                vals = [(nan, None)[i % 2] for i in range(n)]
        elif key == "part":
            for i in range(0, n, 3):
                vals[i] = (nan, None)[i % 2]
            if weighted:
                for i in range(1, n, 5):
                    wts[i] = (0.0, -2.0, nan, None)[i % 4]
        g += [key] * n
        v += vals
        w += wts
    # interleave the keys so that every group is spread over the batch
    perm = rng.permutation(len(g))
    g, v, w = ([x[i] for i in perm] for x in (g, v, w))
    acc = SketchAccumulator(digest_codec(100.0, "K_2"), ["g"], weighted)
    acc.update(_batch({"g": g}, v, w if weighted else None))
    out = {r["g"]: r for r in acc.finish().to_pylist()}
    assert sorted(out) == ["full", "part"]
    for key, row in out.items():
        kept = [(x, y) for k, x, y in zip(g, v, w) if k == key
                and x is not None and x == x
                and (not weighted or (y is not None and y > 0))]
        assert row["rows"] == len(kept)
        xs = [x for x, _ in kept]
        assert row["digest"] == _digest_of(
            xs, [y for _, y in kept] if weighted else None), key
    assert out["part"]["rows"] < 200


def test_global_group_updates_once_per_batch():
    """The global group feeds its sketch every batch's kept values in
    one update, as a direct per-batch update does: a KLL sketch
    compacts on every update, so parking the global group's batches
    together would change its bytes."""
    from t_digest_spark.functions.kll import KLLSketch
    from t_digest_spark.operators.aggregate import (
        SketchAccumulator, object_codec,
    )

    rng = np.random.default_rng(5)
    codec = object_codec("kll", lambda: KLLSketch(50, seed=9),
                         lambda sk, v, w: sk.update(v),
                         KLLSketch.from_bytes)
    acc = SketchAccumulator(codec, [])
    want = KLLSketch(50, seed=9)
    for n in (700, 500, 900):
        v = rng.normal(size=n)
        v[rng.random(n) < 0.1] = np.nan
        acc.update(_batch({}, v))
        want.update(v[~np.isnan(v)])
    (row,) = acc.finish().to_pylist()
    assert row["rows"] == want.n
    assert row["kll"] == want.to_bytes()


def test_shared_grouping_matches_own_grouping():
    """Two accumulators fed one ``_batch_groups`` result (the fused
    transcript kernel's shape: NaN latencies at conversation starts,
    text lengths everywhere) give the same partials as two that group
    each batch on their own."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from t_digest_spark.operators.aggregate import (
        SketchAccumulator, _batch_groups, digest_codec,
    )

    rng = np.random.default_rng(7)
    codec = digest_codec(100.0, "K_2")
    names = ["role", "ts_hour"]
    shared = [SketchAccumulator(codec, names) for _ in range(2)]
    own = [SketchAccumulator(codec, names) for _ in range(2)]
    for n in (3000, 800, 5000):
        role = pa.array(rng.choice(["user", "assistant", "tool"], n))
        ts = pa.array((1_700_000_000 + rng.integers(0, 20 * 3600, n))
                      * 1_000_000, pa.timestamp("us", tz="UTC"))
        keys = [role, pc.floor_temporal(ts, unit="hour")]
        lat = rng.exponential(size=n)
        lat[rng.random(n) < 0.1] = np.nan  # conversation starts
        text = rng.integers(1, 2000, n).astype(np.float64)
        batches = [pa.RecordBatch.from_arrays(
            keys + [pa.array(x)], names=names + ["__v"]) for x in (lat, text)]
        grouped = _batch_groups(keys, n)
        for acc, b in zip(shared, batches):
            acc.update(b, grouped)
        for acc, b in zip(own, batches):
            acc.update(b)
    for a, b in zip(shared, own):
        assert a.finish().equals(b.finish())
