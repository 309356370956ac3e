"""The two workloads: each operation the timed phase runs, the noop
phases the traced run uses to attribute its time to library layers, and
the exact checks every operation's output must pass.

An operation returns its collected rows; its check compares them with
the generator's oracle and returns an ``Outcome``.  Phases are listed
innermost first: each one's work is contained in the next, and the
full operation contains the last one.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import functions as F

from t_digest_spark.functions.histogram import (
    histogram_aggregate, histogram_from_bytes,
)
from t_digest_spark.functions.kll import kll_aggregate, kll_quantiles_of
from t_digest_spark.operators.aggregate import (
    merge_digests_df, partial_digests, tdigest_aggregate,
)
from t_digest_spark.operators.extract import (
    cdfs_of, quantiles_of, trimmed_mean_of,
)
from t_digest_spark.operators.sketch_agg import (
    cm_estimates, hashed, hll_estimate, sketch_aggregate,
)
from t_digest_spark.plans.pipeline import DigestCheckpointPipeline
from t_digest_spark.sources.tables import turn_digests_clustered

from . import gen

QS = [0.001, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999]
TAIL = [0, len(QS) - 1]          # indexes of q = 0.001 and 0.999
DELTA = 100                      # compression of every digest here
# Merged-digest rank error bound of AccuracyTest.java:131-151 (the
# bound tests/test_merge.py and the declared queries' _rank_check use).
RANK_TOL = 0.015
BIG_N = 1000                     # rank checks only where n >= BIG_N
# Exact order statistics are checked where n <= EXACT_N.  At delta=100
# the final compress (to_bytes) keeps every unit-weight sample its own
# centroid only up to n = 39, so groups up to delta are not all exact.
EXACT_N = 32
KLL_K = 200
KLL_TOL = 3.0 / KLL_K            # KLL normalized rank error bound
HLL_SE = 1.04 / math.sqrt(1 << 14)
TRIM = (0.1, 0.9)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Outcome:
    problems: list = field(default_factory=list)
    # mean mid-point rank error over the checked (group, q) pairs of
    # tie-free t-digest groups with n >= BIG_N; None where not reported
    rank_err: float | None = None
    tail_err: float | None = None  # the same for q in {0.001, 0.999}
    max_err: float | None = None   # the largest of those errors


@dataclass
class Op:
    name: str
    rows: int                    # input rows one operation processes
    run: Callable[[], dict]
    check: Callable[[dict], Outcome]
    phases: list                 # [(layer, callable running a noop)]


def midrank(s: np.ndarray, vals) -> np.ndarray:
    """Mid-point rank of each value in sorted s (Dist.java:31-39)."""
    vals = np.asarray(vals, dtype=np.float64)
    lo = np.searchsorted(s, vals, "left")
    hi = np.searchsorted(s, vals, "right")
    return (lo + hi) / (2.0 * s.size)


def bracket_err(s: np.ndarray, vals, qs) -> np.ndarray:
    """Distance from each q to the rank interval of the data values
    bracketing its estimate: [count(< a), count(<= b)] / n for the
    largest value a <= estimate and the smallest b >= estimate.  The
    tie-aware form of the mid-point rank test: on tied (integer) data
    an interpolated estimate between two values has a mid-point rank
    off by up to half a value's mass even when it is right."""
    vals = np.asarray(vals, dtype=np.float64)
    n = s.size
    i_le = np.searchsorted(s, vals, "right")   # count(<= v)
    i_ge = np.searchsorted(s, vals, "left")    # index of smallest >= v
    a = s[np.maximum(i_le - 1, 0)]
    b = s[np.minimum(i_ge, n - 1)]
    lo = np.where(i_le > 0, np.searchsorted(s, a, "left"), 0) / n
    hi = np.where(i_ge < n, np.searchsorted(s, b, "right"), n) / n
    qs = np.asarray(qs)
    return np.maximum(0.0, np.maximum(lo - qs, qs - hi))


def check_groups(got: dict, groups: dict) -> list:
    """Group set and row counts exact."""
    problems = []
    if set(got) != set(groups):
        problems.append(f"group set: {len(set(got) - set(groups))} extra, "
                        f"{len(set(groups) - set(got))} missing")
    for key, s in groups.items():
        if key in got and got[key][0] != s.size:
            problems.append(f"{key}: rows {got[key][0]} != {s.size}")
    return problems


def check_quantiles(got: dict, groups: dict, tol: float = RANK_TOL,
                    exact_small: bool = True, report: bool = True) -> Outcome:
    """``got``: {key: (rows, quantiles at QS, ...)}.  Rank error within
    tol where n >= BIG_N; exact order statistics where n <= EXACT_N.
    The reported errors are mean mid-point rank errors over tie-free
    groups; groups with tied values are checked with ``bracket_err``."""
    out = Outcome(check_groups(got, groups))
    qs = np.asarray(QS)
    errs = []
    for key, s in groups.items():
        if key not in got:
            continue
        vals = np.asarray(got[key][1], dtype=np.float64)
        n = s.size
        if exact_small and n <= EXACT_N:
            want = s[np.minimum(np.floor(qs * n).astype(int), n - 1)]
            if not np.array_equal(vals, want):
                out.problems.append(f"{key}: n={n} not exact")
        if n >= BIG_N:
            if np.all(s[1:] > s[:-1]):
                err = np.abs(midrank(s, vals) - qs)
                errs.append(err)
            else:
                err = bracket_err(s, vals, qs)
            if err.max() > tol:
                out.problems.append(f"{key}: rank error {err.max():.4g}")
    if report and errs:
        errs = np.array(errs)
        out.rank_err = float(errs.mean())
        out.tail_err = float(errs[:, TAIL].mean())
        out.max_err = float(errs.max())
    return out


def _quantile_rows(df, keys: list) -> dict:
    rows = df.select(*keys, "rows",
                     quantiles_of("digest", QS).alias("q")).collect()
    return {tuple(r[k] for k in keys): (r["rows"], r["q"]) for r in rows}


class Workload:
    """A workload: ``ops``; ``slices``, per-key value arrays for the core
    timings; ``digests()``, blobs of its final digests; and
    ``partials_per_key_max()``."""
    name = ""
    ops: list
    slices: list

    def prepare(self) -> dict:
        """Library work that prepares stored state; counted in set-up.
        Returns per-layer timings it measured."""
        return {}


def _partitions_per_key(df, keys: list) -> int:
    """Most scan partitions any one key occurs in: the number of
    stage-1 partials the merge of that key receives."""
    per_key = (df.select(F.spark_partition_id().alias("__p"), *keys)
               .distinct().groupBy(*keys).count())
    return int(per_key.agg(F.max("count")).collect()[0][0])


class RawIngest(Workload):
    """Every sketch straight off one raw scan: a global and an 8-key
    grouped t-digest, then KLL, histogram, HLL and count-min each
    grouped by a 128-value key."""
    name = "raw_ingest"

    def __init__(self, spark, data_dir, oracle, work_dir):
        self.df = df = spark.read.parquet(data_dir)
        groups = {(k,): s for k, s in oracle["groups"].items()}
        whole = {(): oracle["global"]}
        self.slices = oracle["slices"]
        rows = oracle["rows"]
        self.ops = [
            Op("global", rows,
               lambda: _quantile_rows(tdigest_aggregate(df, "v"), []),
               lambda got: check_quantiles(got, whole),
               [("scan", lambda: noop(df.select("v"))),
                ("partial", lambda: noop(partial_digests(df, "v"))),
                ("agg", lambda: noop(tdigest_aggregate(df, "v")))]),
            Op("grouped", rows,
               lambda: _quantile_rows(tdigest_aggregate(df, "v", ["k"]),
                                      ["k"]),
               lambda got: check_quantiles(got, groups),
               [("scan", lambda: noop(df.select("k", "v"))),
                ("partial", lambda: noop(partial_digests(df, "v", ["k"]))),
                ("agg", lambda: noop(tdigest_aggregate(df, "v", ["k"])))]),
        ] + self._sibling_ops(df, oracle)

    def digests(self):
        return [r["digest"] for r in
                tdigest_aggregate(self.df, "v", ["k"]).collect()]

    @staticmethod
    def _sibling_ops(df, oracle) -> list:
        rows = oracle["rows"]
        groups = {(k,): s for k, s in oracle["sketch_groups"].items()}
        distinct = oracle["distinct"]
        hist = oracle["hist_counts"]
        probes = oracle["probes"]
        probe_counts = oracle["probe_counts"]
        # the literal must be a long like the item column, or it hashes
        # differently
        probe_col = F.array(*[hashed(F.lit(int(p)).cast("long"))
                              for p in probes])

        def kll():
            return kll_aggregate(df, "v", ["g"], k=KLL_K)

        def histogram():
            return histogram_aggregate(df, "v", ["g"], min_=gen.HIST_MIN,
                                       max_=gen.HIST_MAX)

        def hll():
            return sketch_aggregate(df, "item", "hll", ["g"])

        def cm():
            return sketch_aggregate(df, "item", "cm", ["g"])

        def keyed(df_, col):
            return {(r["g"],): (r["rows"], r[col]) for r in
                    df_.select("g", "rows", col).collect()}

        def check_hist(got):
            out = Outcome(check_groups(got, groups))
            for (k,), (_, blob) in got.items():
                counts = histogram_from_bytes(bytes(blob)).get_counts()
                if k in hist and not np.array_equal(counts, hist[k]):
                    out.problems.append(f"{k}: histogram counts differ")
            return out

        def check_hll(got):
            out = Outcome(check_groups(got, groups))
            for (k,), (_, est) in got.items():
                true = distinct.get(k, 0)
                if abs(est - true) > 3 * HLL_SE * true + 1:
                    out.problems.append(f"{k}: hll {est:.1f} vs {true}")
            return out

        def check_cm(got):
            out = Outcome(check_groups(got, groups))
            for (k,), (_, est) in got.items():
                if k in probe_counts and np.any(
                        np.asarray(est) < probe_counts[k]):
                    out.problems.append(f"{k}: count-min underestimates")
            return out

        def scan():
            noop(df.select("g", "v", "item"))

        return [
            Op("kll", rows,
               lambda: keyed(kll().withColumn(
                   "q", kll_quantiles_of("kll", QS)), "q"),
               lambda got: check_quantiles(got, groups, KLL_TOL,
                                           exact_small=False, report=False),
               [("scan", scan), ("kll", lambda: noop(kll()))]),
            Op("histogram", rows, lambda: keyed(histogram(), "histogram"),
               check_hist,
               [("scan", scan), ("histogram", lambda: noop(histogram()))]),
            Op("hll", rows,
               lambda: keyed(hll().withColumn(
                   "est", hll_estimate("sketch")), "est"),
               check_hll,
               [("scan", scan), ("hll", lambda: noop(hll()))]),
            Op("cm", rows,
               lambda: keyed(cm().withColumn(
                   "est", cm_estimates("sketch", probe_col)), "est"),
               check_cm,
               [("scan", scan), ("cm", lambda: noop(cm()))]),
        ]

    def partials_per_key_max(self):
        return _partitions_per_key(self.df, ["k"])


class TranscriptLatency(Workload):
    """The fused clustered job: latency and text length digests by
    (role, tool, ts_hour), about 530 keys per metric."""
    METRICS = ("latency_s", "text_len")
    KEYS = ("role", "tool", "ts_hour")

    def __init__(self, spark, data_dir, oracle, work_dir):
        self.t = t = spark.read.parquet(data_dir)
        self.slices = oracle["slices"]
        groups = oracle["groups"]

        def fused():
            return turn_digests_clustered(t, self.METRICS, self.KEYS)

        def run():
            rows = fused().select(
                "metric", "role", "tool",
                F.col("ts_hour").cast("long").alias("h"),
                "rows", quantiles_of("digest", QS).alias("q")).collect()
            return {(r["metric"], r["role"], r["tool"], r["h"]):
                    (r["rows"], r["q"]) for r in rows}

        self.fused = fused
        self.ops = [Op(
            "fused", oracle["rows"], run,
            lambda got: check_quantiles(got, groups),
            [("scan", lambda: noop(t.select("conv_id", "turn_idx", "role",
                                            "tool", "text", "ts"))),
             ("fused", lambda: noop(fused()))])]

    def digests(self):
        return [r["digest"] for r in self.fused().collect()]

    def partials_per_key_max(self):
        return _partitions_per_key(
            self.t.select("role", "tool",
                          F.date_trunc("hour", "ts").alias("h")),
            ["role", "tool", "h"])


class DigestRollup(Workload):
    """Read side only: stored per-(file, key) partials merged flat, by
    the tree path, and rolled up ten keys to a group, then queried."""

    def __init__(self, spark, data_dir, oracle, work_dir):
        self.pipe = pipe = DigestCheckpointPipeline(
            spark, data_dir, "v", ["key"], f"{work_dir}/ckpt")
        self.slices = oracle["slices"]
        groups = {(k,): s for k, s in oracle["groups"].items()}
        coarse = {(k,): s for k, s in oracle["coarse"].items()}
        medians = np.array([s[s.size // 2] for s in oracle["groups"].values()])
        xs = [float(x) for x in np.quantile(medians, QS)]

        def stored():
            return spark.read.parquet(pipe.partials_path)

        def rollup():
            return merge_digests_df(
                stored().select((F.col("key") / 10).cast("int").alias("key"),
                                "digest", "rows"), ["key"])

        def query(df):
            rows = df.select(
                "key", "rows", quantiles_of("digest", QS).alias("q"),
                cdfs_of("digest", xs).alias("c"),
                trimmed_mean_of("digest", *TRIM).alias("tm")).collect()
            return {(r["key"],): (r["rows"], r["q"], r["c"], r["tm"])
                    for r in rows}

        def check(got, want):
            out = check_quantiles(got, want)
            for key, s in want.items():
                if key not in got or s.size < BIG_N:
                    continue
                _, _, cdf, tm = got[key]
                err = np.abs(np.asarray(cdf) - midrank(s, xs))
                if err.max() > RANK_TOL:
                    out.problems.append(f"{key}: cdf error {err.max():.4g}")
                n = s.size
                lo = s[max(0, math.floor((TRIM[0] - RANK_TOL) * n))]
                hi = s[min(n - 1, math.ceil((TRIM[1] + RANK_TOL) * n))]
                if not lo <= tm <= hi:
                    out.problems.append(f"{key}: trimmed mean {tm} "
                                        f"outside [{lo}, {hi}]")
            return out

        self.stored = stored
        scan = ("scan", lambda: noop(stored().select("key", "digest",
                                                     "rows")))
        self.ops = [
            Op("finalize", 0, lambda: query(pipe.finalize()),
               lambda got: check(got, groups),
               [scan, ("agg", lambda: noop(pipe.finalize()))]),
            Op("finalize_tree", 0, lambda: query(pipe.finalize(tree=True)),
               lambda got: check(got, groups),
               [scan, ("agg", lambda: noop(pipe.finalize(tree=True)))]),
            Op("rollup", 0, lambda: query(rollup()),
               lambda got: check(got, coarse),
               [scan, ("agg", lambda: noop(rollup()))]),
        ]

    def prepare(self):
        t0 = time.perf_counter()
        self.pipe.run_partials()
        run_s = time.perf_counter() - t0
        n = self.stored().count()
        for op in self.ops:
            op.rows = n
        return {"pipeline.run_partials_s": run_s}

    def digests(self):
        return [r["digest"] for r in self.pipe.finalize().collect()]

    def partials_per_key_max(self):
        per_key = self.stored().groupBy("key").count()
        return int(per_key.agg(F.max("count")).collect()[0][0])


class KeyedMerge(Workload):
    """The many-key shapes: the fused transcript job (raw rows in, about
    1,000 digest groups out) and the read-only rollup of stored partials
    (no raw ingest at all)."""
    name = "keyed_merge"

    def __init__(self, spark, data_dir, oracle, work_dir):
        self.parts = [
            TranscriptLatency(spark, f"{data_dir}/transcripts",
                              oracle["transcripts"], work_dir),
            DigestRollup(spark, f"{data_dir}/rollup", oracle["rollup"],
                         work_dir)]
        self.ops = [op for p in self.parts for op in p.ops]
        self.slices = [s for p in self.parts for s in p.slices]

    def prepare(self):
        return {k: v for p in self.parts for k, v in p.prepare().items()}

    def digests(self):
        return [d for p in self.parts for d in p.digests()]

    def partials_per_key_max(self):
        return max(p.partials_per_key_max() for p in self.parts)


WORKLOADS = {w.name: w for w in (RawIngest, KeyedMerge)}
