"""Table sources.

- ``load_table(s)``: driver testdata parquet (TESTDATA.md) or, when an
  Iceberg catalog is configured, ``spark.read.table`` — same DataFrame
  code path either way (SURVEY.md §7.4 "Iceberg at sandbox scale").
- ``synth_transcripts``: deterministic synthetic generator for the
  BASELINE.json ``input_hint`` table shape
  (conv_id, turn_idx, role, text, tool, ts) with Zipf-skewed
  conversation lengths (hot conv_id keys), lognormal text lengths and
  gamma inter-turn latencies per FIXTURES.md §1.  Generated
  *distributed* — one seeded chunk per Spark partition — so it scales to
  any row count without driver memory.
- ``turn_metrics``: derives the two digested metrics — text_len and
  inter-turn latency via a window lag over (conv_id, turn_idx).
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)

__all__ = ["TABLES", "load_table", "load_all", "synth_transcripts",
           "turn_metrics", "turn_metrics_clustered",
           "latency_digests_clustered", "turn_digests_clustered",
           "TRANSCRIPT_SCHEMA"]

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; catalog table if ``sf_dir`` is a
    ``catalog:`` prefix (Iceberg), parquet path otherwise."""
    if sf_dir.startswith("catalog:"):
        return spark.read.table(f"{sf_dir[len('catalog:'):]}.{name}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), False),
    StructField("text", StringType(), False),
    StructField("tool", StringType(), True),
    StructField("ts", TimestampType(), False),
])

_ROLES = np.array(["user", "assistant", "system", "tool"])
_ROLE_P = np.array([0.45, 0.45, 0.02, 0.08])
_TOOLS = np.array([f"tool_{i:02d}" for i in range(12)])
_EPOCH = np.datetime64("2026-01-01T00:00:00")
_WORDS = np.array([
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lambda", "mu", "query", "result", "token", "spark",
])


def _gen_chunk(chunk_id: int, convs_per_chunk: int, seed: int,
               with_text: bool) -> pd.DataFrame:
    """Deterministic transcript chunk: conversation ids are globally
    unique per chunk; every statistic depends only on (seed, chunk_id)."""
    rng = np.random.default_rng((seed, chunk_id))
    # conversation length ~ Zipf(1.5) capped at 512 (hot-key skew)
    lengths = np.minimum(rng.zipf(1.5, size=convs_per_chunk), 512)
    total = int(lengths.sum())
    conv_base = chunk_id * convs_per_chunk
    conv_ids = np.repeat(
        np.arange(conv_base, conv_base + convs_per_chunk), lengths)
    turn_idx = np.concatenate([np.arange(n) for n in lengths]) \
        if convs_per_chunk else np.empty(0, dtype=np.int64)
    roles = _ROLES[rng.choice(len(_ROLES), size=total, p=_ROLE_P)]
    is_tool = roles == "tool"
    # Zipf-distributed tool popularity
    tool_rank = np.minimum(rng.zipf(1.8, size=total), len(_TOOLS)) - 1
    tools = np.where(is_tool, _TOOLS[tool_rank], None)
    # text length ~ lognormal(5, 1) clipped to [1, 32768]
    text_len = np.clip(
        rng.lognormal(5.0, 1.0, size=total), 1, 32768).astype(np.int64)
    if with_text:
        # deterministic pseudo-text of exactly text_len chars
        base = " ".join(_WORDS[rng.integers(0, len(_WORDS), size=64)])
        blob = (base * (32768 // len(base) + 2))
        texts = [blob[:n] for n in text_len]
    else:
        texts = [""] * total
    # conversation start uniform over 30 days; inter-turn latency
    # ~ gamma(0.5, 2.0) seconds (heavily skewed)
    start = rng.uniform(0, 30 * 86400, size=convs_per_chunk)
    lat = rng.gamma(0.5, 2.0, size=total)
    # cumulative latency within each conversation
    cum = np.cumsum(lat)
    off = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    conv_cum_base = np.repeat(cum[np.maximum(off - 1, 0)], lengths)
    conv_cum_base[: lengths[0] if convs_per_chunk else 0] = 0
    rel = cum - conv_cum_base
    ts_sec = np.repeat(start, lengths) + rel
    ts = _EPOCH + (ts_sec * 1e6).astype("timedelta64[us]")
    return pd.DataFrame({
        "conv_id": np.char.add("conv-", np.char.zfill(
            conv_ids.astype(str), 10)),
        "turn_idx": turn_idx.astype(np.int32),
        "role": roles,
        "text": texts,
        "tool": tools,
        "ts": ts,
    })


def synth_transcripts(spark: SparkSession, n_convs: int = 10_000,
                      seed: int = 42, partitions: int = 32,
                      with_text: bool = True) -> DataFrame:
    """Deterministic distributed transcripts table (input_hint shape).

    ~3x n_convs turns (Zipf(1.5) mean length ~3).  Same (seed, n_convs,
    partitions) → identical table, any cluster size.
    """
    convs_per_chunk = max(1, n_convs // partitions)
    chunks = spark.range(0, partitions, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for cid in pdf["id"]:
                yield _gen_chunk(int(cid), convs_per_chunk, seed, with_text)

    return chunks.mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)


def turn_metrics(transcripts: DataFrame) -> DataFrame:
    """Derived per-turn metrics (never rewrites the payload — the text
    column passes through untouched, preserving the per-turn text
    equality invariant):

    - text_len: length(text)
    - latency_s: ts - lag(ts) over (partition by conv_id order by turn_idx)
    - ts_hour:  date_trunc('hour', ts)  (grouping bucket)
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # NTZ timestamps can't cast straight to double; go through timestamp
    ts_s = F.col("ts").cast("timestamp").cast("double")
    return (
        transcripts
        .withColumn("text_len", F.length("text").cast("double"))
        .withColumn("latency_s", ts_s - F.lag(ts_s).over(w))
        .withColumn("ts_hour", F.date_trunc("hour", "ts"))
    )


def _clustered_lag(batches):
    """Shared kernel of the clustered-lag operators: yield
    ``(batch, lat)`` per non-empty Arrow batch, where ``lat`` is the
    inter-turn latency (float64, NaN at conversation starts) with
    cross-batch carry, enforcing the conv-clustered contract:

    * partition must start at ``turn_idx == 0`` (a parquet file split
      mid-conversation starts later — loud failure, caller falls back
      to the window path);
    * rows sorted by (conv_id, turn_idx) within the partition.

    Latency arithmetic is bit-identical to the window path: both
    compute ``double(us/1e6)`` per timestamp, then subtract.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    prev_conv = None   # last conv_id of the previous batch
    prev_sec = 0.0     # its ts, in seconds
    prev_turn = 0
    first_batch = True
    for b in batches:
        n = b.num_rows
        if n == 0:
            continue
        names = b.schema.names
        conv = b.column(names.index("conv_id"))
        turn = b.column(names.index("turn_idx"))
        ts = b.column(names.index("ts"))
        us = ts.cast(pa.int64()).to_numpy(zero_copy_only=False)
        sec = us / 1e6
        turn_np = turn.to_numpy(zero_copy_only=False)
        if first_batch:
            if turn_np[0] != 0:
                raise ValueError(
                    "clustered lag: partition begins mid-conversation "
                    "(turn_idx=%d) — the input is not conv-clustered "
                    "at file granularity; raise spark.sql.files."
                    "maxPartitionBytes or use the window path "
                    "(turn_metrics)" % turn_np[0])
            first_batch = False
        same = pc.equal(conv.slice(1), conv.slice(0, n - 1)) \
            .to_numpy(zero_copy_only=False)
        bad = same & (turn_np[1:] <= turn_np[:-1])
        head_same = prev_conv is not None and conv[0].as_py() == prev_conv
        if bad.any() or (head_same and turn_np[0] <= prev_turn):
            raise ValueError(
                "clustered lag: rows are not sorted (conv_id, turn_idx) "
                "within the partition — use the window path "
                "(turn_metrics)")
        lat = np.empty(n)
        lat[1:] = np.where(same, sec[1:] - sec[:-1], np.nan)
        lat[0] = sec[0] - prev_sec if head_same else np.nan
        prev_conv = conv[n - 1].as_py()
        prev_sec = sec[n - 1]
        prev_turn = int(turn_np[n - 1])
        yield b, lat


def turn_metrics_clustered(transcripts: DataFrame) -> DataFrame:
    """Shuffle-free ``turn_metrics`` for conv-clustered inputs.

    ``turn_metrics``'s window lag forces one full raw-row Exchange by
    conv_id — semantically required on unclustered data, but at
    10^12-turn scale it is the dominant cost (docs/PLANS.md).  When the
    table is stored clustered by conv_id and sorted by
    (conv_id, turn_idx) within each file — the natural Iceberg sort
    order for transcript tables — the lag can be derived entirely
    within scan partitions via ``mapInArrow``: zero Exchange below the
    aggregation, and the whole scan→metrics→partial-digest pipeline is
    one stage.

    Input contract, verified vectorized per batch (violations raise, so
    a mis-clustered input fails loudly and the caller falls back to
    ``turn_metrics``):

    * rows sorted by (conv_id, turn_idx) within every partition;
    * conversations never span partition boundaries — detected by the
      first row of each partition having ``turn_idx == 0`` (a parquet
      file split mid-conversation starts at a later turn).  Packing
      multiple whole files into one partition is fine; splitting one
      file across partitions is not — size
      ``spark.sql.files.maxPartitionBytes`` above the file size.

    Latency arithmetic is bit-identical to the window path: both sides
    compute ``double(us/1e6)`` per timestamp, then subtract
    (tests/test_sources.py asserts exact equality).  Per-turn text
    passes through untouched (text-equality invariant).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.types import DoubleType

    in_schema = transcripts.schema
    # Catalyst can't prune columns through mapInArrow, so callers
    # digesting only latency should .select() the needed columns first;
    # text_len is derived only when text survives that pruning.
    has_text = "text" in in_schema.fieldNames()
    out_schema = StructType(
        list(in_schema.fields)
        + ([StructField("text_len", DoubleType(), True)] if has_text else [])
        + [StructField("latency_s", DoubleType(), True),
           StructField("ts_hour", in_schema["ts"].dataType, True)])

    def part(batches):
        for b, lat in _clustered_lag(batches):
            names = b.schema.names
            ts = b.column(names.index("ts"))
            derived, dfields = [], []
            if has_text:
                derived.append(pc.cast(
                    pc.utf8_length(b.column(names.index("text"))),
                    pa.float64()))
                dfields.append(pa.field("text_len", pa.float64()))
            derived.append(
                pa.array(lat, type=pa.float64(), from_pandas=True))
            dfields.append(pa.field("latency_s", pa.float64()))
            derived.append(pc.floor_temporal(ts, unit="hour"))
            dfields.append(pa.field("ts_hour", ts.type))
            yield pa.RecordBatch.from_arrays(
                list(b.columns) + derived,
                schema=pa.schema(list(b.schema) + dfields))

    return transcripts.mapInArrow(part, schema=out_schema)


def latency_digests_clustered(transcripts: DataFrame,
                              group_cols=("role", "ts_hour"),
                              compression: float = 100.0,
                              scale: str = "K_2",
                              buffer_size: int | None = None) -> DataFrame:
    """Fused scale path for the flagship latency job: derive the
    inter-turn latency (shuffle-free clustered lag, same contract and
    guards as ``turn_metrics_clustered``) AND build the per-partition
    partial digests in the SAME ``mapInArrow`` pass, then merge.

    Equivalent output to
    ``tdigest_aggregate(turn_metrics_clustered(df).where(latency
    notNull), "latency_s", group_cols)`` but raw rows cross the
    JVM/Python boundary ONCE (scan → fused lag+digest kernel), and
    nothing except ~1 KB digest rows per (partition, key) ever comes
    back — at 10^12 turns the job is a single scan-shaped stage plus
    one sketch-row Exchange.  ``group_cols`` may use ``role``,
    ``tool`` and the derived ``ts_hour``.
    """
    general = turn_digests_clustered(
        transcripts, ("latency_s",), group_cols, compression, scale,
        buffer_size)
    return general.drop("metric")


def turn_digests_clustered(transcripts: DataFrame,
                           metrics=("latency_s", "text_len"),
                           group_cols=("role", "ts_hour"),
                           compression: float = 100.0,
                           scale: str = "K_2",
                           buffer_size: int | None = None) -> DataFrame:
    """Multi-metric fused kernel: ONE scan, ONE Python pass, N digest
    families — the north-star job digests BOTH per-turn metrics
    (inter-turn latency via the clustered lag, text length) and this
    derives every (metric, group) digest from a single pass over the
    raw rows.  Output: ``metric string, group_cols..., digest, rows``.

    Same conv-clustered input contract as ``turn_metrics_clustered``
    (loud guards; fall back to the window path + ``tdigest_aggregate``
    per metric otherwise).  ``metrics`` may contain ``latency_s`` and
    ``text_len``; ``group_cols`` may use ``role``, ``tool`` and the
    derived ``ts_hour``.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..operators.aggregate import (
        DEFAULT_BUFFER, DIGEST_FIELD, SketchAccumulator, _batch_groups,
        _merge_partitions, _merge_sketches, digest_codec,
    )
    from pyspark.sql.types import BinaryType, LongType, StringType

    metrics = list(metrics)
    group_cols = list(group_cols)
    if buffer_size is None:
        buffer_size = DEFAULT_BUFFER
    in_schema = transcripts.schema
    need = {"turn_idx", "ts"} | {
        c for c in group_cols if c != "ts_hour"}
    # the kernel only needs conv BOUNDARIES, not identities — ship an
    # 8-byte xxhash64 of conv_id across Arrow instead of the string
    # (the widest column otherwise).  A hash collision between two
    # ADJACENT distinct convs is caught loudly: the second conv's
    # turn_idx resets to 0, which under an equal "conv_id" trips the
    # sortedness guard in _clustered_lag (ValueError), so the failure
    # mode is a spurious error with ~n_adjacent/2^64 probability, never
    # silent conv merging.
    # text_len is length(text) in Catalyst, as turn_metrics has it, so
    # the text itself never crosses Arrow
    narrow = transcripts.select(
        F.xxhash64("conv_id").alias("conv_id"),
        *[f.name for f in in_schema.fields if f.name in need],
        *([F.length("text").cast("double").alias("__text_len")]
          if "text_len" in metrics else []))
    out_schema = StructType(
        [StructField("metric", StringType(), False)]
        + [StructField(c, in_schema["ts"].dataType if c == "ts_hour"
                       else in_schema[c].dataType, True)
           for c in group_cols]
        + [StructField(DIGEST_FIELD, BinaryType(), False),
           StructField("rows", LongType(), False)])

    def fused(batches):
        codec = digest_codec(compression, scale, buffer_size)
        accs = {m: SketchAccumulator(codec, group_cols) for m in metrics}
        for b, lat in _clustered_lag(batches):
            names = b.schema.names
            ts = b.column(names.index("ts"))
            keys = []
            for c in group_cols:
                if c == "ts_hour":
                    keys.append(pc.floor_temporal(ts, unit="hour"))
                else:
                    keys.append(b.column(names.index(c)))
            grouped = _batch_groups(keys, b.num_rows)  # one for all metrics
            for m in metrics:
                if m == "latency_s":
                    val = pa.array(lat, type=pa.float64())
                elif m == "text_len":
                    val = b.column(names.index("__text_len"))
                else:
                    raise ValueError(f"unknown metric {m!r}")
                accs[m].update(pa.RecordBatch.from_arrays(
                    keys + [val], names=group_cols + ["__v"]), grouped)
        for m in metrics:
            rb = accs[m].finish()
            if rb is not None:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([m] * rb.num_rows, type=pa.string())]
                    + list(rb.columns),
                    schema=pa.schema(
                        [pa.field("metric", pa.string())]
                        + list(rb.schema)))

    partials = narrow.mapInArrow(fused, schema=out_schema)
    # the merge exchange follows aggregate._merge_partitions: behind a
    # multi-wave scan (the flagship: 256 one-file tasks, thousands of
    # (role, ts_hour) keys each) it gets whole waves of by-number
    # partitions — 64, not AQE's one ragged ~core-count wave that scaled
    # 0.46 from 2 to 8 cores — and behind a one-wave scan AQE sizes it.
    # The count is read off ``transcripts``, whose scan is this stage
    # 1's, so a caller that reuses the frame plans it only once.
    return _merge_sketches(partials, ["metric"] + group_cols,
                           digest_codec(compression, scale),
                           _merge_partitions(transcripts))
