"""Structured Streaming t-digest aggregation.

The digest's partial/final merge is the same code in batch and
streaming, so streaming aggregation is just: per micro-batch build
partial digests (mapInArrow — stateless, streaming-safe), then fold
them into a persistent per-key state table.  Two surfaces:

- ``stream_digests``: foreachBatch sink that maintains a compacted
  digest-per-(group key) parquet state dir, atomically versioned.
  Late data is handled naturally: a late row's digest merges into its
  key like any other — no watermark needed for correctness, only for
  state expiry (optional ``max_versions`` keeps history bounded).
- ``windowed_digest_query``: convenience wrapper that buckets by
  tumbling event-time window + keys, i.e. the per-minute digests of
  the reference's monitoring scenario (ComparisonTest.java:38-127) —
  the trailing-hour comparison digest is then just merge_digests over
  the last 60 window rows (functions/compare.py).
"""

from __future__ import annotations

import os
import time
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core import TDigest, merge_blobs
from ..operators.aggregate import DIGEST_FIELD, merge_digests_df, \
    partial_digests

__all__ = ["stream_digests", "windowed_digest_query", "read_digest_state",
           "stateful_digest_stream"]


def _state_versions(state_dir: str) -> list[str]:
    """Committed version directories only: a version counts once its
    parquet write finished (_SUCCESS marker) AND it was atomically
    renamed from its .tmp staging name — readers never see a
    half-written snapshot."""
    if not os.path.isdir(state_dir):
        return []
    return sorted(
        d for d in os.listdir(state_dir)
        if d.startswith("v_") and not d.endswith(".tmp")
        and os.path.exists(os.path.join(state_dir, d, "_SUCCESS")))


def _version_id(name: str) -> int:
    return int(name.split("_", 1)[1])


def read_digest_state(spark: SparkSession, state_dir: str,
                      before_batch: int | None = None) -> DataFrame | None:
    """Latest committed digest state (one row per group key).

    before_batch: only consider versions written by batches strictly
    earlier — the foreachBatch fold passes its own batch_id so a RETRY
    of a failed batch never folds on top of that same batch's partial
    output (foreachBatch re-executes batch ids on recovery; folding a
    batch into its own earlier attempt would double-count its rows)."""
    versions = _state_versions(state_dir)
    if before_batch is not None:
        versions = [v for v in versions if _version_id(v) < before_batch]
    if not versions:
        return None
    return spark.read.parquet(os.path.join(state_dir, versions[-1]))


def stream_digests(
    stream_df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    state_dir: str,
    checkpoint_dir: str,
    compression: float = 100.0,
    scale: str = "K_2",
    trigger_seconds: int | None = None,
    max_versions: int = 3,
    query_name: str = "tdigest-stream",
    expire_col: str | None = None,
    retention: str | float | None = None,
):
    """Start a streaming query folding ``stream_df`` into per-key digests.

    Each micro-batch: partial digests of the batch → union with current
    state → merge per key → write a new state version (atomic via
    version directories; readers always see a complete snapshot).

    ``expire_col``/``retention``: watermark-style state expiry.  After
    each fold, key rows whose ``expire_col`` (a timestamp or numeric
    group column, e.g. the window start) trails the maximum observed
    value by more than ``retention`` ("1 hour", "90 minutes", or
    seconds) are dropped from state — so an always-on windowed
    monitoring stream holds a bounded trailing horizon instead of one
    row per window forever (the reference's monitoring scenario keeps
    a trailing hour — core ComparisonTest.java:38-127).  A row later
    than the horizon is dropped on arrival, standard watermark
    semantics; without these options state never expires (every key
    is kept, late data always folds in)."""
    group_cols = list(group_cols)
    if (expire_col is None) != (retention is None):
        raise ValueError("expire_col and retention must be set together")
    retention_s = _parse_retention(retention) if retention is not None \
        else None

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partials = partial_digests(batch_df, value_col, group_cols,
                                   compression, scale)
        # strictly-older state only: on a foreachBatch RETRY of this
        # batch_id, the failed attempt's own v_{batch_id} must not be
        # folded again (it already contains this batch's rows)
        prev = read_digest_state(spark, state_dir, before_batch=batch_id)
        if prev is not None:
            partials = partials.unionByName(
                prev.select(*group_cols, DIGEST_FIELD, "rows"))
        merged = merge_digests_df(partials, group_cols, compression, scale)
        if expire_col is not None:
            merged = _expire(merged, expire_col, retention_s)
        out = os.path.join(state_dir, f"v_{batch_id:012d}")
        tmp = out + ".tmp"
        _rmtree(tmp)
        merged.write.mode("overwrite").parquet(tmp)
        # atomic publish: rename is the commit point, so readers and
        # retries only ever observe complete snapshots
        _rmtree(out)
        os.rename(tmp, out)
        # bounded history
        versions = _state_versions(state_dir)
        for stale in versions[:-max_versions]:
            _rmtree(os.path.join(state_dir, stale))

    writer = (stream_df.writeStream
              .queryName(query_name)
              .option("checkpointLocation", checkpoint_dir)
              .foreachBatch(fold)
              .outputMode("update"))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def _rmtree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)


def _parse_retention(retention: str | float) -> float:
    """'1 hour' / '90 minutes' / numeric seconds → seconds."""
    if isinstance(retention, (int, float)):
        return float(retention)
    import pandas as pd

    return float(pd.Timedelta(retention).total_seconds())


def _expire(merged: DataFrame, expire_col: str,
            retention_s: float) -> DataFrame:
    """Drop state rows whose expire_col trails the state-wide max by
    more than retention_s.  The max is taken with an unpartitioned
    window — one task over the state table, which is sketch rows
    (~1 KB per live key), never raw data, so no scale concern.

    Rows with a NULL expire_col are RETAINED: they carry no event-time
    position, so ageing them out against the watermark would silently
    drop their state (the comparison would evaluate to NULL and fail
    the filter).  Callers who want null-keyed state evicted should
    coalesce the expiry column to a sentinel timestamp upstream."""
    from pyspark.sql import Window
    from pyspark.sql.types import TimestampType

    col = F.col(expire_col)
    if isinstance(merged.schema[expire_col].dataType, TimestampType):
        # cast keeps sub-second precision (epoch seconds as double)
        col = col.cast("double")
    w = Window.partitionBy()
    return (merged
            .withColumn("__ts", col)
            .withColumn("__mx", F.max("__ts").over(w))
            .where(F.col("__ts").isNull()
                   | (F.col("__ts") >= F.col("__mx") - F.lit(retention_s)))
            .drop("__ts", "__mx"))


def windowed_digest_query(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: Sequence[str],
    window_duration: str,
    state_dir: str,
    checkpoint_dir: str,
    compression: float = 100.0,
    **kwargs,
):
    """Tumbling-event-time-window digests: adds ``window_start`` to the
    group keys and folds as in ``stream_digests``.

    Pass ``retention`` ("1 hour", seconds, ...) to keep only the
    trailing horizon of windows in state — without it the key set
    grows by one row per window forever, which an always-on per-minute
    monitoring stream cannot afford."""
    bucketed = stream_df.withColumn(
        "window_start",
        F.window(F.col(ts_col), window_duration).getField("start"))
    if kwargs.get("retention") is not None:
        kwargs.setdefault("expire_col", "window_start")
    return stream_digests(
        bucketed, value_col, list(group_cols) + ["window_start"],
        state_dir, checkpoint_dir, compression, **kwargs)


def stateful_digest_stream(
    stream_df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    compression: float = 100.0,
    scale: str = "K_2",
    ttl_minutes: float | None = None,
):
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (the Structured Streaming-native alternative to the foreachBatch
    fold): per group key, the state IS the serialized digest — each
    micro-batch's values merge into it and the updated (key, digest,
    rows, p50/p99) row is emitted downstream.

    Complements ``stream_digests``: state lives in Spark's own state
    store (RocksDB/HDFS-backed on a real cluster, checkpointed and
    recoverable with exactly-once semantics), instead of an external
    parquet dir — use this when the stream continues with further
    Spark operators; use ``stream_digests`` when external readers poll
    the state between batches.

    ``ttl_minutes``: processing-time state TTL via Spark's own
    GroupStateTimeout — a key receiving no data for the TTL is evicted
    from the state store on the next micro-batch, so an unbounded key
    space (e.g. per-conv digests on a crawl) cannot grow state forever;
    a late arrival after eviction starts that key fresh.  This is the
    state-store counterpart of ``stream_digests``'s
    ``expire_col``/``retention`` (which is event-time based).

    With a TTL, run the query on the RocksDB state store
    (``spark.sql.streaming.stateStore.providerClass =
    ...state.RocksDBStateStoreProvider``) and give it a real trigger
    interval: timeouts make the engine run micro-batches continuously,
    and the default HDFS-backed store has a commit/maintenance race
    under that cadence (observed as CANNOT_WRITE_STATE_STORE after
    ~40 rapid empty batches on Spark 4.1); RocksDB — the production
    choice for large state anyway — is unaffected.

    Returns the transformed streaming DataFrame (caller attaches the
    sink):

        out = stateful_digest_stream(stream, "latency_s", ["role"])
        out.writeStream.format("memory")...start()
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    group_cols = list(group_cols)
    in_schema = stream_df.schema
    key_ddl = ", ".join(
        f"{c} {in_schema[c].dataType.simpleString()}" for c in group_cols)
    out_type = (f"{key_ddl}, {DIGEST_FIELD} binary, rows long, "
                "p50 double, p99 double")
    state_type = f"{DIGEST_FIELD} binary, rows long"

    def update(key, pdf_iter, state):
        import numpy as np

        if ttl_minutes is not None and state.hasTimedOut:
            # idle past the TTL: evict; a later arrival starts fresh
            state.remove()
            return
        blob, rows = state.get if state.exists else (None, 0)
        # an empty state starts fresh: merge_blobs would size an empty
        # merge's buffer differently
        d = (merge_blobs([bytes(blob)], compression=compression,
                         scale=scale)
             if rows > 0 else TDigest(compression, scale=scale))
        for pdf in pdf_iter:
            vals = pdf[value_col].to_numpy(dtype="float64", na_value=np.nan)
            vals = vals[~np.isnan(vals)]
            if vals.size:
                d.add_batch(vals)
                rows += int(vals.size)
        blob = d.to_bytes()
        state.update((bytearray(blob), rows))
        if ttl_minutes is not None:
            state.setTimeoutDuration(int(ttl_minutes * 60_000))
        out = {c: [k] for c, k in zip(group_cols, key)}
        out[DIGEST_FIELD] = [bytearray(blob)]
        out["rows"] = [rows]
        out["p50"] = [d.quantile(0.5) if d.size else float("nan")]
        out["p99"] = [d.quantile(0.99) if d.size else float("nan")]
        yield pd.DataFrame(out)

    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout
                    if ttl_minutes is not None
                    else GroupStateTimeout.NoTimeout)
    return (stream_df.groupBy(*group_cols)
            .applyInPandasWithState(
                update, out_type, state_type, "update", timeout_conf))
