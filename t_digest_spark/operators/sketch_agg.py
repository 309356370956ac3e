"""Two-stage Spark aggregation for count-min / Bloom / HLL sketches.

Spark-first split of work:
- hashing runs JVM-side (``F.xxhash64`` — codegen, vectorized, and the
  same function for build and probe, so estimates line up by construction);
- only int64 hashes cross the Arrow boundary;
- python does pure NumPy array updates;
- merge stages move only sketch blobs (KBs), never rows.

Runs through the t-digest's two-stage engine (aggregate.py), so skew
in the hashed column is irrelevant to stage 1.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, BooleanType, DoubleType, LongType

from ..functions.sketches import (
    BloomFilter, CountMinSketch, HyperLogLog, sketch_from_bytes,
)
from .aggregate import aggregate_sketches, object_codec
from .extract import _per_row, _probe

__all__ = [
    "sketch_aggregate", "hll_estimate", "cm_estimates", "bloom_contains",
    "hashed", "distinct_count_approx",
]

SKETCH_FIELD = "sketch"
_HASH = "__h"
_WEIGHT = "__w"


def hashed(col) -> Column:
    """The canonical item hash (JVM xxhash64, seed 42)."""
    return F.xxhash64(col)


def _make(kind: str, params: dict):
    if kind == "cm":
        return CountMinSketch(params.get("width", 2048),
                              params.get("depth", 5))
    if kind == "bloom":
        if "expected_items" in params:
            return BloomFilter.ideal(params["expected_items"],
                                     params.get("fpp", 0.01))
        return BloomFilter(params.get("m_bits", 1 << 20),
                           params.get("k", 7))
    if kind == "hll":
        return HyperLogLog(params.get("p", 14))
    raise ValueError(f"unknown sketch kind {kind!r}")


def sketch_aggregate(
    df: DataFrame,
    item_col: str,
    kind: str,
    group_cols: Sequence[str] = (),
    weight_col: str | None = None,
    **params,
) -> DataFrame:
    """Aggregate ``item_col`` into one sketch per group.

    Returns ``group_cols..., sketch binary, rows long``.  ``weight_col``
    (count-min only) is cast to long; like the digest, a row whose
    weight is NULL or <= 0 is dropped and not counted in ``rows``.
    """
    group_cols = list(group_cols)
    use_weight = kind == "cm" and weight_col is not None
    sel = [F.col(c) for c in group_cols] + [hashed(item_col).alias(_HASH)]
    if use_weight:
        sel.append(F.col(weight_col).cast("long").alias(_WEIGHT))
    narrow = df.where(F.col(item_col).isNotNull()).select(*sel)
    if kind == "cm":
        def update(sk, h, w):
            sk.add_hashes(h, w)
    else:
        def update(sk, h, w):
            sk.add_hashes(h)
    codec = object_codec(SKETCH_FIELD, lambda: _make(kind, params), update,
                         sketch_from_bytes)
    return aggregate_sketches(narrow, group_cols, codec, use_weight)


# ---------------------------------------------------------------------
# probes / extraction
# ---------------------------------------------------------------------

def hll_estimate(sketch: Column | str) -> Column:
    return _probe(DoubleType(), _per_row(
        sketch_from_bytes, lambda sk: float(sk.estimate())))(sketch)


def cm_estimates(sketch: Column | str, hash_array: Column) -> Column:
    """Point estimates for a column of item-hash arrays (build the hash
    array with ``F.array(*[hashed(F.lit(v)) for v in items])`` so the
    probe uses the same JVM hash as the build)."""
    return _probe(ArrayType(LongType()), _per_row(
        sketch_from_bytes,
        lambda sk, hs: [int(x) for x in sk.estimate_hashes(
            np.asarray(hs, dtype=np.int64))]))(sketch, hash_array)


def bloom_contains(sketch: Column | str, hash_array: Column) -> Column:
    return _probe(ArrayType(BooleanType()), _per_row(
        sketch_from_bytes,
        lambda sk, hs: [bool(x) for x in sk.contains_hashes(
            np.asarray(hs, dtype=np.int64))]))(sketch, hash_array)


def distinct_count_approx(df: DataFrame, item_col: str,
                          group_cols: Sequence[str] = (),
                          method: str = "hll_own", **params) -> DataFrame:
    """Approximate distinct counts three ways:

    - ``hll_own``: this library's HLL (mergeable, inspectable bytes)
    - ``builtin``: Spark ``approx_count_distinct`` (HLL++)
    - ``datasketches``: Spark 3.5+ ``hll_sketch_agg`` family
    """
    group_cols = list(group_cols)
    if method == "hll_own":
        agg = sketch_aggregate(df, item_col, "hll", group_cols, **params)
        return agg.select(
            *group_cols, hll_estimate(SKETCH_FIELD).alias("approx_distinct"))
    if method == "builtin":
        out = (df.groupBy(*group_cols) if group_cols else df.groupBy())
        return out.agg(F.approx_count_distinct(item_col)
                       .cast("double").alias("approx_distinct"))
    if method == "datasketches":
        out = (df.groupBy(*group_cols) if group_cols else df.groupBy())
        return out.agg(F.hll_sketch_estimate(
            F.hll_sketch_agg(item_col)).cast("double")
            .alias("approx_distinct"))
    raise ValueError(method)
