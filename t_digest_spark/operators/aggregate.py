"""Distributed sketch aggregation over Spark DataFrames — the one
two-stage engine every mergeable sketch in this library runs through
(t-digest, KLL, histogram, count-min, Bloom, HLL).

Execution model (SURVEY.md §3.2, designed for 100 TB inputs):

  stage 1  ``_sketch_partials`` — mapInArrow over the *unshuffled* scan:
           each input partition builds one sketch per group key from
           Arrow batches (NumPy-vectorized, zero per-row Python).  Output
           is (group keys..., sketch binary, rows) — ~1 KB per
           (partition, key).  This is map-side partial aggregation: the
           100 TB of raw rows never shuffle; only sketches do.

  stage 2  ``_merge_sketches`` — repartition(keys) over the tiny sketch
           table + a whole-partition mapInArrow merge that hands every
           group of the partition to the codec at once (for digests,
           ``core.merge_blob_groups``: MergingDigest.add(List)
           semantics, every group's merge pass run in lockstep).

  optional ``tree_merge`` — for extreme partition counts (10^5+ partials
           per key) an intermediate salt level bounds any single reduce
           task's fan-in, i.e. treeAggregate over digests.  Mergeability
           makes every layering *equally accurate* (AccuracyTest bounds
           hold for arbitrary splits), so salting/skew handling costs
           nothing in correctness.

A sketch family plugs in through a ``SketchCodec``; the engine owns
the group keys, chunk parking, the NULL/NaN value and weight filter,
and the exchange.  Both stages group rows by their keys alone
(``_groups``, as Spark's ``groupBy``, on key columns made canonical in
Arrow by ``_canonical``), and a global aggregate is one more group:
the group of every row.  Stage 1 filters values after grouping, so one
grouping of a batch serves every value column fed from it.

Skewed group keys (e.g. hot conv_id / role values) are a non-issue in
stage 1 — each partition emits at most one sketch per key regardless of
row skew — and bounded in stage 2 by ``tree_merge``.

Digests travel as the reference-compatible VERBOSE byte encoding
(float64 centroids — SMALL's float32 weights would overflow past 2^24
per centroid, see core.to_small_bytes).
"""

from __future__ import annotations

from typing import Callable, NamedTuple, Sequence

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from ..core import TDigest, merge_blob_groups, merge_blobs, \
    try_singleton_blob

__all__ = [
    "partial_digests",
    "merge_digests_df",
    "tree_merge",
    "tdigest_aggregate",
    "tdigest_collect",
    "SketchCodec",
    "SketchAccumulator",
    "aggregate_sketches",
    "digest_codec",
    "object_codec",
    "DIGEST_FIELD",
]

DIGEST_FIELD = "digest"

# The one NaN object every NaN group key decodes to: keys are grouped
# in Python dicts, and hash(nan) is id-based on Python 3.10+, so NaN
# keys decoded from two Arrow batches are equal only as one object.
_NAN = float("nan")


def _shuffle_partitions(df: DataFrame) -> int:
    """spark.sql.shuffle.partitions as an int, tolerating non-numeric
    values some platforms set (e.g. "auto"); falls back to the
    cluster's default parallelism."""
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


# physical operators that keep their child's partitioning: the walk
# from a plan's root down to its scan passes only through these
_NARROW = frozenset((
    "ProjectExec", "FilterExec", "SampleExec", "GenerateExec",
    "MapInArrowExec", "PythonMapInArrowExec", "MapInPandasExec",
    "ArrowEvalPythonExec", "BatchEvalPythonExec"))


def _scan_tasks(df: DataFrame) -> int | None:
    """How many tasks the scan under ``df`` runs, asked of Spark without
    running a job: the physical plan (planned, never executed) is walked
    through narrow operators to its scan node, whose input RDD holds
    Spark's own file partitions — splitting, packing, non-splittable
    codecs, bucketing and partition pruning included.  Planning is
    cached on ``df``, so a reused input pays it once.  None when the
    input is not a narrow chain over a scan (shuffles, joins, in-memory
    or streaming sources): then the stage-1 task count is not known
    before the job runs."""
    from py4j.protocol import Py4JError
    from pyspark.errors import PySparkException

    if df.isStreaming:
        return None
    try:
        node = df._jdf.queryExecution().sparkPlan()
        name = node.getClass().getSimpleName()
        while name in _NARROW:
            node = node.child()
            name = node.getClass().getSimpleName()
        if name not in ("FileSourceScanExec", "BatchScanExec"):
            return None
        return node.inputRDD().getNumPartitions()
    except (Py4JError, PySparkException):
        return None


def _merge_partitions(df: DataFrame) -> int | None:
    """The stage-2 partition count of the fused transcript aggregate
    (``sources.tables.turn_digests_clustered``) over ``df``, or None to
    let AQE size the exchange from bytes.

    With P1 stage-1 tasks, C = defaultParallelism and S =
    spark.sql.shuffle.partitions: when stage 1 spans more than one wave
    (P1 > C) the merge gets ``min(S, C * ceil(P1 / C))`` partitions —
    whole waves, never more tasks than stage 1 had.  Otherwise AQE
    coalesces the partial table (sketchbench ``keyed_merge`` at
    local[2]: one merge task instead of 16 pinned ones, and the fused
    operator's median 0.88 -> 0.67 s).

    Why whole waves: that operator's partial table is large (thousands
    of keys x one partial per key per scan task), and AQE targets about
    C tasks by bytes: on the flagship 100M-row job (256 scan tasks) its
    coalesced merge stage got 11 tasks at local[8] — one ragged wave
    that scaled 0.46 from 2 to 8 cores (occupancy 0.73, task CPU 22 ->
    37 core-s) while the scan stage scaled 0.95; the 64-task shape (8
    balanced waves) restores tail-hiding.

    Why only there: P1 > C does not make a partial table large.  A
    grouped ``tdigest_aggregate`` over 256 small parquet files (P1 = 9
    at local[2], rule: 10 partitions) ran 1.04 s pinned against 0.72 s
    under AQE with 4 keys, and 1.49 s against 1.20 s with 2,000 keys
    (medians of 10 alternating runs, 4-vCPU host), so every other
    grouped merge and both ``tree_merge`` levels stay on AQE."""
    p1 = _scan_tasks(df)
    cores = df.sparkSession.sparkContext.defaultParallelism
    if p1 is None or p1 <= cores:
        return None
    return min(_shuffle_partitions(df), cores * -(-p1 // cores))


# Arrow batches are ~10k rows; we let each per-key digest buffer several
# batches before a merge pass (amortized buffering per
# MergingDigest.java:33-49 — bigger buffers are both faster and more
# accurate via two-level compression).
DEFAULT_BUFFER = 1 << 16


class SketchCodec(NamedTuple):
    """How the engine builds, serializes and merges one sketch family.

    ``new() -> sketch``; ``update(sketch, values, weights)`` takes NumPy
    slices of one group's rows (``weights`` is None for unweighted
    aggregates); ``to_bytes(sketch)`` is the stage-1 partial blob;
    ``merge_blobs(blobs, offsets)`` is stage 2 for a whole partition:
    ``blobs`` is a pyarrow binary array of partials in group order,
    group ``g`` is ``blobs[offsets[g]:offsets[g + 1]]`` (a global
    aggregate over no input is one group of none), and the result is a
    binary array of one merged blob per group.  The optional
    ``pack(values) -> bytes | None`` serializes a small unweighted group
    without building a sketch (None declines).  A key parks up to
    ``chunk_rows`` rows before they reach ``update``."""

    field: str
    new: Callable[[], object]
    update: Callable[[object, np.ndarray, np.ndarray | None], None]
    to_bytes: Callable[[object], bytes]
    merge_blobs: Callable
    pack: Callable[[np.ndarray], bytes | None] | None = None
    chunk_rows: int = DEFAULT_BUFFER


def digest_codec(compression: float, scale: str,
                 buffer_size: int = DEFAULT_BUFFER) -> SketchCodec:
    """The t-digest: uncompressed VERBOSE partials, every key of a
    stage-2 partition merged at once by ``core.merge_blob_groups``, and
    the bit-identical singleton packing (``core.try_singleton_blob``)
    for small keys."""
    return SketchCodec(
        DIGEST_FIELD,
        new=lambda: TDigest(compression, buffer_size=buffer_size,
                            scale=scale),
        update=lambda d, v, w: d.add_batch(v, w),
        to_bytes=lambda d: d.to_bytes(compress=False),
        merge_blobs=lambda blobs, offsets: merge_blob_groups(
            blobs, offsets, compression, scale),
        pack=lambda v: try_singleton_blob(v, compression, buffer_size,
                                          scale),
        chunk_rows=buffer_size)


def object_codec(field: str, new: Callable[[], object], update,
                 from_bytes: Callable[[bytes], object]) -> SketchCodec:
    """Codec for a sketch class with ``to_bytes`` and an in-place
    ``merge`` (KLL, histograms, count-min, Bloom, HLL): stage 2 merges
    each group's blobs in turn."""
    def merge(blobs, offsets):
        import pyarrow as pa

        vals = blobs.to_pylist()
        out = []
        for a, b in zip(offsets[:-1].tolist(), offsets[1:].tolist()):
            sk = from_bytes(vals[a]) if b > a else new()
            for v in vals[a + 1:b]:
                sk.merge(from_bytes(v))
            out.append(sk.to_bytes())
        return pa.array(out, pa.binary())

    return SketchCodec(field, new, update, lambda sk: sk.to_bytes(), merge)


def _sketch_schema(df: DataFrame, group_cols: Sequence[str],
                   field: str) -> StructType:
    return StructType(
        [df.schema[c] for c in group_cols]
        + [StructField(field, BinaryType(), False),
           StructField("rows", LongType(), False)])


def _canonical(col):
    """Key column ``col`` with the values Spark's ``groupBy`` groups
    by, so that Arrow hashes equal keys alike: -0.0 folds into 0.0 and
    every NaN payload becomes one NaN, in float columns, float
    dictionaries (decoded: a canonical dictionary could hold one value
    twice) and the float children of list and struct columns."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = col.type
    if pa.types.is_floating(t):
        col = pc.add(col, pa.scalar(0.0, t))  # -0.0 + 0.0 is 0.0
        return pc.if_else(pc.is_nan(col), pa.scalar(_NAN, t), col)
    if pa.types.is_dictionary(t) and pa.types.is_floating(t.value_type):
        return _canonical(col.dictionary_decode())
    if pa.types.is_list(t):
        off = col.offsets
        start, end = off[0].as_py(), off[-1].as_py()
        return pa.ListArray.from_arrays(
            pc.subtract(off, off[0]),
            _canonical(col.values.slice(start, end - start)), t,
            mask=col.is_null())
    if pa.types.is_struct(t):
        return pa.StructArray.from_arrays(
            [_canonical(c) for c in col.flatten()], fields=list(t),
            mask=col.is_null())
    return col


def _hashable(v):
    """A nested key value from ``to_pylist`` as a dict key: lists and
    structs become tuples, NaN becomes ``_NAN``."""
    if isinstance(v, float):
        return _NAN if v != v else v
    if isinstance(v, (list, tuple)):
        return tuple(_hashable(x) for x in v)
    if isinstance(v, dict):
        return tuple(_hashable(x) for x in v.values())
    return v


# combined group codes stay below this; past it they are renumbered
_CODE_SPACE = 1 << 62


def _groups(key_cols: list, n: int):
    """Group ``n`` rows by their canonical Arrow key columns
    (``_canonical``): returns ``(order, bounds, keys)``, where ``order``
    stably sorts the rows by group, group ``g`` is the rows
    ``order[bounds[g]:bounds[g + 1]]``, and ``keys(rows)`` lists the key
    tuples of the given rows.  With no key columns the ``n`` rows are
    one group, even when there are none; with key columns and no rows
    there is no group.  The group-id step of both stages: each key
    column is dictionary-encoded (C kernel), the codes combine into one
    integer per row, and one stable sort makes every group a contiguous
    slice, so Python touches each GROUP, never each row.  Key tuples
    are dict keys that equal the same key's tuple from any other batch:
    NaN is ``_NAN`` and nested values are tuples."""
    import pyarrow as pa
    import pyarrow.compute as pc

    combined = np.zeros(n, np.int64)
    space = 1
    codes_list = []
    dicts = []
    for col in key_cols:
        try:
            enc = pc.dictionary_encode(col)
            codes = pc.fill_null(enc.indices, -1).to_numpy(
                zero_copy_only=False).astype(np.int64)
            dicts.append(enc.dictionary)  # decoded by ``keys`` only
        except pa.lib.ArrowNotImplementedError:
            # nested (array/map/struct) key columns have no Arrow
            # dictionary kernel — encode in Python.  Cold path:
            # it only runs for nested-typed GROUP columns, whose
            # per-batch cardinality is small by grouping contract.
            code_of: dict = {}
            codes = np.array(
                [-1 if v is None else code_of.setdefault(v, len(code_of))
                 for v in map(_hashable, col.to_pylist())], np.int64)
            dicts.append(list(code_of))
        card = len(dicts[-1]) + 1
        if space * card >= _CODE_SPACE:
            # renumber the codes so far densely (order-preserving)
            # before the product could overflow int64
            uniq, combined = np.unique(combined, return_inverse=True)
            space = uniq.size
        combined = combined * card + (codes + 1)
        space *= card
        codes_list.append(codes)
    # the narrowest dtype that holds the code space lets NumPy's stable
    # sort radix-sort 16-bit codes (a 262,144-row batch with 9 keys:
    # 14.0 -> 1.7 ms per sort)
    combined = combined.astype(np.uint16 if space <= 1 << 16 else
                               np.uint32 if space <= 1 << 32 else np.int64)
    order = np.argsort(combined, kind="stable")
    starts = np.flatnonzero(np.diff(combined[order])) + 1
    bounds = np.concatenate(([0], starts, [n])) if n or not key_cols \
        else np.zeros(1, np.int64)

    def keys(rows):
        # each dictionary is decoded once, into Python values that
        # index per group (not a pyarrow scalar .as_py() per group)
        for i, d in enumerate(dicts):
            if not isinstance(d, list):
                vals = d.to_pylist()
                if pa.types.is_floating(d.type):
                    vals = [_NAN if v != v else v for v in vals]
                dicts[i] = vals
        cols = [[d[c] if c >= 0 else None for c in codes[rows].tolist()]
                for codes, d in zip(codes_list, dicts)]
        return list(zip(*cols)) if cols else [()] * len(rows)

    return order, bounds, keys


def _batch_groups(key_cols: list, n: int):
    """``_groups`` over a batch's key columns as they come: stage 1's
    grouping, which a caller feeding one batch to several accumulators
    computes once and passes to each ``SketchAccumulator.update``."""
    return _groups([_canonical(c) for c in key_cols], n)


def _sketch_partials(narrow: DataFrame, group_cols: Sequence[str],
                     codec: SketchCodec, has_weight: bool) -> DataFrame:
    """Stage 1 over a frame laid out as ``(group_cols..., value[,
    weight])``: per-(input partition, group) sketches, no raw-row
    shuffle.  Returns ``group_cols..., <codec.field> binary, rows long``
    with at most (#partitions x #distinct keys) rows.

    Implemented over ``mapInArrow`` — values reach NumPy zero-copy-ish
    and group keys are dictionary-encoded by Arrow C kernels, so there
    is no pandas conversion and no per-row Python anywhere.
    """
    group_cols = list(group_cols)

    def build(batches):
        acc = SketchAccumulator(codec, group_cols, has_weight)
        for batch in batches:
            acc.update(batch)
        out = acc.finish()
        if out is not None:
            yield out

    return narrow.mapInArrow(
        build, schema=_sketch_schema(narrow, group_cols, codec.field))


def partial_digests(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    compression: float = 100.0,
    scale: str = "K_2",
    buffer_size: int = DEFAULT_BUFFER,
    weight_col: str | None = None,
) -> DataFrame:
    """Stage 1 for digests: ``group_cols... , digest binary, rows long``
    with at most (#partitions x #distinct keys) rows (see
    ``_sketch_partials``)."""
    group_cols = list(group_cols)
    cols = group_cols + [value_col] + ([weight_col] if weight_col else [])
    narrow = df.select(*cols)  # column pruning reaches the scan
    return _sketch_partials(narrow, group_cols,
                            digest_codec(compression, scale, buffer_size),
                            weight_col is not None)


class SketchAccumulator:
    """Per-partition sketch accumulation over Arrow batches laid out as
    (key_cols..., value[, weight]).

    The stage-1 kernel of every sketch family, also driven directly by
    fused operators (e.g. ``sources.tables.turn_digests_clustered``,
    which derives its metric batches in the same Python pass and groups
    their shared keys once): group keys are dictionary-encoded by Arrow
    C kernels, values reach NumPy zero-copy-ish, Python touches each
    *group* once per batch, never each row.  A batch is grouped by its
    keys first (a global aggregate is one group); then rows whose value
    is NULL/NaN, or whose weight is NULL, NaN or <= 0, are dropped, and
    a group with no row left parks nothing."""

    def __init__(self, codec: SketchCodec, group_cols: Sequence[str],
                 has_weight: bool = False):
        self.codec = codec
        self.group_cols = list(group_cols)
        self.has_weight = has_weight
        self.key_types: list = []
        # one record per key, in first-seen order: [sketch or None,
        # rows fed to it, parked value chunks, parked weight chunks,
        # parked rows].  When a batch spans many groups the per-group
        # slices are tiny (tens of rows) and a sketch update's fixed
        # cost (for digests: contiguity/NaN/min-max/append) dominates —
        # so slices are parked and fed to the sketch in one
        # concatenated call per ~chunk_rows rows
        self.keys: dict[tuple, list] = {}

    def _flush(self, rec: list) -> None:
        """Feed a key record's parked chunks to its sketch."""
        sk, rows, vals, wts, parked = rec
        if sk is None:
            sk = rec[0] = self.codec.new()
        self.codec.update(sk, _concat(vals), _concat(wts) if wts else None)
        rec[1:] = rows + parked, [], [], 0

    def update(self, batch, grouped=None) -> None:
        """Add one batch; ``grouped`` is its ``_batch_groups`` result
        when the caller already grouped the key columns."""
        import pyarrow.compute as pc

        n_keys = len(self.group_cols)
        order, bounds, keys = grouped or _batch_groups(
            batch.columns[:n_keys], batch.num_rows)
        values = batch.column(n_keys).to_numpy(zero_copy_only=False)
        ok = ~np.isnan(values)  # aggregates ignore NULL/NaN inputs
        weights = None
        if self.has_weight:
            # NULL weights become 0, so one test drops NULL, NaN and
            # non-positive weights (an int64 column keeps its dtype)
            w = batch.column(n_keys + 1)
            if w.null_count:
                w = pc.fill_null(w, 0)
            weights = w.to_numpy(zero_copy_only=False)
            ok &= weights > 0
        self.key_types = batch.schema.types[:n_keys]
        # the kept rows' places in group order: group g keeps the kept
        # rows cut[g]:cut[g + 1], the count of kept rows before its bounds
        pos = np.flatnonzero(ok[order])
        cut = np.searchsorted(pos, bounds)
        live = np.flatnonzero(np.diff(cut))  # groups with a kept row
        kept = order[pos]
        values = values[kept]
        weights = weights[kept] if weights is not None else None
        for key, s, e in zip(keys(order[bounds[live]]), cut[live].tolist(),
                             cut[live + 1].tolist()):
            rec = self.keys.get(key)
            if rec is None:
                rec = self.keys[key] = [None, 0, [], [], 0]
            # copies, so a parked chunk doesn't pin this batch's kept
            # arrays until flush time
            rec[2].append(values[s:e].copy())
            if weights is not None:
                rec[3].append(weights[s:e].copy())
            rec[4] += e - s
            # the global group feeds its sketch once per batch: a KLL
            # sketch compacts on every update, so its bytes depend on
            # how its input is chunked
            if rec[4] >= self.codec.chunk_rows or not n_keys:
                self._flush(rec)

    def finish(self):
        import pyarrow as pa

        # small unit-weight keys take the codec's pack fast path (for
        # digests the bit-identical core.try_singleton_blob): in
        # high-cardinality groupings (the flagship (role, ts_hour)
        # shape: thousands of keys x ~tens of rows each per partition)
        # the per-key digest construction + merge pass was the dominant
        # finalize cost (~55 us/key vs ~3 us packed) while provably
        # producing the same bytes.  Keys with a live sketch (already
        # flushed once) or explicit weights use the full path.
        pack = None if self.has_weight else self.codec.pack
        blobs, rows = [], []
        for rec in self.keys.values():
            blob = None
            if pack is not None and rec[0] is None:
                blob = pack(_concat(rec[2]))
            if blob is None:
                if rec[4]:
                    self._flush(rec)
                blob = self.codec.to_bytes(rec[0])
            blobs.append(blob)
            rows.append(rec[1] + rec[4])
        if not blobs:
            return None
        arrays = [pa.array([k[i] for k in self.keys], type=t)
                  for i, t in enumerate(self.key_types)]
        arrays.append(pa.array(blobs, type=pa.binary()))
        arrays.append(pa.array(rows, type=pa.int64()))
        return pa.RecordBatch.from_arrays(
            arrays, names=self.group_cols + [self.codec.field, "rows"])


def _concat(chunks: list) -> np.ndarray:
    return chunks[0] if len(chunks) == 1 else np.concatenate(chunks)


def _partition_merge_gen(codec: SketchCodec, group_cols: Sequence[str]):
    """Whole-partition stage-2 merge kernel: group the partition's
    partial rows by key, hand every group to ``codec.merge_blobs`` in
    one call, emit one RecordBatch.  One Python round-trip per REDUCER
    PARTITION instead of one grouped pandas call per GROUP (profiled on
    the scaling job the per-group path cost ~10 ms/group), and one
    batch merge instead of one per key (the digest codec's kernel runs
    every key's merge pass in lockstep).  Keys group as in stage 1
    (``_canonical``, then ``_groups``), and each group's output key is
    taken from the canonical columns.  With no group columns the whole
    partition is ``_groups``' one group, so exactly one row is emitted,
    even over no input (an empty sketch with ``rows == 0``); a keyed
    partition with no partial has no group and emits nothing."""
    group_cols = list(group_cols)
    n_keys = len(group_cols)

    def gen(batches):
        import pyarrow as pa

        batches = [b for b in batches if b.num_rows]

        def column(i, typ=None):
            # no batch: an empty column (key columns of no known type
            # are only ever grouped into no group)
            cols = [b.column(i) for b in batches]
            return cols[0] if len(cols) == 1 else \
                pa.concat_arrays(cols) if cols else pa.array([], typ)

        key_cols = [_canonical(column(i)) for i in range(n_keys)]
        blobs = column(n_keys, pa.binary())
        rows = column(n_keys + 1, pa.int64()).to_numpy()
        del batches  # the partials now live in ``blobs`` alone
        order, offsets, _ = _groups(key_cols, len(blobs))
        if offsets.size == 1:
            return
        arrays = [c.take(order[offsets[:-1]]) for c in key_cols]
        arrays.append(codec.merge_blobs(blobs.take(order), offsets))
        csum = np.zeros(rows.size + 1, np.int64)
        np.cumsum(rows[order], out=csum[1:])
        arrays.append(pa.array(csum[offsets[1:]] - csum[offsets[:-1]],
                               type=pa.int64()))
        yield pa.RecordBatch.from_arrays(
            arrays, names=group_cols + [codec.field, "rows"])

    return gen


def _merge_sketches(partials: DataFrame, group_cols: Sequence[str],
                    codec: SketchCodec,
                    n_parts: int | None = None) -> DataFrame:
    """Stage 2: shuffle the (tiny) sketch rows by key and merge per group.

    Grouped path: ``repartition(keys)`` co-locates every key's partials,
    then a whole-partition ``mapInArrow`` kernel merges all keys of the
    partition in ONE Python round-trip (see _partition_merge_gen).  The
    exchange is BY COLUMN by default, so AQE sizes the reduce stage by
    actual partial bytes (a 15-row digest table runs as ONE task, not
    spark.sql.shuffle.partitions near-empty Python round trips);
    ``n_parts`` pins it BY NUMBER instead (see ``_merge_partitions``).
    Every downstream consumer of the merge output (quantile-extract
    UDFs, collect) inherits its partitioning.

    Global aggregate: a single group — funnel the per-partition sketch
    rows (already tiny) into one task and merge.  repartition, NOT
    coalesce: coalesce(1) would collapse the whole upstream partial-build
    stage into a single task; repartition keeps a shuffle barrier so
    partials stay parallel and only ~1 KB sketch rows funnel through it.
    """
    group_cols = list(group_cols)
    sel = partials.select(*group_cols, codec.field, "rows")
    if not group_cols:
        rep = sel.repartition(1)
    else:
        rep = sel.repartition(*([n_parts] if n_parts else []), *group_cols)
    return rep.mapInArrow(
        _partition_merge_gen(codec, group_cols),
        schema=_sketch_schema(partials, group_cols, codec.field))


def aggregate_sketches(narrow: DataFrame, group_cols: Sequence[str],
                       codec: SketchCodec,
                       has_weight: bool = False) -> DataFrame:
    """Both stages over a frame laid out as ``(group_cols..., value[,
    weight])``: one ``group_cols..., <codec.field>, rows`` row per group,
    and exactly one row for a global aggregate (``rows == 0`` over no
    input).  Rows whose value is NULL/NaN, or whose weight is NULL, NaN
    or <= 0, are dropped."""
    return _merge_sketches(
        _sketch_partials(narrow, group_cols, codec, has_weight),
        group_cols, codec)


def merge_digests_df(
    partials: DataFrame,
    group_cols: Sequence[str] = (),
    compression: float = 100.0,
    scale: str = "K_2",
) -> DataFrame:
    """Stage 2 for digest partials: shuffle the (tiny) digest rows by key
    and merge per group (see ``_merge_sketches``); AQE sizes the
    exchange from the partial bytes."""
    return _merge_sketches(partials, group_cols,
                           digest_codec(compression, scale))


def _level1_codec(compression: float, scale: str) -> SketchCodec:
    """``tree_merge``'s salted level: groups of two or more partials
    merge at 2x the compression, and a group holding exactly one blob
    passes through as is — no decode, merge or re-encode, since a group
    of one cuts no fan-in."""
    codec = digest_codec(2 * compression, scale)

    def merge(blobs, offsets):
        import pyarrow as pa

        n = np.diff(offsets)
        many = np.flatnonzero(n > 1)
        merged = codec.merge_blobs(
            blobs.filter(pa.array(np.repeat(n > 1, n))),
            np.r_[0, np.cumsum(n[many])])
        pick = offsets[:-1].copy()
        pick[many] = len(blobs) + np.arange(many.size)
        return pa.concat_arrays([blobs, merged]).take(pick)

    return codec._replace(merge_blobs=merge)


def tree_merge(
    partials: DataFrame,
    group_cols: Sequence[str] = (),
    compression: float = 100.0,
    scale: str = "K_2",
    fanout: int = 64,
) -> DataFrame:
    """treeAggregate-style two-level reduce over digest rows.

    Caps any single reduce task's fan-in at ~``fanout`` digests per key by
    pre-merging within salted buckets (FP-Hadoop's Intermediate Reduce).
    Use when #input-partitions per key is very large (10^4+).  Accuracy
    is unchanged — digest merging meets the same bounds for any split
    (AccuracyTest.java:131-151); stratified two-level merging is in fact
    *more* accurate (docs/vldb/short.tex:185-198).

    Both levels' exchanges are sized by AQE.  A salted group holding
    one partial passes through level 1 unchanged (``_level1_codec``),
    so a key with at most ~fanout partials pays for level 1 only where
    salts collide.
    """
    group_cols = list(group_cols)
    salted = partials.withColumn(
        "__salt", F.pmod(F.crc32(F.col(DIGEST_FIELD)), F.lit(fanout))
    )
    # intermediate level keeps 2x centroids (stratified merging: sub-digests
    # at delta' > delta are *more* accurate, docs/vldb/short.tex:185-198);
    # only the final level compresses to the public delta
    level1 = _merge_sketches(salted, group_cols + ["__salt"],
                             _level1_codec(compression, scale))
    return _merge_sketches(level1.drop("__salt"), group_cols,
                           digest_codec(compression, scale))


def tdigest_aggregate(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    compression: float = 100.0,
    scale: str = "K_2",
    buffer_size: int = DEFAULT_BUFFER,
    weight_col: str | None = None,
    tree: bool | str = "auto",
    fanout: int = 64,
) -> DataFrame:
    """Full two-stage digest aggregation: one digest row per group.

    Equivalent to ``groupBy(keys).agg(tdigest(value))`` but with explicit
    map-side partials so only sketches shuffle.

    ``tree``: ``True``/``False`` force the reduce shape; the default
    ``"auto"`` switches to the two-level ``tree_merge`` when the input
    has more than ~10^4 partitions — beyond that, a single reduce
    task's fan-in (one partial digest per key per partition) dominates
    the merge and the salted pre-reduce wins.  Accuracy is identical
    for any split (AccuracyTest.java:131-151; tests/test_mega_merge.py).
    """
    partials = partial_digests(df, value_col, group_cols, compression,
                               scale, buffer_size, weight_col)
    if tree == "auto":
        # the stage-1 task count from the planned scan (no job, no
        # df.rdd — illegal on streaming frames), else the
        # default parallelism: the 10^4 threshold only picks the reduce
        # shape, and both shapes are correct for any split
        n_parts = _scan_tasks(df) \
            or df.sparkSession.sparkContext.defaultParallelism
        tree = n_parts > 10_000
    if tree:
        return tree_merge(partials, group_cols, compression, scale, fanout)
    return merge_digests_df(partials, group_cols, compression, scale)


def tdigest_collect(
    df: DataFrame,
    value_col: str,
    compression: float = 100.0,
    scale: str = "K_2",
    buffer_size: int = DEFAULT_BUFFER,
) -> TDigest:
    """Global (ungrouped) digest, returned as a driver-side TDigest.

    Partition digests (~1 KB each) are the only data collected.
    """
    partials = partial_digests(df, value_col, (), compression, scale,
                               buffer_size)
    blobs = [r[DIGEST_FIELD] for r in partials.select(DIGEST_FIELD).collect()]
    return merge_blobs(blobs, compression=compression, scale=scale)
