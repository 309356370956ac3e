"""Pure-NumPy MergingDigest — the algorithmic core of the library.

This is a from-scratch, vectorized re-implementation of the semantics of
the reference MergingDigest
(``core/src/main/java/com/tdunning/math/stats/MergingDigest.java``):

- buffered add: samples accumulate in a temp buffer; when it fills, one
  stable-sorted merge pass fuses them into the live centroids
  (MergingDigest.java:249-284, 352-496).
- two-level compression: a working compression ``sqrt(scale) * delta``
  during accumulation, the public ``delta`` on compress/serialize
  (MergingDigest.java:200-216, 549-552).
- alternating merge direction to kill left-to-right bias
  (MergingDigest.java:99-100, 362-364).
- weight-limit (default) or k-limit merge criterion
  (MergingDigest.java:418-432).
- forced singleton endpoints: the first and last sorted elements never
  fuse (MergingDigest.java:433-436), which is what preserves ppm-level
  tail accuracy.
- singleton-aware interpolation in ``cdf``/``quantile``
  (MergingDigest.java:559-783).
- byte-compatible VERBOSE / SMALL encodings (MergingDigest.java:868-936,
  big-endian like Java ByteBuffer).

Unlike the reference's per-sample scalar loop, the merge pass here is
vectorized: per *output centroid* we do O(1) NumPy calls
(``searchsorted`` + a sliced comparison), so Python-level work is
O(number of centroids) per merge — independent of batch size — and all
per-sample work (sort, cumsum, segment means) is NumPy C code.  See
SURVEY.md §7.3.

Weights are float64 throughout so digests can count far beyond 2^31
samples (reference ``totalWeight`` is double, MergingDigest.java:74;
BigCount.java).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .scale import K_2, get_scale

__all__ = ["TDigest", "merge_digests", "merge_blobs", "merge_blob_groups",
           "try_singleton_blob"]

_VERBOSE_ENCODING = 1
_SMALL_ENCODING = 2
_ENCODING = struct.Struct(">i")
_VERBOSE_HEAD = struct.Struct(">dddi")
_SMALL_HEAD = struct.Struct(">ddfhhh")


class TDigest:
    """A merging t-digest over float64 samples.

    Parameters
    ----------
    compression:
        The public compression delta (number of retained centroids is
        between delta/2 and delta for normalized scale functions).
    buffer_size:
        Temp-buffer capacity before a merge pass is triggered.  Larger
        buffers amortize merge cost and *increase* in-flight accuracy via
        two-level compression.  -1 → reference default (5 * size).
    size:
        Live-centroid array capacity. -1 → reference default.
    scale:
        Scale function (name or object); default K_2 (TDigest.java:45).
    use_weight_limit / use_alternating_sort / use_two_level_compression:
        The reference's three merge-strategy flags, same defaults
        (MergingDigest.java:99-108).
    """

    __slots__ = (
        "public_compression", "compression", "scale",
        "_size", "_buffer_size",
        "_mean", "_weight", "_ncentroids", "_total_weight",
        "_tmean", "_tweight", "_tcount", "_unmerged_weight", "_tunit",
        "_min", "_max", "_merge_count",
        "use_weight_limit", "use_alternating_sort",
        "use_two_level_compression",
    )

    def __init__(self, compression: float = 100.0, buffer_size: int = -1,
                 size: int = -1, scale=K_2, *,
                 use_weight_limit: bool = True,
                 use_alternating_sort: bool = True,
                 use_two_level_compression: bool = True):
        scale = get_scale(scale)
        if not scale.normalized:
            # MergingDigest.java:853-856 — non-normalized scale functions
            # have unbounded centroid counts, incompatible with the
            # fixed-size design.
            raise ValueError(
                f"{scale.name} is not usable with TDigest "
                "(unbounded cluster count)")
        self.scale = scale
        self.use_weight_limit = use_weight_limit
        self.use_alternating_sort = use_alternating_sort
        self.use_two_level_compression = use_two_level_compression

        # --- sizing, mirroring MergingDigest.java:142-228 -------------
        compression = float(compression)
        if compression < 10:
            compression = 10.0
        size_fudge = 0.0
        if use_weight_limit:
            size_fudge = 10.0
            if compression < 30:
                size_fudge += 20.0
        size = int(max(2 * compression + size_fudge, size))
        if buffer_size == -1:
            buffer_size = 5 * size
        if buffer_size <= 2 * size:
            buffer_size = 2 * size
        scale_ratio = max(1.0, buffer_size / size - 1.0)
        if not use_two_level_compression:
            scale_ratio = 1.0
        self.public_compression = compression
        self.compression = math.sqrt(scale_ratio) * compression
        if size < self.compression + size_fudge:
            size = int(math.ceil(self.compression + size_fudge))
        if buffer_size <= 2 * size:
            buffer_size = 2 * size
        self._size = size
        self._buffer_size = buffer_size

        # live centroids (sorted by mean, first/last are singletons)
        self._mean = np.empty(0, dtype=np.float64)
        self._weight = np.empty(0, dtype=np.float64)
        self._ncentroids = 0
        self._total_weight = 0.0

        # temp buffer for incoming samples — grows on demand up to
        # buffer_size so that high-cardinality groupings (many digests
        # alive per executor) don't pay the full allocation up front
        init = min(buffer_size, 4096)
        self._tmean = np.empty(init, dtype=np.float64)
        self._tweight = np.empty(init, dtype=np.float64)
        self._tcount = 0
        self._unmerged_weight = 0.0
        # True while every buffered sample since the last merge has
        # weight exactly 1 (the raw-ingest common case) — enables the
        # sort-only merge fast path (_tweight holds no data then)
        self._tunit = True

        self._min = math.inf
        self._max = -math.inf
        self._merge_count = 0

    # ------------------------------------------------------------------
    # ingest
    # ------------------------------------------------------------------

    def add(self, x, w: float = 1.0) -> None:
        """Add one weighted sample (TDigest.java:92)."""
        self.add_batch(np.asarray([x], dtype=np.float64),
                       np.asarray([w], dtype=np.float64))

    def add_batch(self, values, weights=None) -> None:
        """Vectorized insert of a batch of samples.

        This is the Spark hot path: an Arrow batch column lands here as
        one NumPy array; per-sample Python cost is zero.
        """
        values = np.ascontiguousarray(values, dtype=np.float64)
        if values.ndim != 1:
            values = values.ravel()
        if values.size == 0:
            return
        if np.isnan(values).any():
            # TDigest.java:94-98 — NaN is an error, not a skip
            raise ValueError("Cannot add NaN to t-digest")
        if weights is not None:
            weights = np.ascontiguousarray(weights, dtype=np.float64)
            if weights.shape != values.shape:
                raise ValueError("weights shape mismatch")
            if (weights <= 0).any():
                raise ValueError("weights must be > 0")

        # min/max update happens at add time (MergingDigest.java:265-270)
        self._min = min(self._min, float(values.min()))
        self._max = max(self._max, float(values.max()))

        # weights=None means unit weights throughout — never materialize
        # the all-ones array (at 10^12 raw points that allocation+copy
        # is a measurable slice of ingest)
        self._append(values, weights)

    def add_centroids(self, means, weights, d_min: float, d_max: float) -> None:
        """Merge another digest's centroid arrays into this one
        (AbstractTDigest.java:132-137 / MergingDigest.java:307-350).

        min/max come from the *other digest's recorded extremes*, not its
        centroid means.
        """
        means = np.ascontiguousarray(means, dtype=np.float64)
        weights = np.ascontiguousarray(weights, dtype=np.float64)
        if means.size == 0:
            return
        self._min = min(self._min, float(d_min))
        self._max = max(self._max, float(d_max))
        self._append(means, weights)

    def _append(self, values: np.ndarray,
                weights: np.ndarray | None) -> None:
        """Append to the temp buffer, merging on overflow
        (MergingDigest.java:258-264 with growable storage).
        ``weights=None`` means implicit unit weights (_tweight is not
        written while the whole buffer is unit — the merge fast path
        never reads it)."""
        pos = 0
        n = values.size
        while pos < n:
            if weights is not None and self._tunit:
                # transition to explicit weights: backfill the implicit
                # 1s.  Re-checked every iteration because an overflow
                # merge below resets the buffer (and the unit flag).
                self._tweight[:self._tcount] = 1.0
                self._tunit = False
            # leave headroom for live centroids like the reference's
            # overflow check (MergingDigest.java:258-260)
            room = self._buffer_size - self._tcount - self._ncentroids - 1
            if room <= 0:
                self._merge_new_values(False, self.compression)
                continue
            take = min(room, n - pos)
            t = self._tcount
            need = t + take
            if need > self._tmean.size:
                grow = min(self._buffer_size, max(need, 4 * self._tmean.size))
                self._tmean = np.resize(self._tmean, grow)
                self._tweight = np.resize(self._tweight, grow)
            self._tmean[t:need] = values[pos:pos + take]
            if weights is None:
                if not self._tunit:
                    # buffer already carries explicit weights from an
                    # earlier append in this merge window — these unit
                    # samples must materialize their 1s
                    self._tweight[t:need] = 1.0
                self._unmerged_weight += take
            else:
                self._tweight[t:need] = weights[pos:pos + take]
                self._unmerged_weight += float(
                    weights[pos:pos + take].sum())
            self._tcount = need
            pos += take

    def merge(self, other: "TDigest") -> None:
        """Absorb ``other`` (compressing it first, MergingDigest.java:313)."""
        other.compress()
        if other._ncentroids == 0:
            return
        self.add_centroids(other._mean[:other._ncentroids],
                           other._weight[:other._ncentroids],
                           other._min, other._max)

    # ------------------------------------------------------------------
    # the merge pass (MergingDigest.java:352-496)
    # ------------------------------------------------------------------

    def _merge_new_values(self, force: bool, compression: float) -> None:
        if self._total_weight == 0 and self._unmerged_weight == 0:
            return
        if force or self._unmerged_weight > 0:
            run_backwards = (self.use_alternating_sort
                             and self._merge_count % 2 == 1)
            self._merge_pass(run_backwards, compression)
            self._merge_count += 1
            self._tcount = 0
            self._unmerged_weight = 0.0
            self._tunit = True

    def _merge_pass(self, run_backwards: bool, compression: float) -> None:
        nc = self._ncentroids
        n = self._tcount + nc
        if n == 0:
            return
        if self._tunit:
            # unit-weight fast path (raw ingest): every buffered sample
            # weighs 1, so equal means are indistinguishable and the
            # buffer can be value-sorted with introsort (no stable
            # mergesort, no index gather).  The live centroids are
            # already sorted; insert buffer values BEFORE equal
            # centroids (side='left' against the centroid array), which
            # reproduces exactly what the stable argsort of
            # [temp, centroids] yields (temp first among equals —
            # README.md:35-42; Sort.java:37-43).  The one tie introsort
            # could reorder visibly, 0.0 vs -0.0, is put back in input
            # order.
            buf = _sort_ties_stable(self._tmean[:self._tcount])
            if nc == 0:
                m = buf
                w = np.ones(n, dtype=np.float64)
            else:
                cpos = self._mean[:nc].searchsorted(buf, side="left")
                # position of each buffer value in the merged array:
                # its buffer rank + number of centroids before it
                m = np.empty(n, dtype=np.float64)
                w = np.ones(n, dtype=np.float64)
                bpos = np.arange(self._tcount, dtype=np.intp) + cpos
                mask = np.ones(n, dtype=bool)
                mask[bpos] = False
                m[bpos] = buf
                m[mask] = self._mean[:nc]
                w[mask] = self._weight[:nc]
        else:
            m = np.concatenate(
                [self._tmean[:self._tcount], self._mean[:nc]])
            w = np.concatenate(
                [self._tweight[:self._tcount], self._weight[:nc]])
            # stable sort — load-bearing for repeated values
            # (README.md:35-42; Sort.java:37-43).  Temp samples come
            # first, matching the reference's buffer layout (temp then
            # spliced live centroids).
            order = np.argsort(m, kind="stable")
            m = m[order]
            w = w[order]
        if run_backwards:
            # MergingDigest.java:400-403: sweep right-to-left.  All
            # normalized scale functions have symmetric max(q) = max(1-q),
            # so the same forward sweep over reversed arrays is exact.
            m = m[::-1]
            w = w[::-1]

        self._total_weight += self._unmerged_weight
        total = self._total_weight
        normalizer = self.scale.normalizer(compression, total)

        starts = self._cluster_starts(w, total, normalizer)

        # segment-wise weighted means (reference updates incrementally,
        # MergingDigest.java:441-442; sum(m*w)/sum(w) is the same value
        # up to fp rounding and exact for singletons)
        seg_w = np.add.reduceat(w, starts)
        seg_mw = np.add.reduceat(m * w, starts)
        out_mean = seg_mw / seg_w
        # keep singleton means exact (no fp round-trip through m*w/w)
        ends = np.append(starts[1:], n)
        single = (ends - starts) == 1
        out_mean[single] = m[starts[single]]
        # sum/total can overshoot the segment's extremes by 1 ulp (the
        # reference's incremental convex update can't — MergingDigest
        # .java:441-442); clamp to the segment's own value range
        # (bounds ordered either way depending on sweep direction)
        b1, b2 = m[starts], m[ends - 1]
        out_mean = np.clip(out_mean, np.minimum(b1, b2),
                           np.maximum(b1, b2))

        if run_backwards:
            out_mean = out_mean[::-1]
            seg_w = seg_w[::-1]

        self._mean = np.ascontiguousarray(out_mean)
        self._weight = np.ascontiguousarray(seg_w)
        self._ncentroids = out_mean.size

        if total > 0:
            self._min = min(self._min, float(self._mean[0]))
            self._max = max(self._max, float(self._mean[-1]))

    def _cluster_starts(self, w: np.ndarray, total: float,
                        normalizer: float) -> np.ndarray:
        """Greedy cluster boundaries over sorted weights.

        Faithful to the reference sweep (MergingDigest.java:421-472)
        including forced singletons at both ends, but organized so
        Python-level iteration is per *output* centroid.
        """
        n = w.size
        if n == 1:
            return np.array([0], dtype=np.intp)
        csum = np.cumsum(w)
        scale = self.scale
        searchsorted = csum.searchsorted
        starts = [0]
        # position 1 never merges into cluster 0 (MergingDigest.java:433-436)
        s = 1
        if self.use_weight_limit:
            # the q2-side cap total*max(csum[j]/total) is independent of the
            # cluster start — precompute it vectorized once per merge so the
            # per-cluster loop below does only O(1) scalar + slice work
            cap2 = total * scale.max_size(csum / total, normalizer)
            # all-singletons fast path (the dominant small-digest shape
            # in high-cardinality grouped aggregation): extending any
            # cluster needs w[s]+w[s+1] <= min(cap0, cap2[s+1]); if even
            # the looser cap2-only test fails for every adjacent pair,
            # the greedy sweep degenerates to one cluster per input —
            # return it without the per-centroid Python loop
            if n > 2 and not np.any(w[1:-1] + w[2:] <= cap2[2:]):
                return np.arange(n, dtype=np.intp)
            # membership test csum[j]-w_start <= min(cap0, cap2[j])
            # splits into j <= hi (the cap0/searchsorted horizon) and
            # excess[j] <= w_start with excess = csum - cap2.  excess
            # is CONVEX in j for every normalized scale (csum is
            # increasing and cap2 = total*max(q) is concave in q), so
            # when neither window endpoint violates, no interior point
            # can — the per-cluster window scan collapses to two
            # scalar lookups; the vectorized scan remains as the exact
            # fallback whenever the endpoints disagree
            excess = csum - cap2
            # cap0 at a cluster starting at s is total*max(csum[s-1]/
            # total) = cap2[s-1] — already computed (max_py and the
            # vectorized max_size are IEEE-identical elementwise, see
            # test_invariants) — so the loop never calls the scale
            # function.  For all-unit weights csum is exactly
            # 1..n, making the cap0 horizon closed-form integer math
            # (no searchsorted): count of csum values <= x is
            # clamp(floor(x), 0, n).
            unit = bool(w[0] == 1.0 and w[-1] == 1.0
                        and (w == 1.0).all())
            floor = math.floor
            while s < n - 1:
                starts.append(s)
                if unit:
                    w_start = float(s)
                    hi = int(floor(s + cap2[s - 1])) - 1
                else:
                    w_start = csum[s - 1]
                    # horizon from the q0 bound alone (an upper bound
                    # since the actual limit is a min with the q2 term)
                    hi = searchsorted(w_start + cap2[s - 1],
                                      side="right") - 1
                if hi > n - 2:
                    hi = n - 2
                if hi <= s:
                    s += 1
                    continue
                if excess[s + 1] > w_start:   # even one member violates
                    s += 1
                    continue
                if excess[hi] <= w_start:     # endpoints OK ⇒ run to hi
                    s = hi + 1
                    continue
                over = excess[s + 1:hi + 1] > w_start
                bad = int(np.argmax(over))
                if over[bad]:        # first excess violation caps the run
                    s = s + 1 + bad
                else:                # none → cluster runs through hi
                    s = hi + 1
        else:
            # same fast path for the k-limit sweep: cluster at s absorbs
            # s+1 iff csum[s+1] <= total*q(k(csum[s-1]/total)+1).  The
            # vectorized scale.k/scale.q (SIMD log/exp) can differ from
            # the loop's k_py/q_py by ulps, so the early-exit predicate
            # is widened by a relative slack: only skip the loop when NO
            # pair is within 4 ulps of absorbing — exact-boundary cases
            # fall through to the scalar loop, keeping the documented
            # greedy semantics bit-identical.
            if n > 2:
                w_lim = total * scale.q(
                    scale.k(csum[:-2] / total, normalizer) + 1, normalizer)
                slack = 4 * np.finfo(np.float64).eps
                if not np.any(csum[2:] <= w_lim + slack * np.abs(w_lim)):
                    return np.arange(n, dtype=np.intp)
            k_py, q_py = scale.k_py, scale.q_py
            while s < n - 1:
                starts.append(s)
                # k-limit: projected csum <= total * q(k(q0) + 1)
                k1 = k_py(csum[s - 1] / total, normalizer)
                w_limit = total * q_py(k1 + 1, normalizer)
                j = searchsorted(w_limit, side="right") - 1
                j = min(max(j, s), n - 2)
                s = j + 1
        if n >= 2:
            # last element always starts its own cluster
            starts.append(n - 1)
        return np.asarray(starts, dtype=np.intp)

    # ------------------------------------------------------------------
    # queries
    # ------------------------------------------------------------------

    def compress(self) -> None:
        """Force pending samples in and re-merge at the *public*
        compression (MergingDigest.java:549-552)."""
        self._merge_new_values(True, self.public_compression)

    def _flush(self) -> None:
        self._merge_new_values(False, self.compression)

    @property
    def size(self) -> float:
        """Total sample weight (MergingDigest.java:554-557)."""
        return self._total_weight + self._unmerged_weight

    def centroid_count(self) -> int:
        self._flush()
        return self._ncentroids

    def centroids(self):
        """(means, weights) ascending by mean, compressed to the public
        compression first (MergingDigest.java:792-825 calls compress())."""
        self.compress()
        return (self._mean[:self._ncentroids].copy(),
                self._weight[:self._ncentroids].copy())

    @property
    def min(self) -> float:
        return self._min if self.size > 0 else math.nan

    @property
    def max(self) -> float:
        return self._max if self.size > 0 else math.nan

    def cdf(self, x: float) -> float:
        """Fraction of samples <= x, midpoint rule for ties
        (MergingDigest.java:559-695)."""
        x = float(x)
        if math.isnan(x) or math.isinf(x):
            raise ValueError(f"Invalid value: {x}")
        self._flush()
        n = self._ncentroids
        if n == 0:
            return math.nan
        mean = self._mean
        weight = self._weight
        total = self._total_weight
        lo, hi = self._min, self._max
        if n == 1:
            width = hi - lo
            if x < lo:
                return 0.0
            if x > hi:
                return 1.0
            if x - lo <= width:
                return 0.5
            return (x - lo) / width
        if x < lo:
            return 0.0
        if x > hi:
            return 1.0
        # left tail (MergingDigest.java:594-609)
        if x < mean[0]:
            if mean[0] - lo > 0:
                if x == lo:
                    return 0.5 / total
                return (1 + (x - lo) / (mean[0] - lo)
                        * (weight[0] / 2 - 1)) / total
            return 0.0
        # right tail (:612-624)
        if x > mean[n - 1]:
            if hi - mean[n - 1] > 0:
                if x == hi:
                    return 1 - 0.5 / total
                dq = (1 + (hi - x) / (hi - mean[n - 1])
                      * (weight[n - 1] / 2 - 1)) / total
                return 1 - dq
            return 1.0
        # interior (:630-686)
        weight_so_far = 0.0
        it = 0
        while it < n - 1:
            if mean[it] == x:
                # run of centroids exactly at x gets half credit (:632-640)
                dw = 0.0
                while it < n and mean[it] == x:
                    dw += weight[it]
                    it += 1
                return (weight_so_far + dw / 2) / total
            if mean[it] <= x < mean[it + 1]:
                if mean[it + 1] - mean[it] > 0:
                    left_excl = 0.0
                    right_excl = 0.0
                    if weight[it] == 1:
                        if weight[it + 1] == 1:
                            # two singletons — no interpolation (:652-656)
                            return (weight_so_far + 1) / total
                        left_excl = 0.5
                    elif weight[it + 1] == 1:
                        right_excl = 0.5
                    dw = (weight[it] + weight[it + 1]) / 2
                    left = mean[it]
                    right = mean[it + 1]
                    dw_no_single = dw - left_excl - right_excl
                    base = weight_so_far + weight[it] / 2 + left_excl
                    return (base + dw_no_single * (x - left)
                            / (right - left)) / total
                # fp-madness guard (:678-684)
                dw = (weight[it] + weight[it + 1]) / 2
                return (weight_so_far + dw) / total
            weight_so_far += weight[it]
            it += 1
        if x == mean[n - 1]:
            return 1 - 0.5 / total
        raise AssertionError("cdf loop fell through")

    def quantile(self, q: float) -> float:
        """Inverse CDF with singleton- and tail-aware interpolation
        (MergingDigest.java:697-783)."""
        q = float(q)
        if q < 0 or q > 1:
            raise ValueError(f"q should be in [0,1], got {q}")
        self._flush()
        n = self._ncentroids
        if n == 0:
            return math.nan
        if n == 1:
            return float(self._mean[0])
        mean = self._mean
        weight = self._weight
        total = self._total_weight
        index = q * total
        if index < 1:
            return self._min
        if weight[0] > 1 and index < weight[0] / 2:
            # one sample is exactly at min (:726-729)
            return self._min + (index - 1) / (weight[0] / 2 - 1) \
                * (mean[0] - self._min)
        if index > total - 1:
            return self._max
        if weight[n - 1] > 1 and total - index <= weight[n - 1] / 2:
            return self._max - (total - index - 1) / (weight[n - 1] / 2 - 1) \
                * (self._max - mean[n - 1])
        weight_so_far = weight[0] / 2
        for i in range(n - 1):
            dw = (weight[i] + weight[i + 1]) / 2
            if weight_so_far + dw > index:
                left_unit = 0.0
                if weight[i] == 1:
                    if index - weight_so_far < 0.5:
                        return float(mean[i])
                    left_unit = 0.5
                right_unit = 0.0
                if weight[i + 1] == 1:
                    if weight_so_far + dw - index <= 0.5:
                        return float(mean[i + 1])
                    right_unit = 0.5
                z1 = index - weight_so_far - left_unit
                z2 = weight_so_far + dw - index - right_unit
                return _weighted_average(float(mean[i]), z2,
                                         float(mean[i + 1]), z1)
            weight_so_far += dw
        z1 = index - total - weight[n - 1] / 2.0
        z2 = weight[n - 1] / 2 - z1
        return _weighted_average(float(mean[n - 1]), z1, self._max, z2)

    def quantiles(self, qs) -> np.ndarray:
        """Vectorized multi-quantile: ``DigestBatch.quantiles`` over a
        batch of this one digest, with the semantics of the scalar
        ``quantile`` walk (differentially tested against it in
        tests/test_invariants.py and tests/test_batch_read.py)."""
        qs = np.atleast_1d(np.asarray(qs, dtype=np.float64))
        return DigestBatch.of(self).quantiles(qs.ravel())[0] \
            .reshape(qs.shape)

    def cdfs(self, xs) -> np.ndarray:
        """Vectorized multi-probe CDF: ``DigestBatch.cdfs`` over a batch
        of this one digest, with the semantics of the scalar ``cdf``
        walk."""
        xs = np.atleast_1d(np.asarray(xs, dtype=np.float64))
        return DigestBatch.of(self).cdfs(xs.ravel())[0].reshape(xs.shape)

    def trimmed_mean(self, q0: float, q1: float) -> float:
        """Mean of the samples between rank-quantiles q0 and q1
        (README capability; computed from centroids A5+A7 per SURVEY
        §2.A8): ``DigestBatch.trimmed_means`` over a batch of one."""
        return float(DigestBatch.of(self).trimmed_means(q0, q1)[0])

    # ------------------------------------------------------------------
    # invariants / diagnostics
    # ------------------------------------------------------------------

    def check_weights(self) -> None:
        """Assert no centroid exceeds its scale-function size limit
        (MergingDigest.java:501-541): k-span <= 1 (soft), hard-fail > 4."""
        self._flush()
        n = self._ncentroids
        if n == 0:
            return
        w = self._weight[:n]
        total = self._total_weight
        normalizer = self.scale.normalizer(self.public_compression, total)
        csum = np.cumsum(w)
        q_left = (csum - w) / total
        q_right = csum / total
        dk = self.scale.k(q_right, normalizer) - self.scale.k(q_left, normalizer)
        bad = (dk > 4.0) & (w > 1)
        if bad.any():
            i = int(np.argmax(bad))
            raise AssertionError(
                f"Oversize centroid at {i}: k-span {dk[i]:.3f} weight {w[i]}")

    def k_spans(self) -> np.ndarray:
        self._flush()
        n = self._ncentroids
        w = self._weight[:n]
        total = self._total_weight
        normalizer = self.scale.normalizer(self.public_compression, total)
        csum = np.cumsum(w)
        return (self.scale.k(csum / total, normalizer)
                - self.scale.k((csum - w) / total, normalizer))

    # ------------------------------------------------------------------
    # serialization (MergingDigest.java:868-936; big-endian)
    # ------------------------------------------------------------------

    def byte_size(self) -> int:
        self.compress()
        return self._ncentroids * 16 + 32

    def small_byte_size(self) -> int:
        self.compress()
        return self._ncentroids * 8 + 30

    def to_bytes(self, compress: bool = True) -> bytes:
        """VERBOSE encoding (MergingDigest.java:868-880).

        ``compress=False`` serializes at the working compression
        (more centroids, ~2x bytes): the right choice for *partial*
        digests that will be merged again — stratified sub-digests at
        delta' > delta merge more accurately (docs/vldb/short.tex:185-198)
        and skipping the final merge pass saves the dominant per-key
        finalize cost in map-side aggregation.
        """
        if compress:
            self.compress()
        else:
            self._flush()
        n = self._ncentroids
        head = struct.pack(">iddd i", _VERBOSE_ENCODING,
                           self._min if n else math.inf,
                           self._max if n else -math.inf,
                           self.public_compression, n)
        pairs = np.empty((n, 2), dtype=">f8")
        pairs[:, 0] = self._weight[:n]
        pairs[:, 1] = self._mean[:n]
        return head + pairs.tobytes()

    def to_small_bytes(self) -> bytes:
        """SMALL encoding, float32 centroids (MergingDigest.java:882-896).

        Note: float32 weights cap per-centroid counts at 2^24 — use the
        VERBOSE form for large-scale shuffle payloads.
        """
        self.compress()
        n = self._ncentroids
        head = struct.pack(">iddf hhh", _SMALL_ENCODING,
                           self._min if n else math.inf,
                           self._max if n else -math.inf,
                           self.public_compression,
                           min(self._size, 0x7FFF),
                           min(self._buffer_size, 0x7FFF), n)
        pairs = np.empty((n, 2), dtype=">f4")
        pairs[:, 0] = self._weight[:n]
        pairs[:, 1] = self._mean[:n]
        return head + pairs.tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes, scale=K_2, **kwargs) -> "TDigest":
        """Decode either encoding (MergingDigest.java:898-936)."""
        mn, mx, compression, n, weights, means = _unpack(buf)
        d = cls(compression, scale=scale, **kwargs)
        d._ncentroids = n
        d._weight = np.ascontiguousarray(weights, dtype=np.float64)
        d._mean = np.ascontiguousarray(means, dtype=np.float64)
        d._total_weight = float(d._weight.sum())
        if n > 0:
            d._min = mn
            d._max = mx
        return d

    def __repr__(self):  # pragma: no cover
        return (f"TDigest(compression={self.public_compression}, "
                f"scale={self.scale.name}, n={self.size}, "
                f"centroids={self._ncentroids})")


def _unpack(buf: bytes):
    """``(min, max, compression, n, weights, means)`` of a VERBOSE or
    SMALL blob (MergingDigest.java:898-936); weights and means are
    zero-copy big-endian views into ``buf``."""
    (encoding,) = _ENCODING.unpack_from(buf, 0)
    if encoding == _VERBOSE_ENCODING:
        mn, mx, compression, n = _VERBOSE_HEAD.unpack_from(buf, 4)
        dtype, offset = ">f8", 32
    elif encoding == _SMALL_ENCODING:
        mn, mx, compression, _sz, _bsz, n = _SMALL_HEAD.unpack_from(buf, 4)
        dtype, offset = ">f4", 30
    else:
        raise ValueError(f"Invalid serialized digest format {encoding}")
    pairs = np.frombuffer(buf, dtype=dtype, count=2 * n, offset=offset)
    return mn, mx, compression, n, pairs[0::2], pairs[1::2]


def _between(x: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """``_weighted_average``'s clamp ``max(lo, min(x, hi))`` as Python
    computes it (a tie keeps the first argument, so a bound's signed
    zero can win), with NaN passing through."""
    x = np.where(hi < x, hi, x)
    return np.where(np.isnan(x) | (x > lo), x, lo)


def _segments(start: np.ndarray, length: np.ndarray) -> list:
    """``(rows, index)`` per distinct non-zero segment length:
    ``index`` is the (len(rows), length) block of those segments' flat
    positions.  A row of such a block sums and accumulates exactly like
    the 1-D slice, which a flat ``np.add.reduceat`` or a zero-padded
    block does not: NumPy's pairwise sum depends on the length."""
    if length.size < 2:         # a batch of one, or no runs of ties
        return [(np.arange(length.size), start[:, None]
                 + np.arange(length[0]))] if length.any() else []
    order = np.argsort(length, kind="stable")
    cuts = np.flatnonzero(np.diff(length[order])) + 1
    return [(rows, start[rows, None] + np.arange(length[rows[0]]))
            for rows in np.split(order, cuts)
            if rows.size and length[rows[0]]]


def _seg_cumsum(x: np.ndarray, segments: list) -> np.ndarray:
    """``x`` with every segment replaced by its ``np.cumsum``."""
    out = x.copy()
    for _, idx in segments:
        out[idx] = np.cumsum(x[idx], axis=1)
    return out


def _be(buf: np.ndarray, pos: np.ndarray, dtype: str, count: int = 1):
    """``count`` big-endian ``dtype`` values read at each byte offset
    ``pos`` of the byte array ``buf``: shape (len(pos),), or
    (len(pos), count)."""
    dt = np.dtype(dtype)
    if pos.size == 0:
        return np.empty((0, count) if count > 1 else 0, dt)
    k = dt.itemsize * count
    win = np.lib.stride_tricks.as_strided(
        buf, (buf.size - k + 1, k), (1, 1), writeable=False)
    out = win[pos].view(dt)
    return out if count > 1 else out.reshape(-1)


def _decode(blobs):
    """``(live, n, lo, hi, comp, nbytes, mean, weight)`` of a pyarrow
    ``binary`` or ``large_binary`` array of VERBOSE/SMALL blobs
    (MergingDigest.java:898-936), read from its buffers: ``live`` per
    row, the header fields and blob length per live row, and every live
    row's centroids, in row order, as float64."""
    d = len(blobs)
    _, offsets, data = blobs.buffers()
    odt = np.dtype(np.int64 if str(blobs.type) == "large_binary"
                   else np.int32)
    off = (np.frombuffer(offsets, odt, d + 1, blobs.offset * odt.itemsize)
           .astype(np.int64) if d else np.zeros(1, np.int64))
    buf = np.frombuffer(data, np.uint8) if data is not None \
        else np.empty(0, np.uint8)
    live = np.ones(d, bool) if blobs.null_count == 0 \
        else blobs.is_valid().to_numpy(zero_copy_only=False)
    s = off[:-1][live]
    size = off[1:][live] - s
    if (size < 30).any():
        raise ValueError("truncated digest blob")
    enc = _be(buf, s, ">i4")
    verbose = enc == _VERBOSE_ENCODING
    small = enc == _SMALL_ENCODING
    if not (verbose | small).all():
        raise ValueError("Invalid serialized digest format "
                         f"{enc[~(verbose | small)][0]}")
    head = np.where(verbose, 32, 30)
    width = np.where(verbose, 16, 8)
    if (size < head).any():
        raise ValueError("truncated digest blob")
    n = np.empty(s.size, np.int64)
    comp = np.empty(s.size)
    n[verbose] = _be(buf, s[verbose] + 28, ">i4")
    n[small] = _be(buf, s[small] + 28, ">i2")
    comp[verbose] = _be(buf, s[verbose] + 20, ">f8")
    comp[small] = _be(buf, s[small] + 20, ">f4")
    if ((n < 0) | (head + width * n > size)).any():
        raise ValueError("truncated digest blob")
    first = np.zeros(s.size, np.int64)
    np.cumsum(n[:-1], out=first[1:])
    if verbose.all() and (s % 8 == s[:1] % 8).all():
        # every pair is two slots of one big-endian float64 view
        r = int(s[0] % 8) if s.size else 0
        slots = np.frombuffer(buf, ">f8", (buf.size - r) // 8, r)
        at = np.arange(0, 2 * int(n.sum()), 2)
        at += np.repeat((s + 32 - r) // 8 - 2 * first, n)
        weight = slots[at]
        at += 1
        mean = slots[at]
        del at
        # swap the gathered copies in place, then read them natively
        mean, weight = (x.byteswap(inplace=True).view(
            x.dtype.newbyteorder()) for x in (mean, weight))
        return (live, n, _be(buf, s + 4, ">f8"), _be(buf, s + 12, ">f8"),
                comp, size, mean, weight)
    # byte offset of every centroid pair, in row order
    pos = np.repeat(s + head - width * first, n) \
        + np.repeat(width, n) * np.arange(int(n.sum()))
    mean = np.empty(pos.size)
    weight = np.empty(pos.size)
    wide = np.repeat(verbose, n)
    for rows, dtype in ((wide, ">f8"), (~wide, ">f4")):
        pairs = _be(buf, pos[rows], dtype, 2)
        weight[rows] = pairs[:, 0]
        mean[rows] = pairs[:, 1]
    return (live, n, _be(buf, s + 4, ">f8"), _be(buf, s + 12, ">f8"), comp,
            size, mean, weight)


class DigestBatch:
    """Many digests in one flat centroid layout, read together.

    Digest ``i``'s centroids are ``mean[start[i]:start[i] + count[i]]``
    (ascending) with their ``weight``s; ``total``, ``lo`` and ``hi`` are
    its total weight, min and max, ``comp`` its public compression and
    ``nbytes`` its blob's length.  A row that is not ``live`` (a NULL
    blob) reads as NaN, or 0 for counts.

    The reads (``quantiles``, ``cdfs``, ``trimmed_means``, ``size``,
    ``extremes``) are the formulas of MergingDigest.java:559-783
    re-expressed over cumulative weights and a per-digest
    ``searchsorted``, for every row at once, with the weights summed in
    the order the scalar ``TDigest.quantile``/``cdf`` walks sum them:
    those walks stay as the bit-for-bit oracle, and
    ``TDigest.quantiles``/``cdfs``/``trimmed_mean`` are a batch of one,
    so each formula exists only here.  A read costs a fixed number of
    NumPy calls, except the per-digest sums and prefix sums, which run
    once per distinct centroid count (and ``cdfs``' sums of runs of
    equal means, once per distinct run length): NumPy's pairwise sum
    must see each digest's own length to give the bits of
    ``weight[a:b].sum()`` — the total ``TDigest.from_bytes`` reads
    with.  Temporaries are O(centroids + digests x probes).
    """

    __slots__ = ("mean", "weight", "start", "count", "total", "lo", "hi",
                 "comp", "nbytes", "live", "_owner", "_segs")

    def __init__(self, mean, weight, count, live, lo, hi, comp, nbytes,
                 total=None):
        self.count = count
        self.start = np.zeros(count.size, np.int64)
        np.cumsum(count[:-1], out=self.start[1:])
        # two trailing sentinels keep index i + 1 of a digest with fewer
        # than two centroids in bounds; what they give is masked
        self.mean = np.concatenate([mean, (0.0, 0.0)])
        self.weight = np.concatenate([weight, (1.0, 1.0)])
        self.live, self.lo, self.hi = live, lo, hi
        self.comp, self.nbytes = comp, nbytes
        self._owner = np.repeat(np.arange(count.size), count)
        self._segs = _segments(self.start, count)
        self.total = self._sums(weight) if total is None else total

    @classmethod
    def of(cls, digest: TDigest) -> "DigestBatch":
        """A batch of one live digest, flushed, read with its own
        running total."""
        digest._flush()
        n = digest._ncentroids
        lo, hi, comp, total = ([v] for v in (
            digest._min, digest._max, digest.public_compression,
            digest._total_weight))
        return cls(digest._mean[:n], digest._weight[:n], np.array([n]),
                   np.ones(1, bool), np.array(lo), np.array(hi),
                   np.array(comp), np.zeros(1, np.int64), np.array(total))

    @classmethod
    def from_arrow(cls, blobs) -> "DigestBatch":
        """Decode a pyarrow ``binary`` or ``large_binary`` array of
        VERBOSE/SMALL blobs (MergingDigest.java:898-936) from its
        buffers: no ``bytes`` object per row.  A NULL row is not
        live."""
        live, n, lo, hi, comp, size, mean, weight = _decode(blobs)

        def full(v, fill, dtype=np.float64):
            out = np.full(live.size, fill, dtype)
            out[live] = v
            return out

        return cls(mean, weight, full(n, 0, np.int64), live,
                   full(lo, np.nan), full(hi, np.nan),
                   # TDigest(compression) lifts a compression below 10
                   full(np.where(comp < 10, 10.0, comp), np.nan),
                   full(size, 0, np.int64))

    # -- per-digest sums, bit for bit ----------------------------------

    def _sums(self, x: np.ndarray) -> np.ndarray:
        """Per-digest ``x[a:b].sum()``."""
        out = np.zeros(self.count.size)
        for rows, idx in self._segs:
            out[rows] = x[idx].sum(axis=1)
        return out

    def _search(self, hay, d, x, side: str) -> np.ndarray:
        """``np.searchsorted(hay[a:b], x[j], side)`` within the slice of
        digest ``d[j]``, for every probe in one search over (digest,
        value) keys, which complex numbers order real part first.  NaN
        probes search as +inf: for side="right", NumPy's own answer."""
        keys = np.empty(self._owner.size, np.complex128)
        keys.real = self._owner
        keys.imag = hay[:self._owner.size]
        probe = np.empty(x.size, np.complex128)
        probe.real = d
        probe.imag = np.where(np.isnan(x), np.inf, x)
        return keys.searchsorted(probe, side) - self.start[d]

    def _probes(self, ps) -> np.ndarray:
        """One probe list for every digest, or one row per digest, as
        a (digests, probes) array."""
        ps = np.asarray(ps, dtype=np.float64)
        if ps.ndim < 2:
            ps = ps.reshape(1, -1)
        return np.broadcast_to(ps, (self.count.size, ps.shape[1]))

    # -- reads ---------------------------------------------------------

    @property
    def size(self) -> np.ndarray:
        """Total weight per digest (``TDigest.size``)."""
        return np.where(self.live, self.total, np.nan)

    def extremes(self):
        """``(min, max)`` per digest (``TDigest.min``/``max``)."""
        has = self.live & (self.total > 0)
        return np.where(has, self.lo, np.nan), np.where(has, self.hi, np.nan)

    def quantiles(self, qs) -> np.ndarray:
        """(digests, probes) quantiles (MergingDigest.java:697-783): the
        scalar ``TDigest.quantile`` walk, re-expressed.  A q outside
        [0, 1] on a live row raises ValueError; a NaN q gives NaN."""
        q = self._probes(qs)
        bad = self.live[:, None] & ((q < 0) | (q > 1))
        if bad.any():
            raise ValueError(f"q should be in [0,1], got {q[bad][0]}")
        shape = q.shape
        d = np.repeat(np.arange(shape[0]), shape[1])
        m, w = self.mean, self.weight
        n, o = self.count[d], self.start[d]
        total, lo, hi = self.total[d], self.lo[d], self.hi[d]
        index = q.ravel() * total
        # weightSoFar before interval i, accumulated as the scalar walk
        # does: w[0]/2, then += (w[i-1] + w[i])/2
        half = np.empty_like(w)
        half[1:] = (w[:-1] + w[1:]) / 2
        half[self.start] = w[self.start] / 2
        wsf = _seg_cumsum(half, self._segs)
        # interval i brackets index when wsf[i+1] > index >= wsf[i]
        i = o + np.clip(self._search(wsf, d, index, "right") - 1, 0,
                        np.maximum(n - 2, 0))
        last = o + n - 1
        wl, wr, ml, mr, wsf_i = w[i], w[i + 1], m[i], m[i + 1], wsf[i]
        w0, m0, wn, mn = w[o], m[o], w[last], m[last]
        dw = (wl + wr) / 2
        left_unit = np.where(wl == 1, 0.5, 0.0)
        right_unit = np.where(wr == 1, 0.5, 0.0)
        z1 = index - wsf_i - left_unit
        z2 = wsf_i + dw - index - right_unit
        # every branch value is computed eagerly and masked by np.where,
        # so 0/0 (two bracketing singletons: z1+z2==0; weight-2 tail
        # centroid: w/2-1==0) is expected and masked
        with np.errstate(invalid="ignore", divide="ignore"):
            out = _between((ml * z2 + mr * z1) / (z2 + z1), ml, mr)
            # singleton spheres (no interpolation inside unit-weight
            # centroids)
            out = np.where((wr == 1) & (wsf_i + dw - index <= 0.5), mr, out)
            out = np.where((wl == 1) & (index - wsf_i < 0.5), ml, out)
            # fallthrough past the last interval: interpolate out to max
            # (the scalar loop falls through when index >= wsf[n-1])
            fz1 = index - total - wn / 2.0
            fz2 = wn / 2 - fz1
            out = np.where(index >= wsf[last], _between(
                (mn * fz1 + hi * fz2) / (fz1 + fz2), mn, hi), out)
            # tails (evaluated last: they take precedence, matching the
            # scalar early returns)
            out = np.where((wn > 1) & (total - index <= wn / 2),
                           hi - (total - index - 1) / (wn / 2 - 1)
                           * (hi - mn), out)
            out = np.where(index > total - 1, hi, out)
            out = np.where((w0 > 1) & (index < w0 / 2),
                           lo + (index - 1) / (w0 / 2 - 1) * (m0 - lo), out)
        out = np.where(index < 1, lo, out)
        out = np.where(n == 1, m0, out)
        out[(n == 0) | ~self.live[d]] = np.nan
        return out.reshape(shape)

    def cdfs(self, xs) -> np.ndarray:
        """(digests, probes) CDFs, midpoint rule for ties
        (MergingDigest.java:559-695): the scalar ``TDigest.cdf`` walk,
        re-expressed.  A NaN or infinite x on a live row raises
        ValueError."""
        x = self._probes(xs)
        bad = self.live[:, None] & ~np.isfinite(x)
        if bad.any():
            raise ValueError(f"Invalid value: {x[bad][0]}")
        shape = x.shape
        d = np.repeat(np.arange(shape[0]), shape[1])
        x = x.ravel()
        m, w = self.mean, self.weight
        n, o = self.count[d], self.start[d]
        total, lo, hi = self.total[d], self.lo[d], self.hi[d]
        # weightSoFar before centroid i, and the weight of a run of
        # equal means summed from the run's start, as the scalar walk
        # accumulates them
        wsf = np.zeros_like(w)
        wsf[1:] = _seg_cumsum(w, self._segs)[:-1]
        wsf[self.start] = 0.0
        c = self._owner.size
        new = np.ones(c, bool)
        new[1:] = m[1:c] != m[:c - 1]
        new[self.start[self.count > 0]] = True
        rs = np.flatnonzero(new)
        rl = np.diff(np.append(rs, c))
        run = _seg_cumsum(w, _segments(rs[rl > 1], rl[rl > 1]))
        j0 = self._search(m, d, x, "left")
        j1 = self._search(m, d, x, "right")
        # interior interpolation (non-tie): m[it] < x < m[it+1]
        it = o + np.clip(j0 - 1, 0, np.maximum(n - 2, 0))
        li, ri, wl, wr = m[it], m[it + 1], w[it], w[it + 1]
        last = o + n - 1
        w0, m0, wn, mn = w[o], m[o], w[last], m[last]
        left_excl = np.where(wl == 1, 0.5, 0.0)
        right_excl = np.where((wr == 1) & (wl != 1), 0.5, 0.0)
        dw = (wl + wr) / 2
        dw_no_single = dw - left_excl - right_excl
        base = wsf[it] + wl / 2 + left_excl
        with np.errstate(invalid="ignore", divide="ignore"):
            out = (base + dw_no_single * (x - li) / (ri - li)) / total
            # fp-madness guard (:678-684): zero-width gap
            out = np.where(ri - li > 0, out, (wsf[it] + dw) / total)
            out = np.where((wl == 1) & (wr == 1), (wsf[it] + 1) / total,
                           out)
            # tie: x lands on a run of equal means [j0, j1) — half credit
            run_w = np.where(j1 > j0, run[o + np.minimum(j1, n) - 1], 0.0)
            out = np.where(j1 > j0, np.where(
                j0 >= n - 1, 1 - 0.5 / total,
                (wsf[o + np.minimum(j0, n - 1)] + run_w / 2) / total), out)
            # right tail: x > m[n-1] (and not past max)
            rt = 1 - (1 + (hi - x) / (hi - mn) * (wn / 2 - 1)) / total
            rt = np.where(hi - mn > 0, rt, 1.0)
            rt = np.where(x == hi, 1 - 0.5 / total, rt)
            out = np.where((x > mn) & (j1 == j0), rt, out)
            # left tail: x < m[0]
            lt = (1 + (x - lo) / (m0 - lo) * (w0 / 2 - 1)) / total
            lt = np.where(m0 - lo > 0, lt, 0.0)
            lt = np.where(x == lo, 0.5 / total, lt)
            out = np.where(x < m0, lt, out)
            # one centroid (:568-580)
            width = hi - lo
            one = np.where((x >= lo) & (x <= hi) & (x - lo > width),
                           np.where(width > 0, (x - lo) / width, x * 0.0),
                           0.5)
        out = np.where(n == 1, one, out)
        # outside the observed range
        out = np.where(x < lo, 0.0, out)
        out = np.where(x > hi, 1.0, out)
        out[(n == 0) | ~self.live[d]] = np.nan
        return out.reshape(shape)

    def trimmed_means(self, q0, q1) -> np.ndarray:
        """Per-digest mean of the samples between rank-quantiles q0 and
        q1 (scalars, or one per digest): each centroid's weight is
        clipped to the [q0*N, q1*N] rank window by cumulative rank.
        Unless 0 <= q0 < q1 <= 1 on every live row, ValueError."""
        q0, q1 = (np.broadcast_to(np.asarray(q, dtype=np.float64),
                                  self.count.shape) for q in (q0, q1))
        if (self.live & ~((0 <= q0) & (q0 < q1) & (q1 <= 1))).any():
            raise ValueError("need 0 <= q0 < q1 <= 1")
        c, own = self._owner.size, self._owner
        right = _seg_cumsum(self.weight, self._segs)[:c]
        left = right - self.weight[:c]
        take = np.clip(np.minimum(right, (q1 * self.total)[own])
                       - np.maximum(left, (q0 * self.total)[own]), 0, None)
        tw = self._sums(take)
        with np.errstate(invalid="ignore", divide="ignore"):
            # an infinite mean outside the window gives inf * 0
            out = self._sums(self.mean[:c] * take) / tw
        out[(tw <= 0) | (self.count == 0) | ~self.live] = np.nan
        return out


def _sort_ties_stable(x: np.ndarray) -> np.ndarray:
    """``np.sort(x, kind="stable")`` for NaN-free floats at introsort
    speed: 0.0 and -0.0 are the only equal values with different bits,
    so only the run of zeros needs its input order restored."""
    s = np.sort(x)
    lo, hi = s.searchsorted(0.0, "left"), s.searchsorted(0.0, "right")
    if hi - lo > 1:
        s[lo:hi] = x[x == 0]
    return s


# probe digests for try_singleton_blob, one per (compression,
# buffer_size, scale-name): only read for their derived working
# compression / flag set, never mutated; paired with a per-n
# eligibility memo holding only n < buffer size
_SINGLETON_PROBES: dict = {}


def _singletons_survive(probe: "TDigest", n: int) -> bool:
    """Would a single merge pass over n unit-weight samples keep every
    sample as its own centroid?  Evaluates the SAME all-singletons
    early-exit predicate ``_cluster_starts`` uses, with the probe's
    working compression.  The caller keeps n below the buffer size."""
    if n <= 2:
        return True
    total = float(n)
    sc = probe.scale
    normalizer = sc.normalizer(probe.compression, total)
    csum = np.arange(1.0, total + 1.0)
    if probe.use_weight_limit:
        cap2 = total * sc.max_size(csum / total, normalizer)
        return not np.any(cap2[2:] >= 2.0)
    w_lim = total * sc.q(
        sc.k(csum[:-2] / total, normalizer) + 1, normalizer)
    slack = 4 * np.finfo(np.float64).eps
    return not np.any(csum[2:] <= w_lim + slack * np.abs(w_lim))


def try_singleton_blob(values: np.ndarray, compression: float = 100.0,
                       buffer_size: int = -1, scale=K_2) -> bytes | None:
    """VERBOSE partial blob of sorted unit-weight singletons — or None.

    Bit-identical fast path for ``TDigest(compression, buffer_size,
    scale=scale).add_batch(values); to_bytes(compress=False)`` in the
    high-cardinality grouped-aggregation shape (many keys, few samples
    each), where the full path's per-key fixed cost (digest
    construction + merge pass + cluster sweep) measured ~55 us/key vs
    ~3 us for a sort+pack.  Eligibility is decided by the SAME
    all-singletons early-exit predicate ``_cluster_starts`` uses: when
    no adjacent pair of unit weights can merge under the working
    compression, the merge pass provably returns every sample as its
    own centroid, so serializing the sorted samples directly yields the
    exact bytes the full path would (asserted over a sweep in
    tests/test_spark_agg.py).  Returns None when a merge could occur
    (caller falls back to the real digest) — correctness never depends
    on the predicate being tight.

    ``values`` must be non-empty, NaN-free, unit-weight.
    """
    n = values.size
    key = (compression, buffer_size, get_scale(scale).name)
    entry = _SINGLETON_PROBES.get(key)
    if entry is None:
        entry = _SINGLETON_PROBES[key] = (
            TDigest(compression, buffer_size=buffer_size, scale=scale), {})
    probe, elig_cache = entry
    if n >= probe._buffer_size:
        # one add_batch must fit the buffer without an overflow merge;
        # checked before the memo, which large n would grow unbounded
        return None
    # eligibility depends only on n for unit weights — memoize it (the
    # predicate costs ~25 us vectorized; group sizes repeat heavily
    # within a task)
    ok = elig_cache.get(n)
    if ok is None:
        ok = _singletons_survive(probe, n)
        elig_cache[n] = ok
    if not ok:
        return None
    # stable, like the full path: 0.0 and -0.0 tie but differ in their
    # bytes — so a zero at either end is re-read the way add_batch
    # takes its min/max
    s = np.sort(values, kind="stable")
    mn, mx = float(s[0]), float(s[-1])
    if mn == 0:
        mn = float(values.min())
    if mx == 0:
        mx = float(values.max())
    head = struct.pack(">iddd i", _VERBOSE_ENCODING, mn, mx,
                       probe.public_compression, n)
    pairs = np.empty((n, 2), dtype=">f8")
    pairs[:, 0] = 1.0
    pairs[:, 1] = s
    return head + pairs.tobytes()


def _weighted_average(x1: float, w1: float, x2: float, w2: float) -> float:
    """Clamped weighted average (AbstractTDigest.java:32-52)."""
    if x1 <= x2:
        x = (x1 * w1 + x2 * w2) / (w1 + w2)
        # NaN propagates, like Java's Math.min/max
        return x if math.isnan(x) else max(x1, min(x, x2))
    return _weighted_average(x2, w2, x1, w1)


def _merge_parts(parts, compression, scale, buffer_size) -> TDigest:
    """Concatenate the non-empty ``(min, max, compression, n, weights,
    means)`` parts' centroids, then one merge pass; the first one's
    compression is the default."""
    means, weights = [], []
    mn, mx = math.inf, -math.inf
    comp = None
    total_centroids = 0
    for pmn, pmx, pcomp, n, w, m in parts:
        if n == 0:
            continue
        if comp is None:
            comp = float(pcomp)
        weights.append(w)
        means.append(m)
        mn = min(mn, pmn)
        mx = max(mx, pmx)
        total_centroids += n
    if compression is None:
        compression = comp or 100.0
    # size the temp buffer to swallow every incoming centroid in ONE
    # merge pass, like the reference add(List) (MergingDigest.java:307-350)
    if buffer_size == -1:
        buffer_size = max(total_centroids + int(4 * compression) + 64, 2048)
    out = TDigest(compression, buffer_size=buffer_size, scale=scale)
    if total_centroids:
        out.add_centroids(np.concatenate(means), np.concatenate(weights),
                          mn, mx)
    return out


def _digest_part(d: TDigest):
    d._flush()
    n = d._ncentroids
    return (d._min, d._max, d.public_compression, n, d._weight[:n],
            d._mean[:n])


def merge_digests(digests, compression: float | None = None,
                  scale=None, buffer_size: int = -1) -> TDigest:
    """Merge a sequence of digests into a new one
    (MergingDigest.add(List) — MergingDigest.java:307-350): concatenate
    all centroid arrays, then a single merge pass.

    This is the reduce step for distributed aggregation; accuracy bound
    for arbitrary splits per AccuracyTest.java:131-151.
    """
    digests = [d for d in digests if d is not None and d.size > 0]
    if not digests:
        return TDigest(compression or 100.0)
    if scale is None:
        scale = digests[0].scale
    return _merge_parts(map(_digest_part, digests), compression, scale,
                        buffer_size)


def merge_blobs(blobs, compression: float | None = None, scale=None,
                buffer_size: int = -1) -> TDigest:
    """Merge SERIALIZED digests without constructing a TDigest per blob.

    Semantically identical to
    ``merge_digests([TDigest.from_bytes(b) for b in blobs])`` but the
    per-blob work is one header unpack + one zero-copy ``frombuffer``
    view — no object construction, no per-digest flush.  This is the
    stage-2 hot path: a grouped aggregation at P partitions x K keys
    merges P blobs per key, so blob decode dominates the reduce.
    """
    return _merge_parts(map(_unpack, blobs), compression,
                        K_2 if scale is None else scale, buffer_size)


# merge_blob_groups merges its groups in slices of about this many blob
# bytes (a VERBOSE centroid is 16): 2^17 centroids' worth
_SLICE_BYTES = 1 << 21
# ... and runs its elementwise steps and block sorts over at most this
# many centroids at a time
_BLOCK = 1 << 16


def _argsort_stable(x: np.ndarray) -> np.ndarray:
    """``np.argsort(x, kind="stable")`` at introsort speed: only equal
    values (0.0 and -0.0 among them) and the NaNs sorted last can come
    out of input order, so their indices are put back in order."""
    o = np.argsort(x)
    v = x[o]
    tie = v[1:] == v[:-1]
    if tie.any():
        run = np.cumsum(np.r_[True, ~tie])
        t = np.flatnonzero(np.r_[tie, False] | np.r_[False, tie])
        o[t] = np.sort(run[t] * x.size + o[t]) % x.size
    if v.size and v[-1] != v[-1]:
        nan = np.isnan(v)
        o[nan] = np.sort(o[nan])
    return o


def _sort_groups(mean, weight, start, length, runs) -> None:
    """Stable-sort each segment ``[start, start + length)`` of ``mean``
    in place, carrying ``weight`` along; ``runs`` is the number of
    sorted runs (blobs) the segment is made of.  A segment of many runs
    sorts on its own (introsort, ``_argsort_stable``); those of a few
    runs, which the stable sort merges in about linear time, sort
    together in 2-D blocks of similar length (within 25%), one
    NaN-padded row each, a fixed number of NumPy calls per block."""
    few = runs <= 4
    for a, n in zip(start[~few].tolist(), length[~few].tolist()):
        o = _argsort_stable(mean[a:a + n])
        mean[a:a + n] = mean[a:a + n][o]
        weight[a:a + n] = weight[a:a + n][o]
    start, length = start[few], length[few]
    step = 1 << np.maximum(np.log2(np.maximum(length, 1)).astype(np.int64)
                           - 2, 0)
    width = -(-length // step) * step
    for w in np.unique(width).tolist():
        rows = np.flatnonzero(width == w)
        for part in np.array_split(rows, -(-rows.size * w // _BLOCK)):
            _sort_block(mean, weight, start[part], length[part], w)


def _sort_block(mean, weight, st, ln, w: int) -> None:
    """``_sort_groups``' stable sort of the segments ``[st, st + ln)``
    as the NaN-padded rows of one (len(st), w) block."""
    valid = np.arange(w) < ln[:, None]
    at = np.repeat(st - np.cumsum(ln) + ln, ln) + np.arange(ln.sum())
    block = np.full(valid.shape, np.nan)
    block[valid] = mean[at]
    src = (np.argsort(block, kind="stable") + st[:, None])[valid]
    mean[at] = mean[src]
    weight[at] = weight[src]


def _horizon(keys: np.ndarray, rank: np.ndarray,
             x: np.ndarray) -> np.ndarray:
    """Per probe, the count of ``keys`` up to ``(rank, x)``: keys are
    ``(group rank, csum)`` pairs as complex numbers, which NumPy orders
    real part first, so one ``searchsorted`` (side="right") answers
    every group's own search of its prefix sums."""
    probe = np.empty(x.size, np.complex128)
    probe.real = rank
    probe.imag = x
    return keys.searchsorted(probe, "right")


def _first_over(x: np.ndarray, lo: np.ndarray, hi: np.ndarray,
                limit: np.ndarray) -> np.ndarray:
    """Per window ``[lo[i], hi[i]]`` of ``x``, the first index j with
    ``x[j] > limit[i]``; every window must hold one."""
    width = hi - lo + 1
    j = np.repeat(lo - np.cumsum(width) + width, width) \
        + np.arange(int(width.sum()))
    who = np.repeat(np.arange(lo.size), width)
    over = np.flatnonzero(x[j] > limit[who])
    return j[over[np.r_[True, who[over[1:]] != who[over[:-1]]]]]


def _first_min(x: np.ndarray, grp: np.ndarray, size: int) -> np.ndarray:
    """Per group of the non-decreasing ids ``grp``, the first ``x``
    equal to the group's minimum, as Python's running ``min`` over the
    group picks it (a tie keeps the earlier value, so of -0.0 and 0.0
    the first wins); +inf for a group with no value."""
    out = np.full(size, np.inf)
    np.minimum.at(out, grp, x)
    hit = np.flatnonzero(x == out[grp])
    hit = hit[np.r_[True, grp[hit[1:]] != grp[hit[:-1]]]] if hit.size \
        else hit
    out[grp[hit]] = x[hit]
    return out


def merge_blob_groups(blobs, offsets, compression: float = 100.0,
                      scale=K_2):
    """Merge every group of serialized digests at once: ``blobs`` is a
    pyarrow binary array of VERBOSE/SMALL blobs in group order, group
    ``g`` is ``blobs[offsets[g]:offsets[g + 1]]``, and the result is a
    pyarrow binary array of one VERBOSE blob per group, byte for byte
    ``merge_blobs(group, compression, scale).to_bytes()``.

    The steps of ``_merge_parts`` + ``_merge_pass``, for every group in
    one flat centroid layout: decode (``_decode``), a stable sort of
    each group that is not already in order, the group's total and
    prefix sums as the scalar path sums them (``_segments``), ``cap2``
    and ``excess`` over the whole layout, then the greedy sweep of
    ``_cluster_starts`` run in lockstep: one iteration advances every
    group's current cluster, so the loop runs as many times as the
    longest group has clusters, each a fixed number of NumPy calls.
    The scalar sweep stays as the single-digest path and this kernel's
    oracle (tests/test_batch_merge.py).  Groups are merged in slices of
    about ``_SLICE_BYTES`` of blobs, so the temporaries stay a few
    times the slice's centroids, whatever the input's size."""
    import pyarrow as pa
    import pyarrow.compute as pc

    scale = get_scale(scale)
    comp = float(compression)
    comp = 10.0 if comp < 10 else comp   # as TDigest(compression)
    offsets = np.asarray(offsets, np.int64)
    if blobs.null_count:
        raise ValueError("cannot merge a NULL digest blob")
    size = np.zeros(len(blobs) + 1, np.int64)
    np.cumsum(pc.binary_length(blobs).to_numpy(), out=size[1:])
    cut = size[offsets[1:]] // _SLICE_BYTES
    cut = np.r_[0, np.flatnonzero(np.diff(cut)) + 1, offsets.size - 1]
    out = [_merge_groups(blobs.slice(offsets[a], offsets[b] - offsets[a]),
                         offsets[a:b + 1] - offsets[a], comp, scale)
           for a, b in zip(cut[:-1].tolist(), cut[1:].tolist())]
    return out[0] if len(out) == 1 else pa.concat_arrays(out)


def _merge_groups(blobs, offsets, comp: float, scale):
    """``merge_blob_groups`` over one slice of groups, at the public
    compression ``comp``."""
    import pyarrow as pa

    ngroups = offsets.size - 1
    _, nb, lo, hi, _, _, mean, weight = _decode(blobs)
    bgrp = np.repeat(np.arange(ngroups), np.diff(offsets))
    # the header extremes: the parts' recorded min/max (empty parts
    # skipped, NaN never wins), as _merge_parts takes them
    part = nb > 0
    mn = _first_min(np.where(np.isnan(lo[part]), np.inf, lo[part]),
                    bgrp[part], ngroups)
    mx = -_first_min(np.where(np.isnan(hi[part]), np.inf, -hi[part]),
                     bgrp[part], ngroups)
    # group g's centroids are mean[cstart[g]:cend[g]], in blob order
    cn = np.zeros(nb.size + 1, np.int64)
    np.cumsum(nb, out=cn[1:])
    cstart, cend = cn[offsets[:-1]], cn[offsets[1:]]
    count = cend - cstart
    c = mean.size
    some = np.flatnonzero(count > 0)
    full = cstart[some]
    # an all-unit group's total and prefix sums are exact integers;
    # other groups sum their weights as the scalar path does, the total
    # in input order (_append), the prefix sums after the sort
    unit = np.ones(ngroups, bool)
    unit[some] = np.logical_and.reduceat(weight == 1.0, full)
    total = count.astype(np.float64)
    segs = [(np.flatnonzero(~unit)[rows], idx) for rows, idx in
            _segments(cstart[~unit], count[~unit])]
    for rows, idx in segs:
        total[rows] = weight[idx].sum(axis=1)
    # stable sort of each group whose concatenated means are out of
    # order (a one-blob group never is)
    down = np.zeros(c, bool)
    down[1:] = ~(mean[1:] >= mean[:-1])
    down[full] = False
    todo = some[np.logical_or.reduceat(down, full)] if c else some
    del down
    _sort_groups(mean, weight, cstart[todo], count[todo],
                 np.diff(offsets)[todo])
    csum = np.arange(1.0, c + 1.0)
    csum -= np.repeat(cstart.astype(np.float64), count)
    for rows, idx in segs:
        csum[idx] = np.cumsum(weight[idx], axis=1)
    del segs
    # per-group normalizer from the scalar scale function; cap2 and
    # excess elementwise with each centroid's group total
    norm = np.ones(ngroups)
    norm[some] = [scale.normalizer(comp, t) for t in total[some].tolist()]
    # with the all-singletons early exit's test: a group sweeps only if
    # some adjacent pair w[j-1] + w[j] <= cap2[j] at local j >= 2
    cap2, excess, pair = np.empty(c), np.empty(c), np.zeros(c, bool)
    for a in range(0, c, _BLOCK):
        b = min(a + _BLOCK, c)
        own = cend.searchsorted(np.arange(a, b), "right")
        t = total[own]
        cap2[a:b] = t * scale.max_size(csum[a:b] / t, norm[own])
        excess[a:b] = csum[a:b] - cap2[a:b]
        j = max(a, 1)
        pair[j:b] = weight[j - 1:b - 1] + weight[j:b] <= cap2[j:b]
    pair[full] = False
    pair[np.minimum(full + 1, c - 1)] = False
    sweeps = count > 2
    sweeps[some] &= np.logical_or.reduceat(pair, full) if c else False
    del pair
    # the search keys of the sweeping groups that are not all-unit:
    # (rank, csum) pairs, so one searchsorted finds each group's own
    # horizon (_horizon)
    g = np.flatnonzero(sweeps)
    other = g[~unit[g]]
    klen = count[other]
    kbase = np.zeros(g.size, np.int64)
    kbase[~unit[g]] = np.cumsum(klen) - klen
    krank = np.zeros(g.size, np.int64)
    krank[~unit[g]] = np.arange(other.size)
    keys = np.empty(int(klen.sum()), np.complex128)
    keys.real = np.repeat(np.arange(other.size), klen)
    keys.imag = csum[np.repeat(cstart[other] - kbase[~unit[g]], klen)
                     + np.arange(keys.size)]
    del csum
    is_start = np.ones(c, bool)
    is_start[np.repeat(sweeps, count)] = False
    is_start[full] = True
    is_start[(cend - 1)[count > 1]] = True
    # the sweeping groups' state, one column each: start of the group,
    # current cluster start s, last s allowed, unit flag, and the
    # group's rank and start in the keys
    state = np.stack([cstart[g], np.ones(g.size, np.int64), count[g] - 2,
                      unit[g], krank, kbase])
    while state.shape[1]:
        base, s, last, is_unit, krank, kbase = state
        is_unit = is_unit.astype(bool)
        at = base + s
        is_start[at] = True
        cap0 = cap2[at - 1]
        w_start = s.astype(np.float64)
        hi = np.floor(w_start + cap0).astype(np.int64) - 1
        nu = np.flatnonzero(~is_unit)
        if nu.size:
            w_start[nu] = keys.imag[kbase[nu] + s[nu] - 1]
            hi[nu] = _horizon(keys, krank[nu], w_start[nu] + cap0[nu]) \
                - kbase[nu] - 1
        hi = np.minimum(hi, last)
        one = (hi <= s) | (excess[at + 1] > w_start)
        run = ~one & (excess[base + np.maximum(hi, s)] <= w_start)
        nxt = np.where(run, hi + 1, s + 1)
        scan = np.flatnonzero(~(one | run))
        if scan.size:
            # the window scan: the first j in (s+1, hi] whose excess
            # passes the cluster's start weight caps the run
            nxt[scan] = _first_over(excess, at[scan] + 2, base[scan]
                                    + hi[scan], w_start[scan]) - base[scan]
        state[1] = nxt
        state = state[:, nxt <= last]
    del keys, cap2, excess
    starts = np.flatnonzero(is_start)
    del is_start
    # the segment sums and clamp of _merge_pass, over every group
    ends = np.append(starts[1:], c)[:starts.size]
    single = (ends - starts) == 1
    b1, b2 = mean[starts], mean[ends - 1]
    seg_w = np.add.reduceat(weight, starts) if c else weight
    mean *= weight
    out_mean = np.add.reduceat(mean, starts) / seg_w if c else mean
    del mean, weight
    out_mean[single] = b1[single]
    out_mean = np.clip(out_mean, np.minimum(b1, b2), np.maximum(b1, b2))
    nout = starts.searchsorted(cend) - starts.searchsorted(cstart)
    del b1, b2, ends, single, starts
    first = np.cumsum(nout) - nout
    has = (nout > 0) & (total > 0)
    m0 = out_mean[first[has]]
    ml = out_mean[(first + nout - 1)[has]]
    mn[has] = np.where(m0 < mn[has], m0, mn[has])
    mx[has] = np.where(ml > mx[has], ml, mx[has])
    # one buffer of 16-byte rows: each blob is a two-row header, then
    # one (weight, mean) row per centroid
    head = np.empty(ngroups, np.dtype([("enc", ">i4"), ("min", ">f8"),
                                       ("max", ">f8"), ("comp", ">f8"),
                                       ("n", ">i4")]))
    head["enc"] = _VERBOSE_ENCODING
    head["min"] = mn
    head["max"] = mx
    head["comp"] = comp
    head["n"] = nout
    out = np.empty((2 * ngroups + out_mean.size, 16), np.uint8)
    hrow = 2 * np.arange(ngroups) + first
    out[hrow] = head.view(np.uint8).reshape(-1, 2, 16)[:, 0]
    out[hrow + 1] = head.view(np.uint8).reshape(-1, 2, 16)[:, 1]
    pairs = np.empty((out_mean.size, 2), ">f8")
    pairs[:, 0] = seg_w
    pairs[:, 1] = out_mean
    out[np.repeat(hrow + 2 - first, nout)
        + np.arange(out_mean.size)] = pairs.view(np.uint8).reshape(-1, 16)
    if out.size >= 1 << 31:
        raise OverflowError("merged digests exceed 2 GiB")
    boff = np.zeros(ngroups + 1, np.int32)
    boff[1:] = np.cumsum(32 + 16 * nout)
    return pa.BinaryArray.from_buffers(
        pa.binary(), ngroups, [None, pa.py_buffer(boff), pa.py_buffer(out)])
