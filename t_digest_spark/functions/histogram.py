"""Log-spaced fixed-bin histograms (reference FloatHistogram /
LogHistogram — Histogram.java:30-96, FloatHistogram.java:32-153,
LogHistogram.java:30-132), NumPy-vectorized.

Semantics preserved:
- ``FloatHistogram``: bucket index comes straight from the float bit
  pattern of x/min — the top ``bitsOfPrecision`` mantissa bits plus the
  exponent (FloatHistogram.java:69-73).  binsPerDecade is rounded up to
  the nearest power-of-two bins-per-octave.
- ``LogHistogram``: bucket index from a polynomial-corrected
  ``approxLog2`` (LogHistogram.java:70-75), with ``pow2`` its exact
  inverse for bin bounds (:85-90).
- clamping: x <= min → bin 0, x >= max → last bin (Histogram.java:71-79).
- merge: elementwise count add, identical bounds required
  (FloatHistogram.java:139-152).

Mergeability means the Spark aggregation is the same two-stage
partial/merge engine as every other sketch here: ``histogram_aggregate``
below plugs a histogram codec into operators/aggregate.py.

``Simple64`` bitpacking (Simple64.java:49-971) is intentionally not
ported: parquet/ZSTD already compresses the counts (SURVEY.md §2.A14).
"""

from __future__ import annotations

import math
import struct
from typing import Sequence

import numpy as np

__all__ = ["FloatHistogram", "LogHistogram", "histogram_aggregate",
           "histogram_from_bytes"]

_MAGIC_FH = 0x46480001
_MAGIC_LH = 0x4C480001


class _BaseHistogram:
    """Common clamp/add/merge logic (Histogram.java:30-96)."""

    def __init__(self, min_: float, max_: float):
        if max_ <= 2 * min_:
            raise ValueError(f"Illegal/nonsensical min, max ({min_}, {max_})")
        if min_ <= 0 or max_ <= 0:
            raise ValueError("Min and max must be positive")
        self.min = float(min_)
        self.max = float(max_)
        self.counts: np.ndarray = None  # set by _setup_bins

    def _setup_bins(self):
        bin_count = int(self._bucket_index(np.asarray([self.max]))[0]) + 1
        if bin_count > 10000:
            raise ValueError(f"Excessive number of bins {bin_count}")
        self.counts = np.zeros(bin_count, dtype=np.int64)

    def bucket(self, x) -> np.ndarray:
        """Clamped bucket (Histogram.java:71-79), vectorized."""
        x = np.asarray(x, dtype=np.float64)
        idx = np.empty(x.shape, dtype=np.int64)
        lo = x <= self.min
        hi = x >= self.max
        mid = ~(lo | hi)
        idx[lo] = 0
        idx[hi] = len(self.counts) - 1
        if mid.any():
            idx[mid] = self._bucket_index(x[mid])
        return idx

    def add(self, values) -> None:
        np.add.at(self.counts, self.bucket(values), 1)

    def add_weighted(self, values, weights) -> None:
        np.add.at(self.counts, self.bucket(values),
                  np.asarray(weights, dtype=np.int64))

    def merge(self, other) -> "_BaseHistogram":
        if (type(other) is not type(self) or other.min != self.min
                or other.max != self.max
                or len(other.counts) != len(self.counts)):
            raise ValueError(
                "Can only merge histograms with identical bounds and "
                "precision")
        self.counts += other.counts
        return self

    def get_bounds(self) -> np.ndarray:
        return np.asarray([self._lower_bound(i)
                           for i in range(len(self.counts))])

    def get_counts(self) -> np.ndarray:
        return self.counts.copy()

    def cdf(self, x: float) -> float:
        total = self.counts.sum()
        if total == 0:
            return math.nan
        return float(self.counts[: int(self.bucket(x)) + 1].sum() / total)

    def quantile(self, q: float) -> float:
        """Lower bound of the bin containing rank q (bin-resolution)."""
        total = self.counts.sum()
        if total == 0:
            return math.nan
        target = q * total
        csum = np.cumsum(self.counts)
        i = int(np.searchsorted(csum, target, side="left"))
        return float(self._lower_bound(min(i, len(self.counts) - 1)))


class FloatHistogram(_BaseHistogram):
    def __init__(self, min_: float, max_: float, bins_per_decade: float = 50):
        if not 5 <= bins_per_decade <= 10000:
            raise ValueError(
                f"Unreasonable number of bins per decade {bins_per_decade}")
        super().__init__(min_, max_)
        # FloatHistogram.java:57-63
        self.bits_of_precision = int(math.ceil(
            math.log(bins_per_decade * math.log10(2)) / math.log(2)))
        self.shift = 52 - self.bits_of_precision
        self.offset = 0x3FF << self.bits_of_precision
        self._setup_bins()

    def _bucket_index(self, x: np.ndarray) -> np.ndarray:
        # FloatHistogram.java:69-73 — float bits of x/min
        bits = (x / self.min).view(np.int64)
        return (bits >> np.int64(self.shift)) - self.offset

    def _lower_bound(self, k: int) -> float:
        # FloatHistogram.java:77-79
        bits = (k + (0x3FF << self.bits_of_precision)) \
            << (52 - self.bits_of_precision)
        return self.min * np.int64(bits).view(np.float64)

    def to_bytes(self) -> bytes:
        head = struct.pack(">iddi", _MAGIC_FH, self.min, self.max,
                           self.bits_of_precision)
        return head + self.counts.astype(">i8").tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "FloatHistogram":
        magic, mn, mx, bits = struct.unpack_from(">iddi", buf, 0)
        if magic != _MAGIC_FH:
            raise ValueError("not a FloatHistogram")
        out = cls.__new__(cls)
        _BaseHistogram.__init__(out, mn, mx)
        out.bits_of_precision = bits
        out.shift = 52 - bits
        out.offset = 0x3FF << bits
        out.counts = np.frombuffer(buf, dtype=">i8", offset=24).astype(
            np.int64)
        return out


class LogHistogram(_BaseHistogram):
    def __init__(self, min_: float, max_: float,
                 epsilon_factor: float = 0.1):
        if not 1e-6 <= epsilon_factor <= 0.5:
            raise ValueError(
                f"Unreasonable epsilon factor {epsilon_factor}")
        super().__init__(min_, max_)
        # LogHistogram.java:42-43
        self.log_factor = math.log(2) / math.log(1 + epsilon_factor)
        self.log_offset = float(self.approx_log2(min_)) * self.log_factor
        self._setup_bins()

    @staticmethod
    def approx_log2(value) -> np.ndarray:
        """Polynomial-corrected float-exponent log2
        (LogHistogram.java:70-75); error < ±0.01, exact at powers of 2."""
        v = np.asarray(value, dtype=np.float64)
        bits = v.view(np.int64)
        exponent = ((bits & 0x7FF0000000000000) >> np.int64(52)) - 1024
        m = ((bits & np.int64(-9218868437227405313))  # 0x800fffffffffffff
             | np.int64(0x3FF0000000000000)).view(np.float64)
        return m * (2 - (1.0 / 3) * m) + exponent - (2.0 / 3.0)

    @staticmethod
    def pow2(x) -> np.ndarray:
        """Exact inverse of approx_log2 (LogHistogram.java:85-90)."""
        x = np.asarray(x, dtype=np.float64)
        exponent = np.floor(x) - 1
        x = x - exponent
        m = 3 - np.sqrt(7 - 3 * x)
        return np.power(2.0, exponent + 1) * m

    def _bucket_index(self, x: np.ndarray) -> np.ndarray:
        return (self.approx_log2(x) * self.log_factor
                - self.log_offset).astype(np.int64)

    def _lower_bound(self, k: int) -> float:
        return float(self.pow2((k + self.log_offset) / self.log_factor))

    def to_bytes(self) -> bytes:
        head = struct.pack(">iddd", _MAGIC_LH, self.min, self.max,
                           self.log_factor)
        return head + self.counts.astype(">i8").tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "LogHistogram":
        magic, mn, mx, lf = struct.unpack_from(">iddd", buf, 0)
        if magic != _MAGIC_LH:
            raise ValueError("not a LogHistogram")
        out = cls.__new__(cls)
        _BaseHistogram.__init__(out, mn, mx)
        out.log_factor = lf
        out.log_offset = float(out.approx_log2(mn)) * lf
        out.counts = np.frombuffer(buf, dtype=">i8", offset=28).astype(
            np.int64)
        return out


def histogram_from_bytes(buf: bytes):
    (magic,) = struct.unpack_from(">i", buf, 0)
    return {_MAGIC_FH: FloatHistogram,
            _MAGIC_LH: LogHistogram}[magic].from_bytes(buf)


def histogram_aggregate(df, value_col: str, group_cols: Sequence[str] = (),
                        kind: str = "float", min_: float = 1e-3,
                        max_: float = 1e6, **params):
    """Two-stage mergeable histogram aggregate over a DataFrame.

    Exact (bucket counts are deterministic), so fully oracle-checkable:
    the bucket function is a pure expression of the float bits of
    value/min.  Returns group_cols..., histogram binary, rows long.
    """
    from pyspark.sql import functions as F

    from ..operators.aggregate import aggregate_sketches, object_codec

    group_cols = list(group_cols)
    narrow = df.where(F.col(value_col).isNotNull()) \
        .select(*(group_cols + [value_col]))

    def make():
        if kind == "float":
            return FloatHistogram(min_, max_,
                                  params.get("bins_per_decade", 50))
        return LogHistogram(min_, max_,
                            params.get("epsilon_factor", 0.1))

    codec = object_codec("histogram", make, lambda h, v, w: h.add(v),
                         histogram_from_bytes)
    return aggregate_sketches(narrow, group_cols, codec)
