"""Deduplication operators for training-data pipelines.

Five levels, all shaped for 100 TB inputs:

- ``exact_dedup``          — hash-groupBy on a normalized fingerprint
  (one shuffle of (hash, id) pairs, never text).
- ``minhash_lsh_pairs``    — shingle → minhash signature → banded LSH
  bucket join → verified Jaccard.  Candidate generation touches only
  (band_hash, id); signatures are Arrow-batched NumPy.
- ``simhash_pairs``        — 64-bit simhash, chunked into 4x16-bit
  bucket keys so any pair within Hamming distance 3 shares a chunk
  (pigeonhole), verified by exact Hamming distance.
- ``ngram_jaccard``        — exact shingle-set Jaccard for a candidate
  pair set (the verifier used by both LSH paths).
- ``embedding_cosine_pairs`` — banded sign-of-random-hyperplane LSH
  over an embedding column (OR of n_bands AND-bands, like MinHash
  banding), cosine-verified.

Candidate joins are joins between small derived tables; Catalyst/AQE
broadcast them when they fit.

The three LSH pair listers and their cluster-scale keep/drop
counterparts (``minhash_dedup``, ``simhash_dedup``, ``embedding_dedup``)
share one path: a band-key builder per family → one candidate
self-join (pairs) or bucket table + O(k) bucket edges (dedup) → one
payload re-join scored exactly → ``lsh_components`` for the keep/drop
decision.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .similarity import _norm
from .text import fingerprint, shingle_fingerprints

__all__ = [
    "exact_dedup", "exact_dup_groups", "minhash_signature",
    "minhash_from_word_hashes",
    "minhash_lsh_pairs", "simhash", "simhash_pairs", "ngram_jaccard",
    "embedding_cosine_pairs", "lsh_components", "minhash_dedup",
    "simhash_dedup", "embedding_dedup", "minhash_buckets",
    "bucket_min_edges", "bucket_candidate_edges",
]

_MERSENNE = (1 << 61) - 1


def _mod61(x: np.ndarray) -> np.ndarray:
    """x mod (2^61 - 1) for uint64 x, using 2^61 ≡ 1 (mod p)."""
    p = np.uint64(_MERSENNE)
    x = (x >> np.uint64(61)) + (x & p)
    x = (x >> np.uint64(61)) + (x & p)
    return np.where(x >= p, x - p, x)


def _mulmod61(a: np.ndarray, h: np.ndarray) -> np.ndarray:
    """(a * h) mod (2^61 - 1) without overflow, both inputs already in
    [0, p).  Split into 31/30-bit limbs so every partial product fits
    uint64, then fold with 2^61 ≡ 1 (so 2^62 ≡ 2):

        a·h = a1·h1·2^62 + (a1·h0 + a0·h1)·2^31 + a0·h0

    This makes (a·h + b) mod p the genuine (a,b)-universal hash family
    the MinHash analysis assumes — plain uint64 arithmetic wraps a·h
    mod 2^64 BEFORE the Mersenne mod, which is not that family."""
    m31 = np.uint64((1 << 31) - 1)
    a1, a0 = a >> np.uint64(31), a & m31          # a1 < 2^30, a0 < 2^31
    h1, h0 = h >> np.uint64(31), h & m31
    t = a1 * h0 + a0 * h1                         # < 2^62
    # t·2^31 = t1·2^61 + t0·2^31 ≡ t1 + t0·2^31  (t = t1·2^30 + t0)
    mid = (t >> np.uint64(30)) + \
        ((t & np.uint64((1 << 30) - 1)) << np.uint64(31))
    x = np.uint64(2) * a1 * h1 + mid + a0 * h0    # < 2^63: safe
    return _mod61(x)


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", keep: str = "min") -> DataFrame:
    """Keep one row per distinct normalized text: group by fingerprint,
    keep the min (``keep="min"``) or max (``"max"``) id.  Shuffles only
    (fingerprint, id)."""
    if keep not in ("min", "max"):
        raise ValueError(f"keep must be 'min' or 'max', got {keep!r}")
    fp = df.select(F.col(id_col),
                   fingerprint(text_col).alias("__fp"))
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    keepers = fp.groupBy("__fp").agg(agg.alias(id_col)).select(id_col)
    return df.join(keepers, on=id_col, how="inner")


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Duplicate clusters: fingerprint → count + member ids (ids only
    for groups with >1 member)."""
    fp = df.select(F.col(id_col), fingerprint(text_col).alias("__fp"))
    return (fp.groupBy("__fp")
            .agg(F.count("*").alias("n_dups"),
                 F.sort_array(F.collect_list(id_col)).alias("ids"))
            .where(F.col("n_dups") > 1))


def _perm_params(num_perm: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_perm, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=num_perm, dtype=np.int64)
    return a, b


_M30 = np.uint64((1 << 30) - 1)
_M31 = np.uint64((1 << 31) - 1)


def _perm_matrix_ws(a1, a0, bb, h, ws):
    """(a·h + b) mod (2^61 - 1) into preallocated workspace buffers —
    bit-identical to ``_mod61(_mulmod61(a, h) + b)`` (asserted in
    tests) but with TWO reused (num_perm x chunk) buffers instead of
    ~8 fresh temporaries per chunk.  At chunk=1024 the working set is
    ~1 MB per worker (L2-resident): measured 33% faster single-thread
    and — the actual point — 8-process scaling efficiency 0.9 vs 0.68
    for the allocating version at chunk 8192, because the temporaries
    no longer stream through the cores' SHARED cache/DRAM."""
    t1, t2, ge = ws
    h1 = h >> np.uint64(31)
    h0 = h & _M31
    np.multiply(a1, h0, out=t1)
    np.multiply(a0, h1, out=t2)
    t1 += t2                                   # t = a1*h0 + a0*h1
    np.right_shift(t1, np.uint64(30), out=t2)  # mid hi part
    t1 &= _M30
    t1 <<= np.uint64(31)
    t2 += t1                                   # mid
    np.multiply(a1, h1, out=t1)
    t1 *= np.uint64(2)
    t1 += t2                                   # 2*a1*h1 + mid
    np.multiply(a0, h0, out=t2)
    t1 += t2                                   # + a0*h0  (< 2^63)
    for _ in range(2):                         # _mod61 fold
        np.right_shift(t1, np.uint64(61), out=t2)
        t1 &= np.uint64(_MERSENNE)
        t1 += t2
    np.greater_equal(t1, np.uint64(_MERSENNE), out=ge)
    np.subtract(t1, np.uint64(_MERSENNE), out=t2)
    np.copyto(t1, t2, where=ge)                # a·h mod p, in [0, p)
    t1 += bb
    for _ in range(2):
        np.right_shift(t1, np.uint64(61), out=t2)
        t1 &= np.uint64(_MERSENNE)
        t1 += t2
    np.greater_equal(t1, np.uint64(_MERSENNE), out=ge)
    np.subtract(t1, np.uint64(_MERSENNE), out=t2)
    np.copyto(t1, t2, where=ge)
    return t1


def _workspace(num_perm: int, width: int) -> tuple:
    return (np.empty((num_perm, width), dtype=np.uint64),
            np.empty((num_perm, width), dtype=np.uint64),
            np.empty((num_perm, width), dtype=bool))


def _minhash_udf(num_perm: int, seed: int, k_shingle: int | None):
    """The one MinHash kernel: a pandas UDF from an array<long> column
    to the array<long> signature.  With ``k_shingle=None`` the rows are
    shingle fingerprints; otherwise they are word hashes, shingled one
    chunk at a time by text.shingle_flat so the fingerprints never
    materialize as a column (a row shorter than k words — empty
    included — has one fingerprint).  Null rows, and empty fingerprint
    rows, give a null signature.

    Whole-batch vectorization in row chunks: concatenate the chunk's
    fingerprints, one (num_perm x target) modular-hash matrix into
    REUSED FULL-WIDTH workspace buffers, per-row minima via
    minimum.reduceat on the row boundaries.  The chunk target bounds
    the working set: 1024 shingles x 64 perms x 2 uint64 buffers ~ 1 MB
    — per-core-cache resident (see _perm_matrix_ws for the measured
    scaling effect; the round-3 8 Ki target with allocating temporaries
    was the next-best shape, and 64 Ki measured 5x slower per doc).
    Chunks are padded to the buffer width rather than sliced: a [:, :w]
    view de-contiguates every ufunc and measured 2.1x slower; padded
    columns are overwritten with 2^62 (> p) so they can never win a
    row's min."""
    from .text import shingle_flat

    a, b = _perm_params(num_perm, seed)

    @pandas_udf(ArrayType(LongType()))
    def f(col: pd.Series) -> pd.Series:
        aa = a.astype(np.uint64)[:, None]
        bb = b.astype(np.uint64)[:, None]
        a1, a0 = aa >> np.uint64(31), aa & _M31
        n = len(col)
        out: list = [None] * n
        vals = col.to_numpy()
        lens = np.fromiter((-1 if v is None else len(v) for v in vals),
                           dtype=np.int64, count=n)
        width = lens if k_shingle is None else np.where(
            lens < 0, 0, np.maximum(lens - k_shingle + 1, 1))
        idx = np.flatnonzero(width > 0)
        target = 1024
        big = np.uint64(1) << np.uint64(62)
        ws_full = _workspace(num_perm, target)
        flat_buf = np.zeros((1, target), dtype=np.uint64)
        start = 0
        while start < len(idx):
            end, tot = start, 0
            while end < len(idx) and (tot == 0
                                      or tot + width[idx[end]] <= target):
                tot += width[idx[end]]
                end += 1
            rows = idx[start:end]
            flat = np.concatenate(
                [np.asarray(vals[i], dtype=np.int64) for i in rows]
            ).astype(np.uint64)
            if k_shingle is None:
                starts = np.concatenate(([0], np.cumsum(lens[rows])[:-1]))
            else:
                fp, _l, fp_offs = shingle_flat(flat, lens[rows], k_shingle)
                flat, starts = fp.astype(np.uint64), fp_offs[:-1]
            w = len(flat)
            if w <= target:
                flat_buf[0, :w] = flat
                sig = _perm_matrix_ws(a1, a0, bb, _mod61(flat_buf),
                                      ws_full)
                if w < target:
                    sig[:, w:] = big
            else:  # one oversized document: one-off buffers
                sig = _perm_matrix_ws(a1, a0, bb, _mod61(flat[None, :]),
                                      _workspace(num_perm, w))
            mins = np.minimum.reduceat(sig, starts, axis=1) \
                .astype(np.int64)
            for j, i in enumerate(rows):
                out[i] = mins[:, j]
            start = end
        return pd.Series(out)

    return f


def minhash_from_word_hashes(wh_col, k_shingle: int = 5,
                             num_perm: int = 64, seed: int = 7):
    """MinHash signature (array<long>) FUSED from word hashes: shingle
    fingerprints are computed with the shared kernel
    (text.shingle_flat) and fed straight into the permutation matrix
    inside ONE pandas UDF — the fingerprint arrays never materialize
    as a column, never cross Arrow, and never build per-row lists.
    Bit-identical to ``minhash_signature(shingle_fingerprints(...))``
    (asserted in tests); use the unfused pair when the fingerprints
    themselves are needed (exact-Jaccard verification)."""
    return _minhash_udf(num_perm, seed, k_shingle)(wh_col)


def minhash_signature(shingles_col, num_perm: int = 64,
                      seed: int = 7):
    """MinHash signature (array<long>) from an array-of-shingle-hashes
    column.  Vectorized: one (num_perm x n_shingles) NumPy min-reduce
    per row chunk via a pandas UDF (shingle hashing itself already
    happened upstream in shingle_fingerprints)."""
    return _minhash_udf(num_perm, seed, None)(shingles_col)


def _minhash_band_keys(sigs: DataFrame, id_col: str, num_perm: int,
                       bands: int) -> DataFrame:
    """(id, __band, __key): xxhash64 of each of ``bands`` slices of the
    ``__sig`` signature, num_perm // bands minhashes each.  The slice
    (array<long>) is hashed directly — xxhash64 hashes array elements
    natively, and the earlier ``concat_ws`` form paid a long->string
    render of the whole signature per document."""
    if not 1 <= bands <= num_perm:
        # a 0-row band hashes the empty slice: every document would
        # share every band's bucket
        raise ValueError(f"MinHash banding needs 1 <= bands <= num_perm, "
                         f"got bands={bands}, num_perm={num_perm}")
    rows_per_band = num_perm // bands
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return sigs.select(id_col, F.posexplode(F.transform(
        band_idx,
        lambda i: F.xxhash64(
            F.slice("__sig", i * rows_per_band + 1,
                    rows_per_band)))).alias("__band", "__key"))


def _simhash_band_keys(sh: DataFrame, id_col: str,
                       max_hamming: int) -> DataFrame:
    """(id, __band, __key): the (max_hamming + 1) bit chunks of the
    64-bit ``__simhash`` — by pigeonhole, a pair within the Hamming
    budget agrees on at least one chunk."""
    if not 0 <= max_hamming <= 63:
        # 64 chunks of width 0 mask every key to 0: one bucket for all
        raise ValueError(f"SimHash banding needs 0 <= max_hamming <= 63, "
                         f"got max_hamming={max_hamming}")
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    mask = (1 << width) - 1
    return sh.select(id_col, F.posexplode(F.array(*[
        F.shiftrightunsigned("__simhash", i * width).bitwiseAND(mask)
        for i in range(n_chunks)])).alias("__band", "__key"))


def _embedding_band_keys(vecs: DataFrame, id_col: str, n_planes: int,
                         n_bands: int, seed: int,
                         dim: int | None) -> DataFrame:
    """(id, __band, __key): banded sign-of-hyperplane bucket codes of
    the ``__v`` vectors, computed by an Arrow-batched UDF (one code per
    band, one matmul per batch).

    The projection planes derive deterministically from ``(seed,
    n_bands, n_planes, dim)``.  When ``dim`` is not supplied it is read
    from the first non-null vector inside the UDF — every executor
    derives bit-identical planes from the same seed, so no driver-side
    Spark job is launched just to learn the vector width (previously
    one extra ``first()`` job per operator call)."""
    weights = (1 << np.arange(n_planes, dtype=np.uint64))

    def _planes(d: int) -> np.ndarray:
        rng = np.random.default_rng(seed)
        return rng.normal(size=(n_bands, n_planes, d)).astype(np.float64)

    state: dict = {"planes": None if dim is None else _planes(dim)}

    @pandas_udf(ArrayType(LongType()))
    def buckets(vs: pd.Series) -> pd.Series:
        mask = vs.notna().to_numpy()
        out: list = [None] * len(vs)
        if mask.any():
            x = np.stack([np.asarray(v, dtype=np.float64)
                          for v in vs[mask]])            # (rows, dim)
            planes = state["planes"]
            if planes is None:
                planes = state["planes"] = _planes(x.shape[1])
            sig = np.einsum("bpd,rd->rbp", planes, x) > 0
            codes = (sig.astype(np.uint64) * weights).sum(axis=2) \
                .astype(np.int64).tolist()
            for j, row in zip(np.flatnonzero(mask), codes):
                out[j] = row
        return pd.Series(out)

    return vecs.select(id_col, F.posexplode(buckets("__v"))
                       .alias("__band", "__key"))


def _candidate_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing a (__band, __key) — the
    pairs operators' candidate self-join.  It carries ONLY ids: a pair
    colliding in several bands produces several candidate rows, and
    shipping the payloads (signatures, vectors) on each of them through
    the shuffle before dropDuplicates is pure waste at duplicate-cluster
    scale."""
    return (banded.alias("l")
            .join(banded.alias("r"),
                  on=[F.col("l.__band") == F.col("r.__band"),
                      F.col("l.__key") == F.col("r.__key"),
                      F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))


def _verified(pairs: DataFrame, table: DataFrame, id_col: str, col: str,
              score, name: str) -> DataFrame:
    """(id_a, id_b, name): each distinct candidate pair scored exactly
    by ``score(a, b)`` over its two members' ``col`` payloads, which
    are re-joined from ``table`` once per pair."""
    def side(s: str) -> DataFrame:
        return table.select(F.col(id_col).alias(f"id_{s}"),
                            F.col(col).alias(f"__p{s}"))

    return (pairs.join(side("a"), "id_a").join(side("b"), "id_b")
            .select("id_a", "id_b",
                    score(F.col("__pa"), F.col("__pb")).alias(name)))


def _hamming(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    return dot / (_norm(a) * _norm(b))


def _buckets(banded: DataFrame, id_col: str) -> DataFrame:
    """(id, __bucket = xxhash64(__band, __key)): the dedup operators'
    bucket table."""
    return banded.select(id_col,
                         F.xxhash64("__band", "__key").alias("__bucket"))


def _id_universe(df: DataFrame, id_col: str,
                 assume_unique_ids: bool = False) -> DataFrame:
    """One row per id of ``df``.  ``assume_unique_ids`` skips the
    distinct() — a full scan+shuffle — for a primary-key id column."""
    ids = df.select(F.col(id_col))
    return ids if assume_unique_ids else ids.distinct()


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k_shingle: int = 5,
                      num_perm: int = 64, bands: int = 16,
                      threshold: float = 0.7,
                      verify: bool = True) -> DataFrame:
    """Near-duplicate pairs by MinHash + banded LSH.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >=
    threshold: the exact shingle-set Jaccard, or with verify=False the
    fraction of matching minhashes.
    """
    # checkpoint the (id, shingles, signature) table: the candidate
    # self-join and both payload re-joins read it — without this the
    # shingle UDF would run on four plan branches per document
    sigs = (df.select(F.col(id_col), shingle_fingerprints(
                text_col, k_shingle).alias("__sh"))
            .withColumn("__sig", minhash_signature("__sh", num_perm))
            .localCheckpoint(eager=False))
    cand = _candidate_pairs(
        _minhash_band_keys(sigs, id_col, num_perm, bands), id_col)
    if verify:
        col, score = "__sh", ngram_jaccard
    else:
        def score(a, b):  # the fraction of matching minhashes
            return F.aggregate(
                F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
                F.lit(0), lambda acc, v: acc + v) / F.lit(num_perm)
        col = "__sig"
    return (_verified(cand, sigs, id_col, col, score, "jaccard")
            .where(F.col("jaccard") >= threshold))


def ngram_jaccard(sh_a, sh_b):
    """Exact Jaccard of two shingle-hash arrays (JVM set ops)."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def simhash(text_col, num_bits: int = 64, seed: int = 11):
    """64-bit SimHash from token hashes: per bit, sign of the sum of
    ±1 contributions.  Token hashing JVM-side; bit-vote NumPy."""
    toks = F.transform(
        F.split(F.lower(F.trim(text_col if not isinstance(text_col, str)
                               else F.col(text_col))), r"\s+"),
        lambda w: F.xxhash64(w))

    @pandas_udf(LongType())
    def votes(hs: pd.Series) -> pd.Series:
        # whole-batch vectorization: concatenate every row's token
        # hashes, per-bit ±1 contributions in one (tokens x bits)
        # matrix, per-row sums via add.reduceat on the row boundaries,
        # then one shifted-sum bit-pack — no per-row Python loop.
        bits = np.arange(num_bits, dtype=np.uint64)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in hs),
            dtype=np.int64, count=len(hs))
        out = np.zeros(len(hs), dtype=np.int64)
        nz = lens > 0
        if nz.any():
            flat = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in hs[nz]]
            ).astype(np.uint64)[:, None]
            contrib = (2 * ((flat >> bits[None, :]) & np.uint64(1))
                       .astype(np.int32) - 1)
            nz_lens = lens[nz]
            starts = np.concatenate(([0], np.cumsum(nz_lens)[:-1]))
            v = np.add.reduceat(contrib, starts, axis=0)   # (rows, bits)
            packed = (((v > 0).astype(np.uint64) << bits[None, :])
                      .sum(axis=1))
            out[nz] = packed.astype(np.int64)
        return pd.Series(out)

    return votes(toks)


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs whose simhashes differ in <= max_hamming bits.

    Bucket on each of (max_hamming + 1) bit chunks — by pigeonhole, a
    pair within the Hamming budget shares at least one chunk — then
    verify the exact Hamming distance.  Default 4 x 16-bit chunks for
    the conventional <=3-bit budget; larger budgets mean narrower
    chunks and proportionally more candidates.
    """
    # checkpoint the simhash table: the candidate self-join and both
    # payload re-joins read it — without this the bit-vote UDF would run
    # on every branch, six times per document
    sh = (df.select(F.col(id_col), simhash(text_col).alias("__simhash"))
          .localCheckpoint(eager=False))
    cand = _candidate_pairs(_simhash_band_keys(sh, id_col, max_hamming),
                            id_col)
    return (_verified(cand, sh, id_col, "__simhash", _hamming, "hamming")
            .where(F.col("hamming") <= max_hamming))


def embedding_cosine_pairs(df: DataFrame, vec_col: str = "embedding",
                           id_col: str = "vec_id", n_planes: int = 16,
                           n_bands: int = 4, threshold: float = 0.95,
                           seed: int = 13, dim: int | None = None) -> DataFrame:
    """Near-duplicate embeddings: banded random-hyperplane LSH, then
    exact cosine verification of the candidates.

    Each of ``n_bands`` bands hashes the sign bits of ``n_planes``
    independent projections; candidates collide in ANY band (same
    OR-of-ANDs shape as MinHash banding), so the per-pair miss
    probability at cosine c is (1 - p^n_planes)^n_bands with
    p = 1 - acos(c)/pi — e.g. < 1e-7 at c = 0.999 with 4x16.  Buckets
    are computed batch-vectorized (one matmul per Arrow batch); the
    join key is (band, bucket) so candidates never leave their band's
    bucket — at 10^9 rows this shuffles ids + vectors once, never
    all-pairs."""
    vecs = df.select(F.col(id_col),
                     F.col(vec_col).cast("array<double>").alias("__v"))
    cand = _candidate_pairs(_embedding_band_keys(
        vecs, id_col, n_planes, n_bands, seed, dim), id_col)
    return (_verified(cand, vecs, id_col, "__v", _cosine, "cosine")
            .where(F.col("cosine") >= threshold))


# ----------------------------------------------------------------------
# cluster-scale keep/drop dedup (no O(k^2) pair materialization)
# ----------------------------------------------------------------------
#
# A crawl-scale corpus has duplicate CLUSTERS of thousands of near-
# identical documents.  Listing pairs is O(k^2) per cluster; the
# decision a 100 TB pipeline actually needs is per-document keep/drop.
# These operators compute connected components of the id-bucket
# bipartite graph by alternating min-label propagation (hash-to-min):
# every step is a plain (key, long) shuffle, so a cluster of k members
# in b bands costs O(k*b) rows total — never k^2.


def _factorize_exact(col) -> tuple[np.ndarray, int]:
    """Exact dense factorization of an Arrow column (ChunkedArray or
    Array), including struct columns: struct keys factorize their child
    fields JOINTLY (per-child codes combined positionally, re-densified
    per level so codes stay < E and never overflow) — field-wise exact
    equality by construction, no string rendering, so float reprs that
    collide across dtype widths or nested nulls cannot alias.  Child
    codes are shifted +1 before combining so pandas' null code (-1)
    cannot alias a real (code, max-code) pair; null == null compares
    equal, matching Spark struct grouping semantics.

    Returns (codes int64 >= 0 for structs / >= -1 for scalar nulls,
    n_unique)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_struct(col.type):
        combined = None
        for i in range(col.type.num_fields):
            c, n = _factorize_exact(col.field(i))
            c = c + 1  # shift: null (-1) becomes 0, distinct from all
            if combined is None:
                combined = c.astype(np.int64)
            else:
                combined = combined * np.int64(n + 2) + c
                combined, uniq = pd.factorize(combined, sort=False)
                combined = combined.astype(np.int64)
        codes, uniq = pd.factorize(combined, sort=False)
        return codes.astype(np.int64), len(uniq)
    codes, vals = pd.factorize(col.to_pandas(), sort=False)
    return codes.astype(np.int64), len(vals)


def _driver_components(id_series, b_codes: np.ndarray, max_iter: int):
    """Vectorized hash-to-min over a driver-resident edge table: ids
    factorize to dense codes (buckets arrive pre-factorized — see
    ``_factorize_exact``), then per round one ``minimum.at`` scatter
    per direction — O(E) NumPy per round, rounds = component diameter.
    Returns (unique_id_values, rep_value_per_unique_id)."""
    if not id_series.notna().all():
        # pd.factorize maps nulls to code -1, which would silently
        # index lab[-1] below and corrupt labels — fail loudly instead
        # (lsh_components drops null ids before either strategy).
        raise ValueError(
            "lsh_components driver path: null ids in edge table")
    if len(b_codes) and int(b_codes.min()) < 0:
        raise ValueError(
            "lsh_components driver path: null bucket keys in edge table")
    id_codes, id_vals = pd.factorize(id_series, sort=False)
    n_b = int(b_codes.max()) + 1 if len(b_codes) else 0
    # labels are RANKS in the ids' natural sort order, so "min label"
    # is "min id" for any orderable id type (ints, strings, ...)
    order = np.argsort(id_vals)
    rank = np.empty(len(id_vals), dtype=np.int64)
    rank[order] = np.arange(len(id_vals))
    lab = rank.copy()
    for _ in range(max_iter):
        b_lab = np.full(n_b, np.iinfo(np.int64).max)
        np.minimum.at(b_lab, b_codes, lab[id_codes])
        new = lab.copy()
        np.minimum.at(new, id_codes, b_lab[b_codes])
        if np.array_equal(new, lab):
            break
        lab = new
    else:
        _warn_unconverged(max_iter, stacklevel=4)
    # rep value of unique id i = the id whose rank is lab[i]
    reps = np.asarray(id_vals)[order][lab]
    return id_vals, reps


def _warn_unconverged(max_iter: int, stacklevel: int) -> None:
    # exhausting max_iter silently would under-merge: members of a long
    # chain keep non-minimal reps, so some duplicates survive as
    # keepers (recall loss, never corruption).  LSH dup clusters are
    # near-cliques (diameter 2-3); hitting this means the graph is
    # pathological or max_iter was lowered too far.
    import warnings

    warnings.warn(
        f"lsh_components: not converged after {max_iter} rounds; "
        "labels are valid but possibly under-merged — raise "
        "max_iter", RuntimeWarning, stacklevel=stacklevel)


# edge-count gate below which the pruned, star-contracted duplicate
# subgraph is solved driver-side (one Arrow collect + vectorized NumPy
# propagation) instead of iterating Spark jobs over it.  The count is
# of CONTRACTED star edges (~one per duplicate-cluster member, bands
# already collapsed): ~4M edges is ~100 MB of driver pandas —
# trivially safe, and it removes ~15 short shuffle stages whose fixed
# scheduling overhead is pure serial time.
DRIVER_COMPONENT_MAX_EDGES = 4_000_000


def lsh_components(edges: DataFrame, id_col: str = "doc_id",
                   bucket_col: str = "__bucket",
                   max_iter: int = 10,
                   checkpoint_dir: str | None = None,
                   driver_max_edges: int | None = None,
                   all_ids: DataFrame | None = None) -> DataFrame:
    """Connected components of a bipartite (id, bucket) graph.

    Returns (id_col, rep_id) where rep_id is the component-wide minimum
    id.  The hypergraph is first singleton-pruned and STAR-CONTRACTED
    (each surviving bucket is replaced by deduplicated edges from its
    members to its min-id member — connectivity-preserving, see inline
    comment), collapsing the ~bands-many copies of each duplicate
    cluster to one star: the propagated edge table is ~O(duplicate
    members), not O(members x bands).  Then two physical strategies,
    identical results (asserted bit-equal in tests/test_pipeline_ops.py):

    - **small contracted subgraph** (star-edge count <=
      ``driver_max_edges``, default ``DRIVER_COMPONENT_MAX_EDGES``):
      collect the contracted duplicate subgraph to the driver via
      Arrow and run the same hash-to-min propagation vectorized in
      NumPy (microseconds per round), then broadcast the (id, rep) map
      back.  On a crawl-scale run MOST of the corpus is
      singleton-pruned before this gate, so the gate measures the
      actual duplicate subgraph, not the corpus.
    - **large subgraph**: alternating min-label propagation as Spark
      jobs — each round sets every star's label to the min label of
      its members, then every member's label to the min label of its
      stars.  Labels only ever decrease, so a round that changes
      nothing is a fixpoint; rounds needed equal the component
      diameter in star-hops (2-3 for LSH duplicate clusters, which
      are near-cliques).  Each round is two O(E) shuffles whose
      convergence count doubles as the round's checkpoint
      materialization.

    Lineage across iterations is truncated with ``localCheckpoint`` by
    default (executor-local blocks — fast, but lost if an executor
    dies).  Pass ``checkpoint_dir`` to use durable reliable
    checkpoints instead: on a production cluster with preemptible /
    flaky executors this writes each iteration's labels to the fault-
    tolerant store (HDFS/S3) so a lost executor replays from the last
    checkpoint, not from the raw LSH signatures.  ``checkpoint_dir``
    also forces the distributed path (a driver-resident solve has no
    executor-failure story to checkpoint).

    Duplicate (id, bucket) input rows are harmless (see inline
    comment).  Rows with a null id or bucket carry no co-occurrence
    evidence and are dropped before both strategies; a null id in the
    universe comes back with a null ``rep_id``.  ``all_ids`` supplies
    the universe of ids (each id exactly once) so it isn't re-derived
    by a distinct() over the edge table; ids absent from ``edges``
    come back as their own representative either way.
    """
    if driver_max_edges is None:
        driver_max_edges = DRIVER_COMPONENT_MAX_EDGES
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame, eager: bool) -> DataFrame:
            return df.checkpoint(eager=eager)
    else:
        def _ckpt(df: DataFrame, eager: bool) -> DataFrame:
            return df.localCheckpoint(eager=eager)

    e_all = edges.select(F.col(id_col).alias("__id"),
                         F.col(bucket_col).alias("__b"))
    if all_ids is None:
        # two consumers of the bucket table (id universe + star
        # construction) — checkpoint it so the upstream (LSH
        # signatures included) isn't computed twice.  When the caller
        # supplies all_ids (every internal dedup wrapper does), the
        # bucket table has exactly ONE consumer and streams straight
        # from the signature UDF into the star exchange — no
        # materialization at all.
        e_all = _ckpt(e_all, False)
        all_ids = _id_universe(e_all, "__id")
    else:
        all_ids = all_ids.select(
            F.col(all_ids.columns[0]).alias("__id"))
    # Two structural reductions, fused into ONE window pass over the
    # bucket table:
    #
    # 1. singleton-bucket pruning: a bucket with one member contributes
    #    no edge, and on a crawl-scale corpus MOST buckets are
    #    singletons (every non-duplicate doc's bands).  Pruned ids are
    #    their own representative by definition.
    # 2. bucket-min STAR CONTRACTION: each surviving bucket B with
    #    min-id m is replaced by star edges {(x, m) : x in B}, keyed by
    #    m itself, and the stars are deduplicated.  Connectivity is
    #    preserved EXACTLY: members of one bucket stay connected
    #    through its star, and any two buckets sharing the same min m
    #    both contain m, so merging their star keys merges components
    #    that were already connected.  The (m, m) self-edge is kept so
    #    m participates in its own star.  The payoff: a doc in a
    #    duplicate cluster appears in ~every band's bucket with the
    #    SAME min, so the b band copies collapse to ONE row — the
    #    iterated/collected edge table shrinks from O(members x bands)
    #    to ~O(members), i.e. ~16x at the default 64/16 banding, for
    #    both physical strategies below.  Duplicate (id, bucket) rows
    #    cannot change the result: min(__id) ignores repeats, and a
    #    row-duplicated singleton bucket survives pruning only to emit
    #    a harmless (x, x) self-edge.
    #
    # WHY a window and not groupBy().agg(): the bucket key is ~unique
    # for every non-duplicate doc's bands, so a hash aggregate builds
    # hash tables with ~|corpus| x bands entries TWICE (partial's map
    # side is pure waste when nearly all keys are singletons) and the
    # result must be joined back.  The window computes count+min with
    # one exchange + one sort per partition (cache-friendly runs, no
    # giant hash table, no join-back) and emits star edges directly —
    # measured ~35% faster end-to-end at 8 cores and, more
    # importantly, the hash-agg's summed CPU inflated ~2x from 2 to
    # 8 cores (memory-bound) while the sort does not.
    from .aggregate import _shuffle_partitions

    # The window's exchange is PINNED at spark.sql.shuffle.partitions
    # via an explicit repartition by __b (which the window's
    # ClusteredDistribution reuses — still exactly ONE exchange).  An
    # implicit window exchange is AQE-coalescible, and AQE's byte-sized
    # coalescing quantizes this heavy sort stage onto the core count
    # badly: the r5 A-B-B-A probe (BENCH/aqe_ab_probe.json) measured
    # the coalesced ~10-task stage at 60.8/101.4 s vs 52.0/50.7 s for
    # the pinned 64-task shape at local[8] on 2.4M docs — fewer, larger
    # sort tasks lose tail-hiding and amplify host noise.  Downstream
    # exchanges (star-edge dropDuplicates, convergence counts) carry
    # only the contracted duplicate subgraph and stay coalescible.
    # Null bucket keys are dropped first: Window.partitionBy groups all
    # NULLs into one pseudo-bucket, which would star-contract unrelated
    # docs into one component; a null bucket carries no co-occurrence
    # evidence, so the correct edge contribution is none (ids with no
    # surviving bucket remain their own representative).  Null ids go
    # too — they are no document, and the driver path cannot label
    # them — but only after the window, where min(__id) already skips
    # them: dropped before it, the filter would be pushed into the
    # upstream scan, below the signature UDF.  A bucket left with one
    # real member then emits only a harmless (x, x) self-edge.
    w = Window.partitionBy("__b")
    e = (e_all
         .where(F.col("__b").isNotNull())
         .repartition(_shuffle_partitions(e_all), "__b")
         .withColumn("__c", F.count(F.lit(1)).over(w))
         .withColumn("__bm", F.min("__id").over(w))
         .where((F.col("__c") > 1) & F.col("__id").isNotNull())
         .select("__id", F.col("__bm").alias("__b"))
         .dropDuplicates(["__id", "__b"]))
    e = _ckpt(e, False)

    def _reps(labels: DataFrame) -> DataFrame:
        # (id, rep_id) over the whole universe: unlabelled ids are
        # their own representative
        return (all_ids.join(labels, "__id", "left")
                .select(F.col("__id").alias(id_col),
                        F.coalesce("__rep", F.col("__id")).alias("rep_id")))

    if checkpoint_dir is None:
        # the count doubles as the materializing action for both
        # checkpoints above; its value is the driver-path gate
        n_edges = e.count()
        if n_edges == 0:
            return all_ids.select(
                F.col("__id").alias(id_col),
                F.col("__id").alias("rep_id"))
        if n_edges <= driver_max_edges:
            # toArrow is the guaranteed-Arrow collect path (no conf
            # dependence): C-speed transfer + to_pandas, vs seconds of
            # Row-object conversion for a million-edge subgraph.
            # Buckets factorize at the Arrow level (_factorize_exact):
            # struct keys (verified-edge hyperedges) dictionary-encode
            # field-wise exactly — no string rendering, so float reprs
            # or nested nulls cannot alias.
            tbl = e.toArrow()
            b_codes, _ = _factorize_exact(tbl.column("__b"))
            id_vals, reps = _driver_components(
                tbl.column("__id").to_pandas(), b_codes, max_iter)
            return _reps(F.broadcast(edges.sparkSession.createDataFrame(
                pd.DataFrame({"__id": np.asarray(id_vals),
                              "__rep": reps}))))
    labels = _id_universe(e, "__id").withColumn("__rep", F.col("__id"))
    for _ in range(max_iter):
        bmin = (e.join(labels, "__id")
                .groupBy("__b").agg(F.min("__rep").alias("__bmin")))
        new = (e.join(bmin, "__b")
               .groupBy("__id").agg(F.min("__bmin").alias("__nmin")))
        merged = (labels.join(new, "__id", "left")
                  .select(F.col("__id"),
                          F.least(F.col("__rep"),
                                  F.coalesce("__nmin", "__rep"))
                          .alias("__rep"),
                          (F.col("__nmin") < F.col("__rep"))
                          .alias("__chg")))
        if checkpoint_dir is not None:
            # durable mode: reliable checkpoint, then a separate
            # convergence scan (2 jobs/round — durability over latency)
            merged = merged.checkpoint(eager=True)
            changed = merged.where("__chg").limit(1).count()
        else:
            # ONE job per round: a LAZY localCheckpoint whose blocks
            # are materialized by the full-scan convergence count
            # itself (no limit — every partition is computed, so the
            # checkpoint is complete and later rounds read blocks, not
            # lineage).  This replaced eager localCheckpoint + a
            # second count job per round: the per-job fixed overhead
            # of those extra jobs was a measurable serial (Amdahl)
            # term in the 2-vs-8-core dedup scaling windows.
            merged = merged.localCheckpoint(eager=False)
            changed = merged.where("__chg").count()
        labels = merged.select("__id", "__rep")
        if changed == 0:
            break
    else:
        _warn_unconverged(max_iter, stacklevel=3)
    return _reps(labels)


def _dedup_decisions(ids_and_buckets: DataFrame, id_col: str,
                     verified_edges: DataFrame | None,
                     max_iter: int,
                     checkpoint_dir: str | None = None,
                     all_ids: DataFrame | None = None) -> DataFrame:
    """(id, rep_id, is_keeper) from either the raw bucket graph or a
    verified edge list (each edge re-expressed as a 2-member bucket).

    ``all_ids`` (one row per id, from the caller's source table) keeps
    the id universe from being re-derived with a distinct() over the
    much larger bucket table; ids with no bucket/edge are their own
    representative."""
    if all_ids is None:
        all_ids = _id_universe(ids_and_buckets, id_col)
    if verified_edges is not None:
        # verified (id_a, id_b) edges -> 2-member hyperedges keyed by
        # the edge pair itself.  The key must be collision-free: a
        # 64-bit hash key would, at crawl scale (billions of verified
        # edges), birthday-collide two unrelated edges into one
        # "bucket" and spuriously merge their components — dropping a
        # non-duplicate.  lsh_components accepts any groupable key
        # type, so use the exact pair struct.
        ek = F.struct(F.col("id_a"), F.col("id_b")).alias("__bucket")
        ids_and_buckets = (
            verified_edges.select(F.col("id_a").alias(id_col), ek)
            .unionByName(verified_edges.select(F.col("id_b").alias(id_col),
                                               ek)))
    comp = lsh_components(ids_and_buckets, id_col, "__bucket", max_iter,
                          checkpoint_dir, all_ids=all_ids)
    return comp.withColumn("is_keeper", F.col("rep_id") == F.col(id_col))


def minhash_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k_shingle: int = 5,
                  num_perm: int = 64, bands: int = 16,
                  threshold: float | None = None,
                  max_iter: int = 10,
                  checkpoint_dir: str | None = None,
                  assume_unique_ids: bool = False) -> DataFrame:
    """Keep/drop MinHash-LSH dedup: (id, rep_id, is_keeper), rep_id =
    min id of the duplicate component.  Never materializes pairs.

    ``threshold=None`` (default, the standard crawl-pipeline setting):
    band-bucket co-occurrence IS the duplicate edge — banding
    parameters set the effective jaccard cut.  With a ``threshold``,
    each member is exact-Jaccard-verified against its bucket's min-id
    member only (O(k) verifications per bucket, not O(k^2) pairs) and
    components run over the surviving edges; this conservatively splits
    clusters whose members connect only through a failing hub, and
    never merges documents with no verified path.

    ``assume_unique_ids=True`` skips the defensive distinct() over the
    id universe — a full scan+shuffle of the corpus — for tables whose
    ``id_col`` is a primary key by construction (the normal case in a
    crawl pipeline).  With duplicate ids it would emit one decision row
    per input row instead of per id."""
    if threshold is None:
        # no verification ⇒ fingerprints are never needed: the fused
        # minhash UDF keeps them inside one Python stage (no Arrow
        # round-trip of the 36-hashes-per-doc fingerprint arrays)
        buckets = minhash_buckets(df, text_col, id_col, k_shingle,
                                  num_perm, bands)
        verified = None
    else:
        sh = df.select(F.col(id_col), shingle_fingerprints(
            text_col, k_shingle).alias("__sh"))
        sigs = sh.withColumn("__sig", minhash_signature("__sh", num_perm))
        # the bucket table feeds both the verification edges and the
        # component propagation — checkpoint it once so the (expensive)
        # minhash signatures aren't computed twice
        buckets = minhash_buckets(df, text_col, id_col, k_shingle,
                                  num_perm, bands, _sigs=sigs) \
            .localCheckpoint(eager=False)
        verified = (_verified(bucket_candidate_edges(buckets, id_col), sh,
                              id_col, "__sh", ngram_jaccard, "jaccard")
                    .where(F.col("jaccard") >= threshold))
    return _dedup_decisions(buckets, id_col, verified, max_iter,
                            checkpoint_dir,
                            _id_universe(df, id_col, assume_unique_ids))


def minhash_buckets(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k_shingle: int = 5,
                    num_perm: int = 64, bands: int = 16,
                    _sigs: DataFrame | None = None) -> DataFrame:
    """(id, __bucket) LSH band-bucket table — the candidate structure
    minhash_dedup clusters over, exposed so pipelines can audit
    candidate volume (e.g. bucket_min_edges counts are O(k) per
    duplicate cluster)."""
    if _sigs is None:
        from .text import word_hashes

        _sigs = df.select(
            F.col(id_col),
            minhash_from_word_hashes(word_hashes(text_col), k_shingle,
                                     num_perm).alias("__sig"))
    return _buckets(_minhash_band_keys(_sigs, id_col, num_perm, bands),
                    id_col)


def bucket_min_edges(ids_and_buckets: DataFrame,
                     id_col: str) -> DataFrame:
    """Distinct (id_a=bucket-min, id_b=member) candidate edges — O(k)
    per bucket instead of the O(k^2) within-bucket pair join."""
    bmin = (ids_and_buckets.groupBy("__bucket")
            .agg(F.min(id_col).alias("id_a")))
    return (ids_and_buckets.join(bmin, "__bucket")
            .where(F.col(id_col) != F.col("id_a"))
            .select("id_a", F.col(id_col).alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))


def bucket_candidate_edges(ids_and_buckets: DataFrame,
                           id_col: str) -> DataFrame:
    """O(k)-per-bucket candidate edges for verified dedup: the union of
    member-vs-bucket-min edges and CONSECUTIVE-member edges (id order
    within the bucket), ~2k-3 distinct edges for a k-member bucket.

    Why both: min-only verification has a hub failure mode — when the
    bucket's min id is a non-duplicate that collided in (e.g. a 16-bit
    simhash chunk at corpus scale), every tested edge involves the hub
    and fails, splitting a genuine duplicate run.  The consecutive
    chain keeps any contiguous duplicate run connected no matter who
    the min is; the min edges bridge runs separated by a single
    interloper.  Residual risk (two duplicates separated by >=2
    interleaved interlopers with a non-dup min, in EVERY band they
    co-occur in) falls off with the OR-redundancy of the bands."""
    w = Window.partitionBy("__bucket").orderBy(id_col)
    chain = (ids_and_buckets
             .withColumn("__prev", F.lag(id_col).over(w))
             .where(F.col("__prev").isNotNull()
                    & (F.col("__prev") != F.col(id_col)))
             .select(F.col("__prev").alias("id_a"),
                     F.col(id_col).alias("id_b")))
    return (chain.unionByName(bucket_min_edges(ids_and_buckets, id_col))
            .dropDuplicates(["id_a", "id_b"]))


def simhash_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  verify: bool = True,
                  max_iter: int = 10,
                  checkpoint_dir: str | None = None,
                  assume_unique_ids: bool = False) -> DataFrame:
    """Keep/drop SimHash dedup: (id, rep_id, is_keeper) via pigeonhole
    chunk buckets (see simhash_pairs).  With ``verify`` (default), each
    member is Hamming-checked against its bucket's min-id member only —
    O(k) per bucket — and components run over surviving edges; without,
    chunk co-occurrence is the edge.  ``assume_unique_ids``: see
    minhash_dedup."""
    # checkpoint the simhash table: verification edges re-join it twice
    # and the chunk buckets derive from it — without this the bit-vote
    # UDF would run 3x
    sh = (df.select(F.col(id_col), simhash(text_col).alias("__simhash"))
          .localCheckpoint(eager=False))
    buckets = _buckets(_simhash_band_keys(sh, id_col, max_hamming), id_col)
    verified = None
    if verify:
        verified = (_verified(bucket_candidate_edges(buckets, id_col), sh,
                              id_col, "__simhash", _hamming, "hamming")
                    .where(F.col("hamming") <= max_hamming))
    return _dedup_decisions(buckets, id_col, verified, max_iter,
                            checkpoint_dir,
                            _id_universe(df, id_col, assume_unique_ids))


def embedding_dedup(df: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id", n_planes: int = 16,
                    n_bands: int = 4,
                    threshold: float | None = 0.95,
                    seed: int = 13, dim: int | None = None,
                    max_iter: int = 10,
                    checkpoint_dir: str | None = None,
                    assume_unique_ids: bool = False) -> DataFrame:
    """Keep/drop embedding dedup: (id, rep_id, is_keeper) via banded
    hyperplane-LSH buckets (see embedding_cosine_pairs).  With a
    ``threshold`` (default), members are cosine-verified against the
    bucket min-id member only (O(k) per bucket); ``threshold=None``
    treats bucket co-occurrence as the edge.  ``assume_unique_ids``:
    see minhash_dedup."""
    vecs = df.select(F.col(id_col),
                     F.col(vec_col).cast("array<double>").alias("__v"))
    buckets = _buckets(_embedding_band_keys(vecs, id_col, n_planes,
                                            n_bands, seed, dim), id_col)
    verified = None
    if threshold is not None:
        # bucket table feeds both verification and propagation:
        # checkpoint so the projection matmul UDF runs once
        buckets = buckets.localCheckpoint(eager=False)
        verified = (_verified(bucket_candidate_edges(buckets, id_col),
                              vecs, id_col, "__v", _cosine, "cosine")
                    .where(F.col("cosine") >= threshold))
    return _dedup_decisions(buckets, id_col, verified, max_iter,
                            checkpoint_dir,
                            _id_universe(df, id_col, assume_unique_ids))
