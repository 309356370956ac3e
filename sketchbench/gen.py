"""Seeded input generators and exact oracles for the sketch benchmark.

Every generator draws its samples from ``numpy.random.default_rng``
seeded with the run's seed (per-key distribution parameters come from a
fixed stream), writes its parquet files into a caller-given directory,
and returns the oracle the correctness checks compare against:
per-group sorted value arrays plus any exact counts.  The library is never used to make
inputs, so a library change cannot change a workload.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per size.  "full" is what a timed run measures; "tiny"
# keeps the benchmark's own tests fast.
SIZES = {
    "full": {
        "raw_ingest": dict(rows=1_000_000, files=16, keys=8,
                           sketch_keys=128),
        "keyed_merge": dict(
            transcripts=dict(turns=130_000, files=16, days=2),
            rollup=dict(files=16, keys=250, per_file_key=128)),
    },
    "tiny": {
        "raw_ingest": dict(rows=60_000, files=4, keys=8, sketch_keys=4),
        "keyed_merge": dict(
            transcripts=dict(turns=30_000, files=4, days=1),
            rollup=dict(files=4, keys=20, per_file_key=300)),
    },
}

ROLES = ["user", "assistant", "tool", "system"]
ROLE_P = [0.38, 0.38, 0.20, 0.04]
TOOLS = ["search", "python", "browser", "shell", "sql", "image", "fetch",
         "calc"]
HOUR_US = 3_600_000_000
T0_US = 1_700_000_000_000_000 // HOUR_US * HOUR_US  # whole-hour epoch start

# the histogram's bucket range; values outside it count in the end
# buckets
HIST_MIN, HIST_MAX = 1e-3, 1e6
CM_PROBES = 8  # hottest item ids probed in every count-min sketch


def _write(table: pa.Table, out_dir: str, i: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, f"part-{i:03d}.parquet"),
                   compression="snappy")


def _by_group(keys: np.ndarray, values: np.ndarray) -> dict:
    """{key: sorted values} for an integer key array."""
    order = np.argsort(keys, kind="stable")
    ks, vs = keys[order], values[order]
    cuts = np.flatnonzero(np.diff(ks)) + 1
    return {int(ks[s]): np.sort(vs[s:e]) for s, e in
            zip(np.r_[0, cuts], np.r_[cuts, ks.size])}


def _slices(keys: np.ndarray, values: np.ndarray) -> list:
    """Per-key value arrays in input order: what one stage-1 task hands
    the core kernel for each key.  Used for the driver-side core
    micro-timings."""
    order = np.argsort(keys, kind="stable")
    cuts = np.flatnonzero(np.diff(keys[order])) + 1
    return np.split(values[order], cuts)


def _shape_rng(n_keys: int):
    """Per-key distribution parameters come from a fixed stream, the
    same for every seed: seeds vary the samples, not the shapes, so
    accuracy figures compare across seeds."""
    return np.random.default_rng(1_000_003 + n_keys)


def _skewed_values(rng, keys: np.ndarray, n_keys: int) -> np.ndarray:
    """Per-key lognormal bodies with a 1% Pareto tail: the shape the
    t-digest's tail accuracy is for.  Key scales differ up to about
    50-fold, so the ungrouped digest sees a multi-modal mixture."""
    shape = _shape_rng(n_keys)
    mu = shape.uniform(-1.0, 3.0, n_keys)[keys]
    sigma = shape.uniform(0.5, 2.0, n_keys)[keys]
    v = np.exp(mu + sigma * rng.standard_normal(keys.size))
    tail = rng.random(keys.size) < 0.01
    v[tail] *= 1.0 + rng.pareto(1.2, int(tail.sum()))
    return v


def raw_ingest(seed, out_dir: str, rows: int, files: int, keys: int,
               sketch_keys: int) -> dict:
    """(k int, g int, v double, item long) rows.  The t-digests group v
    by k (unequal key frequencies); the sibling sketches group by g:
    KLL and the histogram over v, HLL and count-min over item ids,
    which are Zipf-distributed."""
    rng = np.random.default_rng(seed)
    p = _shape_rng(keys).dirichlet(np.full(keys, 4.0))
    k = rng.choice(keys, size=rows, p=p).astype(np.int32)
    v = _skewed_values(rng, k, keys)
    g = rng.integers(0, sketch_keys, rows).astype(np.int32)
    item = (rng.zipf(1.3, rows) % 5_000_000).astype(np.int64)
    for i, sl in enumerate(np.array_split(np.arange(rows), files)):
        _write(pa.table({"k": k[sl], "g": g[sl], "v": v[sl],
                         "item": item[sl]}), out_dir, i)
    first = slice(0, rows // files)
    by_g = _by_group(g, v)
    probes = np.arange(1, CM_PROBES + 1, dtype=np.int64)
    order = np.argsort(g, kind="stable")
    gs, items = g[order], item[order]
    cuts = np.flatnonzero(np.diff(gs)) + 1
    distinct, probe_counts = {}, {}
    for s, e in zip(np.r_[0, cuts], np.r_[cuts, gs.size]):
        it = items[s:e]
        distinct[int(gs[s])] = int(np.unique(it).size)
        probe_counts[int(gs[s])] = np.array(
            [int((it == p).sum()) for p in probes])
    return {"rows": rows, "groups": _by_group(k, v),
            "global": np.sort(v), "slices": _slices(k[first], v[first]),
            "sketch_groups": by_g, "distinct": distinct, "probes": probes,
            "probe_counts": probe_counts,
            "hist_counts": {j: hist_counts(s) for j, s in by_g.items()}}


def _ascii_strings(rng, lengths: np.ndarray) -> pa.Array:
    """Random lowercase strings of the given lengths, built from buffers
    (no per-row Python objects)."""
    offsets = np.zeros(lengths.size + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    data = rng.integers(97, 123, int(offsets[-1]), dtype=np.uint8)
    return pa.StringArray.from_buffers(
        lengths.size, pa.py_buffer(offsets.tobytes()),
        pa.py_buffer(data.tobytes()))


def _conv_ids(ids: np.ndarray) -> pa.Array:
    """'c%09d' conversation ids: fixed width, so string order is id
    order."""
    width = 10
    digits = (ids[:, None] // 10 ** np.arange(8, -1, -1)) % 10 + 48
    buf = np.empty((ids.size, width), dtype=np.uint8)
    buf[:, 0] = ord("c")
    buf[:, 1:] = digits
    offsets = np.arange(ids.size + 1, dtype=np.int32) * width
    return pa.StringArray.from_buffers(
        ids.size, pa.py_buffer(offsets.tobytes()),
        pa.py_buffer(buf.tobytes()))


def _dict_strings(codes: np.ndarray, names: list, null_code=None):
    arr = pa.DictionaryArray.from_arrays(
        pa.array(codes, mask=(codes == null_code)
                 if null_code is not None else None), names)
    return arr.cast(pa.string())


def transcript_latency(seed, out_dir: str, turns: int, files: int,
                       days: int) -> dict:
    """Transcript table (conv_id, turn_idx, role, text, tool, ts) that
    meets the clustered fused path's contract: whole conversations per
    file, rows sorted by (conv_id, turn_idx).  Tool turns name one of
    eight tools, so (role, tool, hour) has eleven keys per hour: many
    small groups and a few large ones.  Conversation lengths are
    Zipf(1.5) capped at 200 turns, drawn until there are ``turns`` turns
    (the last conversation is cut short); inter-turn latencies are
    lognormal with a Pareto tail; conversation starts follow a daily
    cycle."""
    rng = np.random.default_rng(seed)
    lens = np.minimum(rng.zipf(1.5, turns), 200)
    convs = int(np.searchsorted(np.cumsum(lens), turns)) + 1
    lens = lens[:convs]
    lens[-1] -= int(lens.sum()) - turns
    hours = days * 24
    daily = 1.0 + 0.9 * np.sin(2 * np.pi * np.arange(hours) / 24.0)
    start_hour = rng.choice(hours, size=convs, p=daily / daily.sum())
    start_us = (T0_US + start_hour * HOUR_US
                + rng.integers(0, HOUR_US, convs))
    n = int(lens.sum())
    conv = np.repeat(np.arange(convs), lens)
    first = np.r_[0, np.cumsum(lens)[:-1]]
    turn = (np.arange(n) - np.repeat(first, lens)).astype(np.int32)
    gap_s = np.exp(1.0 + 1.5 * rng.standard_normal(n))
    tail = rng.random(n) < 0.02
    gap_s[tail] *= 1.0 + rng.pareto(1.1, int(tail.sum()))
    gap_us = np.minimum(np.round(gap_s * 1e6), 6 * HOUR_US).astype(np.int64)
    gap_us[first] = 0
    ts = np.repeat(start_us, lens) + (np.cumsum(gap_us)
                                      - np.repeat(np.cumsum(gap_us)[first],
                                                  lens))
    role = rng.choice(len(ROLES), size=n, p=ROLE_P).astype(np.int32)
    tool = np.where(role == 2, rng.integers(0, len(TOOLS), n), -1) \
        .astype(np.int32)
    text_len = np.minimum(rng.geometric(1 / 30.0, n), 1_000).astype(np.int32)
    text = _ascii_strings(rng, text_len)
    ids = _conv_ids(conv)
    cuts = np.searchsorted(conv, np.linspace(0, convs, files + 1)[1:-1])
    for i, (s, e) in enumerate(zip(np.r_[0, cuts], np.r_[cuts, n])):
        _write(pa.table({
            "conv_id": ids.slice(s, e - s),
            "turn_idx": turn[s:e],
            "role": _dict_strings(role[s:e], ROLES),
            "text": text.slice(s, e - s),
            "tool": _dict_strings(tool[s:e], TOOLS, null_code=-1),
            "ts": pa.array(ts[s:e], type=pa.timestamp("us", tz="UTC")),
        }), out_dir, i)
    # oracle, with the kernel's arithmetic: seconds = us / 1e6, then
    # subtract; NaN latency at conversation starts is not aggregated
    sec = ts / 1e6
    lat = np.empty(n)
    lat[1:] = sec[1:] - sec[:-1]
    lat[first] = np.nan
    hour = ts // HOUR_US * 3600  # ts_hour as epoch seconds
    key = (role * 16 + tool + 1).astype(np.int64) * (1 << 40) + hour
    groups, slices = {}, []
    f0 = int(cuts[0]) if files > 1 else n  # rows of the first file
    for metric, vals in (("latency_s", lat), ("text_len",
                                              text_len.astype(np.float64))):
        ok = ~np.isnan(vals)
        for k, s in _by_group(key[ok], vals[ok]).items():
            r, t = divmod(k >> 40, 16)
            groups[(metric, ROLES[r], TOOLS[t - 1] if t else None,
                    k & ((1 << 40) - 1))] = s
        ok0 = ok[:f0]
        slices += _slices(key[:f0][ok0], vals[:f0][ok0])
    return {"rows": n, "groups": groups, "slices": slices}


def digest_rollup(seed, out_dir: str, files: int, keys: int,
                  per_file_key: int) -> dict:
    """(key int, v double) files holding every key with the same number
    of values each, for stored per-(file, key) partial digests.  Keys
    roll up ten to a coarse group (key // 10); keys of one coarse group
    differ in scale by a few tens of percent."""
    rng = np.random.default_rng(seed)
    per_file = keys * per_file_key
    all_k, all_v = [], []
    params = _shape_rng(keys)
    coarse_scale = np.exp(params.uniform(0.0, 3.0, keys // 10 + 1))
    shape = coarse_scale[np.arange(keys) // 10] * np.exp(
        params.normal(0.0, 0.2, keys))
    slices = None
    for i in range(files):
        k = np.repeat(np.arange(keys, dtype=np.int32), per_file_key)
        v = shape[k] * np.exp(0.7 * rng.standard_normal(per_file))
        perm = rng.permutation(per_file)
        k, v = k[perm], v[perm]
        _write(pa.table({"key": k, "v": v}), out_dir, i)
        if slices is None:
            slices = _slices(k, v)
        all_k.append(k)
        all_v.append(v)
    k = np.concatenate(all_k)
    v = np.concatenate(all_v)
    return {"rows": k.size, "groups": _by_group(k, v),
            "coarse": _by_group(k // 10, v), "slices": slices}


def hist_counts(values: np.ndarray, bins_per_decade: int = 50) -> np.ndarray:
    """Bucket counts by the reference FloatHistogram rule
    (FloatHistogram.java:57-79): the bucket is the float bits of
    value / min shifted down to ``bits`` mantissa bits, clamped to the
    range."""
    bits = int(np.ceil(np.log2(bins_per_decade * np.log10(2))))

    def bucket(x):
        b = np.asarray(x / HIST_MIN, dtype=np.float64).view(np.int64)
        return (b >> (52 - bits)) - (0x3FF << bits)

    n_bins = int(bucket(np.array([HIST_MAX]))[0]) + 1
    idx = np.clip(bucket(values), 0, n_bins - 1)
    idx[values <= HIST_MIN] = 0
    idx[values >= HIST_MAX] = n_bins - 1
    return np.bincount(idx, minlength=n_bins)


def keyed_merge(seed: int, out_dir: str, transcripts: dict,
                rollup: dict) -> dict:
    """Both many-key inputs, each from its own stream of the seed."""
    return {
        "transcripts": transcript_latency(
            [seed, 1], os.path.join(out_dir, "transcripts"), **transcripts),
        "rollup": digest_rollup(
            [seed, 2], os.path.join(out_dir, "rollup"), **rollup),
    }


GENERATORS = {
    "raw_ingest": raw_ingest,
    "keyed_merge": keyed_merge,
}


def generate(workload: str, seed: int, out_dir: str, size: str = "full"):
    os.makedirs(out_dir, exist_ok=True)
    return GENERATORS[workload](seed, out_dir, **SIZES[size][workload])
