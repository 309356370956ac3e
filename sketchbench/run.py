"""Sketch-path benchmark: one workload, one seed, one run.

    python3 sketchbench/run.py --workload raw_ingest --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root.  The run generates its inputs from the
seed into a fresh directory under ``.sketchbench_work/``, builds a
``local[N]`` session (N = min(2, nproc)), prepares any stored state,
warms the JIT with cycles over the operation kinds until a cycle's time
stops changing, then runs whole cycles, one operation at a time, for
about ``--seconds`` (at least two cycles).  Every operation's output is
checked against the exact oracle.  The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it holds the run's steadiness record (host facts, load,
calibration burns, warm-up times).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".sketchbench_work")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from sketchbench import gen, probe, trace  # noqa: E402

# Warm-up: JVM code keeps getting faster over the first operations of
# a process.  Cycles over the operation kinds run until one takes within
# WARMUP_FLAT of the cycle before it, at least WARMUP_MIN and at most
# WARMUP_MAX cycles; their times are printed so the flattening can be
# seen.
WARMUP_MIN, WARMUP_MAX = 2, 4
WARMUP_FLAT = 0.1
TIMED_MIN = 2  # timed cycles at least, so each kind's median has two
# Task slots: operations are dominated by per-task overhead, and on a
# 4-vCPU host local[2] ran them faster and steadier than local[4], whose
# Python workers, JVM and driver oversubscribe the cores.
CORES = 2

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s_per_op": "core-s",
    "peak_mem_mb": "MB",
    "rank_err_mean": "rank",
    "ok_op_frac": "ratio",
}

PER_LAYER = {
    "accuracy.rank_err_max": "rank",
    "accuracy.tail_rank_err_mean": "rank",
    "core.add_batch_ns_per_pt": "ns",
    "core.merge_blobs_us_per_blob": "us",
    "core.from_bytes_us": "us",
    "core.to_bytes_us": "us",
    "core.quantiles_us_per_digest": "us",
    "core.cdfs_us_per_digest": "us",
    "core.singleton_blob_us_per_key": "us",
    "core.singleton_hit_frac": "ratio",
    "core.centroids_mean": "count",
    "core.centroid_band_violations": "count",
    "core.k_span_max": "k",
    "core.digest_bytes_mean": "B",
    "tables.scan_s": "s",
    "tables.fused_s": "s",
    "aggregate.partial_s": "s",
    "aggregate.partial_rows": "count",
    "aggregate.partial_bytes": "B",
    "aggregate.partials_per_key_max": "count",
    "aggregate.merge_s": "s",
    "aggregate.tree_merge_s": "s",
    "extract.s": "s",
    "pipeline.run_partials_s": "s",
    "pipeline.finalize_s": "s",
    "kll.agg_s": "s",
    "histogram.agg_s": "s",
    "sketch_agg.hll_s": "s",
    "sketch_agg.cm_s": "s",
    "sketch.partial_bytes": "B",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_gap_s": "s",
    "spark.shuffle_bytes_per_op": "B",
    "spark.merge_task_skew": "ratio",
    "spark.task_cpu_s_per_op": "s",
    "spark.gc_s_per_op": "s",
    "session.build_s": "s",
    "setup.warmup_s": "s",
    "host.burn_nproc_s_pre": "s",
    "host.burn_nproc_s_post": "s",
    "trace.overhead_frac": "ratio",
    "trace.attributed_frac": "ratio",
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def build_session(cores: int, mem_mb: int, work: str):
    from t_digest_spark import session

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir
    # the JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
        + os.environ.get("SPARK_LAUNCHER_OPTS", ""))
    heap_mb = max(768, min(1024, mem_mb // 8))
    spark = session.build_session(
        f"local[{cores}]", cores, app_name="sketchbench",
        **{"spark.driver.memory": f"{heap_mb}m",
           "spark.driver.extraJavaOptions":
               f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
           "spark.local.dir": local,
           "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
           "spark.sql.session.timeZone": "UTC",
           "spark.ui.enabled": "false",
           "spark.ui.showConsoleProgress": "false",
           "spark.eventLog.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark, heap_mb


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def check_session(spark) -> None:
    """Fail loudly, not slowly: the preloading worker daemon must be on
    and workers must import the library from this checkout."""
    conf = spark.sparkContext.getConf()
    daemon = conf.get("spark.python.daemon.module", None)
    if daemon != "t_digest_spark.daemon":
        raise RuntimeError(f"python daemon module is {daemon!r}, not "
                           "t_digest_spark.daemon")
    if conf.get("spark.eventLog.enabled", "false") != "false":
        raise RuntimeError("spark.eventLog.enabled must stay off")
    paths = spark.sparkContext.parallelize(range(2), 2).map(
        lambda _: __import__("t_digest_spark").__file__).collect()
    if not all(p.startswith(ROOT) for p in paths):
        raise RuntimeError(f"workers import t_digest_spark from {paths}")


def run_op(op) -> dict:
    """Run one operation and check its output.  An operation that fails
    its check keeps its time and errors; one that raises has none."""
    rec = {"op": op.name, "ok": True, "problems": [], "rank_err": None,
           "tail_err": None, "max_err": None}
    probe.reset_peaks()
    cpu0 = probe.tree_cpu_s()
    t0 = time.perf_counter()
    rec["start"] = time.time()
    try:
        got = op.run()
    except Exception:  # noqa: BLE001 — a failed operation is recorded
        traceback.print_exc(file=sys.stderr)
        rec.update(ok=False, problems=["raised"], wall=None, cpu=None,
                   end=time.time(), mem=probe.tree_peak_mb())
        return rec
    rec["wall"] = time.perf_counter() - t0
    rec["end"] = time.time()
    rec["cpu"] = probe.tree_cpu_s() - cpu0
    rec["mem"] = probe.tree_peak_mb()
    out = op.check(got)
    rec.update(ok=not out.problems, problems=out.problems[:5],
               rank_err=out.rank_err, tail_err=out.tail_err,
               max_err=out.max_err)
    if out.problems:
        print(f"sketchbench: {op.name} failed its check: "
              f"{out.problems[:5]}", file=sys.stderr)
    return rec


def cycles(seconds: float, run_cycle, at_least: int) -> None:
    """Call ``run_cycle`` (one operation of each kind) ``at_least``
    times, then again while a cycle as long as the last would still end
    within ``seconds``: whole cycles, so every kind is timed equally
    often."""
    t0 = time.perf_counter()
    done, last = 0, 0.0
    while (done < at_least
           or time.perf_counter() - t0 + last <= seconds):
        t = time.perf_counter()
        run_cycle()
        last = time.perf_counter() - t
        done += 1


def warm_up(wl) -> list:
    """Warm-up cycles until the JIT trend flattens; returns the records
    of every warm-up operation, cycle by cycle."""
    recs, totals = [], []
    while len(totals) < WARMUP_MAX:
        cyc = [run_op(op) for op in wl.ops]
        recs.append(cyc)
        totals.append(sum(r["wall"] or 0.0 for r in cyc))
        if (len(totals) >= WARMUP_MIN
                and abs(totals[-1] - totals[-2]) < WARMUP_FLAT * totals[-2]):
            break
    return recs


def end_to_end(wl, recs: list, setup_s: float,
               attempted: int, failed: int) -> dict:
    ran = [r for r in recs if r["wall"] is not None]
    walls = {op.name: _median(r["wall"] for r in ran if r["op"] == op.name)
             for op in wl.ops}
    cpus = [_median(r["cpu"] for r in ran if r["op"] == op.name)
            for op in wl.ops]
    # per operation kind the median, then combined over one cycle
    rows = sum(op.rows for op in wl.ops)
    cycle_s = sum(walls.values())

    def err(key):
        per_kind = [[r[key] for r in ran if r["op"] == op.name
                     and r[key] is not None] for op in wl.ops]
        per_kind = [_median(v) for v in per_kind if v]
        return sum(per_kind) / len(per_kind)

    return {
        "setup_s": setup_s,
        "rows_per_s": rows / cycle_s if cycle_s > 0 else 0.0,
        "cpu_s_per_op": sum(cpus) / len(cpus),
        "peak_mem_mb": max(r["mem"] for r in recs),
        "rank_err_mean": err("rank_err"),
        "ok_op_frac": 1.0 - failed / attempted,
    }


def core_timings(slices, blobs) -> dict:
    """Driver-side core kernel timings on the workload's own values, and
    digest health over the workload's final digests."""
    import numpy as np

    from t_digest_spark.core import TDigest, merge_blobs, try_singleton_blob
    from t_digest_spark.operators.aggregate import DEFAULT_BUFFER

    from sketchbench.workloads import DELTA, QS

    def per_item(fn, n):
        t0 = time.perf_counter()
        fn()
        return (time.perf_counter() - t0) / max(n, 1)

    sample = np.concatenate(slices)[:1_000_000]
    add = []
    for _ in range(3):
        d = TDigest(DELTA)
        t0 = time.perf_counter()
        d.add_batch(sample)
        d.compress()
        add.append(time.perf_counter() - t0)
    parts = slices[:4000]
    digs = []
    for s in parts:
        d = TDigest(DELTA)
        d.add_batch(s)
        digs.append(d)
    own = []
    out = {
        "core.add_batch_ns_per_pt": _median(add) / sample.size * 1e9,
        "core.to_bytes_us": per_item(
            lambda: own.extend(d.to_bytes() for d in digs), len(digs)) * 1e6,
        "core.from_bytes_us": per_item(
            lambda: [TDigest.from_bytes(b) for b in own], len(own)) * 1e6,
        "core.merge_blobs_us_per_blob": per_item(
            lambda: merge_blobs(own, compression=DELTA), len(own)) * 1e6,
        "core.quantiles_us_per_digest": per_item(
            lambda: [d.quantiles(QS) for d in digs], len(digs)) * 1e6,
    }
    xs = merge_blobs(own, compression=DELTA).quantiles(QS)
    out["core.cdfs_us_per_digest"] = per_item(
        lambda: [d.cdfs(xs) for d in digs], len(digs)) * 1e6
    hits = []
    out["core.singleton_blob_us_per_key"] = per_item(
        lambda: hits.extend(
            try_singleton_blob(s, DELTA, DEFAULT_BUFFER) is not None
            for s in parts), len(parts)) * 1e6
    out["core.singleton_hit_frac"] = sum(hits) / len(hits)
    final = [TDigest.from_bytes(bytes(b)) for b in blobs]
    counts = [d.centroid_count() for d in final]
    out["core.centroids_mean"] = float(np.mean(counts))
    out["core.centroid_band_violations"] = float(sum(
        1 for d, c in zip(final, counts)
        if d.size > DELTA and not DELTA / 2 <= c <= DELTA))
    # singletons are exempt, as in TDigest.check_weights: K_2's k(q) is
    # unbounded at q = 0 and 1, where the end singletons sit
    out["core.k_span_max"] = max(
        float(np.max(d.k_spans()[d.centroids()[1] > 1], initial=0.0))
        for d in final)
    out["core.digest_bytes_mean"] = float(np.mean([len(b) for b in blobs]))
    return out


SIBLINGS = {"kll": "kll.agg_s", "histogram": "histogram.agg_s",
            "hll": "sketch_agg.hll_s", "cm": "sketch_agg.cm_s"}


def traced_cycles(spark, wl, seconds: float, work: str) -> dict:
    """The traced timed phase, in whole cycles over the operation kinds.
    Per operation: the untraced operation (for the overhead ratio),
    then, with the event log attached, each noop phase and the traced
    operation.  Returns the raw records."""
    sc = spark.sparkContext
    spans = trace.Spans()
    log = trace.EventLog(spark, os.path.join(work, "eventlog"))
    plain, phases = [], []

    def traced(op):
        opid = f"{op.name}#{len(phases)}"
        sc.setJobGroup(f"{opid}/plain", "untraced", False)
        plain.append(run_op(op))
        log.attach()
        walls = {}
        for layer, fn in op.phases:
            sc.setJobGroup(f"{opid}/{layer}", f"sketchbench.{layer}", False)
            with spans.span(layer, f"{opid}/{layer}") as sid:
                fn()
            walls[layer] = sid
        sc.setJobGroup(f"{opid}/full", f"sketchbench.{op.name}", False)
        rec = run_op(op)
        if rec["wall"] is not None:
            rec["span"] = spans.add(op.name, f"{opid}/full", rec["start"],
                                    rec["end"])
        log.detach()
        phases.append((op.name, opid, walls, rec))

    cycles(seconds, lambda: [traced(op) for op in wl.ops], 1)
    sc.setJobGroup("sketchbench.post", "post", False)
    events = log.close()
    return {"spans": spans, "events": events, "plain": plain,
            "traced": [p[3] for p in phases], "phases": phases}


def per_layer(wl, raw: dict, extra: dict) -> dict:
    """Per-layer metrics from the traced records: noop phase walls,
    event-log counters per phase and operation, span self times."""
    spans = raw["spans"]
    sp = spans.spans
    groups = trace.by_job_group(raw["events"])
    # each Spark job becomes a child span of the phase or operation it
    # ran in, so an operation's self time is its driver gap
    for s in list(sp):
        for js, je in groups.get(s["op"], {"jobs": {}})["jobs"].values():
            spans.add("job", s["op"], js, je if je is not None else js,
                      parent=s["id"])

    def wall(sid):
        return sp[sid]["end"] - sp[sid]["start"]

    def counters(sid):
        return trace.group_counters(groups.get(sp[sid]["op"]),
                                    sp[sid]["start"], sp[sid]["end"])

    rows = []  # one per traced operation that did not raise
    for name, _, walls, rec in raw["phases"]:
        if rec["wall"] is None:
            continue
        agg_sid = list(walls.values())[-1]
        agg_c = counters(agg_sid)
        rows.append({
            "op": name,
            "walls": {layer: wall(sid) for layer, sid in walls.items()},
            "agg": wall(agg_sid), "agg_c": agg_c,
            "full": rec["wall"], "full_c": counters(rec["span"]),
            "gap": spans.self_time(rec["span"]),
            # disjoint parts of the operation: stage-1 (scan, then the
            # rest of the map stages) and merge stages from the event
            # log, the aggregation phase's driver time outside any job
            # (query planning, the library's plan building), and the
            # extraction after the aggregation
            "layers": {"scan": wall(walls["scan"]),
                       "stage1": agg_c["map_stage_s"] - wall(walls["scan"]),
                       "merge": agg_c["reduce_stage_s"],
                       "driver": spans.self_time(agg_sid),
                       "extract": rec["wall"] - wall(agg_sid)},
        })

    def med(fn, ops=None):
        return _median(fn(r) for r in rows
                       if ops is None or r["op"] in ops)

    names = [op.name for op in wl.ops]
    tdig = [n for n in names if n not in SIBLINGS]
    sib = [n for n in names if n in SIBLINGS]
    out = {k: 0.0 for k in PER_LAYER}
    out.update(extra)
    out["tables.scan_s"] = med(lambda r: r["walls"]["scan"])
    if "fused" in names:
        out["tables.fused_s"] = med(lambda r: r["walls"]["fused"], {"fused"})
    if "finalize" in names:
        out["pipeline.finalize_s"] = med(lambda r: r["agg"], {"finalize"})
        out["aggregate.tree_merge_s"] = med(lambda r: r["agg"],
                                            {"finalize_tree"})
    for name, metric in SIBLINGS.items():
        if name in names:
            out[metric] = med(lambda r: r["agg"], {name})
    if sib:
        out["sketch.partial_bytes"] = med(
            lambda r: r["agg_c"]["map_shuffle_bytes"], sib)
    out["aggregate.partial_s"] = med(
        lambda r: r["walls"].get("partial",
                                 r["layers"]["scan"] + r["layers"]["stage1"]),
        tdig)
    out["aggregate.merge_s"] = med(lambda r: r["layers"]["merge"], tdig)
    out["aggregate.partial_bytes"] = med(
        lambda r: r["agg_c"]["map_shuffle_bytes"], tdig)
    out["aggregate.partial_rows"] = med(
        lambda r: r["agg_c"]["map_shuffle_records"], tdig)
    out["extract.s"] = med(lambda r: r["layers"]["extract"], tdig)
    for key, metric in (("jobs", "spark.jobs_per_op"),
                        ("tasks", "spark.tasks_per_op"),
                        ("shuffle_bytes", "spark.shuffle_bytes_per_op"),
                        ("merge_task_skew", "spark.merge_task_skew"),
                        ("task_cpu_s", "spark.task_cpu_s_per_op"),
                        ("gc_s", "spark.gc_s_per_op")):
        out[metric] = med(lambda r: r["full_c"][key])
    out["spark.driver_gap_s"] = med(lambda r: r["gap"])
    checked = [r for r in raw["traced"] if r["max_err"] is not None]
    if checked:
        out["accuracy.rank_err_max"] = max(r["max_err"] for r in checked)
        out["accuracy.tail_rank_err_mean"] = _median(
            r["tail_err"] for r in checked)
    # per operation kind the median, summed over one cycle of kinds
    full_w = sum(med(lambda r: r["full"], {n}) for n in names)
    plain_w = sum(_median(r["wall"] for r in raw["plain"]
                          if r["op"] == n and r["wall"] is not None)
                  for n in names)
    out["trace.overhead_frac"] = full_w / plain_w if plain_w else 0.0
    # the disjoint layer parts against the operation they make up
    layer_w = sum(med(lambda r: r["layers"][layer], {n})
                  for n in names for layer in rows[0]["layers"]) \
        if rows else 0.0
    out["trace.attributed_frac"] = layer_w / full_w if full_w else 0.0
    return out


def bench(args) -> dict:
    from sketchbench import workloads

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = None
    try:
        host_pre = probe.host_facts()
        cores = min(CORES, host_pre["nproc"])
        burn_pre = probe.calibrate(cores)
        oracle = gen.generate(args.workload, args.seed,
                              os.path.join(work, "data"), args.size)

        t_setup = time.perf_counter()
        spark, heap_mb = build_session(cores, host_pre["mem_total_mb"], work)
        check_session(spark)
        build_s = time.perf_counter() - t_setup
        wl = workloads.WORKLOADS[args.workload](
            spark, os.path.join(work, "data"), oracle, work)
        extra = wl.prepare()
        t_warm = time.perf_counter()
        warm_cycles = warm_up(wl)
        warm = [r for cyc in warm_cycles for r in cyc]
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup

        if args.trace:
            raw = traced_cycles(spark, wl, args.seconds, work)
            recs = raw["plain"] + raw["traced"]
        else:
            recs = []
            cycles(args.seconds,
                   lambda: recs.extend(run_op(op) for op in wl.ops),
                   TIMED_MIN)
        attempted = len(recs) + len(warm)
        failed = sum(not r["ok"] for r in recs + warm)

        if args.trace:
            extra.update({
                "session.build_s": build_s,
                "setup.warmup_s": warmup_s,
                "aggregate.partials_per_key_max": wl.partials_per_key_max(),
                **core_timings(wl.slices, wl.digests())})
        stop_session(spark)
        spark = None
        burn_post = probe.calibrate(cores)
        host_post = probe.host_facts()
        if args.trace:
            extra["host.burn_nproc_s_pre"] = burn_pre
            extra["host.burn_nproc_s_post"] = burn_post
            metrics = per_layer(wl, raw, extra)
            units = PER_LAYER
            spans_path = os.path.join(WORK, f"spans-{args.workload}.json")
            with open(spans_path, "w") as fh:
                json.dump(raw["spans"].spans, fh)
        else:
            metrics = end_to_end(wl, recs, setup_s, attempted, failed)
            units = END_TO_END
        record = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "cores": cores, "driver_heap_mb": heap_mb,
            "host_pre": host_pre, "host_post": host_post,
            "burn_nproc_s_pre": burn_pre, "burn_nproc_s_post": burn_post,
            "session_build_s": build_s,
            # one list per warm-up cycle, one time per operation kind
            "warmup_s": [[round(r["wall"], 4) if r["wall"] else None
                          for r in cyc] for cyc in warm_cycles],
            "ops_timed": len(recs),
            "timed_s_by_kind": {
                op.name: [round(r["wall"], 3) for r in recs
                          if r["op"] == op.name and r["wall"] is not None]
                for op in wl.ops},
            "problems": [p for r in recs + warm for p in r["problems"]][:10],
        }
        print(json.dumps(record))
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["raw_ingest", "keyed_merge"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the benchmark's tests")
    args = ap.parse_args(argv)
    old = os.environ.get("PYTHONPATH")
    # workers are separate interpreters: they find the library only
    # through PYTHONPATH
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    try:
        import t_digest_spark  # noqa: F401
    except ImportError as exc:
        print(f"sketchbench: cannot import t_digest_spark from {ROOT}: "
              f"{exc}", file=sys.stderr)
        return 2
    result = bench(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
