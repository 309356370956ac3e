"""Throughput + N-vs-4N scaling evidence for the cluster-scale dedup
operator (minhash_dedup: signatures -> banded buckets -> O(k) candidate
edges -> min-label components).

The driver testdata documents tables are tiny (5k docs at sf0.1), so
this bench synthesizes a deterministic corpus with Spark expressions
only (no external data): ``--docs`` documents of 40 hash-derived words
each; the first ``--dup-frac`` of ids form duplicate clusters of
``--cluster-size`` identical documents, the rest are unique.  The
correct keeper count is known in closed form and asserted every run.

Measurement methodology == bench_scaling.py (the flagship job's
north-rule harness): levels run in separate subprocesses (fresh JVM)
in temporally ADJACENT pairs with alternating order, a pure-CPU
fixed-work calibration runs adjacent to every pair, every run appends
to BENCH/dedup_scaling_history.json, and BENCH/dedup_scaling.json
carries the latest window plus the ROBUST verdict: median pair
efficiency pooled over every window whose compute path (fingerprint
over the dedup job's source files) matches the current tree.

Usage: python tools/bench_dedup.py [--docs 1200000] [--levels 2,8]
                                   [--pairs 3]

Corpus sizing (round 5): per-stage attribution at 400k docs showed the
job carries a parallelism-independent tail (driver convergence
actions, Python worker spawn, per-stage scheduling, sub-second
stages) — an Amdahl floor of the SMALL bench job, not of the plan: a
cluster-scale dedup run is hours long and never sees it.  After the
round-5 kernel work (star contraction + window fusion, see
BENCH/ATTRIBUTION.md) the residual flat tail measures ~7 s
irrespective of corpus size, so the default corpus is sized (2.4M
docs, ~39 s at 8 cores) to keep the scalable fraction >=85% of the
8-core critical path.  The pooled verdict additionally keys on
(docs, cluster_size, dup_frac) so windows at different corpus sizes
never vote together.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

# the files whose code actually RUNS in the measured dedup job — the
# multi-window verdict pools only windows with an identical compute
# path (see bench_scaling.JOB_FILES for the rationale)
DEDUP_JOB_FILES = (
    "t_digest_spark/operators/dedup.py",
    "t_digest_spark/operators/text.py",
    "t_digest_spark/session.py",
    "t_digest_spark/daemon.py",  # every Python task runs under it
    "tools/bench_dedup.py",  # harness config shapes the measured job too
)


def dedup_job_fingerprint(rev: str | None = None) -> str:
    import hashlib
    import subprocess as sp

    h = hashlib.sha256()
    for f in DEDUP_JOB_FILES:
        if rev:
            out = sp.run(["git", "show", f"{rev}:{f}"], cwd=REPO,
                         capture_output=True, check=True)
            h.update(out.stdout)
        else:
            with open(os.path.join(REPO, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:12]


def corpus(spark, n_docs: int, cluster_size: int, dup_frac: float):
    """Deterministic synthetic corpus: duplicate clusters + uniques.

    ids [0, n_dup) share one text per ``cluster_size``-sized cluster;
    ids [n_dup, n_docs) are unique.  Text = 40 tokens derived from
    xxhash64 of (seed_id, position) — pure JVM expressions."""
    from pyspark.sql import functions as F

    n_dup = int(n_docs * dup_frac)
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    seed = F.when(F.col("doc_id") < n_dup,
                  (F.col("doc_id") / cluster_size).cast("long")
                  + 10_000_000_000
                  ).otherwise(F.col("doc_id"))
    words = F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda i: F.concat(F.lit("w"),
                           F.pmod(F.xxhash64(seed, i), F.lit(50_000))))
    expected_keepers = (n_docs - n_dup) + (n_dup + cluster_size - 1) \
        // cluster_size
    return base.withColumn("text", F.concat_ws(" ", words)), \
        expected_keepers


def run_one(cpus: int, n_docs: int, cluster_size: int,
            dup_frac: float, reps: int) -> dict:
    from pyspark.sql import functions as F

    from t_digest_spark.operators.dedup import minhash_dedup
    from t_digest_spark.session import build_session

    spark = build_session(
        f"local[{cpus}]", cpus, app_name=f"dedup-scaling-{cpus}",
        **{"spark.driver.memory": "24g", "spark.ui.enabled": "false",
           "spark.sql.shuffle.partitions": "64",
           # one file per scan task (64 files): without this the
           # signature stage coalesces to ~cpus tasks — a single wave
           # with zero tail-hiding, so one slow task stalls the stage
           "spark.sql.files.openCostInBytes": str(128 << 20),
           "spark.local.dir": "/dev/shm/spark-local"})
    spark.sparkContext.setLogLevel("ERROR")
    df, expected = corpus(spark, n_docs, cluster_size, dup_frac)
    # materialize the corpus so generation cost is excluded; tmpfs
    path = f"/dev/shm/tdigest_input/dedup_{n_docs}_{cluster_size}.parquet"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df.repartition(64).write.mode("overwrite").parquet(path)

    def job() -> int:
        docs = spark.read.parquet(path)
        # doc_id is this corpus's primary key by construction (every
        # real crawl table has one), so skip the defensive full-corpus
        # distinct over the id universe
        dec = minhash_dedup(docs, "text", "doc_id", k_shingle=5,
                            num_perm=64, bands=16,
                            assume_unique_ids=True)
        return dec.where("is_keeper").count()

    keepers = job()  # warmup
    assert keepers == expected, (keepers, expected)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        assert job() == expected
        times.append(time.perf_counter() - t0)
    spark.stop()
    med = statistics.median(times)
    return {"cpus": cpus, "docs": n_docs, "keepers": keepers,
            "times": [round(t, 3) for t in times],
            "median_sec": round(med, 3),
            "docs_per_sec": round(n_docs / med, 1)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2_400_000)
    ap.add_argument("--cluster-size", type=int, default=100)
    ap.add_argument("--dup-frac", type=float, default=0.2)
    ap.add_argument("--levels", type=str, default="2,8")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--child", type=int, default=0)
    args = ap.parse_args()

    if args.child:
        print(json.dumps(run_one(args.child, args.docs,
                                 args.cluster_size, args.dup_frac,
                                 args.reps)))
        return

    lo, hi = (int(x) for x in args.levels.split(","))
    from bench_scaling import calibrate

    def child(cpus: int) -> dict:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--child", str(cpus), "--docs", str(args.docs),
             "--cluster-size", str(args.cluster_size),
             "--dup-frac", str(args.dup_frac),
             "--reps", str(args.reps)],
            capture_output=True, text=True, cwd=REPO, check=True)
        return json.loads(out.stdout.strip().splitlines()[-1])

    pairs = []
    for i in range(args.pairs):
        cal = calibrate((lo, hi))
        if i % 2 == 0:
            r_lo = child(lo)
            r_hi = child(hi)
        else:
            r_hi = child(hi)
            r_lo = child(lo)
        ratio = r_hi["docs_per_sec"] / r_lo["docs_per_sec"]
        pairs.append({"pair": i, "lo": r_lo, "hi": r_hi,
                      "ratio": round(ratio, 3),
                      "efficiency": round(ratio / (hi / lo), 3),
                      "cpu_ceiling": cal["ceiling"]})
        print(pairs[-1], flush=True)

    effs = sorted(p["efficiency"] for p in pairs)
    ceils = sorted(p["cpu_ceiling"] for p in pairs)
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
            capture_output=True, text=True, check=True).stdout.strip()
    except Exception:
        rev = "unknown"
    summary = {
        "job": "minhash_dedup keep/drop (64 perms, 16 bands, "
               "components to fixpoint)",
        "code_rev": rev,
        "job_fp": dedup_job_fingerprint(),
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "docs": args.docs,
        "cluster_size": args.cluster_size,
        "dup_frac": args.dup_frac,
        "levels": [lo, hi],
        "pairs": pairs,
        "median_efficiency": effs[len(effs) // 2],
        "median_cpu_ceiling": ceils[len(ceils) // 2],
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    hist_path = os.path.join(REPO, "BENCH", "dedup_scaling_history.json")
    hist = []
    if os.path.exists(hist_path):
        with open(hist_path) as f:
            hist = json.load(f)
    hist.append(summary)
    with open(hist_path, "w") as f:
        json.dump(hist, f, indent=2)

    # verdict doc: latest window + the pooled multi-window verdict at
    # the current compute-path fingerprint (see module docstring)
    cur_fp = summary["job_fp"]

    def run_fp(r) -> str:
        if "job_fp" in r:
            return r["job_fp"]
        rev_r = r.get("code_rev")
        if not rev_r:
            return "unknown"
        try:
            return dedup_job_fingerprint(rev_r)
        except Exception:
            return "unknown"

    cur_runs = [r for r in hist
                if r.get("levels") == [lo, hi] and run_fp(r) == cur_fp
                and r.get("docs") == args.docs
                and r.get("cluster_size") == args.cluster_size
                and r.get("dup_frac") == args.dup_frac]
    pooled = sorted(p["efficiency"] for r in cur_runs for p in r["pairs"])
    pooled_ceil = sorted(
        p["cpu_ceiling"] for r in cur_runs for p in r["pairs"])
    verdict = dict(summary)
    verdict["multi_run"] = {
        "job_fp": cur_fp,
        "code_revs": sorted({r.get("code_rev", "?") for r in cur_runs}),
        "windows": len(cur_runs),
        "pairs": len(pooled),
        "pair_efficiencies": pooled,
        "median_efficiency": pooled[len(pooled) // 2],
        "median_cpu_ceiling": pooled_ceil[len(pooled_ceil) // 2],
        "run_medians": [r["median_efficiency"] for r in cur_runs],
    }
    verdict["target"] = 0.8
    verdict["pass"] = verdict["multi_run"]["median_efficiency"] >= 0.8
    with open(os.path.join(REPO, "BENCH", "dedup_scaling.json"), "w") as f:
        json.dump(verdict, f, indent=2)
    # BENCH/BASELINE.md renders BOTH headline jobs' pooled verdicts —
    # refresh it so a dedup window updates the document too
    try:
        from bench_scaling import write_baseline_md
        fh_path = os.path.join(REPO, "BENCH", "scaling_history.json")
        with open(fh_path) as f:
            write_baseline_md(json.load(f))
    except Exception as exc:  # doc refresh must never void a window
        print(f"BASELINE.md refresh skipped: {exc}", file=sys.stderr)
    print(json.dumps(verdict))


if __name__ == "__main__":
    main()
