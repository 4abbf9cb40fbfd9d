#!/usr/bin/env python
"""Round-9 optimization harness: noop-sink isolation benches + plan dumps
(guide §1.4/§1.5). NOT part of the driver contract — bench.py is frozen;
numbers from here are cited in OPTIMIZATION_r09.md only.

Usage:
  python bench_extra.py dedup1m          # signatures/lsh_pairs stage walls
  python bench_extra.py dedup1m --quick  # 200k-doc variant (fast iteration)
  python bench_extra.py lsh_explain      # physical plan of the LSH pair join
  python bench_extra.py curate           # curate stage walls at sf + 10x
  python bench_extra.py eve8             # 1M/8-batch eve pipeline drain
  python bench_extra.py minhash_kernel   # pure-python signature kernel timing
  python bench_extra.py subset q1,q2,... # rep-loop subset via bench.py BENCHES

Env mirrors bench.py: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    from fever_spark.session import get_spark

    return get_spark(master=f"local[{CPUS}]", app_name="fever_bench_extra")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def cmd_dedup1m(quick: bool = False, reps: int = 2):
    """Stage walls of the 1M-doc MinHash-LSH path (bench.py dedup_1m's
    shape, but per-stage and best-of-N so a single weather spike doesn't
    decide)."""
    from pyspark.sql import functions as F

    from fever_spark.operators import dedup

    spark = _spark()
    n = 200_000 if quick else 1_000_000
    cache = os.path.join(REPO, ".bench_cache", f"dedup1m_{n}")
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        from fever_spark.sources.synth import synth_pages_df

        n_base = int(n / 1.15)
        base = (synth_pages_df(spark, n_base, partitions=64)
                .select(F.xxhash64("url").alias("doc_id"), "text"))
        dups = (base.filter(F.pmod(F.xxhash64(F.col("doc_id")), F.lit(100))
                            < 15)
                .select((F.col("doc_id") + F.lit(1)).alias("doc_id"),
                        F.concat(F.col("text"), F.lit(" duptail"))
                        .alias("text")))
        base.unionAll(dups).write.mode("overwrite").parquet(cache)
    docs = spark.read.parquet(cache)
    out = {"n_docs": docs.count(), "reps": reps}
    best = {}
    for _ in range(reps):
        spark.sparkContext.setJobDescription("dedup1m: signatures")
        t0 = time.time()
        sigs = dedup.minhash_signatures(docs).localCheckpoint(eager=True)
        w = time.time() - t0
        best["signatures"] = min(best.get("signatures", 1e9), w)

        spark.sparkContext.setJobDescription("dedup1m: lsh_pairs")
        t0 = time.time()
        pairs = (dedup.lsh_candidate_pairs(sigs, bands=32, num_hashes=128)
                 .filter(F.col("est_jaccard") >= 0.7)
                 .localCheckpoint(eager=True))
        n_pairs = pairs.count()
        w = time.time() - t0
        best["lsh_pairs"] = min(best.get("lsh_pairs", 1e9), w)
        out["n_pairs"] = n_pairs

        spark.sparkContext.setJobDescription("dedup1m: clusters_driver")
        t0 = time.time()
        n_cl = (dedup.near_dup_clusters(pairs)
                .select("cluster_id").distinct().count())
        best["clusters_driver"] = min(best.get("clusters_driver", 1e9),
                                      time.time() - t0)
        out["n_clusters"] = n_cl
    out["stages"] = {k: round(v, 3) for k, v in best.items()}
    print(json.dumps(out))


def cmd_lsh_explain():
    """Dump the physical plan of the LSH candidate-pair join over the 1M
    signatures (plans/r09 evidence)."""
    from pyspark.sql import functions as F

    from fever_spark.operators import dedup

    spark = _spark()
    cache = os.path.join(REPO, ".bench_cache", "dedup1m_1000000")
    docs = spark.read.parquet(cache)
    sigs = dedup.minhash_signatures(docs).localCheckpoint(eager=True)
    pairs = (dedup.lsh_candidate_pairs(sigs, bands=32, num_hashes=128)
             .filter(F.col("est_jaccard") >= 0.7))
    plan = pairs._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    print(plan)


def cmd_curate(mult: int = 1, reps: int = 2):
    """Curate stage walls over the sf documents (optionally the 10x
    corpus bench_sf1 uses)."""
    import shutil
    import tempfile

    from fever_spark.jobs.curate import curate

    spark = _spark()
    if mult > 1:
        import pyarrow.parquet as pq
        n_docs = mult * pq.ParquetFile(
            f"{SF_DIR}/documents.parquet").metadata.num_rows
        src = os.path.join(REPO, ".bench_cache", f"sf1_docs_{n_docs}")
    else:
        src = f"{SF_DIR}/documents.parquet"
    best = None
    for _ in range(reps):
        out = tempfile.mkdtemp(prefix="fever_bx_curate_")
        try:
            t0 = time.time()
            man = curate(spark, src, out, min_quality=0.3, min_tokens=3,
                         near_dup_threshold=0.7, sample_rate=0.9)
            wall = time.time() - t0
            if best is None or wall < best["wall_s"]:
                best = {"wall_s": round(wall, 3),
                        "stages": man["stage_seconds"],
                        "counts": man["counts"]}
        finally:
            shutil.rmtree(out, ignore_errors=True)
    print(json.dumps(best))


def cmd_eve8(reps: int = 2):
    """1M events / 8 micro-batches through run_pipeline (the per-trigger
    fixed-cost regime), best-of-N."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F  # noqa: F401

    import bench

    spark = _spark()
    s = bench._eve_setup(spark)
    drop, _ = s["drops"][1_000_000]
    best = None
    for _ in range(reps + 1):  # first is warmup
        out = tempfile.mkdtemp(prefix="fever_bx_eve_")
        try:
            from fever_spark.jobs.run_pipeline import run_pipeline

            t0 = time.time()
            summary = run_pipeline(
                spark, drop, os.path.join(out, "o"),
                iocs=["host3", "name7", "sni5"],
                checkpoint=os.path.join(out, "ckpt"),
                forwards={"dns_only": ["dns"]},
                max_files_per_trigger=4)
            wall = time.time() - t0
            if best is None:
                best = {"warmup_wall_s": round(wall, 3)}
                continue
            if best.get("wall_s") is None or wall < best["wall_s"]:
                best.update(wall_s=round(wall, 3),
                            phase_seconds=summary["phase_seconds"],
                            alerts=summary["alerts"],
                            batches=summary["batches"])
        finally:
            shutil.rmtree(out, ignore_errors=True)
    print(json.dumps(best))


def cmd_minhash_kernel(reps: int = 5):
    """Pure-Python timing of the signature kernel over one synthetic batch
    (no Spark): isolates the numpy loop the signatures stage spends its
    executor time in."""
    import numpy as np
    import pandas as pd

    from fever_spark.operators.dedup import _hashed_shingles
    from fever_spark.hashing import double_hash64

    rng = np.random.default_rng(0)
    words = np.array([f"w{i}" for i in range(5000)], dtype=object)
    texts = pd.Series([
        " ".join(words[rng.integers(0, 5000, size=300)])
        for _ in range(2000)])
    num_hashes = 128
    t0 = time.time()
    doc_idx, shingles = _hashed_shingles(texts, 3, 0)
    t_shingle = time.time() - t0
    h1, h2 = double_hash64(shingles, seed=0)
    present = np.unique(doc_idx)
    starts = np.searchsorted(doc_idx, present, side="left")
    best = 1e9
    for _ in range(reps):
        out = np.full((len(texts), num_hashes), np.iinfo(np.int64).max,
                      dtype=np.int64)
        t0 = time.time()
        acc = h1.copy()
        for k in range(num_hashes):
            if k:
                acc += h2
            out[present, k] = np.minimum.reduceat(acc.view(np.int64), starts)
        best = min(best, time.time() - t0)
    print(json.dumps({"n_docs": len(texts), "n_shingles": len(shingles),
                      "shingle_s": round(t_shingle, 3),
                      "perm_loop_s": round(best, 3)}))


def cmd_subset(names: str, reps: int = 3):
    """Best-of-N walls for a comma-separated subset of bench.py BENCHES
    (same setup exclusions as bench.main, no warmup pandas pass)."""
    import bench

    spark = _spark()
    bench.ensure_pages(spark)
    req = names.split(",")
    if "sketch_pipeline" in req or "rollup" in req:
        bench._pages_projected(spark)
    if "bloom_match" in req:
        bench._bloom_setup(spark)
    if "incremental_dedup" in req:
        bench._incr_setup(spark)
    if "crawl_pipeline" in req or "warc_parse" in req:
        bench.ensure_warc(spark)
    if "rollup" in req:
        bench._pages_rollup_projected(spark)
    timings = {n: float("inf") for n in req}
    for _ in range(reps):
        for n in req:
            spark.sparkContext.setJobDescription(f"bx:{n}")
            t0 = time.time()
            bench.BENCHES[n](spark)
            timings[n] = min(timings[n], time.time() - t0)
    print(json.dumps({n: round(v, 3) for n, v in timings.items()}))


def main():
    cmd = sys.argv[1] if len(sys.argv) > 1 else "dedup1m"
    args = sys.argv[2:]
    if cmd == "dedup1m":
        cmd_dedup1m(quick="--quick" in args)
    elif cmd == "lsh_explain":
        cmd_lsh_explain()
    elif cmd == "curate":
        mult = 10 if "--10x" in args else 1
        cmd_curate(mult=mult)
    elif cmd == "eve8":
        cmd_eve8()
    elif cmd == "minhash_kernel":
        cmd_minhash_kernel()
    elif cmd == "subset":
        cmd_subset(args[0])
    else:
        raise SystemExit(f"unknown subcommand {cmd!r}")


if __name__ == "__main__":
    main()
