"""Incremental corpus ingestion: the operational complement of curate.

curate() cleans a corpus at rest; ingest() KEEPS a corpus clean as new
crawl batches arrive, without ever rescanning the history:

  normalize (optional)
    → exact screen: broadcast corpus-fingerprint Bloom (zero FN) + exact
      verify of the flagged subset against the stored fingerprint table
      (Bloom FPs never drop new docs)
    → near-dup screen (optional): collapse near-dup clusters WITHIN the
      batch (canonical doc kept), then LSH-band the survivors against the
      corpus's persisted MinHash signature index; the batch is signed
      once, and the same signatures feed the index write
    → append survivors to the corpus + update the three indexes
      (fingerprints, signatures, Bloom).

Idempotence by layout: every batch writes under its own
``ingest=<batch_id>`` partition (corpus + both index tables) with
overwrite semantics, so re-running a crashed batch REPLACES its own
partitions instead of double-appending. Replay is additionally
SELF-EXCLUDING: the Bloom state is kept as per-batch deltas
(``bloom_deltas/<id>.bin``) plus a merged fast-path filter, and a
replayed batch screens against history-minus-itself — otherwise a crash
after the index update would make the replay screen out its own
documents and empty the partition (data loss). The manifest line is
written last and marks completion. Reference analog: fever's chunked
at-least-once DB writes made idempotent by partition keying — the same
upgrade sketch_job makes over the reference's lossy flush
(db/slurper_postgres.go:164-236).

Scale shape: the history is touched only through O(bloom_bytes)
broadcast state, the fingerprint table (8 bytes/doc, anti-joined only
against the fpp-sized flagged subset), and the signature index (banded
via codegen, ids-only candidate join). The batch itself is scanned
once per screen.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fever_spark.files import write_atomic
from fever_spark.functions.text import fingerprint, normalize_text
from fever_spark.operators.dedup import (SIGNATURE_HASH_FAMILY,
                                         corpus_fingerprint_bloom,
                                         dedup_keep_canonical,
                                         incremental_exact_dedup,
                                         incremental_near_duplicates,
                                         lsh_candidate_pairs,
                                         minhash_signatures)
from fever_spark.sketch.bloom import BloomFilter

__all__ = ["ingest", "stream_ingest"]


def _part(base: str, batch_id: str) -> str:
    return os.path.join(base, f"ingest={batch_id}")


def ingest(spark: SparkSession, batch_path: str, corpus_dir: str,
           state_dir: str, batch_id: str | None = None,
           text_col: str = "text", id_col: str = "doc_id",
           near_dup_threshold: float | None = None,
           normalize: bool = False,
           bloom_capacity: int = 1_000_000,
           bloom_fpp: float = 1e-6,
           num_hashes: int = 128, shingle_size: int = 3) -> dict:
    """Ingest one batch. Returns (and logs) the manifest line."""
    t0 = time.time()
    if batch_id is None:
        batch_id = os.path.basename(batch_path.rstrip("/")).replace("=", "_")
    fp_dir = os.path.join(state_dir, "fingerprints")
    sig_dir = os.path.join(state_dir, "signatures")
    bloom_path = os.path.join(state_dir, "bloom.bin")
    delta_dir = os.path.join(state_dir, "bloom_deltas")
    os.makedirs(delta_dir, exist_ok=True)
    own_delta = os.path.join(delta_dir, f"{batch_id}.bin")
    replay = os.path.exists(own_delta)

    # state params are load-bearing across batches: a different Bloom
    # (capacity, fpp) cannot merge with the stored deltas, and different
    # signature params make band hashes incomparable (the near-dup screen
    # would silently find nothing). Validate BEFORE any writes.
    params_path = os.path.join(state_dir, "_params.json")
    params = {"bloom_capacity": int(bloom_capacity),
              "bloom_fpp": float(bloom_fpp),
              "num_hashes": int(num_hashes),
              "shingle_size": int(shingle_size),
              "text_col": text_col, "id_col": id_col,
              # the shingle-hash KERNEL version: an index built by an
              # older family would band-match nothing — fail loud, not
              # silently re-append every near-dup (a pre-family-key
              # state dir fails this same check by lacking the key)
              "signature_hash_family": SIGNATURE_HASH_FAMILY}
    if os.path.exists(params_path):
        with open(params_path) as f:
            stored = json.load(f)
        if stored != params:
            raise ValueError(
                "ingest state params differ from the ones this state dir "
                f"was created with: stored={stored} given={params}; "
                "re-index the corpus (new state dir) to change them")
    else:
        write_atomic(params_path, json.dumps(params).encode())

    # the manifest line is the batch commit point: a batch with on-disk
    # partitions or a Bloom delta but NO manifest line crashed mid-write,
    # and new batches would screen against state that silently lacks (or
    # partially contains) it. Force the operator to replay it first.
    log_path = os.path.join(state_dir, "ingests.jsonl")
    completed = set()
    if os.path.exists(log_path):
        with open(log_path) as f:
            completed = {json.loads(line)["batch_id"] for line in f}
    on_disk = set()
    for base in (corpus_dir, fp_dir, sig_dir):
        if os.path.isdir(base):
            on_disk.update(d.split("=", 1)[1] for d in os.listdir(base)
                           if d.startswith("ingest="))
    on_disk.update(f[:-4] for f in os.listdir(delta_dir)
                   if f.endswith(".bin"))
    incomplete = on_disk - completed - {batch_id}
    if incomplete:
        raise RuntimeError(
            f"state dir has incomplete ingests {sorted(incomplete)} "
            "(partitions without a manifest line — a crashed run). "
            "Replay those batch ids before ingesting new ones.")

    batch = spark.read.parquet(batch_path)
    if normalize:
        batch = batch.withColumn(text_col,
                                 normalize_text(F.col(text_col)))
    counts = {"batch": batch.count()}

    # wall seconds per phase (screen → dedup → append → index update),
    # recorded in the manifest so each batch's phase costs stay on record
    stage_seconds = {}
    _t = time.time()

    def _mark(stage: str) -> None:
        nonlocal _t
        stage_seconds[stage] = round(time.time() - _t, 3)
        _t = time.time()

    other_deltas = [os.path.join(delta_dir, f)
                    for f in sorted(os.listdir(delta_dir))
                    if f.endswith(".bin") and f != f"{batch_id}.bin"]
    corpus_exists = bool(other_deltas)
    if corpus_exists:
        if replay:
            # self-excluding screen: merge every OTHER batch's delta so a
            # replayed batch never screens out its own documents
            screen = BloomFilter.load(other_deltas[0])
            for d in other_deltas[1:]:
                screen = screen.merge(BloomFilter.load(d))
        else:
            screen = (BloomFilter.load(bloom_path)
                      if os.path.exists(bloom_path)
                      else BloomFilter(capacity=bloom_capacity,
                                       fpp=bloom_fpp))
        bc = spark.sparkContext.broadcast(screen.to_bytes())
        exact = (spark.read.parquet(fp_dir)
                 .filter(F.col("ingest") != batch_id).select("_fp"))
        kept = incremental_exact_dedup(batch, bc, text_col, id_col,
                                       exact_check=exact)
    else:
        # first batch (or a replay of it): only within-batch dedup applies
        empty = BloomFilter(capacity=bloom_capacity, fpp=bloom_fpp)
        bc = spark.sparkContext.broadcast(empty.to_bytes())
        kept = incremental_exact_dedup(batch, bc, text_col, id_col)
    # the survivor set is consumed by several passes below (near-dup,
    # corpus write, fingerprint write, signature build)
    kept = kept.localCheckpoint(eager=False)
    counts["after_exact_screen"] = kept.count()
    _mark("exact_screen")

    # ONE signing pass over the survivors: the within-batch pairs, the
    # corpus screen and the signature-index write all read these rows,
    # each semi-joined to the survivors of the steps before it
    sigs = minhash_signatures(kept, text_col, id_col, num_hashes,
                              shingle_size)
    if near_dup_threshold is not None:
        sigs = sigs.localCheckpoint(eager=False)
        # WITHIN-batch near-dups first (re-crawls of one page under two
        # URLs arrive together): keep the canonical doc per cluster, or
        # both copies would enter the corpus permanently — later batches
        # are screened, the founding batch never was
        batch_pairs = (lsh_candidate_pairs(sigs, id_col,
                                           num_hashes=num_hashes)
                       .filter(F.col("est_jaccard") >= near_dup_threshold)
                       .select("id_a", "id_b"))
        kept = dedup_keep_canonical(kept, batch_pairs, id_col) \
            .localCheckpoint(eager=False)
        counts["after_batch_near_dup"] = kept.count()
        _mark("batch_near_dup")
        if corpus_exists and os.path.isdir(sig_dir):
            old_sigs = (spark.read.parquet(sig_dir)
                        .filter(F.col("ingest") != batch_id)
                        .select(id_col, "minhash"))
            hits = incremental_near_duplicates(
                sigs.join(kept.select(id_col), id_col, "left_semi"),
                old_sigs, id_col, threshold=near_dup_threshold,
                num_hashes=num_hashes) \
                .select(F.col("new_id").alias(id_col)).distinct()
            kept = kept.join(hits, id_col, "left_anti") \
                .localCheckpoint(eager=False)
            counts["after_near_dup_screen"] = kept.count()
            _mark("near_dup_screen")
        sigs = sigs.join(kept.select(id_col), id_col, "left_semi")

    # idempotent batch partitions: a re-run overwrites its own slice
    kept.write.mode("overwrite").parquet(_part(corpus_dir, batch_id))
    _mark("corpus_append")
    kept.select(fingerprint(F.col(text_col)).alias("_fp")) \
        .write.mode("overwrite").parquet(_part(fp_dir, batch_id))
    sigs.write.mode("overwrite").parquet(_part(sig_dir, batch_id))

    # Bloom state: a distributed-built filter over ONLY this batch's
    # survivors becomes the batch's delta file; the merged fast-path
    # filter is the union of the screen state and the delta (on replay
    # the screen was rebuilt from the other deltas, so the union is
    # exactly history-with-this-batch either way). Built from the
    # CHECKPOINTED survivor frame — the same rows the corpus partition
    # write just materialized — rather than re-reading that partition
    # (a read-back re-scans the batch for no gain; Bloom bitset OR is
    # partitioning-independent, so the delta bytes are identical either
    # way; see BENCH/MEASUREMENTS.md)
    delta = BloomFilter.from_bytes(corpus_fingerprint_bloom(
        kept, text_col, capacity=bloom_capacity, fpp=bloom_fpp))
    delta.save(own_delta)
    merged = delta.merge(BloomFilter.from_bytes(bytes(bc.value)))
    merged.save(bloom_path)
    _mark("index_update")

    manifest = {"batch_id": batch_id, "batch_path": batch_path,
                "counts": counts, "stage_seconds": stage_seconds,
                "near_dup_threshold": near_dup_threshold,
                "normalize": normalize,
                "wall_s": round(time.time() - t0, 3),
                "completed_utc": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    with open(log_path, "a") as f:
        f.write(json.dumps(manifest) + "\n")
    return manifest


def main(argv: list[str] | None = None) -> None:
    import argparse

    from fever_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--batch", required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--batch-id", default=None)
    ap.add_argument("--near-dup-threshold", type=float, default=None)
    ap.add_argument("--normalize", action="store_true")
    ap.add_argument("--bloom-capacity", type=int, default=1_000_000)
    args = ap.parse_args(argv)
    spark = get_spark(app_name="fever_spark_ingest")
    man = ingest(spark, args.batch, args.corpus, args.state,
                 batch_id=args.batch_id,
                 near_dup_threshold=args.near_dup_threshold,
                 normalize=args.normalize,
                 bloom_capacity=args.bloom_capacity)
    print(json.dumps(man))


if __name__ == "__main__":
    main()


def stream_ingest(spark: SparkSession, watch_dir: str, corpus_dir: str,
                  state_dir: str, staging_dir: str, checkpoint_dir: str,
                  max_files_per_trigger: int | None = None,
                  **ingest_kwargs):
    """The LIVING-CORPUS loop end to end: watch a crawl drop directory
    (sources/warc.stream_warc_to_pages) and run every micro-batch of
    newly dropped archives through ingest() — exact + near-dup screened
    against the whole corpus history, appended under its own partition.

    Exactly-once composition of two idempotent layers: the file-stream
    checkpoint guarantees each archive enters exactly one micro-batch,
    and ingest()'s batch-keyed partitions + self-excluding Bloom deltas
    make a REPLAYED micro-batch (crash between staging and commit)
    replace its own output instead of double-appending. Micro-batch
    pages stage as parquet under ``staging_dir/batch=<id>`` (overwrite —
    replay-safe), with doc_id = xxhash64(url, warc_ts) so recrawls of a
    url get distinct ids and the content screens decide survival.

    Returns the StreamingQuery; the caller owns its lifecycle
    (``processAllAvailable()`` for drain-style tests, ``awaitTermination``
    in production)."""
    from fever_spark.sources.warc import stream_warc_to_pages

    stream = stream_warc_to_pages(
        spark, watch_dir, max_files_per_trigger=max_files_per_trigger)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        staged = os.path.join(staging_dir, f"batch={batch_id}")
        pages = batch_df.withColumn(
            "doc_id", F.xxhash64("url", "warc_ts"))
        pages.write.mode("overwrite").parquet(staged)
        if spark.read.parquet(staged).isEmpty():
            return  # an empty trigger must not mint an empty corpus batch
        ingest(spark, staged, corpus_dir, state_dir,
               batch_id=f"stream_{batch_id}", **ingest_kwargs)

    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir).start())
