"""Training-shard writer: token-budget packing → one parquet shard per bin.

The last mile of the curation pipeline: documents (usually the output of
jobs/curate.py) are laid end to end in id order and cut into shards of
``budget`` tokens (operators/curation.pack_documents — distributed prefix
sum, never a single-task global sort), then written as ONE partitioned
parquet dataset with a shard column, one file per shard, plus a manifest
with per-shard document/token counts.

Scale shape: the packer's two bounded aggregations + one id-keyed join to
bring shard ids back onto the full rows + one `repartition(shard)` write
pass (each task writes whole shards — no tiny-file explosion from every
task touching every shard). Reference analog: fever's chunked bulk writer
(db/slurper_postgres.go:164-236 COPY every 50k rows) — same batching
discipline, expressed as token-budgeted partitions instead of row counts.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from fever_spark.files import write_atomic
from fever_spark.operators.curation import pack_documents

__all__ = ["write_training_shards"]


def write_training_shards(spark: SparkSession, input_path: str,
                          output_path: str, budget: int,
                          id_col: str = "doc_id", text_col: str = "text",
                          token_col: str | None = None,
                          n_buckets: int = 64,
                          bpe_merges: list | None = None,
                          shuffle_seed: int | None = None) -> dict:
    """Pack documents into token-budget shards and write them.

    Returns the manifest (also written to ``_shards_manifest.json``):
    total docs/tokens, shard count, per-shard doc and token counts, and
    the ids of shards containing an over-budget document (a doc larger
    than ``budget`` is never split; its shard simply runs long —
    flagged so a loader can decide to truncate or skip).

    ``bpe_merges`` (a trained functions/bpe merge list) switches the
    budget from whitespace words to REAL tokenizer tokens: docs are
    encoded once in the same pass (broadcast ranks, Zipfian word cache)
    and shards budget on the count the training loader will actually see.

    ``shuffle_seed`` packs in a seeded GLOBAL pseudo-random order instead
    of id order: crawl ids are host/time-clustered, so id-ordered shards
    feed a training loader correlated batches. The order key is
    zero-padded-hex ``xxhash64(id, seed)`` with the id appended (unique
    by construction — no collision can merge two docs), and the packer's
    bucketed prefix sum orders by it exactly as it would by id: the
    shuffle costs NO new plan shape, no global sort, same two bounded
    aggregations. Deterministic per (corpus, seed) for resumability.
    """
    docs = spark.read.parquet(input_path)
    if shuffle_seed is not None:
        shuffle_key = F.concat(
            F.lpad(F.hex(F.xxhash64(F.col(id_col),
                                    F.lit(int(shuffle_seed)))), 16, "0"),
            F.lit(":"), F.col(id_col).cast("string"))
        docs = docs.withColumn("_ord", shuffle_key)
        pack_id = "_ord"
    else:
        pack_id = id_col
    if bpe_merges is not None:
        from fever_spark.functions.bpe import bpe_encode

        docs = (bpe_encode(docs, bpe_merges, text_col=text_col,
                           out_col="_bpe")
                .withColumn("n_tokens", F.size("_bpe")).drop("_bpe"))
        token_col = "n_tokens"
    assign = pack_documents(docs, budget, id_col=pack_id,
                            token_col=token_col, text_col=text_col,
                            n_buckets=n_buckets)

    # curate() output (the usual input) already carries n_tokens — drop it
    # in favor of the packer's count so the join never emits a duplicate
    # column (parquet refuses to write one)
    base = docs.drop("n_tokens") if "n_tokens" in docs.columns else docs
    # materialize the (narrow) assignment once: it feeds both the join
    # below and the manifest aggregation, and re-executing its plan means
    # re-running the packer's windowed prefix sum over the corpus
    assign = (assign.withColumnRenamed("bin_id", "shard")
              .localCheckpoint(eager=True))
    # the written row count rides the write job itself (no extra job); it
    # must equal the assignment's, which only holds for unique pack ids
    written = Observation("shard_writer_rows")
    out = (base.join(assign, pack_id)
           .drop("_ord")
           .observe(written, F.count(F.lit(1)).alias("rows"))
           .repartition(F.col("shard")))
    out.write.mode("overwrite").partitionBy("shard").parquet(output_path)

    # Per-shard doc/token counts and the over-budget flag come from the
    # packer's OWN (checkpointed) assignment frame (id → shard,
    # n_tokens): every assign row lands in the written dataset via the
    # inner join on the unique pack id (checked below against the rows
    # observed on the write), so the aggregate is exactly what
    # a read-back of the output would count — without listing +
    # re-scanning the just-written corpus (measured faster than both a
    # read-back and an uncheckpointed aggregate; see BENCH/MEASUREMENTS.md).
    # The flag keys on the doc's own size, not shard occupancy — a doc
    # alone larger than the budget spans its shard regardless of where it
    # starts (a shard can legitimately hold small docs plus one oversized
    # tail).
    per_shard = (assign
                 .groupBy("shard")
                 .agg(F.count(F.lit(1)).alias("docs"),
                      F.sum("n_tokens").alias("tokens"),
                      (F.max("n_tokens") > budget).alias("has_overbudget"))
                 .orderBy("shard").collect())
    oversized = sorted(int(r["shard"]) for r in per_shard
                       if r["has_overbudget"])
    total_docs = int(sum(r["docs"] for r in per_shard))
    n_written = int(written.get["rows"])
    if n_written != total_docs:
        raise ValueError(
            f"wrote {n_written} rows for {total_docs} packed documents: "
            f"{id_col!r} must be a unique, non-null id per document "
            "(duplicate ids fan out in the id join); dedup the input first")
    manifest = {
        "input": input_path, "output": output_path,
        "budget_tokens": int(budget),
        "n_shards": len(per_shard),
        "total_docs": total_docs,
        "total_tokens": int(sum(r["tokens"] for r in per_shard)),
        "shards": [{"shard": int(r["shard"]), "docs": int(r["docs"]),
                    "tokens": int(r["tokens"])} for r in per_shard],
        "overbudget_doc_shards": oversized,
        "tokenizer": ("bpe" if bpe_merges is not None else
                      (f"column:{token_col}" if token_col
                       else "whitespace")),
        "order": (f"shuffled:{int(shuffle_seed)}"
                  if shuffle_seed is not None else "id"),
    }
    write_atomic(os.path.join(output_path, "_shards_manifest.json"),
                 json.dumps(manifest, indent=1).encode())
    return manifest


def main(argv: list[str] | None = None) -> None:
    import argparse

    from fever_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--budget", type=int, required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--token-col", default=None)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--bpe-merges", default=None,
                    help="JSON file of [[a, b], ...] trained merges: "
                         "budget on real tokenizer tokens")
    ap.add_argument("--shuffle-seed", type=int, default=None,
                    help="pack in seeded global pseudo-random order "
                         "instead of id order (decorrelates batches)")
    args = ap.parse_args(argv)
    merges = None
    if args.bpe_merges:
        with open(args.bpe_merges) as f:
            merges = [tuple(m) for m in json.load(f)]
    spark = get_spark(app_name="fever_spark_shard_writer")
    man = write_training_shards(spark, args.input, args.output, args.budget,
                                id_col=args.id_col, text_col=args.text_col,
                                token_col=args.token_col,
                                n_buckets=args.n_buckets,
                                bpe_merges=merges,
                                shuffle_seed=args.shuffle_seed)
    print(json.dumps({k: v for k, v in man.items() if k != "shards"}))


if __name__ == "__main__":
    main()
