"""Training-shard writer: pack_documents assignments become one parquet
shard per bin with a manifest; totals conserve, oversized docs flagged."""

import json
import os

import pytest
from pyspark.sql import functions as F

from fever_spark.jobs.shard_writer import write_training_shards


def test_shards_written_with_manifest(spark, tmp_path):
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(10))) for i in range(20)]
    rows.append((100, " ".join(["big"] * 150)))   # over-budget single doc
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(src)

    out = str(tmp_path / "shards")
    man = write_training_shards(spark, src, out, budget=50, n_buckets=4)

    assert man["total_docs"] == 21
    assert man["total_tokens"] == 20 * 10 + 150
    assert man["n_shards"] >= 5
    # shard dirs exist, one file per shard (repartition(shard) write)
    for s in man["shards"]:
        d = os.path.join(out, f"shard={s['shard']}")
        parts = [p for p in os.listdir(d) if p.endswith(".parquet")]
        assert len(parts) == 1
    # the 150-token doc occupies its own shard span and is flagged
    assert man["overbudget_doc_shards"]
    big = spark.read.parquet(out).filter(F.col("doc_id") == 100).collect()
    assert len(big) == 1

    # id-order contiguity: docs in shard s all precede docs in shard s+1
    df = spark.read.parquet(out).select("doc_id", "shard").collect()
    by_shard = {}
    for r in df:
        by_shard.setdefault(r["shard"], []).append(r["doc_id"])
    shards = sorted(by_shard)
    for a, b in zip(shards, shards[1:]):
        assert max(by_shard[a]) < min(by_shard[b])


def test_uri_output_gets_manifest(spark, tmp_path):
    """A file:// output (Spark takes URIs) gets its manifest next to the
    shards, like a bare path."""
    src = str(tmp_path / "src_uri")
    spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(10))) for i in range(20)],
        "doc_id long, text string").write.parquet(src)
    out = tmp_path / "shards_uri"
    man = write_training_shards(spark, src, "file://" + str(out), budget=50,
                                n_buckets=4)
    assert man["total_docs"] == 20
    assert ((out / "_shards_manifest.json").read_text()
            == json.dumps(man, indent=1))


def test_token_col_passthrough(spark, tmp_path):
    src = str(tmp_path / "src2")
    spark.createDataFrame(
        [(i, "ignored text", 25) for i in range(8)],
        "doc_id long, text string, my_tokens long").write.parquet(src)
    out = str(tmp_path / "shards2")
    man = write_training_shards(spark, src, out, budget=50,
                                token_col="my_tokens", n_buckets=2)
    assert man["total_tokens"] == 200
    assert man["n_shards"] == 4            # 2 docs x 25 tokens per shard
    for s in man["shards"]:
        assert s["docs"] == 2 and s["tokens"] == 50


def test_curate_output_with_n_tokens_column(spark, tmp_path):
    """Regression: curate() output carries n_tokens; the join must not
    produce a duplicate column (parquet refuses to write one)."""
    src = str(tmp_path / "src3")
    spark.createDataFrame(
        [(i, " ".join(["w"] * 10), 10) for i in range(6)],
        "doc_id long, text string, n_tokens long").write.parquet(src)
    out = str(tmp_path / "shards3")
    man = write_training_shards(spark, src, out, budget=30, n_buckets=2)
    assert man["total_docs"] == 6 and man["total_tokens"] == 60
    assert man["n_shards"] == 2


def test_overbudget_doc_flagged_even_with_small_neighbors(spark, tmp_path):
    """Regression: an over-budget doc sharing its shard with preceding
    small docs must still be flagged (not only single-doc shards)."""
    src = str(tmp_path / "src4")
    spark.createDataFrame(
        [(1, " ".join(["a"] * 10)),        # starts shard 0
         (2, " ".join(["b"] * 150))],      # 150 > budget, starts IN shard 0
        "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "shards4")
    man = write_training_shards(spark, src, out, budget=50, n_buckets=1)
    assert 0 in man["overbudget_doc_shards"]


def test_bpe_budgeted_shards(spark, tmp_path):
    """With a trained merge list, shard budgets count REAL tokenizer
    tokens — totals must equal the encoder's own counts exactly."""
    from fever_spark.functions.bpe import bpe_encode, train_bpe, word_counts
    from fever_spark.jobs.shard_writer import write_training_shards

    rows = [(i, " ".join(f"tok{j % 7} common word" for j in range(12)))
            for i in range(40)]
    src = str(tmp_path / "docs")
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.parquet(src)
    model = train_bpe(word_counts(docs), num_merges=30)

    out = str(tmp_path / "shards")
    man = write_training_shards(spark, src, out, budget=120,
                                bpe_merges=model["merges"])
    assert man["tokenizer"] == "bpe"
    expect = (bpe_encode(docs, model["merges"])
              .select(F.size("bpe_tokens").alias("n"))
              .agg(F.sum("n")).first()[0])
    assert man["total_tokens"] == expect
    assert man["n_shards"] >= 2
    # every shard except ones holding an oversized doc stays near budget
    for srec in man["shards"]:
        if srec["shard"] not in man["overbudget_doc_shards"]:
            assert srec["tokens"] <= 120 + max(
                r["tokens"] for r in man["shards"])


def test_shuffled_packing(spark, tmp_path):
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(10)))
            for i in range(40)]
    src = str(tmp_path / "src_shuf")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    def shard_map(out):
        return {r["doc_id"]: r["shard"] for r in
                spark.read.parquet(out).select("doc_id", "shard").collect()}

    out_id = str(tmp_path / "sh_id")
    man_id = write_training_shards(spark, src, out_id, budget=50,
                                   n_buckets=4)
    out_a = str(tmp_path / "sh_a")
    man_a = write_training_shards(spark, src, out_a, budget=50,
                                  n_buckets=4, shuffle_seed=7)
    out_a2 = str(tmp_path / "sh_a2")
    write_training_shards(spark, src, out_a2, budget=50, n_buckets=4,
                          shuffle_seed=7)
    out_b = str(tmp_path / "sh_b")
    write_training_shards(spark, src, out_b, budget=50, n_buckets=4,
                          shuffle_seed=8)

    # conservation: same docs, same token total, same shard count math
    assert man_a["total_docs"] == man_id["total_docs"] == 40
    assert man_a["total_tokens"] == man_id["total_tokens"] == 400
    assert man_a["order"] == "shuffled:7" and man_id["order"] == "id"
    assert sorted(shard_map(out_a)) == list(range(40))

    # the shuffle actually decorrelates: id-contiguous runs are broken
    # (40 docs over >= 8 shards — id-ordered assignment is monotone in
    # doc_id; a seeded hash order is not)
    ids_by_shard_a = {}
    for d, s in shard_map(out_a).items():
        ids_by_shard_a.setdefault(s, []).append(d)
    monotone = all(max(ids_by_shard_a[a]) < min(ids_by_shard_a[b])
                   for a, b in zip(sorted(ids_by_shard_a),
                                   sorted(ids_by_shard_a)[1:]))
    assert not monotone
    # deterministic per seed, different across seeds
    assert shard_map(out_a) == shard_map(out_a2)
    assert shard_map(out_a) != shard_map(out_b)
    # every shard except possibly the last still respects the budget
    # shape: docs are whole, budget 50, docs are 10 tokens -> 5 per shard
    sizes = {s: len(v) for s, v in ids_by_shard_a.items()}
    assert set(sizes.values()) == {5}
    # the internal order key never leaks into the written schema
    assert "_ord" not in spark.read.parquet(out_a).columns


def test_duplicate_id_rejected_before_manifest(spark, tmp_path):
    """A duplicated doc_id fans out in the id join (22 rows written for
    20 packed docs); the writer must refuse instead of reporting 20."""
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(10))) for i in range(19)]
    rows.append((7, "a duplicate of doc seven"))
    src = str(tmp_path / "dup_src")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "dup_shards")
    with pytest.raises(ValueError, match="unique"):
        write_training_shards(spark, src, out, budget=50, n_buckets=4)
    assert not os.path.exists(os.path.join(out, "_shards_manifest.json"))
