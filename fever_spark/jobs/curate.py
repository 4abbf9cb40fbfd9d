"""Corpus curation: the canonical LLM training-data pipeline, composed from
the library's first-class operators —

  annotate (lang-id, quality score, token count; all whole-stage codegen)
    → threshold filter (quality / language / token bounds / repetition)
    → PII redaction (optional, chained codegen regexp)
    → paragraph dedup (optional, cross-doc boilerplate removal)
    → exact dedup (normalized-content fingerprint)
    → ExactSubstr span dedup (optional: duplicated runs of >= k tokens cut
      everywhere but their first occurrence)
    → near-dup dedup (MinHash-LSH pairs → connected components → keep the
      canonical doc per cluster)
    → contamination screen (optional: drop docs sharing word n-grams with a
      benchmark corpus — Bloom broadcast, zero FN, exact verify)
    → deterministic hash sample (repartition-stable membership)
    → partitioned write + a JSON manifest of per-stage survivor counts.

Run: spark-submit --py-files fever_spark.zip -m fever_spark.jobs.curate \
       --input /data/documents --output /data/curated [--min-quality 0.5]
       [--langs en,de] [--min-tokens 10] [--max-tokens 100000]
       [--near-dup-threshold 0.7] [--sample-rate 1.0] [--redact-pii]
       [--paragraph-dedup] [--max-dup-word-frac 0.7]
       [--benchmark /data/benchmark] [--substring-dedup-k 20]

Scale shape: annotate/filter are one codegen'd pass; exact dedup is one
hash-shuffle; LSH is signature UDF + banded equi-join (ids only); cluster
propagation shuffles only the pair graph; the sample is a filter. Stage
frames are persisted so per-stage counts don't recompute upstream stages.

Input contract: ``id_col`` must be unique and non-null (duplicate ids all
survive dedup semi-joins; all-NULL-id groups vanish). Because curate()
ingests arbitrary parquet corpora, the contract is ENFORCED by default —
exact_dedup runs with validate=True (one cheap aggregation) and fails
loud; pass validate_ids=False to skip the check on corpora whose ids are
known-good (e.g. produced by ingest.py, which assigns them).
"""

from __future__ import annotations

import json
import os
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fever_spark.files import write_atomic
from fever_spark.functions import text as TXT
from fever_spark.operators import curation, dedup, sampling


def curate(spark: SparkSession, input_path: str, output_path: str,
           text_col: str = "text", id_col: str = "doc_id",
           min_quality: float = 0.5, langs: list[str] | None = None,
           min_tokens: int = 5, max_tokens: int = 1_000_000,
           near_dup_threshold: float = 0.7, sample_rate: float = 1.0,
           seed: int = 0, redact_pii: bool = False,
           paragraph_dedup: bool = False,
           max_dup_word_frac: float | None = None,
           benchmark_path: str | None = None,
           contamination_ngram: int = 8,
           substring_dedup_k: int | None = None,
           workdir: str | None = None,
           normalize: bool = False,
           validate_ids: bool = True,
           c4_rules: bool = False,
           gopher_rules: bool = False,
           blocked_domains: list[str] | None = None,
           perplexity_lm=None,
           max_perplexity: float | None = None,
           quality_model: dict | None = None,
           min_quality_proba: float = 0.5,
           keep_best_quality: bool = False) -> dict:
    docs = spark.read.parquet(input_path)
    counts = {"input": docs.count()}
    # wall seconds per pipeline stage (stage = work up to its survivor
    # count), recorded in the manifest so the composed pipeline — not just
    # its pieces — is measurable (perfbench's crawl_curate reads it)
    stage_seconds = {}
    _t = time.time()

    def _mark(stage: str) -> None:
        nonlocal _t
        stage_seconds[stage] = round(time.time() - _t, 3)
        _t = time.time()

    # every persisted intermediate is tracked and unpersisted at the end —
    # stages that REASSIGN a name (paragraph/substring dedup shadow their
    # input frame) must not leak the shadowed cache entry for the app's
    # lifetime when curate() runs repeatedly in one session
    persisted = []

    def _persist(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(df)
        return df

    # stage-level resume: with `workdir` set, every stage boundary is
    # materialized to workdir/NN_name + an atomic done-marker carrying a
    # hash of all pipeline-shaping params. A re-run with the same params
    # loads completed stages instead of recomputing them (crash recovery
    # for long corpus runs — the curation analog of sketch_job's chunk
    # lineage). Any param change invalidates everything (coarse by
    # design: stage-level resume is for crashes, not param sweeps), with
    # one deliberate exception — sample_rate/seed only shape the final
    # non-checkpointed sample_and_write stage, so re-sampling an already
    # curated corpus reuses all the expensive stages.
    resumed: list[str] = []
    resume_key = None
    if workdir:
        import hashlib
        payload = json.dumps(
            {"input": input_path, "text_col": text_col, "id_col": id_col,
             "min_quality": min_quality, "langs": langs,
             "min_tokens": min_tokens, "max_tokens": max_tokens,
             "near_dup_threshold": near_dup_threshold,
             "redact_pii": redact_pii, "paragraph_dedup": paragraph_dedup,
             "max_dup_word_frac": max_dup_word_frac,
             "benchmark_path": benchmark_path,
             "contamination_ngram": contamination_ngram,
             "substring_dedup_k": substring_dedup_k,
             "normalize": normalize, "c4_rules": c4_rules,
             "gopher_rules": gopher_rules,
             "blocked_domains": sorted(blocked_domains or []),
             "max_perplexity": max_perplexity,
             "quality_model": (quality_model or {}).get("coefficients"),
             "min_quality_proba": min_quality_proba,
             "keep_best_quality": keep_best_quality},
            sort_keys=True)
        resume_key = hashlib.sha256(payload.encode()).hexdigest()[:16]
        os.makedirs(workdir, exist_ok=True)

    def _stage(n, name, count_key, build):
        nonlocal _t
        sdir = marker = None
        if workdir:
            sdir = os.path.join(workdir, f"{n:02d}_{name}")
            marker = os.path.join(sdir, "_stage_done.json")
            if os.path.exists(marker):
                with open(marker) as f:
                    info = json.load(f)
                if info.get("key") == resume_key:
                    counts.update(info["counts"])
                    stage_seconds[name] = 0.0
                    resumed.append(name)
                    _t = time.time()
                    return spark.read.parquet(sdir)
                # params changed: fall through and recompute (the write
                # below wipes the stale marker with the directory)
        df, extra = build()
        if workdir:
            df.write.mode("overwrite").parquet(sdir)
            df = spark.read.parquet(sdir)
        else:
            df = _persist(df)
        stage_counts = {**extra, count_key: df.count()}
        counts.update(stage_counts)
        if workdir:
            write_atomic(marker, json.dumps(
                {"key": resume_key, "counts": stage_counts}).encode())
        _mark(name)
        return df

    # PII redaction and paragraph/substring dedup REWRITE text after the
    # quality stage annotated n_tokens — recompute it at each text-mutating
    # stage so the curated output never carries stale (overstated) counts
    # into a token_col="n_tokens" consumer like pack_documents
    def _retoken(df):
        return df.withColumn(
            "n_tokens", TXT.whitespace_token_count(F.col(text_col)))

    def _build_quality():
        base = docs
        if blocked_domains:
            # URL-level filter FIRST: a blocked page should never cost a
            # parse, a score, or a fingerprint (codegen predicate, no join)
            from fever_spark.functions.urls import filter_blocked_domains
            base = filter_blocked_domains(base, blocked_domains)
        if normalize:
            # unicode NFC + control/zero-width strip BEFORE anything
            # fingerprints or tokenizes, so encoding variance can't split
            # identical contents into distinct dedup keys
            base = base.withColumn(text_col,
                                   TXT.normalize_text(F.col(text_col)))
        if c4_rules:
            # C4's line-level cleanup (Raffel et al. 2020 §2.2) BEFORE
            # annotation, so n_tokens/quality describe the text that is kept
            base = base.withColumn(
                text_col, curation.c4_clean_lines(F.col(text_col)))
        annotated = base.select(
            "*",
            TXT.lang_id(F.col(text_col)).alias("_lang"),
            TXT.quality_score(F.col(text_col)).alias("quality"),
            TXT.whitespace_token_count(F.col(text_col)).alias("n_tokens"))
        cond = ((F.col("quality") >= min_quality)
                & (F.col("n_tokens") >= min_tokens)
                & (F.col("n_tokens") <= max_tokens))
        if langs:
            # prefer a trusted lang column when the corpus carries one
            lang_col = (F.col("lang") if "lang" in base.columns
                        else F.col("_lang"))
            cond = cond & lang_col.isin(list(langs))
        if max_dup_word_frac is not None:
            cond = cond & (curation.duplicate_word_fraction(F.col(text_col))
                           <= max_dup_word_frac)
        if c4_rules:
            cond = cond & curation.c4_doc_conditions(F.col(text_col))
        if gopher_rules:
            # Gopher A1 doc-quality rules (Rae et al. 2021); word-count
            # bounds already enforced by min/max_tokens above
            cond = cond & curation.gopher_doc_conditions(
                F.col(text_col), min_words=min_tokens, max_words=max_tokens)
        return annotated.filter(cond).drop("_lang"), {}

    filtered = _stage(1, "quality_filter", "after_quality_filter",
                      _build_quality)

    # The model-driven gates are their own stages (numbered past the
    # fixed pipeline so earlier workdirs keep their names): their wall
    # time must show up in stage_seconds instead of folding invisibly
    # into quality_filter.
    if quality_model is not None:
        # trusted-vs-crawl classifier (functions/quality_clf.py):
        # coefficients inline as literals into one codegen filter pass
        from fever_spark.functions.quality_clf import quality_proba

        filtered = _stage(
            7, "quality_clf", "after_quality_clf",
            lambda: (filtered.filter(
                quality_proba(F.col(text_col), quality_model)
                >= min_quality_proba), {}))

    if perplexity_lm is not None:
        # CCNet-style LM quality band (functions/ngram_lm.py): score
        # AFTER the cheap codegen filters so the Arrow pass only sees
        # survivors; annotate always, threshold only when asked
        from fever_spark.functions.ngram_lm import perplexity

        def _build_ccnet():
            out = perplexity(filtered, perplexity_lm, text_col=text_col)
            if max_perplexity is not None:
                out = out.filter(F.col("perplexity") <= max_perplexity)
            return out, {}

        filtered = _stage(8, "ccnet_band", "after_ccnet_band",
                          _build_ccnet)

    if redact_pii:
        # after the gates: thresholds and perplexity judge the original
        # text, while the recorded n_tokens describe the text we keep
        filtered = _stage(
            9, "pii_redact", "after_pii_redact",
            lambda: (_retoken(filtered.withColumn(
                text_col, curation.redact_pii(F.col(text_col)))), {}))

    if paragraph_dedup:
        # docs reduced to zero CONTENT paragraphs are fully-duplicated
        # boilerplate — drop them here, or an empty canonical doc would
        # survive exact dedup into the output (trim: blank paragraphs are
        # dedup-exempt structure, so such docs reassemble to whitespace)
        filtered = _stage(
            2, "paragraph_dedup", "after_paragraph_dedup",
            lambda: (_retoken(
                curation.paragraph_dedup(filtered, id_col, text_col)
                .filter(F.trim(F.col(text_col)) != "")), {}))

    exact = _stage(3, "exact_dedup", "after_exact_dedup",
                   lambda: (dedup.exact_dedup(filtered, text_col, id_col,
                                              validate=validate_ids),
                            {}))

    if substring_dedup_k:
        # ExactSubstr span removal (Lee et al. 2022) between exact and
        # near-dup: shared boilerplate runs >= k tokens are cut before
        # MinHash, so near-dup similarity reflects the docs' own content
        # rather than their common chrome. Docs cut to nothing are
        # fully-duplicated text — drop them like the paragraph pass does.
        exact = _stage(
            4, "substring_dedup", "after_substring_dedup",
            lambda: (_retoken(
                curation.substring_dedup(exact, id_col, text_col,
                                         k=substring_dedup_k)
                .filter(F.trim(F.col(text_col)) != "")
                .drop("removed_tokens")), {}))

    def _build_near_dup():
        pairs = dedup.minhash_near_duplicates(
            exact, text_col, id_col, threshold=near_dup_threshold) \
            .select("id_a", "id_b")
        # keep_best_quality: the quality stage already scored every doc —
        # keep each near-dup cluster's best-scoring member (clean page
        # over boilerplate copies) instead of the min id
        return dedup.dedup_keep_canonical(
            exact, pairs, id_col,
            rank_col="quality" if keep_best_quality else None), {}

    neardup = _stage(5, "near_dup", "after_near_dup", _build_near_dup)

    if benchmark_path:
        # Two-stage discipline (the documented FP-removal contract of
        # curation.py): the Bloom screen's zero-FN semantics mean
        # hit_ngrams == 0 is a SAFE keep — those docs skip the verify
        # entirely; the (tiny) flagged subset goes through the EXACT
        # n-gram join and only docs with real shared n-grams are dropped,
        # so Bloom false positives never over-drop clean documents.
        def _build_contamination():
            bench = spark.read.parquet(benchmark_path)
            bf = curation.build_benchmark_bloom(bench, text_col,
                                                n=contamination_ngram)
            bc = spark.sparkContext.broadcast(bf.to_bytes())
            flagged_ids = (curation.contamination_screen(
                neardup, bc, contamination_ngram, text_col, id_col)
                .filter(F.col("hit_ngrams") > 0).select(id_col))
            flagged_docs = neardup.join(flagged_ids, id_col, "left_semi")
            n_flagged = flagged_docs.count()
            confirmed_ids = (curation.contamination_exact(
                flagged_docs, bench, contamination_ngram, text_col, id_col)
                .filter(F.col("contaminated_ngrams") > 0).select(id_col))
            return (neardup.join(confirmed_ids, id_col, "left_anti"),
                    {"contamination_flagged": n_flagged})

        neardup = _stage(6, "contamination", "after_contamination_screen",
                         _build_contamination)

    out = (sampling.deterministic_sample(neardup, id_col, sample_rate, seed)
           if sample_rate < 1.0 else neardup)
    out.write.mode("overwrite").parquet(output_path)
    # written count from parquet FOOTERS (driver-side metadata, no re-scan
    # job); Spark count only when the output isn't a local parquet dir
    from fever_spark.sources.io import parquet_row_count

    n_written = parquet_row_count(output_path)
    counts["written"] = (n_written if n_written is not None
                         else spark.read.parquet(output_path).count())
    _mark("sample_and_write")

    manifest = {
        "input": input_path, "output": output_path, "counts": counts,
        "stage_seconds": stage_seconds,
        "params": {"min_quality": min_quality, "langs": langs,
                   "min_tokens": min_tokens, "max_tokens": max_tokens,
                   "near_dup_threshold": near_dup_threshold,
                   "sample_rate": sample_rate, "seed": seed,
                   "redact_pii": redact_pii,
                   "paragraph_dedup": paragraph_dedup,
                   "max_dup_word_frac": max_dup_word_frac,
                   "benchmark": benchmark_path,
                   "contamination_ngram": contamination_ngram,
                   "substring_dedup_k": substring_dedup_k,
                   "normalize": normalize, "c4_rules": c4_rules,
                   "gopher_rules": gopher_rules,
                   "blocked_domains": blocked_domains,
                   "max_perplexity": max_perplexity,
                   "quality_classifier": quality_model is not None,
                   "min_quality_proba": min_quality_proba,
                   "keep_best_quality": keep_best_quality},
        "workdir": workdir,
        "resumed_stages": resumed,
    }
    write_atomic(os.path.join(output_path, "_curation_manifest.json"),
                 json.dumps(manifest, indent=1).encode())
    for df in persisted:
        df.unpersist()
    return manifest


def main(argv: list[str] | None = None) -> None:
    import argparse

    from fever_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--langs", default="")
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--max-tokens", type=int, default=1_000_000)
    ap.add_argument("--near-dup-threshold", type=float, default=0.7)
    ap.add_argument("--sample-rate", type=float, default=1.0)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--redact-pii", action="store_true")
    ap.add_argument("--paragraph-dedup", action="store_true")
    ap.add_argument("--max-dup-word-frac", type=float, default=None)
    ap.add_argument("--benchmark", default=None,
                    help="parquet path of an eval corpus to screen against")
    ap.add_argument("--contamination-ngram", type=int, default=8)
    ap.add_argument("--substring-dedup-k", type=int, default=None,
                    help="enable ExactSubstr span removal of duplicated "
                         "runs of >= k tokens")
    ap.add_argument("--workdir", default=None,
                    help="stage-checkpoint dir: completed stages are "
                         "reloaded on re-run (crash recovery)")
    ap.add_argument("--normalize", action="store_true",
                    help="unicode NFC + control-char strip before any "
                         "fingerprinting")
    ap.add_argument("--c4-rules", action="store_true",
                    help="C4 line cleanup + document predicate")
    ap.add_argument("--gopher-rules", action="store_true",
                    help="Gopher document-quality predicate")
    ap.add_argument("--keep-best-quality", action="store_true",
                    help="near-dup survivor = highest quality score per "
                         "cluster (default: min id)")
    ap.add_argument("--blocked-domains", default="",
                    help="comma-separated domains to drop (subdomains "
                         "included) before any content processing")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_spark(master=args.master, app_name="fever_spark_curate")
    manifest = curate(
        spark, args.input, args.output,
        min_quality=args.min_quality,
        langs=[x for x in args.langs.split(",") if x] or None,
        min_tokens=args.min_tokens, max_tokens=args.max_tokens,
        near_dup_threshold=args.near_dup_threshold,
        sample_rate=args.sample_rate, seed=args.seed,
        redact_pii=args.redact_pii, paragraph_dedup=args.paragraph_dedup,
        max_dup_word_frac=args.max_dup_word_frac,
        benchmark_path=args.benchmark,
        contamination_ngram=args.contamination_ngram,
        substring_dedup_k=args.substring_dedup_k,
        workdir=args.workdir, normalize=args.normalize,
        c4_rules=args.c4_rules, gopher_rules=args.gopher_rules,
        blocked_domains=[d for d in args.blocked_domains.split(",") if d]
        or None,
        keep_best_quality=args.keep_best_quality)
    print(json.dumps(manifest))
    spark.stop()


if __name__ == "__main__":
    main()
