"""Corpus-curation operators for web-scale LLM training-data pipelines.

Four families on top of the dedup/quality stack:

- Repetition statistics (Gopher-style rules): duplicate-line fraction,
  duplicate-word fraction, top-word mass — all JVM codegen, no UDFs.
- PII redaction / counting: chained JVM regexp_replace / regexp_count.
- Benchmark-contamination screening: word n-gram overlap between a training
  corpus and an eval/benchmark set, screened through a Bloom filter over the
  benchmark's n-gram hashes (zero false negatives — a contaminated document
  can never slip through; rare FPs are removed by the exact verify pass).
- Semantic dedup (SemDeDup shape): k-means cells over embeddings, exact
  within-cell cosine; candidates never leave their cell → no all-pairs join.

Scale notes (10^12 docs):
- Repetition/PII are per-row expressions — embarrassingly parallel,
  whole-stage codegen, no shuffle.
- top_word_fraction shuffles (id, word) with map-side partial aggregation;
  key cardinality is bounded by per-doc vocabulary, not corpus vocabulary.
- The contamination Bloom is built DISTRIBUTED (partition-local states,
  two-level salted merge — the same tree-reduce as every other sketch here)
  and broadcast once; probing is one vectorized UDF over int64 hash arrays,
  so the (usually huge) training side is a single scan with no shuffle.
- Semantic dedup's within-cell pairwise work is O(cell²) numpy matmul;
  n_cells is the knob that bounds cell size to executor memory (SemDeDup
  uses ~100k cells at web scale). Multi-probe assignment (top-2 cells)
  catches boundary pairs that a hard partition would lose.

The reference has no corpus curation — these extend its per-event string
discipline (processing/bloom_handler.go membership semantics: zero FN,
FP-tolerated-then-verified) to training-data screening, per the graft
instructions §"training-data pipeline".
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ------------------------------------------------------------- repetition


def _words(text: Column) -> Column:
    """Lowered whitespace tokens — the shared tokenization of the dedup
    family (dedup._word_shingles) expressed as a JVM column."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def duplicate_line_fraction(text: Column) -> Column:
    """Fraction of newline-delimited lines that repeat an earlier line.
    Gopher-style boilerplate detector (nav bars, cookie banners)."""
    lines = F.split(text, "\n")
    return F.round(
        1.0 - F.size(F.array_distinct(lines)).cast("double")
        / F.greatest(F.size(lines), F.lit(1)), 4)


def duplicate_word_fraction(text: Column) -> Column:
    """Fraction of whitespace tokens that repeat an earlier token."""
    w = _words(text)
    return F.round(
        1.0 - F.size(F.array_distinct(w)).cast("double")
        / F.greatest(F.size(w), F.lit(1)), 4)


def top_word_fraction(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(id_col, top_word_frac): share of tokens taken by the single most
    frequent token. Explode → groupBy(id, word) with map-side combine →
    per-doc max/sum; the shuffle key includes the doc id, so partial
    aggregation collapses each partition's contribution first."""
    per_word = (df.select(id_col, F.explode(_words(F.col(text_col))).alias("w"))
                .groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("c")))
    return (per_word.groupBy(id_col)
            .agg(F.round(F.max("c").cast("double") / F.sum("c"), 4)
                 .alias("top_word_frac")))


def repetition_filter(df: DataFrame, text_col: str = "text",
                      max_dup_line_frac: float = 0.3,
                      max_dup_word_frac: float = 0.7) -> DataFrame:
    """Drop documents above the repetition thresholds (Gopher rules)."""
    t = F.col(text_col)
    return df.filter((duplicate_line_fraction(t) <= max_dup_line_frac)
                     & (duplicate_word_fraction(t) <= max_dup_word_frac))


def dedup_doc_lines(text: Column, sep: str = "\n") -> Column:
    """WITHIN-document line dedup: keep each distinct line at its first
    occurrence only (nav fragments repeated through a page, chat logs,
    scraped table rows). Pure codegen: split → array_distinct (which
    preserves first-occurrence order) → rejoin; blank lines collapse to
    the first one like any other repeated line. The CROSS-document pass
    is paragraph_dedup; this one never shuffles."""
    return F.array_join(F.array_distinct(F.split(text, sep)), sep)


# ----------------------------------------------------- C4 / Gopher rules

# C4's line-drop markers (Raffel et al. 2020 §2.2, "Colossal Clean Crawled
# Corpus" heuristics): lines mentioning javascript, the lorem-ipsum filler,
# and cookie/policy boilerplate are chrome, not content. Case-insensitive.
C4_LINE_DROP_RE = (r"(?i)javascript|lorem ipsum|cookie policy|"
                   r"uses? cookies|terms of (use|service)|privacy policy")
# C4 keeps only lines that end in terminal punctuation.
C4_TERMINAL_RE = r"[.!?\"']$"


def c4_clean_lines(text: Column, min_words: int = 3,
                   require_terminal: bool = True) -> Column:
    """C4's LINE-level cleanup as one codegen expression: split on
    newlines, keep lines with >= min_words words that end in terminal
    punctuation and match none of the drop markers, rejoin. Zero Python,
    zero shuffle — runs in the same projection as every other annotate
    column. (Raffel et al. 2020 §2.2; the pass C4 runs before dedup.)"""
    def _keep(line: Column) -> Column:
        trimmed = F.trim(line)
        words = F.when(trimmed == "", F.lit(0)) \
            .otherwise(F.size(F.split(trimmed, r"\s+")))
        cond = (words >= min_words) \
            & (F.regexp_count(trimmed, F.lit(C4_LINE_DROP_RE)) == 0)
        if require_terminal:
            cond = cond & (F.regexp_count(trimmed,
                                          F.lit(C4_TERMINAL_RE)) > 0)
        return cond

    return F.array_join(F.filter(F.split(text, "\n"), _keep), "\n")


def c4_doc_conditions(text: Column, min_sentences: int = 3) -> Column:
    """C4's DOCUMENT-level keep predicate: at least ``min_sentences``
    terminal-punctuation sentence ends, no curly brace (code), no
    lorem-ipsum filler. Combine with ``df.filter(...)`` or inspect as a
    boolean column."""
    return ((F.regexp_count(text, F.lit(r"[.!?]")) >= min_sentences)
            & ~text.contains("{")
            & (F.regexp_count(F.lower(text), F.lit("lorem ipsum")) == 0))


def gopher_doc_conditions(text: Column, min_words: int = 50,
                          max_words: int = 100_000) -> Column:
    """Gopher's document-quality keep predicate (Rae et al. 2021, table
    A1), all codegen:

    - word count in [min_words, max_words];
    - mean word length in [3, 10];
    - symbol-to-word ratio (# and ellipsis) <= 0.1;
    - < 90% of lines start with a bullet, < 30% end with an ellipsis;
    - >= 80% of words contain at least one alphabetic character.

    (The 'required stopwords' rule lives in functions/text.stopword_
    fraction; the repetition rules in duplicate_line/word_fraction —
    compose as needed.)"""
    words = _words(text)
    n_words = F.greatest(F.size(words), F.lit(1)).cast("double")
    n_chars = F.length(F.regexp_replace(text, r"\s+", "")).cast("double")
    mean_wl = n_chars / n_words
    symbols = (F.regexp_count(text, F.lit(r"#"))
               + F.regexp_count(text, F.lit(r"\.\.\.|…"))).cast("double")
    lines = F.filter(F.split(text, "\n"),
                     lambda ln: F.trim(ln) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))) / n_lines
    ellipsis_frac = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$"))) / n_lines
    alpha_frac = F.size(F.filter(
        words, lambda w: w.rlike(r"[a-z]"))).cast("double") / n_words
    return ((F.size(words) >= min_words) & (F.size(words) <= max_words)
            & (mean_wl >= 3) & (mean_wl <= 10)
            & (symbols / n_words <= 0.1)
            & (bullet_frac < 0.9) & (ellipsis_frac < 0.3)
            & (alpha_frac >= 0.8))


# ------------------------------------------------------------------ PII

# Order matters: emails first (contain dots/digits), then dotted IPv4,
# then bare long digit runs (phone/account/card shapes). Patterns are kept
# to the Java∩RE2 common dialect so the DuckDB oracle runs them verbatim.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("id_number", r"\b\d{9,16}\b", "<ID>"),
]


def redact_pii(text: Column) -> Column:
    """Replace PII spans with typed placeholders — chained JVM
    regexp_replace, whole-stage codegen."""
    out = text
    for _, pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(text: Column) -> list[Column]:
    """One count column per PII class (aliased n_<class>), counted on the
    progressively-redacted text so classes never double-count a span."""
    cols, cur = [], text
    for name, pattern, token in PII_PATTERNS:
        cols.append(F.regexp_count(cur, F.lit(pattern)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pattern, token)
    return cols


# ---------------------------------------------------- contamination screen


def word_ngrams(text: Column, n: int = 8) -> Column:
    """array<string> of word n-grams (space-joined), JVM-only. Documents
    shorter than n words yield an empty array (the sequence() guard matters:
    sequence(1, 0) would DESCEND)."""
    w = _words(text)
    return F.when(
        F.size(w) >= n,
        F.transform(F.sequence(F.lit(1), F.size(w) - (n - 1)),
                    lambda i: F.array_join(F.slice(w, i, n), " "))
    ).otherwise(F.expr("CAST(array() AS array<string>)"))


def ngram_hashes(text: Column, n: int = 8) -> Column:
    """array<bigint> of xxhash64(n-gram) — the probe payload. Hashing
    JVM-side means n-gram STRINGS never cross the Arrow boundary; only
    fixed-width int64s do (same win as the prehashed Bloom IOC path,
    ops/bloom_match.py)."""
    return F.transform(word_ngrams(text, n), lambda g: F.xxhash64(g))


def build_benchmark_bloom(benchmark: DataFrame, text_col: str = "text",
                          n: int = 8, fpp: float = 1e-6,
                          capacity: int | None = None):
    """BloomFilter over the benchmark set's distinct n-gram hashes, built
    DISTRIBUTED: explode hashes → distinct → partition-local Bloom states →
    two-level salted merge → ONE state collected. The benchmark corpus never
    funnels through the driver; only the merged filter does (exactly the
    fever startup shape: one filter file loaded once, then broadcast —
    processing/bloom_handler.go:97-129).

    capacity=None counts distinct n-grams first (one extra cheap pass over
    the — small — benchmark side); pass an estimate to skip it.
    """
    from fever_spark.ops.build import SketchSpec, build_sketches
    from fever_spark.ops.merge import two_level_merge
    from fever_spark.sketch.bloom import BloomFilter

    hashes = (benchmark
              .select(F.explode(ngram_hashes(F.col(text_col), n)).alias("h"))
              .distinct())
    if capacity is None:
        capacity = max(hashes.count(), 1)
    merged = two_level_merge(
        build_sketches(hashes, [],
                       [SketchSpec("bench", "bloom", "h",
                                   {"capacity": capacity, "fpp": fpp})]), [])
    row = merged.select("state").first()
    if row is None:  # empty benchmark → empty filter, matches nothing
        return BloomFilter(capacity=1, fpp=fpp)
    return BloomFilter.from_bytes(bytes(row["state"]))


def contamination_screen(df: DataFrame, bloom_bc, n: int = 8,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """(id_col, total_ngrams, hit_ngrams) per training document, where
    hit_ngrams counts n-grams the benchmark Bloom claims to contain.
    Zero-FN by Bloom semantics: every truly shared n-gram is counted, so
    `hit_ngrams == 0` is a SAFE keep decision; hit_ngrams > 0 rows go to
    the exact verify (contamination_exact) — fever's FP-tolerated-then-
    verified discipline. One scan, no shuffle: the filter is broadcast and
    probing is one Arrow-batched UDF over int64 arrays."""
    from fever_spark.sketch.bloom import BloomFilter

    @F.pandas_udf(T.LongType())
    def hit_count(hs: pd.Series) -> pd.Series:
        bf = BloomFilter.from_bytes(bloom_bc.value)
        lens = np.fromiter((len(a) for a in hs), dtype=np.int64,
                           count=len(hs))
        if lens.sum() == 0:
            return pd.Series(np.zeros(len(hs), dtype=np.int64))
        flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in hs
                               if len(a)])
        mask = bf.contains(flat).astype(np.int64)
        ends = np.cumsum(lens)
        sums = np.add.reduceat(mask, np.concatenate(([0], ends[:-1]))[lens > 0]
                               ) if (lens > 0).any() else np.array([], dtype=np.int64)
        out = np.zeros(len(hs), dtype=np.int64)
        out[lens > 0] = sums
        return pd.Series(out)

    # asNondeterministic: keep Catalyst from double-running the probe on
    # both sides of a pushed-down filter (same guard as bloom_match_pages)
    hit_count = hit_count.asNondeterministic()
    h = ngram_hashes(F.col(text_col), n)
    return df.select(
        id_col,
        F.size(h).alias("total_ngrams"),
        hit_count(h).alias("hit_ngrams"))


def contamination_exact(df: DataFrame, benchmark: DataFrame, n: int = 8,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(id_col, contaminated_ngrams) — EXACT per-doc count of word n-grams
    shared with the benchmark set, via explode + broadcast semi-shaped join
    on the n-gram string. This is the verify pass run on the (tiny) subset
    the Bloom screen flagged; calling it on the full corpus is the
    small-scale ground-truth / oracle path."""
    grams = df.select(id_col,
                      F.explode(word_ngrams(F.col(text_col), n)).alias("g"))
    bench = (benchmark
             .select(F.explode(word_ngrams(F.col(text_col), n)).alias("g"))
             .distinct())
    return (grams.join(F.broadcast(bench), "g")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("contaminated_ngrams")))


# --------------------------------------------------------- paragraph dedup


def paragraph_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", sep: str = "\n") -> DataFrame:
    """Cross-document paragraph-level dedup (the RefinedWeb/C4 boilerplate
    pass): each distinct paragraph survives ONLY at its first occurrence —
    ordered by (doc id, position) — and is removed everywhere else; every
    document is reassembled with its remaining paragraphs in original order.
    Returns df with `text_col` replaced (docs reduced to zero paragraphs
    keep an empty string; other columns pass through).

    Shape: posexplode → min-(id,pos)-per-fingerprint aggregation →
    semi-join on the unique (id, pos) key → re-assemble via
    sort_array(collect_list(struct(pos, para))). No window: a
    fingerprint-partitioned window cannot be skew-split (AQE splits
    joins, never window partitions) and would shuffle paragraph TEXT on
    the hot boilerplate fingerprint; the aggregation's partial combine
    collapses that key map-side over a narrow (fp, id, pos) projection,
    and text only rides the uniform (id, pos) semi-join and the doc-id
    reassembly shuffle. Dedup is by 64-bit content fingerprint, not the
    paragraph string; collisions are ~n²/2^65.

    Blank (empty / whitespace-only) paragraphs are EXEMPT from the dedup
    window: they are document structure (consecutive separators = a
    paragraph break), not content — deduping them would strip every blank
    line from all but the corpus-wide first document on reassembly. They
    also never enter the fingerprint aggregation, which matters at scale:
    every '' in the corpus shares ONE fingerprint, the single worst skew
    key. Same id contract as exact_dedup: unique, non-null (a NULL-id doc
    would claim first occurrence in the min yet match nothing in the
    semi-join, deleting the paragraph from every document).
    """
    other_cols = [c for c in df.columns if c != text_col]
    paras = df.select(
        *other_cols,
        F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_para"))
    is_blank = F.trim(F.col("_para")) == ""
    blanks = paras.filter(is_blank)
    # first-occurrence survival without a window (windows can't be
    # skew-split and would shuffle paragraph TEXT on the hot boilerplate
    # fingerprint): min (id, pos) per fingerprint via a map-side-combined
    # aggregation over an (fp, id, pos) projection, then a semi-join of
    # the paragraph rows on the UNIQUE (id, pos) key — uniform, text
    # never rides a skewed shuffle.
    # nb feeds both the firsts aggregation and the semi-join probe;
    # materialize so the corpus scan + paragraph explode run once
    nb = paras.filter(~is_blank).localCheckpoint(eager=False)
    firsts = (nb.select(F.xxhash64("_para").alias("_pfp"),
                        F.col(id_col), F.col("_pos"))
              .groupBy("_pfp")
              .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                  F.col("_pos").alias("p"))).alias("_f"))
              .select(F.col("_f.i").alias(id_col),
                      F.col("_f.p").alias("_pos")))
    kept = (nb.join(firsts, [id_col, "_pos"], "left_semi")
            .unionByName(blanks))
    reassembled = (kept.groupBy(*other_cols)
                   .agg(F.array_join(
                       F.transform(
                           F.array_sort(F.collect_list(
                               F.struct("_pos", "_para"))),
                           lambda s: s["_para"]),
                       sep).alias(text_col)))
    # docs whose every paragraph was claimed elsewhere drop out of `kept`;
    # restore them with empty text so the operator is row-preserving.
    # Anti-join on the id column ONLY — equality over every metadata column
    # would silently miss rows carrying NULLs (NULL != NULL in a join key)
    # and emit them twice.
    lost = (df.select(*other_cols)
            .join(reassembled.select(id_col), id_col, "left_anti")
            .withColumn(text_col, F.lit("")))
    return reassembled.unionByName(lost).select(*df.columns)


# --------------------------------------------------- exact substring dedup


def substring_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 20) -> DataFrame:
    """Exact duplicated-substring removal (the ExactSubstr pass of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better"):
    any run of >= k whitespace tokens that appears more than once in the
    corpus — across documents OR repeated within one — survives only at its
    first occurrence (ordered by (doc id, position)); every other
    occurrence is cut out of its document. Overlapping duplicated k-grams
    coalesce into maximal spans, so a 500-token boilerplate block shared by
    a million pages is removed whole, not k tokens at a time.

    Returns df with `text_col` rewritten for affected documents (remaining
    tokens joined by single spaces) plus a `removed_tokens` count;
    untouched documents keep their original text byte-for-byte.

    Shape (the suffix-array algorithm is inherently sequential; this is the
    distributed equivalent built from bounded equi-shuffles):
      1. tokenize JVM-side (`split(trim(text), '\\s+')`), hash each token
         with codegen xxhash64 — Arrow ships int64 arrays, never strings;
      2. O(n) rolling polynomial fingerprint per k-gram in numpy (prefix
         sums with the precomputed modular inverse of the base — no
         per-position loop);
      3. first-occurrence survival via a map-side-combinable
         min+count aggregation per fingerprint (never a window: window
         partitions cannot be skew-split, and the corpus-wide boilerplate
         fingerprint would pin one task) + an equi-join of the duplicated
         firsts back onto the gram stream — broadcast when small,
         AQE-skew-splittable when not. Payload is (id, pos) pairs only.
      4. removal positions group back to their doc (second shuffle, ids
         only) and a single Arrow batch pass rebuilds the text with a
         difference-array interval union (O(tokens + spans), not
         O(tokens x spans)). Unaffected docs never enter Python: they
         rejoin via left_anti with their original bytes.

    Fingerprint collisions (distinct k-grams, equal fingerprint) would
    remove a non-duplicated span at ~n_grams^2 / 2^64 probability — the
    same accepted tradeoff as the paragraph/exact dedup fingerprints.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    other_cols = [c for c in df.columns if c != text_col]
    toks_expr = F.split(F.trim(F.col(text_col)), r"\s+")

    base = 0x100000001B3  # odd -> invertible mod 2^64
    base_inv = pow(base, -1, 1 << 64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def roll(hashes: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for h in hashes:
                h = (np.empty(0, dtype=np.int64) if h is None
                     else np.asarray(h, dtype=np.int64)).view(np.uint64)
                n = len(h)
                if n < k:
                    out.append(np.empty(0, dtype=np.int64))
                    continue
                # fp_j = sum_{i=0..k-1} h[j+i] * B^(k-1-i)  (mod 2^64),
                # via S_j = sum_{i<j} h[i] * B^-i:
                #   fp_j = (S_{j+k} - S_j) * B^(j+k-1)
                powers = np.empty(n + k, dtype=np.uint64)
                powers[0] = 1
                np.multiply.accumulate(
                    np.full(n + k - 1, base, dtype=np.uint64),
                    out=powers[1:])
                inv_powers = np.empty(n, dtype=np.uint64)
                inv_powers[0] = 1
                np.multiply.accumulate(
                    np.full(n - 1, base_inv, dtype=np.uint64),
                    out=inv_powers[1:])
                s = np.zeros(n + 1, dtype=np.uint64)
                np.cumsum(h * inv_powers, out=s[1:])
                fps = (s[k:] - s[:-k]) * powers[k - 1:n]
                out.append(fps.view(np.int64))
        return pd.Series(out)

    fps = (df.select(F.col(id_col).alias("_id"),
                     F.transform(toks_expr,
                                 lambda t: F.xxhash64(t)).alias("_h"))
           .select("_id", F.posexplode(roll("_h")).alias("_pos", "_fp")))
    # fps feeds BOTH the duplicated-firsts aggregation and the join probe;
    # the roll-UDF subtree does not canonicalize, so without materializing
    # it the tokenize+hash+rolling-fingerprint pass — the expensive stage —
    # would run twice (measured ~1.9x on the bench). The checkpointed rows
    # are (id, pos, fp): 20 bytes per gram, disk-spillable.
    fps = fps.localCheckpoint(eager=False)

    # First-occurrence survival WITHOUT a window: a window partitioned by
    # fingerprint cannot be skew-split (AQE splits joins, never window
    # partitions), so the corpus-wide boilerplate fingerprint would pin
    # one task with every occurrence. Instead: (a) per-fingerprint global
    # min + count via an aggregation — partial aggregation collapses the
    # hot key map-side to one row per task; (b) keep only DUPLICATED
    # fingerprints (usually a small fraction of all grams); (c) re-join
    # them to the gram stream — an equi-join AQE can broadcast when the
    # duplicated set is small and skew-split when it is not — and mark
    # every occurrence that is not the minimum. Semantics identical to
    # row_number()==1 survival ordered by (doc id, position).
    occ = F.struct(F.col("_id"), F.col("_pos"))
    dup_firsts = (fps.groupBy("_fp")
                  .agg(F.min(occ).alias("_first"),
                       F.count(F.lit(1)).alias("_cnt"))
                  .filter(F.col("_cnt") > 1)
                  .select("_fp", "_first"))
    removals = (fps.join(dup_firsts, "_fp")
                .filter(occ != F.col("_first"))
                .groupBy("_id")
                .agg(F.collect_list("_pos").alias("_rm")))
    # removals feeds BOTH branches below. The roll-UDF subtree does not
    # canonicalize (Python UDFs defeat ReuseExchange), so without
    # materializing it the entire fingerprint pass — the expensive stage —
    # would execute twice, once per join. localCheckpoint (lazy) rather
    # than persist: the checkpointed RDD is ContextCleaner-managed, so
    # repeated operator invocations don't accumulate CacheManager entries
    # that nothing ever unpersists. The table is small: (id, positions)
    # for affected docs only.
    removals = removals.localCheckpoint(eager=False)

    @F.pandas_udf(T.StructType([
        T.StructField("text", T.StringType()),
        T.StructField("removed", T.LongType())]))
    def strip_spans(toks: pd.Series, rms: pd.Series) -> pd.DataFrame:
        texts, removed = [], []
        for t, rm in zip(toks, rms):
            t = list(t)
            n = len(t)
            starts = np.asarray(rm, dtype=np.int64)
            delta = np.zeros(n + 1, dtype=np.int64)
            np.add.at(delta, starts, 1)
            np.add.at(delta, np.minimum(starts + k, n), -1)
            covered = np.cumsum(delta[:n]) > 0
            texts.append(" ".join(
                tok for tok, c in zip(t, covered) if not c))
            removed.append(int(covered.sum()))
        return pd.DataFrame({"text": texts, "removed": removed})

    affected = (df.join(removals.withColumnRenamed("_id", id_col),
                        id_col, "inner")
                .withColumn("_out", strip_spans(toks_expr, F.col("_rm")))
                .select(*other_cols,
                        F.col("_out.text").alias(text_col),
                        F.col("_out.removed").alias("removed_tokens")))
    untouched = (df.join(removals.withColumnRenamed("_id", id_col)
                         .select(id_col), id_col, "left_anti")
                 .withColumn("removed_tokens", F.lit(0).cast("long")))
    return affected.unionByName(untouched).select(
        *df.columns, "removed_tokens")


# ------------------------------------------------------------ token packing


def pack_documents(df: DataFrame, budget: int, id_col: str = "doc_id",
                   token_col: str | None = None, text_col: str = "text",
                   n_buckets: int = 64) -> DataFrame:
    """Token-budget packing (training-shard assignment): documents in id
    order are laid end to end and each is assigned the bin its FIRST token
    falls into — ``bin_id = (prefix_sum - n_tokens) // budget``. Returns
    (id_col, n_tokens, bin_id). Deterministic, order-stable, exact.

    This is a GLOBAL ordered prefix sum — the classic Spark scale trap: a
    naive ``Window.orderBy(id)`` with no partition key collapses the whole
    corpus into ONE task. Instead:

    1. bucket boundaries = APPROXIMATE id percentiles (one small
       sketch-aggregate, collected — n_buckets values, not rows);
    2. per-bucket token totals → exclusive bucket offsets (n_buckets rows
       on the driver, broadcast back as a literal map);
    3. cumulative sum WITHIN each bucket (Window.partitionBy(bucket) —
       n_buckets-way parallel) + the bucket's offset.

    Work per task is corpus/n_buckets; nothing global ever sorts in one
    task. n_buckets is the parallelism knob (set ~ cluster cores).

    Boundary placement does NOT affect the result — for any boundary set,
    a row's cumulative sum = (exact total of every bucket before it) +
    (exact within-bucket prefix sum) = the exact global prefix sum in id
    order, so bin_id is invariant. That is why approx_percentile is safe
    here where it wouldn't be in a quantile QUERY: boundaries only
    balance work across tasks, and an exact distributed percentile is a
    sort-heavy global aggregate at 10^12 ids. (Non-numeric id columns —
    which approx_percentile does not support — get boundaries from an
    evenly-split deterministic hash-sample of the id domain, correct by
    the same invariance.)
    """
    spark = df.sparkSession
    from pyspark.sql import Window

    n_tok = (F.col(token_col) if token_col
             else F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
    base = df.select(F.col(id_col), n_tok.cast("long").alias("n_tokens"))

    # 1. approximate percentile boundaries of the id domain (tiny result)
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    frac_list = ",".join(map(str, fracs))
    id_is_numeric = isinstance(df.schema[id_col].dataType, T.NumericType)
    if id_is_numeric:
        row = base.agg(F.expr(
            f"approx_percentile({id_col}, array({frac_list}), 10000)")
            .alias("b")).first()
        bounds = sorted(set(row["b"] or []))
    else:
        # bottom-k by xxhash64(id): a partition-layout-independent uniform
        # sample of the id domain (same discipline as the IVF trainer);
        # splitting it evenly gives ~equal-population buckets
        cap = max(64 * n_buckets, 4096)
        ids = sorted(r[0] for r in base
                     .select(id_col, F.xxhash64(F.col(id_col)).alias("_h"))
                     .orderBy("_h").limit(cap).select(id_col).collect())
        step = max(1, len(ids) // n_buckets)
        bounds = sorted(set(ids[step::step][: n_buckets - 1]))

    bucket = F.lit(0)
    for i, b in enumerate(bounds):
        bucket = F.when(F.col(id_col) > b, i + 1).otherwise(bucket)
    bucketed = base.withColumn("_bkt", bucket)

    # 2. exclusive offsets per bucket (n_buckets rows → driver → literal map)
    sums = {r["_bkt"]: r["s"] for r in
            bucketed.groupBy("_bkt").agg(F.sum("n_tokens").alias("s"))
            .collect()}
    offsets, acc = {}, 0
    for b in sorted(sums):
        offsets[b] = acc
        acc += sums[b]
    offset_expr = F.lit(0)
    for b, off in offsets.items():
        offset_expr = F.when(F.col("_bkt") == b, off).otherwise(offset_expr)

    # 3. per-bucket cumulative sum — parallel across buckets
    w = Window.partitionBy("_bkt").orderBy(id_col) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = F.sum("n_tokens").over(w) + offset_expr
    return (bucketed
            .withColumn("bin_id",
                        F.floor((cum - F.col("n_tokens")) / budget))
            .select(id_col, "n_tokens", "bin_id"))


# ------------------------------------------------- corpus-frequency quality


def build_token_cms(df: DataFrame, text_col: str = "text",
                    epsilon: float = 1e-5, delta: float = 1e-3) -> bytes:
    """Corpus-global token-frequency CMS, built distributed (explode →
    partition-local partials → two-level salted merge) and returned as ONE
    serialized state to broadcast. Tokens are prehashed JVM-side
    (xxhash64), so token strings never cross the Arrow boundary and probes
    must hash the same way (rare_token_stats does).

    This is the "sketch as broadcast dimension" pattern at corpus scale:
    one build pass over 10^12 docs, O(CMS) driver state, then any number
    of zero-shuffle probe passes."""
    from fever_spark.ops.build import SketchSpec, build_sketches
    from fever_spark.ops.merge import two_level_merge

    toks = (df.select(F.explode(_words(F.col(text_col))).alias("tok"))
            .filter(F.col("tok") != ""))
    merged = two_level_merge(
        build_sketches(toks, [],
                       [SketchSpec("tokfreq", "cms", "tok",
                                   {"epsilon": epsilon, "delta": delta},
                                   prehash=True)]), [])
    row = merged.select("state").first()
    if row is None:
        from fever_spark.sketch.cms import CountMinSketch

        return CountMinSketch(epsilon=epsilon, delta=delta).to_bytes()
    return bytes(row["state"])


def rare_token_stats(df: DataFrame, cms_bc, min_count: int = 5,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(id_col, n_tokens, rare_frac): per document, the fraction of tokens
    whose CORPUS-WIDE frequency (from the broadcast token CMS) is below
    ``min_count`` — the OCR-garbage / gibberish signal (C4/Gopher-family
    quality rules need corpus-global state exactly here; per-doc stats
    can't see that every token of a mojibake page is corpus-unique).

    Direction of error is SAFE for filtering: CMS only overcounts, so a
    genuinely common token can never read as rare — rare_frac is a lower
    bound, and a drop rule `rare_frac > tau` never fires on clean text
    because of sketch error.

    One scan, no shuffle: tokens are hashed JVM-side into int64 arrays
    (matching the prehash=True build), and the probe is one Arrow-batched
    UDF doing a single vectorized CMS estimate per batch."""
    from fever_spark.sketch.cms import CountMinSketch

    @F.pandas_udf(T.DoubleType())
    def rare_frac(hs: pd.Series) -> pd.Series:
        sk = CountMinSketch.from_bytes(bytes(cms_bc.value))
        lens = np.fromiter((len(a) for a in hs), dtype=np.int64,
                           count=len(hs))
        out = np.zeros(len(hs), dtype=np.float64)
        if lens.sum() == 0:
            return pd.Series(out)
        flat = np.concatenate([np.asarray(a, dtype=np.int64)
                               for a in hs if len(a)])
        rare = (sk.estimate(flat) < min_count).astype(np.float64)
        ends = np.cumsum(lens)
        starts = np.concatenate(([0], ends[:-1]))[lens > 0]
        sums = np.add.reduceat(rare, starts)
        out[lens > 0] = sums / lens[lens > 0]
        return pd.Series(np.round(out, 6))

    rare_frac = rare_frac.asNondeterministic()  # guard pushdown double-eval
    w = _words(F.col(text_col))
    h = F.transform(F.filter(w, lambda t: t != ""),
                    lambda t: F.xxhash64(t))
    return df.select(
        id_col,
        F.size(h).alias("n_tokens"),
        rare_frac(h).alias("rare_frac"))


# ----------------------------------------------------------- semantic dedup


def semantic_dedup_pairs(df: DataFrame, vec_col: str = "embedding",
                         id_col: str = "vec_id", threshold: float = 0.92,
                         n_cells: int = 8, n_probe: int = 2,
                         seed: int = 11) -> DataFrame:
    """SemDeDup-shaped near-dup pairs: k-means cells over unit vectors,
    exact cosine only WITHIN a cell. Returns (id_a, id_b, cosine) with
    cosine >= threshold, id_a < id_b.

    - Cells come from the IVF trainer (operators/ann.py) — sampled k-means,
      centroids broadcast.
    - Each vector is assigned to its n_probe nearest cells, so a pair
      sitting on a cell boundary still co-occurs somewhere (the recall gate
      q_semantic_dedup measures exactly this against the brute-force oracle).
    - Per-cell pairwise cosine is one numpy matmul inside applyInPandas;
      cell size — corpus/n_cells — is the memory knob.
    - Pair dedup across the n_probe assignments is a distinct() on
      (id_a, id_b), map-side combinable.
    """
    from fever_spark.operators.ann import train_ivf_centroids

    centroids = train_ivf_centroids(df, n_cells=n_cells, vec_col=vec_col,
                                    seed=seed)
    cbc = df.sparkSession.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.float64))
    k_probe = min(n_probe, len(centroids))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.to_numpy()).astype(np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        C = cbc.value
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        sims = M @ C.T
        top = np.argsort(-sims, axis=1)[:, :k_probe].astype(np.int32)
        return pd.Series(list(top))

    assigned = (df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
                .withColumn("cell", F.explode(cells(F.col("v")))))

    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ])

    def pairs_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64"),
                                 "cosine": pd.Series(dtype="float64")})
        ids = pdf["id"].to_numpy()
        M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        S = M @ M.T
        ia, ib = np.triu_indices(m, k=1)
        keep = S[ia, ib] >= threshold
        a, b = ids[ia[keep]], ids[ib[keep]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi,
                             "cosine": np.round(S[ia, ib][keep], 6)})

    pairs = assigned.groupBy("cell").applyInPandas(pairs_in_cell, out_schema)
    # a boundary pair can surface from both probed cells — keep one copy
    return pairs.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


def semantic_dedup_keep(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id", threshold: float = 0.92,
                        n_cells: int = 8, n_probe: int = 2,
                        seed: int = 11) -> DataFrame:
    """Drop all but the lowest-id member of each semantic near-dup cluster
    (connected components over the pair graph, dedup.near_dup_clusters)."""
    from fever_spark.operators.dedup import near_dup_clusters

    pairs = semantic_dedup_pairs(df, vec_col, id_col, threshold,
                                 n_cells, n_probe, seed)
    clusters = near_dup_clusters(pairs)  # (id, cluster_id=min id reachable)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")) \
        .select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")
