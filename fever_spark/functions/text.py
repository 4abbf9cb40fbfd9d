"""Text analysis for large-scale training-data pipelines.

Everything here stays JVM-side (built-in pyspark.sql.functions, whole-stage
codegen) — no Python in the hot path. These generalize fever's per-event
string handling (trigram search-string extraction, db/sql.go:7-42; JSON
length metric, processing/event_profiler.go:131) to web-text curation:
language ID, quality scoring, token counting, document fingerprinting.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Tiny high-frequency stopword marker sets per latin-script language.
# Word-boundary regexes over lowered text; counts vote for the language.
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "nicht", "ist"],
    "fr": ["le", "les", "des", "est", "une"],
    "es": ["el", "los", "que", "una", "para"],
}
_CYRILLIC = r"[Ѐ-ӿ]"
_CJK = r"[一-鿿]"

# A BPE-ish tokenizer regex: word pieces, numbers, or single non-space
# symbols — close to what byte-pair pretokenizers split on.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def tokens(text: Column) -> Column:
    """array<string> of BPE-ish tokens (JVM regexp, no UDF)."""
    return F.regexp_extract_all(text, F.lit(f"({TOKEN_REGEX})"))


def token_count(text: Column) -> Column:
    """Token count under TOKEN_REGEX."""
    return F.size(tokens(text))


def whitespace_token_count(text: Column) -> Column:
    """Whitespace-delimited word count."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+")))


def lang_id(text: Column) -> Column:
    """Heuristic language ID over {en,de,fr,es,zh,ru,unknown}.

    Character-range detection decides zh/ru; otherwise the latin-script
    language with the most stopword hits wins (ties → earlier key order;
    zero hits → 'unknown'). All regexp_count — codegen'd, no UDF.
    """
    lowered = F.lower(text)
    n_chars = F.greatest(F.length(text), F.lit(1))
    cjk_frac = F.regexp_count(text, F.lit(_CJK)) / n_chars
    cyr_frac = F.regexp_count(text, F.lit(_CYRILLIC)) / n_chars

    scores = [
        (lang, sum((F.regexp_count(lowered, F.lit(rf"\b{w}\b"))
                    for w in words[1:]),
                   F.regexp_count(lowered, F.lit(rf"\b{words[0]}\b"))))
        for lang, words in _STOPWORDS.items()
    ]
    best_score = F.greatest(*[s for _, s in scores])
    latin_pick = F.lit("unknown")
    for lang, s in reversed(scores):
        latin_pick = F.when(s == best_score, F.lit(lang)).otherwise(latin_pick)
    latin_pick = F.when(best_score > 0, latin_pick).otherwise(F.lit("unknown"))

    return (F.when(cjk_frac > 0.25, F.lit("zh"))
            .when(cyr_frac > 0.25, F.lit("ru"))
            .otherwise(latin_pick))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score from cheap surface statistics:
    alpha-character fraction, punctuation ratio, mean word length band,
    and a length band. The standard pre-filter stack of web-text curation
    pipelines (Gopher/C4-style rules), as codegen'd expressions."""
    n = F.greatest(F.length(text), F.lit(1)).cast("double")
    alpha_frac = F.regexp_count(text, F.lit(r"[A-Za-z]")) / n
    punct_frac = F.regexp_count(text, F.lit(r"[^\w\s]")) / n
    words = F.greatest(whitespace_token_count(text), F.lit(1)).cast("double")
    mean_word_len = n / words
    len_ok = F.when((F.length(text) >= 50) & (F.length(text) <= 100_000), 1.0).otherwise(0.3)
    word_len_ok = F.when((mean_word_len >= 3) & (mean_word_len <= 12), 1.0).otherwise(0.4)
    punct_ok = F.when(punct_frac <= 0.2, 1.0).otherwise(0.5)
    score = (alpha_frac * 0.4 + len_ok * 0.2 + word_len_ok * 0.2 + punct_ok * 0.2)
    return F.round(F.least(score, F.lit(1.0)), 4)


def extract_text(html: Column) -> Column:
    """Text extraction from the html BINARY column (north_rule: "extraction
    preserves byte-identical text per url"). The corpus contract is the
    deterministic envelope b"<html>" + utf8(text) + b"</html>"
    (sources/synth.py); extraction = decode + strip the envelope, entirely
    JVM codegen. A real-world HTML corpus would swap in a parser behind the
    same column signature (a mapInPandas decode); byte-identity per url is
    the gate either way (q_text_extraction).
    """
    s = F.decode(html, "UTF-8")
    return F.regexp_extract(s, r"(?s)^<html>(.*)</html>$", 1)


def fingerprint(text: Column) -> Column:
    """64-bit content fingerprint of whitespace/case-normalized text —
    the exact-dedup key. xxhash64 is Spark's built-in (JVM, seed 42)."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.xxhash64(normalized)


def stopword_fraction(text: Column, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords of `lang`."""
    words = F.greatest(whitespace_token_count(text), F.lit(1)).cast("double")
    lowered = F.lower(text)
    hits = sum((F.regexp_count(lowered, F.lit(rf"\b{w}\b"))
                for w in _STOPWORDS[lang][1:]),
               F.regexp_count(lowered, F.lit(rf"\b{_STOPWORDS[lang][0]}\b")))
    return hits / words


def strip_control_chars(text: Column) -> Column:
    """Remove C0 control characters (keeping \\t \\n \\r — they are
    document structure), DEL, C1 controls U+0080-U+009F (common residue
    of mis-decoded latin-1/windows-1252 crawl text), and the zero-width
    family (ZWSP/ZWNJ/ZWJ/BOM) — the standard pre-tokenization cleanup
    for crawled text. Pure codegen regexp_replace, zero Python."""
    return F.regexp_replace(
        text,
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F"
        "\u0080-\u009F\u200B-\u200D\uFEFF]", "")


def nfc_normalize(text: Column) -> Column:
    """Unicode NFC normalization (composed form) — é as one codepoint, not
    e + combining accent, so fingerprints/dedup/token counts agree across
    sources that encode the same text differently. Spark has no built-in
    normalizer; this is an Arrow-batched pandas pass using pandas'
    C-level str.normalize."""

    @F.pandas_udf(T.StringType())
    def nfc(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFC")

    return nfc(text)


def normalize_text(text: Column) -> Column:
    """The corpus-ingestion normalization pass: control/zero-width strip,
    THEN NFC. Order matters: a zero-width char between a base letter and
    its combining mark blocks composition (U+200B is a starter), so
    NFC-first would leave a decomposed residue after the strip and the
    output would not be a normalization fixed point; stripping first lets
    NFC compose across the removed char, and NFC itself never produces
    control or zero-width characters. Run BEFORE any fingerprinting/dedup
    so byte-level encoding variance can't split identical contents into
    distinct fingerprints."""
    return nfc_normalize(strip_control_chars(text))
