"""Text-analysis column functions for LLM training-data pipelines.

All pure ``pyspark.sql.functions`` compositions — JVM-side, no Python
in the hot path — except the two Unicode functions at the bottom
(nfc_normalize / strip_accents): Spark has no built-in Unicode
normalizer, so those are documented Arrow-vectorized pandas UDF
boundaries. The higher-order functions used here (``filter``,
``transform``, ``aggregate``) run interpreted, and subexpression
elimination does not look inside them, so a lambda body that reads a
computed array binds it once first (``lambdas.bind``). Each function
has an exact ANSI SQL twin (see plans/llm_queries.py oracles), which
is what makes these oracle-checkable. No analogue in the reference
(its scalar surface is §2.2 P6); these extend the engine per the
north-star brief.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .lambdas import bind

#: tiny built-in stopword lists for the language-ID heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "pour", "que"],
}


def normalize_text(col: Column) -> Column:
    """Lowercase + collapse whitespace — the canonical form used by
    fingerprinting and dedup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokenize(col: Column) -> Column:
    """Lowercased alphanumeric tokens (BPE-ish regex split); empty
    artifacts removed so leading/trailing separators don't count."""
    return F.filter(
        F.split(F.lower(col), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )


def word_ngrams(tokens: Column, k: int = 3) -> Column:
    """Positional word k-grams WITH repeats (the repetition-analysis
    unit); docs shorter than k yield an empty array. ``tokens`` is
    bound once: the per-position ``transform`` body runs interpreted
    and would otherwise re-evaluate the whole token expression (e.g.
    ``tokenize(text)``) at every position, O(n²) per document."""

    def grams(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind(tokens, grams)


def word_shingles(tokens: Column, k: int = 3) -> Column:
    """Distinct word k-grams (the dedup unit)."""
    return F.array_distinct(word_ngrams(tokens, k))


def quality_features(text: Column, tokens: Column) -> dict[str, Column]:
    """Length/punctuation/stopword-ratio quality signals.

    Returns named columns; the composite ``quality_score`` is a simple
    bounded combination — a placeholder for model-based scorers, but
    deterministic and SQL-expressible.
    """
    n_tokens = F.size(tokens)
    n_chars = F.length(text)
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    stop_hits = F.size(
        F.filter(
            tokens, lambda t: t.isin(*[F.lit(w) for w in STOPWORDS["en"]])
        )
    )
    mean_token_len = F.try_divide(
        F.aggregate(
            tokens, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
        ),
        n_tokens.cast("double"),
    )
    punct_ratio = F.try_divide(n_punct.cast("double"), n_chars.cast("double"))
    stop_ratio = F.try_divide(stop_hits.cast("double"), n_tokens.cast("double"))
    score = (
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.coalesce(stop_ratio, F.lit(0.0)) * 0.4
        + (F.lit(1.0) - F.least(F.coalesce(punct_ratio, F.lit(1.0)) * 5.0, F.lit(1.0)))
        * 0.2
    )
    return {
        "n_tokens": n_tokens,
        "n_chars": n_chars,
        "punct_ratio": punct_ratio,
        "stop_ratio": stop_ratio,
        "mean_token_len": mean_token_len,
        "quality_score": score,
    }


def lang_scores(tokens: Column) -> dict[str, Column]:
    """Stopword-hit counts per language — the n-gram-heuristic
    language ID. Returns one count column per language."""
    return {
        lang: F.size(
            F.filter(tokens, lambda t: t.isin(*[F.lit(w) for w in words]))
        )
        for lang, words in STOPWORDS.items()
    }


def predict_lang(tokens: Column) -> Column:
    """argmax of lang_scores with 'und' (undetermined) when all zero."""
    scores = lang_scores(tokens)
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # reversed so earlier languages win ties (deterministic order)
    for lang in reversed(list(scores)):
        out = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def text_fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text. md5 (not
    xxhash64) so DuckDB computes the identical value."""
    return F.md5(normalize_text(col))


def nfc_normalize(col: Column) -> Column:
    """Unicode NFC normalization as an Arrow-vectorized pandas UDF.

    The one text function here that is NOT a native composition: Spark
    SQL has no Unicode normalizer, so this is a legitimate
    (documented) Python boundary — batch-columnar via Arrow, stdlib
    unicodedata, no per-row py4j. Canonical-equivalent byte sequences
    (decomposed vs precomposed accents) must hash/dedup identically, so
    this runs BEFORE fingerprinting in a real ingest path.
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return _nfc(col)


def strip_accents(col: Column) -> Column:
    """Diacritic removal (NFD -> drop combining marks), Arrow-batched.
    Mirrors DuckDB's strip_accents for Latin text — the aggressive
    folding used for match keys, not for stored text."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _strip(s: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return None
            return "".join(
                c
                for c in unicodedata.normalize("NFD", x)
                if not unicodedata.combining(c)
            )

        return s.map(one)

    return _strip(col)


def compression_ratio(col: Column) -> Column:
    """zlib-compressed size over raw size (level 6, raw UTF-8 bytes) —
    the classic cheap repetitiveness signal (used by Gopher-style
    filter stacks alongside the n-gram rules): boilerplate and
    template spam compress far below natural text. Arrow-batched
    pandas UDF (no JVM zlib expression exists); deterministic for a
    fixed zlib level, but NOT reproducible in DuckDB SQL, so its query
    is rows-only with a property test instead of an oracle. Empty
    strings report ratio 1.0 (no evidence)."""
    import zlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        def one(t: str | None) -> float:
            if not t:
                return 1.0
            raw = t.encode("utf-8")
            return len(zlib.compress(raw, 6)) / len(raw)

        return s.map(one)

    return _ratio(col)
