"""Text-analysis operators for a large-scale training-data pipeline.

Generalizes the reference's text-complexity metrics
(/root/reference/ui_premium.py:1484-1538 word/char/sentence counts,
keyword density) and its keyword-evidence gates
(/root/reference/src/triage/cli.py:641-961 `_has_any` over keyword lists)
into pure Spark SQL expressions — all JVM-side, whole-stage-codegen
friendly; no Python on the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from alertsage_spark.tokenizer import tokenize_col

# tiny per-language stopword signals for the n-gram/stopword lang-id
# heuristic (public common-word lists; deliberately minimal + deterministic)
LANG_SIGNALS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "von", "mit", "ein"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con", "para"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour", "que"],
}

EN_STOPWORDS = LANG_SIGNALS["en"] + ["it", "on", "as", "at", "by", "an", "be", "this", "are", "was"]

# BPE-ish word/number/symbol segmentation (public GPT-2-style idea:
# runs of letters, runs of digits, runs of other non-space symbols)
BPEISH_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]+"


def bpeish_token_count_col(col: Column) -> Column:
    """BPE-ish token count (letters / digits / symbol runs on lowered text)."""
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(BPEISH_RE), F.lit(0)))


def lang_signal_hits(toks: Column, lang: str) -> Column:
    return F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in LANG_SIGNALS[lang]])))


def lang_id_guess(col: Column) -> Column:
    """Pick the language whose stopword signal hits most tokens.

    Deterministic tie-break by language code ascending; 'und' when no
    signal at all.
    """
    toks = tokenize_col(col)
    # sort key (-hits, lang): struct sort is lexicographic, so the first
    # element has the most hits, ties broken by smallest language code
    pairs = F.array(
        *[
            F.struct(
                (-lang_signal_hits(toks, lang)).alias("neg_hits"),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(LANG_SIGNALS)
        ]
    )
    first = F.element_at(F.array_sort(pairs), 1)
    return F.when(first["neg_hits"] < 0, first["lang"]).otherwise(F.lit("und"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality scoring features (length / punctuation /
    stopword ratios), the standard pretraining-corpus filters."""
    c = F.col(text_col)
    toks = tokenize_col(c)
    n_tok = F.size(toks)
    return df.withColumns(
        {
            "n_chars_calc": F.length(c),
            "n_tokens": n_tok,
            "n_distinct_tokens": F.size(F.array_distinct(toks)),
            "uniq_ratio": F.when(n_tok > 0, F.round(F.size(F.array_distinct(toks)) / n_tok, 4)).otherwise(F.lit(0.0)),
            "avg_token_len": F.when(
                n_tok > 0,
                F.round(
                    F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)) / n_tok, 4
                ),
            ).otherwise(F.lit(0.0)),
            "stopword_ratio": F.when(
                n_tok > 0,
                F.round(
                    F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS))) / n_tok, 4
                ),
            ).otherwise(F.lit(0.0)),
            "punct_count": F.size(F.regexp_extract_all(c, F.lit("[!?.,;:]"), F.lit(0))),
        }
    )


def fingerprint_col(col: Column) -> Column:
    """Document fingerprint: md5 of the sorted distinct token set — the
    cache-key idea of /root/reference/ui_premium.py:1320-1323 upgraded to
    a token-shingle-stable form (whitespace/case/ordering-insensitive)."""
    toks = tokenize_col(col)
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
