"""Text-analysis operators (training-pipeline additions).

All JVM-side (built-in functions over materialized token arrays) — the
hot path of a 100 TB text pipeline must not cross into Python per row.
These are the only implementations: the oracle-checked queries in
``queries.py`` call them and rename the output columns.  The
fingerprint hashes with md5 (``dedup.h60``), so DuckDB reproduces it.

- language_id       stopword-profile hits, tie-break en > de > fr > es
- quality_score     length / punctuation / stopword / repetition score
- token_count       BPE-ish regex + whitespace token counts
- fingerprint       md5 of the smallest shingle hashes (min-sketch)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import h60, shingles, tokens_col

# Tiny deterministic stopword profiles (top function words per
# language), in tie-break order.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "you", "that"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den", "ein",
           "nicht"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "du", "est", "que"),
    "es": ("el", "de", "que", "y", "los", "un", "por", "con", "una", "las"),
}


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, lang, lang_score): the language whose stopword profile hits
    most tokens; ties go to the earlier profile in ``LANG_PROFILES``.
    Docs with zero hits get lang = NULL.

    Two materialization steps: the split once (not once per language
    filter), then the per-language scores once (not once per WHEN arm)
    — guide §1.2 per-task work."""
    tdf = df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("toks"))
    sdf = tdf.select(
        F.col(id_col),
        F.array(
            *[
                F.size(F.filter(F.col("toks"), lambda t: t.isin(*words)))
                for words in LANG_PROFILES.values()
            ]
        ).alias("sc"),
    )
    langs = list(LANG_PROFILES)
    sc = [F.element_at(F.col("sc"), i + 1) for i in range(len(langs))]
    best = F.greatest(*sc)
    lang = F.when(best <= 0, F.lit(None).cast("string"))
    for name, score in zip(langs[:-1], sc):
        lang = lang.when(score == best, F.lit(name))
    lang = lang.otherwise(F.lit(langs[-1]))
    return sdf.select(
        F.col(id_col), lang.alias("lang"), best.alias("lang_score")
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic document quality in [0,1]: penalize too-short docs,
    high punctuation density, low stopword ratio, heavy token repetition
    (the classic pre-training quality gates).  Output: (id, n_tokens,
    stopword_ratio, distinct_ratio, quality)."""
    # materialize the split once (inline, the references below would
    # each re-run the regex split per row)
    tdf = df.select(
        F.col(id_col),
        F.trim(F.col(text_col)).alias("text"),
        tokens_col(F.trim(F.col(text_col))).alias("toks"),
    )
    text = F.col("text")
    toks = F.col("toks")
    n_tok = F.size(toks)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    stop = F.size(F.filter(toks, lambda t: t.isin(*LANG_PROFILES["en"])))
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tok
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = stop / n_tok
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    score = (
        F.lit(0.25) * len_score
        + F.lit(0.25) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.25) * distinct_ratio
        + F.lit(0.25) * (1 - F.least(punct_ratio * 5, F.lit(1.0)))
    )
    return tdf.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(score, 4).alias("quality"),
    )


# BPE-ish pre-tokenizer: word pieces, numbers, punctuation runs — the
# GPT-2 pre-tokenize regex family, simplified to RE2-compatible form.
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, bpe_tokens, ws_tokens): BPE-ish regex tokens and whitespace
    tokens per doc."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(F.trim(text), F.lit(BPE_REGEX), 0))
        .alias("bpe_tokens"),
        F.size(tokens_col(text)).alias("ws_tokens"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fingerprint): winnowing-style document signature — md5 of
    the 4 smallest h60 values over 3-word shingles, joined with ':'."""
    hashes = F.array_sort(F.transform(F.col("sh"), h60))
    mins = F.slice(hashes, 1, 4).cast("array<string>")
    return shingles(df, id_col, text_col).select(
        F.col(id_col), F.md5(F.concat_ws(":", mins)).alias("fingerprint")
    )
