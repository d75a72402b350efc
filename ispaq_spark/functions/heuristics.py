"""Gopher/C4-style heuristic metrics + stopword langid as pure Catalyst
column expressions — zero Python on this path.

Graft slot: ispaq's 'simple metrics' business logic (basicStats / gaps
dispatched per group, ispaq/simple_metrics.py:146-239; metric math
IRISMustangMetrics/R/basicStatsMetric.R:25-59). Where ispaq crosses into R
per target-day, we stay inside WholeStageCodegen for every document.

Formula contract (must match ispaq_spark.reference_impl exactly — integer
arithmetic + single IEEE-754 double divisions):
  word_count        = size(split(text, ' '))
  mean_word_len     = (length(text) - word_count + 1) / word_count
  stopword_ratio    = max_L |{t in tokens : t in STOPWORDS[L]}| / word_count
  symbol_word_ratio = regexp_count(text, SYMBOL) / word_count
  dup_5gram_frac    = 1 - distinct_5grams/total_5grams   (0.0 if < 5 words)
  num_pii           = regexp_count(text, PII_COMBINED_PATTERN)

where tokens = split(text, ' '). The Catalyst forms are chosen for speed
but keep these values: stopword hits are one regex count per language
over the space-padded text (stopword_count); 5-grams are compared by a
rotate-xor hash of token xxhash64s (fivegram_col; ~n²/2^64 collision
chance per document); symbols are counted by translate() (symbol_count);
the PII regex runs only on text holding a digit or '@' (pii_count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..contract import (
    LANGS,
    PII_COMBINED_PATTERN,
    SCRUB_RULES,
    STOPWORDS,
    THRESHOLDS,
    UNKNOWN_LANG,
)

TOKENS = "_tokens"  # internal working columns, dropped by the pipeline
TOK_H = "_tok_h"
GRAMS = "_grams"

# Every char NOT in this set counts as a symbol — the complement of
# contract.SYMBOL_PATTERN's negated class. Counting via translate() (a
# char-map lookup) is ~20x cheaper than regexp_count with the class, with
# identical semantics for single-char class matches.
_ALLOWED_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 .,'-"
)


def tokens_col(text: Column) -> Column:
    return F.split(text, " ")


def stopword_count(text: Column, lang: str) -> Column:
    """Count (with duplicates) of ``split(text, ' ')`` tokens in the
    language's stopword set, as ONE regex pass with no lambda: every token of
    ``' ' || text || ' '`` sits between two spaces, so ``' (?:w1|...)(?= )'``
    matches exactly once per token equal to a stopword (the match consumes
    the token's leading space only, so adjacent hits never overlap). Exact
    string equality, like reference_impl.langid; stopwords are plain
    lowercase words, so no regex escaping is needed."""
    pat = " (?:" + "|".join(STOPWORDS[lang]) + ")(?= )"
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return F.regexp_count(padded, F.lit(pat))


def token_hash_col(tokens: Column) -> Column:
    """Per-token xxhash64 array, the input of fivegram_col. MUST be
    materialized as a real column first: fivegram_col slices it five
    times, and an inline transform() (interpreted, never CSE'd) would
    re-hash every token once per slice."""
    return F.transform(tokens, lambda t: F.xxhash64(t))


def _rotl13(h: Column) -> Column:
    return F.shiftleft(h, 13).bitwiseXOR(F.shiftrightunsigned(h, 51))


def fivegram_col(tok_h: Column, n: Column) -> Column:
    """5-gram shingle *hash* array — allocation-light distinct counting.

    Shingle i folds token hashes i..i+4 with rotate-xor
    (h <- rotl13(h) ^ next; pure long ops, ANSI-overflow-safe). The fold
    runs over whole arrays: four chained zip_with passes, each combining
    the accumulator with ``tok_h`` shifted by one more position — O(n) per
    document with a two-argument lambda per element, instead of building
    n shingle strings. Collision probability per doc is ~n²/2^64 — the
    exact-string reference parity tests stay exact in practice. NULL when
    there are fewer than 5 tokens (the slices would be empty or invalid)."""
    m = n - F.lit(4)
    acc = F.slice(tok_h, F.lit(1), m)
    for j in range(1, 5):
        nxt = F.slice(tok_h, F.lit(j + 1), m)
        acc = F.zip_with(acc, nxt, lambda a, b: _rotl13(a).bitwiseXOR(b))
    return F.when(n >= 5, acc)


def symbol_count(text: Column) -> Column:
    """Count of chars outside the allowed set, via translate (no regex):
    deleting every allowed char leaves exactly the symbol chars. Exactly
    equals regexp_count(text, SYMBOL_PATTERN) for a single-char negated
    class; tests/test_symbol_translate.py pins the parity."""
    return F.length(F.translate(text, _ALLOWED_CHARS, ""))


def pii_count(text: Column) -> Column:
    """ONE combined-alternation regexp_count (contract.PII_COMBINED_PATTERN;
    reference_impl.count_pii uses the same pattern, so parity is exact),
    run only on text that holds a digit or '@': every PII rule needs one,
    so the cheap guard is exact and most documents skip the regex."""
    count = F.regexp_count(text, F.lit(PII_COMBINED_PATTERN))
    return F.when(text.rlike("[0-9@]"), count).otherwise(F.lit(0)).cast("long")


def tox_count(text: Column) -> Column:
    (pat,) = [p for name, p, _r in SCRUB_RULES if name == "tox"]
    return F.regexp_count(text, F.lit(pat)).cast("long")


def with_heuristics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append all heuristic metric columns + stopword langid to ``df``.

    Null-safe: rows with NULL text get NULL metrics (quarantine rows flow
    through, the qualityFlag=-9 pattern of ispaq/simple_metrics.py:128-140).
    """
    text = F.col(text_col)
    df = df.withColumn(TOKENS, F.when(text.isNotNull(), tokens_col(text)))
    toks = F.col(TOKENS)
    n = F.size(toks)
    # Materialized once for the five slices of fivegram_col (see
    # token_hash_col).
    df = df.withColumn(TOK_H, token_hash_col(toks))

    df = df.withColumn("word_count", F.when(text.isNotNull(), n.cast("long")))
    df = df.withColumn(
        "mean_word_len", (F.length(text) - n + F.lit(1)) / n
    ).withColumn(
        "max_word_len",
        F.array_max(F.transform(toks, F.length)).cast("long"),
    )

    # stopword_ratio (Gopher stop-word rule): max over languages of
    # stopword hit count / word count. pred_lang/lang_conf are NO LONGER
    # produced here — they come from the fastText-capability classifier
    # (functions/langid.py), decoupling lang_conf from stopword_ratio.
    best = F.greatest(*[stopword_count(text, lang) for lang in LANGS])
    df = df.withColumn("stopword_ratio", best / n)

    df = df.withColumn("symbol_word_ratio", symbol_count(text) / n)
    df = df.withColumn(GRAMS, fivegram_col(F.col(TOK_H), n))
    df = df.withColumn(
        "dup_5gram_frac",
        F.when(text.isNull(), F.lit(None).cast("double"))
        .when(
            F.col(GRAMS).isNotNull(),
            F.lit(1.0)
            - F.size(F.array_distinct(GRAMS)) / F.size(GRAMS),
        )
        .otherwise(F.lit(0.0)),
    )
    df = df.withColumn("num_pii", F.when(text.isNotNull(), pii_count(text)))
    df = df.withColumn("num_tox", F.when(text.isNotNull(), tox_count(text)))
    return df.drop(TOKENS, TOK_H, GRAMS)


def with_stopword_langid(
    df: DataFrame, text_col: str = "text", out_col: str = "pred_lang"
) -> DataFrame:
    """Stopword-vote language ID as a pure-Catalyst cascade: argmax of
    per-language stopword hit counts, ties broken by language code
    ascending (LANGS is sorted), 'und' on zero hits. The SQL-expressible
    langid twin (reference_impl.langid); the pipeline's production langid
    is the classifier in functions/langid.py."""
    text = F.col(text_col)
    hit_cols = {lang: f"_sw_{lang}" for lang in LANGS}
    for lang, c in hit_cols.items():
        df = df.withColumn(c, stopword_count(text, lang))
    best = F.greatest(*[F.col(c) for c in hit_cols.values()])
    cascade = F.when(best <= 0, F.lit(UNKNOWN_LANG))
    for lang in LANGS:
        cascade = cascade.when(F.col(hit_cols[lang]) == best, F.lit(lang))
    return df.withColumn(
        out_col,
        # Total function: NULL text predicts 'und' (not NULL) — undetermined
        # is the classifier's answer for content it cannot see, and the SQL
        # cascade twin's ELSE branch lands there too (hostile-sweep finding:
        # NULL-text rows made the two engines' confusion matrices diverge).
        F.when(text.isNotNull(), cascade.otherwise(F.lit(UNKNOWN_LANG)))
        .otherwise(F.lit(UNKNOWN_LANG)),
    ).drop(*hit_cols.values())


def keep_expr() -> Column:
    """The keep/drop decision over metric columns — graft analog of ispaq's
    boolean metrics (sampleRateChannelMetric.R:42-46, PSDMetric.R:214).
    NULL-metric (quarantined) rows yield false."""
    t = THRESHOLDS
    cond = (
        (F.col("word_count") >= t["min_word_count"])
        & (F.col("word_count") <= t["max_word_count"])
        & (F.col("mean_word_len") >= t["min_mean_word_len"])
        & (F.col("mean_word_len") <= t["max_mean_word_len"])
        & (F.col("max_word_len") <= t["max_word_len"])
        & (F.col("stopword_ratio") >= t["min_stopword_ratio"])
        & (F.col("symbol_word_ratio") <= t["max_symbol_word_ratio"])
        & (F.col("dup_5gram_frac") <= t["max_dup_5gram_frac"])
        & (F.col("lang_conf") >= t["min_lang_conf"])
        & (F.col("perplexity") <= t["max_perplexity"])
    )
    return F.coalesce(cond, F.lit(False))
