"""SQL heuristic expressions must equal the Python reference metric-for-
metric (exact doubles, not approximate) on the fixture corpus."""

from __future__ import annotations

import pytest

from ispaq_spark.functions.heuristics import with_heuristics
from ispaq_spark.reference_impl import compute_metrics


# pred_lang/lang_conf moved to the langid classifier stage
# (tests/test_langid.py); this file covers the pure-Catalyst heuristics.
METRIC_COLS = (
    "word_count",
    "mean_word_len",
    "max_word_len",
    "stopword_ratio",
    "symbol_word_ratio",
    "dup_5gram_frac",
    "num_pii",
    "num_tox",
)


@pytest.fixture(scope="module")
def joined(spark, fixture_pages, fixture_labels, model):
    texts = [
        (url, lab["text"])
        for url, lab in fixture_labels.items()
        if lab["text"] is not None
    ]
    df = spark.createDataFrame(texts, ["url", "text"])
    got = {r["url"]: r for r in with_heuristics(df, "text").collect()}
    want = {
        url: compute_metrics(text, model) for url, text in texts
    }
    return got, want


def test_exact_metric_parity(joined):
    got, want = joined
    assert len(got) == len(want) > 300
    for url, m in want.items():
        r = got[url]
        for c in METRIC_COLS:
            g, w = r[c], getattr(m, c)
            assert g == w, f"{url} {c}: spark={g!r} python={w!r}"


def test_null_text_rows_null_metrics(spark):
    df = spark.createDataFrame([("u1", None), ("u2", "a b")], ["url", "text"])
    rows = {r["url"]: r for r in with_heuristics(df, "text").collect()}
    assert rows["u1"]["word_count"] is None
    assert rows["u1"]["stopword_ratio"] is None
    assert rows["u2"]["word_count"] == 2


# ---------------------------------------------------------------------------
# Edge shapes the fixture corpus never produces (its text is whitespace-
# normalized): the regex stopword count, the zip_with shingler and the
# guarded PII count must still equal the reference on raw text.
# ---------------------------------------------------------------------------

EDGE_TEXTS = (
    "the  cat sat on the mat",  # doubled space -> empty token
    " the cat",  # leading space
    "the cat ",  # trailing space
    "  the  ",
    "the\tcat of\nthe dog\t",  # tabs/newlines inside tokens
    "the the the",
    "there athe thee the. theand and a an",  # stopwords as prefix/suffix
    "the, cat and; of: a",  # stopwords glued to punctuation
    "el la de que y en un los se por la",
    "der die das und ist le et il di che",
    "",
    "call 42 at 7 pm in room 101-b on 2024",  # digits, no PII
    "ping me @ home or @@ later, a@b and x@y.",  # '@', no email
    "bob@example.org 555-123-4567 10.0.0.1 123-45-6789 frak",
    "write to BOB@EXAMPLE.ORG",  # PII without a digit
    "123-45-6789",  # PII without a letter
    "a b c d",  # fewer than 5 tokens
    "a b c d e",  # exactly 5
    "x x x x x x x x x",  # one repeated 5-gram
    "é 漢 字 𝔘 the é 漢 字 𝔘 the",
)


def _parent_fivegram_col(tok_h, n):
    """The sequence + transform + element_at shingler that fivegram_col
    replaced, kept here to pin fivegram_col's hash values (the reference
    compares 5-gram strings, so it has no twin for the hashes)."""
    from pyspark.sql import functions as F

    def combine5(i):
        acc = F.element_at(tok_h, i)
        for j in range(1, 5):
            rot = F.shiftleft(acc, 13).bitwiseXOR(
                F.shiftrightunsigned(acc, 51)
            )
            acc = rot.bitwiseXOR(F.element_at(tok_h, i + F.lit(j)))
        return acc

    return F.when(
        n >= 5, F.transform(F.sequence(F.lit(1), n - F.lit(4)), combine5)
    )


def test_edge_texts_match_reference(spark, model):
    df = spark.createDataFrame(
        list(enumerate(EDGE_TEXTS)), "id int, text string"
    )
    got = {r["id"]: r for r in with_heuristics(df, "text").collect()}
    for i, text in enumerate(EDGE_TEXTS):
        want = compute_metrics(text, model)
        for c in METRIC_COLS:
            assert got[i][c] == getattr(want, c), f"{text!r} {c}"


def test_stopword_count_is_exact_token_equality(spark):
    from pyspark.sql import functions as F

    from ispaq_spark.contract import LANGS, STOPWORDS
    from ispaq_spark.functions.heuristics import stopword_count

    texts = EDGE_TEXTS + (None,)
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    rows = df.select(
        "id",
        *[stopword_count(F.col("text"), lang).alias(lang) for lang in LANGS],
    ).collect()
    assert len(rows) == len(texts)
    for r in rows:
        text = texts[r["id"]]
        for lang in LANGS:
            want = (
                None
                if text is None
                else sum(t in STOPWORDS[lang] for t in text.split(" "))
            )
            assert r[lang] == want, (text, lang)


def test_fivegram_hashes_equal_parent_shingler(spark):
    import random

    from pyspark.sql import functions as F

    from ispaq_spark.functions.heuristics import (
        fivegram_col,
        token_hash_col,
        tokens_col,
    )

    rng = random.Random(7)
    texts = list(EDGE_TEXTS) + [
        " ".join(rng.choice("abcdefg") for _ in range(rng.randint(1, 60)))
        for _ in range(40)
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    h = df.withColumn("h", token_hash_col(tokens_col(F.col("text"))))
    n = F.size("h")
    rows = h.select(
        "id",
        fivegram_col(F.col("h"), n).alias("new"),
        _parent_fivegram_col(F.col("h"), n).alias("old"),
    ).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert r["new"] == r["old"], texts[r["id"]]
        n_tok = len(texts[r["id"]].split(" "))
        assert (r["new"] is None) == (n_tok < 5)


def test_million_token_document_stays_linear(spark):
    """One 10^6-token document through every heuristic under a time bound:
    an O(n²) shingler or stopword pass would take hours here; the linear
    forms take seconds."""
    import time

    n = 1_000_000
    period = 50_000  # every 5-gram repeats n / period times
    toks = ["the" if i % 7 == 0 else f"t{i % period}" for i in range(n)]
    text = " ".join(toks)
    df = spark.createDataFrame([(text,)], "text string")
    t0 = time.perf_counter()
    r = with_heuristics(df, "text").drop("text").collect()[0]
    elapsed = time.perf_counter() - t0
    assert elapsed < 120, f"{elapsed:.1f}s for a 10^6-token document"
    grams = {" ".join(toks[i : i + 5]) for i in range(n - 4)}
    assert r["word_count"] == n
    assert r["stopword_ratio"] == sum(t == "the" for t in toks) / n
    assert r["dup_5gram_frac"] == 1.0 - len(grams) / (n - 4)
