"""Scrub: JVM regexp_replace chain == pandas-UDF chain == reference, byte-
for-byte on every fixture doc."""

from __future__ import annotations

from pyspark.sql import functions as F

from ispaq_spark.functions.scrub import scrub_pandas_udf, scrub_sql
from ispaq_spark.reference_impl import scrub_text


def test_three_way_byte_identity(spark, fixture_labels):
    texts = [
        (url, lab["text"])
        for url, lab in fixture_labels.items()
        if lab["text"] is not None
    ]
    df = spark.createDataFrame(texts, ["url", "text"])
    out = df.select(
        "url",
        scrub_sql(F.col("text")).alias("sql_scrub"),
        scrub_pandas_udf(F.col("text")).alias("pd_scrub"),
    ).collect()
    assert len(out) > 300
    ref = {url: scrub_text(text) for url, text in texts}
    for r in out:
        assert r["sql_scrub"] == ref[r["url"]], r["url"]
        assert r["pd_scrub"] == ref[r["url"]], r["url"]


def test_guarded_chain_edge_texts(spark):
    """The JVM chain skips the email rule on text without '@' and the
    ssn/phone/ip rules on text without a digit; both guards must be exact
    (output equal to the unguarded reference chain), including text whose
    email match removes every digit before the digit rules run."""
    texts = [
        "",
        None,
        "no digits and no at signs here, frak",
        "call 42 at 7 pm in room 101-b",  # digits, no PII
        "ping me @ home or @@ later, a@b and x@y.",  # '@', no email
        "mail bob@example.org now",
        "a1@b2.com only",  # the email holds the text's only digits
        "BOB@EXAMPLE.ORG",
        "123-45-6789",
        "ssn 123-45-6789 phone (555) 123-4567 ip 10.0.0.1",
        "bob@example.org 555.123.4567 gorram 192.168.1.1",
        "the\tcat@home.io\n123-45-6789  smeg",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    out = df.select(
        "id",
        scrub_sql(F.col("text")).alias("sql_scrub"),
        scrub_pandas_udf(F.col("text")).alias("pd_scrub"),
    ).collect()
    assert len(out) == len(texts)
    for r in out:
        text = texts[r["id"]]
        want = None if text is None else scrub_text(text)
        assert r["sql_scrub"] == want, text
        assert r["pd_scrub"] == want, text
