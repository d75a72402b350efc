"""Benchmark code that needs a SparkSession: the resume cycle, the sink
check and the moment-query oracle check, on small inputs."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench import checks
from perfbench.fixtures import write_moment_tables
from perfbench.trace import UNTRACED, Tracer
from perfbench.workloads import MOMENT_QUERIES, PageJob, Session, moment_queries

@pytest.fixture(scope="module")
def sess(spark):
    from ispaq_spark.synthesize import default_lid_model, default_model

    return Session(spark, default_model(), default_lid_model())


def test_local_pages_are_the_pages_df_rows(spark):
    from ispaq_spark.synthesize import gen_pages_local, pages_df

    got = sorted((r.asDict() for r in pages_df(spark, 40, seed=9).collect()), key=lambda r: r["url"])
    want = sorted(gen_pages_local(40, seed=9), key=lambda r: r["url"])
    assert [(r["url"], r["html"], r["text"]) for r in got] == [(r["url"], r["html"], r["text"]) for r in want]
    assert [r["warc_ts"].timestamp() for r in got] == [r["warc_ts"].timestamp() for r in want]


def test_resume_computes_exactly_the_flipped_day_and_the_check_catches_corruption(sess, tmp_path):
    jobs = PageJob(str(tmp_path), seed=3, versions="AB", n=150)
    days = jobs.pages.days
    fill = jobs.job(sess, "fill", UNTRACED, list(days))
    assert fill.problems == [] and fill.report["computed"] == days and fill.keep_f1 == 1.0

    jobs.pages.flip(days[2])
    day = jobs.job(sess, "day", Tracer("t"), [days[2]])
    assert day.problems == []
    assert day.report == {"computed": [days[2]], "skipped": [d for d in days if d != days[2]]}

    noop = jobs.job(sess, "noop", UNTRACED, [])
    assert noop.problems == [] and noop.report["computed"] == []

    # Corrupt the scrubbed text of one sampled row in the sink.
    url = next(iter(jobs.labels(sess, days[2])))[0]
    (path,) = glob.glob(f"{jobs.sink}/ds={days[2]}/*.parquet")
    t = pq.read_table(path)
    col = t.column("scrubbed_text")
    scrubbed = pc.if_else(pc.equal(t.column("url"), url), pa.scalar("tampered", col.type), col)
    pq.write_table(t.set_column(t.schema.get_field_index("scrubbed_text"), "scrubbed_text", scrubbed), path)
    os.remove(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc"))
    problems = jobs.check_sink(sess, [days[2]], day)
    assert any("scrubbed_text differs" in p for p in problems)


def test_moment_queries_agree_with_the_duckdb_oracle(sess, tmp_path):
    sf = str(tmp_path / "sf")
    write_moment_tables(sf, 3_000, 1_500, seed=11)
    queries, oracle = moment_queries(sf)
    for q in MOMENT_QUERIES:
        assert checks.check_frame(q, queries[q](sess.spark, sf).toPandas(), oracle[q]) == []
