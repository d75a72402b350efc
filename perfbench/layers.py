"""The traced run's layer sweep: each layer's public function timed on its
own, forced with a noop write, over the same seeded inputs on every
workload, so the per-layer table has one definition.

Nothing inside ispaq_spark is instrumented; spans sit around the calls the
benchmark makes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from ispaq_spark.contract import THRESHOLDS
from ispaq_spark.functions.extraction import extracted_col, fused_extract_ppl_udf
from ispaq_spark.functions.heuristics import keep_expr, with_heuristics
from ispaq_spark.functions.langid import langid_udf
from ispaq_spark.functions.perplexity import perplexity_udf
from ispaq_spark.functions.scrub import scrub_sql
from ispaq_spark.pipeline import rollup_histograms, rollup_lineage, run_pipeline
from ispaq_spark.reference_impl import extract_text, perplexity, score_langid, scrub_text
from ispaq_spark.sinks import input_fingerprints

from . import box
from .fixtures import tree_bytes
from .trace import UNTRACED, Span, Tracer
from .workloads import (
    MOMENT_QUERIES,
    Op,
    OperatorMoments,
    PageJob,
    Session,
    noop,
    read_sink,
    set_up,
)

REF_DOCS = 200
REF_PASSES = 3


@F.pandas_udf(BinaryType())
def identity(html: pd.Series) -> pd.Series:
    """Crosses the JVM/Python boundary and back without doing any work."""
    return html


def sql_conjuncts() -> Column:
    """The conjuncts of `keep_expr` that need no model score (all but
    lang_conf and perplexity)."""
    t = THRESHOLDS
    return (
        (F.col("word_count") >= t["min_word_count"])
        & (F.col("word_count") <= t["max_word_count"])
        & (F.col("mean_word_len") >= t["min_mean_word_len"])
        & (F.col("mean_word_len") <= t["max_mean_word_len"])
        & (F.col("max_word_len") <= t["max_word_len"])
        & (F.col("stopword_ratio") >= t["min_stopword_ratio"])
        & (F.col("symbol_word_ratio") <= t["max_symbol_word_ratio"])
        & (F.col("dup_5gram_frac") <= t["max_dup_5gram_frac"])
    )


def _child_seconds(tracer: Tracer, parent: Span, name: str) -> float:
    return sum(c.seconds for c in tracer.children(parent) if c.name == name)


def reference_kernels(rows: list[dict], sess: Session) -> dict[str, float]:
    """Microseconds per document of the four reference_impl kernels, one
    thread, in this process; median of REF_PASSES passes."""
    html = [r["html"] for r in rows]
    texts = [t for t in map(extract_text, html) if t is not None][:REF_DOCS]
    html = html[:REF_DOCS]
    kernels = {
        "extract_text": (lambda: [extract_text(h) for h in html], len(html)),
        "perplexity": (lambda: [perplexity(t, sess.model) for t in texts], len(texts)),
        "score_langid": (lambda: [score_langid(t, sess.lid_model) for t in texts], len(texts)),
        "scrub_text": (lambda: [scrub_text(t) for t in texts], len(texts)),
    }
    out = {}
    for name, (fn, n) in kernels.items():
        passes = []
        for _ in range(REF_PASSES):
            t0 = time.perf_counter()
            fn()
            passes.append(time.perf_counter() - t0)
        out[f"reference_impl.{name}_us"] = statistics.median(passes) / n * 1e6
    return out


def sweep(sess: Session, work: str, seed: int, tracer: Tracer, warm_input: str) -> tuple[dict, list[Op]]:
    """Every per-layer metric that does not come from the workload's own
    ops. Ends with the single-core leg of the scaling measurement, which
    leaves `sess.spark` on local[1]."""
    spark = sess.spark
    m: dict[str, float] = {}
    jobs = PageJob(os.path.join(work, "sweep"), seed, "AB")
    days = jobs.pages.days
    all_rows = [r for d in days for r in jobs.pages.current_rows(d)]
    m.update(reference_kernels(all_rows, sess))

    # The sink cycle: fresh (5 computed / 0 skipped), one day (1/4), no-op (0/5).
    ops = []
    pages = spark.read.parquet(jobs.pages.input_dir)
    with tracer.span("sinks.input_fingerprints") as s:
        input_fingerprints(pages)
    m["sinks.input_fingerprints_s"] = s.seconds
    ops.append(jobs.job(sess, "cycle_fresh", tracer, list(days)))
    m["sinks.bytes_written"] = sum(
        tree_bytes(os.path.join(jobs.sink, f"ds={d}")) for d in days
    )
    m["sinks.bytes_per_input_byte"] = m["sinks.bytes_written"] / tree_bytes(jobs.pages.input_dir)
    jobs.pages.flip(days[0])
    ops.append(jobs.job(sess, "cycle_day", tracer, [days[0]]))
    ops.append(jobs.job(sess, "cycle_noop", tracer, []))
    for op, step in zip(ops, ("fresh", "day", "noop")):
        m[f"sinks.days_computed.{step}"] = len(op.report["computed"])
        m[f"sinks.days_skipped.{step}"] = len(op.report["skipped"])
    fresh, day, noop_op = (op.span for op in ops)
    m["sinks.read_snapshot_s"] = statistics.median(
        _child_seconds(tracer, s, "sinks.read_snapshot") for s in (fresh, day, noop_op)
    )
    m["sinks.partition_complete_s"] = statistics.median(
        _child_seconds(tracer, s, "sinks.partition_complete") for s in (fresh, day, noop_op)
    )
    m["sinks.commit_snapshot_s"] = statistics.median(
        _child_seconds(tracer, s, "sinks.commit_snapshot") for s in (fresh, day)
    )
    m["sinks.merge_s"] = _child_seconds(tracer, fresh, "sinks.merge")

    sink = read_sink(spark, jobs.sink)
    with tracer.span("pipeline.rollup_lineage") as s:
        lineage = rollup_lineage(sink).collect()
    m["pipeline.rollup_lineage_s"] = s.seconds
    with tracer.span("pipeline.rollup_histograms") as s:
        noop(rollup_histograms(sink))
    m["pipeline.rollup_histograms_s"] = s.seconds
    for name, col in (("in", "docs_in"), ("kept", "docs_kept"), ("dropped", "docs_dropped"), ("quarantined", "docs_error")):
        m[f"pipeline.docs_{name}"] = sum(r[col] for r in lineage)

    scored = sink.where(F.col("quality_flag") == 0)
    w = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(~sql_conjuncts(), 1).otherwise(0)).alias("dropped_by_sql"),
        F.sum(F.when(F.col("keep") & ~sql_conjuncts(), 1).otherwise(0)).alias("kept_but_sql_drop"),
    ).first()
    m["perplexity.wasted_frac"] = w["dropped_by_sql"] / w["n"]
    if w["kept_but_sql_drop"]:
        ops[-1].problems.append(f"{w['kept_but_sql_drop']} kept docs fail the SQL conjuncts of keep_expr")

    pages = spark.read.parquet(jobs.pages.input_dir)  # day 0 was flipped
    texts = sink.select("url", "extracted_text")
    probes = {
        "arrow.identity": lambda: pages.select(identity(F.col("html"))),
        "extraction.extracted_col": lambda: pages.select(extracted_col("html")),
        "extraction.fused_extract_ppl": lambda: pages.select(
            fused_extract_ppl_udf(spark, sess.model, sess.lid_model)(F.col("html"))
        ),
        "perplexity.perplexity_udf": lambda: texts.select(
            perplexity_udf(spark, sess.model)(F.col("extracted_text"))
        ),
        "langid.langid_udf": lambda: texts.select(
            langid_udf(spark, sess.lid_model)(F.col("extracted_text"))
        ),
        "heuristics.with_heuristics": lambda: with_heuristics(texts, "extracted_text"),
        "heuristics.keep_expr": lambda: sink.drop("keep").withColumn("keep", keep_expr()),
        "scrub.scrub_sql": lambda: texts.select(scrub_sql(F.col("extracted_text"))),
        "pipeline.run_pipeline": lambda: run_pipeline(
            spark, pages, jobs.req.metric_sets, sess.model, sess.lid_model
        ),
    }
    for name, build in probes.items():
        with tracer.span(name) as s:
            noop(build())
        m[f"{name}_s"] = s.seconds

    moments = OperatorMoments(os.path.join(work, "sweep_moments"), seed)
    # One untimed pass compiles the plans; the traced pass times each query.
    ops += moments.prime(sess, 1)
    ops.append(moments.run(sess, "sweep_moments", tracer))
    for q in MOMENT_QUERIES:
        m[f"driver_queries.{q}_s"] = _child_seconds(tracer, ops[-1].span, f"driver_queries.{q}")

    # Scaling: the fresh job on the same input, on one pinned core.
    t_all = ops[0].seconds
    everything = os.sched_getaffinity(0)
    cores = len(everything)
    spark.stop()
    box.pin({min(everything)})
    try:
        one, _ = set_up(1, warm_input, UNTRACED)
        sess.spark = one.spark
        shutil.rmtree(jobs.sink)
        ops.append(jobs.job(sess, "cycle_fresh_1core", tracer, list(days)))
    finally:
        box.pin(everything)
    m["ingest.fresh_1core_s"] = ops[-1].seconds
    m["ingest.fresh_all_cores_s"] = t_all
    m["ingest.scaling_eff_1to4"] = ops[-1].seconds / (cores * t_all)
    return m, ops
