"""Set-up and the three workloads, each driving the program only through
its public entry points: `request.run_request` (or `sinks.run_resumable`
with a traced `MetricSink` in traced runs) and `driver_queries.queries()`.

Loops are closed: one job or query batch at a time, the next starting when
the previous one has returned and been checked.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ispaq_spark import synthesize
from ispaq_spark.pipeline import rollup_lineage, run_pipeline
from ispaq_spark.reference_impl import label_document
from ispaq_spark.request import UserRequest, build_request, run_request, select_pages
from ispaq_spark.session import get_spark
from ispaq_spark.sinks import MetricSink, ParquetManifestSink, run_resumable

from . import checks
from .fixtures import DayPages, write_moment_tables, write_pages
from .trace import UNTRACED, Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREFERENCES = os.path.join(ROOT, "preference_files", "default.txt")

# Sized so that every run of BENCHMARK.json fits its time budget on a 4-core
# box; see perfbench/README.md.
N_PAGES = 2_000
N_WARMUP_PAGES = 128
SAMPLE_PER_DAY = 40
# A twentieth of the sf0.1 test tables' row counts: small enough that a run
# holds several warm ops of the four queries, so op_s is a median over them.
N_LINEITEM = 30_000
N_EVENTS = 5_000
# The first runs of the moment queries compile their plans and warm the JIT;
# op time falls for about six runs, then settles.
N_MOMENT_PRIMES = 4
MOMENT_QUERIES = ("basic_stats", "corr_per_group", "ols_resid", "snr_window")


@dataclass
class Session:
    spark: SparkSession
    model: dict
    lid_model: dict


@dataclass
class Op:
    kind: str
    seconds: float
    traced: bool
    problems: list[str] = field(default_factory=list)
    span: Span | None = None
    keep_f1: float | None = None
    report: dict | None = None
    # Share of CPU time the hypervisor took while the op ran (timed ops only).
    steal_frac: float | None = None


def job_request(input_path: str, output_path: str) -> UserRequest:
    """`scripts/run_job.py -P preference_files/default.txt -M default`."""
    return build_request(
        PREFERENCES, "default", input_path=input_path, output_path=output_path
    )


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def set_up(cores: int, warm_input: str, tracer: Tracer) -> tuple[Session, float]:
    """Session start, model builds and one warm-up pass of `run_pipeline`
    over the warm-up pages, which starts the Python workers and unpickles
    the model broadcasts; returns the session and the wall seconds. The
    models are rebuilt every time (their caches are cleared), as a fresh
    process would."""
    t0 = time.perf_counter()
    with tracer.span("setup"):
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name="perfbench", master=f"local[{cores}]")
            spark.sparkContext.setLogLevel("ERROR")
        for cached in (
            synthesize.lm_corpus,
            synthesize.default_model,
            synthesize.langid_corpus,
            synthesize.default_lid_model,
        ):
            cached.cache_clear()
        with tracer.span("synthesize.default_model"):
            model = synthesize.default_model()
        with tracer.span("synthesize.default_lid_model"):
            lid_model = synthesize.default_lid_model()
        with tracer.span("setup.warmup"):
            noop(run_pipeline(spark, spark.read.parquet(warm_input), "default", model, lid_model))
    return Session(spark, model, lid_model), time.perf_counter() - t0


def write_warmup_pages(path: str, seed: int) -> None:
    os.makedirs(path)
    write_pages(synthesize.gen_pages_local(N_WARMUP_PAGES, seed), os.path.join(path, "warm.parquet"))


class TracedSink(MetricSink):
    """Delegates to a `ParquetManifestSink` and records a span per call."""

    def __init__(self, inner: MetricSink, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer

    def merge(self, metrics: DataFrame) -> None:
        with self.tracer.span("sinks.merge"):
            self.inner.merge(metrics)

    def read_snapshot(self) -> dict[str, str]:
        with self.tracer.span("sinks.read_snapshot"):
            return self.inner.read_snapshot()

    def commit_snapshot(self, fingerprints: dict[str, str]) -> None:
        with self.tracer.span("sinks.commit_snapshot"):
            self.inner.commit_snapshot(fingerprints)

    def partition_complete(self, ds: str) -> bool:
        with self.tracer.span("sinks.partition_complete"):
            return self.inner.partition_complete(ds)


def run_job(sess: Session, req: UserRequest, tracer: Tracer) -> dict:
    """The production job. Traced, it calls `run_resumable` the way
    `run_request` does, with the sink wrapped in `TracedSink`."""
    if not tracer.enabled:
        return run_request(sess.spark, req, model=sess.model)
    pages = select_pages(sess.spark.read.parquet(req.input_path), req)
    sink = TracedSink(ParquetManifestSink(sess.spark, req.output_path), tracer)
    return run_resumable(
        sess.spark, pages, sink=sink, model=sess.model, metric_sets=req.metric_sets
    )


def read_sink(spark: SparkSession, path: str) -> DataFrame:
    # Partition discovery types ds as a date; the program writes it as a string.
    return spark.read.parquet(path).withColumn("ds", F.col("ds").cast("string"))


class PageJob:
    """Shared by the workloads that run the production job over DayPages."""

    def __init__(self, work: str, seed: int, versions: str, n: int = N_PAGES):
        self.pages = DayPages(os.path.join(work, "pages"), n, seed, versions)
        self.sink = os.path.join(work, "sink")
        self.req = job_request(self.pages.input_dir, self.sink)
        self._labels: dict[tuple[str, str], dict] = {}

    def labels(self, sess: Session, day: str) -> dict:
        """Reference results for the first SAMPLE_PER_DAY pages of the
        current version of `day`, keyed (url, ds)."""
        key = (self.pages.current[day], day)
        if key not in self._labels:
            self._labels[key] = {
                (r["url"], day): label_document(r["html"], sess.model)
                for r in self.pages.current_rows(day)[:SAMPLE_PER_DAY]
            }
        return self._labels[key]

    def job(self, sess: Session, kind: str, tracer: Tracer, computed: list[str]) -> Op:
        """Run the job once and check it: days computed, and for each
        computed day the sample rows and the lineage counts."""
        t0 = time.perf_counter()
        with tracer.span(f"op.{kind}") as span:
            report = run_job(sess, self.req, tracer)
        op = Op(kind, time.perf_counter() - t0, tracer.enabled, span=span, report=report)
        skipped = [d for d in self.pages.days if d not in computed]
        op.problems += checks.check_days(report, computed, skipped)
        if computed:
            op.problems += self.check_sink(sess, computed, op)
        return op

    def check_sink(self, sess: Session, days: list[str], op: Op) -> list[str]:
        expected = {k: v for d in days for k, v in self.labels(sess, d).items()}
        sink = read_sink(sess.spark, self.sink)
        rows = (
            sink.where(F.col("ds").isin(days) & F.col("url").isin([u for u, _ in expected]))
            .select("url", "ds", "extracted_text", "scrubbed_text", "keep", "quality_flag")
            .collect()
        )
        problems, op.keep_f1 = checks.check_sample(
            {(r["url"], r["ds"]): r.asDict() for r in rows}, expected
        )
        rollup = [r.asDict() for r in rollup_lineage(sink).collect()]
        per_day = {d: len(self.pages.current_rows(d)) for d in self.pages.days}
        return problems + checks.check_lineage(rollup, per_day)


class IngestFresh:
    """The production job writes every page into an empty sink."""

    name = "ingest_fresh"
    kinds = ("ingest",)

    def __init__(self, work: str, seed: int):
        self.jobs = PageJob(work, seed, "A")
        self.pages = self.jobs.pages.count()

    def prime(self, sess: Session) -> list[Op]:
        return [self._ingest(sess, "prime", UNTRACED)]

    def op(self, sess: Session, i: int, tracer: Tracer) -> Op:
        return self._ingest(sess, "ingest", tracer)

    def report(self, median_s: dict[str, float]) -> dict:
        return {"pages": self.pages, "ingest_docs_per_s": self.pages / median_s["ingest"]}

    def _ingest(self, sess: Session, kind: str, tracer: Tracer) -> Op:
        shutil.rmtree(self.jobs.sink, ignore_errors=True)
        return self.jobs.job(sess, kind, tracer, list(self.jobs.pages.days))


class ResumeDaily:
    """The sink holds every day; each op flips one day between its two
    input versions and re-runs the job, with a no-op re-run after it."""

    name = "resume_daily"
    kinds = ("day", "noop")

    def __init__(self, work: str, seed: int):
        self.jobs = PageJob(work, seed, "AB")

    def prime(self, sess: Session) -> list[Op]:
        # Filling the sink is part of the workload's fixture, not its set-up
        # time; it is checked like any other job.
        return [self.jobs.job(sess, "fill", UNTRACED, list(self.jobs.pages.days))]

    def report(self, median_s: dict[str, float]) -> dict:
        return {"resume_day_s": median_s["day"], "resume_noop_s": median_s["noop"]}

    def op(self, sess: Session, i: int, tracer: Tracer) -> Op:
        if i % 2:
            return self.jobs.job(sess, "noop", tracer, [])
        day = self.jobs.pages.days[(i // 2) % len(self.jobs.pages.days)]
        self.jobs.pages.flip(day)
        return self.jobs.job(sess, "day", tracer, [day])


class OperatorMoments:
    """The four moment queries of `driver_queries.queries()`, back to back,
    checked against their DuckDB `oracle_sql()` twins."""

    name = "operator_moments"
    kinds = ("moments",)

    def __init__(self, work: str, seed: int):
        self.sf_dir = os.path.join(work, "sf")
        write_moment_tables(self.sf_dir, N_LINEITEM, N_EVENTS, seed)

    def prime(self, sess: Session, n: int = N_MOMENT_PRIMES) -> list[Op]:
        self.queries, self.oracle = moment_queries(self.sf_dir)
        return [self.run(sess, "prime", UNTRACED) for _ in range(n)]

    def op(self, sess: Session, i: int, tracer: Tracer) -> Op:
        return self.run(sess, "moments", tracer)

    def report(self, median_s: dict[str, float]) -> dict:
        return {"moments_s": median_s["moments"]}

    def run(self, sess: Session, kind: str, tracer: Tracer) -> Op:
        """The four queries, each collected, then checked."""
        results = {}
        t0 = time.perf_counter()
        with tracer.span(f"op.{kind}") as span:
            for q in MOMENT_QUERIES:
                with tracer.span(f"driver_queries.{q}"):
                    results[q] = self.queries[q](sess.spark, self.sf_dir).toPandas()
        op = Op(kind, time.perf_counter() - t0, tracer.enabled, span=span)
        for q in MOMENT_QUERIES:
            op.problems += checks.check_frame(q, results[q], self.oracle[q])
        return op


def moment_queries(sf_dir: str) -> tuple[dict, dict]:
    """The Spark query functions and their DuckDB results over `sf_dir`."""
    import duckdb

    from ispaq_spark.driver_queries import oracle_sql, queries

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("lineitem", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        oracle = {q: con.execute(sql[q]).df() for q in MOMENT_QUERIES}
    finally:
        con.close()
    return queries(), oracle


WORKLOADS = {w.name: w for w in (IngestFresh, ResumeDaily, OperatorMoments)}
