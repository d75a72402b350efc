"""Session defaults (session.get_spark).

The driver heap is sized from the host, so a local-mode job cannot grow
its JVM past the machine's memory.

The default session streams each task's input to the Python UDFs as
many Arrow batches (`spark.sql.execution.arrow.maxBytesPerBatch` in
session.get_spark), so the Python worker scores batch k+1 while the task
thread runs the JVM half of the stage (heuristics, scrub, write) on batch
k. A conf change that collapses a task back into one batch fails here.

No pandas/Arrow UDF in the package depends on batch boundaries. The
scalar UDFs map rows to rows one for one, and the mapInPandas reducers
(the langid trainer, logreg's gradient partials) sum over all of a
partition's batches, so batching changes when work happens, not the
result — except for the float summation order inside logreg's gradient,
which test_logreg bounds by tolerance."""

from __future__ import annotations

import os

from pyspark.sql.functions import pandas_udf

from ispaq_spark.functions.extraction import fused_extract_ppl_udf
from ispaq_spark.session import default_driver_memory
from ispaq_spark.synthesize import default_lid_model, pages_df

BYTES_CONF = "spark.sql.execution.arrow.maxBytesPerBatch"


def test_driver_heap_is_at_most_half_the_host():
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap = default_driver_memory()
    assert heap.endswith("m")
    assert 512 <= int(heap[:-1]) <= max(512, host_mb // 2)


def test_fused_udf_streams_many_batches_per_task(spark, model):
    fused = fused_extract_ppl_udf(spark, model, default_lid_model())
    batches = spark.sparkContext.accumulator(0)
    score = fused.func

    @pandas_udf(fused.returnType)
    def counted(html):
        batches.add(1)
        return score(html)

    pages = pages_df(spark, 300, partitions=1).cache()
    assert pages.rdd.getNumPartitions() == 1
    streamed = pages.select("url", counted("html").alias("m")).collect()
    assert len(streamed) == 300
    # the 4,096-record cap alone would send these 300 rows as one batch
    records = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert records == "4096"
    assert batches.value > 1, f"{batches.value} Arrow batch(es) for one task"

    # ... and the batching is invisible in the output
    default = spark.conf.get(BYTES_CONF)
    spark.conf.set(BYTES_CONF, str(2**31 - 2))
    try:
        before = batches.value
        whole = pages.select("url", counted("html").alias("m")).collect()
        assert batches.value - before == 1
    finally:
        spark.conf.set(BYTES_CONF, default)
    assert sorted(streamed) == sorted(whole)
    pages.unpersist()
