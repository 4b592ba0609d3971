"""Direct measurements of single layers, outside any operation."""

from __future__ import annotations

import statistics
import time

import pandas as pd

KERNEL_BATCH = 10_000


def kernel_us_per_turn(texts: pd.Series, repeats: int = 3) -> dict[str, float]:
    """Busy microseconds per turn of each per-turn UDF kernel, called
    directly on ``KERNEL_BATCH``-row pandas batches of ``texts`` (median of
    ``repeats`` passes, after one warm-up batch)."""
    from data_quality_automated_evaluator_spark.functions.langid import langid_label
    from data_quality_automated_evaluator_spark.functions.perplexity import perplexity_batch
    from data_quality_automated_evaluator_spark.functions.scrub import scrub_batch

    texts = texts.reset_index(drop=True)
    batches = [texts.iloc[i:i + KERNEL_BATCH] for i in range(0, len(texts), KERNEL_BATCH)]
    out = {}
    for name, fn in (("langid", langid_label), ("perplexity", perplexity_batch),
                     ("scrub", scrub_batch)):
        fn(batches[0])
        passes = []
        for _ in range(repeats):
            t0 = time.thread_time()
            for b in batches:
                fn(b)
            passes.append(time.thread_time() - t0)
        out[name] = statistics.median(passes) / len(texts) * 1e6
    return out


def pipeline_noop_seconds(spark, df) -> float:
    """Seconds to run ``run_quality_pipeline`` over ``df`` into Spark's
    ``noop`` sink. The input is spread over as many partitions as
    ``QualitySink.run`` uses (4 × default parallelism), so the time is the
    sink's pipeline share without the sink."""
    from data_quality_automated_evaluator_spark.pipeline.quality import run_quality_pipeline

    parallelism = spark.sparkContext.defaultParallelism * 4
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    t0 = time.perf_counter()
    run_quality_pipeline(df).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0
