"""Pipeline control parity: manual start, interrupt, timeout, status,
futures (pipeline/pipeline.go:58-97, types/future.go:27-105,
pippin_test.go:126-690)."""

import time

import pytest
from pyspark.sql import types as T

from pippin_spark import (
    ManualStartError,
    Pipeline,
    PipelineConfig,
    PipelineInterruptedError,
    PipelineTimeoutError,
    Status,
)

VALS = [1, 2, -3, 4, 5]


def test_manual_start_sync_raises(spark):
    # aggregate/aggregate.go:574-579: sync agg on manual-start panics
    s = Pipeline.from_slice(spark, VALS, config=PipelineConfig(manual_start=True))
    assert s.pipeline.status is Status.PENDING
    with pytest.raises(ManualStartError):
        s.sum()


def test_manual_start_async(spark):
    # pippin_test.go:126-240: async agg queues until Start releases it
    s = Pipeline.from_slice(spark, VALS, config=PipelineConfig(manual_start=True))
    fut = s.map(lambda x: x * 2).sum_async()
    assert not fut.is_done()
    assert s.pipeline.status is Status.PENDING
    s.pipeline.start()
    assert fut.get_with_timeout(120.0) == 18
    assert s.pipeline.status is Status.DONE


def test_interrupt_before_start(spark):
    # pippin_test.go:242-355: interrupt → 'context canceled'
    s = Pipeline.from_slice(spark, VALS, config=PipelineConfig(manual_start=True))
    fut = s.sum_async()
    s.pipeline.interrupt()
    assert s.pipeline.status is Status.INTERRUPTED
    with pytest.raises(PipelineInterruptedError, match="context canceled"):
        fut.get()


def test_interrupt_then_submit(spark):
    s = Pipeline.from_slice(spark, VALS)
    s.pipeline.interrupt()
    fut = s.sum_async()
    with pytest.raises(PipelineInterruptedError):
        fut.get_with_timeout(10.0)
    with pytest.raises(PipelineInterruptedError):
        s.sum()


def test_pipeline_timeout_status(spark):
    # pippin_test.go:490-: timeout → status TimedOut
    cfg = PipelineConfig(timeout=0.05)
    s = Pipeline.from_slice(spark, VALS, config=cfg)
    time.sleep(0.3)
    assert s.pipeline.status is Status.TIMED_OUT


def test_future_timeout(spark):
    # types/future.go:73-84: GetWithTimeout returns "timeout" error
    s = Pipeline.from_slice(spark, VALS, config=PipelineConfig(manual_start=True))
    fut = s.sum_async()  # never started
    with pytest.raises(PipelineTimeoutError, match="timeout"):
        fut.get_with_timeout(0.1)
    assert not fut.is_done()
    # then complete normally (future_test.go:48 timeout-then-complete)
    s.pipeline.start()
    assert fut.get_with_timeout(120.0) == 9


def test_async_all_aggregations(spark):
    assert Pipeline.from_slice(spark, VALS).avg_async().get() == pytest.approx(1.8)
    assert Pipeline.from_slice(spark, VALS).max_async().get() == 5
    assert Pipeline.from_slice(spark, VALS).min_async().get() == -3
    assert Pipeline.from_slice(spark, VALS).count_async().get() == 5
    assert Pipeline.from_slice(spark, VALS).sort_async().get() == [-3, 1, 2, 4, 5]
    assert Pipeline.from_slice(spark, VALS).sort_desc_async().get() == [5, 4, 2, 1, -3]
    assert sorted(Pipeline.from_slice(spark, VALS).as_slice_async().get()) == sorted(VALS)
    assert sorted(Pipeline.from_slice(spark, [1, 1, 2]).distinct_async().get()) == [1, 2]
    assert Pipeline.from_slice(spark, [1, 1, 2]).distinct_count_async().get() == 2
    assert Pipeline.from_slice(spark, VALS).reduce_async(lambda a, b: a + b).get() == 9


def test_context_manager_close(spark):
    with Pipeline.from_slice(spark, VALS).pipeline as p:
        assert p.status is Status.RUNNING


def test_per_stage_parallelism_cap(spark):
    from pippin_spark import StageConfig

    s = Pipeline.from_slice(spark, VALS).map(
        lambda x: x * 2, config=StageConfig(max_parallelism=2)
    )
    assert s.df.rdd.getNumPartitions() <= 2
    assert s.sum() == 18


def test_stage_logger_overrides_pipeline_logger(spark):
    # reference precedence: stage logger wins (transform/transform.go:
    # 469-480, configs/stage.go:30)
    import logging

    from pippin_spark.config import PipelineConfig, StageConfig
    from pippin_spark.logging_utils import PippinLogger
    from pippin_spark.pipeline import Pipeline

    class Recorder(PippinLogger):
        def __init__(self, name):
            super().__init__(logging.getLogger(f"rec.{name}"))
            self.records = []

        def debug(self, msg, *args):
            self.records.append(msg % args if args else msg)

    plog, slog = Recorder("pipe"), Recorder("stage")
    stage = Pipeline.from_slice(
        spark, [1, 2, 3], config=PipelineConfig(logger=plog)
    ).map(lambda x: x + 1, config=StageConfig(logger=slog))
    assert stage.logger is slog
    stage.count()
    assert slog.records, "stage-level logger must receive the action log"
    assert not plog.records, "pipeline logger must be overridden for this stage"


def test_minhash_bands_must_divide_num_hashes(spark):
    import pytest as _pytest

    from pippin_spark.operators.dedup import text_minhash_signatures

    df = spark.createDataFrame([("a", "hello world")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="divisible"):
        text_minhash_signatures(df, "text", num_hashes=64, bands=7)


def test_file_sources_and_sinks_roundtrip(spark, tmp_path):
    # engine extension: CSV/JSON/parquet sinks + sources under the same
    # control plane (job group, status) — values survive the round trip
    from pyspark.sql import types as T

    from pippin_spark.pipeline import Pipeline

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    rows = [(1, "a,b \"quoted\"", 1.5), (2, "plain", -0.25)]
    df = spark.createDataFrame(rows, schema)

    stage = Pipeline.from_dataframe(df)
    stage.to_csv(str(tmp_path / "csv"))
    stage.to_json(str(tmp_path / "json"))
    stage.to_parquet(str(tmp_path / "pq"), partition_by=["name"])

    for src in (
        Pipeline.from_csv(spark, str(tmp_path / "csv"), schema=schema),
        Pipeline.from_json(spark, str(tmp_path / "json"), schema=schema),
    ):
        got = sorted(tuple(r) for r in src.df.collect())
        assert got == sorted(rows)
    pq = Pipeline.from_parquet(spark, str(tmp_path / "pq")).df
    assert sorted(tuple(r) for r in pq.select("id", "name", "score").collect()) == sorted(rows)


def test_stage_apply_threads_operators(spark):
    from pippin_spark.pipeline import Pipeline
    from pippin_spark.operators.dedup import dedup_exact

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
    )
    n = Pipeline.from_dataframe(df).apply(dedup_exact, "text", "doc_id").count()
    assert n == 2


def test_timeout_survives_concurrent_async_completion(spark):
    # a quick async completing while another is in flight must NOT
    # disarm the pipeline timeout (the timer only dies when _active
    # drains to zero) — the slow action still gets cancelled.
    # The slow action sleeps JVM-side (reflect) so no Python workers
    # are involved; sum() forces evaluation of the sleeping column.
    from pyspark.sql import functions as SF

    cfg = PipelineConfig(timeout=4.0)
    s = Pipeline.from_slice(spark, VALS, config=cfg)
    slow_fut = s.map(
        lambda c: SF.expr("reflect('java.lang.Thread','sleep', CAST(30000 AS BIGINT))")
    ).sum_async()
    time.sleep(0.3)
    quick = s.sum_async()
    assert quick.get_with_timeout(60.0) == 9
    assert s.pipeline.status is not Status.DONE
    with pytest.raises((PipelineTimeoutError, PipelineInterruptedError)):
        slow_fut.get_with_timeout(25.0)
    assert s.pipeline.status in (Status.TIMED_OUT, Status.INTERRUPTED)


def test_observation_metrics_ride_the_action(spark):
    # Spark's Observation API is the zero-cost analog of the
    # reference's per-stage status/metrics hooks: metrics accumulate
    # inside the same job (no second scan), and are available after
    # the terminal action completes
    from pyspark.sql import Observation
    from pyspark.sql import functions as SF

    obs = Observation("pipeline_metrics")
    s = Pipeline.from_slice(spark, [1, 2, 3, 4, 5])
    observed = s.df.observe(
        obs,
        SF.count(SF.lit(1)).alias("rows_seen"),
        SF.sum("value").alias("value_sum"),
    )
    total = observed.agg(SF.sum("value")).collect()[0][0]
    assert total == 15
    assert obs.get == {"rows_seen": 5, "value_sum": 15}


def test_helper_thread_jobs_keep_callers_job_group(spark):
    # the maintenance rows' helper thread inherits the caller's job
    # group, so cancelJobGroup (interrupt, timeouts) reaches its jobs
    from pippin_spark.entry_queries import _on_helper_thread

    sc = spark.sparkContext
    group = "pippin-helper-thread-group"
    sc.setJobGroup(group, "helper thread jobs", True)
    try:
        _on_helper_thread(spark, lambda: spark.range(10).count()).result()
    finally:
        sc.setJobGroup(None, None)  # type: ignore[arg-type]
    assert sc.statusTracker().getJobIdsForGroup(group)
