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
    # pippin_test.go:490-: timeout → status TimedOut; both forms of a
    # terminal then fail with 'context deadline exceeded'
    cfg = PipelineConfig(timeout=0.05)
    s = Pipeline.from_slice(spark, VALS, config=cfg)
    time.sleep(0.3)
    assert s.pipeline.status is Status.TIMED_OUT
    with pytest.raises(PipelineTimeoutError, match="context deadline exceeded"):
        s.sum()
    with pytest.raises(PipelineTimeoutError, match="context deadline exceeded"):
        s.sum_async().get_with_timeout(60.0)


@pytest.mark.parametrize("terminal", ["sum", "sum_async", "to_dict"])
def test_stage_timeout_cancels_terminal(spark, terminal):
    # StageConfig.timeout bounds the terminal action of the stage's plan
    # (configs/stage.go:26-31): each row sleeps 10 s JVM-side, so the
    # 2 s stage timeout cancels the job and the pipeline is TIMED_OUT
    import logging

    from pyspark.sql import functions as SF

    from pippin_spark import StageConfig
    from pippin_spark.logging_utils import PippinLogger

    class Recorder(PippinLogger):
        def __init__(self):
            super().__init__(logging.getLogger("rec.stage_timeout"))
            self.records = []

        def debug(self, msg, *args):
            self.records.append(msg % args if args else msg)

    def sleeping(ms, config=None):
        sleep = SF.expr(f"reflect('java.lang.Thread','sleep', CAST({ms} AS BIGINT))")
        return Pipeline.from_dataframe(spark.range(0, 4, 1, 2)).map(
            lambda c: SF.length(sleep), config=config
        )

    run = {
        "sum": lambda s: s.sum(),
        "sum_async": lambda s: s.sum_async().get_with_timeout(60.0),
        "to_dict": lambda s: s.group_by(lambda c: SF.lit(0)).to_dict(),
    }[terminal]
    log = Recorder()
    s = sleeping(10_000, StageConfig(timeout=2.0, logger=log))
    t0 = time.monotonic()
    with pytest.raises(PipelineTimeoutError, match="context deadline exceeded"):
        run(s)
    assert time.monotonic() - t0 < 8.0
    assert s.pipeline.status is Status.TIMED_OUT
    assert log.records, "the stage logger must receive the action log"


@pytest.mark.parametrize("parts", [1, 4], ids=["after_last_job", "between_jobs"])
def test_timeout_fired_outside_a_job_stops_the_action(spark, parts):
    # a timer that fires while no job runs still stops the action:
    # for_each_driver runs one job per partition and its callback sleeps
    # 3 s on the driver, so the 2 s stage timeout fires after a job.
    # The next job is cancelled when it is submitted, and an action whose
    # last job already ran raises instead of returning
    from pippin_spark import StageConfig

    seen = []

    def slow(v):
        seen.append(v)
        time.sleep(3.0)

    s = Pipeline.from_dataframe(spark.range(0, parts, 1, parts)).map(
        lambda c: c, config=StageConfig(timeout=2.0)
    )
    t0 = time.monotonic()
    with pytest.raises(PipelineTimeoutError, match="context deadline exceeded"):
        s.for_each_driver(slow)
    assert time.monotonic() - t0 < 6.0
    assert len(seen) <= 1
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
    # every *_async terminal returns what its blocking twin returns on the
    # same stage (asyncaggregate/asyncaggregate.go mirrors aggregate.go)
    from pyspark.sql import functions as SF

    from pippin_spark import Stage

    vals = Pipeline.from_slice(spark, VALS)
    dups = Pipeline.from_slice(spark, [1, 1, 2, 5, 5])
    cplx = Pipeline.from_slice(spark, [(1.0, 2.0), (3.0, -4.0), (-1.0, 1.0)]).map(
        lambda x: SF.struct(x["_1"].alias("re"), x["_2"].alias("im"))
    )
    pairs = Pipeline.from_slice(spark, [(1, 10), (1, 11), (2, 20)]).map(
        lambda x: SF.struct(x["_1"].alias("key"), x["_2"].alias("value"))
    )
    seen = spark.sparkContext.accumulator(0)
    cases = {
        "sum": (vals, ()),
        "sum_complex": (cplx, ()),
        "avg": (vals, ()),
        "avg_complex": (cplx, ()),
        "max": (vals, ()),
        "min": (vals, ()),
        "count": (vals, ()),
        "sort": (vals, ()),
        "sort_desc": (vals, ()),
        "reduce": (vals, (lambda a, b: a + b,)),
        "as_slice": (dups, ()),
        "as_map": (pairs, ()),
        "as_multi_map": (pairs, ()),
        "for_each": (vals, (seen.add,)),
        "distinct": (dups, ()),
        "distinct_count": (dups, ()),
    }
    public = [n for n in dir(Stage) if not n.startswith("_")]
    assert sorted(n for n in public if n.endswith("_async")) == sorted(
        [f"{n}_async" for n in cases] + ["group_by_async"]
    )

    def same(x):
        if isinstance(x, list):
            return sorted(x)
        if isinstance(x, dict):
            return {k: same(v) for k, v in x.items()}
        return x

    for name, (stage, args) in cases.items():
        blocking = getattr(stage, name)(*args)
        future = getattr(stage, f"{name}_async")(*args).get_with_timeout(120.0)
        assert same(future) == same(blocking), name
    assert seen.value == 2 * sum(VALS)
    key = lambda x: SF.pmod(x, SF.lit(2))  # noqa: E731
    assert dups.group_by_async(key).get_with_timeout(120.0) == dups.group_by(key).to_dict()


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
    # are involved; sum() forces evaluation of the sleeping column. The
    # source is a range, not from_slice: over a local relation the
    # optimizer runs the sleeping projection on the driver, with no job
    # to cancel.
    from pyspark.sql import functions as SF

    cfg = PipelineConfig(timeout=8.0)
    s = Pipeline.from_dataframe(spark.range(0, 5, 1, 5), config=cfg)
    slow_fut = s.map(
        lambda c: SF.expr("reflect('java.lang.Thread','sleep', CAST(30000 AS BIGINT))")
    ).sum_async()
    time.sleep(0.3)
    quick = s.sum_async()
    assert quick.get_with_timeout(60.0) == 10
    assert s.pipeline.status is not Status.DONE
    with pytest.raises(PipelineTimeoutError, match="context deadline exceeded"):
        slow_fut.get_with_timeout(25.0)
    assert s.pipeline.status is Status.TIMED_OUT


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


def test_executors_import_the_package_from_any_directory(tmp_path):
    # UDFs ship pippin_spark's functions by value, so Python workers never
    # import the package: a plain session (not get_spark's) in an
    # application started in a foreign directory without PYTHONPATH still
    # runs the dedup operators, whose UDFs name module-level functions
    import os
    import subprocess
    import sys
    import textwrap

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "app.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {root!r})
        from pyspark.sql import SparkSession

        from pippin_spark.operators.dedup import dedup_clusters, dedup_ngram_jaccard

        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2").getOrCreate())
        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over the lazy dog"),
             (3, "an entirely different sentence about cats")],
            "doc_id long, text string",
        )
        pairs = dedup_ngram_jaccard(docs, "text", "doc_id")
        print(sorted(tuple(r) for r in dedup_clusters(pairs).collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[(1, 1), (2, 1)]"
