"""Streaming parity: FromChannel → Structured Streaming
(pipeline/pipeline.go:131-149 mapping; SURVEY.md §3.3)."""

import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pippin_spark.statuses import Status
from pippin_spark.streaming import StreamingPipeline

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture()
def feed_dir(spark):
    with tempfile.TemporaryDirectory() as d:
        rows = [
            (1, "2024-01-01 00:00:05", 1.0),
            (1, "2024-01-01 00:00:30", 2.0),
            (2, "2024-01-01 00:01:10", 4.0),
        ]
        df = spark.createDataFrame(rows, ["user_id", "ts", "value"]).select(
            "user_id", F.col("ts").cast("timestamp"), "value"
        )
        df.write.mode("overwrite").parquet(d)
        yield d


def test_bounded_stream_windowed_agg(spark, feed_dir):
    # bounded feed: channel-closed semantics via availableNow
    stream = spark.readStream.schema(SCHEMA).parquet(feed_dir)
    sp = (
        StreamingPipeline(stream)
        .with_watermark("ts", "10 seconds")
        .tumbling_window("ts", "1 minute", F.sum("value").alias("total"))
    )
    assert sp.status is Status.PENDING  # nothing flows before start()
    # complete mode: append would hold back the last window (its end is
    # above the final watermark) — correct late-data semantics
    q = sp.start(query_name="t_win", output_mode="complete", available_now=True)
    q.awaitTermination(60)
    out = {
        r["window"]["start"].second + r["window"]["start"].minute * 60: r["total"]
        for r in spark.sql("SELECT * FROM t_win").collect()
    }
    assert out == {0: 3.0, 60: 4.0}
    assert sp.status is Status.DONE


def test_stream_interrupt(spark):
    stream = spark.readStream.format("rate").option("rowsPerSecond", "5").load()
    sp = StreamingPipeline(stream.select(F.col("value")))
    sp.start(query_name="t_rate", output_mode="append")
    assert sp.status is Status.RUNNING
    sp.interrupt()
    assert sp.status is Status.INTERRUPTED
    assert not sp.query.isActive


def test_non_streaming_df_rejected(spark):
    from pippin_spark.errors import PippinError

    with pytest.raises(PippinError):
        StreamingPipeline(spark.range(3))


def test_stateful_running_agg(spark, feed_dir):
    # custom stateful operator (applyInPandasWithState): per-key
    # (count, sum, max) carried in the executor state store
    from pippin_spark.streaming import stateful_running_agg

    stream = spark.readStream.schema(SCHEMA).parquet(feed_dir)
    out = stateful_running_agg(stream, "user_id", "value")
    q = (
        out.writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["key"]: (r["n"], r["total"], r["maxv"])
            for r in spark.sql("SELECT * FROM t_state").collect()}
    assert rows == {1: (2, 3.0, 2.0), 2: (1, 4.0, 4.0)}


def test_stream_interrupt_while_flowing(spark):
    # live-unbounded FromChannel parity: a rate feed with rows actually
    # flowing through a stateful agg when Interrupt lands. Statuses must
    # walk Pending -> Running -> Interrupted, partial results produced
    # before the stop must survive in the sink, and nothing more may
    # arrive after the stop returns.
    import time

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "200")
        .load()
        .select(F.col("value"), (F.col("value") % 4).alias("k"))
    )
    sp = StreamingPipeline(stream)
    assert sp.status is Status.PENDING  # manual-start parity: no flow yet

    agg = sp.df.groupBy("k").agg(F.count("*").alias("n"))
    live = StreamingPipeline(agg)
    live.start(
        query_name="t_rate_flowing", output_mode="complete", state_partitions=4
    )
    assert live.status is Status.RUNNING

    # wait until rows have demonstrably flowed through the agg
    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.table("t_rate_flowing").count() > 0:
            break
        time.sleep(0.25)
    rows_before = spark.table("t_rate_flowing").count()
    assert rows_before > 0, "stream never produced rows"
    assert live.status is Status.RUNNING

    live.interrupt()  # stop while batches are in flight
    assert live.status is Status.INTERRUPTED
    assert not live.query.isActive
    # the sink keeps what was committed before the stop, and the stream
    # being stopped means no further growth
    n1 = spark.table("t_rate_flowing").count()
    time.sleep(1.0)
    assert spark.table("t_rate_flowing").count() == n1 >= rows_before


def test_foreach_batch_upsert_sink(spark, feed_dir, tmp_path):
    # foreachBatch: the escape hatch for sinks Structured Streaming
    # lacks natively (MERGE/upsert into a keyed store). Each micro-batch
    # upserts latest-value-per-user into a parquet "table"; after the
    # bounded run drains, the table must hold exactly the per-key latest
    # values — the streaming analog of merge_changes.
    out_dir = str(tmp_path / "out")
    stream = spark.readStream.schema(SCHEMA).parquet(feed_dir)

    def upsert(batch_df, batch_id):
        from pyspark.sql import Window

        latest = batch_df.orderBy(F.desc("ts")).dropDuplicates(["user_id"])
        try:
            cur = spark.read.parquet(out_dir)
            merged = (
                cur.unionByName(latest)
                .withColumn(
                    "__rn__",
                    F.row_number().over(
                        Window.partitionBy("user_id").orderBy(F.desc("ts"))
                    ),
                )
                .filter(F.col("__rn__") == 1)
                .drop("__rn__")
            )
        except Exception:
            merged = latest
        merged.cache().count()  # decouple from the dir being overwritten
        merged.write.mode("overwrite").parquet(out_dir)
        merged.unpersist()

    q = (
        stream.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    final = {r["user_id"]: r["value"] for r in spark.read.parquet(out_dir).collect()}
    assert final == {1: 2.0, 2: 4.0}  # latest per user


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    # exactly-once across restarts: a second run from the SAME
    # checkpoint must process only files added since the first run —
    # the offset log, not the sink, is the source of truth
    feed, ckpt, out = (str(tmp_path / d) for d in ("feed", "ckpt", "out"))

    def write_batch(ids):
        spark.createDataFrame([(i,) for i in ids], "id long").coalesce(1).write.mode(
            "append"
        ).parquet(feed)

    def run_once():
        stream = spark.readStream.schema("id long").parquet(feed)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(60)

    write_batch(range(0, 5))
    run_once()
    first = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert first == list(range(0, 5))

    write_batch(range(5, 9))
    run_once()
    # run 2 resumed from the offset log: exactly-once overall — the new
    # file's rows appended, nothing reprocessed
    both = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert both == list(range(0, 9))


def test_tws_running_agg_matches_batch(spark, sf_dir):
    # transformWithStateInPandas (Spark 4's arbitrary-stateful
    # successor API): same (count, sum, max) semantics as
    # stateful_running_agg. Its driver-side schema worker needs the
    # protobuf package, which this container does not ship — the
    # operator is deployment-ready and this test runs wherever
    # protobuf is installed (mirrors the PIL-gated multimodal path).
    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import functions as F

    from pippin_spark.streaming import StreamingPipeline, tws_running_agg
    from pippin_spark.pipeline import ensure_epoch_ns

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select("user_id", F.round(F.col("value") * 10000, 0).cast("long").alias("sv"))
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = StreamingPipeline(tws_running_agg(stream, "user_id", "sv")).start(
            sink_format="memory",
            query_name="pippin_tws_test",
            output_mode="update",
            available_now=True,
            state_partitions=4,
        )
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    got = {r["key"]: (r["n"], r["total"]) for r in spark.table("pippin_tws_test").collect()}
    exact = {
        r["user_id"]: (r["n"], r["t"])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count("value").alias("n"),
            F.sum(F.round(F.col("value") * 10000, 0).cast("long")).alias("t"),
        )
        .collect()
    }
    assert got == exact


def test_declared_streams_leave_no_temp_dirs(spark, sf_dir):
    # memory sinks run on Spark's own temporary checkpoint and
    # foreachBatch sinks on a private directory removed after the
    # drain: repeated runs leave nothing under the process's scratch
    # root. One warm run first builds the persisted index the route
    # query probes (a cache kept for the process, not a leak). The root
    # is this process's own, so other processes cannot fail it
    import os

    from pippin_spark.entry_queries import ENTRY_QUERIES
    from pippin_spark.operators.util import scratch_dir

    root = os.path.dirname(scratch_dir(spark, "x"))
    names = ("streaming_dedup", "streaming_ivf_cell_route",
             "streaming_foreach_upsert")
    for n in names:
        ENTRY_QUERIES[n](spark, sf_dir).collect()

    def pippin_entries():
        return set(os.listdir(root))

    before = pippin_entries()
    for _ in range(2):
        for n in names:
            ENTRY_QUERIES[n](spark, sf_dir).collect()
    assert pippin_entries() - before == set()
