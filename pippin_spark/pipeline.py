"""Core Pipeline / Stage fluent API.

Reference model (SURVEY.md §1): a Pipeline owns the whole job
(pipeline/pipeline.go:30-40); a Stage is one node of a linked push-
dataflow (stages/stage.go:50-61) carrying a stream of single values of
one type. Here a Stage wraps a *lazy* DataFrame — Spark's logical plan
IS the stage graph, and nothing runs until a terminal aggregation
(an action). That makes the reference's eager push execution strictly
lazier, which is exactly what its ManualStart option emulates.

Element pipelines use a single column named ``value``. Transform fns are
dual-path: a fn that composes Column expressions executes JVM-side under
whole-stage codegen; anything else falls back to an Arrow-batched pandas
UDF (or row UDF on request) — SURVEY.md §2.2 mappings.

Transformations: transform/transform.go:29-235 (Map/MapWithError/
MapWithErrorMapper/FlatMap×3/Filter). Aggregations:
aggregate/aggregate.go:29-508 sync, asyncaggregate/asyncaggregate.go
async: the reference writes each twice; here each terminal has one
body, ``X()`` runs it blocking and ``X_async()`` is its PippinFuture
form, both through the pipeline's one action runner. Control:
pipeline/pipeline.go:58-97 (Start/Interrupt/Close/status), timeouts
pipeline/pipeline.go:254-262.
"""

from __future__ import annotations

import inspect
import threading
import uuid
from typing import Any, Callable, Iterable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pippin_spark.config import PipelineConfig, StageConfig
from pippin_spark.errors import (
    ManualStartError,
    PipelineInterruptedError,
    PipelineTimeoutError,
    PippinError,
    StageTypeError,
)
from pippin_spark.futures import PippinFuture
from pippin_spark.logging_utils import PippinLogger, noop_logger
from pippin_spark.statuses import Status

VALUE = "value"
KEY = "key"

_ARROW_SCALARS = (int, float, str, bool, bytes)


def _driver_rows_df(spark, rows, colnames, struct_schema):
    """Driver-values source table (FromSlice/FromMap backing).

    Plain-scalar rows route through the Arrow-serialized pandas path
    (see operators/util.local_table): a tuple-list createDataFrame is
    backed by a pickled Python RDD that re-runs a Python worker round
    on EVERY downstream scan (~3.7 s per scan measured) — a tax the
    user pays per action on a source built from a driver list.
    Everything else keeps the classic createDataFrame path, whose
    inference/coercion/error semantics are the documented
    reference-parity behavior. Classic in particular for: rows with
    anything richer than int/float/str/bool/bytes (nested containers,
    datetimes, Decimals, Rows); an EXPLICIT schema (classic VERIFIES
    each value against the field type — DoubleType rejects an int —
    where Arrow would silently coerce); NaN (pandas reads it as
    MISSING → NULL); mixed-type columns (classic raises a merge
    error; Arrow would coerce); all-None columns (classic raises
    CANNOT_DETERMINE_TYPE); empty input (classic raises "can not
    infer schema"). Each divergence is pinned by a test_from_slice_*
    case."""
    simple = (
        struct_schema is None
        and bool(rows)
        and all(
            v is None or (type(v) in _ARROW_SCALARS and v == v)
            for r in rows
            for v in r
        )
    )
    if simple:
        for i in range(len(colnames)):
            types = {type(r[i]) for r in rows if r[i] is not None}
            if len(types) != 1:  # mixed OR all-None column
                simple = False
                break
    if simple:
        try:
            import pandas as pd

            from pippin_spark.operators.util import arrow_conversion

            # object dtype per column: a plain DataFrame would coerce
            # [1, None, 3] to float64 and surface as DOUBLE instead of
            # classic's BIGINT-with-NULL; from objects, Arrow infers
            # int64 + null like classic does
            pdf = pd.DataFrame(
                {
                    n: pd.Series([r[i] for r in rows], dtype=object)
                    for i, n in enumerate(colnames)
                },
                columns=list(colnames),
            )
            with arrow_conversion(spark):
                return spark.createDataFrame(pdf)
        except Exception:
            pass  # fall through to the classic path on any Arrow gap
    if struct_schema is not None:
        return spark.createDataFrame(rows, struct_schema)
    return spark.createDataFrame(rows, list(colnames))


def _native_reduce_df(df: DataFrame, value_col: str, fn: Callable[[Column, Column], Column]) -> DataFrame:
    """Two-level distributed fold for a Column-pair reduce fn
    (aggregate.go:292-303 contract: fn associative+commutative).

    Level 1 folds each input partition independently — groupBy on
    ``spark_partition_id()`` means every map task owns exactly one
    group, so the partial ``collect_list`` buffer is bounded by ONE
    partition's rows, never the whole column. Level 2 folds the ≤P
    scalar partials (P = number of partitions). No aggregation buffer
    anywhere holds more than a single partition — OOM-safe at scale,
    unlike a global ``agg(reduce(collect_list(...)))``.
    """
    dtype = df.schema[value_col].dataType
    init = F.lit(None).cast(dtype)

    def step(acc: Column, x: Column) -> Column:
        return F.when(acc.isNull(), x).otherwise(fn(acc, x))

    partials = (
        df.select(F.col(value_col).alias(VALUE))
        .withColumn("__pid__", F.spark_partition_id())
        .groupBy("__pid__")
        .agg(F.reduce(F.collect_list(VALUE), init, step).alias(VALUE))
        .where(F.col(VALUE).isNotNull())
    )
    return partials.agg(F.reduce(F.collect_list(VALUE), init, step).alias("r"))


# ---------------------------------------------------------------------------
# Pipeline
# ---------------------------------------------------------------------------


class Pipeline:
    """Handle owning the whole job (reference pipeline/pipeline.go:30-40).

    Owns: SparkSession, config, status state machine, a job-group id used
    for cancellation (the Spark analog of the reference's context tree),
    the async executor, the manual-start action queue, the pipeline
    timeout timer, and registered error sinks.
    """

    def __init__(self, spark: SparkSession, config: Optional[PipelineConfig] = None):
        self.spark = spark
        self.config = config or PipelineConfig()
        self.logger: PippinLogger = self.config.logger or noop_logger()
        self.group_id = f"pippin-{uuid.uuid4().hex[:12]}"
        self._lock = threading.RLock()
        self._status = Status.PENDING if self.config.manual_start else Status.RUNNING
        self._pending_actions: list[tuple[threading.Thread, PippinFuture]] = []
        self._timer: Optional[threading.Timer] = None
        self._error_sinks: list["ErrorSink"] = []
        self._active = 0  # running actions (for DONE transition)
        if not self.config.manual_start:
            self._arm_timeout()

    # -- status --------------------------------------------------------
    @property
    def status(self) -> Status:
        with self._lock:
            return self._status

    # -- control (reference pipeline/pipeline.go:58-82) ----------------
    def start(self) -> None:
        """Release a manual-start pipeline (pipeline/pipeline.go:58-65).

        The reference cascades a start token stage-to-stage
        (pipeline/pipeline.go:229-248); with a lazy plan the cascade is
        just: start every queued async action now.
        """
        with self._lock:
            if self._status is not Status.PENDING:
                return
            self._status = Status.RUNNING
            pending, self._pending_actions = self._pending_actions, []
        self._arm_timeout()
        for thread, _ in pending:
            thread.start()

    def interrupt(self) -> None:
        """Graceful cancel (pipeline/pipeline.go:69-76): cancel the job
        group (context-cancel analog); in-flight sync aggs raise
        PipelineInterruptedError('context canceled'), futures fail."""
        with self._lock:
            if self._status.is_terminal():
                return
            self._status = Status.INTERRUPTED
            pending, self._pending_actions = self._pending_actions, []
        self._cancel_timer()
        for _, future in pending:
            future._fail(PipelineInterruptedError())
        self._cancel_jobs()
        self.logger.info("pipeline %s interrupted", self.group_id)

    def close(self) -> None:
        """Release resources (pipeline/pipeline.go:79-82)."""
        self._cancel_timer()
        self.logger.close()

    def __enter__(self) -> "Pipeline":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _cancel_jobs(self) -> None:
        """Cancel the group's running jobs and every job it submits later,
        so a stopped pipeline stays stopped even when its timer fired
        before the action's job existed. PySpark wraps only the call for
        running jobs; this one is the JVM SparkContext's."""
        try:
            self.spark.sparkContext._jsc.sc().cancelJobGroupAndFutureJobs(self.group_id)
        except Exception:  # session already stopped
            pass

    # -- timeout (pipeline/pipeline.go:254-262) ------------------------
    def _arm_timeout(self) -> None:
        if self.config.timeout is None or self._timer is not None:
            return
        self._timer = threading.Timer(self.config.timeout, self._time_out)
        self._timer.daemon = True
        self._timer.start()

    def _cancel_timer(self) -> None:
        if self._timer is not None:
            self._timer.cancel()
            self._timer = None

    def _time_out(self) -> None:
        """Fired by the pipeline timer or an action's stage timer: the
        pipeline is TIMED_OUT and its jobs are cancelled. A DONE pipeline
        times out too: only a running action's timer can still fire."""
        with self._lock:
            if self._status in (Status.INTERRUPTED, Status.TIMED_OUT):
                return
            self._status = Status.TIMED_OUT
        self._cancel_jobs()
        self.logger.warn("pipeline %s timed out", self.group_id)

    # -- action execution ----------------------------------------------
    def _stop_error(self) -> Optional[PippinError]:
        """The error a terminal action meets now, if any: the pipeline was
        interrupted or timed out, or it is a manual-start pipeline not yet
        started (aggregate/aggregate.go:574-579)."""
        with self._lock:
            if self._status is Status.INTERRUPTED:
                return PipelineInterruptedError()
            if self._status is Status.TIMED_OUT:
                return PipelineTimeoutError("context deadline exceeded")
            if self._status is Status.PENDING:
                return ManualStartError()
        return None

    def _run_action(self, action: Callable[[], Any], timeout: Optional[float]) -> Any:
        """Run one terminal action in the calling thread, inside the
        pipeline's job group (aggregate/aggregate.go:546-562): blocking
        terminals call it directly, each future's thread calls it.

        ``timeout`` (the stage's) bounds this action alone. An action that
        ends after interrupt() or a timeout raises PipelineInterruptedError
        or PipelineTimeoutError, never its result; the last action to
        complete moves the pipeline to DONE."""
        error = self._stop_error()
        if error is not None:
            raise error
        timer: Optional[threading.Timer] = None
        if timeout is not None:
            timer = threading.Timer(timeout, self._time_out)
            timer.daemon = True
            timer.start()
        sc = self.spark.sparkContext
        sc.setJobGroup(self.group_id, "pippin aggregation", True)
        with self._lock:
            self._active += 1
        completed = False
        try:
            try:
                result = action()
            except Exception:
                # a cancelled Spark job surfaces as a Py4J error; translate
                if self._stop_error() is None:
                    raise
            error = self._stop_error()
            if error is not None:
                raise error
            self._flush_error_sinks()
            completed = True
            return result
        finally:
            if timer is not None:
                timer.cancel()
            with self._lock:
                self._active -= 1
                # only the LAST completing action disarms the pipeline
                # timer — earlier completions must leave the
                # PipelineConfig.timeout armed for in-flight siblings
                done = completed and self._active == 0 and not self._status.is_terminal()
                if done:
                    self._status = Status.DONE
            if done:
                self._cancel_timer()
            try:
                sc.setJobGroup(None, None)  # type: ignore[arg-type]
            except Exception:
                pass

    def _submit(self, action: Callable[[], Any], timeout: Optional[float]) -> PippinFuture:
        """Future form of _run_action (asyncaggregate/asyncaggregate.go:
        529-647): returns a PippinFuture at once and runs the action on its
        own thread. On a pending manual-start pipeline the thread waits in
        the queue start() releases — the reference's start-signal cascade
        (asyncaggregate.go:555-572)."""
        future = PippinFuture()

        def run() -> None:
            try:
                future._complete(self._run_action(action, timeout))
            except BaseException as exc:  # noqa: BLE001 — must fail the future
                future._fail(exc)

        thread = threading.Thread(target=run, name=f"{self.group_id}-action", daemon=True)
        with self._lock:
            if self._status is Status.PENDING:
                self._pending_actions.append((thread, future))
                return future
        thread.start()
        return future

    # -- error sinks (SURVEY.md §7.3 #1) -------------------------------
    def _register_error_sink(self, sink: "ErrorSink") -> None:
        self._error_sinks.append(sink)

    def _flush_error_sinks(self) -> None:
        limit = self.config.error_collect_limit
        for sink in self._error_sinks:
            sink.flush(limit)

    # -- sources (reference pipeline/pipeline.go:101-149) --------------
    @classmethod
    def from_slice(
        cls,
        spark: SparkSession,
        values: Iterable[Any],
        schema: Optional[T.DataType] = None,
        config: Optional[PipelineConfig] = None,
    ) -> "Stage":
        """FromSlice (pipeline/pipeline.go:101-110): emit each element.

        Values become a one-column (``value``) DataFrame; schema inferred
        by createDataFrame unless given explicitly.
        """
        pipeline = cls(spark, config)
        values = list(values)
        df = _driver_rows_df(
            spark,
            [(v,) for v in values],
            [VALUE],
            T.StructType([T.StructField(VALUE, schema)]) if schema is not None else None,
        )
        return Stage(pipeline, df)

    @classmethod
    def from_map(
        cls,
        spark: SparkSession,
        mapping: dict,
        config: Optional[PipelineConfig] = None,
    ) -> "Stage":
        """FromMap (pipeline/pipeline.go:114-123): emit (key, value)
        tuples — Tuple[K,V] (types/types.go:7-10) → two columns."""
        pipeline = cls(spark, config)
        df = _driver_rows_df(spark, list(mapping.items()), [KEY, VALUE], None)
        return Stage(pipeline, df)

    @classmethod
    def from_dataframe(
        cls,
        df: DataFrame,
        config: Optional[PipelineConfig] = None,
    ) -> "Stage":
        """Idiomatic-Spark source: wrap any DataFrame as a stage."""
        pipeline = cls(df.sparkSession, config)
        return Stage(pipeline, df)

    @classmethod
    def from_parquet(
        cls,
        spark: SparkSession,
        path: str,
        config: Optional[PipelineConfig] = None,
    ) -> "Stage":
        """Parquet table source (engine extension — the reference is
        in-memory only, SURVEY.md §2.1). Predicate pushdown and column
        pruning reach the scan because the stage stays declarative."""
        pipeline = cls(spark, config)
        # Some parquet (testdata events.parquet) carries TIMESTAMP(NANOS),
        # which Spark can only read as long nanos via the legacy conf —
        # callers convert with F.timestamp_micros(ts div 1000) where real
        # timestamps are needed. The conf is session-global and must stay
        # set while the plan executes (SQLConf is captured per action),
        # so true scoping is impossible; instead only flip it when the
        # footer actually contains nanos columns, and say so.
        if _parquet_has_nanos(path):
            if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
                pipeline.logger.info(
                    "from_parquet(%s): TIMESTAMP(NANOS) columns — setting "
                    "spark.sql.legacy.parquet.nanosAsLong=true (session-wide; "
                    "nanos read as LONG)",
                    path,
                )
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return Stage(pipeline, spark.read.parquet(path))

    @classmethod
    def from_table(
        cls,
        spark: SparkSession,
        sf_dir: str,
        name: str,
        config: Optional[PipelineConfig] = None,
    ) -> "Stage":
        """Testdata convenience: read ``{sf_dir}/{name}.parquet``."""
        return cls.from_parquet(spark, f"{sf_dir}/{name}.parquet", config)

    @classmethod
    def from_csv(
        cls,
        spark: SparkSession,
        path: str,
        schema: Optional[T.StructType] = None,
        header: bool = True,
        config: Optional[PipelineConfig] = None,
        **options: Any,
    ) -> "Stage":
        """CSV table source (engine extension; the reference has no file
        sources at all — SURVEY.md §2.1). Pass an explicit ``schema``
        at scale: schema inference is a full extra pass over the data.
        CSV supports column pruning but NOT predicate pushdown — prefer
        parquet for anything queried repeatedly."""
        pipeline = cls(spark, config)
        reader = spark.read.options(header=str(header).lower(), **options)
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", "true")
        return Stage(pipeline, reader.csv(path))

    @classmethod
    def from_json(
        cls,
        spark: SparkSession,
        path: str,
        schema: Optional[T.StructType] = None,
        config: Optional[PipelineConfig] = None,
        **options: Any,
    ) -> "Stage":
        """JSON-lines table source (engine extension). Same scale note
        as from_csv: always pass ``schema`` on big data — inference
        scans everything once before the real job starts."""
        pipeline = cls(spark, config)
        reader = spark.read.options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        return Stage(pipeline, reader.json(path))

    @classmethod
    def from_stream(
        cls,
        stream_df: DataFrame,
        config: Optional[PipelineConfig] = None,
    ) -> "Stage":
        """FromChannel analog (pipeline/pipeline.go:131-149): wrap a
        Structured Streaming DataFrame (``spark.readStream...``). The
        unbounded-feed semantics map to micro-batch streaming; see
        pippin_spark.streaming for start/stop/status plumbing."""
        pipeline = cls(stream_df.sparkSession, config)
        return Stage(pipeline, stream_df)


def _parquet_has_nanos(path: str) -> bool:
    """True if the parquet footer at ``path`` (file or directory of
    *.parquet) has any timestamp[ns] column. On non-local or unreadable
    paths returns True — we cannot prove absence, and failing open
    preserves readability of nanos files (the conf is then set exactly
    as before this guard existed)."""
    import os

    p = path
    try:
        if os.path.isdir(p):
            cands = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
            if not cands:
                return True
            p = os.path.join(p, cands[0])
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pq.read_schema(p)
        return any(
            pa.types.is_timestamp(f.type) and f.type.unit == "ns" for f in schema
        )
    except Exception:
        return True


def ensure_epoch_ns(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a time column to BIGINT epoch-nanoseconds in place.

    The engine standardizes event-time arithmetic on integer nanos:
    exact (doubles lose integer exactness above 2^53 — an epoch-nanos
    value is ~1.7e18) and identical across engines. Input may be:

    - ``LongType`` — already epoch nanos (TIMESTAMP(NANOS) parquet read
      via the legacy ``nanosAsLong`` conf): no-op.
    - ``TimestampNTZType`` — naive micros; treated as UTC, exactly what
      DuckDB's ``epoch_ns()`` does with naive timestamps. Converted with
      ``timestampdiff`` so the result is independent of the session
      timezone.
    - ``TimestampType`` — instant micros; ``unix_micros`` is already
      timezone-independent.

    Works on streaming DataFrames too (pure deterministic projection).
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df
    if isinstance(dt, T.TimestampNTZType):
        ns = F.expr(
            "timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{col}`) * 1000"
        )
    elif isinstance(dt, T.TimestampType):
        ns = F.unix_micros(F.col(col)) * F.lit(1000)
    else:
        raise TypeError(
            f"ensure_epoch_ns: column {col!r} has type {dt}; expected "
            "LONG (epoch nanos) or a timestamp type"
        )
    return df.withColumn(col, ns.cast("long"))


# ---------------------------------------------------------------------------
# dual-path fn → Column compilation
# ---------------------------------------------------------------------------


def _columnize(
    fn: Any,
    in_col: Column,
    return_type: Optional[T.DataType],
    pandas: bool,
    safe: bool = False,
) -> Column:
    """Compile a user transform into a Column.

    Fast path: ``fn`` already a Column, or a callable that composes
    Column expressions (``lambda x: x * 2`` works on a Column) — stays
    JVM-side in whole-stage codegen. Slow path: pandas UDF (Arrow
    batches; fn receives/returns a pandas Series) or row UDF. ``safe``
    wraps the python fn in try/except→None (for *WithError* variants,
    transform/transform.go:52-64)."""
    if isinstance(fn, Column):
        return fn
    if isinstance(fn, str):
        return F.expr(fn)
    if not callable(fn):
        return F.lit(fn)
    if not pandas:
        try:
            out = fn(in_col)
            if isinstance(out, Column):
                return out
        except Exception:
            pass
    if return_type is None:
        raise StageTypeError(
            "transform fn is not expressible as a Column expression; pass "
            "return_type= to enable the (pandas) UDF fallback"
        )
    if pandas:
        from pyspark.sql.functions import pandas_udf

        if safe:
            def series_fn(s):  # pragma: no cover - executor side
                def one(x):
                    try:
                        return fn(x)
                    except Exception:
                        return None
                return s.map(one)
            return pandas_udf(series_fn, return_type)(in_col)
        return pandas_udf(fn, return_type)(in_col)
    if safe:
        def safe_fn(x):  # pragma: no cover - executor side
            try:
                return fn(x)
            except Exception:
                return None
        return F.udf(safe_fn, return_type)(in_col)
    return F.udf(fn, return_type)(in_col)


# ---------------------------------------------------------------------------
# terminal bodies
# ---------------------------------------------------------------------------


def _terminal(
    body: Callable[..., Callable[[], Any]],
) -> tuple[Callable[..., Any], Callable[..., PippinFuture]]:
    """The blocking form and the ``*_async`` form of one terminal.

    ``body(stage, *args)`` builds the terminal's lazy frame and returns
    the action that runs it and steps from its rows to the result. Both
    forms run that one body through Stage._act: the blocking form returns
    the result, the async form a PippinFuture of it."""

    def blocking(self: "Stage", *args: Any, **kwargs: Any) -> Any:
        return self._act(body(self, *args, **kwargs))

    def future(self: "Stage", *args: Any, **kwargs: Any) -> PippinFuture:
        return self._act(body(self, *args, **kwargs), blocking=False)

    # the public names and the body's parameters, for help() and inspect
    name = body.__name__.lstrip("_")
    params = inspect.signature(body)
    for form, suffix, returns in ((blocking, "", Any), (future, "_async", PippinFuture)):
        form.__name__ = name + suffix
        form.__qualname__ = f"Stage.{form.__name__}"
        form.__signature__ = params.replace(return_annotation=returns)
    return blocking, future


def _first(df: DataFrame) -> Callable[[], Any]:
    """Action: the first value of ``df``'s one row."""
    return lambda: df.collect()[0][0]


def _column(df: DataFrame) -> Callable[[], list]:
    """Action: ``df``'s first column as a list."""
    return lambda: [r[0] for r in df.collect()]


def _dict(df: DataFrame, value: str) -> Callable[[], dict]:
    """Action: ``{key: value}`` over ``df``'s rows."""
    return lambda: {r[KEY]: r[value] for r in df.collect()}


def _complex(df: DataFrame, empty: Optional[complex]) -> Callable[[], Optional[complex]]:
    """Action: ``df``'s one (re, im) row as a complex, or ``empty`` when
    the aggregate saw no rows."""

    def run() -> Optional[complex]:
        row = df.collect()[0]
        return empty if row["re"] is None else complex(row["re"], row["im"])

    return run


# ---------------------------------------------------------------------------
# Stage
# ---------------------------------------------------------------------------


class Stage:
    """One node of the dataflow (stages/stage.go:50-61) wrapping a lazy
    DataFrame. Stage ids increment down the chain (stages/stage.go:88-103).
    """

    def __init__(
        self,
        pipeline: Pipeline,
        df: DataFrame,
        stage_config: Optional[StageConfig] = None,
        stage_id: int = 0,
        error_sink: Optional["ErrorSink"] = None,
    ) -> None:
        self.pipeline = pipeline
        self._df = df
        self.config = stage_config or StageConfig()
        self.id = stage_id
        self.error_sink = error_sink

    # ------------------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        """The lazy DataFrame — Spark's logical plan for this stage."""
        return self._df

    @property
    def spark(self) -> SparkSession:
        return self.pipeline.spark

    def _next(self, df: DataFrame, stage_config: Optional[StageConfig], sink: Optional["ErrorSink"] = None) -> "Stage":
        cfg = stage_config or StageConfig()
        # per-stage parallelism cap (reference ratelimiter semantics):
        # bound concurrent tasks for this stage by repartitioning.
        cap = cfg.max_parallelism or self.pipeline.config.max_parallelism_per_stage
        total = self.pipeline.config.max_parallelism
        if cap is not None or (total is not None and total < self.spark.sparkContext.defaultParallelism):
            n = min(x for x in (cap, total) if x is not None)
            df = df.repartition(max(1, n))
        return Stage(self.pipeline, df, cfg, self.id + 1, sink)

    def _value_col(self) -> str:
        if VALUE in self._df.columns:
            return VALUE
        if len(self._df.columns) == 1:
            return self._df.columns[0]
        raise StageTypeError(
            f"element operation needs a '{VALUE}' column (or single-column "
            f"stage); this stage has columns {self._df.columns}. Use map("
            "F.col(...)) / select() to project first."
        )

    @property
    def logger(self) -> PippinLogger:
        """Effective logger for this stage: a StageConfig.logger
        override wins over the pipeline logger — reference precedence
        (transform/transform.go:469-480, configs/stage.go:30)."""
        return self.config.logger or self.pipeline.logger

    # ------------------------------------------------------------------
    # transformations (transform/transform.go:29-235)
    # ------------------------------------------------------------------
    def map(
        self,
        fn: Any,
        return_type: Optional[T.DataType] = None,
        pandas: bool = False,
        config: Optional[StageConfig] = None,
    ) -> "Stage":
        """Map: 1→1 transform (transform/transform.go:29-34)."""
        col = _columnize(fn, F.col(self._value_col()), return_type, pandas)
        return self._next(self._df.select(col.alias(VALUE)), config)

    def map_with_error(
        self,
        fn: Any,
        on_error: Optional[Callable[[Any], None]] = None,
        return_type: Optional[T.DataType] = None,
        pandas: bool = False,
        config: Optional[StageConfig] = None,
    ) -> "Stage":
        """MapWithError: 1→0..1 — on error drop the element and route it
        to the error sink (transform/transform.go:52-64). ``fn`` is either
        a Column expression using try_* semantics (NULL = error) or a
        python callable whose exceptions count as errors. The reference's
        per-element driver callback becomes: failed input rows are
        quarantined in a lazy DataFrame; ``on_error`` is invoked per
        collected error row at action time (SURVEY.md §7.3 #1)."""
        in_col = F.col(self._value_col())
        col = _columnize(fn, in_col, return_type, pandas, safe=True)
        tagged = self._df.select(in_col.alias("__in__"), col.alias(VALUE))
        err_df = tagged.filter(F.col(VALUE).isNull() & F.col("__in__").isNotNull()).select(
            F.col("__in__").alias(VALUE)
        )
        sink = ErrorSink(err_df, on_error)
        self.pipeline._register_error_sink(sink)
        ok = tagged.filter(F.col(VALUE).isNotNull()).select(VALUE)
        return self._next(ok, config, sink)

    def map_with_error_mapper(
        self,
        fn: Any,
        error_mapper: Any,
        return_type: Optional[T.DataType] = None,
        pandas: bool = False,
        config: Optional[StageConfig] = None,
    ) -> "Stage":
        """MapWithErrorMapper: 1→1, substitute a mapped default on error
        (transform/transform.go:82-93) → coalesce(try_expr, default)."""
        in_col = F.col(self._value_col())
        col = _columnize(fn, in_col, return_type, pandas, safe=True)
        default = _columnize(error_mapper, in_col, return_type, pandas)
        out = F.coalesce(col, default)
        return self._next(self._df.select(out.alias(VALUE)), config)

    def flat_map(
        self,
        fn: Any = None,
        return_type: Optional[T.DataType] = None,
        pandas: bool = False,
        config: Optional[StageConfig] = None,
    ) -> "Stage":
        """FlatMap: input must be array-typed; flatten then map each inner
        element (transform/transform.go:107-128). Empty arrays emit
        nothing — exactly ``explode`` semantics."""
        exploded = self._df.select(F.explode(self._value_col()).alias(VALUE))
        stage = self._next(exploded, config)
        if fn is None:
            return stage
        return stage.map(fn, return_type=return_type, pandas=pandas, config=config)

    def flat_map_with_error(
        self,
        fn: Any,
        on_error: Optional[Callable[[Any], None]] = None,
        return_type: Optional[T.DataType] = None,
        pandas: bool = False,
        config: Optional[StageConfig] = None,
    ) -> "Stage":
        """FlatMapWithError (transform/transform.go:145-172): explode,
        then per-inner-element error→drop+sink."""
        exploded = self._df.select(F.explode(self._value_col()).alias(VALUE))
        stage = self._next(exploded, config)
        return stage.map_with_error(fn, on_error, return_type=return_type, pandas=pandas, config=config)

    def flat_map_with_error_mapper(
        self,
        fn: Any,
        error_mapper: Any,
        return_type: Optional[T.DataType] = None,
        pandas: bool = False,
        config: Optional[StageConfig] = None,
    ) -> "Stage":
        """FlatMapWithErrorMapper (transform/transform.go:190-216)."""
        exploded = self._df.select(F.explode(self._value_col()).alias(VALUE))
        stage = self._next(exploded, config)
        return stage.map_with_error_mapper(fn, error_mapper, return_type=return_type, pandas=pandas, config=config)

    def filter(
        self,
        fn: Any,
        config: Optional[StageConfig] = None,
    ) -> "Stage":
        """Filter: keep elements where predicate true
        (transform/transform.go:228-235)."""
        if isinstance(fn, (Column, str)):
            cond = fn if isinstance(fn, Column) else F.expr(fn)
        else:
            cond = _columnize(fn, F.col(self._value_col()), T.BooleanType(), False)
        return self._next(self._df.filter(cond), config)

    # ------------------------------------------------------------------
    # relational surface (engine extension; SURVEY.md §2.5 gaps filled)
    # ------------------------------------------------------------------
    def select(self, *cols) -> "Stage":
        return self._next(self._df.select(*cols), None)

    def apply(self, fn: Callable[..., DataFrame], *args: Any, **kwargs: Any) -> "Stage":
        """Thread this stage through any DataFrame→DataFrame operator
        while staying in the fluent pipeline — the bridge between the
        reference-style chain and the operators/ library::

            (Pipeline.from_table(spark, sf, "documents")
             .apply(dedup.dedup_exact, "text", "doc_id")
             .apply(text.repetition_stats, "text")
             .count())
        """
        return self._next(fn(self._df, *args, **kwargs), None)

    def where(self, cond) -> "Stage":
        return self._next(self._df.filter(cond), None)

    def with_column(self, name: str, col: Column) -> "Stage":
        return self._next(self._df.withColumn(name, col), None)

    def join(self, other: "Stage | DataFrame", on, how: str = "inner", broadcast: bool = False) -> "Stage":
        """Join extension. ``broadcast=True`` forces a broadcast-hash join
        for small dims (at 100 TB: region/nation/supplier — never the
        fact side); otherwise AQE picks shuffle-hash vs sort-merge."""
        right = other.df if isinstance(other, Stage) else other
        if broadcast:
            right = F.broadcast(right)
        return self._next(self._df.join(right, on, how), None)

    def union(self, other: "Stage | DataFrame") -> "Stage":
        right = other.df if isinstance(other, Stage) else other
        return self._next(self._df.unionByName(right), None)

    def intersect(self, other: "Stage | DataFrame") -> "Stage":
        right = other.df if isinstance(other, Stage) else other
        return self._next(self._df.intersect(right), None)

    def except_all(self, other: "Stage | DataFrame") -> "Stage":
        right = other.df if isinstance(other, Stage) else other
        return self._next(self._df.exceptAll(right), None)

    def repartition(self, n: int, *cols) -> "Stage":
        return self._next(self._df.repartition(n, *cols), None)

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode)

    # ------------------------------------------------------------------
    # terminal aggregations (aggregate/aggregate.go:29-508 sync,
    # asyncaggregate/asyncaggregate.go:31-525 async; SURVEY.md §3.2)
    # ------------------------------------------------------------------
    # Each terminal's body is written once, as a private method that
    # builds the lazy frame and returns the action running it (see
    # _terminal); X() runs it blocking, X_async() as a PippinFuture. Each
    # has a lazy *_df twin returning a DataFrame (used by the declared
    # correctness queries and by users who don't want driver collection).

    def _act(self, action: Callable[[], Any], blocking: bool = True) -> Any:
        """Run one terminal action through the pipeline's action runner
        under this stage's timeout and logger: the result, or with
        ``blocking=False`` a PippinFuture of it."""
        self.logger.debug("stage %d: running terminal action", self.id)
        run = self.pipeline._run_action if blocking else self.pipeline._submit
        return run(action, self.config.timeout)

    # Sum — aggregate.go:29-40; zero-seed parity via strict_zero_seed
    def sum_df(self, col: Optional[str] = None) -> DataFrame:
        c = col or self._value_col()
        expr = F.sum(c)
        if self.pipeline.config.strict_zero_seed:
            expr = F.coalesce(expr, F.lit(0))
        return self._df.agg(expr.alias("sum"))

    def _sum(self, col: Optional[str] = None):
        return _first(self.sum_df(col))

    sum, sum_async = _terminal(_sum)

    # SumComplexType — aggregate.go:53-64; struct(re,im) encoding
    def sum_complex_df(self, col: Optional[str] = None) -> DataFrame:
        c = col or self._value_col()
        return self._df.agg(
            F.sum(F.col(c)["re"]).alias("re"), F.sum(F.col(c)["im"]).alias("im")
        )

    def _sum_complex(self, col: Optional[str] = None):
        empty = 0j if self.pipeline.config.strict_zero_seed else None
        return _complex(self.sum_complex_df(col), empty)

    sum_complex, sum_complex_async = _terminal(_sum_complex)

    # Avg — aggregate.go:72-86 (always float64)
    def avg_df(self, col: Optional[str] = None) -> DataFrame:
        c = col or self._value_col()
        return self._df.agg(F.avg(c).cast("double").alias("avg"))

    def _avg(self, col: Optional[str] = None):
        return _first(self.avg_df(col))

    avg, avg_async = _terminal(_avg)

    # AvgComplexType — aggregate.go:98-112
    def avg_complex_df(self, col: Optional[str] = None) -> DataFrame:
        c = col or self._value_col()
        return self._df.agg(
            F.avg(F.col(c)["re"]).alias("re"), F.avg(F.col(c)["im"]).alias("im")
        )

    def _avg_complex(self, col: Optional[str] = None):
        return _complex(self.avg_complex_df(col), None)

    avg_complex, avg_complex_async = _terminal(_avg_complex)

    # Max/Min — aggregate.go:124-164; note reference zero-seed divergence
    def max_df(self, col: Optional[str] = None) -> DataFrame:
        c = col or self._value_col()
        expr = F.max(c)
        if self.pipeline.config.strict_zero_seed:
            expr = F.coalesce(F.greatest(expr, F.lit(0)), F.lit(0))
        return self._df.agg(expr.alias("max"))

    def _max(self, col: Optional[str] = None):
        return _first(self.max_df(col))

    max, max_async = _terminal(_max)

    def min_df(self, col: Optional[str] = None) -> DataFrame:
        c = col or self._value_col()
        expr = F.min(c)
        if self.pipeline.config.strict_zero_seed:
            expr = F.coalesce(F.least(expr, F.lit(0)), F.lit(0))
        return self._df.agg(expr.alias("min"))

    def _min(self, col: Optional[str] = None):
        return _first(self.min_df(col))

    min, min_async = _terminal(_min)

    # Count — aggregate.go:175-186
    def count_df(self) -> DataFrame:
        return self._df.agg(F.count(F.lit(1)).alias("count"))

    def _count(self):
        return self._df.count

    count, count_async = _terminal(_count)

    # Sort / SortDesc — aggregate.go:201-244: collect-all sorted.
    # At scale use sorted_df (distributed total sort, range-partitioned).
    def sorted_df(self, col: Optional[str] = None, desc: bool = False) -> DataFrame:
        c = col or self._value_col()
        return self._df.orderBy(F.col(c).desc() if desc else F.col(c).asc())

    def _sort(self, col: Optional[str] = None):
        c = col or self._value_col()
        return _column(self.sorted_df(c).select(c))

    sort, sort_async = _terminal(_sort)

    def _sort_desc(self, col: Optional[str] = None):
        c = col or self._value_col()
        return _column(self.sorted_df(c, desc=True).select(c))

    sort_desc, sort_desc_async = _terminal(_sort_desc)

    # GroupBy — aggregate.go:257-276: key fn over full elements
    def group_by(self, key_fn: Any = None, return_type: Optional[T.DataType] = None) -> "GroupedStage":
        if key_fn is None:
            # (key, value) stage — group on the existing key column
            key = F.col(KEY)
        else:
            key = _columnize(key_fn, F.col(self._value_col()), return_type, False)
        return GroupedStage(self, key)

    def group_by_async(self, key_fn: Any, return_type: Optional[T.DataType] = None) -> PippinFuture:
        """Future of ``group_by(key_fn, return_type).to_dict()``."""
        return self._act(self.group_by(key_fn, return_type)._to_dict(), blocking=False)

    # Reduce — aggregate.go:292-303. Contract: fn associative+commutative
    # (SURVEY.md §1.4). Column-pair fns lower to a native two-level
    # aggregate (_native_reduce_df: per-partition fold, then fold of ≤P
    # partials); generic python fns use RDD treeReduce (distributed,
    # log-depth).
    def reduce_df(self, fn: Callable[[Column, Column], Column]) -> DataFrame:
        """Lazy 1-row DataFrame form of reduce() for Column-pair fns."""
        return _native_reduce_df(self._df, self._value_col(), fn)

    def _reduce(self, fn: Callable[[Any, Any], Any]):
        c = self._value_col()
        try:
            native = isinstance(fn(F.col(c), F.col(c)), Column)
        except Exception:
            native = False
        if native:
            return _first(self.reduce_df(fn))
        rdd = self._df.select(c).rdd.map(lambda r: r[0])
        return lambda: rdd.treeReduce(fn)

    reduce, reduce_async = _terminal(_reduce)

    # AsSlice — aggregate.go:318-329 (unordered collect)
    def _as_slice(self, col: Optional[str] = None):
        return _column(self._df.select(col or self._value_col()))

    as_slice, as_slice_async = _terminal(_as_slice)

    def collect(self) -> list:
        return self._act(self._df.collect)

    def to_local_iterator(self):
        return self._df.toLocalIterator()

    # AsMap — aggregate.go:346-365. Reference is last-write-wins under
    # nondeterministic arrival → we define a deterministic policy
    # (SURVEY.md §7.3 #3): conflict='max'|'min'|'any'.
    def _pair_df(self, fn: Any) -> DataFrame:
        """Normalize to a (key, value) two-column DataFrame: apply the
        pair fn if given; else accept a (key,value) stage (FromMap,
        types/types.go:7-10) or a struct{key,value} value column."""
        if fn is not None:
            pair = _columnize(fn, F.col(self._value_col()), None, False)
            return self._df.select(pair.alias("__p__")).select(
                F.col("__p__")[KEY].alias(KEY), F.col("__p__")[VALUE].alias(VALUE)
            )
        if KEY in self._df.columns and VALUE in self._df.columns:
            return self._df.select(KEY, VALUE)
        c = self._value_col()
        if isinstance(self._df.schema[c].dataType, T.StructType):
            return self._df.select(F.col(c)[KEY].alias(KEY), F.col(c)[VALUE].alias(VALUE))
        raise StageTypeError(
            "as_map/as_multi_map needs a pair fn, a (key,value) stage, or "
            "a struct{key,value} value column"
        )

    def as_map_df(self, fn: Any = None, conflict: str = "max") -> DataFrame:
        df = self._pair_df(fn)
        agg = {"max": F.max, "min": F.min, "any": F.first}[conflict](VALUE)
        return df.groupBy(KEY).agg(agg.alias(VALUE))

    def _as_map(self, fn: Any = None, conflict: str = "max"):
        return _dict(self.as_map_df(fn, conflict), VALUE)

    as_map, as_map_async = _terminal(_as_map)

    # AsMultiMap — aggregate.go:382-401
    def as_multi_map_df(self, fn: Any = None) -> DataFrame:
        df = self._pair_df(fn)
        return df.groupBy(KEY).agg(F.collect_list(VALUE).alias("values"))

    def _as_multi_map(self, fn: Any = None):
        return _dict(self.as_multi_map_df(fn), "values")

    as_multi_map, as_multi_map_async = _terminal(_as_multi_map)

    # ForEach — aggregate.go:414-431: executor-side side effect; use
    # for_each_driver for driver-side callbacks (toLocalIterator).
    def _for_each(self, fn: Callable[[Any], None]):
        df = self._df.select(self._value_col())
        return lambda: df.foreach(lambda row: fn(row[0]))

    for_each, for_each_async = _terminal(_for_each)

    def for_each_driver(self, fn: Callable[[Any], None]) -> None:
        df = self._df.select(self._value_col())

        def run() -> None:
            for row in df.toLocalIterator():
                fn(row[0])

        self._act(run)

    # Distinct — aggregate.go:449-470 ("result is in a random order")
    def distinct_df(self, col: Optional[str] = None) -> DataFrame:
        c = col or self._value_col()
        return self._df.select(c).distinct()

    def _distinct(self, col: Optional[str] = None):
        return _column(self.distinct_df(col))

    distinct, distinct_async = _terminal(_distinct)

    # DistinctCount — aggregate.go:486-508; approx twin is the documented
    # 100 TB fast path (HLL sketch, no full shuffle of the key space).
    def distinct_count_df(self, col: Optional[str] = None) -> DataFrame:
        c = col or self._value_col()
        return self._df.agg(F.count_distinct(F.col(c)).alias("distinct_count"))

    def _distinct_count(self, col: Optional[str] = None):
        return _first(self.distinct_count_df(col))

    distinct_count, distinct_count_async = _terminal(_distinct_count)

    def approx_distinct_count_df(self, col: Optional[str] = None, rsd: float = 0.05) -> DataFrame:
        c = col or self._value_col()
        return self._df.agg(F.approx_count_distinct(F.col(c), rsd).alias("approx_distinct_count"))

    def approx_distinct_count(self, col: Optional[str] = None, rsd: float = 0.05) -> int:
        return self._act(_first(self.approx_distinct_count_df(col, rsd)))

    # -- file sinks (engine extension — the reference's only terminal
    # outputs are in-memory collections, aggregate.go; a 100 TB result
    # lands in files, so sinks are terminal actions under the same
    # control plane: job group, timeout, status) ----------------------
    def to_parquet(
        self,
        path: str,
        mode: str = "overwrite",
        partition_by: Optional[Iterable[str]] = None,
    ) -> None:
        """Write the stage to parquet. ``partition_by`` columns become
        hive-style directory partitions — pick low-cardinality keys
        (date, category), never ids, or the file count explodes."""
        writer = self._df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        self._act(lambda: writer.parquet(path))

    def to_csv(self, path: str, mode: str = "overwrite", header: bool = True, **options: Any) -> None:
        writer = self._df.write.mode(mode).options(header=str(header).lower(), **options)
        self._act(lambda: writer.csv(path))

    def to_json(self, path: str, mode: str = "overwrite", **options: Any) -> None:
        writer = self._df.write.mode(mode).options(**options)
        self._act(lambda: writer.json(path))

    # errors() — inspect this stage's quarantined inputs (extension)
    def errors(self) -> Optional[DataFrame]:
        return self.error_sink.df if self.error_sink is not None else None


# ---------------------------------------------------------------------------
# GroupedStage
# ---------------------------------------------------------------------------


class GroupedStage:
    """Lazy grouped view (GroupBy, aggregate.go:257-276).

    The reference materializes map[K][]In in driver memory; at 100 TB
    that is the one thing we must NOT do, so the grouped result stays a
    DataFrame (`df` property / agg()) and only to_dict() collects.
    """

    def __init__(self, stage: Stage, key: Column) -> None:
        self.stage = stage
        self._key = key
        c = stage._value_col()
        self._df = stage.df.select(key.alias(KEY), F.col(c).alias(VALUE))

    @property
    def df(self) -> DataFrame:
        """key → collect_list(value); deterministic via sort_array."""
        return self._df.groupBy(KEY).agg(F.sort_array(F.collect_list(VALUE)).alias("values"))

    def agg(self, *exprs: Column) -> DataFrame:
        """Scale path: aggregate inside groups without materializing
        lists (partial/map-side aggregation applies)."""
        return self._df.groupBy(KEY).agg(*exprs)

    def _to_dict(self) -> Callable[[], dict]:
        return _dict(self.df, "values")

    def to_dict(self) -> dict:
        """Reference result shape map[K][]In (driver-side; small data)."""
        return self.stage._act(self._to_dict())


# ---------------------------------------------------------------------------
# ErrorSink
# ---------------------------------------------------------------------------


class ErrorSink:
    """Quarantine for *WithError* transforms (SURVEY.md §7.3 #1).

    Holds the lazy DataFrame of failed input elements; at action time the
    pipeline flushes each sink with a registered callback by collecting
    up to ``limit`` error rows and invoking the callback per element —
    preserving the reference's ErrorFunc side-effect semantics
    (functions/function.go:27) without per-row driver calls on executors.
    """

    def __init__(self, df: DataFrame, callback: Optional[Callable[[Any], None]]) -> None:
        self.df = df
        self.callback = callback
        self._flushed = False

    def flush(self, limit: int) -> None:
        if self.callback is None or self._flushed:
            return
        self._flushed = True
        for row in self.df.limit(limit).collect():
            try:
                self.callback(row[0])
            except Exception:
                pass
