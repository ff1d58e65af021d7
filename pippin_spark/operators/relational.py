"""Relational operators absent from the reference (SURVEY.md §2.5:
joins, windows, grouping sets, limits/top-k, set ops) — engine
extensions expressed with native Spark primitives only; every shape
here is shuffle-minimal and AQE-friendly at 100 TB.

Scale notes per operator are inline; nothing in this module uses a
row-at-a-time Python UDF (the one Python crossing,
cogroup_running_imbalance, is an Arrow-batched applyInPandas — the
API that op exists to demonstrate).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pippin_spark.operators.util import bounded_collect, local_table, scratch_dir

# Row bound under which exact_kth_2pass selects on one bounded collect
# (a few MB of scalars) instead of the two histogram passes; above it
# the limit-probe early-stops and the distributed 2-pass runs
# unchanged. Data-sized, never core-count-sized.
_KTH_LOCAL_MAX = 262_144


def top_k(
    df: DataFrame,
    k: int,
    order_by: Sequence[Column],
    partition_by: Optional[Sequence[Column]] = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k rows (global or per group) with a deterministic rank.

    Scale: the global path is two-phase — orderBy().limit(k) lowers to
    TakeOrderedAndProject (per-partition top-k heap, then a merge of
    only k·P rows; the full input is NEVER exchanged to one task), and
    the rank window runs over the surviving ≤k rows only. Per-group
    keeps the partitioned window (shuffle on the group key, AQE splits
    skew). Pass fully deterministic order_by (include a tie-break key)
    or ranks are unstable.
    """
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(*order_by)
        return (
            df.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k)
        )
    limited = df.orderBy(*order_by).limit(k)
    w = Window.orderBy(*order_by)
    return limited.withColumn(rank_col, F.row_number().over(w))


def _ranged_ided(df: DataFrame, order_by, num_partitions: Optional[int]):
    """Shared scaffold for the global-order decomposition (ranked_sort,
    skyline_2d): range partition + in-partition sort, with each row's
    (partition index, local offset) decoded arithmetically from
    monotonically_increasing_id (high bits ARE the task partition
    index). Returns (ranged, ided); per-partition aggregates taken off
    ``ranged`` via spark_partition_id() observe the SAME partition
    indexing as ``ided`` — see ranked_sort's docstring for why the
    explicit partition count and deterministic range sampling pin that
    down."""
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    ranged = df.repartitionByRange(num_partitions, *order_by)
    ided = (
        ranged.sortWithinPartitions(*order_by)
        .withColumn("__mid__", F.monotonically_increasing_id())
        .withColumn("__pid__", F.shiftrightunsigned(F.col("__mid__"), 33))
        .withColumn("__loc__", F.col("__mid__").bitwiseAND(F.lit((1 << 33) - 1)))
    )
    return ranged, ided


def _table_barrier(df: DataFrame, caches=None) -> DataFrame:
    """Materialize ``df`` to a parquet table and return a scan of
    it — an evaluation-stability barrier BY CONSTRUCTION: every
    downstream consumer reads the same committed files, so no cache
    eviction, AQE re-partitioning, or branch re-evaluation can ever
    observe different values. This is the multi-consumer/corpus-scale
    alternative to persist() (which is LRU-evictable; recompute after
    eviction is deterministic for ranked_sort's range shuffle — pinned
    by tests/test_relational_barrier.py — but 'deterministic recompute'
    is an argument, a written table is a guarantee).

    The table is a uniquely named directory under ``scratch_dir``, so
    the driver and every executor must see that root: on a cluster set
    ``spark.pippin.scratchDir`` to a shared filesystem (HDFS/S3A/NFS)
    path. It is registered on ``caches`` (a CacheHandle) when given
    and deleted on release; otherwise it goes with the scratch root."""
    import uuid

    path = scratch_dir(df.sparkSession, f"rank_barrier_{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(path)
    if caches is not None:
        caches.register_path(path)
    return df.sparkSession.read.parquet(path)


def ranked_sort(
    df: DataFrame,
    order_by: Sequence[Column],
    rank_col: str = "rank",
    num_partitions: Optional[int] = None,
    barrier: str = "persist",
    caches=None,
) -> DataFrame:
    """Totally-ordered global rank WITHOUT a single-partition window.

    ``Window.orderBy(...)`` + row_number is an Exchange SinglePartition
    of the ENTIRE input through one task — a scale-killer. Instead:

    1. ``repartitionByRange`` + ``sortWithinPartitions`` gives a total
       order across partitions (each partition holds a contiguous key
       range, sorted inside).
    2. ``monotonically_increasing_id()`` above the sort encodes
       (partition-index, local-row-number) arithmetically:
       id = pid·2^33 + local index, assigned in iterator (= sorted)
       order. No window, no extra shuffle.
    3. Per-partition counts (the range exchange is reused by AQE) feed a
       tiny ≤P-row cumulative window → each partition's global offset.
    4. Broadcast-join offsets back: rank = offset + local index + 1.

    The full data crosses the wire once (the range shuffle); only ≤P
    count rows ever pass through a single task. order_by must be fully
    deterministic (include a tie-break key).

    Correctness of step 3 requires both consumers of the range exchange
    to observe the SAME partition indexing. Two things pin that down:
    - the partition count is passed EXPLICITLY, so AQE treats the
      exchange as user-specified and never coalesces/rebalances the
      shuffle read differently per consumer (an optimized
      no-argument repartitionByRange is fair game for AQE);
    - range boundaries come from RangePartitioner's deterministic
      per-partition-seeded sampling, so even if exchange reuse is
      disabled and the two branches re-evaluate the shuffle, they
      compute identical boundaries over the same input.
    tests/test_plans.py asserts the exchange is in fact reused
    (one ReusedExchange, no AQEShuffleRead between the branches).

    CONSUMER CONTRACT (round-8 finding, round-9 hardening): with the
    default ``barrier='persist'``, treat the returned frame as
    single-consumer, or make sure every consumer is a same-shape
    projection the planner dedupes via ReusedExchange (the
    sorted_neighborhood self-join is the verified-stable example). A
    STRUCTURALLY DIFFERENT second consumer — e.g. an aggregate taking
    per-group MIN(rank) next to a row-level branch — can re-evaluate
    the rank subtree, and monotonically_increasing_id may then assign
    different per-partition offsets between the branches (observed at
    sf0.1 as per-group constant rank shifts; the pre-r8 exchange-reuse
    shape did NOT pin it under AQE cached-plan re-partitioning). For
    multi-consumer or eviction-exposed callers, pass
    ``barrier='table'``: the id'd frame is written to a parquet table
    under ``scratch_dir`` and every branch scans the SAME committed
    files — evaluation-stable by construction, no persist()/recompute
    assumption at all (this is also the 100 TB shape: a corpus-sized
    cache WILL evict, a written table cannot). Recompute determinism
    of the default path (explicit partition count + deterministic
    range sampling ⇒ identical ranks on full re-evaluation after
    unpersist) is pinned by tests/test_relational_barrier.py.

    barrier: 'persist' (default — MEMORY_AND_DISK cache of the id'd
        frame), 'table' (parquet materialization, see above), or
        'checkpoint' (eager localCheckpoint: executor-block-backed,
        lineage truncated; lost blocks FAIL the job rather than
        silently recompute).
    caches: optional CacheHandle. With 'persist' the internal cache is
        registered for deterministic release after the caller's
        terminal action (otherwise it lives until LRU eviction /
        clearCache — heavy callers invoked repeatedly in one session
        each leak one full-input materialization). With 'table' the
        barrier directory under ``scratch_dir`` is registered for
        deletion on release; without a handle it lives as long as the
        scratch root (until interpreter exit, or for good under
        ``spark.pippin.scratchDir``).
    """
    ranged, ided = _ranged_ided(df, order_by, num_partitions)
    # The counts branch MUST observe the exact same partition indexing
    # as the mids in ``ided``. The original shape hung counts off the
    # PRE-sort exchange via spark_partition_id and relied on exchange
    # reuse — which held in the standalone plan (ReusedExchange-gated)
    # but DESYNCED when ranked_sort was embedded under a further
    # exchange (round-8 finding: pack_stream_offsets compositions at
    # sf0.1 produced block-shifted ranks — the two branches evaluated
    # the range shuffle with different partition indexing). Persisting
    # ``ided`` removes the assumption entirely: the mids materialize
    # ONCE, and the offsets are derived from the very same cached
    # values they will be joined back to. The cache is the thin
    # (input-cols + mid) frame — ranked_sort callers pass projected
    # frames; same lifecycle as pack_stream_offsets' internal persist
    # (LRU-evicted, released on session clearCache, or released
    # deterministically via the ``caches`` handle).
    if barrier == "table":
        ided = _table_barrier(ided, caches)
    elif barrier == "checkpoint":
        ided = ided.localCheckpoint(eager=True)
    elif barrier == "persist":
        ided = ided.persist()
        if caches is not None:
            caches.register(ided)
    else:
        raise ValueError(
            f"ranked_sort barrier must be 'persist', 'table' or "
            f"'checkpoint', got {barrier!r}"
        )
    counts = ided.groupBy("__pid__").agg(F.count(F.lit(1)).alias("__n__"))
    w = Window.orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off__", F.coalesce(F.sum("__n__").over(w), F.lit(0))
    ).select("__pid__", "__off__")
    return (
        ided.join(F.broadcast(offsets), "__pid__")
        .withColumn(rank_col, F.col("__off__") + F.col("__loc__") + 1)
        .drop("__mid__", "__pid__", "__loc__", "__off__")
    )


def rollup_agg(df: DataFrame, group_cols: Sequence[str], *aggs: Column) -> DataFrame:
    """GROUP BY ROLLUP with grouping-id to disambiguate NULL group rows
    (the reference has no grouping sets at all — SURVEY §2.5)."""
    return (
        df.rollup(*group_cols)
        .agg(F.grouping_id().alias("grouping_id"), *aggs)
    )


def cube_agg(df: DataFrame, group_cols: Sequence[str], *aggs: Column) -> DataFrame:
    return df.cube(*group_cols).agg(F.grouping_id().alias("grouping_id"), *aggs)


def grouping_sets_agg(
    df: DataFrame,
    sets: Sequence[Sequence[str]],
    group_cols: Sequence[str],
    *aggs: Column,
) -> DataFrame:
    """Explicit GROUP BY GROUPING SETS (rollup/cube are the special
    cases). Catalyst expands the sets with a single Expand node above
    the scan, so the input is read once and each row is replicated only
    |sets| times before the partial aggregate — same two-level shape as
    a plain groupBy at scale."""
    return df.groupingSets(
        [[F.col(c) for c in s] for s in sets], *[F.col(c) for c in group_cols]
    ).agg(F.grouping_id().alias("grouping_id"), *aggs)


def pivot_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    pivot_col: str,
    values: Sequence[str],
    agg: Column,
) -> DataFrame:
    """Pivot with an explicit value list. Passing ``values`` matters at
    scale: without it Spark first runs a distinct() job over the pivot
    column (an extra full scan + shuffle) just to discover the columns.
    With the list, this lowers to one partial-aggregated groupBy whose
    output schema is fixed at plan time."""
    return df.groupBy(*group_cols).pivot(pivot_col, list(values)).agg(agg)


def range_frame_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_numeric: Column,
    frame: tuple,
    *aggs,
) -> DataFrame:
    """Aggregates over a RANGE frame (value-based window: "all rows
    within X of the current row's sort key" — e.g. a 30-day moving
    average). ``order_numeric`` must be numeric (epoch seconds / days)
    so the frame bounds are exact; ``aggs`` are (Column-fn, out-name)
    pairs applied over the frame. One shuffle on partition_by; the
    running frame is evaluated in a single sorted pass per partition."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(order_numeric)
        .rangeBetween(frame[0], frame[1])
    )
    out = df
    for fn, name in aggs:
        out = out.withColumn(name, fn.over(w))
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: Optional[Sequence[str]] = None,
    direction: str = "backward",
    tolerance: Optional[int] = None,
    right_tie: Optional[Sequence[str]] = None,
) -> DataFrame:
    """As-of join (most-recent right row at or before each left row) —
    an operator Spark lacks natively; reference lacks joins entirely.

    ``tolerance`` (same units as the ts columns) nulls a carried right
    value when the row that VALUE came from is further than that from
    the left row. Because this operator's base semantics are
    carry-forward of the latest non-null value (last ignorenulls, per
    column), the staleness check binds each value to its own source
    timestamp via a (t, v) struct — not to the timestamp of the
    as-of row, which may hold NULL for that column. Same
    single-shuffle plan, no extra pass.

    ``right_tie`` makes equal-timestamp right rows deterministic (the
    window otherwise orders only by time, so the carried value among
    ties is partitioning-dependent): forward matches take the MINIMAL
    tie key at the matched timestamp, backward matches the MAXIMAL
    (the latest-written row wins). Same columns its bucketed twin
    already accepts.

    Spark-first implementation (no UDF, single shuffle): tag and union
    both sides, hash-partition by key, sort by time within partition,
    then carry the latest right values forward with last_value(...,
    ignoreNulls) over an unbounded-preceding window. Scale: one shuffle
    on the key; the window runs within partitions. direction='forward'
    mirrors with first_value over the following frame.

    Skew bound: unlike joins, a WINDOW partition cannot be split by
    AQE — every row of a key passes through one task, so per-key volume
    is the task-size bound. One celebrity key (a null-ish default id, a
    bot account) stalls the stage at 100× scale. When per-key volume is
    unbounded, use ``asof_join_bucketed`` — identical results, carry
    sub-keyed by a time bucket so a hot key spreads over
    keyspan/bucket_width tasks.
    """
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, right_ts)]
    lcols = [c for c in left.columns]

    from pyspark.sql import types as _T

    if tolerance is None:
        carried_type = {c: right.schema[c].dataType for c in right_cols}
        carried_src = {c: F.col(c) for c in right_cols}
    else:
        # each value is carried WITH its own timestamp as one struct,
        # null when the value is null — so last(ignorenulls) skips
        # null-value rows entirely and the staleness check applies to
        # the timestamp of the value actually returned (a separate
        # match-timestamp column would let an in-band NULL-valued row
        # vouch for an arbitrarily stale older value)
        ts_type = right.schema[right_ts].dataType
        carried_type = {
            c: _T.StructType(
                [
                    _T.StructField("t", ts_type),
                    _T.StructField("v", right.schema[c].dataType),
                ]
            )
            for c in right_cols
        }
        carried_src = {
            c: F.when(
                F.col(c).isNotNull(),
                F.struct(F.col(right_ts).alias("t"), F.col(c).alias("v")),
            )
            for c in right_cols
        }

    ties = list(right_tie or [])
    tagged_left = left.select(
        F.col(on).alias("__k__"),
        F.col(left_ts).alias("__t__"),
        F.lit(1).alias("__is_left__"),
        *[F.col(c) for c in lcols if c != on],
        *[F.lit(None).cast(carried_type[c]).alias(f"__r_{c}") for c in right_cols],
        *[
            F.lit(None).cast(right.schema[tc].dataType).alias(f"__tie_{i}__")
            for i, tc in enumerate(ties)
        ],
    )
    tagged_right = right.select(
        F.col(on).alias("__k__"),
        F.col(right_ts).alias("__t__"),
        F.lit(0).alias("__is_left__"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c != on],
        *[carried_src[c].alias(f"__r_{c}") for c in right_cols],
        *[F.col(tc).alias(f"__tie_{i}__") for i, tc in enumerate(ties)],
    )
    unioned = tagged_left.unionByName(tagged_right)
    tie_order = [F.col(f"__tie_{i}__").asc() for i in range(len(ties))]
    if direction == "backward":
        # right rows sort before left rows at equal ts → "at or before";
        # last() among equal-(ts) right rows then takes the MAX tie key
        w = (
            Window.partitionBy("__k__")
            .orderBy(F.col("__t__").asc(), F.col("__is_left__").asc(), *tie_order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = [
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__c_{c}")
            for c in right_cols
        ]
    else:
        w = (
            Window.partitionBy("__k__")
            .orderBy(F.col("__t__").asc(), F.col("__is_left__").desc(), *tie_order)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        carried = [
            F.first(f"__r_{c}", ignorenulls=True).over(w).alias(f"__c_{c}")
            for c in right_cols
        ]
    out = unioned.select("*", *carried).filter(F.col("__is_left__") == 1)

    def value_of(c):
        if tolerance is None:
            return F.col(f"__c_{c}")
        carried_t = F.col(f"__c_{c}").getField("t")
        if direction == "backward":
            in_band = F.col("__t__") - carried_t <= F.lit(tolerance)
        else:
            in_band = carried_t - F.col("__t__") <= F.lit(tolerance)
        return F.when(in_band, F.col(f"__c_{c}").getField("v"))

    return out.select(
        F.col("__k__").alias(on),
        F.col("__t__").alias(left_ts),
        *[F.col(c) for c in lcols if c not in (on, left_ts)],
        *[value_of(c).alias(c) for c in right_cols],
    )


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: Optional[Sequence[str]] = None,
    bucket_width: int = 3600,
    right_tie: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Backward as-of join with a bounded per-task volume (the
    skew-safe twin of ``asof_join``).

    ``asof_join`` windows by key alone; AQE cannot split a window
    partition, so a hot key is a single-task stall. Here the
    carry-forward is sub-keyed by ``floor(ts / bucket_width)``:

    1. Window over (key, bucket) carries the latest right value WITHIN
       each bucket — per-task volume is one key-bucket, not one key.
    2. Each bucket's FINAL right value is a per-(key, bucket) aggregate
       (argmax by (ts, tie)); carrying those forward across buckets is
       a window over #buckets-per-key rows — e.g. a key with 10^9
       events over a month at 1h buckets is a 720-row partition —
       never over events.
    3. The cross-bucket "incoming" value broadcast-joins back on
       (key, bucket); result = coalesce(within-bucket carry, incoming).

    Identical output to ``asof_join(..., direction='backward')`` for
    any bucket_width (asserted by the parity suite with a hot key).
    ``right_tie``: extra right-side order columns that break equal-ts
    ties deterministically (same caveat as asof_join's sort)."""
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, right_ts)]
    lcols = [c for c in left.columns]
    ties = list(right_tie or [])
    bkt = lambda t: F.floor(F.col(t) / F.lit(int(bucket_width)))  # noqa: E731

    tagged_left = left.select(
        F.col(on).alias("__k__"),
        F.col(left_ts).alias("__t__"),
        F.lit(1).alias("__is_left__"),
        *[F.col(c) for c in lcols if c != on],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_cols],
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__rt_{i}")
            for i, c in enumerate(ties)
        ],
    )
    tagged_right = right.select(
        F.col(on).alias("__k__"),
        F.col(right_ts).alias("__t__"),
        F.lit(0).alias("__is_left__"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c != on],
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
        *[F.col(c).alias(f"__rt_{i}") for i, c in enumerate(ties)],
    )
    unioned = tagged_left.unionByName(tagged_right).withColumn("__bkt__", bkt("__t__"))

    # 1. within-bucket carry: the only window that sees event volume,
    # partitioned by (key, bucket) so hot keys spread across tasks.
    # The tie columns participate in the SAME order here as in the
    # bucket-final argmax below — equal-ts right rows resolve
    # identically within and across buckets (left rows carry NULL ties,
    # ordered among themselves by nothing extra, which is fine: only
    # right rows feed the ignorenulls carry).
    tie_order = [F.col(f"__rt_{i}").asc_nulls_first() for i in range(len(ties))]
    w_in = (
        Window.partitionBy("__k__", "__bkt__")
        .orderBy(F.col("__t__").asc(), F.col("__is_left__").asc(), *tie_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = unioned.select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w_in).alias(f"__in_{c}")
            for c in right_cols
        ],
    )

    # 2. bucket-final right values: PER-COLUMN argmax by (ts, tie) per
    # (key, bucket), restricted to rows where that column is non-null
    # (max_by skips null-ordering rows) — a whole-row argmax would
    # propagate a NULL held by the bucket's latest row across buckets,
    # where asof_join's ignorenulls carry would have kept the earlier
    # value. Hash aggregate with map-side partials, skew-immune.
    ord_struct = F.struct(
        F.col("__t__"), *[F.col(f"__rt_{i}") for i in range(len(ties))]
    )
    finals = (
        tagged_right.withColumn("__bkt__", bkt("__t__"))
        .groupBy("__k__", "__bkt__")
        .agg(
            *[
                F.max_by(
                    F.col(f"__r_{c}"),
                    F.when(F.col(f"__r_{c}").isNotNull(), ord_struct),
                ).alias(f"__fin_{c}")
                for c in right_cols
            ]
        )
    )
    # the carry axis must cover every bucket seen on EITHER side — a
    # left bucket with no right rows still needs the incoming value
    # from earlier buckets (finals alone would leave it NULL)
    axis = unioned.select("__k__", "__bkt__").distinct()
    per_bucket = axis.join(finals, ["__k__", "__bkt__"], "left")
    # carry bucket-finals across buckets: partition volume = buckets
    # per key, bounded by time span / bucket_width regardless of skew
    w_x = (
        Window.partitionBy("__k__")
        .orderBy(F.col("__bkt__").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    incoming = per_bucket.select(
        "__k__",
        "__bkt__",
        *[
            F.last(F.col(f"__fin_{c}"), ignorenulls=True).over(w_x).alias(f"__inc_{c}")
            for c in right_cols
        ],
    )

    # 3. merge: tiny (#key × #bucket) side joins back; AQE broadcasts
    out = (
        within.filter(F.col("__is_left__") == 1)
        .join(incoming, ["__k__", "__bkt__"], "left")
        .select(
            F.col("__k__").alias(on),
            F.col("__t__").alias(left_ts),
            *[F.col(c) for c in lcols if c not in (on, left_ts)],
            *[
                F.coalesce(F.col(f"__in_{c}"), F.col(f"__inc_{c}")).alias(c)
                for c in right_cols
            ],
        )
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: Column,
    right_start: Column,
    right_end: Column,
    bucket_width: float,
    extra_on: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Point-in-interval range join without the O(n·m) nested loop.

    Bucketize: each left point maps to floor(p/w); each right interval
    explodes to every bucket it overlaps (sequence()), then an equi-join
    on bucket (+ optional keys) prunes candidates before the exact
    interval filter. Scale: shuffle is on (bucket, keys) — pick
    bucket_width near the median interval length so explode fan-out
    stays O(1) per interval.
    """
    lb = left.withColumn("__b__", F.floor(left_point / bucket_width))
    rb = right.withColumn(
        "__bs__",
        F.sequence(
            F.floor(right_start / bucket_width),
            F.floor(right_end / bucket_width),
        ),
    ).withColumn("__b__", F.explode("__bs__")).drop("__bs__")
    on = ["__b__"] + list(extra_on or [])
    joined = lb.join(rb, on=on, how="inner").drop("__b__")
    return joined.filter((left_point >= right_start) & (left_point <= right_end))


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: Column,
    gap: float,
    tie_break: Optional[Sequence[Column]] = None,
) -> DataFrame:
    """Assign session ids: a new session starts when the gap to the
    previous event of the same user exceeds ``gap`` (seconds-compatible
    numeric ts). Classic lag + cumulative-sum over one keyed window —
    single shuffle on user, no state kept on the driver.

    ``tie_break``: extra ordering columns appended after ``ts_col`` so
    rows with equal timestamps within a user order deterministically
    (without it, lag() over ties is plan-dependent and session counts
    drift between engines).

    Skew bound: AQE cannot split a window partition, so one hot user is
    one task — per-key volume is the bound (same caveat as asof_join).
    For unbounded per-key volume use ``sessionize_bucketed``: identical
    session numbering, carry split by time bucket."""
    order = [ts_col, *(tie_break or [])]
    w = Window.partitionBy(user_col).orderBy(*order)
    is_new = (
        (ts_col - F.lag(ts_col, 1).over(w) > gap)
        | F.lag(ts_col, 1).over(w).isNull()
    ).cast("long")
    return df.withColumn("session_seq", F.sum(is_new).over(w))


def sessionize_bucketed(
    df: DataFrame,
    user_col: str,
    ts_col: Column,
    gap: float,
    bucket_width: int,
    tie_break: Optional[Sequence[Column]] = None,
) -> DataFrame:
    """``sessionize`` with bounded per-task volume (the skew-safe twin,
    same pattern as asof_join_bucketed).

    Session numbering looks inherently sequential, but the only state a
    bucket needs from its past is (a) the previous bucket's LAST event
    time — to decide whether the bucket's first event opens a session —
    and (b) the running count of sessions opened before it. Both are
    per-(user, bucket) aggregates, so:

    1. Window over (user, bucket): within-bucket lag + new-session
       flags + running count — the only pass over event volume, hot
       users spread over span/bucket_width tasks.
    2. Per-bucket aggregate (last_ts, first_ts, n_new_within) feeds a
       window over the tiny bucket axis: previous bucket's last_ts →
       whether each bucket's first event is a session start; cumulative
       session offset per bucket.
    3. Broadcast-join offsets back: session_seq = bucket offset +
       first-event flag + within-bucket running count.

    Output equals ``sessionize`` row-for-row for any bucket_width
    (asserted by the parity suite with a hot key)."""
    order = [ts_col, *(tie_break or [])]
    bkt = F.floor(ts_col / F.lit(int(bucket_width)))
    base = df.withColumn("__bkt__", bkt)

    w_in = Window.partitionBy(user_col, "__bkt__").orderBy(*order)
    prev_in = F.lag(ts_col, 1).over(w_in)
    # new-session flag for non-first rows of the bucket; the first row
    # (prev_in NULL) is decided at the bucket level in step 2
    is_new_in = F.when(prev_in.isNull(), F.lit(0)).otherwise(
        (ts_col - prev_in > gap).cast("long")
    )
    flagged = base.select(
        "*",
        is_new_in.alias("__new_in__"),
        F.sum(is_new_in).over(
            Window.partitionBy(user_col, "__bkt__")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("__cum_in__"),
    )

    per_bucket = flagged.groupBy(user_col, "__bkt__").agg(
        F.max(ts_col).alias("__last_ts__"),
        F.min(ts_col).alias("__first_ts__"),
        F.sum("__new_in__").alias("__n_new__"),
    )
    w_prev = (
        Window.partitionBy(user_col)
        .orderBy(F.col("__bkt__").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # buckets exist only where rows exist, so the previous row on the
    # bucket axis IS the previous non-empty bucket
    decided = per_bucket.withColumn(
        "__prev_last__",
        F.lag("__last_ts__", 1).over(
            Window.partitionBy(user_col).orderBy(F.col("__bkt__").asc())
        ),
    ).withColumn(
        "__first_new__",
        (
            F.col("__prev_last__").isNull()
            | (F.col("__first_ts__") - F.col("__prev_last__") > gap)
        ).cast("long"),
    )
    offsets = decided.select(
        user_col,
        "__bkt__",
        "__first_new__",
        F.coalesce(
            F.sum(F.col("__n_new__") + F.col("__first_new__")).over(w_prev), F.lit(0)
        ).alias("__off__"),
    )

    out = flagged.join(offsets, [user_col, "__bkt__"]).withColumn(
        "session_seq",
        F.col("__off__") + F.col("__first_new__") + F.col("__cum_in__"),
    )
    return out.drop(
        "__bkt__", "__new_in__", "__cum_in__", "__first_new__", "__off__"
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-safe equi-join: identical results to ``left.join(right, on,
    how)`` but hot keys spread over ``salt`` tasks.

    A plain shuffle join sends ALL rows of a key to one task — one hot
    key (a null-ish default id, a celebrity user) stalls the stage at
    scale. Salting: the left side gets a deterministic salt in
    [0, salt) (hash of the whole left row, so rows of a hot key spread
    evenly); the right side is replicated ``salt`` times via a tiny
    exploded literal range; the join key becomes (key, salt) and every
    task sees ~1/salt of each hot key. Cost: right side × salt — use
    for fact⋈dim joins where the dim is too big to broadcast but ≪
    fact. AQE's skew-join split handles moderate skew on its own;
    salting is for the pathological keys AQE cannot split (a single
    key-group is unsplittable by definition).

    Supported ``how``: inner / left — semantics where replicating the
    right side is safe (each left row still matches each right row
    exactly once, since it carries exactly one salt value).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    lcols = [c for c in left.columns]
    salted_l = left.withColumn(
        "__salt__", F.pmod(F.xxhash64(*[F.col(c) for c in lcols]), F.lit(salt))
    )
    salted_r = right.withColumn(
        "__salt__", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<long>"))
    )
    return salted_l.join(salted_r, [on, "__salt__"], how).drop("__salt__")


def sliding_time_buckets(
    ts_col: Column, width_seconds: int, slide_seconds: int
) -> Column:
    """All sliding-window start times (epoch seconds) covering a
    timestamp — the batch analog of a sliding event-time window
    (explode the result and aggregate per start). An event belongs to
    width/slide windows; the fan-out is the constant width/slide, so
    data volume scales linearly. ``width % slide == 0`` required."""
    if width_seconds % slide_seconds != 0:
        raise ValueError("width_seconds must be a multiple of slide_seconds")
    last = (F.floor(ts_col / slide_seconds) * slide_seconds).cast("long")
    first = (last - width_seconds + slide_seconds).cast("long")
    return F.sequence(first, last, F.lit(slide_seconds))


def time_bucket(ts_col: Column, width_seconds: int) -> Column:
    """Tumbling-window bucket start (epoch seconds) — batch analog of a
    Structured Streaming window(); works on numeric epoch columns so it
    is exact and oracle-friendly."""
    return (F.floor(ts_col / width_seconds) * width_seconds).cast("long")


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """CDC merge: apply an upsert/delete changeset to a snapshot.

    ``changes`` carries the key columns, an ``op_col`` in
    ('upsert', 'delete'), and the full row payload for upserts. The
    result keeps every snapshot row whose key has NO change row, plus
    the upsert payloads — i.e. MERGE with WHEN MATCHED UPDATE/DELETE +
    WHEN NOT MATCHED INSERT semantics. Callers with multiple change
    rows per key must pre-dedupe deterministically (keep max version).

    Scale: one left-anti join on the key (broadcast when the changeset
    is small — the common CDC shape — else shuffle both sides once)
    plus a union; no wide transform touches the snapshot payload."""
    keys = list(key_cols)
    touched = changes.select(*keys).distinct()
    keep = snapshot.join(touched, on=keys, how="left_anti")
    ups = changes.filter(F.col(op_col) == "upsert").drop(op_col)
    return keep.unionByName(ups.select(*snapshot.columns))


def histogram(
    df: DataFrame,
    col: Column,
    bin_width: float,
    origin: float = 0.0,
) -> DataFrame:
    """Equal-width histogram: (bucket, n) with bucket = floor((x -
    origin) / width). Map-side partial groupBy — one shuffle of ≤#bins
    rows per task regardless of input size."""
    b = F.floor((col - F.lit(origin)) / F.lit(bin_width)).cast("long").alias("bucket")
    return df.select(b).groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    num_buckets: int = 8,
    path: Optional[str] = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) table on
    ``key``. Bucketing is THE co-location tool for repeated fact-fact
    joins at 100 TB: two tables bucketed on the join key into the same
    bucket count join with ZERO exchange on either side — the shuffle
    is paid once at write time, then amortized over every downstream
    join/aggregation on that key. (Spark bucketed writes require the
    table catalog — plain ``.parquet(path)`` cannot record bucket
    metadata; with ``path`` set the table is external, data stays at
    ``path``.)"""
    w = df.write.bucketBy(num_buckets, key).sortBy(key).mode(mode)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def co_located_join(
    spark,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
    how: str = "inner",
) -> DataFrame:
    """Join two tables previously written with :func:`write_bucketed`
    on their bucket keys. With matching bucket counts Spark plans a
    sort-merge join over the bucketed scans with no Exchange on either
    side (assert via .explain: no Exchange above the scans)."""
    l = spark.table(left_table)
    r = spark.table(right_table)
    return l.join(r, l[left_key] == r[right_key], how)


def scd2_intervals(
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    tie_break: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2: turn a change event stream
    (key, ts, attributes) into validity intervals — each row gains
    ``effective_to`` (the next change's ts for that key, NULL while
    current) and ``is_current``. One shuffle on the key; ``tie_break``
    columns disambiguate equal timestamps (the sessionize lesson:
    without a total order, lead() is nondeterministic).

    Skew bound: the lead() window partitions by key and AQE cannot
    split a window partition — per-key volume is the task bound. For a
    dimension table that is almost always fine (the partition holds one
    key's CHANGE HISTORY, not its fact rows); if a key can accumulate
    unbounded change events, apply the asof_join_bucketed pattern
    (per-bucket lead + cross-bucket first-ts carry) before this op."""
    order = [F.col(ts_col), *(tie_break or [])]
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(*order)
    return changes.withColumn("effective_to", F.lead(ts_col).over(w)).withColumn(
        "is_current", F.col("effective_to").isNull()
    )


def gap_fill_locf(
    df: DataFrame,
    group_col: str,
    bucket_col: str,
    value_col: str,
    step: int = 1,
) -> DataFrame:
    """Time-series gap filling: densify each group's bucket axis from
    its min to its max in ``step`` increments, then carry the last
    observed value forward (LOCF) into the generated gap rows
    (``filled``; NULL until the first observation).

    Scale shape: bounds are a tiny per-group aggregate; the dense axis
    is sequence+explode (rows ∝ time span, generated distributed — no
    driver loop, no cross join); the observation join and the LOCF
    window both key on the group — one shuffle total. The TimescaleDB
    time_bucket_gapfill/locf analog."""
    bounds = df.groupBy(group_col).agg(
        F.min(bucket_col).alias("__lo__"), F.max(bucket_col).alias("__hi__")
    )
    axis = bounds.select(
        group_col,
        F.explode(
            F.sequence(F.col("__lo__"), F.col("__hi__"), F.lit(step))
        ).alias(bucket_col),
    )
    obs = df.select(group_col, bucket_col, F.col(value_col).alias("__v__"))
    dense = axis.join(obs, [group_col, bucket_col], "left")
    w = (
        Window.partitionBy(group_col)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        group_col,
        bucket_col,
        F.col("__v__").alias(value_col),
        F.last("__v__", ignorenulls=True).over(w).alias("filled"),
    )


def key_skew_stats(df: DataFrame, key_col: str) -> DataFrame:
    """Shuffle-key skew diagnostic: the per-key row-count distribution
    (n_keys, max, mean, p50/p90/p99) that predicts whether a
    groupBy/join/window on ``key_col`` has a celebrity-key problem
    BEFORE burning a cluster run on it.

    Two-level: per-key counts partial-aggregate map-side (the only
    data-volume shuffle), then one exact-percentile pass over #keys
    rows — keys-bounded, not row-bounded."""
    counts = df.groupBy(F.col(key_col)).agg(F.count(F.lit(1)).alias("__n__"))
    n = F.col("__n__").cast("double")
    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("__n__").alias("max_rows"),
        F.round(F.avg(n), 6).alias("mean_rows"),
        F.round(F.percentile(n, F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(n, F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile(n, F.lit(0.99)), 6).alias("p99"),
    )


def zorder_key(c1: Column, c2: Column) -> Column:
    """Morton (Z-order) interleave of two 16-bit-truncated non-negative
    ints — the multi-dimensional clustering key behind data-skipping
    layouts: sorting/range-partitioning by z keeps rows close on BOTH
    dimensions, so parquet min/max stats prune 2-D predicates instead
    of only the leading sort column.

    Pure integer bit arithmetic (the binary-magic-numbers spread),
    codegen-friendly and bit-identical in any engine — no UDF."""

    def spread(x: Column) -> Column:
        x = x.cast("bigint").bitwiseAND(F.lit(0xFFFF))
        x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
        x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
        x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
        x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
        return x

    return spread(c1).bitwiseOR(F.shiftleft(spread(c2), 1))


def bloom_bitmap(keys: DataFrame, key_col: str, num_bits: int = 1 << 20,
                 num_hashes: int = 3) -> DataFrame:
    """Distributed bloom-filter build: ONE row holding the filter as a
    DENSE array<bigint> of num_bits/64 words.

    Spark injects runtime bloom filters itself only when the build side
    passes planner heuristics (`spark.sql.optimizer.runtime.bloomFilter.*`);
    this is the same pattern made explicit and composable, for the case
    where the dim-key set is too big to broadcast raw (100M keys = GBs)
    but its bitmap is tiny (2^20 bits = 128 KiB).

    Build is fully distributed: each key emits `num_hashes` bit
    positions (xxhash64 with distinct literal seeds), positions
    partial-aggregate map-side into words via bit_or, and only the
    ≤ num_bits/64 words reach the final single-row array — the driver
    never sees per-key data. The array is DENSE (a zero row per word
    index is unioned in before the bit_or) because the probe side does
    element_at per fact row: on an array that is O(1), while Spark's
    map element_at is a LINEAR scan of the map — the sparse-map form
    of this filter cost ~4.5 s on a 600k-row probe at sf0.1 vs ~0.5 s
    dense, and the gap widens with fact size.
    """
    assert num_bits % 64 == 0, "num_bits must be a multiple of 64"
    n_words = num_bits // 64
    pos_cols = [
        F.pmod(F.xxhash64(F.lit(i), F.col(key_col)), F.lit(num_bits))
        for i in range(num_hashes)
    ]
    zeros = keys.sparkSession.range(n_words).select(
        F.col("id").alias("__w__"), F.lit(0).cast("long").alias("__b__")
    )
    words = (
        keys.select(F.explode(F.array(*pos_cols)).alias("__pos__"))
        .select(
            F.expr("__pos__ div 64").alias("__w__"),
            # SQL shiftleft: the Python API's numBits must be a literal
            # int, the SQL form takes a column
            F.expr("shiftleft(1L, cast(__pos__ % 64 as int))").alias("__b__"),
        )
        .unionByName(zeros)
        .groupBy("__w__")
        .agg(F.bit_or("__b__").alias("__word__"))
    )
    return words.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__w__", "__word__"))),
            lambda s: s["__word__"],
        ).alias("__bloom__")
    )


def bloom_prefilter(fact: DataFrame, fact_key: str, bitmap: DataFrame,
                    num_bits: int = 1 << 20, num_hashes: int = 3) -> DataFrame:
    """Probe side of the explicit runtime filter: broadcast the one-row
    bitmap, keep only fact rows whose key hits ALL `num_hashes` bloom
    positions. Pure codegen expressions (O(1) array element_at + bit
    tests) — no UDF, no shuffle; false positives are fine because the
    caller follows with the exact join. At 100 TB this drops the
    unmatched bulk of the fact table BEFORE its shuffle."""
    probed = fact.crossJoin(F.broadcast(bitmap))
    pos_names = [f"__bp{i}__" for i in range(num_hashes)]
    probed = probed.withColumns(
        {
            n: F.pmod(F.xxhash64(F.lit(i), F.col(fact_key)), F.lit(num_bits))
            for i, n in enumerate(pos_names)
        }
    )
    cond = F.lit(True)
    for n in pos_names:
        # dense array is 1-based; word index always < num_bits/64 by
        # construction, so the ANSI in-range guarantee holds
        hit = F.expr(
            f"(shiftright(element_at(__bloom__, cast({n} div 64 as int) + 1),"
            f" cast({n} % 64 as int)) & 1) = 1"
        )
        cond = cond & hit
    return probed.filter(cond).drop("__bloom__", *pos_names)


def skyline_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """2-D skyline (Pareto front, minimize both): the distinct points
    not dominated by any other (x' <= x, y' <= y, strictly better in
    one). The multi-objective "cheapest AND smallest" selector.

    After sorting distinct points by (x, y), a point survives iff its
    y is strictly below the exclusive prefix minimum of y — but a
    global ordered window is an Exchange SinglePartition of the whole
    input. This uses the ranked_sort decomposition instead:

    1. range-partition + in-partition sort on (x, y) — a total order
       in contiguous partition ranges, data crosses the wire once;
    2. per-partition y-minimum (the range exchange is reused), and the
       exclusive running min across partitions on that <= P-row table
       (the only single-partition step);
    3. the in-partition exclusive prefix min via a window keyed by the
       partition index (hash shuffle of the point set — partitions are
       independent, AQE-splittable);
    4. survive iff y < least(prior-partition min, in-partition prefix
       min), nulls skipped by least().
    """
    pts = df.select(
        F.col(x_col).alias("x"), F.col(y_col).alias("y")
    ).distinct()
    ranged, ided = _ranged_ided(
        pts, [F.col("x").asc(), F.col("y").asc()], None
    )
    # the per-partition minimum is sort-insensitive, so it hangs off
    # the pre-sort range exchange like ranked_sort's counts branch
    pmins = ranged.groupBy(F.spark_partition_id().alias("__pid__")).agg(
        F.min("y").alias("__pmin__")
    )
    w = Window.orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
    prior = pmins.withColumn("__gmin__", F.min("__pmin__").over(w)).select(
        "__pid__", "__gmin__"
    )
    wl = (
        Window.partitionBy("__pid__")
        .orderBy("__loc__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ided.withColumn("__lmin__", F.min("y").over(wl))
    out = local.join(F.broadcast(prior), "__pid__").withColumn(
        "__before__", F.least("__gmin__", "__lmin__")
    )
    return out.filter(
        F.col("__before__").isNull() | (F.col("y") < F.col("__before__"))
    ).select(F.col("x").alias(x_col), F.col("y").alias(y_col))


def exact_kth_2pass(
    df: DataFrame,
    value_col: str,
    k: Optional[int] = None,
    bucket_width: int = 4096,
) -> DataFrame:
    """Exact k-th smallest of a BIGINT column (default: lower median)
    by two-pass histogram selection — the scale-correct exact global
    selection: a full sort funnels everything through one ordering,
    and SQL percentile() buffers whole groups in memory; this touches
    the data twice and moves almost nothing.

    Values must be non-negative: the bucket key uses truncating `div`
    (Spark has no integer floor-division), which mis-buckets negatives
    — shift the column first if needed.

    Pass 1 aggregates value-div-bucket_width counts (map-side partial,
    one shuffle of <= range/bucket_width rows); the driver walks the
    sorted histogram — bounded, bucket-count-sized, the same
    driver-residency budget as the k-means centroid table — to find
    the target bucket and the rank remaining inside it. Pass 2 filters
    to that one bucket (predicate pushed to the scan) and TakeOrdered
    selects the remainder rank; only bucket-sized data is ever
    ordered. Returns a 1-row (k, value) DataFrame.

    Below ``_KTH_LOCAL_MAX`` rows the selection runs on ONE bounded
    collect instead (the kmeans-probe pattern): the probe IS the data,
    the k-th of a sorted collected column is the identical exact
    integer, and the two histogram actions (4 AQE jobs each at bench
    scale) collapse to one job. Above the guard the probe early-stops
    and the 2-pass path runs unchanged — the guard is data-sized,
    never core-count-sized.
    """
    v = F.col(value_col)
    probe = bounded_collect(df.select(v.alias("__v__")), _KTH_LOCAL_MAX)
    if probe is not None:
        spark = df.sparkSession
        vt = df.schema[value_col].dataType.simpleString()
        if not probe:
            # empty input: same convention as the distributed branch
            return local_table(spark, [], f"k bigint, value {vt}")
        vals = sorted(r["__v__"] for r in probe)
        kk = (len(vals) + 1) // 2 if k is None else k
        if kk < 1:
            raise ValueError(f"k must be >= 1, got {kk}")
        if kk > len(vals):
            raise ValueError(f"k={kk} exceeds row count {len(vals)}")
        return local_table(spark, [(kk, vals[kk - 1])], f"k bigint, value {vt}")
    hist = (
        df.select(F.expr(f"{value_col} div {bucket_width}").alias("__b__"))
        .groupBy("__b__")
        .agg(F.count(F.lit(1)).alias("__n__"))
        .orderBy("__b__")
        .collect()
    )
    if not hist:
        # empty input: the k-th of an empty set is no row, not an
        # error — SQL consumers (the DSIR / classifier median gates)
        # join against this threshold, and an empty threshold keeps
        # nothing, matching their oracles' empty-CTE semantics
        return local_table(
            df.sparkSession,
            [],
            f"k bigint, value {df.schema[value_col].dataType.simpleString()}",
        )
    if k is None:
        # lower median; n comes free from the histogram — no extra scan
        n = sum(row["__n__"] for row in hist)
        k = (n + 1) // 2
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    seen = 0
    target = None
    for row in hist:
        if seen + row["__n__"] >= k:
            target = row["__b__"]
            break
        seen += row["__n__"]
    if target is None:
        raise ValueError(f"k={k} exceeds row count {seen}")
    rem = k - seen  # rank within the target bucket, 1-based
    in_bucket = df.filter(
        (v >= target * bucket_width) & (v < (target + 1) * bucket_width)
    )
    # pass 2 is ANOTHER histogram — per exact value this time
    # (<= bucket_width rows) — walked on the driver. Never a
    # TakeOrdered of rem rows: if the data is concentrated in one
    # bucket (all-equal values), rem ~ k and collecting rem rows
    # through one task would be the exact funnel this op exists to
    # avoid; the value histogram stays <= bucket_width rows no matter
    # how skewed the data is.
    vals = (
        in_bucket.groupBy(v.alias("__v__"))
        .agg(F.count(F.lit(1)).alias("__n__"))
        .orderBy("__v__")
        .collect()
    )
    # pass-2 total must equal pass-1's count for the bucket: rows LOST
    # to a nondeterministic re-evaluation would hit the exhaustion
    # error below, but rows GAINED would silently shift the selected
    # rank — fail loud on any drift in either direction
    expected = next(r["__n__"] for r in hist if r["__b__"] == target)
    actual = sum(r["__n__"] for r in vals)
    if actual != expected:
        raise RuntimeError(
            f"exact_kth_2pass: target bucket changed between passes "
            f"({expected} rows in pass 1, {actual} in pass 2) — the "
            f"input re-evaluated nondeterministically; persist it"
        )
    for row in vals:
        if rem <= row["__n__"]:
            kth_value = row["__v__"]
            break
        rem -= row["__n__"]
    else:
        raise RuntimeError(
            "exact_kth_2pass: target bucket lost rows between passes — "
            "the input re-evaluated nondeterministically; persist it"
        )
    spark = df.sparkSession
    return local_table(
        spark,
        [(k, kth_value)],
        f"k bigint, value {df.schema[value_col].dataType.simpleString()}",
    )


def cogroup_running_imbalance(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    tie_col: str,
    val_col: str,
    buckets: Optional[int] = None,
) -> DataFrame:
    """Per-key reconciliation of two event feeds via
    ``groupBy().cogroup().applyInPandas`` — the API for imperative
    per-key logic over TWO co-partitioned inputs (ledger-vs-ledger
    matching, replay divergence checks). Computes, per key, the
    maximum running imbalance: +value for the left feed, -value for
    the right, accumulated in (ts, tie) order.

    Scale: cogroup shuffles each side once on the grouping key (both
    sides hash-partitioned identically, then zipped into ONE Arrow
    batch pair per group); the pandas body is a vectorized
    concat/sort/groupby-cumsum. Values are integer cents so the cumsum
    is exact and order-stable cross-engine — a float running sum would
    be association-order-dependent (DuckDB's windowed SUM uses segment
    trees, Spark accumulates sequentially).

    Determinism contract: (ts_col, tie_col) must be unique per key
    WITHIN each feed — duplicate sort keys inside one feed arrive in
    shuffle order, which no sort can repair. When the same
    (key, ts, tie) appears in BOTH feeds, pandas' stable multi-key lexsort accumulates
    the left feed's row first (deterministic cross-feed tie-break).

    ``buckets``: with millions of small keys, a pandas invocation per
    key is overhead-bound (one Arrow frame pair + one Python call per
    key). Cogrouping on ``key % buckets`` instead amortizes ~|keys|/
    buckets keys per call while the pandas body handles per-key logic
    vectorized (groupby-cumsum) — the standard state-amortization
    trade: fewer, fatter groups. Per-key output is identical either
    way (4.1 s -> ~0.6 s on 10k keys at sf0.1).
    """
    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            # reuse the caller's key type — string account ids are the
            # canonical use case and must not be coerced to long
            T.StructField(key_col, left.schema[key_col].dataType),
            T.StructField("max_imbalance_cents", T.LongType()),
            T.StructField("n_left", T.LongType()),
            T.StructField("n_right", T.LongType()),
        ]
    )

    def reconcile(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        l2 = l[[key_col, ts_col, tie_col]].copy()
        l2["__s__"] = l[val_col]
        l2["__is_l__"] = 1
        r2 = r[[key_col, ts_col, tie_col]].copy()
        r2["__s__"] = -r[val_col]
        r2["__is_l__"] = 0
        # multi-key sort_values lowers to pandas' lexsort, which is
        # STABLE by construction (the `kind` parameter only applies to
        # single-column sorts) — so when the same (key, ts, tie)
        # appears in BOTH feeds, the concat order (left feed first) is
        # the deterministic tie-break; see the docstring contract
        both = pd.concat([l2, r2]).sort_values([key_col, ts_col, tie_col])
        both["__run__"] = both.groupby(key_col, dropna=False)["__s__"].cumsum()
        g = both.groupby(key_col, dropna=False)
        out = pd.DataFrame(
            {
                "max_imbalance_cents": g["__run__"].max().astype("int64"),
                "n_left": g["__is_l__"].sum().astype("int64"),
            }
        )
        out["n_right"] = (g.size() - out["n_left"]).astype("int64")
        return out.reset_index()[
            [key_col, "max_imbalance_cents", "n_left", "n_right"]
        ]

    if buckets:
        # hash, don't %: works for any key type and never negative
        bk = F.pmod(F.xxhash64(F.col(key_col)), F.lit(buckets))
        lb = left.withColumn("__bk__", bk)
        rb = right.withColumn("__bk__", bk)
        return (
            lb.groupBy("__bk__")
            .cogroup(rb.groupBy("__bk__"))
            .applyInPandas(reconcile, schema)
        )
    return (
        left.groupBy(key_col)
        .cogroup(right.groupBy(key_col))
        .applyInPandas(reconcile, schema)
    )


def qgram_edit_join(
    strings: DataFrame,
    col: str,
    max_dist: int = 2,
    q: int = 3,
) -> DataFrame:
    """Self similarity join under edit distance (Ed-Join family, Xiao
    et al.): all distinct string pairs with levenshtein <= max_dist,
    without the all-pairs quadratic.

    Candidate generation is q-gram PREFIX FILTERING: strings are
    padded with q-1 sentinel chars on each side (so even strings
    shorter than q carry >= q grams), each string keeps only its
    (q*max_dist + 1) globally-rarest grams (total order by corpus
    frequency, then gram), and candidates are pairs sharing at least
    one prefix gram. One edit operation disturbs at most q padded
    grams, so two strings within max_dist edits differ in at most
    q*max_dist grams — they MUST share a gram inside both rarest-
    (q*max_dist+1) prefixes under the same global order, PROVIDED at
    least one side carries more than q*max_dist grams (the pigeonhole
    needs a full-length prefix on one side; short-vs-long pairs are
    covered because the long side's prefix must hit the short side's
    complete gram set). Pairs where BOTH strings are short (len <=
    q*(max_dist-1)+1, i.e. gram count <= q*max_dist) get no guarantee
    and are joined all-pairs from the tiny short bucket instead.
    Completeness is property-tested against a brute-force join,
    including the empty-string and short-short boundary. A length
    filter (|len_a - len_b| <= max_dist) prunes before verification,
    and the exact levenshtein (JVM codegen) runs only on candidates.

    Scale shape: gram frequencies are one partial-agg pass; the only
    quadratic surface is the per-rare-gram bucket join (rare by
    construction — the prefix keeps each string's LEAST frequent
    grams, so hot grams never generate candidates); dedupe first —
    the join runs on distinct strings, expand back by joining output
    to your id table."""
    pad_l = "".join(chr(1) for _ in range(q - 1))
    pad_r = "".join(chr(2) for _ in range(q - 1))
    s = strings.select(F.col(col).alias("s")).distinct()
    padded = f"concat('{pad_l}', s, '{pad_r}')"
    grams = s.select(
        "s",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(1, length(s) + {q - 1}),"
                f" i -> substring({padded}, i, {q})))"
            )
        ).alias("g"),
    )
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("__f__"))
    w = Window.partitionBy("s").orderBy("__f__", "g")
    prefix = (
        grams.join(freq, "g")
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= q * max_dist + 1)
        .select("s", "g")
    )
    a = prefix.select(F.col("s").alias("s_a"), "g")
    b = prefix.select(F.col("s").alias("s_b"), "g")
    short_len = q * (max_dist - 1) + 1
    shorts = s.filter(F.length("s") <= short_len)
    # q=1 gram route for the short-short regime (the former
    # shorts×shorts crossJoin was quadratic in the short-string count
    # — fine on part names, a hot task on a 100× corpus of titles).
    # Completeness: two strings sharing NO character have edit
    # distance exactly max(len_a, len_b) (disjoint alphabets force a
    # substitution per aligned char plus indels for the length gap),
    # so a short pair within max_dist either (a) shares a character —
    # found by the distinct-char equi-join below; shorts carry their
    # FULL char set (<= short_len entries), so there is no
    # prefix-truncation gap to reason about — or (b) has both lengths
    # <= max_dist, the alphabet-bounded "ultra" bucket (|Σ|^max_dist
    # distinct strings at most) joined exhaustively under its length
    # condition. Hot chars bound each bucket by the short count for
    # that char, the same frequency-bounded join surface as the main
    # prefix path; the |Δlen| <= max_dist filter downstream prunes
    # before the dedup exchange either way.
    schars = shorts.select(
        "s",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, length(s)),"
                " i -> substring(s, i, 1)))"
            )
        ).alias("__c__"),
    )
    ultra = shorts.filter(F.length("s") <= max_dist)
    short_pairs = (
        schars.select(F.col("s").alias("s_a"), "__c__")
        .join(schars.select(F.col("s").alias("s_b"), "__c__"), "__c__")
        .filter(F.col("s_a") < F.col("s_b"))
        .select("s_a", "s_b")
        .unionByName(
            ultra.select(F.col("s").alias("s_a"))
            .join(
                ultra.select(F.col("s").alias("s_b")),
                F.col("s_a") < F.col("s_b"),
            )
            .select("s_a", "s_b")
        )
    )
    cand = (
        a.join(b, "g")
        .filter(F.col("s_a") < F.col("s_b"))
        .select("s_a", "s_b")
        .unionByName(short_pairs)
        # length filter BEFORE the dedup exchange: it is row-local and
        # discards cross-length gram collisions for free
        .filter(
            F.abs(F.length("s_a") - F.length("s_b")) <= max_dist
        )
        .distinct()
    )
    return cand.select(
        "s_a",
        "s_b",
        F.levenshtein("s_a", "s_b").alias("dist"),
    ).filter(F.col("dist") <= max_dist)
