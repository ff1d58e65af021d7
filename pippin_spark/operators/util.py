"""Shared operator plumbing."""

from __future__ import annotations

import contextlib
import threading
from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def feature_bucket(col: Column, dim: int) -> Column:
    """Token -> feature bucket: first 8 md5 hex chars as an int mod
    dim. Matches `CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) %
    dim` in DuckDB (verified: 'the' -> 45 in both engines). Shared by
    the quality classifier's feature hashing and DSIR's importance
    buckets — both sides of the engine-parity contract use this exact
    form."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % dim


class CacheHandle:
    """Caller-visible lifecycle for operator-internal persists.

    Operators that must persist an intermediate read multiple times
    (set_similarity_join's sets table, decontaminate_winnow's
    fingerprint store) cannot unpersist it themselves — the returned
    plan still references it lazily. Without a handle the cache lives
    until LRU eviction or a blanket ``spark.catalog.clearCache()``;
    a long-running pipeline session passes a CacheHandle instead and
    releases each operator's caches deterministically after its
    terminal action:

        with CacheHandle() as caches:
            pairs = set_similarity_join(df, "id", "shingles",
                                        caches=caches)
            pairs.write.parquet(out)
        # exiting the block unpersists the operator's intermediates

    or imperatively: ``caches.release()``. Releasing is idempotent;
    registering after release raises (the operator's plan would read
    an unpersisted — silently recomputed — table, which is legal but
    almost certainly not what the caller intended)."""

    def __init__(self) -> None:
        self._dfs: List[DataFrame] = []
        self._paths: List[str] = []
        self._released = False

    def register(self, df: DataFrame) -> DataFrame:
        if self._released:
            raise ValueError("CacheHandle already released")
        self._dfs.append(df)
        return df

    def register_path(self, path: str) -> str:
        """Register an on-disk materialization (ranked_sort's
        ``barrier='table'`` parquet under scratch_dir) for deletion on
        release rather than with the scratch root — the disk analog of
        :meth:`register`. The caller must be done reading every plan
        that scans the path before releasing."""
        if self._released:
            raise ValueError("CacheHandle already released")
        self._paths.append(path)
        return path

    @property
    def registered(self) -> int:
        return len(self._dfs) + len(self._paths)

    def release(self, blocking: bool = True) -> None:
        """Unpersist every registered DataFrame and delete every
        registered path (idempotent)."""
        import shutil

        for df in self._dfs:
            df.unpersist(blocking=blocking)
        self._dfs.clear()
        for p in self._paths:
            shutil.rmtree(p, ignore_errors=True)
        self._paths.clear()
        self._released = True

    def __enter__(self) -> "CacheHandle":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


_SCRATCH_ROOTS: dict = {}
_SCRATCH_LOCK = threading.Lock()


def scratch_dir(spark, name: str) -> str:
    """``<root>/<name>``: the one place pippin puts the files it writes
    for itself (round-trip sinks, index caches, barriers, stream
    checkpoints). The path is not created; callers write into it.

    The root is made once per process, so concurrent processes never
    share a path. With ``spark.pippin.scratchDir`` set (a filesystem
    every executor and the driver see — HDFS/S3A/NFS on a cluster) it
    is a uniquely named directory under that path, which pippin never
    removes. Unset, it is one driver-local ``mkdtemp`` (correct only in
    local mode), removed when the interpreter exits."""
    import atexit
    import shutil
    import tempfile
    import uuid

    conf = spark.conf.get("spark.pippin.scratchDir", None)
    with _SCRATCH_LOCK:
        root = _SCRATCH_ROOTS.get(conf)
        if root is None:
            if conf:
                root = f"{conf.rstrip('/')}/pippin_{uuid.uuid4().hex}"
            else:
                root = tempfile.mkdtemp(prefix="pippin_")
                atexit.register(shutil.rmtree, root, True)
            _SCRATCH_ROOTS[conf] = root
    return f"{root}/{name}"


def _ddl_field_names(ddl: str) -> List[str]:
    """Field names of a DDL schema string, splitting only on
    top-level commas — commas nested in angle brackets
    (``array<struct<a int, b int>>``) or parentheses
    (``decimal(18,2)``, ``varchar(10)``) stay inside their field."""
    parts: List[str] = []
    buf: List[str] = []
    depth = 0
    for ch in ddl:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return [p.strip().split()[0].strip("`") for p in parts if p.strip()]


_ARROW_CONF_LOCK = threading.Lock()


@contextlib.contextmanager
def arrow_conversion(spark):
    """Session conf scoped to one Arrow ``createDataFrame`` call.

    The toggle mutates session-global state, so it is serialized under
    a process-wide lock: without it, two overlapping local_table calls
    could interleave save/restore and leave the conf permanently
    flipped, and an async action calling ``toPandas`` in the window
    would silently run with Arrow semantics it didn't opt into. The
    lock bounds the exposure to the (driver-side, milliseconds)
    conversion itself; concurrent JVM jobs are unaffected — the conf
    is only read by createDataFrame/toPandas entry points."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    with _ARROW_CONF_LOCK:
        conf = spark.conf
        try:
            prev = conf.get(key)
        except Exception:
            prev = None
        conf.set(key, "true")
        try:
            yield
        finally:
            if prev is None:
                conf.unset(key)
            else:
                conf.set(key, prev)


def sidecar_parquet_write(dir_path: str, table, mode: str = "overwrite") -> None:
    """Land a DRIVER-SIZED parquet artifact (index centroids/codebooks,
    pq_stats ledgers, persisted tokenizer merge tables) without a
    Spark job: each such table is by contract tiny, yet a
    ``local_table(...).write.parquet`` pays a full driver-scheduled
    job + commit protocol per write — measured 0.3-0.7 s each on this
    box (guide §1.2: don't spend jobs on driver-sized artifacts).
    ``table`` is a pyarrow Table (build it directly, or via
    ``df.toArrow()`` to preserve an exact Spark schema); pyarrow
    writes the same parquet bytes (float64/int/bool/utf8/list<double>
    round-trip exactly), and Spark reads the directory back with the
    identical schema.

    Crash contract matches the Spark writer's guarantees at this
    protocol's level: ``overwrite`` stages a fresh directory and swaps
    it in (a kill mid-swap leaves either the old or the new sidecar,
    or a loudly-missing directory — never a half-written file, since
    dotfile temps are invisible to the reader); ``append`` publishes
    one new file via an atomic same-dir rename."""
    import os
    import shutil
    import uuid

    import pyarrow.parquet as papq

    fname = f"part-{uuid.uuid4().hex}.parquet"
    if mode == "overwrite":
        tmp = f"{dir_path}.tmp-{uuid.uuid4().hex}"
        os.makedirs(tmp)
        papq.write_table(table, os.path.join(tmp, fname))
        old = f"{dir_path}.old-{uuid.uuid4().hex}"
        if os.path.isdir(dir_path):
            os.rename(dir_path, old)
            os.rename(tmp, dir_path)
            shutil.rmtree(old)
        else:
            os.rename(tmp, dir_path)
    elif mode == "append":
        os.makedirs(dir_path, exist_ok=True)
        tmp_f = os.path.join(dir_path, f".{fname}.tmp")
        papq.write_table(table, tmp_f)
        os.rename(tmp_f, os.path.join(dir_path, fname))
    else:
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")


def local_fs_path(path: str) -> Optional[str]:
    """``path`` on the local filesystem: ``path`` itself when it has no
    URI scheme, the decoded path of a ``file:`` URI (Spark's form for a
    local path), else None — ``hdfs:``, ``s3a:`` and the like resolve
    only through Spark's reader."""
    from urllib.parse import unquote, urlparse

    u = urlparse(path)
    if not u.scheme:
        return path
    if u.scheme == "file" and u.netloc in ("", "localhost"):
        return unquote(u.path)
    return None


def sidecar_parquet_read(dir_path: str):
    """Driver-side read of a driver-sized parquet sidecar directory —
    the read half of sidecar_parquet_write (guide §1.2: a KB-scale
    artifact should cost zero Spark jobs to read, exactly as it costs
    zero to write). Handles both layouts that exist in the wild:
    sidecar-written dirs (part-<uuid>.parquet) and Spark-written dirs
    (part-*.parquet + _SUCCESS; tests rewrite ledgers that way). Part
    files are concatenated in sorted-name order; every consumer either
    sorts rows by key or controls its own fold order. Values are
    bit-identical to a Spark read (float64/int64/bool/utf8/
    list<double> round-trip parquet exactly). Raises FileNotFoundError
    on a missing/empty dir — as loud as Spark's PATH_NOT_FOUND — and on
    a URI other than ``file:`` (local_fs_path)."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    local = local_fs_path(dir_path)
    files = sorted(glob.glob(os.path.join(local, "*.parquet"))) if local else []
    if not files:
        raise FileNotFoundError(f"no parquet files in sidecar {dir_path}")
    return pa.concat_tables([papq.read_table(f) for f in files], promote_options="default")


def sidecar_parquet_rows(dir_path: str) -> list:
    """sidecar_parquet_read as a list of plain dict rows (the shape
    ``DataFrame.collect()`` consumers index by column name)."""
    return sidecar_parquet_read(dir_path).to_pylist()


def sidecar_parquet_df(spark, dir_path: str) -> DataFrame:
    """A sidecar directory as a LocalRelation DataFrame: the
    driver-sized rows load via pyarrow (zero Spark jobs) and every
    downstream collect/broadcast/join treats them as a pure JVM local
    table. Values and schema are bit-identical to a parquet scan of
    the same dir (parquet → Arrow → LocalRelation preserves
    float64/int64/utf8/list<double> exactly)."""
    table = sidecar_parquet_read(dir_path)
    with arrow_conversion(spark):
        return spark.createDataFrame(table)


def local_table(spark, rows, schema: str, num_partitions: int = 1) -> DataFrame:
    """A driver-built table the JVM can scan WITHOUT a Python worker.

    ``spark.createDataFrame(list_of_tuples, ...)`` backs the result
    with a pickled Python RDD — every downstream materialization
    re-evaluates it through a Python worker round (measured ~3.7 s per
    scan for a 16-row centroid table on this box; a plan that scans
    the table twice, e.g. a pairwise-distance self-join, pays twice).
    Routing the same rows through a pandas DataFrame with Arrow
    serialization enabled hands the JVM ready-made Arrow batches:
    scans are pure JVM (~0.1 s), values are bit-identical (float64 /
    int64 / utf8 / list<double> round-trip exactly through Arrow).

    Every operator-internal driver-sized artifact (centroid tables,
    trained codebook query sets, sketch probe rows, 1-row results)
    should come through here. Defaults to ONE partition — these
    tables are by contract tiny, and k rows spread over
    defaultParallelism partitions turn any downstream self-join into
    a P²-task cartesian.

    ``schema`` is a DDL string (``"cell int, centroid
    array<double>"``) or a StructType. The Arrow conf is set for the
    call and restored, so a caller session that relies on non-Arrow
    ``createDataFrame``/``toPandas`` semantics is untouched."""
    import pandas as pd

    names = (
        _ddl_field_names(schema) if isinstance(schema, str) else list(schema.names)
    )
    rows = list(rows)
    data = {
        n: [r[i] for r in rows] for i, n in enumerate(names)
    }
    pdf = pd.DataFrame(data, columns=names)
    with arrow_conversion(spark):
        df = spark.createDataFrame(pdf, schema=schema)
    return df.coalesce(num_partitions) if num_partitions else df


def bounded_collect(df: DataFrame, max_rows: int) -> Optional[list]:
    """Every row of ``df`` when it holds at most ``max_rows``, else
    None — one collect of at most ``max_rows + 1`` rows, which stops
    scanning partitions once the guard is crossed. The probe behind
    driver-local shortcuts for small inputs and behind loud
    driver-sized contracts (query sets, anchor sets, diff buckets)."""
    rows = df.limit(max_rows + 1).collect()
    return rows if len(rows) <= max_rows else None


def unit_rows(M):
    """Row-normalize a 2-D float64 matrix with the shared zero-norm
    guard: zero-norm rows come back as ALL-ZERO rows, so any dot
    product against them is 0.0 — the numpy mirror of
    dedup.cosine_similarity's zero-norm → cosine 0 contract. One
    definition so the float-sensitive guard cannot drift between the
    Arrow scoring passes (_assign_cells, multi-probe, in-block
    embedding pairs)."""
    import numpy as np

    n = np.linalg.norm(M, axis=1)
    zero = n == 0.0
    n[zero] = 1.0
    Mn = M / n[:, None]
    if zero.any():
        Mn[zero] = 0.0
    return Mn


def ensure_parallelism(df: DataFrame, min_partitions: Optional[int] = None) -> DataFrame:
    """Repartition up to the cluster's default parallelism before a
    compute-heavy narrow stage. A small/compact parquet file arrives as
    ~1 scan split; shingling / hashing / Python-UDF-ing it on 1 core
    idles the rest of the cluster. No-op when the scan already has
    enough splits (the 100 TB case — there the input is thousands of
    splits and an extra shuffle of raw bytes would be pure cost)."""
    if df.isStreaming:
        # no .rdd on a stream; micro-batch partitioning comes from the
        # source (maxFilesPerTrigger / kafka partitions), and an
        # unconditional repartition would add a shuffle per micro-batch
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
