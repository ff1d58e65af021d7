"""The prebuilt ANN probes' two paths on a cells-layout index: the
driver-local probe (pyarrow read of the probed cells, driver pruning,
JVM re-rank) and the Spark scan, which the byte guard selects."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as papq
import pytest
from pyspark.sql import functions as F

from pippin_spark.operators import similarity as S

DUP = 900_000  # ids of the appended copies of one indexed vector
NAN_ID = 900_100  # the appended vector holding a NaN (stored as null)
INF_ID = 900_101  # the appended vector holding an Inf (cosine NaN)
PARKED_ID = 777_777


@pytest.fixture(scope="module")
def rig(spark, sf_dir, tmp_path_factory):
    """A plain and a residual IVF-PQ index over the sf0.001 embeddings
    with int ids: 80 % written, then one append, left uncompacted (a
    second file per touched cell), of the rest plus 8 copies of vector 7
    (a tie across rank k for a query equal to it), a vector holding a
    NaN (the Arrow write stores it as a null element) and one holding an
    Inf.
    Queries: five indexed vectors, a zero vector and a copy of vector 7,
    all with int ids."""
    vid = F.col("vec_id")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        vid.cast("int").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    v7 = list(emb.filter(vid == 7).first()["embedding"])
    extra = spark.createDataFrame(
        [(DUP + i, v7) for i in range(8)]
        + [(NAN_ID, [float("nan")] + v7[1:]), (INF_ID, [float("inf")] + v7[1:])],
        "vec_id int, embedding array<double>",
    )
    paths = {}
    for residual in (False, True):
        path = str(tmp_path_factory.mktemp("probe") / "index")
        S.ann_index_write(
            emb.filter(vid % 10 < 8), "embedding", "vec_id", path,
            num_cells=8, train_iters=2, layout="cells", pq=(8, 16, 2),
            pq_residual=residual,
        )
        S.ann_index_append(
            spark, path, emb.filter(vid % 10 >= 8).unionByName(extra),
            "embedding", "vec_id",
        )
        paths[residual] = path
    q = [(r["vec_id"], list(r["embedding"])) for r in emb.filter(vid < 5).collect()]
    queries = spark.createDataFrame(
        q + [(-1, [0.0] * len(v7)), (-2, v7)], "vec_id int, embedding array<double>"
    )
    return paths, queries


PROBES = {
    "ivf": lambda spark, path, q: S.ivf_topk_prebuilt(
        spark, path, q, "embedding", "vec_id", k=5, nprobe=4
    ),
    "ivfpq": lambda spark, path, q: S.ivfpq_topk_prebuilt(
        spark, path, q, "embedding", "vec_id", k=5, nprobe=4
    ),
}


def _rows(df):
    nan = lambda x: "nan" if isinstance(x, float) and x != x else x  # noqa: E731
    return sorted((tuple(nan(x) for x in r) for r in df.collect()), key=repr)


def _local_calls(monkeypatch):
    """A list that grows by one per driver-local re-rank."""
    calls, real = [], S._local_rerank

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(S, "_local_rerank", spy)
    return calls


@pytest.mark.parametrize(
    "probe,residual", [("ivf", False), ("ivfpq", False), ("ivfpq", True)]
)
def test_local_probe_equals_spark_probe(spark, rig, monkeypatch, probe, residual):
    # equal rows and schema on both sides of the guard: several files per
    # cell, a zero-norm query, indexed NaN and Inf vectors, a tie across rank k,
    # int ids, and an empty query frame (which takes the Spark path)
    paths, queries = rig
    run = lambda q: PROBES[probe](spark, paths[residual], q)  # noqa: E731
    calls = _local_calls(monkeypatch)
    local, local_empty = run(queries), run(queries.filter(F.lit(False)))
    local_rows = _rows(local)
    assert len(calls) == 1
    monkeypatch.setattr(S, "_PROBE_LOCAL_MAX_BYTES", 0)
    dist, dist_empty = run(queries), run(queries.filter(F.lit(False)))
    assert len(calls) == 1
    assert local_rows == _rows(dist)
    assert local.schema == dist.schema
    assert local_empty.schema == dist_empty.schema and dist_empty.count() == 0
    # every query answered, with ranks 1..5; the query equal to vector 7
    # ranks its copies by id after the lowest id
    by_q = {}
    for r in local_rows:
        by_q.setdefault(r[0], []).append(r)
    assert sorted(by_q) == [-2, -1, 0, 1, 2, 3, 4]
    assert all(sorted(r[3] for r in v) == [1, 2, 3, 4, 5] for v in by_q.values())
    ties = [r[1] for r in sorted(by_q[-2], key=lambda r: r[3]) if r[2] == 1.0]
    assert len(ties) >= 4 and ties == [7, *range(DUP, DUP + 8)][: len(ties)]
    if probe == "ivf":
        # the Inf vector's NaN cosine ranks first wherever it is probed
        assert any(r[1] == INF_ID and r[3] == 1 and r[2] == "nan" for r in local_rows)
    assert local.schema["query_id"].dataType.simpleString() == (
        "int" if probe == "ivf" else "bigint"
    )


def test_local_probe_guard_counts_each_probing_query(spark, rig, monkeypatch):
    # the guard weighs each probed cell's bytes by the queries probing it:
    # under a cap the whole index fits, seven queries that each probe half
    # of the cells go to Spark, and one query stays on the driver
    paths, queries = rig
    monkeypatch.setattr(S, "_PROBE_LOCAL_MAX_BYTES", sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(f"{paths[False]}/assigned")
        for f in files if f[0] not in "._"
    ))
    calls = _local_calls(monkeypatch)
    for f in PROBES.values():
        f(spark, paths[False], queries)
    assert calls == []
    for f in PROBES.values():
        f(spark, paths[False], queries.limit(1))
    assert len(calls) == 2


@pytest.mark.parametrize("bad", ["null_id", "null_vector", "short_vector"])
def test_ivf_local_probe_steps_aside_for_malformed_queries(
    spark, rig, monkeypatch, bad
):
    # a null query id, a null vector or a vector of another length: the
    # IVF probe answers as the Spark path does, which the local path
    # leaves to it before building its query matrix
    paths, queries = rig
    v = list(queries.first()["embedding"])
    row = {"null_id": (None, v), "null_vector": (-3, None), "short_vector": (-4, v[1:])}
    q = queries.unionByName(spark.createDataFrame([row[bad]], queries.schema))
    calls = _local_calls(monkeypatch)
    local = _rows(PROBES["ivf"](spark, paths[False], q))
    assert calls == []
    monkeypatch.setattr(S, "_PROBE_LOCAL_MAX_BYTES", 0)
    assert local == _rows(PROBES["ivf"](spark, paths[False], q))
    assert {r[0] for r in local} >= {-2, -1, 0, 1, 2, 3, 4}


def _park(path, cv, codes_len):
    """A parked ``assigned_old/cell=N`` file for every cell, holding one
    row equal to ``cv``: a reader that took it would rank it first."""
    for cell in os.listdir(f"{path}/assigned"):
        if not cell.startswith("cell="):
            continue
        os.makedirs(f"{path}/assigned_old/{cell}")
        table = pa.table({
            "id": pa.array([PARKED_ID], pa.int32()),
            "cv": pa.array([cv], pa.list_(pa.float64())),
            "codes": pa.array([[0] * codes_len], pa.list_(pa.int32())),
            "qerr": pa.array([0.0]),
        })
        papq.write_table(table, f"{path}/assigned_old/{cell}/part-0.parquet")


def test_local_probe_fences_parks_and_uris(spark, rig, monkeypatch, tmp_path):
    paths, queries = rig
    path = str(tmp_path / "index")
    shutil.copytree(paths[False], path)
    calls = _local_calls(monkeypatch)
    clean = {p: _rows(f(spark, path, queries)) for p, f in PROBES.items()}
    assert len(calls) == 2
    # a parked directory is never read
    _park(path, list(queries.first()["embedding"]), 8)
    for p, f in PROBES.items():
        rows = _rows(f(spark, path, queries))
        assert rows == clean[p] and PARKED_ID not in {r[1] for r in rows}
    assert len(calls) == 4
    # a file: URI takes the Spark path, with the same rows
    for p, f in PROBES.items():
        assert _rows(f(spark, "file:" + path, queries)) == clean[p]
    assert len(calls) == 4
    # a crashed retrain's marker fences the local path as it does Spark's
    with open(f"{path}/retrain_inflight", "w") as fh:
        fh.write("crash\n")
    with pytest.raises(RuntimeError, match="retrain_inflight"):
        PROBES["ivfpq"](spark, path, queries)
    with pytest.raises(RuntimeError, match="retrain_inflight"):
        PROBES["ivfpq"](spark, "file:" + path, queries)
    assert len(calls) == 4
