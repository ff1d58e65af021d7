"""Local mirror of the driver's t2 gate: run every declared query and
its DuckDB oracle on the same parquet, compare row-count + column names
+ order-insensitive values (exact for ints/strings, 1e-9 rel for
floats)."""

import math

import duckdb
import pytest

import __spark_entry__ as entry

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = float(f"{v:.9g}")
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


QUERY_NAMES = sorted(entry.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, sf_dir, ddb, name):
    q = entry.queries()[name]
    sdf = q(spark, sf_dir)
    spark_cols = list(sdf.columns)
    spark_rows = [tuple(r) for r in sdf.collect()]

    oracle = entry.oracle_sql().get(name)
    if oracle is None:
        assert len(spark_rows) >= 0  # rows-only check (driver's weak gate)
        return

    res = ddb.execute(oracle)
    ddb_cols = [d[0] for d in res.description]
    ddb_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(ddb_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(ddb_rows), f"{name}: row counts differ"

    a = normalize(spark_rows, spark_cols)
    b = normalize(ddb_rows, ddb_cols)
    mismatches = 0
    for ra, rb in zip(a, b):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if not math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9):
                    mismatches += 1
                    break
            elif va != vb:
                mismatches += 1
                break
    assert mismatches == 0, f"{name}: {mismatches}/{len(a)} rows differ; first spark={a[:2]} ddb={b[:2]}"


def test_all_query_outputs_are_driver_canonicalizable(spark, sf_dir):
    """The driver's correctness harness canonicalizes result rows with
    pandas sort_values over every column — array/map/struct cells are
    unhashable there and crash the gate (r5: the only driver-window
    failures were the four array-output embedding queries). Every
    declared query must therefore emit only atomic columns. Schema-only
    check: no execution."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = {}
    for name, fn in entry.queries().items():
        df = fn(spark, sf_dir)
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
    assert offenders == {}, f"non-atomic output columns: {offenders}"


def test_driver_row_priority_is_exhaustive():
    """Every registered query must be explicitly slotted in the
    driver-gate priority list (entry_queries._DRIVER_ROW_PRIORITY) so
    the rotation that decides which queries get hard CORRECTNESS rows
    is always a deliberate choice, never an accident of file order."""
    from pippin_spark.entry_queries import _DRIVER_ROW_PRIORITY, ENTRY_QUERIES

    listed = set(_DRIVER_ROW_PRIORITY)
    registered = set(ENTRY_QUERIES)
    assert registered - listed == set(), "unslotted queries"
    assert listed - registered == set(), "stale priority entries"
    assert len(_DRIVER_ROW_PRIORITY) == len(listed), "duplicate slots"


def test_bench_headline_selection_is_exhaustive(monkeypatch):
    """Every registered query must be either in bench.py's HEADLINE
    set or matched by a named exclusion rule (stream-rig-dominated /
    IO-API round-trip / build-once artifact / variant of a timed
    family representative) — adding a query without deciding its
    benchmark status must fail loudly (VERDICT r9 #7). A product-body
    override of a row the bench never times is dead code and must
    fail the same check."""
    import bench
    from pippin_spark.entry_queries import ENTRY_QUERIES

    bench.check_headline_coverage(ENTRY_QUERIES)
    # stray override: ann_topk_ivf is a HEADLINE_VARIANT_OF exclusion
    assert "ann_topk_ivf" in bench.HEADLINE_VARIANT_OF
    monkeypatch.setitem(
        bench.PRODUCT_BODY, "ann_topk_ivf", ENTRY_QUERIES["ann_topk_ivf"]
    )
    with pytest.raises(AssertionError, match="ann_topk_ivf"):
        bench.check_headline_coverage(ENTRY_QUERIES)
