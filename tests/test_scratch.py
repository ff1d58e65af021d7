"""One scratch root per process: every directory pippin writes for
itself comes from ``operators.util.scratch_dir``, is this process's
own, and is gone when the process exits (or stays, uniquely named,
under ``spark.pippin.scratchDir``)."""

import ast
import os
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_no_scratch_path_outside_the_helper():
    # a hard-coded /tmp path is shared by every process on the machine,
    # and a bare mkdtemp has no owner to remove it
    literal = re.compile(r"[\"']/tmp/")
    bad = []
    for p in sorted((ROOT / "pippin_spark").rglob("*.py")):
        rel = p.relative_to(ROOT / "pippin_spark").as_posix()
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if literal.search(line) or (
                "mkdtemp(" in line and rel != "operators/util.py"
            ):
                bad.append(f"{rel}:{i}: {line.strip()}")
    assert bad == []


def test_scratch_conf_roots_helper_and_table_barrier(spark, tmp_path):
    from pyspark.sql import functions as F

    from pippin_spark.operators.relational import ranked_sort
    from pippin_spark.operators.util import CacheHandle, scratch_dir

    key = "spark.pippin.scratchDir"
    spark.conf.set(key, str(tmp_path))
    try:
        path = scratch_dir(spark, "x")
        root = os.path.dirname(path)
        assert os.path.dirname(root) == str(tmp_path)
        assert os.path.basename(root).startswith("pippin_")
        assert scratch_dir(spark, "y") == f"{root}/y"
        with CacheHandle() as caches:
            df = spark.range(20).select((F.col("id") * 7 % 20).alias("v"))
            ranked = ranked_sort(df, [F.col("v")], num_partitions=2,
                                 barrier="table", caches=caches)
            assert ranked.count() == 20
            barrier = caches._paths[0]
            assert os.path.dirname(barrier) == root
            assert os.path.isdir(barrier)
        assert not os.path.exists(barrier)
    finally:
        spark.conf.unset(key)
    assert not scratch_dir(spark, "x").startswith(str(tmp_path))


def test_scratch_root_is_owned_and_removed_at_exit(tmp_path):
    # queries whose results are lazy scans of files they wrote: each run
    # reuses its query's path under the one root, and the process's exit
    # removes the root
    import subprocess
    import sys
    import textwrap

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = tmp_path / "app.py"
    script.write_text(textwrap.dedent(f"""
        import os
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from pyspark.sql import SparkSession

        from pippin_spark.entry_queries import ENTRY_QUERIES

        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        for _ in range(2):
            for n in ("source_from_text", "streaming_foreach_upsert",
                      "sink_partitioned_parquet"):
                ENTRY_QUERIES[n](spark, "/root/testdata/sf0.001").collect()
        print(sorted(e for e in os.listdir({str(tmp)!r})
                     if e.startswith("pippin_")))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp)
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    running = ast.literal_eval(out.stdout.strip().splitlines()[-1])
    assert len(running) == 1, running
    assert [e for e in os.listdir(tmp) if e.startswith("pippin_")] == []
