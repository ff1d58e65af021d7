"""Physical-plan inspection utilities (the package-API form of what
tools/plan_audit.py and tests/test_plans.py do ad hoc): extract the
plan facts that matter at 100 TB from any DataFrame, and pin them in
user test suites the same way this repo pins its own.

The point of exposing these: a query that is correct at sf0.01 and
quadratic at sf10 differs only in PLAN SHAPE. `plan_stats` makes the
shape assertable ("no single-partition exchange of the full input",
"the dim side broadcast", "zero row-at-a-time Python"), and
`plan_digest` turns it into one string a regression test can compare.
"""

from __future__ import annotations

import hashlib
import re
from typing import Dict

from pyspark.sql import DataFrame


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    """The EXPLAIN output as a string (what .explain() prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def _nodes(plan: str, name: str) -> int:
    # formatted mode prints each node in the tree AND in the detail
    # section; "(<id>) <Name>" detail headers count each node once
    return len(re.findall(rf"\(\d+\) {name}\b", plan))


# Every Python exec node but row-at-a-time BatchEvalPython (counted as
# row_udfs): the pandas/Arrow UDF family — MapInArrow prints as
# PythonMapInArrow on some Spark versions — and both UDTF eval nodes.
_PYTHON_EXEC = (
    r"(?:Python)?(?:ArrowEvalPython(?:UDTF)?|BatchEvalPythonUDTF"
    r"|MapIn(?:Pandas|Arrow)|FlatMap(?:Co)?GroupsInPandas(?:WithState)?"
    r"|AggregateInPandas|WindowInPandas)"
)


def plan_stats(df: DataFrame) -> Dict[str, int]:
    """Count the scale-relevant physical-plan features:

    - ``exchanges`` / ``single_partition``: every shuffle, and the
      ones that funnel data through ONE task (the 100x scale-killers
      unless they sit above a bounded-row branch);
    - ``broadcast_joins`` / ``sortmerge_joins``: whether dims
      broadcast or the fact table moves;
    - ``arrow_stages`` / ``row_udfs``: Python crossings — Arrow-batched
      (acceptable) vs row-at-a-time (the slow path);
    - ``codegen_spans``: whole-stage-codegen regions (wider = more of
      the query runs as generated JVM loops);
    - ``scans_with_pushdown``: scans that reached the parquet reader
      with pushed filters.
    """
    p = explain_string(df, "formatted")
    return {
        "exchanges": _nodes(p, "Exchange"),
        "single_partition": len(
            re.findall(r"Arguments: SinglePartition", p)
        ),
        "arrow_stages": _nodes(p, _PYTHON_EXEC),
        "row_udfs": _nodes(p, "BatchEvalPython"),
        "broadcast_joins": _nodes(p, "BroadcastHashJoin"),
        "sortmerge_joins": _nodes(p, "SortMergeJoin"),
        # formatted mode tags each fused node "[codegen id : N]"
        "codegen_spans": len(
            set(re.findall(r"\[codegen id : (\d+)\]", p))
        ),
        "scans_with_pushdown": len(
            re.findall(r"PushedFilters: \[[^\]]+\]", p)
        ),
    }


def plan_digest(df: DataFrame) -> str:
    """Stable fingerprint of the plan SHAPE: the normalized SEQUENCE
    of physical node names (expression ids stripped), hashed — plus
    the aggregate counters for human-readable context. Pin it in a
    test to catch silent plan regressions — a lost broadcast, a new
    shuffle, a join reorder, an extra Sort/Window node appearing in a
    hot path — the way BENCH files catch timing ones. (Counter-only
    hashing missed any regression that kept the 8 counters equal,
    e.g. a join reorder or an added Sort.)"""
    p = explain_string(df, "formatted")
    # "(<id>) <NodeName>" detail headers, in tree order; ids are
    # per-plan ordinals so the NAME sequence is the stable part. Up to
    # two word tokens so scan VARIANTS stay distinct ("Scan parquet"
    # vs "Scan ExistingRDD" — losing a checkpoint reuse to a re-scan
    # must change the digest); bracketed argument noise never matches
    names = re.findall(r"\(\d+\) ([A-Za-z]+(?: [A-Za-z]+)?)", p)
    stats = plan_stats(df)
    blob = ",".join(f"{k}={v}" for k, v in sorted(stats.items()))
    return hashlib.md5("→".join(names).encode()).hexdigest()[:16] + ":" + blob


def assert_scale_shape(
    df: DataFrame,
    max_single_partition: int = 0,
    allow_row_udfs: bool = False,
) -> Dict[str, int]:
    """Raise if the plan contains more full-funnel exchanges than the
    documented bounded-row branches justify, or any row-at-a-time
    Python stage. Returns the stats for further assertions."""
    stats = plan_stats(df)
    if stats["single_partition"] > max_single_partition:
        raise AssertionError(
            f"plan has {stats['single_partition']} SinglePartition "
            f"exchanges (allowed {max_single_partition}) — a 100x "
            f"scale-up funnels through one task:\n"
            + explain_string(df, "simple")
        )
    if not allow_row_udfs and stats["row_udfs"]:
        raise AssertionError(
            "plan contains row-at-a-time Python (BatchEvalPython) — "
            "use Arrow-batched pandas UDFs"
        )
    return stats
