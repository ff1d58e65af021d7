"""Automated physical-plan audit over every declared query.

Writes PLAN_AUDIT.md: one row per query with the plan facts that
matter at 100 TB — shuffle (exchange) count, single-partition
exchanges, Python/Arrow stages, pushed filters, broadcast vs
sort-merge joins, whole-stage-codegen spans. The table makes plan
regressions diffable round-over-round the same way BENCH_r{N}.json
makes timing regressions diffable.

Usage: python tools/plan_audit.py [sf_dir] [out_md]

Streaming queries execute their stream at build time; they are listed
but audited on the drained batch result's plan (the streaming plan
itself lives in the StreamingQuery, not the returned DataFrame).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLAN_AUDIT.md"

    from pippin_spark.plans import plan_stats
    from pippin_spark.session import get_spark

    spark = get_spark("pippin-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs = entry.queries()
    rows = []
    errors = []
    for name, fn in qs.items():
        try:
            rows.append((name, plan_stats(fn(spark, sf_dir))))
        except Exception as exc:  # audit must be total — record and move on
            first = (str(exc).splitlines() or ["<no message>"])[0]
            errors.append((name, first[:100]))

    cols = list(rows[0][1]) if rows else []
    with open(out_md, "w") as f:
        f.write(
            "# Plan audit (auto-generated by tools/plan_audit.py at "
            f"{sf_dir})\n\n"
            "Per-query physical-plan facts. Red flags to grep for: "
            "`single_partition` > 1 (only the documented ≤P-row branches "
            "may single-partition), `row_udfs` > 0 (row-at-a-time Python "
            "in a declared query), unexpected `sortmerge_joins` where a "
            "dim should broadcast.\n\n"
            "Caveats: these are STATIC plans — a `sortmerge_joins` entry "
            "on a join between derived subtrees (candidate-verify joins "
            "in the sketch ops) has no size stats until runtime and is "
            "converted to broadcast by AQE; `single_partition` entries "
            "on 1-row global aggregates are the documented tiny-data "
            "branches.\n\n"
        )
        f.write("| query | " + " | ".join(cols) + " |\n")
        f.write("|---|" + "---|" * len(cols) + "\n")
        for name, st in sorted(rows):
            f.write(
                f"| {name} | " + " | ".join(str(st[c]) for c in cols) + " |\n"
            )
        if errors:
            f.write("\n## Not auditable (plan built with side effects)\n\n")
            for name, err in sorted(errors):
                f.write(f"- `{name}`: {err}\n")
        tot = {c: sum(st[c] for _, st in rows) for c in cols}
        f.write(
            f"\n**Totals over {len(rows)} audited queries**: "
            + ", ".join(f"{c}={tot[c]}" for c in cols)
            + f"; {len(errors)} queries not auditable.\n"
        )
    print(f"wrote {out_md}: {len(rows)} audited, {len(errors)} errors")
    spark.stop()


if __name__ == "__main__":
    main()
