"""Physical-plan audit report over the full query registry.

Emits BENCH/PLANS.md: one row per registry query with the plan facts a
100 TB scale review needs — shuffle count and keys, broadcast joins,
whole-stage-codegen coverage, Arrow (vectorized Python) vs banned row-
at-a-time Python, sort-merge joins, and scan pushdown. The same facts
`tools/check_entry.py`'s plan gate asserts piecewise, collected in one
reviewable artifact so a plan regression shows up as a diff.

It also writes BENCH/plan_hashes.json, the normalized plan hash of every
query, with the git commit it was computed at and whether tracked files
differed from that commit when the run started. The shipped hashes were
computed at sf0.001 (the default ``sf_dir``): they prove plan stability at
that scale only. AQE and size-dependent choices (broadcast vs shuffle,
partition counts) can give another plan at a larger scale factor.

The session prints plan metadata untruncated
(``spark.sql.maxMetadataStringLength``): Spark cuts a scan's
``DataFilters`` text at that length before the expression ids are
normalized away, so with the default of 100 the cut point moved with the
digit count of the ids, and one plan could get two hashes.

Usage:
    python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as em  # noqa: E402
from audio_feature_extraction_spark.session import get_spark  # noqa: E402
from perfbench.tracing import git_stamp  # noqa: E402

BANNED = ("BatchEvalPython", "CartesianProduct")


def plan_facts(plan: str) -> dict:
    # Count DISTINCT exchange lines, not raw substring hits: a persisted
    # subplan is re-printed verbatim (same expression IDs) under every
    # InMemoryTableScan that consumes it, but executes once — raw counts
    # would overstate shuffles for any cached plan.
    ex_lines = set(
        ln.strip() for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    ex_keys = [
        m.group(1)
        for ln in ex_lines
        if (m := re.search(r"Exchange hashpartitioning\(([^)]*)\)", ln))
    ]
    keys = []
    for k in ex_keys:
        cols = [c.strip().split("#")[0] for c in k.split(",")[:-1]]
        keys.append("+".join(cols))
    return {
        "shuffles": len(ex_lines),
        "range_parts": len(
            set(
                ln.strip()
                for ln in plan.splitlines()
                if "Exchange rangepartitioning" in ln
            )
        ),
        "cache_scans": plan.count("InMemoryTableScan"),
        "shuffle_keys": sorted(set(keys)),
        "bhj": plan.count("BroadcastHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "smj": plan.count("SortMergeJoin"),
        "arrow_python": sum(
            plan.count(x)
            for x in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
                      "FlatMapCoGroupsInPandas")
        ),
        "banned": [b for b in BANNED if b in plan],
        "pushed": "PushedFilters: [" in plan
        and not re.search(r"PushedFilters: \[\]", plan),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    stamp = git_stamp(os.getcwd())
    spark = get_spark(
        app_name="afe-plans", cores=4, shuffle_partitions=8,
        extra={"spark.sql.maxMetadataStringLength": str(2**31 - 1)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    rows, banned_any, plan_hashes = [], [], {}
    for name, fn in em.queries().items():
        plan = (
            fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
        # sha256 of the plan text with expression IDs, plan ids and the
        # suffixes of lambda variable names (``lambda x_3``) normalized
        # away: all three are session-global counters, so they shift with
        # every earlier query. The hash is then stable across sessions and
        # registry order, and a cross-round timing drift on unchanged code
        # is mechanically attributable to host vs plan (VERDICT r06
        # observation #2 / next-round #6).
        canon = re.sub(r"(#|plan_id=|lambda [a-z]+_)\d+L?", r"\1", plan)
        plan_hashes[name] = hashlib.sha256(canon.encode()).hexdigest()[:16]
        f = plan_facts(plan)
        if f["banned"]:
            banned_any.append((name, f["banned"]))
        joins = []
        if f["bhj"]:
            joins.append(f"{f['bhj']}xBHJ")
        if f["bnlj"]:
            joins.append(f"{f['bnlj']}xBNLJ")
        if f["smj"]:
            joins.append(f"{f['smj']}xSMJ")
        rows.append(
            f"| {name} | {f['shuffles']}"
            + (f"+{f['range_parts']}R" if f["range_parts"] else "")
            + f" | {', '.join(f['shuffle_keys']) or '—'}"
            f" | {', '.join(joins) or '—'}"
            f" | {f['cache_scans'] or '—'}"
            f" | {f['arrow_python'] or '—'}"
            f" | {'yes' if f['pushed'] else '—'} |"
        )
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as fh:
        fh.write(
            f"""# Physical-plan audit — every registry query ({len(rows)} queries, {sf_dir})

Generated by `python tools/plan_report.py`. Columns: hash-shuffle count
(DISTINCT exchange lines — a persisted subplan reprints under every
InMemoryTableScan but executes once; +R = range partitionings), the
distinct shuffle key sets, cache = InMemoryTableScan consumers of a
persisted frame, join
strategies (BHJ broadcast-hash / BNLJ broadcast-nested-loop, always a
single-row totals frame / SMJ sort-merge), Arrow-vectorized Python nodes
(mapInPandas / cogroup — the ONLY Python allowed; row-at-a-time
BatchEvalPython and CartesianProduct are build failures here and in the
plan gate), and whether the parquet scan carries pushed filters.
(WholeStageCodegen spans are not shown: under AQE the pre-execution plan
string does not carry codegen annotations — the no-BatchEvalPython gate
plus the expression choices in the code are the codegen evidence.)

| query | shuffles | shuffle keys | joins | cache | arrow | pushdown |
|---|---|---|---|---|---|---|
"""
            + "\n".join(rows)
            + "\n"
        )
    assert not banned_any, f"banned plan nodes: {banned_any}"
    with open("BENCH/plan_hashes.json", "w") as fh:
        json.dump(
            {"sf_dir": sf_dir, "normalized": "expr-ids, plan ids and lambda variable ids stripped",
             "git": stamp, "hashes": plan_hashes}, fh, indent=1, sort_keys=True,
        )
    print(
        f"wrote BENCH/PLANS.md ({len(rows)} queries, 0 banned nodes) "
        f"+ BENCH/plan_hashes.json"
    )
    spark.stop()


if __name__ == "__main__":
    main()
