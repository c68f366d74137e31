"""Capture .explain("formatted") for declared queries into .plan_dumps/
(git-ignored: the dumps are for diffing a change locally, not for the repo).

Usage:
    python tools/capture_plans.py before [query ...]   # -> .plan_dumps/<q>_before.txt
    python tools/capture_plans.py after  [query ...]   # -> .plan_dumps/<q>_after.txt

With no query list, captures every declared query.  Streaming gates
execute their stream when the builder runs; their captured plan is the
batch plan of the memory-sink result (noted in the file header).

Also prints a one-line plan summary per query: #Exchange, join node
kinds, Python-boundary nodes (BatchEvalPython/ArrowEvalPython/
MapInPandas/MapInArrow), single-partition Window markers.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SUFFIXES = ("before", "after")


def plan_summary(plan: str) -> str:
    n_exchange = len(re.findall(r"\bExchange\b", plan))
    joins = sorted(
        set(
            re.findall(
                r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)\b",
                plan,
            )
        )
    )
    py = sorted(
        set(
            re.findall(
                r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|"
                r"PythonMapInArrow|FlatMapGroupsInPandas|"
                r"FlatMapCoGroupsInPandas|ApplyInPandasWithState)\b",
                plan,
            )
        )
    )
    single_part_window = len(
        re.findall(r"Exchange SinglePartition", plan)
    )
    return (
        f"exchanges={n_exchange} joins={','.join(joins) or '-'} "
        f"python={','.join(py) or '-'} single_part_exchange={single_part_window}"
    )


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    assert suffix in SUFFIXES, f"suffix must be one of {SUFFIXES}"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from summarydb_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("summarydb-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".plan_dumps"
    )
    os.makedirs(out_dir, exist_ok=True)

    qs = entrymod.queries()
    names = [n for n in qs if not only or n in only]
    for name in names:
        try:
            import contextlib
            import io

            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:  # capture the failure, keep sweeping
            plan = f"EXPLAIN FAILED: {exc!r}"
        header = ""
        if "streaming" in name:
            header = (
                "# NOTE: streaming gate — builder executes the stream; this is\n"
                "# the batch plan of the memory-sink result relation.\n"
            )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(header + plan)
        print(f"{name}: {plan_summary(plan)}", flush=True)


if __name__ == "__main__":
    main()
