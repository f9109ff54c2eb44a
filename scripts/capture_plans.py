"""Plan dump: write .explain("formatted") for catalog queries to
plans/<tag>/<query>_<suffix>.txt and print each plan's scale-relevant
summary — node counts (join strategies, exchanges, aggregates, top-k
pushdown, Python UDF nodes), read schemas and the non-empty
pushed/partition filters. A scan losing its PushedFilters, or a
broadcast that became a sort-merge join, shows up here before it shows
up in bench numbers.

Usage: python scripts/capture_plans.py --tag r14 --suffix before \
           [-k sub1,sub2,...] [--sf DIR]

-k keeps the queries whose name contains any of the comma-separated
substrings (default: all).
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

FILTERS = re.compile(
    r"(?:PushedFilters|PartitionFilters): \[[^\]]+\]|ReadSchema: [^\n,]*"
)
NODES = re.compile(
    r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin"
    r"|WindowGroupLimit|TakeOrderedAndProject|Exchange hashpartitioning"
    r"|Exchange rangepartitioning|BroadcastExchange|HashAggregate|SortAggregate"
    r"|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas)\b"
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r14")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("-k", default="")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from configurable_etl_python_repo_spark import get_spark
    from configurable_etl_python_repo_spark.catalog import QUERIES

    outdir = os.path.join(HERE, "plans", args.tag)
    os.makedirs(outdir, exist_ok=True)
    subs = [s.strip() for s in args.k.split(",") if s.strip()] or [""]

    spark = get_spark("capture_plans")
    formatted = (spark._jvm.org.apache.spark.sql.execution.ExplainMode
                 .fromString("formatted"))
    for name in [n for n in QUERIES if any(s in n for s in subs)]:
        try:
            qe = QUERIES[name](spark, args.sf)._jdf.queryExecution()
            plan = qe.explainString(formatted)
            tree = qe.executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"== {name}: ERROR {e}", flush=True)
            continue
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"== {name}: wrote {path} ({len(plan)} chars)")
        print("   nodes:", dict(sorted(Counter(NODES.findall(tree)).items())))
        for frag in FILTERS.findall(tree):
            print("   ", frag[:150])
        sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
