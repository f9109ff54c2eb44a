"""Interleaved A/B prober: alternates tree legs over several rounds and
reports per-tree minima with the calib recorded per leg. On a host with
minute-scale speed swings, interleaving is the only layout where a swing
hits both trees symmetrically; back-to-back single-tree runs were
measured 3.4x apart in calib within ten minutes.

Every leg is a subprocess running THIS script in `--leg` mode with
PYTHONPATH=<tree>, so both trees are timed by the same probe code and
each imports its own package cleanly. The leg order alternates each
round (a, b / b, a / ...), so neither tree always runs first.

A leg runs a comma-separated list of catalog queries, one warm-up + N
measured samples each, plus the fixtures-independent calib probe
(range -> shuffle -> agg, min-of-5) so tree deltas can be read against
a host-speed baseline, and prints ONE JSON line:

  {"tree": <label>, "calib_sec": ..., "queries": {name: {"samples": [...],
   "min": ...}}}

Usage (idle box, nothing else running):
  python scripts/ab_interleave.py --tree-a /tmp/ab_old --tree-b . \
      --queries d8_span_dedup,d10_substring_dedup --rounds 3 --repeat 3
  # one leg alone, timing whichever tree is first on PYTHONPATH:
  PYTHONPATH=/tmp/ab_old python scripts/ab_interleave.py --leg \
      --label old --queries d9_decontaminate --repeat 5
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time


def run_leg(label: str, queries: str, repeat: int) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from configurable_etl_python_repo_spark import get_spark
    from configurable_etl_python_repo_spark.catalog import QUERIES

    spark = get_spark("ab_interleave")

    def run(name: str) -> float:
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    def calib_one() -> float:
        t0 = time.time()
        (spark.range(0, 10_000_000)
            .withColumn("k", F.col("id") % 97)
            .groupBy("k").count()
            .write.format("noop").mode("overwrite").save())
        return time.time() - t0

    calib_one()
    calib = round(min(calib_one() for _ in range(5)), 3)

    out: dict[str, dict] = {}
    for name in queries.split(","):
        name = name.strip()
        run(name)  # warm-up
        samples = [round(run(name), 3) for _ in range(repeat)]
        out[name] = {"samples": samples, "min": min(samples)}

    print(json.dumps({"tree": label, "calib_sec": calib, "queries": out}))
    spark.stop()


def leg(tree: str, label: str, queries: str, repeat: int) -> dict:
    env = dict(os.environ, PYTHONPATH=os.path.abspath(tree))
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--leg",
         "--label", label, "--queries", queries, "--repeat", str(repeat)],
        capture_output=True, text=True, env=env, cwd=tree, check=False,
    )
    for line in out.stdout.splitlines():
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON from {label}: {out.stderr[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--leg", action="store_true",
                    help="time one tree (the first on PYTHONPATH) and exit")
    ap.add_argument("--label", default="tree")
    ap.add_argument("--tree-a")
    ap.add_argument("--tree-b")
    ap.add_argument("--queries", required=True)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args()
    if args.leg:
        run_leg(args.label, args.queries, args.repeat)
        return
    if not (args.tree_a and args.tree_b):
        ap.error("--tree-a and --tree-b are required without --leg")

    mins: dict[str, dict[str, float]] = {"a": {}, "b": {}}
    calibs: dict[str, list[float]] = {"a": [], "b": []}
    legs = [("a", args.tree_a), ("b", args.tree_b)]
    for r in range(args.rounds):
        for key, tree in legs if r % 2 == 0 else legs[::-1]:
            doc = leg(tree, f"{key}{r}", args.queries, args.repeat)
            calibs[key].append(doc["calib_sec"])
            for q, rec in doc["queries"].items():
                cur = mins[key].get(q)
                mins[key][q] = min(cur, rec["min"]) if cur else rec["min"]
            print(f"round {r} leg {key}: calib={doc['calib_sec']} "
                  + " ".join(f"{q}={rec['min']}" for q, rec in
                             doc["queries"].items()), flush=True)
    print(json.dumps({
        "tree_a": args.tree_a, "tree_b": args.tree_b,
        "calib_a": calibs["a"], "calib_b": calibs["b"],
        "min_a": mins["a"], "min_b": mins["b"],
        "ratio_b_over_a": {
            q: round(mins["b"][q] / mins["a"][q], 3) for q in mins["a"]
        },
    }))


if __name__ == "__main__":
    main()
