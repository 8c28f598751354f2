#!/usr/bin/env python
"""Optimization-round profiler (guide §1: measure first).

For each named headline query (default: all of bench.HEADLINE):

* times plan CONSTRUCTION (``fn(spark, sf_dir)``) separately from the
  ACTION — iterative operators run eager ``localCheckpoint`` jobs during
  construction, and lumping those into "action" time hides where the
  wall actually goes;
* times the action both ways: ``count()`` (the bench's timed action,
  kept for comparability) and the noop sink (guide §1.4 — computes every
  column, immune to count-only column pruning);
* dumps ``explain("formatted")`` to
  ``plans/$SPARK_GRAFT_PLAN_ROUND/<name>_<tag>.txt`` (default ``r12``) and a
  compact plan-shape summary (Exchange count, join strategies, Python
  eval nodes) to stdout.

Usage:  python tools/opt_profile.py [--tag before] [--runs 3] [q1 q2 ...]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

PLAN_DIR = (
    Path(__file__).resolve().parent.parent
    / "plans"
    / os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r12")
)


def plan_shape(plan: str) -> dict:
    """Compact summary of the physical-plan text for quick diffing."""
    counts = {}
    for node in (
        "Exchange",
        "BroadcastExchange",
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "PythonMapInArrow",
        "Generate",
        "Window",
        "HashAggregate",
        "SortAggregate",
        "ObjectHashAggregate",
        "Scan ExistingRDD",
        "Scan parquet",
    ):
        n = len(re.findall(rf"(?<![A-Za-z]){re.escape(node)}(?![a-zA-Z])", plan))
        if n:
            counts[node] = n
    # NOTE: explain("formatted") lists each operator twice (tree + details),
    # so counts here are ~2x the true node count; they are for DIFFING.
    return counts


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--noop", action="store_true", help="also time noop sink")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from bench import HEADLINE
    from erigon_extract_spark.session import get_spark
    from erigon_extract_spark import queries as q

    names = args.names or HEADLINE
    PLAN_DIR.mkdir(parents=True, exist_ok=True)

    spark = get_spark(app_name="opt_profile")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sf_dir = args.sf_dir

    # warm FS caches the way bench.py does
    for t in ("lineitem", "orders", "customer", "events", "documents",
              "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    # codegen warm-up at sf0.001 (same plans, tiny data)
    warm_dir = sf_dir.replace("sf0.1", "sf0.001").replace("sf0.01", "sf0.001")
    if warm_dir != sf_dir and os.path.isdir(warm_dir):
        for name in names:
            try:
                q.QUERIES[name](spark, warm_dir).count()
            except Exception as exc:
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    out = {}
    for name in names:
        fn = q.QUERIES[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        best_c, best_a, best_n = float("inf"), float("inf"), float("inf")
        nrows = -1
        for _ in range(args.runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            nrows = df.count()
            t2 = time.perf_counter()
            best_c = min(best_c, t1 - t0)
            best_a = min(best_a, t2 - t1)
            if args.noop:
                t3 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                best_n = min(best_n, time.perf_counter() - t3)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        (PLAN_DIR / f"{name}_{args.tag}.txt").write_text(plan)
        shape = plan_shape(plan)
        rec = {
            "construct_s": round(best_c, 3),
            "count_s": round(best_a, 3),
            "total_s": round(best_c + best_a, 3),
            "rows": nrows,
            "shape": shape,
        }
        if args.noop:
            rec["noop_s"] = round(best_n, 3)
        out[name] = rec
        print(f"# {name}: construct={rec['construct_s']}s "
              f"count={rec['count_s']}s rows={nrows} shape={shape}",
              file=sys.stderr)
        spark.sparkContext.setJobDescription(None)

    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
