"""Per-query profiler: decompose a headline query's wall time into
driver-side construction (the `fn(spark, sf_dir)` call — plan building,
any fit collects) vs action time (`df.count()`), and count the Spark
jobs each phase launches.  Interleaved A/B of two query names is
supported so comparisons survive this box's ambient drift (VERDICT r8+:
cross-process walls wander 30-100%).

Usage:
  python tools/qprof.py NAME [NAME...] [--reps 5] [--sf DIR]
Prints one JSON line per query name.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawling_vectordb_llm_spark.session import get_spark
from crawling_vectordb_llm_spark.suite import QUERIES

USAGE = "usage: python tools/qprof.py NAME [NAME...] [--reps N] [--sf DIR]"


def profile(spark, name: str, sf_dir: str, reps: int) -> dict:
    fn = QUERIES[name]
    st = spark.sparkContext.statusTracker()

    def one() -> tuple[float, float, int, int]:
        j0 = len(st.getJobIdsForGroup(None) or [])
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        j1 = len(st.getJobIdsForGroup(None) or [])
        df.count()
        t2 = time.time()
        j2 = len(st.getJobIdsForGroup(None) or [])
        return t1 - t0, t2 - t1, j1 - j0, j2 - j1

    one()  # cold
    runs = [one() for _ in range(reps)]
    runs_by_total = sorted(runs, key=lambda r: r[0] + r[1])
    med = runs_by_total[len(runs) // 2]
    spark.catalog.clearCache()
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return {
        "query": name,
        "reps": reps,
        "construct_s": round(med[0], 3),
        "action_s": round(med[1], 3),
        "total_s": round(med[0] + med[1], 3),
        "construct_jobs": med[2],
        "action_jobs": med[3],
        "all_totals": [round(r[0] + r[1], 3) for r in runs],
        "all_construct": [round(r[0], 3) for r in runs],
    }


def main() -> None:
    # r14 (ADVICE r13): single-pass parse so option VALUES never leak into
    # the query-name list (`qprof.py foo --reps 3` used to also "profile"
    # the name "3" and crash on the QUERIES lookup)
    args: list[str] = []
    reps = 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    it = iter(sys.argv[1:])
    for a in it:
        if a in ("--reps", "--sf"):
            value = next(it, None)
            if value is None:
                raise SystemExit(f"{a} needs a value\n{USAGE}")
            if a == "--reps":
                reps = int(value)
            else:
                sf_dir = value
        elif a.startswith("--"):
            raise SystemExit(f"unknown option {a}\n{USAGE}")
        else:
            args.append(a)
    spark = get_spark("qprof")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for name in args:
        print(json.dumps(profile(spark, name, sf_dir, reps)), flush=True)


if __name__ == "__main__":
    main()
