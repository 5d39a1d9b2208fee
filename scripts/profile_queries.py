"""Query profiler: for each named query, time the computation (noop
sink by default, so every column is computed and nothing is collected;
``PROFILE_ACTION=count`` matches bench.py's timed action) and capture
``.explain("formatted")`` to plans/<tag>/<name>.txt
(``PROFILE_SKIP_PLAN=1`` skips the capture).

Usage:
    python scripts/profile_queries.py before q201_msf_2rounds ...
    PROFILE_ACTION=count PROFILE_REPEATS=3 python scripts/profile_queries.py ab_gc q72_pagerank_2rounds

Prints one JSON line: {"tag": ..., "timings": {name: sec}, "cpus": N}.
Timing is best-of-N (same steady-state policy as bench.py).  The repo
session (session.get_spark) is used so numbers are comparable with
bench.py; SPARK_GRAFT_SF_DIR selects the data (default sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as benchmod
import __spark_entry__ as entrymod
from patternly_spark.session import get_spark, testdata_dir


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = testdata_dir("0.1")
    repeats = int(os.environ.get("PROFILE_REPEATS", "2"))
    action = os.environ.get("PROFILE_ACTION", "noop")
    skip_plan = os.environ.get("PROFILE_SKIP_PLAN", "0") in ("1", "true")
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark("patternly-profile")
    spark.sparkContext.setLogLevel("ERROR")
    for t in entrymod.TABLES:
        entrymod._t(spark, sf_dir, t).count()

    queries = dict(entrymod.queries(), **benchmod.BENCH_BUDGETED)
    timings: dict[str, float] = {}
    for name in names:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        if not skip_plan:
            # capture the formatted plan of the (lazy) result
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
        best = float("inf")
        for _ in range(repeats):
            start = time.perf_counter()
            if action == "count":
                fn(spark, sf_dir).count()
            else:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - start)
        timings[name] = round(best, 3)
        spark.sparkContext.setJobDescription(None)
        print(f"TIMED {name} {timings[name]}", flush=True)

    print(json.dumps({"tag": tag, "timings": timings,
                      "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
                      "action": action,
                      "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
