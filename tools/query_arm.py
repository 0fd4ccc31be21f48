"""One query arm for ``tools/ab.py``: time one registered query the way
``bench.py`` does and print one JSON line with its median time, its
Spark jobs and stages per timed run and, as ``result``, its row count
(which must match across checkouts).

    python /path/to/tools/query_arm.py SF_DIR QUERY

Run it from the root of the checkout under test: ``__spark_entry__`` is
imported from the working directory, so one copy of this script drives
both sides of an A/B. The session is ``bench.py``'s (``get_spark``,
local[$SPARK_GRAFT_CPUS]); the timed span is construction plus a noop
sink, after the same warm-up (a JVM sum, then one untimed run). Timed
runs follow perfbench's ``harness.measure`` rule over BUDGET_S seconds:
a run starts only while the median run so far still fits in the time
left: a sub-second query gets many runs, and a slow one runs at least
once.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

BUDGET_S = 15.0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("sf_dir")
    parser.add_argument("query")
    args = parser.parse_args(argv)
    sys.path.insert(0, os.getcwd())

    import __spark_entry__ as entrymod
    from akkastreamprocessnpmpackagedependencies_spark.observability import job_profile
    from akkastreamprocessnpmpackagedependencies_spark.session import get_spark

    qs = entrymod.queries()
    if args.query not in qs:
        parser.error(f"unknown query {args.query!r}")
    spark = get_spark("query_arm")

    def run_once() -> float:
        # construction included: eager builders must be charged
        t0 = time.perf_counter()
        qs[args.query](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def measure() -> list[float]:
        walls: list[float] = []
        deadline = time.perf_counter() + BUDGET_S
        while not walls or time.perf_counter() + statistics.median(walls) <= deadline:
            walls.append(run_once())
        return walls

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    run_once()
    walls, prof = job_profile(spark, measure)
    rows = qs[args.query](spark, args.sf_dir).count()
    spark.stop()
    print(json.dumps({
        "correct": True,
        "attempted": len(walls),
        "failed": 0,
        "metrics": {
            "query.wall_s": {"value": statistics.median(walls), "unit": "s"},
            "query.runs": {"value": len(walls), "unit": "count"},
            "query.jobs_per_run": {"value": prof["jobs"] / len(walls), "unit": "count"},
            "query.stages_per_run": {"value": prof["stages"] / len(walls), "unit": "count"},
        },
        "result": {"rows": rows},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
