"""One query arm for ``tools/ab.py``: time one registered query the way
``bench.py`` does and print one JSON line with its median time and, as
``result``, its row count (which must match across checkouts), and
the Spark jobs a timed run starts.

    python /path/to/tools/query_arm.py SF_DIR QUERY

Run it from the root of the checkout under test: ``__spark_entry__`` is
imported from the working directory, so one copy of this script drives
both sides of an A/B. The session is ``bench.py``'s (``get_spark``,
local[$SPARK_GRAFT_CPUS]); the timed span is construction plus a noop
sink, after the same warm-up (a JVM sum, then one untimed run).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

RUNS = 3  # bench.py's MEASURE_RUNS


def probe_job_id(sc) -> int:
    """The id of a one-task probe job run now. Job ids are global and
    sequential, so two probes bracket the jobs run between them; a job
    group would miss broadcast jobs, which run under a group of their
    own."""
    sc.setJobGroup("probe", "probe")
    sc.parallelize([0], 1).count()
    ids = sc.statusTracker().getJobIdsForGroup("probe")
    sc.setJobGroup(None, None)
    return max(ids)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("sf_dir")
    parser.add_argument("query")
    args = parser.parse_args(argv)
    sys.path.insert(0, os.getcwd())

    import __spark_entry__ as entrymod
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

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    run_once()
    j0 = probe_job_id(spark.sparkContext)
    walls = [run_once() for _ in range(RUNS)]
    jobs = (probe_job_id(spark.sparkContext) - j0 - 1) / RUNS
    rows = qs[args.query](spark, args.sf_dir).count()
    spark.stop()
    print(json.dumps({
        "correct": True,
        "attempted": RUNS,
        "failed": 0,
        "metrics": {
            "query.wall_s": {"value": statistics.median(walls), "unit": "s"},
            "query.jobs_per_run": {"value": jobs, "unit": "count"},
        },
        "result": {"rows": rows},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
