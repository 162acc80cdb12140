"""Per-query optimization profiler (r11 optimization round).

For each named query (default: the full bench HEADLINE list) run the
query function once with a dedicated job group and report:

  wall seconds | # Spark jobs | # stages | # tasks | rows

The job/stage counts come from the status tracker, so driver-side
collects, sealed-lineage materializations, and streaming micro-batches
all show up — at sf0.1 the data is tiny and per-query seconds are
dominated by scheduled-job and shuffle-stage COUNT, which is exactly
the 100 TB pass-count discipline (guide §1.2: fix the distributed
algorithm first).

Usage:
  PYTHONPATH=/root/repo python3 scripts/profile_queries.py [sf_dir] [query ...]
Env:
  SPARK_GRAFT_PROFILE_REPEATS (default 2: cold+warm; reports the warm)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
import bench
from dbt_core_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or bench.HEADLINE
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_PROFILE_REPEATS", "2")))
    spark = get_spark(
        app_name="profile_queries",
        extra_conf={"spark.sql.warehouse.dir": f"/tmp/prof_wh_{os.getpid()}"},
    )
    # warm JVM + python worker pool like bench.py so query 1 is not
    # charged session startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long").count()
    entrymod._reg(spark, sf_dir)
    qs = entrymod.queries()
    tracker = spark.sparkContext.statusTracker()
    out = {}
    for name in names:
        fn = qs[name]
        rec = None
        for it in range(repeats):
            group = f"prof_{name}_{it}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()
            wall = time.time() - t0
            spark.sparkContext.setJobGroup(None, None)
            jobs = tracker.getJobIdsForGroup(group)
            stages = 0
            tasks = 0
            for j in jobs:
                ji = tracker.getJobInfo(j)
                if ji is None:
                    continue
                stages += len(ji.stageIds)
                for s in ji.stageIds:
                    si = tracker.getStageInfo(s)
                    if si is not None:
                        tasks += si.numTasks
            rec = {"wall_s": round(wall, 3), "jobs": len(jobs),
                   "stages": stages, "tasks": tasks, "rows": n}
        out[name] = rec
        print(f"{rec['wall_s']:8.2f}s  jobs={rec['jobs']:<4d} "
              f"stages={rec['stages']:<5d} tasks={rec['tasks']:<6d} "
              f"rows={rec['rows']:<8d} {name}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
