#!/usr/bin/env python
"""Round-6 optimization measurement harness (bench.py is frozen for the
driver; this file exists for guide-§1 isolation work and is NOT part of
the measured contract).

Times catalog queries with the noop sink exactly like bench.py's
run_queries loop (same session config, same order), but adds:
  --queries a,b,c    subset to time (default: all)
  --repeats N        timed runs per query (default 1; bench.py does 1)
  --plans DIR        also write .explain("formatted") per query to DIR
  --skip-warm        skip warm_ann_indices (only valid when no ann query
                     in the subset)

Each plan dump and each timed run builds and releases its caches inside
its own cache_scope. Prints one JSON line {"queries": {name: [s, ...]},
"jobs_stages": {name: [[jobs, stages listed], ...]},
"stages_executed": {name: [stages, ...]}, "ann_index_build_secs": s}.
Listed stages include those a job skipped because their shuffle output
already existed; executed stages are those that completed tasks in one
of the entry's jobs.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--plans", default="")
    ap.add_argument("--skip-warm", action="store_true")
    args = ap.parse_args()

    from crawlspark.queries import QUERIES, warm_ann_indices
    from crawlspark.session import cache_scope, get_spark

    names = [n.strip() for n in args.queries.split(",") if n.strip()] or \
        list(QUERIES)
    spark = get_spark("crawlspark-bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS,
                      extra_conf={"spark.driver.memory":
                                  os.environ.get("CRAWLSPARK_BENCH_MEM", "32g")})
    idx_secs = None
    if not args.skip_warm:
        idx_secs = round(warm_ann_indices(spark, SF_DIR), 3)
    times: dict[str, list[float]] = {}
    jobs: dict[str, list[tuple[int, int]]] = {}
    executed: dict[str, list[int]] = {}
    status_store = spark.sparkContext._jsc.sc().statusStore()
    for name in names:
        fn = QUERIES[name][0]
        if args.plans:
            Path(args.plans).mkdir(parents=True, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf), cache_scope():
                fn(spark, SF_DIR).explain("formatted")
            (Path(args.plans) / f"{name}.txt").write_text(buf.getvalue())
        times[name] = []
        for rep in range(args.repeats):
            group = f"bx_{name}_{rep}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.time()
            with cache_scope():
                fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            times[name].append(round(time.time() - t0, 2))
            st = spark.sparkContext.statusTracker()
            jids = st.getJobIdsForGroup(group)
            nstages = 0
            for j in jids:
                ji = st.getJobInfo(j)
                nstages += len(ji.stageIds) if ji else 0
            jobs.setdefault(name, []).append((len(jids), nstages))
            executed.setdefault(name, []).append(sum(
                status_store.job(j).numCompletedStages() for j in jids))
            spark.sparkContext.setJobGroup(None, None)
    spark.stop()
    print(json.dumps({"queries": times, "jobs_stages": jobs,
                      "stages_executed": executed,
                      "ann_index_build_secs": idx_secs,
                      "sf": SF_DIR, "cpus": CPUS}))


if __name__ == "__main__":
    main()
