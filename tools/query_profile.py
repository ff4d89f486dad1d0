"""Per-query structural profile: wall seconds, Spark job / stage /
task counts and total executor task time, measured WARM (one untimed
pass first, same as bench.py's protocol), then ``-n`` timed noop-sink
repeats with scoped block release between them — the bench.py protocol
on an arbitrary query subset, so a single change can be measured in
about a minute instead of a full sweep.

At bench scale (sf0.1, tens of MB) wall time is dominated by fixed
per-action overhead — every Spark job costs ~20-80 ms of scheduling
before any task runs, and every extra Exchange is a stage. This tool
attributes a query's wall to those counts so the optimization loop
(guide §1) can tell "too many driver round-trips" apart from "one
slow stage" without the (disabled) UI. The printed line and the JSON
entry are the fastest repeat's counts; ``walls`` lists every repeat.

Usage:
    SPARK_GRAFT_CPUS=4 python tools/query_profile.py [--sf DIR] [-n N] \
        [--json out.json] names...
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")

from bench import release_blocks  # noqa: E402
from rds_glue_s3_etl_pipeline_spark.queries import REGISTRY  # noqa: E402
from rds_glue_s3_etl_pipeline_spark.session import get_spark  # noqa: E402


def _job_stats(store, after_job_id: int) -> dict:
    jobs = store.jobsList(None)
    n_jobs = n_stages = n_tasks = 0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= after_job_id:
            continue
        n_jobs += 1
        n_stages += j.stageIds().size()
        n_tasks += j.numTasks()
    return {"jobs": n_jobs, "stages": n_stages, "tasks": n_tasks}


def _max_job_id(store) -> int:
    jobs = store.jobsList(None)
    mx = -1
    for i in range(jobs.size()):
        mx = max(mx, jobs.apply(i).jobId())
    return mx


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("-n", "--runs", type=int, default=2, help="timed repeats")
    ap.add_argument("--json", help="write results to this path")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import os

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("query_profile", cpus=cpus, shuffle_partitions=cpus)
    store = spark.sparkContext._jsc.sc().statusStore()

    def canary() -> float:
        # bench.py's fixed synthetic workload: times the MACHINE so
        # cross-run walls can be normalized for host interference.
        t0 = time.perf_counter()
        (
            spark.range(100_000_000)
            .selectExpr("id % 1024 AS k", "id * 2654435761 % 97 AS v")
            .groupBy("k")
            .agg({"v": "sum", "*": "count"})
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    canary()  # warm the canary plan
    c0 = min(canary(), canary())
    print(f"canary {c0:.3f}s", flush=True)

    names = args.names or list(REGISTRY)
    results: dict[str, dict] = {}
    for name in names:
        fn = REGISTRY[name].fn
        # warm pass (artifacts, page cache, codegen)
        spark.sparkContext.setJobDescription(f"{name}: warm")
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        release_blocks(spark)
        runs = []
        for _ in range(args.runs):
            base = _max_job_id(store)
            spark.sparkContext.setJobDescription(f"{name}: timed")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            stats = _job_stats(store, base)
            stats["wall"] = round(wall, 3)
            runs.append(stats)
            release_blocks(spark)
        best = min(runs, key=lambda r: r["wall"])
        results[name] = {**best, "walls": [r["wall"] for r in runs]}
        print(
            f"{name:42s} wall {best['wall']:7.2f}s  jobs {best['jobs']:4d}  "
            f"stages {best['stages']:4d}  tasks {best['tasks']:6d}  "
            f"all {results[name]['walls']}",
            flush=True,
        )
    c1 = min(canary(), canary())
    print(f"canary {c1:.3f}s", flush=True)
    if args.json:
        results["__canary__"] = {"before": round(c0, 3), "after": round(c1, 3)}
        results["__run__"] = {"cpus": cpus, "sf": args.sf, "n": args.runs}
        with open(args.json, "w") as f:
            json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
