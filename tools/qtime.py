"""Targeted per-query timer for optimization iterations: warm pass
(sf0.001 codegen + one untimed pass at the bench SF), then best-of-N
noop-sink timings with scoped block release between repeats — the
bench.py protocol on an arbitrary query subset, so a single change can
be measured in ~a minute instead of a full sweep.

Usage: SPARK_GRAFT_CPUS=32 python tools/qtime.py [-n 3] q161_... q159_...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import materialize, release_blocks
from rds_glue_s3_etl_pipeline_spark.queries import REGISTRY
from rds_glue_s3_etl_pipeline_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=3, help="timed repeats (best-of)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--json", help="write results to this path")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("qtime", cpus=cpus, shuffle_partitions=cpus)

    warm_dir = "/root/testdata/sf0.001"
    for name in args.names:
        if os.path.isdir(warm_dir) and warm_dir != args.sf:
            try:
                materialize(REGISTRY[name].fn(spark, warm_dir))
            except Exception:
                pass
        materialize(REGISTRY[name].fn(spark, args.sf))
        release_blocks(spark)

    out: dict[str, object] = {"cpus": cpus, "sf": args.sf, "n": args.n}
    res: dict[str, list[float]] = {}
    for name in args.names:
        spark.sparkContext.setJobDescription(f"qtime:{name}")
        times = []
        for _ in range(args.n):
            t0 = time.perf_counter()
            materialize(REGISTRY[name].fn(spark, args.sf))
            times.append(round(time.perf_counter() - t0, 3))
            release_blocks(spark)
        res[name] = times
        print(json.dumps({name: {"best": min(times), "all": times}}), flush=True)
    out["results"] = {k: {"best": min(v), "all": v} for k, v in res.items()}
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1)
        print(f"wrote {args.json}")


if __name__ == "__main__":
    main()
