"""AQE coalescing sweep over the round-15 anti-scaling cluster.

Round-15 shipped `coalescePartitions.parallelismFirst=false` +
advisory 64m (session.py) without re-measuring at both core counts;
PERF_r15 then showed 18 heavy queries running FASTER at 8 cores than
32 (ratios 0.43-0.90). This tool times the regression cluster under
each advisory-size x parallelismFirst combo at the CURRENT core count
(SPARK_GRAFT_CPUS) so the winning setting is picked from measurements,
not doc folklore (guide SS1: measure first; SS2: partition sizing).

Both knobs are runtime SQL confs, so one JVM sweeps every combo; run
the tool once per core count. Protocol mirrors bench.py: sf0.001
codegen warmup, untimed sf0.1 warm pass (page cache + per-process
artifacts), then best-of-2 per (combo, query) with scoped block
release between timings.

Usage: SPARK_GRAFT_CPUS=32 python tools/aqe_sweep.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import materialize, release_blocks
from rds_glue_s3_etl_pipeline_spark.queries import REGISTRY
from rds_glue_s3_etl_pipeline_spark.session import get_spark

QUERIES = [
    "q102_waiting_suppliers_agg",
    "q153_triangle_enum",
    "q155_ann_recall_trained",
    "q156_bpe_compression",
    "q163_semantic_dedup_adaptive",
    "q165_vector_dedup_tree_probe",
]

COMBOS = {
    "pf_false_adv64m": ("false", "64m"),   # round-15 shipped setting
    "pf_true_adv64m": ("true", "64m"),     # Spark default (r14 behavior)
    "pf_false_adv16m": ("false", "16m"),
    "pf_false_adv8m": ("false", "8m"),
    "pf_false_adv4m": ("false", "4m"),
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    out_path = sys.argv[1] if len(sys.argv) > 1 else f"/tmp/aqe_sweep_c{cpus}.json"
    spark = get_spark("aqe_sweep", cpus=cpus, shuffle_partitions=cpus)

    warm_dir = "/root/testdata/sf0.001"
    for name in QUERIES:
        if os.path.isdir(warm_dir):
            try:
                materialize(REGISTRY[name].fn(spark, warm_dir))
            except Exception:
                pass
        materialize(REGISTRY[name].fn(spark, sf_dir))
        release_blocks(spark)

    results: dict[str, dict[str, float]] = {}
    for combo, (pf, adv) in COMBOS.items():
        spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", pf)
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", adv)
        row: dict[str, float] = {}
        for name in QUERIES:
            spark.sparkContext.setJobDescription(f"{combo}:{name}")
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                materialize(REGISTRY[name].fn(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
            row[name] = round(best, 3)
            release_blocks(spark)
        row["_total"] = round(sum(row.values()), 3)
        results[combo] = row
        print(json.dumps({"cpus": cpus, "combo": combo, **row}), flush=True)

    with open(out_path, "w") as f:
        json.dump({"cpus": cpus, "sf_dir": sf_dir, "results": results}, f, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
