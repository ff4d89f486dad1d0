"""The plan-audit NLJ classifier (tools/plan_bound.py) — round-14
verdict item #1: a scalar/bounded-broadcast cross join must classify
benign, a genuine cartesian must stay UNEXPECTED, and the audit's
justification table must be shape-checked (a changed plan goes red,
not silently green)."""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from plan_bound import (  # noqa: E402
    BOUNDED_THRESHOLD,
    INF,
    bound,
    classify_nljs,
    parse_plan,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ------------------------------------------------------------------
# live-Spark red/green pair
# ------------------------------------------------------------------


def test_scalar_broadcast_cross_join_is_benign(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    total = o.agg(F.sum("o_totalprice").alias("grand_total"))
    df = o.crossJoin(F.broadcast(total)).select(
        "o_orderkey", (F.col("o_totalprice") / F.col("grand_total")).alias("share")
    )
    finds = classify_nljs(_plan(df))
    assert finds, "expected a BroadcastNestedLoopJoin in the plan"
    assert all(f.benign for f in finds)
    assert any(f.build_bound == 1 for f in finds)


def test_genuine_cartesian_is_unexpected(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    df = o.crossJoin(F.broadcast(c))  # both sides scale with the data
    finds = classify_nljs(_plan(df))
    assert finds, "expected a nested-loop join in the plan"
    assert not any(f.benign for f in finds)


def test_fixed_dim_broadcast_is_benign(spark, sf_dir):
    r = spark.read.parquet(f"{sf_dir}/region.parquet").select("r_name")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    df = o.crossJoin(F.broadcast(r))
    finds = classify_nljs(_plan(df))
    assert finds
    assert all(f.benign for f in finds)
    assert any(f.build_bound == 5 for f in finds)


def test_driver_literal_relation_is_benign(spark, sf_dir):
    probe = spark.createDataFrame([(0.25,), (0.5,), (0.75,)], ["q"])
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_totalprice")
    df = o.crossJoin(F.broadcast(probe))
    finds = classify_nljs(_plan(df))
    assert finds
    assert all(f.benign for f in finds)


def test_local_frame_relation_is_benign(spark, sf_dir):
    """session.local_frame plans as a LocalTableScan (rows embedded in
    the plan): bounded like the PythonRDD literal relation."""
    from rds_glue_s3_etl_pipeline_spark.session import local_frame

    probe = local_frame(spark, [(0.25,), (0.5,), (0.75,)], "q double")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_totalprice")
    plan = _plan(o.crossJoin(F.broadcast(probe)))
    assert "LocalTableScan" in plan
    finds = classify_nljs(plan)
    assert finds
    assert all(f.benign for f in finds)


def test_justification_matches_only_its_shape(spark, sf_dir):
    # a checkpointed (opaque) relation: benign ONLY under a matching
    # shape-signature justification; a wrong signature stays red.
    small = (
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .select(F.col("r_regionkey").alias("c_id"), F.col("r_name").alias("cv"))
        .localCheckpoint()
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    plan = _plan(o.crossJoin(F.broadcast(small)))
    red = classify_nljs(plan)
    assert red and not any(f.benign for f in red)
    sig = red[0].build_sig
    assert sig == "Scan ExistingRDD[c_id,cv]"
    green = classify_nljs(plan, {sig: "test codebook"})
    assert all(f.benign for f in green)
    still_red = classify_nljs(plan, {"Scan ExistingRDD[other]": "stale"})
    assert not any(f.benign for f in still_red)


# ------------------------------------------------------------------
# bound-engine units over canned plan text
# ------------------------------------------------------------------

_SCALAR_AGG_PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (5)
+- BroadcastNestedLoopJoin Cross BuildRight (4)
   :- Scan parquet  (1)
   +- BroadcastExchange (3)
      +- HashAggregate (2)


(1) Scan parquet
Output [1]: [x#1L]
Location: InMemoryFileIndex [file:/root/testdata/sf0.01/orders.parquet]

(2) HashAggregate
Input [1]: [x#1L]
Keys: []
Functions [1]: [sum(x#1L)]

(3) BroadcastExchange
Input [1]: [s#2L]

(4) BroadcastNestedLoopJoin
Join type: Cross
"""


def test_text_scalar_agg_bound():
    finds = classify_nljs(_SCALAR_AGG_PLAN)
    assert len(finds) == 1
    f = finds[0]
    assert f.benign and f.build_bound == 1 and f.probe_bound == INF


_PID_AGG_PLAN = """\
== Physical Plan ==
BroadcastNestedLoopJoin LeftOuter BuildRight (4)
:- Scan parquet  (1)
+- BroadcastExchange (3)
   +- HashAggregate (2)


(1) Scan parquet
Output [1]: [x#1L]
Location: InMemoryFileIndex [file:/root/testdata/sf0.01/orders.parquet]

(2) HashAggregate
Input [2]: [__prefix_pid#7, s#8L]
Keys [1]: [__prefix_pid#7]
Functions [1]: [sum(x#1L)]
"""


def test_text_prefix_pid_agg_bound():
    finds = classify_nljs(_PID_AGG_PLAN)
    assert len(finds) == 1
    f = finds[0]
    assert f.benign and 1 < f.build_bound <= BOUNDED_THRESHOLD


_TAKE_ORDERED_PLAN = """\
== Physical Plan ==
TakeOrderedAndProject (2)
+- Scan parquet  (1)


(1) Scan parquet
Output [1]: [x#1L]
Location: InMemoryFileIndex [file:/root/testdata/sf0.01/orders.parquet]

(2) TakeOrderedAndProject
Arguments: 32, [x#1L ASC NULLS FIRST], [x#1L]
"""


def test_text_take_ordered_bound():
    roots = parse_plan(_TAKE_ORDERED_PLAN)
    assert len(roots) == 1
    assert bound(roots[0]) == 32


_PK_FILTER_PLAN = """\
== Physical Plan ==
Filter (2)
+- Scan parquet  (1)


(1) Scan parquet
Output [2]: [vec_id#1L, embedding#2]
Location: InMemoryFileIndex [file:/root/testdata/sf0.01/embeddings.parquet]

(2) Filter
Condition : (isnotnull(vec_id#1L) AND (vec_id#1L < 8))
"""


def test_text_dense_pk_filter_bound():
    roots = parse_plan(_PK_FILTER_PLAN)
    assert bound(roots[0]) == 8
    eq = _PK_FILTER_PLAN.replace("(vec_id#1L < 8)", "(vec_id#1L = 3)")
    assert bound(parse_plan(eq)[0]) == 1
    # a non-PK column never bounds
    other = _PK_FILTER_PLAN.replace("vec_id", "payload_id")
    assert bound(parse_plan(other)[0]) == INF


def test_text_data_scale_scan_never_bounded():
    roots = parse_plan(_TAKE_ORDERED_PLAN)
    scan = roots[0].children[0]
    assert bound(scan) == INF


def test_plans_md_has_zero_unexpected():
    """The shipped artifact itself: PLANS.md must carry no standing
    UNEXPECTED flags (the round-13 weak: 50 false alarms would hide a
    real cartesian)."""
    plans = Path(__file__).resolve().parent.parent / "PLANS.md"
    if not plans.exists():
        pytest.skip("PLANS.md not generated yet")
    text = plans.read_text()
    assert "**UNEXPECTED" not in text  # per-plan flags
    assert "UNEXPECTED nested-loop joins: 0 in 0 queries" in text  # header
