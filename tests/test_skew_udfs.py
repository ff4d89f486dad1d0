from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from rds_glue_s3_etl_pipeline_spark.functions.udfs import log1p_abs, order_gap_stats
from rds_glue_s3_etl_pipeline_spark.operators.skew import salted_join


def test_salted_join_equals_plain_join(spark):
    random.seed(7)
    # one pathological hot key (90% of rows) + a long tail
    big = spark.createDataFrame(
        [(1 if random.random() < 0.9 else random.randint(2, 50), i) for i in range(5000)],
        "k long, payload long",
    )
    small = spark.createDataFrame(
        [(k, f"dim_{k}") for k in range(1, 51)], "k long, label string"
    )
    plain = big.join(small, "k").groupBy("k", "label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s")
    )
    salted = salted_join(big, small, "k").groupBy("k", "label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, 10), (99, 20)], "k long, payload long")
    small = spark.createDataFrame([(1, "a")], "k long, label string")
    out = {r["k"]: r["label"] for r in salted_join(big, small, "k", how="left").collect()}
    assert out == {1: "a", 99: None}


def test_pandas_udf_vectorized(spark):
    import math

    df = spark.createDataFrame([(-3.0,), (0.0,), (7.0,)], "v double")
    got = [r["y"] for r in df.select(log1p_abs("v").alias("y")).collect()]
    assert got == [math.log1p(3.0), 0.0, math.log1p(7.0)]


def test_order_gap_stats_small(spark):
    orders = spark.createDataFrame(
        [
            (1, 100, "2024-01-01"),
            (1, 101, "2024-01-03"),   # gap 2
            (1, 102, "2024-01-09"),   # gap 6
            (2, 200, "2024-05-05"),   # single order → null gaps
        ],
        "o_custkey long, o_orderkey long, o_orderdate string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    out = {r["o_custkey"]: r for r in order_gap_stats(orders).collect()}
    assert out[1]["n_orders"] == 3
    assert out[1]["median_gap_days"] == 4.0   # median of [2, 6]
    assert out[1]["max_gap_days"] == 6.0
    assert out[2]["n_orders"] == 1
    assert out[2]["median_gap_days"] is None


def test_salted_join_rejects_outer_modes(spark):
    import pytest

    big = spark.createDataFrame([(1, 10)], "k long, payload long")
    small = spark.createDataFrame([(1, "a")], "k long, label string")
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(big, small, "k", how=how)


def test_arrow_udf_digit_density_matches_builtin(spark):
    """The Arrow-native UDF must agree with the pure-builtin digit
    ratio (functions/text.py) on every row — same semantics, different
    execution tier."""
    from rds_glue_s3_etl_pipeline_spark.functions import text as X
    from rds_glue_s3_etl_pipeline_spark.functions import udfs

    if not udfs.HAS_ARROW_UDF:  # pragma: no cover - older Spark
        pytest.skip("arrow_udf needs Spark 4.1+ (udfs.py degrades gracefully)")
    digit_density = udfs.digit_density
    df = spark.createDataFrame(
        [("abc123",), ("2024",), ("no digits here",), ("a1b2c3d4",)],
        "text string",
    )
    got = df.select(
        digit_density("text").alias("a"),
        X.digit_ratio("text").alias("b"),
    ).collect()
    for r in got:
        assert r["a"] == pytest.approx(r["b"])
    # the arrow kernel handles the empty string itself (0.0, no ANSI
    # divide-by-zero — the builtin ratio requires non-empty input)
    empty = spark.createDataFrame([("",)], "text string").select(
        digit_density("text").alias("a")
    ).collect()
    assert empty[0]["a"] == 0.0


def test_gated_broadcast_under_gate_hints(spark):
    from rds_glue_s3_etl_pipeline_spark.operators.skew import gated_broadcast

    small = spark.range(10).withColumnRenamed("id", "k")
    big = spark.range(1000).withColumnRenamed("id", "k")
    joined = big.join(gated_broadcast(small, max_rows=100), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert joined.count() == 10


def test_gated_broadcast_over_gate_falls_back(spark):
    from rds_glue_s3_etl_pipeline_spark.operators.skew import gated_broadcast

    side = spark.range(500).withColumnRenamed("id", "k")
    big = spark.range(1000).withColumnRenamed("id", "k")
    gated = gated_broadcast(side, max_rows=100)
    # no broadcast hint applied: the logical plan has no ResolvedHint
    assert "ResolvedHint" not in gated._jdf.queryExecution().logical().toString()
    assert big.join(gated, "k").count() == 500


def test_local_relation_fast_path_pinned(spark):
    """gated_broadcast's job-free fast path reflects on JVM plan
    internals (the LocalRelation class name and ``data().size()``).
    Pin it on the installed Spark: a pandas createDataFrame with a
    schema (the shape of graph._local_cc_result) must report its exact
    row count, a distributed frame must report None, and gating the
    local frame must submit no Spark job — an upgrade that renames
    either internal fails here instead of silently paying the probe."""
    import pandas as pd

    from rds_glue_s3_etl_pipeline_spark.operators.skew import (
        _local_relation_rows,
        gated_broadcast,
    )

    pdf = pd.DataFrame({"id": [1, 2, 3, 4, 5, 6, 7], "cluster_id": [1, 1, 1, 4, 4, 6, 6]})
    local = spark.createDataFrame(pdf, schema="id long, cluster_id long")
    assert _local_relation_rows(local) == 7
    assert _local_relation_rows(spark.range(5)) is None

    sc = spark.sparkContext
    group = "test_local_relation_fast_path"
    sc.setJobGroup(group, "gated_broadcast job accounting")
    try:
        gated = gated_broadcast(local, max_rows=100)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert "ResolvedHint" in gated._jdf.queryExecution().analyzed().toString()
        # control: the distributed path's count probe IS a job here
        gated_broadcast(spark.range(5), max_rows=100)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
