"""Golden-case tests for the precedence merge — each case replays a
branch of the reference's merge loop (gule_test_job.py:124-166), per
FIXTURES.md §B."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rds_glue_s3_etl_pipeline_spark.operators.merge import (
    _common_key_type,
    audit_summary,
    precedence_merge,
    unmatched_audit,
)


@pytest.fixture(scope="module")
def s3_feed(spark):
    return spark.createDataFrame(
        [
            # id, name, score, s3_only
            (1, "alice", 1.0, "a"),          # all present → S3 wins everywhere
            (2, None, float("nan"), "b"),    # name null + score NaN → RDS fallback
            (3, "carol", 3.0, "c"),          # id only in S3 → passthrough, NULL rds_only
            (4, "dave", None, "d"),          # score null → RDS fallback
        ],
        "id long, name string, score double, s3_only string",
    )


@pytest.fixture(scope="module")
def rds_table(spark):
    return spark.createDataFrame(
        [
            # id, name, score, rds_only, src_order
            (1, "ALICE", 10.0, 100, 1),
            (2, "BOB", 20.0, 200, 2),
            (4, "DAVE-1", 40.0, 400, 3),   # duplicate id 4: first in order wins
            (4, "DAVE-2", 41.0, 401, 4),
            (9, "zed", 90.0, 900, 5),      # id only in RDS → audit set
            (10, "yak", 91.0, 901, 6),
        ],
        "id long, name string, score double, rds_only long, src_order long",
    )


def rows_by_id(df):
    return {r["id"]: r.asDict() for r in df.collect()}


def test_merge_output_schema_order(spark, s3_feed, rds_table):
    out = precedence_merge(s3_feed, rds_table, fallback_order_col="src_order")
    # S3 columns first in S3 order, then RDS-only columns (:162-163).
    assert out.columns == ["id", "name", "score", "s3_only", "rds_only"]


def test_merge_s3_wins_when_present(spark, s3_feed, rds_table):
    out = rows_by_id(precedence_merge(s3_feed, rds_table, fallback_order_col="src_order"))
    assert out[1] == {
        "id": 1, "name": "alice", "score": 1.0, "s3_only": "a", "rds_only": 100
    }


def test_merge_nan_and_null_fall_back(spark, s3_feed, rds_table):
    out = rows_by_id(precedence_merge(s3_feed, rds_table, fallback_order_col="src_order"))
    # NaN is "missing" exactly like pandas pd.notna (:140).
    assert out[2]["name"] == "BOB"
    assert out[2]["score"] == 20.0
    assert out[4]["score"] == 40.0  # null double → first-match RDS value


def test_merge_unmatched_s3_passthrough(spark, s3_feed, rds_table):
    out = rows_by_id(precedence_merge(s3_feed, rds_table, fallback_order_col="src_order"))
    assert out[3] == {
        "id": 3, "name": "carol", "score": 3.0, "s3_only": "c", "rds_only": None
    }


def test_merge_first_match_only_cardinality(spark, s3_feed, rds_table):
    out = precedence_merge(s3_feed, rds_table, fallback_order_col="src_order")
    # one output row per S3 row despite duplicate id 4 in RDS (:131-132)
    assert out.count() == 4
    assert rows_by_id(out)[4]["rds_only"] == 400  # first match, not 401


def test_merge_rds_only_rows_excluded(spark, s3_feed, rds_table):
    ids = set(rows_by_id(precedence_merge(s3_feed, rds_table, fallback_order_col="src_order")))
    assert 9 not in ids and 10 not in ids


def test_audit_set_and_summary(spark, s3_feed, rds_table):
    audit = unmatched_audit(rds_table, s3_feed)
    assert {r["id"] for r in audit.collect()} == {9, 10}
    s = audit_summary(audit, show=1)
    assert s["total_unmatched"] == 2
    assert s["displayed_ids"] == [9]
    assert s["remaining_count"] == 1


def test_merge_missing_key_raises(spark, s3_feed):
    other = s3_feed.select(F.col("name"))
    with pytest.raises(ValueError):
        precedence_merge(s3_feed, other)


def test_merge_column_missing_both_sides_null(spark):
    """FIXTURES.md case 3: a column in the unioned schema that is
    missing for a given row pair on both sides stays NULL."""
    s3 = spark.createDataFrame([(1, None)], "id long, x string")
    rds = spark.createDataFrame([(1, None)], "id long, x string")
    out = precedence_merge(s3, rds).collect()[0]
    assert out["x"] is None


def test_merge_key_type_coercion_int_vs_string(spark):
    """SURVEY §7c: S3 JSON int64 ids must match JDBC string ids, even
    zero-padded ones ("007" == 7 numerically)."""
    s3 = spark.createDataFrame([(7, "grace"), (8, "heidi")], "id long, name string")
    rds = spark.createDataFrame(
        [("007", 70), ("8", 80), ("oops", 99)], "id string, bonus int"
    )
    out = {r["id"]: r for r in precedence_merge(s3, rds).collect()}
    assert out[7]["bonus"] == 70
    assert out[8]["bonus"] == 80
    # output key keeps the primary side's type
    assert precedence_merge(s3, rds).schema["id"].dataType.typeName() == "long"


def test_merge_key_type_coercion_int_vs_decimal(spark):
    from decimal import Decimal

    s3 = spark.createDataFrame([(5, "eve")], "id long, name string")
    rds = spark.createDataFrame([(Decimal(5), 50)], "id decimal(10,0), bonus int")
    assert precedence_merge(s3, rds).collect()[0]["bonus"] == 50


def test_merge_coerced_dup_fallback_keys_keep_one_row(spark):
    """Fallback keys distinct RAW but equal COERCED ("007" vs "7"
    against a long primary id) must collapse to ONE fallback row before
    the join, preserving exactly-one-output-row-per-primary-row
    (gule_test_job.py:124-156, rds_match.iloc[0] at :131-132)."""
    s3 = spark.createDataFrame([(7, "grace")], "id long, name string")
    rds = spark.createDataFrame(
        [("007", 70, 1), ("7", 77, 2)], "id string, bonus int, src_order int"
    )
    rows = precedence_merge(s3, rds, fallback_order_col="src_order").collect()
    assert len(rows) == 1
    assert rows[0]["bonus"] == 70  # first in src_order wins, iloc[0] parity
    # no internal coercion column leaks into the output schema
    assert "__k" not in precedence_merge(s3, rds, fallback_order_col="src_order").columns


def test_audit_key_type_coercion(spark):
    s3 = spark.createDataFrame([(1, "a")], "id long, name string")
    rds = spark.createDataFrame([("1", 10), ("2", 20)], "id string, bonus int")
    audit = unmatched_audit(rds, s3)
    assert {r["id"] for r in audit.collect()} == {"2"}


def test_merge_broadcast_fallback_with_coercion(spark):
    """A small fallback side is broadcast by size (no hint needed), and
    that composes with key coercion: the coerced __k dedup happens
    before the broadcast build, still one row out."""
    s3 = spark.createDataFrame([(7, "grace")], "id long, name string")
    rds = spark.createDataFrame(
        [("007", 70, 1), ("7", 77, 2)], "id string, bonus int, src_order int"
    )
    merged = precedence_merge(s3, rds, fallback_order_col="src_order")
    rows = merged.collect()
    assert len(rows) == 1 and rows[0]["bonus"] == 70
    assert "BroadcastHashJoin" in merged._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "a, b, want",
    [
        (T.LongType(), T.DecimalType(12, 0), T.LongType()),
        (T.IntegerType(), T.DecimalType(18, 0), T.LongType()),
        (T.DecimalType(10, 0), T.DecimalType(12, 0), T.LongType()),
        (T.LongType(), T.IntegerType(), T.LongType()),
        (T.LongType(), T.DecimalType(19, 0), T.DecimalType(38, 18)),
        (T.LongType(), T.DecimalType(10, 2), T.DecimalType(38, 18)),
        (T.LongType(), T.StringType(), T.DecimalType(38, 18)),
        (T.DoubleType(), T.DecimalType(12, 0), T.DoubleType()),
        (T.StringType(), T.BinaryType(), T.StringType()),
        (T.DecimalType(12, 0), T.DecimalType(12, 0), None),
    ],
)
def test_common_key_type_table(a, b, want):
    """Exact-integer sides (integral, or DECIMAL(p, 0) with p <= 18)
    compare as bigint; a fraction, more than 18 digits or a string
    keeps the wide decimal. The rule is symmetric."""
    assert _common_key_type(a, b) == want
    assert _common_key_type(b, a) == want


def test_merge_and_audit_decimal_id_equal_long_id(spark):
    """A DECIMAL(12,0) fallback id (the JDBC shape) merges and audits
    exactly like the same ids as long — duplicates, NULL keys, 12-digit
    ids and several partitions — and the executed merge joins on
    bigint, not decimal(38,18)."""
    from decimal import Decimal

    big = 999_999_999_990
    primary = spark.createDataFrame(
        [(i, f"p{i}" if i % 3 else None) for i in (1, 2, 3, 5, 8, big, big + 7)]
        + [(None, "nokey")],
        "id long, name string",
    ).repartition(3)
    fb_rows = [
        (1, 1, "a", 10), (2, 2, "b", 20), (2, 3, "b2", 21), (5, 4, None, 50),
        (big, 5, "z", 90), (big, 6, "z2", 91), (4, 7, "u", 40),
        (big + 1, 8, "u2", 41), (None, 9, "n", 0),
    ]
    fb_long = spark.createDataFrame(
        fb_rows, "id long, seq int, name string, bonus int"
    ).repartition(4)
    fb_dec = spark.createDataFrame(
        [(None if i is None else Decimal(i), *rest) for i, *rest in fb_rows],
        "id decimal(12,0), seq int, name string, bonus int",
    ).repartition(4)

    def merged_rows(fb):
        df = precedence_merge(primary, fb, fallback_order_col="seq")
        rows = sorted(df.collect(), key=lambda r: (r["id"] is None, r["id"] or 0))
        return df, [r.asDict() for r in rows]

    dec_df, dec_rows = merged_rows(fb_dec)
    _, long_rows = merged_rows(fb_long)
    assert dec_rows == long_rows
    assert len(dec_rows) == 8
    plan = dec_df._jdf.queryExecution().executedPlan().toString()
    assert "decimal(38,18)" not in plan
    assert "bigint" in plan

    s_dec = audit_summary(unmatched_audit(fb_dec, primary), show=2)
    s_long = audit_summary(unmatched_audit(fb_long, primary), show=2)
    s_dec["displayed_ids"] = [None if i is None else int(i) for i in s_dec["displayed_ids"]]
    assert s_dec == s_long
    assert s_long == {
        "total_unmatched": 3,
        "displayed_ids": [None, 4],
        "remaining_count": 1,
    }


def test_audit_summary_matches_count_and_sorted_collect(spark):
    """The total counted under the TakeOrdered equals a separate
    count(), and the ids equal a sorted collect, on multi-partition
    input with duplicate and NULL keys, on empty input, and with
    show=0."""
    rows = [(None if i % 11 == 0 else i % 37, i) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(8)
    want_ids = [r["id"] for r in df.orderBy("id").limit(10).collect()]
    s = audit_summary(df)
    assert s["total_unmatched"] == df.count() == 500
    assert s["displayed_ids"] == want_ids
    assert s["remaining_count"] == 490

    s0 = audit_summary(df, show=0)
    assert s0 == {"total_unmatched": 500, "displayed_ids": [], "remaining_count": 500}

    empty = spark.createDataFrame([], "id long, v long").repartition(4)
    assert audit_summary(empty) == {
        "total_unmatched": 0,
        "displayed_ids": [],
        "remaining_count": 0,
    }


def test_audit_summary_exact_when_audit_fits_the_limit(spark):
    """Fewer unmatched rows than ``show``, on cached inputs, repeated:
    the case where AQE learns the row count at run time. With an
    ordered limit over the observation it dropped the limit and the
    range-partition sampling job counted every row twice (2 unmatched
    rows reported as 4 from the second call on)."""
    for _ in range(4):
        primary = spark.createDataFrame([(i,) for i in range(100, 105)], "id long").cache()
        fallback = spark.createDataFrame([(1,), (2,)], "id long").cache()
        try:
            s = audit_summary(unmatched_audit(fallback, primary))
        finally:
            primary.unpersist()
            fallback.unpersist()
        assert s == {"total_unmatched": 2, "displayed_ids": [1, 2], "remaining_count": 0}
