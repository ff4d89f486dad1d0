"""Third batch: order preservation (O1), range join (J6 variant),
range-frame windows (W3), and the applyInPandas UDAF surface (§2.10).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.udfs import order_gap_stats
from ..operators.prefix import global_row_number
from ..session import local_frame
from .registry import DEC, query

# --------------------------------------------------------------------------
# O1/P1: explicit order preservation + column-order projection.
# --------------------------------------------------------------------------

_Q45_ORACLE = """
SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) AS seq,
       o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_orderkey % 10 = 0
"""


@query("q45_ordered_projection", oracle=_Q45_ORACLE, tags=("sort", "O1", "P1"))
def q45_ordered_projection(spark, sf_dir):
    """Order preservation made explicit (SURVEY §2.6 O1): Spark has no
    implicit row order, so ordered output carries a materialized
    sequence column — the engine's replacement for the reference's
    'iterate the file in order'. Computed with the two-pass distributed
    prefix operator (operators/prefix.py), NOT a single-partition
    window: range-shuffle + per-partition rank + broadcast offsets, so
    the plan holds at 100 TB."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    return global_row_number(o, ["o_orderkey"], out_col="seq").select(
        "seq", "o_orderkey", "o_orderstatus", "o_totalprice"
    )


# --------------------------------------------------------------------------
# J6 variant: interval/range join of events against period dimensions.
# --------------------------------------------------------------------------

_PERIODS = [
    ("new_year", "2024-01-02 00:00:00", "2024-01-06 00:00:00"),
    ("mid_month", "2024-01-14 00:00:00", "2024-01-17 00:00:00"),
    ("month_end", "2024-01-28 00:00:00", "2024-02-01 00:00:00"),
]

_Q46_ORACLE = f"""
WITH periods(promo, p_start, p_end) AS (
  VALUES {", ".join(f"('{n}', TIMESTAMP '{s}', TIMESTAMP '{e}')" for n, s, e in _PERIODS)}
)
SELECT e.event_id, e.event_type, p.promo
FROM events e JOIN periods p
  ON e.ts >= p.p_start AND e.ts < p.p_end
"""


@query("q46_range_join", oracle=_Q46_ORACLE, tags=("join", "J6"))
def q46_range_join(spark, sf_dir):
    """Interval join: events ⋈ promo periods on ts ∈ [start, end).

    Planned as BroadcastNestedLoopJoin — correct choice when the range
    side is a handful of periods (each event tests a few intervals
    map-side, no shuffle). For large range sides, bucketize the time
    axis and equi-join on bucket first (the asof_join pattern)."""
    e = load(spark, sf_dir, "events")
    periods = local_frame(spark, _PERIODS, "promo string, p_start string, p_end string")
    periods = periods.select(
        "promo",
        F.col("p_start").cast("timestamp").alias("p_start"),
        F.col("p_end").cast("timestamp").alias("p_end"),
    )
    return (
        e.join(
            F.broadcast(periods),
            (e.ts >= periods.p_start) & (e.ts < periods.p_end),
        )
        .select("event_id", "event_type", "promo")
    )


# --------------------------------------------------------------------------
# W3: range-frame window (trailing 30 days).
# --------------------------------------------------------------------------

_Q47_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(COUNT(*) OVER w AS BIGINT) AS orders_30d,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(24,8))) OVER w AS DOUBLE) AS spend_30d
FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
         DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num
  FROM orders
)
WINDOW w AS (PARTITION BY o_custkey ORDER BY day_num
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
"""


@query("q47_trailing_window", oracle=_Q47_ORACLE, tags=("window", "W3"))
def q47_trailing_window(spark, sf_dir):
    """Trailing-30-day per-customer order count/spend via a RANGE frame
    over a day number (SURVEY §2.5 W3). Range frames are
    tie-insensitive (all same-day peers included), so the result is
    deterministic without a unique tiebreak."""
    o = load(spark, sf_dir, "orders").withColumn(
        "day_num",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1)).over(w).cast("long").alias("orders_30d"),
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("spend_30d"),
    )


# --------------------------------------------------------------------------
# §2.10: applyInPandas UDAF, oracle-verified.
# --------------------------------------------------------------------------

_Q48_ORACLE = """
WITH g AS (
  SELECT o_custkey,
         DATE_DIFF('day',
                   LAG(CAST(o_orderdate AS DATE)) OVER w,
                   CAST(o_orderdate AS DATE)) AS gap
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT o_custkey,
       COUNT(*) AS n_orders,
       CAST(quantile_cont(gap, 0.5) AS DOUBLE) AS median_gap_days,
       CAST(MAX(gap) AS DOUBLE) AS max_gap_days
FROM g GROUP BY o_custkey
"""


@query("q48_order_gap_stats", oracle=_Q48_ORACLE, tags=("udaf", "EXT"))
def q48_order_gap_stats(spark, sf_dir):
    """Custom per-group aggregation through applyInPandas (the UDAF
    escape hatch, SURVEY §2.10) — deliberately also SQL-expressible so
    the pandas path itself is oracle-verified."""
    return order_gap_stats(load(spark, sf_dir, "orders"))
