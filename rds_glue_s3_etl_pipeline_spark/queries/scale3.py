"""Second scale-pattern batch: mergeable quantile state, wide→long
reshaping, time-spine gap filling, and weighted sampling.

Reference parity note: none of these exist in the reference
(`/root/reference/gule_test_job.py` is a single merge job); they are
north-star EXT surface (SURVEY §2), each oracle-verified.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import local_frame
from .registry import O_DSUM, dsum, query

# --------------------------------------------------------------------------
# q117: mergeable quantile state — the quantile analog of q105's HLL
# and q112's rollup state. Exact percentiles need a full sort (or a
# per-group collect) and CANNOT be merged across slices; a fixed-bin
# histogram can: per-slice bin counts are tiny, merge = SUM, and the
# quantile is read off the merged cumulative histogram. The estimate
# is deterministic (integer bin counts + one linear interpolation), so
# unlike a sampled sketch it is SQL-expressible and the oracle checks
# it EXACTLY — while the error vs the true quantile is bounded by the
# bin width.
# --------------------------------------------------------------------------

_BIN_W = 100  # price bin width; prices span ~[900, 105k] → ~1k bins

_Q117_ORACLE = f"""
WITH state AS (  -- per-slice histogram state: (slice, bin) counts
  SELECT date_trunc('month', o_orderdate) AS slice_month,
         CAST(floor(o_totalprice / {_BIN_W}) AS BIGINT) AS bin,
         COUNT(*) AS c
  FROM orders GROUP BY 1, 2
), merged AS (  -- merge slices: SUM per bin
  SELECT bin, SUM(c) AS c FROM state GROUP BY bin
), cum AS (
  SELECT bin, c,
         SUM(c) OVER (ORDER BY bin) AS cum,
         SUM(c) OVER () AS n
  FROM merged
), qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
hit AS (
  SELECT qs.q, cum.bin, cum.c, cum.cum, cum.n,
         CAST(ceil(qs.q * cum.n) AS BIGINT) AS target,
         ROW_NUMBER() OVER (PARTITION BY qs.q ORDER BY cum.bin) AS rn
  FROM qs JOIN cum ON cum.cum >= CAST(ceil(qs.q * cum.n) AS BIGINT)
)
SELECT q,
       CAST(bin * {_BIN_W} AS DOUBLE)
         + {_BIN_W} * (CAST(target - (cum - c) AS DOUBLE) / c) AS quantile_est
FROM hit WHERE rn = 1
"""


@query("q117_mergeable_quantiles", oracle=_Q117_ORACLE, tags=("agg", "A6", "scale"))
def q117_mergeable_quantiles(spark, sf_dir):
    """p50/p90/p99 of order totals from per-month histogram states
    merged bin-wise — no global sort, state is O(bins) per slice, and
    adding a new month of data touches one slice. Bin width bounds the
    estimate error; the arithmetic (integer counts, one interpolation)
    is deterministic, so the oracle matches exactly."""
    o = load(spark, sf_dir, "orders")
    state = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("slice_month"),
        F.floor(F.col("o_totalprice") / _BIN_W).cast("long").alias("bin"),
    ).agg(F.count(F.lit(1)).alias("c"))
    merged = state.groupBy("bin").agg(F.sum("c").alias("c"))
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.select(
        "bin",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    qs = local_frame(spark, [(0.5,), (0.9,), (0.99,)], "q double")
    target = F.ceil(F.col("q") * F.col("n")).cast("long")
    hit = (
        F.broadcast(qs)
        .join(cum, cum.cum >= F.ceil(F.col("q") * F.col("n")).cast("long"))
        .withColumn("target", target)
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("q").orderBy("bin"))
        )
        .filter(F.col("rn") == 1)
    )
    est = (F.col("bin") * _BIN_W).cast("double") + _BIN_W * (
        (F.col("target") - (F.col("cum") - F.col("c"))).cast("double")
        / F.col("c")
    )
    return hit.select("q", est.alias("quantile_est"))


# --------------------------------------------------------------------------
# q119: unpivot (wide → long). The reshaping twin of q37's pivot:
# per-returnflag measure totals melted to (flag, measure, value) rows
# — the layout a metrics store or a plotting layer wants. Spark 3.4+
# has a first-class DataFrame.unpivot (MELT); DuckDB has UNPIVOT.
# --------------------------------------------------------------------------

_Q119_ORACLE = f"""
WITH wide AS (
  SELECT l_returnflag,
         {O_DSUM('l_quantity')} AS sum_qty,
         {O_DSUM('l_extendedprice')} AS sum_price,
         CAST(COUNT(*) AS DOUBLE) AS n_items
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, measure, value
FROM wide UNPIVOT (value FOR measure IN (sum_qty, sum_price, n_items))
"""


@query("q119_unpivot", oracle=_Q119_ORACLE, tags=("reshape", "U2"))
def q119_unpivot(spark, sf_dir):
    """Wide→long melt of per-flag measures via DataFrame.unpivot —
    constant-width output schema regardless of measure count, no
    self-union of N scans (the naive melt reads the table once per
    measure; unpivot reads it once, total). Sums take the dsum string
    hop: the bare decimal→double cast drifted 1 ulp from DuckDB once
    sum_price crossed ~1e10 (caught by the round-10 sf0.1 sweep)."""
    li = load(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_items"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "n_items"],
        "measure",
        "value",
    )


# --------------------------------------------------------------------------
# q120: time-spine gap filling — resample each customer's order
# history to a dense monthly series (zeros for inactive months)
# between their first and last order. The feature-engineering shape
# behind any per-entity time series model; naive implementations
# cross-join a global calendar (rows = customers × all months), this
# one generates each customer's own span via sequence(), so output
# rows = Σ personal spans.
# --------------------------------------------------------------------------

_Q120_ORACLE = """
WITH span AS (
  SELECT o_custkey,
         date_trunc('month', MIN(o_orderdate)) AS lo,
         date_trunc('month', MAX(o_orderdate)) AS hi
  FROM orders WHERE o_custkey <= 150 GROUP BY o_custkey
), spine AS (
  SELECT o_custkey,
         unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month
  FROM span
), actual AS (
  SELECT o_custkey, date_trunc('month', o_orderdate) AS month,
         COUNT(*) AS n
  FROM orders WHERE o_custkey <= 150 GROUP BY 1, 2
)
SELECT s.o_custkey, strftime(s.month, '%Y-%m') AS month,
       COALESCE(a.n, 0) AS n_orders
FROM spine s LEFT JOIN actual a
  ON a.o_custkey = s.o_custkey AND a.month = s.month
"""


@query("q120_gap_fill", oracle=_Q120_ORACLE, tags=("timeseries", "EXT"))
def q120_gap_fill(spark, sf_dir):
    """Dense monthly activity series per customer, zero-filled between
    first and last order months. sequence() explodes each customer's
    own span (no global calendar cross-join); the spine↔actual join is
    keyed on (custkey, month) — same partitioning as the aggregate
    that produced 'actual', so AQE coalesces it into the existing
    shuffle."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 150)
    month = F.date_trunc("month", "o_orderdate")
    span = o.groupBy("o_custkey").agg(
        F.min(month).alias("lo"), F.max(month).alias("hi")
    )
    spine = span.select(
        "o_custkey",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
        ).alias("month"),
    )
    actual = o.groupBy(
        "o_custkey", month.alias("month")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.join(actual, ["o_custkey", "month"], "left")
        .select(
            "o_custkey",
            F.date_format("month", "yyyy-MM").alias("month"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
    )


# --------------------------------------------------------------------------
# q121: weighted sampling (A-ES / Efraimidis-Spirakis) with a
# DETERMINISTIC pseudo-uniform — per segment, draw 5 customers with
# probability proportional to account balance. Priority ln(u)/w is
# rank-equivalent to the classic u^(1/w); u comes from a Knuth
# multiplicative hash of the key so the sample is reproducible across
# engines, runs, and cluster layouts (a nondeterministic rand() here
# would make training-data subsets unauditable).
# --------------------------------------------------------------------------

_Q121_ORACLE = """
WITH u AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         (CAST((c_custkey * 2654435761) % 1000003 AS DOUBLE) + 1) / 1000004
           AS u,
         CASE WHEN c_acctbal > 1 THEN c_acctbal ELSE 1 END AS w
  FROM customer
), ranked AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY ln(u) / w DESC, c_custkey) AS rk
  FROM u
)
SELECT c_mktsegment, rk, c_custkey, c_acctbal
FROM ranked WHERE rk <= 5
"""


@query("q121_weighted_sample", oracle=_Q121_ORACLE, tags=("sample", "EXT"))
def q121_weighted_sample(spark, sf_dir):
    """Top-5 weighted sample per market segment, Efraimidis-Spirakis
    priorities over a deterministic hash-uniform. One window per
    segment partition; the priority itself is never emitted (it is a
    transcendental — only the ORDER it induces must agree across
    engines, and ties are broken by key)."""
    c = load(spark, sf_dir, "customer")
    u = (
        ((F.col("c_custkey") * F.lit(2654435761)) % 1000003).cast("double")
        + 1
    ) / 1000004
    w = F.when(F.col("c_acctbal") > 1, F.col("c_acctbal")).otherwise(F.lit(1.0))
    pr = F.log(u) / w
    rk = F.row_number().over(
        Window.partitionBy("c_mktsegment").orderBy(
            F.desc(pr), F.asc("c_custkey")
        )
    )
    return (
        c.select(
            "c_custkey", "c_mktsegment", "c_acctbal", rk.cast("long").alias("rk")
        )
        .filter(F.col("rk") <= 5)
        .select("c_mktsegment", "rk", "c_custkey", "c_acctbal")
    )


# --------------------------------------------------------------------------
# q118: semi-structured shredding via VariantType (Spark 4) — parse
# once into the binary variant encoding, then typed-path extraction.
# Against a 100 TB event stream this is the schema-on-read path that
# does NOT re-parse JSON text per access: variant decode is a typed
# byte-offset lookup, and shredded columns behave like native ones
# downstream (here: grouped stats on the extracted key).
# --------------------------------------------------------------------------

_Q118_ORACLE = """
SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS INTEGER)
         AS k_bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
         AS sum_k
FROM events
WHERE event_type = 'click'
GROUP BY k_bucket
"""


@query("q118_variant_shred", oracle=_Q118_ORACLE, tags=("json", "variant", "EXT"))
def q118_variant_shred(spark, sf_dir):
    """Shred events.props through VariantType: parse_json once,
    variant_get typed extraction, then plain grouped aggregation on
    the shredded value. The filter on event_type still pushes to the
    parquet scan (shredding happens after pruning)."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        e.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
        )
    )
