"""Corpus monitoring / planning batch 2: curriculum phase assignment
by exact global rank (q203), week-over-week event-distribution drift
as total-variation distance (q204), and a join-key skew report
(q205).

A pipeline that feeds a long-running training run needs (a) an
ordering policy over the corpus (curriculum), (b) a drift monitor
that says when the incoming distribution moved (refresh / re-mix
trigger), and (c) skew diagnostics that justify salting before a key
becomes a straggler. All three are aggregation-shaped: one shuffle on
the natural key, tiny outputs, exact arithmetic.

Reference scope: beyond-reference training-data families
(SURVEY §2.11); the reference job has no planning or monitoring
surface.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.text import token_count
from ..operators.prefix import global_row_number
from .registry import query

# --------------------------------------------------------------------------
# q203: curriculum phases — bucket the corpus into 4 difficulty
# phases by EXACT global rank of token count (easy -> hard).
# --------------------------------------------------------------------------

_N_PHASES = 4

_Q203_ORACLE = f"""
WITH d AS (
  SELECT doc_id, n_chars,
         CAST(array_length(regexp_split_to_array(TRIM(text), '\\s+')) AS BIGINT)
           AS n_tok
  FROM documents
),
r AS (
  SELECT doc_id, n_chars, n_tok,
         ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM d
),
p AS (
  SELECT CAST(({_N_PHASES} * (rn - 1)) // n AS BIGINT) AS phase,
         n_tok, n_chars
  FROM r
)
SELECT phase,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_tok) AS BIGINT) AS min_tok,
       CAST(MAX(n_tok) AS BIGINT) AS max_tok,
       CAST(CAST(CAST(SUM(CAST(n_chars AS DECIMAL(24,8))) AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE)
         / COUNT(*) AS avg_chars
FROM p
GROUP BY phase
"""


@query("q203_curriculum_phases", oracle=_Q203_ORACLE, tags=("text", "planning", "EXT"))
def q203_curriculum_phases(spark, sf_dir):
    """Assign every document to one of 4 curriculum phases by exact
    global rank of its whitespace token count (ties broken by doc_id)
    — the deterministic easy-to-hard ordering a staged training run
    consumes. phase = floor(P * (rank-1) / N): pure integer
    arithmetic, so phase boundaries are exact and the oracle
    hash-matches. The rank is the two-pass prefix-sum form
    (operators/prefix.py: range-partition on (n_tok, doc_id),
    per-partition counts, offset-shifted local ranks) — every task
    ranks only its own partition, so the same plan holds at 100 TB.
    The oracle keeps the SQL-twin ROW_NUMBER window, pinning the
    BUCKETING POLICY while the implementation stays distributed
    (tools/rank_race_experiment.py, at commit 669f295, proved
    histogram-identity of the two forms and a 1.6x single-box win for
    this one at 20M rows; SCALE.md records the numbers).
    N rides along as max(rn) — a broadcast one-row aggregate over the
    already-checkpointed ranked frame, no second scan of documents."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", token_count("text").cast("long").alias("n_tok")
    )
    r = global_row_number(d, ["n_tok", "doc_id"], out_col="rn")
    n = r.agg(F.max("rn").alias("n"))
    p = r.crossJoin(F.broadcast(n)).select(
        # integer floor-division on both engines (DuckDB `//`, Spark
        # DIV) — `/` would be float division with engine-specific
        # cast-to-int rounding at phase boundaries
        F.expr(f"CAST(({_N_PHASES} * (rn - 1)) DIV n AS BIGINT)").alias("phase"),
        "n_tok",
        "n_chars",
    )
    return p.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tok").alias("min_tok"),
        F.max("n_tok").alias("max_tok"),
        (
            F.sum(F.col("n_chars").cast("decimal(24,8)"))
            .cast("decimal(38,8)")
            .cast("string")
            .cast("double")
            / F.count(F.lit(1))
        ).alias("avg_chars"),
    )


# --------------------------------------------------------------------------
# q204: corpus drift — week-over-week total-variation distance of the
# event-type distribution. TVD = 0.5 * sum |p_w - p_{w-1}|.
# --------------------------------------------------------------------------

_Q204_ORACLE = """
WITH c AS (
  SELECT date_trunc('week', ts) AS wk, event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
wt AS (SELECT wk, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY wk),
grid AS (
  SELECT w.wk, w.n, t.event_type, COALESCE(c.cnt, 0) AS cnt
  FROM wt w
  CROSS JOIN (SELECT DISTINCT event_type FROM events) t
  LEFT JOIN c ON c.wk = w.wk AND c.event_type = t.event_type
),
sh AS (
  SELECT wk, n, event_type, CAST(cnt AS DOUBLE) / n AS share,
         LAG(CAST(cnt AS DOUBLE) / n) OVER (PARTITION BY event_type ORDER BY wk)
           AS prev_share
  FROM grid
)
SELECT strftime(wk, '%Y-%m-%d') AS week_start,
       CAST(MAX(n) AS BIGINT) AS n_events,
       0.5 * CAST(CAST(CAST(SUM(CAST(ROUND(ABS(share - prev_share), 12) AS DECIMAL(26,12))) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)
         AS tvd
FROM sh
WHERE prev_share IS NOT NULL
GROUP BY wk
"""


@query("q204_corpus_drift_tvd", oracle=_Q204_ORACLE, tags=("events", "monitor", "EXT"))
def q204_corpus_drift_tvd(spark, sf_dir):
    """Week-over-week drift of the event-type distribution as total-
    variation distance — the re-mix/refresh trigger for a live corpus
    feed. The (week x type) grid is completed with zeros before the
    LAG so a type that disappears still contributes its full share to
    the distance. TVD is rational in the counts: shares are fixed
    IEEE divisions, |diff| rounded 12dp and decimal-summed, so the
    oracle hash-matches. Scale: two aggregates on (week, type) — a
    few thousand groups regardless of event volume — and a window
    over weeks; the heavy input pass is one map-side-combinable
    count."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy(
        F.date_trunc("week", "ts").alias("wk"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wt = c.groupBy("wk").agg(F.sum("cnt").alias("n"))
    types = ev.select("event_type").distinct()
    grid = (
        wt.crossJoin(F.broadcast(types))
        .join(c, ["wk", "event_type"], "left")
        .select("wk", "n", "event_type", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    share = (F.col("cnt").cast("double") / F.col("n")).alias("share")
    sh = grid.select(
        "wk",
        "n",
        "event_type",
        share,
        F.lag(F.col("cnt").cast("double") / F.col("n"))
        .over(Window.partitionBy("event_type").orderBy("wk"))
        .alias("prev_share"),
    )
    return (
        sh.where(F.col("prev_share").isNotNull())
        .groupBy("wk")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            (
                F.lit(0.5)
                * F.sum(
                    F.round(F.abs(F.col("share") - F.col("prev_share")), 12).cast(
                        "decimal(26,12)"
                    )
                )
                .cast("decimal(38,12)")
                .cast("string")
                .cast("double")
            ).alias("tvd"),
        )
        .select(
            F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
            "n_events",
            "tvd",
        )
    )


# --------------------------------------------------------------------------
# q205: join-key skew report — the diagnostics that justify salting
# (operators/skew.py) before a hot key becomes a straggler.
# --------------------------------------------------------------------------

_Q205_TOP = 10

_Q205_ORACLE = f"""
WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
t AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS total FROM c)
SELECT * FROM (
  SELECT ROW_NUMBER() OVER (ORDER BY c.cnt DESC, c.user_id) AS rnk,
         c.user_id, CAST(c.cnt AS BIGINT) AS cnt,
         CAST(c.cnt AS DOUBLE) / t.total AS share,
         CAST(c.cnt AS DOUBLE) * t.n_keys / t.total AS x_mean
  FROM c CROSS JOIN t
) WHERE rnk <= {_Q205_TOP}
"""


@query("q205_key_skew_report", oracle=_Q205_ORACLE, tags=("events", "monitor", "EXT"))
def q205_key_skew_report(spark, sf_dir):
    """Top-10 heaviest join keys with their share of all rows and
    their multiple of the mean key weight — the numbers that decide
    whether a join needs salting (operators/skew.py measured salted
    vs plain under a 17.8%-hot key; THIS query is how that key gets
    found). One groupBy on the key, a two-number global aggregate
    broadcast back, TakeOrderedAndProject for the top slice."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("cnt").alias("total")
    )
    ranked = (
        c.crossJoin(F.broadcast(t))
        .select(
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), F.asc("user_id")))
            .cast("long")
            .alias("rnk"),
            "user_id",
            F.col("cnt").cast("long").alias("cnt"),
            (F.col("cnt").cast("double") / F.col("total")).alias("share"),
            (
                F.col("cnt").cast("double") * F.col("n_keys") / F.col("total")
            ).alias("x_mean"),
        )
        .where(F.col("rnk") <= _Q205_TOP)
    )
    return ranked
