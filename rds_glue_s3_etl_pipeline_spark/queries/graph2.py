"""Graph batch 2 — triangle enumeration over the part co-purchase
graph, completing the graph suite (connected components q60/q113,
PageRank q137): triangles are the community-cohesion signal a corpus
link graph uses to find tightly-coupled source clusters.

The algorithm is the standard degree-ordered node-iterator (compact
statement in Suri & Vassilvitskii, WWW'11 "Counting Triangles and the
Curse of the Last Reducer"): orient every edge along the total order
(degree, node) and join oriented wedges with their closing edge. Each
triangle is counted exactly once, and per-node join fan-out is bounded
by out-degree under the orientation — the trick that tames power-law
hubs (a hub's edges point INTO it, so it never fans out).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load
from ..session import checkpoint
from .registry import query

_TRI_SUPPORT = 2

_Q153_ORACLE = f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pair AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS s
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
),
e AS (SELECT u, v FROM pair WHERE s >= {_TRI_SUPPORT}),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY node
),
orient AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
)
SELECT w1.src AS u, w1.dst AS v, w2.dst AS w
FROM orient w1
JOIN orient w2 ON w2.src = w1.src AND w2.dst <> w1.dst
JOIN orient c ON c.src = w1.dst AND c.dst = w2.dst
"""


@query("q153_triangle_enum", oracle=_Q153_ORACLE, tags=("graph", "join", "EXT"))
def q153_triangle_enum(spark, sf_dir):
    """Enumerate triangles in the part co-purchase graph (parts
    co-occurring in >= {_TRI_SUPPORT} orders are connected), via
    degree-ordered wedges: orient each edge along the (degree, node)
    total order, join wedges sharing their low node, close with the
    third edge. Each triangle appears exactly once as (u, v, w) in
    orientation order.

    Scale: the support threshold prunes the pair table BEFORE the
    graph forms (the df-cap lesson applied to co-occurrence — a hot
    part's pair fan-out is quadratic in its order frequency, and
    support-{_TRI_SUPPORT}+ pairs are the only signal-bearing edges);
    the orientation bounds wedge fan-out by out-degree, which the
    (degree, node) order keeps ~sqrt(edges) even on power-law graphs —
    the hub's edges all point INTO it. The closing-edge join is a plain
    equi-join, shuffle-partitioned on the wedge's far nodes.
    """
    op = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    e = checkpoint(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= _TRI_SUPPORT)
        .select("u", "v")
        # The pair build (lineitem self-join + aggregate) is the
        # dominant stage and feeds FIVE plan paths below (deg via both
        # orientations, then the orient join's three inputs) —
        # materialize it rather than lean on exchange reuse.
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    orient = checkpoint(
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        # The oriented edge list is read three times below (two wedge
        # sides + the closing join) — materialize it once.
    )
    w1 = orient.alias("w1")
    w2 = orient.alias("w2")
    c = orient.alias("c")
    return (
        w1.join(
            w2,
            (F.col("w2.src") == F.col("w1.src"))
            & (F.col("w2.dst") != F.col("w1.dst")),
        )
        .join(
            c,
            (F.col("c.src") == F.col("w1.dst"))
            & (F.col("c.dst") == F.col("w2.dst")),
        )
        .select(
            F.col("w1.src").alias("u"),
            F.col("w1.dst").alias("v"),
            F.col("w2.dst").alias("w"),
        )
    )
