"""Distributed DBSCAN over a precomputed eps-edge list — the shared
core/border/noise pipeline behind q219 (exact label-blocked edges),
q223 (multi-probe adaptive-grid edges), and the incremental refresh.

Graph-DBSCAN factorization: once eps-neighborhoods are an edge list,
DBSCAN is (1) one degree aggregate → core points (degree >=
``min_nbrs``), (2) connected components over CORE-CORE edges only
(star contraction, O(log² n) rounds, shuffle = edge count), (3) border
= non-core with a core neighbor, assigned to its MINIMUM core cluster
(the deterministic resolution of DBSCAN's order-dependent border tie),
(4) everything else noise. Nothing downstream of the edge list is ever
all-pairs, so the operator inherits the edge generator's scale law —
linear for the multi-probe grid, quadratic-per-label for the exact
anchor (q219's documented contract).

Every registered DBSCAN query (q219's label-blocked edges and the
multi-probe grid family) runs :func:`dbscan_from_edges`. The
multi-probe edges' components span blocks, so a per-block union-find
would be wrong for them, and the one CC path means there is no
per-block pandas state anywhere: a clone-dense corpus degrades into a
larger (but still edge-count-bounded) CC, never a stalled task.

Reference scope: EXT (SURVEY §2.11); the reference job has no
clustering surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import connected_components_star


def dbscan_from_edges(
    ids: DataFrame,
    sym: DataFrame,
    min_nbrs: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id_col, role, cluster_id) for every row of ``ids``.

    ``sym`` is the symmetric eps-neighbor edge list as (a, b) with each
    DIRECTED edge appearing exactly once — degree counts are
    duplicate-sensitive, so callers whose pair source may repeat an
    unordered pair must ``.distinct()`` first (q219 does; the grid
    candidate join emits each orientation once by construction).
    ``ids`` is the point universe: one output row per member, role
    'noise' with NULL cluster_id for points absent from the edge list.
    Cluster ids are component-minimum point ids.
    """
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    core = deg.filter(F.col("d") >= min_nbrs).select(F.col("a").alias(id_col))
    csym = (
        sym.join(core.withColumnRenamed(id_col, "a"), "a")
        .join(core.withColumnRenamed(id_col, "b"), "b")
        .select("a", "b")
    )
    ccl = connected_components_star(csym, src="a", dst="b").select(
        F.col("id").alias(id_col), "cluster_id"
    )
    corecl = core.join(ccl, id_col, "left").select(
        id_col, F.coalesce("cluster_id", id_col).alias("cluster_id")
    )
    border = (
        sym.join(corecl.select(F.col(id_col).alias("b"), "cluster_id"), "b")
        .join(core.withColumnRenamed(id_col, "a"), "a", "left_anti")
        .groupBy("a")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .withColumnRenamed("a", id_col)
    )
    return (
        ids.join(corecl.withColumnRenamed("cluster_id", "c_cl"), id_col, "left")
        .join(border.withColumnRenamed("cluster_id", "b_cl"), id_col, "left")
        .select(
            id_col,
            F.when(F.col("c_cl").isNotNull(), "core")
            .when(F.col("b_cl").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("c_cl", "b_cl").alias("cluster_id"),
        )
    )


def dbscan_oracle_tail(min_nbrs: int, ids_table: str = "embeddings") -> str:
    """DuckDB CTE tail mirroring :func:`dbscan_from_edges`, to append
    after CTEs that define ``sym(a, b)`` inside a WITH RECURSIVE block
    — the shared SQL skeleton of the q219/q223 oracles (and any gate
    composing both). The caller's WITH must open RECURSIVE (for
    ``reach``)."""
    from .graph import cc_oracle_ctes

    return f"""
deg AS (SELECT a AS vec_id, COUNT(*) AS d FROM sym GROUP BY a),
core AS (SELECT vec_id FROM deg WHERE d >= {min_nbrs}),
csym AS MATERIALIZED (
  SELECT s.a, s.b FROM sym s
  JOIN core ca ON s.a = ca.vec_id
  JOIN core cb ON s.b = cb.vec_id
),
{cc_oracle_ctes("csym", "ccl", "vec_id")},
corecl AS (
  SELECT c.vec_id, COALESCE(ccl.cluster_id, c.vec_id) AS cluster_id
  FROM core c LEFT JOIN ccl ON c.vec_id = ccl.vec_id
),
border AS (
  SELECT s.a AS vec_id, MIN(k.cluster_id) AS cluster_id
  FROM sym s JOIN corecl k ON s.b = k.vec_id
  WHERE s.a NOT IN (SELECT vec_id FROM core)
  GROUP BY s.a
)
SELECT e2.vec_id,
       CASE WHEN c.vec_id IS NOT NULL THEN 'core'
            WHEN b.vec_id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       COALESCE(c.cluster_id, b.cluster_id) AS cluster_id
FROM {ids_table} e2
LEFT JOIN corecl c ON e2.vec_id = c.vec_id
LEFT JOIN border b ON e2.vec_id = b.vec_id
"""
