"""Connected components over a pair-edge list — the cluster-resolution
step of a dedup pipeline (near-dup PAIRS from MinHash/Jaccard/SimHash
become dup GROUPS; one representative per group survives) — plus
PageRank and the DuckDB twin of the components computation.

Algorithm: alternating large-star / small-star contraction
(:func:`connected_components_star`, Kiveris et al., SoCC'14). Each
round is two groupBy-min passes over the shrinking edge list, all
shuffle-partitioned on the node id, with no driver-side graph state;
rounds needed are O(log² n) whatever the graph's diameter. Once the
edge list fits the driver gate below, the remaining graph is solved
by one exact local union-find (:func:`_local_cc_pdf`). Lineage is
truncated per round via localCheckpoint so the plan does not grow
across iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint

# Size-adaptive hybrid (optimization round 15): distributed contraction
# rounds run only while the (exactly counted) edge list exceeds this
# gate; at or below it the remaining graph is solved on the driver with
# an exact vectorized min-label union-find. This is the standard
# "finish the contracted tail locally" pattern: every distributed CC
# round costs a fixed number of shuffles + one convergence probe, and
# past the first contractions the surviving edge list is component-
# bounded — burning 5-6 cluster-wide barriers on a graph that fits in
# 16 MB of driver memory is pure coordination overhead at ANY scale.
# 1M two-long rows ≈ 16 MB collected via Arrow — far under the driver
# heap, same argument class as skew.BROADCAST_ROW_GATE. A giant
# component whose star edge list never contracts below the gate keeps
# the fully distributed path (the sig fixpoint check is unchanged).
_LOCAL_CC_EDGE_GATE = 1_000_000


def _local_cc_pdf(pdf, a_col: str, b_col: str):
    """Exact min-label connected components of an edge list held in a
    pandas DataFrame — vectorized min-hooking + pointer jumping
    (Shiloach-Vishkin shape, O(log n) numpy passes, no Python loop
    over edges). Returns a pandas DataFrame (id, cluster_id) with one
    row per distinct node, cluster_id = component minimum (numeric min
    for numeric ids, lexicographic for strings — the same ordering
    F.min uses).
    """
    import numpy as np
    import pandas as pd

    nodes, codes = np.unique(
        np.concatenate([pdf[a_col].to_numpy(), pdf[b_col].to_numpy()]),
        return_inverse=True,
    )
    m = len(pdf)
    u, v = codes[:m], codes[m:]
    # np.unique sorts, so code order == node-id order: min over codes
    # IS min over ids.
    parent = np.arange(len(nodes), dtype=np.int64)
    while True:
        lu, lv = parent[u], parent[v]
        lo = np.minimum(lu, lv)
        hi = np.maximum(lu, lv)
        before = parent.copy()
        np.minimum.at(parent, hi, lo)
        # full path compression (pointer jumping to fixpoint)
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
        if np.array_equal(parent, before):
            break
    return pd.DataFrame({"id": nodes, "cluster_id": nodes[parent]})


def _local_cc_result(spark, pdf, a_col: str, b_col: str, a_type: str) -> DataFrame:
    """Driver-side exact CC of an already-collected edge list; returns
    the (id, cluster_id) DataFrame with the given Spark id type."""
    if pdf[[a_col, b_col]].isnull().values.any():
        # A null endpoint would silently coerce long ids to float in
        # pandas; no registered edge generator produces one.
        raise ValueError("local CC requires non-null edge endpoints")
    out = _local_cc_pdf(pdf, a_col, b_col)
    return spark.createDataFrame(
        out, schema=f"id {a_type}, cluster_id {a_type}"
    )


def _local_cc(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Driver-side exact CC of a gate-bounded edge list; returns the
    (id, cluster_id) DataFrame with the input columns' Spark types."""
    return _local_cc_result(
        edges.sparkSession,
        edges.toPandas(),
        a_col,
        b_col,
        edges.schema[a_col].dataType.simpleString(),
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SOCC'14). Returns (id, cluster_id) for every node
    appearing in ``edges``, where cluster_id is the minimum node id of
    its connected component; ids come back as long.

    ``edges`` is undirected input given as one row per pair (either
    orientation; duplicates allowed). Nodes with no edges are simply
    absent — union them back with label=id if isolated nodes must
    appear. Self-loops carry no connectivity and are dropped, so a
    node whose only edge is a self-loop is absent too.

    Converges in O(log²·n) rounds independent of the graph DIAMETER,
    where min-label propagation needs O(diameter) rounds: a 100-hop
    chain (pathological dedup corpus: A≈B≈C≈...) finishes in ~7
    rounds here vs 100 joins there. Raises if ``max_iter`` rounds pass
    without a stable edge set.

    Size-adaptive: whenever the edge list is at or below the driver
    gate (_LOCAL_CC_EDGE_GATE) — at entry or after any contraction
    round — the rest of the graph is solved locally in one collect +
    one exact vectorized union-find, with identical labels.

    Each round is two groupBy-min passes over the edge list — no
    label-table join, so the shuffle volume per round is the edge
    count, and the edge count only SHRINKS (edges contract onto
    component minima).

    large-star: every node hooks its larger neighbors onto its
    neighborhood minimum; small-star: every node hooks its
    smaller-or-equal neighbors (and itself) onto that minimum.
    Fixpoint = edge set stable; final edges are stars (node → root).
    """
    e = checkpoint(
        edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        # eager=False: the signature probe right after materializes the
        # checkpoint — one driver round-trip per round instead of two
        # (same blocks, same lineage truncation).
        eager=False,
    )

    def _sig(df: DataFrame) -> tuple:
        # Cheap stability signature of the (undirected) edge set.
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: hash values span the full long range, a
            # long sum overflows under ANSI arithmetic
            F.sum(
                F.xxhash64(F.least("u", "v"), F.greatest("u", "v")).cast(
                    "decimal(38,0)"
                )
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    # Entry gate as one BOUNDED collect: at bench scale the input edge
    # list already fits the driver, and fusing the probe into the
    # collect makes the whole local path a single action (the old shape
    # paid a signature probe AND a toPandas). Over-gate graphs pay one
    # bounded CollectLimit job (<= gate+1 two-long rows) before the
    # distributed rounds — noise next to even one contraction round.
    pdf = e.limit(_LOCAL_CC_EDGE_GATE + 1).toPandas()
    if len(pdf) <= _LOCAL_CC_EDGE_GATE:
        return _local_cc_result(edges.sparkSession, pdf, "u", "v", "long")

    sig = _sig(e)
    for _ in range(max_iter):
        # Size-adaptive hand-off: the signature probe already carries
        # the exact edge count; once the (shrinking) edge list fits the
        # driver gate, finish with the exact local union-find instead
        # of paying 5-6 shuffles + a probe per remaining contraction
        # round. At bench scale the entry collect above already took
        # the local path; on a 100 TB corpus the first rounds contract
        # near-clique dup groups to component-bounded stars and the
        # tail then fits long before the gate. Labels are identical by
        # construction (min-label components either way).
        if sig[0] <= _LOCAL_CC_EDGE_GATE:
            return _local_cc(e, "u", "v")
        # --- large-star: group the symmetric edge list by u; each
        # strictly-larger neighbor v re-attaches to m = min(N(u) ∪ {u}).
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        e = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            # No distinct here: min-aggregations are duplicate-
            # insensitive and small-star ends in one — dropping it
            # saves a full edge-list shuffle per round.
        )
        # --- small-star: orient every edge large→small, group by the
        # large end; all neighbors (≤ u) and u itself attach to the min.
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        e = checkpoint(
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), "m")
            .union(mins.select(F.col("u"), F.col("m")))
            .filter(F.col("u") != F.col("m"))
            .select("u", F.col("m").alias("v"))
            .distinct(),
            # Materialized by the signature probe below (see init).
            eager=False,
        )
        new_sig = _sig(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_star did not stabilize in {max_iter} rounds"
        )

    # Stars: every edge is (node, root). Roots have no outgoing edge —
    # union them back labelled by themselves.
    members = e.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("id")).distinct().withColumn(
        "cluster_id", F.col("id")
    )
    return members.union(roots).distinct()


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 4,
    dedupe: bool = True,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — the
    link-graph reputation signal web-corpus pipelines use to weight
    crawl sources (CommonCrawl-style harmonic/PageRank centrality).

    Returns (node, rank). Every node must have outdegree >= 1
    (symmetrize upstream for undirected graphs — otherwise dangling
    mass leaks and ranks no longer sum to 1). Each iteration is one
    shuffle-partitioned join (ranks ⋈ edges on src) plus one hash
    aggregation on dst — no driver-side graph state; lineage is
    truncated every ``checkpoint_every`` rounds, as
    :func:`connected_components_star` does every round.

    Determinism: per-edge shares are truncated to DECIMAL(24,14)
    before the exact decimal sum, and the decimal total re-enters
    DOUBLE via the string hop (see ``queries.registry.dsum``), so the
    distributed reduce order cannot change a rank bit — the same
    fixed-iteration plan is expressible as unrolled SQL CTEs for the
    oracle.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if dedupe:
        # Callers that already guarantee a distinct edge list (e.g. a
        # symmetrized union of two disjoint orientations of a DISTINCT
        # pair table) pass dedupe=False and skip this full shuffle.
        e = e.distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Attach outdegree to the edge list ONCE, hash-partitioned on src,
    # and CACHE it (persist, not localCheckpoint: a checkpointed RDD
    # comes back as an ExistingRDD with UnknownPartitioning — the plan
    # audit caught every iteration silently re-exchanging the full
    # edge list on src; persist keeps the repartition("src") node in
    # the logical plan, so Catalyst knows the edge side is already
    # hash-partitioned and never shuffles it again). This is the
    # single materialization of the operator; everything node-shaped
    # (nodes, N, degrees) derives from it for free.
    e_deg = e.join(deg, "src").repartition("src").persist()
    try:
        # No materializing count(): CacheManager substitutes the persisted
        # plan by canonical-plan match at analysis time, so the cache fills
        # inside the first real job instead of a dedicated one.
        nodes = e_deg.select(F.col("src").alias("node")).distinct()
        # One row; checkpointed (plan truncated immediately, computed by
        # the first consuming job) so the teleport term in every iteration
        # reads a constant instead of re-counting distinct nodes.
        n_df = checkpoint(
            nodes.agg(F.count(F.lit(1)).cast("double").alias("n")), eager=False
        )
        teleport = 1.0 - damping  # IEEE double, bit-identical to the SQL twin
        ranks = nodes.crossJoin(F.broadcast(n_df)).select(
            "node", (F.lit(1.0) / F.col("n")).alias("rank")
        )
        for i in range(iters):
            # The rank table is O(nodes): tiny next to the edge list on a
            # dimension-scale graph (broadcast_ranks=True — map-only join,
            # the only exchange per round is the small post-agg one), but
            # NOT broadcastable on a web-scale graph where nodes are
            # billions — there the default co-partitioned shuffle join is
            # the survivable plan (edge side pre-partitioned on src, only
            # the rank table moves).
            rank_side = ranks.withColumnRenamed("node", "src")
            if broadcast_ranks:
                rank_side = F.broadcast(rank_side)
            shares = (
                e_deg.join(rank_side, "src")
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") / F.col("outdeg"))
                    .cast("decimal(24,14)")
                    .alias("share"),
                )
            )
            summed = shares.groupBy("node").agg(
                F.sum("share").cast("string").cast("double").alias("s")
            )
            ranks = summed.crossJoin(F.broadcast(n_df)).select(
                "node",
                (F.lit(teleport) / F.col("n") + F.lit(damping) * F.col("s")).alias(
                    "rank"
                ),
            )
            if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
                ranks = checkpoint(ranks)
        # Materialize the (node-sized) result before the finally
        # releases the cached edge list: the returned DataFrame must
        # not lazily re-read a persisted plan that is unpersisted.
        return checkpoint(ranks)
    finally:
        # On every exit, a raising iteration included: otherwise each
        # pagerank call pins another edge-list copy in executor
        # storage for the session lifetime.
        e_deg.unpersist()


def cc_oracle_ctes(edges: str = "sym", out: str = "cl", node: str = "vec_id") -> str:
    """DuckDB CTE twin of :func:`connected_components_star`: splice
    after a comma inside a ``WITH RECURSIVE`` block where ``edges``
    names a SYMMETRIC edge CTE with columns (a, b), and the result CTE
    ``out`` holds (``node``, cluster_id) — cluster_id = the component's
    minimum node id, for every node that appears in ``edges``. Exact
    for arbitrary graphs.

    Why not the naive transitive closure (``reach`` = edges UNION
    reach JOIN edges)? Its per-iteration join derives O(m³) rows for a
    component of size m before the UNION dedups them, and semantic-dup
    groups are near-CLIQUES (every member pairwise-similar): at 10x
    scale the q143 cell graph is ~64 components of ~300 members, so
    the closure manufactures ~1.9e9 rows per iteration — the round-14
    q167 twin OOM. One min-label contraction round (every node adopts
    min(self, neighbors) — the star-contraction hook step) collapses
    each near-clique to ~1 label; the naive closure then runs on the
    CONTRACTED graph (114 edges at 10x where the input has 5.7M).
    MATERIALIZED hints pin the shared frames so multi-reference CTEs
    are computed once instead of re-derived under the recursion."""
    return f"""{out}_l1 AS MATERIALIZED (
  SELECT a AS v, LEAST(a, MIN(b)) AS l FROM {edges} GROUP BY a
),
{out}_re AS MATERIALIZED (
  SELECT DISTINCT la.l AS a, lb.l AS b
  FROM {edges} s JOIN {out}_l1 la ON s.a = la.v JOIN {out}_l1 lb ON s.b = lb.v
  WHERE la.l <> lb.l
),
{out}_rs AS (SELECT a, b FROM {out}_re UNION SELECT b, a FROM {out}_re),
{out}_reach(a, b) AS (
  SELECT a, b FROM {out}_rs
  UNION
  SELECT r.a, s.b FROM {out}_reach r JOIN {out}_rs s ON r.b = s.a
),
{out}_rcl AS (SELECT a, LEAST(MIN(b), a) AS root FROM {out}_reach GROUP BY a),
{out} AS (
  SELECT {out}_l1.v AS {node}, COALESCE(r.root, {out}_l1.l) AS cluster_id
  FROM {out}_l1 LEFT JOIN {out}_rcl r ON {out}_l1.l = r.a
)"""
