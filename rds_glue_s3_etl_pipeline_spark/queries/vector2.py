"""IVF-style ANN (north star: "an IVF or LSH-bucketed variant as the
scale path") and dup-cluster resolution via connected components.

Both carry full DuckDB oracles: the IVF assignment/probe is plain
relational algebra once the codebook is deterministic, and connected
components is expressible as a recursive CTE on the oracle side.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import vector as V
from ..operators.graph import connected_components_star
from ..operators.similarity import (
    cosine_pairs,
    init_centroids,
    nearest_centroids,
    pair_topk,
)
from .registry import query
from .text import _Q23_ORACLE

# --------------------------------------------------------------------------
# q59: IVF top-k. A deterministic coarse codebook (the first
# _N_CENTROIDS vectors in md5(vec_id) order — a seedless pseudo-random
# sample) stands in for trained k-means centroids — the *query shape*
# (assign → probe own cell → exact rank within cell) is exactly
# IVF-Flat with nprobe=1, and is what the oracle verifies. Swapping in
# trained centroids changes only the codebook table. The codebook size
# is FIXED, independent of corpus size: assignment cost stays O(N*C)
# with constant C (a %-of-N codebook makes assignment quadratic — the
# 10x scale probe caught exactly that).
# --------------------------------------------------------------------------

_N_CENTROIDS = 32
_N_QUERIES = 8
_TOP_K = 5

_Q59_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT vec_id AS c_id, v AS cv FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_N_CENTROIDS}
),
assign AS (
  SELECT vec_id, c_id FROM (
    SELECT e.vec_id, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 4) DESC,
                                       c.c_id) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
qa AS (
  SELECT q.vec_id AS q_id, q.v AS qv, a.c_id
  FROM e q JOIN assign a ON a.vec_id = q.vec_id
  WHERE q.vec_id < {_N_QUERIES}
),
cand AS (
  SELECT qa.q_id, e.vec_id,
         ROUND(list_cosine_similarity(e.v, qa.qv), 4) AS cos_sim
  FROM qa
  JOIN assign a ON a.c_id = qa.c_id
  JOIN e ON e.vec_id = a.vec_id
  WHERE e.vec_id <> qa.q_id
)
SELECT q_id, vec_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM cand
) WHERE rank <= {_TOP_K}
"""


@query("q59_ivf_topk", oracle=_Q59_ORACLE, tags=("vector", "similarity", "EXT"))
def q59_ivf_topk(spark, sf_dir):
    """IVF-Flat ANN, nprobe=1: assign every vector to its nearest
    coarse centroid (broadcast codebook, one pass, no shuffle), then
    rank candidates only within the query's cell. Search cost drops
    from O(N) to O(N/#cells) per query; the assignment is a one-time
    build reused across queries — at 100 TB, persist it partitioned by
    cell so each probe touches one partition."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assign = nearest_centroids(e, init_centroids(e, _N_CENTROIDS)).select(
        "vec_id", "embedding", "c_id"
    )
    qa = assign.filter(F.col("vec_id") < _N_QUERIES)
    return pair_topk(cosine_pairs(qa, assign, ["c_id"]), _TOP_K).select(
        F.col("a").alias("q_id"),
        F.col("b").alias("vec_id"),
        F.col("cs").alias("cos_sim"),
        F.col("rnk").alias("rank"),
    )


# --------------------------------------------------------------------------
# q60: dup-cluster resolution. Edges = q23's n-gram Jaccard near-dup
# pairs; components via star contraction (operators/graph.py). The
# DuckDB oracle computes the same components with a recursive CTE
# (UNION-deduped reachability), proving the iterative Spark loop
# converges to the true fixpoint.
# --------------------------------------------------------------------------

_Q60_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_Q23_ORACLE})
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS doc_id, LEAST(MIN(b), a) AS cluster_id
FROM reach GROUP BY a
"""


@query("q60_dup_clusters", oracle=_Q60_ORACLE, tags=("dedup", "graph", "EXT"))
def q60_dup_clusters(spark, sf_dir):
    """Near-dup pairs → dup clusters: connected components by
    large-star / small-star contraction (finished by the exact local
    union-find once the edge list fits the driver). This is the step
    that turns pairwise dedup output into 'keep one doc per cluster'
    decisions."""
    from .text import q23_ngram_jaccard_pairs

    edges = q23_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components_star(edges, src="doc_a", dst="doc_b").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


# --------------------------------------------------------------------------
# q108: the SAME dup-cluster answer via the staged (LSH-first) path —
# what a 100 TB corpus actually runs. SCALE.md measured the exact
# all-pairs edge generation at 33x cost on a 10x dup-heavy corpus;
# this pipeline replaces it with: minhash -> 32x1 LSH banding
# (recall >= 1-(1-j)^32, i.e. 99.92% at the 0.2 threshold) ->
# exact Jaccard verification on CANDIDATE pairs only -> connected
# components. Oracle: identical to q60 — the staged path must
# reproduce the exact clustering, not an approximation of it.
# --------------------------------------------------------------------------


@query("q108_dup_clusters_staged", oracle=_Q60_ORACLE, tags=("dedup", "graph", "EXT"))
def q108_dup_clusters_staged(spark, sf_dir):
    """Staged near-dup clustering: LSH banding proposes candidates,
    exact shingle-Jaccard verifies them, star contraction clusters the
    survivors. Single-row bands (32 independent minhash
    buckets) push recall at the 0.2 threshold to ~99.9%, and every
    false candidate dies in the exact-verify join — so the output
    matches q60's all-pairs computation bit for bit while the
    pairwise stage scales with #candidates instead of #shared-shingle
    pairs. Edge generation lives in queries.text.staged_near_dup_edges
    (shared with q124's survivor pick)."""
    from .text import staged_near_dup_edges

    edges = staged_near_dup_edges(spark, sf_dir)
    return connected_components_star(edges, src="doc_a", dst="doc_b").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


# --------------------------------------------------------------------------
# q127: embedding dedup decision — near-dup clusters -> kept vector.
# --------------------------------------------------------------------------

from .vector import _Q34_ORACLE  # noqa: E402

_Q127_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT vec_a, vec_b FROM ({_Q34_ORACLE})
),
sym AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION
  SELECT vec_b, vec_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
cl AS (
  SELECT a AS vec_id, LEAST(MIN(b), a) AS cluster_id FROM reach GROUP BY a
),
assigned AS (
  SELECT e.vec_id, COALESCE(cl.cluster_id, e.vec_id) AS cluster_id,
         ROUND(sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]),
                                            x -> x * x))), 4) AS nrm
  FROM embeddings e LEFT JOIN cl ON e.vec_id = cl.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY cluster_id ORDER BY nrm DESC, vec_id) AS rn
  FROM assigned
)
SELECT r.cluster_id, r.vec_id AS kept_vec_id, r.nrm AS kept_norm, m.n_members
FROM ranked r
JOIN (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM assigned GROUP BY cluster_id) m USING (cluster_id)
WHERE r.rn = 1
"""


@query("q127_embedding_dedup_keep_best", oracle=_Q127_ORACLE, tags=("vector", "dedup", "graph", "EXT"))
def q127_embedding_dedup_keep_best(spark, sf_dir):
    """The dedup DECISION stage over the vector modality (q124's twin
    for embeddings): cosine near-dup pairs (label-blocked, q34) → star-
    contraction clusters → keep the highest-L2-norm vector per cluster
    (norm rounded to 4dp on both engines; vec_id tie-break), singletons
    keep themselves.

    Scale: pairs are blocked (never all-pairs), contraction rounds are
    diameter-independent, the norm is a JVM aggregate fold (no UDF),
    and the survivor pick windows over by-construction-small clusters.
    """
    from .vector import q34_cosine_near_dup

    e = load(spark, sf_dir, "embeddings")
    edges = q34_cosine_near_dup(spark, sf_dir).select("vec_a", "vec_b")
    cl = connected_components_star(edges, src="vec_a", dst="vec_b").select(
        F.col("id").alias("vec_id"), "cluster_id"
    )
    assigned = (
        e.select("vec_id", F.round(V.norm(F.col("embedding")), 4).alias("nrm"))
        .join(cl, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
            "nrm",
        )
    )
    # Rank and member count share one cluster_id window partitioning —
    # a single exchange+sort over one pass of assigned, replacing the
    # groupBy-count + join that re-derived and re-shuffled it.
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("nrm").desc(), F.col("vec_id").asc()
    )
    wc = Window.partitionBy("cluster_id")
    return (
        assigned.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("vec_id").alias("kept_vec_id"),
            F.col("nrm").alias("kept_norm"),
            "n_members",
        )
    )


# --------------------------------------------------------------------------
# q132: incremental embedding dedup — q126's twin for vectors. New
# vectors (deterministic split) match against the historical corpus
# only; best historical match per new vector above the threshold.
# --------------------------------------------------------------------------

from .vector import _NEAR_DUP_THRESHOLD  # noqa: E402

_Q132_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
scored AS (
  SELECT n.vec_id AS new_vec_id, h.vec_id AS hist_vec_id,
         CAST(n.label AS BIGINT) AS label,
         ROUND(list_cosine_similarity(n.v, h.v), 4) AS cos_sim
  FROM e n JOIN e h
    ON n.label = h.label AND n.vec_id % 5 = 0 AND h.vec_id % 5 <> 0
)
SELECT new_vec_id, hist_vec_id AS best_hist_vec_id, label, cos_sim
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY new_vec_id ORDER BY cos_sim DESC, hist_vec_id) AS rn
      FROM scored
      WHERE cos_sim >= {_NEAR_DUP_THRESHOLD})
WHERE rn = 1
"""


@query("q132_incremental_vector_dedup", oracle=_Q132_ORACLE, tags=("vector", "dedup", "EXT"))
def q132_incremental_vector_dedup(spark, sf_dir):
    """Incremental-ingest dedup for embeddings: INCOMING vectors
    (vec_id % 5 == 0) match against the HISTORICAL corpus only, within
    a label block — the vector-modality twin of q126. No new×new or
    history×history pairs ever form, so each ingest batch pays
    |new|×|block| work, not corpus².

    Scale: at 100 TB the history side is the persisted ANN index
    (q59's IVF codebook assignment: probe only the nearest cells)
    rather than a full block scan; the asymmetric join shape and the
    best-match window are identical. Best match per new vector is a
    per-new-id window over candidates (bounded by the block).
    """
    e = load(spark, sf_dir, "embeddings")
    new = e.filter(F.col("vec_id") % 5 == 0)
    hist = e.filter(F.col("vec_id") % 5 != 0)
    scored = cosine_pairs(new, hist, ["label"]).filter(
        F.col("cs") >= _NEAR_DUP_THRESHOLD
    )
    return pair_topk(scored, 1).select(
        F.col("a").alias("new_vec_id"),
        F.col("b").alias("best_hist_vec_id"),
        F.col("label").cast("long").alias("label"),
        F.col("cs").alias("cos_sim"),
    )
