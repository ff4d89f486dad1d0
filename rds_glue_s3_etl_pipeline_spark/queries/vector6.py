"""k-NN graph construction over the embedding corpus: the blocked
all-vectors top-k neighbor join (q212) and its measured recall against
exact brute force on a deterministic query sample (q213).

Why a training-data pipeline needs this: SemDeDup-style diversity
analysis, cluster-balanced sampling, and label propagation all consume
a neighbor GRAPH (top-k per vector), not just per-query retrieval
(q24/q59 answer "neighbors of THIS query"; q212 answers "neighbors of
EVERY vector"). An exact all-pairs join is O(N^2) and dead at scale;
the registered form blocks by the ADAPTIVE grid (depth from
adaptive_grid(N, 32), so block size holds ~32 at any corpus size and
pair work stays linear — the fixed 16-cell form measured quadratic:
45 s at 10x) with candidates within-block only — the IVF-nprobe=1
regime — and q213 pins the recall price of that blocking the same way
q166 pins the dedup grid's. Every grid-family oracle here is ONE
generator over the corpus row count (queries/gridsql.py): the
driver-contract string is that generator at the sf0.01 fixture, where
the adaptive rule yields the single-level 16-cell grid, and
tools/oracle_check.py regenerates it for the corpus at hand
(QuerySpec.oracle_fn), hash-verified at sf0.1.

Reference scope: beyond-reference training-data families (SURVEY
§2.11); the reference job has no vector surface.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import vector as V
from ..operators.similarity import (
    cosine_pairs,
    cosine_topk,
    nearest_centroids,
    pair_topk,
)
from .gridsql import knn_home_probe_ctes, mp_sym_ctes, q212_oracle
from .registry import query
from .vector3 import _KM_ITERS, _KM_K

_KNN_K = 3
# Fixed-size exact-arm query sample: md5-ordered LIMIT, so the recall
# gates cost sample x corpus (LINEAR) at any scale — a fractional
# sample made the exact arm quadratic (N/32 queries x N corpus).
_KNN_SAMPLE = 64

# --------------------------------------------------------------------------
# q212: blocked k-NN graph — top-3 cosine neighbors per vector among
# the vectors sharing its k-means cell.
# --------------------------------------------------------------------------

# Neighbor blocks target ~32 members: big enough that top-3 recall is
# meaningful, small enough that the within-block pair term is N*32.
# adaptive_grid(500, 32, coarse_k=16) == [16] — at the sf0.01 oracle
# fixture the adaptive rule yields the single-level 16-cell grid;
# beyond fixture scale the tree deepens, and the oracle generators
# (queries/gridsql.py) deepen with it.
_KNN_TARGET_BLOCK = 32


# Per-process persisted index: (abs sf_dir, embeddings fingerprint) ->
# {"dir", "block_cols", "ks", "hint"}. The corpus_survivor_snapshot
# pattern applied to the ANN family — seven registered queries
# (q212-q215, q223/q224/q225) consume the SAME trained grid, and a
# real pipeline builds that index once and queries it many times.
_KNN_INDEX_CACHE: dict[tuple, dict] = {}

# Gate queries evaluate their branches on driver threads
# (operators/par.py); two branches asking for the same not-yet-built
# index must not both build it.
import threading as _threading

# RLock: _mp_eps_edges holds it across its edge build, which calls
# back into _knn_index on the same thread.
_KNN_INDEX_LOCK = _threading.RLock()


def _knn_index(spark, sf_dir) -> dict:
    """Thread-safe front of :func:`_knn_index_build` — see its doc."""
    with _KNN_INDEX_LOCK:
        return _knn_index_build(spark, sf_dir)


def _knn_index_build(spark, sf_dir) -> dict:
    """Build-once adaptive-grid index artifact, fingerprint-cached per
    (process, embeddings content): ``home.parquet`` is the full home
    assignment (vec_id, embedding, *block_cols — one row per
    vector), ``codebook.parquet`` the deepest-level codebook a
    multi-probe query side rescores against. Training (the expensive,
    sample-bounded part) runs ONCE under released_blocks — every Lloyd
    localCheckpoint block is unpinned as soon as the artifact is on
    disk, so a long-lived service session carries no residue (the q33
    mechanism, now applicable because consumers read parquet)."""
    from ..catalog import table_fingerprint
    from ..operators.similarity import adaptive_grid_tree
    from ..scratch import scratch_dir
    from ..session import released_blocks

    import os

    key = (os.path.abspath(sf_dir), table_fingerprint(sf_dir, "embeddings"))
    meta = _KNN_INDEX_CACHE.get(key)
    if meta is not None and os.path.isdir(meta["dir"]):
        return meta
    # Fingerprint miss for a path we indexed before (fixture rebuilt
    # in-process): collect the superseded entries now, but defer the
    # rmtree until AFTER the new build commits (round-11 ADVICE) — a
    # failed rebuild must leave the old cached index usable, and a
    # still-live DataFrame returned from the old meta must not lose
    # its home.parquet mid-plan before the replacement exists.
    stale_keys = [k for k in _KNN_INDEX_CACHE if k[0] == key[0] and k != key]

    idx_dir = scratch_dir("knn_index_")
    with released_blocks(spark):
        e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        tree = adaptive_grid_tree(
            e, _KNN_TARGET_BLOCK, coarse_k=_KM_K, iters=_KM_ITERS
        )
        ks, block_cols = tree.ks, tree.block_cols
        if not tree.levels:
            hint = True
            home = tree.blocked
            tree.codebook.write.mode("overwrite").parquet(f"{idx_dir}/codebook.parquet")
        else:
            # The trained coarse codebook is part of the artifact too:
            # a depth-scaled multi-probe query side (nprobe parent
            # cells at the second-deepest level) needs it when the
            # parent level IS the coarse level (len(ks) == 2).
            tree.codebook.write.mode("overwrite").parquet(f"{idx_dir}/coarse.parquet")
            # Both sides score against the SAME sampled sub-codebook —
            # persisted, and home assigned against the read-back bytes,
            # so a multi-probe query side reproduces the assignment
            # bit-for-bit without retraining.
            deepest = tree.levels[-1]
            hint = deepest.broadcast
            deepest.sub.write.mode("overwrite").parquet(f"{idx_dir}/codebook.parquet")
            home = nearest_centroids(
                deepest.members,
                spark.read.parquet(f"{idx_dir}/codebook.parquet"),
                block_cols=deepest.prefix,
                broadcast=hint,
            )
        home.select("vec_id", "embedding", *block_cols).write.mode(
            "overwrite"
        ).parquet(f"{idx_dir}/home.parquet")

    meta = {"dir": idx_dir, "block_cols": block_cols, "ks": ks, "hint": hint}
    _KNN_INDEX_CACHE[key] = meta
    # Build committed — only now is it safe to evict superseded indexes
    # (a long-lived service session regenerating corpora must not grow
    # disk/memory unboundedly, but must also never lose its last good
    # index to a failed rebuild).
    import shutil

    for stale in stale_keys:
        shutil.rmtree(_KNN_INDEX_CACHE[stale]["dir"], ignore_errors=True)
        del _KNN_INDEX_CACHE[stale]
    return meta


def _knn_assignments(spark, sf_dir, nprobe: int = 1):
    """(home, probe, block_cols) of the adaptive-grid k-NN index:
    ``home`` assigns every vector to its deepest block, ``probe`` is
    the query-side multi-probe assignment (identical to home for
    nprobe=1). Shared by the candidate join (q212-q215, q223/q224) and
    the incremental refresh (q225), which needs the assignment table
    itself to split members by touched block.

    The probe budget SCALES WITH TREE DEPTH (round-10 verdict's weak
    item: at sf0.1 the deepest level has only ks[-1]=2 sub-cells, so
    probing nprobe=2 of them is nearly free and nearly useless —
    recall decayed 0.51 → 0.365). Depth 2: the query probes its
    top-``nprobe`` COARSE cells, then keeps its best ``nprobe²``
    deepest blocks overall (ranked by the deepest-level codebook
    cosine across all probed parents). Depth >= 3 (round 12): the
    descent probes top-``nprobe`` at EVERY level above the deepest —
    the round-11 rule kept the home path down to the second-deepest
    level, so cross-coarse/intermediate true neighbors were
    unreachable by construction. In all cases the deepest keep-budget
    is nprobe² and the probe frame is unioned with the home block
    (probe ⊇ home — round-11 ADVICE), so candidate work stays
    N × (nprobe²+1) × block, LINEAR. A single-level tree (the sf0.01
    fixture) keeps the plain top-``nprobe`` coarse probe. Every depth
    has an exact SQL counterpart in the oracle generators
    (gridsql.probe_ctes, hash-verified at sf0.1).

    Both sides read the PERSISTED index (_knn_index): home is the
    parquet artifact verbatim; the probe side rescores against the
    persisted deepest-level codebook plus either the persisted coarse
    codebook (parent = coarse) or the md5-sampled parent sub-codebook
    recomputed from home — bit-identical to the build's, because the
    sample is a deterministic function of the (unchanged) block
    membership. No retraining anywhere on the query path."""
    from ..operators.similarity import _SUB_BROADCAST_ROWS, block_sub_codebook

    meta = _knn_index(spark, sf_dir)
    home = spark.read.parquet(f"{meta['dir']}/home.parquet")
    block_cols = list(meta["block_cols"])
    ks = meta["ks"]
    if nprobe <= 1:
        return home, home, block_cols
    cb = spark.read.parquet(f"{meta['dir']}/codebook.parquet")
    probe = home.select("vec_id", "embedding")
    if len(ks) == 1:
        probe = nearest_centroids(probe, cb, nprobe).select(*probe.columns, "c_id")
        return home, probe, block_cols

    def descend(par, sub, n, prefix, broadcast):
        # The operator keeps each probed parent's own top-n; one window
        # cuts the query's top-n across all its parents. Exact: a global
        # top-n member is in its own branch's top-n, and sub-centroid
        # ids are vector ids, globally unique, so the order is total.
        lvl_id = block_cols[len(prefix)]
        w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc(lvl_id))
        return (
            nearest_centroids(par, sub, n, prefix, broadcast)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n)
            .select(*par.columns, lvl_id)
        )

    # Descend from the persisted coarse codebook with ``nprobe`` at
    # EVERY level above the deepest (none when the parent level IS the
    # coarse level) — round 12's widening of the round-11 rule, which
    # kept the query's home path down to the second-deepest level and
    # so could never cross a coarse or intermediate boundary (q214's
    # 10x recall sat at 0.417 with 0.037 of floor margin; cross-coarse
    # true neighbors were unreachable by construction). Intermediate
    # sub-codebooks are recomputed from home membership — bit-identical
    # to the build's (deterministic md5 sample of unchanged blocks).
    # The deepest keep-budget stays nprobe², so the CANDIDATE join cost
    # is unchanged; only assignment-side scoring grows, by ~nprobe^level
    # x k_sub scored rows per level — still O(nprobe^depth) = poly-log-N
    # work per vector, far below the candidate term.
    import math

    coarse = spark.read.parquet(f"{meta['dir']}/coarse.parquet")
    par = nearest_centroids(probe, coarse, nprobe).select(*probe.columns, "c_id")
    for i, k_sub in enumerate(ks[1:-1]):
        prefix, lvl_id = block_cols[: i + 1], block_cols[i + 1]
        sub = block_sub_codebook(home, prefix, k_sub, lvl_id)
        par = descend(
            par, sub, nprobe, prefix, math.prod(ks[: i + 2]) <= _SUB_BROADCAST_ROWS
        )
    # Deepest level: fan each probed parent out over its persisted
    # sub-codebook and keep the query's best nprobe² deepest blocks
    # overall.
    probe = descend(par, cb, nprobe * nprobe, block_cols[:-1], meta["hint"])
    # Always reserve the query's own HOME block (round-11 ADVICE): with
    # fanout-8 parents, up to nprobe x 8 cross-parent sub-cells compete
    # for the nprobe² slots, so the global top-k could drop the home
    # block and lose the query's co-located neighbors. The union makes
    # probe ⊇ home by construction — a strict recall improvement at
    # ≤ +1 block per query — and the dedup keeps each (vec_id, block)
    # once so candidate pairs stay exactly-once downstream.
    keep_cols = ["vec_id", "embedding", *block_cols]
    probe = (
        probe.select(*keep_cols)
        .unionByName(home.select(*keep_cols))
        .dropDuplicates(["vec_id", *block_cols])
    )
    return home, probe, block_cols


def _knn_candidates(spark, sf_dir, nprobe: int = 1):
    """Scored candidate pairs (*block_cols, a, b, cs) of the
    adaptive-grid k-NN search: corpus side (b) home-assigned to its
    deepest block, query side (a) probing its top-``nprobe`` blocks AT
    THE DEEPEST LEVEL (home path above it, so the fan-out is nprobe x
    block, not nprobe^depth). Each pair appears exactly once — a
    neighbor has ONE home block and a query's probes are distinct
    blocks. Depth grows with the corpus so block size stays
    ~_KNN_TARGET_BLOCK: pair work is N x nprobe x block, LINEAR, where
    the fixed 16-cell form measured quadratic (45 s / 106 s at 10x for
    nprobe 1 / 2)."""
    home, probe, block_cols = _knn_assignments(spark, sf_dir, nprobe)
    return cosine_pairs(probe, home, block_cols)


def _knn_topk(pairs):
    """Top-_KNN_K neighbors per a-side vector of scored pairs, as
    (*block_cols, vec_id, nbr_id, cs, rnk): ties to the lower neighbor
    id."""
    return (
        pair_topk(pairs, _KNN_K)
        .withColumnRenamed("a", "vec_id")
        .withColumnRenamed("b", "nbr_id")
    )


def _blocked_knn(spark, sf_dir):
    """(vec_id, nbr_id, rnk, cs): top-_KNN_K neighbors per vector among
    its _knn_candidates — shared by q212 (the graph), q213 (the recall
    gate), and q215 (label audit)."""
    return _knn_topk(_knn_candidates(spark, sf_dir)).select(
        "vec_id", "nbr_id", "rnk", "cs"
    )


@query("q212_knn_graph_blocked", oracle=q212_oracle, tags=("vector", "similarity", "EXT"))
def q212_knn_graph_blocked(spark, sf_dir):
    """Blocked k-NN graph: assign every vector to its adaptive-grid
    block (depth from adaptive_grid(N, 32) — coarse Lloyd codebook on
    the md5 training sample, then md5-sampled sub-codebooks per
    block), generate candidate pairs ONLY within a block, keep each
    vector's top-3 by 4dp-rounded cosine (ties to the lower neighbor
    id). At the sf0.01 oracle fixture the adaptive rule yields exactly
    the single-level 16-cell grid (and the training sample IS the
    corpus); beyond fixture scale the tree deepens and block size
    holds ~32. The oracle (gridsql.q212_oracle) follows the same tree
    at every scale.

    Scale shape: training is sample-bounded (corpus never shuffles for
    it); the pair join shuffles on the block key with per-block
    fan-out |block|^2 ~ 32^2 — LINEAR total because block count grows
    with the corpus (the fixed 16-cell form measured 45 s at 10x,
    quadratic); the per-vector top-k is a window PARTITIONED BY the
    vector, never global. Vectors whose block has fewer than k+1
    members return fewer rows — the honest blocked contract, priced by
    q213."""
    return _blocked_knn(spark, sf_dir)


# --------------------------------------------------------------------------
# q213: the recall gate — blocked graph vs exact brute force on a
# deterministic ~1/32 query sample.
# --------------------------------------------------------------------------

_KNN_RECALL_MIN = 0.3  # below the fixture-measured 0.35-0.59 band; see docstring


def _q213_sql(n: int) -> str:
    return f"""
WITH blocked AS ({q212_oracle(n)}),
q AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_KNN_SAMPLE}
),
corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
exact AS (
  SELECT vec_id, nbr_id FROM (
    SELECT q.vec_id, c.vec_id AS nbr_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 4) DESC,
                                       c.vec_id) AS rnk
    FROM q JOIN corpus c ON c.vec_id <> q.vec_id
  ) WHERE rnk <= {_KNN_K}
),
hits AS (
  SELECT COUNT(*) AS n_hits
  FROM exact e JOIN blocked b ON b.vec_id = e.vec_id AND b.nbr_id = e.nbr_id
),
n AS (SELECT COUNT(DISTINCT vec_id) AS n_queries FROM q)
SELECT CAST(n.n_queries AS BIGINT) AS n_queries,
       CAST({_KNN_K} AS BIGINT) AS k,
       CAST(h.n_hits AS BIGINT) AS n_hits,
       CAST(h.n_hits AS DOUBLE) / (n.n_queries * {_KNN_K}) AS recall,
       CASE WHEN CAST(h.n_hits AS DOUBLE) / (n.n_queries * {_KNN_K})
                 >= {_KNN_RECALL_MIN}
            THEN 'ok' ELSE 'FAIL recall' END AS recall_gate
FROM n, hits h
"""


def _exact_recall(spark, sf_dir, graph):
    """One row (n_queries, n_hits): how many of the exact top-_KNN_K
    neighbors of the md5-ordered _KNN_SAMPLE query sample ``graph``
    (vec_id, nbr_id, ...) recovers. The exact arm is sample x corpus
    through one broadcast (cosine_topk)."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qs = (
        e.orderBy(
            F.md5(F.col("vec_id").cast("string").cast("binary")), F.col("vec_id")
        )
        .limit(_KNN_SAMPLE)
        .select(F.col("vec_id").alias("q_id"), "embedding")
    )
    exact = cosine_topk(e, qs, k=_KNN_K)
    hits = exact.join(
        graph.select(
            F.col("vec_id").alias("b_vid"), F.col("nbr_id").alias("b_nid")
        ),
        (F.col("b_vid") == F.col("q_id")) & (F.col("b_nid") == F.col("vec_id")),
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    n = qs.agg(F.countDistinct("q_id").alias("n_queries"))
    return n.crossJoin(F.broadcast(hits))


@query("q213_knn_recall_gate", oracle=_q213_sql, tags=("vector", "similarity", "gate", "EXT"))
def q213_knn_recall_gate(spark, sf_dir):
    """Recall of the blocked k-NN graph against exact brute force on a
    deterministic md5(vec_id) < '08' query sample (~1/32 of vectors —
    seedless, both engines pick the same set): recall = fraction of
    the exact top-3 pairs the blocked graph recovered, gated against
    a fixture-pinned floor. nprobe=1 blocking is the HONEST-price
    regime (q145's pattern): this registers the number a corpus build
    consults before trusting the graph, and the multi-probe /
    adaptive-grid dials from the ANN family raise it at the measured
    candidate cost. Scale: the exact arm is sample x corpus through
    one broadcast (bounded by the sample), the blocked arm is q212."""
    recall = F.col("n_hits").cast("double") / (F.col("n_queries") * _KNN_K)
    return _exact_recall(spark, sf_dir, _blocked_knn(spark, sf_dir)).select(
        F.col("n_queries").cast("long").alias("n_queries"),
        F.lit(_KNN_K).cast("long").alias("k"),
        F.col("n_hits").cast("long").alias("n_hits"),
        recall.alias("recall"),
        F.when(recall >= _KNN_RECALL_MIN, F.lit("ok"))
        .otherwise(F.lit("FAIL recall"))
        .alias("recall_gate"),
    )


# --------------------------------------------------------------------------
# q214: the multi-probe dial — nprobe=2 k-NN graph recall on the same
# sample, with the candidate cost alongside. Together with q213 this
# registers the (recall, cost) curve's first two points for the GRAPH
# case, the way tools/ann_adaptive_probe.py (at commit 669f295)
# tabulated it for retrieval.
# --------------------------------------------------------------------------

_KNN_NPROBE = 3
# Operating point chosen from the measured recall/cost dial
# (tools/knn_probe_dial.py at commit 669f295, round 11) AFTER the
# probe budget was made depth-scaled (nprobe parent cells x best
# nprobe² deepest blocks — round-10's weak item was a deepest-only
# probe that hit a binary last level at sf0.1 and decayed to 0.365):
#   nprobe    1      2      3      4
#   sf0.01  0.396  0.505  0.583  0.620   (cand 15k/31k/47k/62k)
#   sf0.1   0.349  0.432  0.542  0.651   (cand 110k/331k/643k/998k)
# nprobe=3 keeps recall >= ~0.54 at BOTH oracle scales (the fixture
# band), with candidates ~N x 129 at sf0.1 — linear. Round 12, three
# moves: (1) the probe frame always reserves the query's HOME block
# (round-11 ADVICE — the depth-scaled top-nprobe² could drop it under
# cross-parent competition; measured unchanged at sf0.1, 0.5417, but
# now impossible by construction); (2) depth >= 3 trees descend with
# nprobe at EVERY level (the round-11 rule pinned the home path above
# the second-deepest level, so cross-coarse neighbors were
# unreachable — 10x recall moved 0.417 → 0.4427 at the SAME candidate
# budget); (3) the floor moves 0.4 → 0.38 per round-11 ADVICE for
# real margin below the weakest measured scale. The 10x dial is FLAT
# (0.391/0.427/0.443/0.453 at nprobe 1-4, same tool):
# the replicated-rotated 10x corpus is near-orthogonal noise with no
# cluster structure for an IVF tree to exploit, so recall saturates
# and budget cannot buy margin there — 0.38 is the honest floor,
# still far above the broken-index (~0.1) and regressed-probe (~0.35
# at sf0.1 pre-fix) signatures.
_KNN_MP_RECALL_MIN = 0.38


def _q214_sql(n: int) -> str:
    ctes, cols, home = knn_home_probe_ctes(n, _KNN_NPROBE)
    on = " AND ".join(f"p.{c} = h.{c}" for c in cols)
    return f"""
WITH {ctes},
cand AS (
  SELECT p.vec_id AS vec_id, h.vec_id AS nbr_id
  FROM pb p JOIN {home} h ON {on} AND h.vec_id <> p.vec_id
),
scored AS (
  SELECT c.vec_id, c.nbr_id,
         ROUND(list_cosine_similarity(a.v, b.v), 4) AS cs
  FROM cand c JOIN e a ON a.vec_id = c.vec_id JOIN e b ON b.vec_id = c.nbr_id
),
g AS (
  SELECT vec_id, nbr_id FROM (
    SELECT vec_id, nbr_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, nbr_id) AS rnk
    FROM scored
  ) WHERE rnk <= {_KNN_K}
),
q AS (
  SELECT vec_id, v FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_KNN_SAMPLE}
),
exact AS (
  SELECT vec_id, nbr_id FROM (
    SELECT q.vec_id, c.vec_id AS nbr_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 4) DESC,
                                       c.vec_id) AS rnk
    FROM q JOIN e c ON c.vec_id <> q.vec_id
  ) WHERE rnk <= {_KNN_K}
),
hits AS (
  SELECT COUNT(*) AS n_hits
  FROM exact e2 JOIN g ON g.vec_id = e2.vec_id AND g.nbr_id = e2.nbr_id
),
nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
n AS (SELECT COUNT(DISTINCT vec_id) AS n_queries FROM q)
SELECT CAST(n.n_queries AS BIGINT) AS n_queries,
       CAST({_KNN_K} AS BIGINT) AS k,
       CAST({_KNN_NPROBE} AS BIGINT) AS nprobe,
       nc.n_candidates,
       CAST(h.n_hits AS BIGINT) AS n_hits,
       CAST(h.n_hits AS DOUBLE) / (n.n_queries * {_KNN_K}) AS recall,
       CASE WHEN CAST(h.n_hits AS DOUBLE) / (n.n_queries * {_KNN_K})
                 >= {_KNN_MP_RECALL_MIN}
            THEN 'ok' ELSE 'FAIL recall' END AS recall_gate
FROM n, nc, hits h
"""


@query("q214_knn_multiprobe_gate", oracle=_q214_sql, tags=("vector", "similarity", "gate", "EXT"))
def q214_knn_multiprobe_gate(spark, sf_dir):
    """The nprobe dial applied to the k-NN graph: the query side probes
    its 2 nearest blocks AT THE DEEPEST adaptive-grid level, the
    corpus side stays home-block-indexed, and the gate reports recall
    AND candidate count against the same exact sample as q213 — the
    two registered points of the graph's (recall, cost) curve
    (fixture: ~0.40 recall at nprobe=1 vs ~0.51 at nprobe=2,
    candidates ~2x). The oracle probes the same depth-scaled block set
    in SQL (gridsql.probe_ctes) and hash-matches at every scale. Each
    candidate pair appears exactly once (a neighbor's home block can
    match at most one of the query's distinct probes), so no dedup
    shuffle is needed. Scale: N x nprobe x block candidates — the dial's LINEAR
    cost is visible in n_candidates rather than hidden (the fixed-grid
    form measured 106 s at 10x; this one rides the q212 tree)."""
    cand = _knn_candidates(spark, sf_dir, _KNN_NPROBE)
    n_candidates = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    recall = F.col("n_hits").cast("double") / (F.col("n_queries") * _KNN_K)
    return (
        _exact_recall(spark, sf_dir, _knn_topk(cand))
        .crossJoin(F.broadcast(n_candidates))
        .select(
            F.col("n_queries").cast("long").alias("n_queries"),
            F.lit(_KNN_K).cast("long").alias("k"),
            F.lit(_KNN_NPROBE).cast("long").alias("nprobe"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_hits").cast("long").alias("n_hits"),
            recall.alias("recall"),
            F.when(recall >= _KNN_MP_RECALL_MIN, F.lit("ok"))
            .otherwise(F.lit("FAIL recall"))
            .alias("recall_gate"),
        )
    )


# --------------------------------------------------------------------------
# q215: neighbor-vote label diagnostics — the k-NN graph's first
# consumer. Predict every vector's label by majority vote over its
# blocked top-3 neighbors and report per-label agreement with the
# stored label: low agreement flags label noise or a collapsed
# embedding region (the label-quality audit a curation pass runs
# before trusting weak labels).
# --------------------------------------------------------------------------

def _q215_sql(n: int) -> str:
    return f"""
WITH g AS ({q212_oracle(n)}),
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
votes AS (
  SELECT g.vec_id, nl.label AS nbr_label, COUNT(*) AS n_votes
  FROM g JOIN lab nl ON nl.vec_id = g.nbr_id
  GROUP BY g.vec_id, nl.label
),
pred AS (
  SELECT vec_id, nbr_label AS pred_label FROM (
    SELECT vec_id, nbr_label, n_votes,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY n_votes DESC, nbr_label) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT l.label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN p.pred_label = l.label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_agree,
       SUM(CASE WHEN p.pred_label = l.label THEN 1 ELSE 0 END)
         / CAST(COUNT(*) AS DOUBLE) AS agreement
FROM lab l JOIN pred p ON p.vec_id = l.vec_id
GROUP BY l.label
"""


@query("q215_label_propagation_audit", oracle=_q215_sql, tags=("vector", "similarity", "curation", "EXT"))
def q215_label_propagation_audit(spark, sf_dir):
    """One round of label propagation over the blocked k-NN graph
    (q212), scored against the stored labels per label class: each
    vector's predicted label is the majority among its top-3 in-cell
    neighbors (ties to the smaller label id), and the report is
    (label, n_vectors, n_agree, agreement). Vectors with no in-cell
    neighbor have no prediction and drop out (the inner join) — the
    blocked contract q213 prices.

    Scale shape: the graph is q212's bounded pair join; the vote is a
    groupBy on (vec_id, nbr_label) whose fan-in is k rows per vector;
    the argmax is a per-vector window; the report is #labels rows. No
    stage exceeds the graph's own cost, so label auditing is ~free on
    top of a graph the pipeline already builds."""
    g = _blocked_knn(spark, sf_dir)
    lab = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    votes = (
        g.join(
            lab.select(
                F.col("vec_id").alias("nbr_id"), F.col("label").alias("nbr_label")
            ),
            "nbr_id",
        )
        .groupBy("vec_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("n_votes"), F.asc("nbr_label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("nbr_label").alias("pred_label"))
    )
    agree = (F.col("pred_label") == F.col("label")).cast("long")
    return (
        lab.join(pred, "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(agree).alias("n_agree"),
            (F.sum(agree) / F.count(F.lit(1)).cast("double")).alias("agreement"),
        )
    )


# --------------------------------------------------------------------------
# q219: DBSCAN over the embedding corpus — density clustering with the
# classic core/border/noise trichotomy, on the same blocked eps-graph
# the dedup and k-NN families already use. SemDeDup-style pipelines
# use exactly this to find coherent REGIONS (not just pairs): dense
# cores are redundant content to downsample, noise is the long tail
# to keep.
# --------------------------------------------------------------------------

# eps-neighbor = cosine >= 0.4. Round 12 re-anchored the family from
# 0.3 (q34's near-dup threshold) to 0.4: round 11's truth anchor
# (q232/q233, vector7) PROVED the 0.3 eps-graph percolates — 990
# unordered fixture edges form one 483-member giant component, the
# whole corpus at sf0.1 — so blocked DBSCAN there was a within-block
# density summary recovering <3% of true co-membership pairs, and
# every cluster-hashed split leaked ~100% vs truth. At 0.4 the graph
# is sparse (59 unordered fixture edges / 920 at sf0.1, mean degree
# ~0.24/0.92): real clusters, truth-faithful blocking, leak-safe
# splits. q235 (vector7) is the registered percolation pre-flight that
# keeps a future corpus from silently re-entering the degenerate
# regime; q34 stays the 0.3 near-dup DEDUP relation — a different
# operator with different semantics.
_DBSCAN_EPS_COS = 0.4
_DBSCAN_MIN_NBRS = 2   # core = >= 2 eps-neighbors (minPts 3 counting self)


def _label_sym_ctes() -> str:
    """Oracle CTEs producing sym(a, b) = the label-blocked eps-edge
    list at the FAMILY eps — q219's twin. Each vector has exactly one
    label, so the a < b join emits each unordered pair once and the
    symmetric union needs no dedup."""
    return f"""e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= {_DBSCAN_EPS_COS}
),
sym AS MATERIALIZED (SELECT a, b FROM p UNION ALL SELECT b, a FROM p)"""


def _eps_edges(spark, sf_dir, block_cols=()):
    """Symmetric eps-edge list (a, b) at the family eps: every
    unordered pair sharing ``block_cols`` with 4dp-rounded cosine >=
    {_DBSCAN_EPS_COS}, both orientations. Each directed edge appears
    exactly once — the self-join emits each unordered pair once (the
    duplicate-sensitivity contract of the dbscan operators). Blocked
    by label it is q219's anchor, quadratic per label; unblocked it is
    q232's truth arm, one broadcast nested-loop join, quadratic BY
    DESIGN (125k pairs at sf0.01, 2M at sf0.1). Decoupled from q34 in
    round 12: the near-dup DEDUP relation stays at 0.3 while the
    density family runs at the non-percolating {_DBSCAN_EPS_COS}."""
    e = load(spark, sf_dir, "embeddings")
    p = (
        cosine_pairs(e, block_cols=block_cols)
        .filter(F.col("cs") >= _DBSCAN_EPS_COS)
        .select("a", "b")
    )
    return p.union(p.select(F.col("b").alias("a"), F.col("a").alias("b")))


def _q219_oracle() -> str:
    from ..operators.dbscan import dbscan_oracle_tail

    return f"""
WITH RECURSIVE {_label_sym_ctes()},
{dbscan_oracle_tail(_DBSCAN_MIN_NBRS)}
"""


@query("q219_dbscan_embeddings", oracle=_q219_oracle(), tags=("vector", "graph", "EXT"))
def q219_dbscan_embeddings(spark, sf_dir):
    """Distributed DBSCAN over the label-blocked eps-graph
    (eps-neighbor = 4dp cosine >= {_DBSCAN_EPS_COS} within a label —
    the non-percolating family eps, re-anchored in round 12): core =
    >= {_DBSCAN_MIN_NBRS} neighbors (one degree aggregate), clusters =
    star-contraction CC over core-core edges only, border = non-core
    with a core neighbor (assigned to its MIN core cluster — the
    deterministic version of DBSCAN's order-dependent border tie),
    noise = the rest. Every vector gets a row.

    Scale: the eps-graph at 100 TB comes from the adaptive grid
    (q163's blocking) rather than label blocks — everything downstream
    of the edge list is degree counts, CC (O(log^2 n) rounds, shuffle
    = edge count), and two hash joins; nothing is ever all-pairs. The
    cluster map is density-bounded (only cores), smaller than the
    dup-cluster maps q124 already gates.

    Reference scope: EXT (SURVEY §2.11); no clustering in the
    reference job.
    """
    from ..operators.dbscan import dbscan_from_edges
    from ..scratch import parquet_checkpoint

    e = load(spark, sf_dir, "embeddings").select("vec_id")
    # file-backed before the label pass: every CC round re-evaluates
    # its input lineage, and live that re-runs the label-blocked pair
    # scan per round (the q232 lesson, same round)
    sym = parquet_checkpoint(_eps_edges(spark, sf_dir, ["label"]), "q219_sym_")
    return dbscan_from_edges(e, sym, _DBSCAN_MIN_NBRS)


# --------------------------------------------------------------------------
# q221: hard-negative mining — per training query, the top-k most
# similar vectors with a DIFFERENT label. Contrastive/embedding
# training (SimCSE/DPR-style) needs exactly this table: negatives
# that are hard BECAUSE they are near the anchor yet labeled
# differently. Same brute-force-vs-index contract as q24/q59: this is
# the exact oracle form; at corpus scale the candidate generator is
# the IVF/adaptive-grid probe (q147/q163 machinery) and q213-style
# gates pin the recall of swapping it in.
# --------------------------------------------------------------------------

_HN_QUERIES = 8
_HN_K = 5

_Q221_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e WHERE vec_id < {_HN_QUERIES}),
scored AS (
  SELECT q.q_id, e.vec_id,
         CAST(e.label AS BIGINT) AS neg_label,
         ROUND(list_cosine_similarity(e.v, q.qv), 4) AS cos_sim
  FROM e JOIN q ON e.label <> q.q_label
),
ranked AS (
  SELECT q_id, vec_id, neg_label, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, neg_label, cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_HN_K}
"""


@query("q221_hard_negatives", oracle=_Q221_ORACLE, tags=("vector", "similarity", "EXT"))
def q221_hard_negatives(spark, sf_dir):
    """Top-{_HN_K} cross-label cosine neighbors per query vector: the
    hard-negative table for contrastive training. Broadcast the query
    set (sample-bounded), score with the zip_with/aggregate fold (JVM
    built-ins, codegen — no UDF), keep only rows whose label differs
    from the anchor's, rank per query. One corpus pass, one top-k
    window; positives never reach the window because the label test
    is part of the join condition (planner pushes it into the
    broadcast join, not a post-filter)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_vec"),
    )
    cos = F.round(V.cosine(F.col("embedding"), F.col("q_vec")), 4)
    scored = e.join(
        F.broadcast(q), F.col("label") != F.col("q_label")
    ).select(
        "q_id",
        "vec_id",
        F.col("label").cast("long").alias("neg_label"),
        cos.alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= _HN_K)


# --------------------------------------------------------------------------
# q223: DBSCAN on the MULTI-PROBE eps-graph — q219's registered scale
# form. q219's edge set is the label-blocked all-pairs join: exact,
# but quadratic per label. Here eps-edge candidates come from the
# adaptive-grid index with the SAME depth-scaled multi-probe rule the
# k-NN family dials (q214): query side probes its top-_DBSCAN_NPROBE
# blocks, corpus side stays home-indexed — candidate work is
# N x nprobe² x block, LINEAR. Round 12 moved the family here from
# nprobe=1 within-block pairs after measuring the truth gates at the
# re-anchored eps 0.4: home-block-only edges recovered 37% of true
# eps-edges at the fixture (22/59) and 0.7% of true co-membership
# pairs at sf0.1; the nprobe=4 probe set recovers ~0.9 of true edges
# and 1.000/0.304 of true pairs (fixture/sf0.1) at linear cost, with
# PRECISION EXACTLY 1 (recovered edges ⊆ true edges, so multi-probe
# components only ever REFINE truth components — no false merges).
# --------------------------------------------------------------------------

# Probe budget for eps-edge generation, chosen from the measured
# recall dial at eps 0.4 (round 12, tools/dbscan_mp_dial.py at
# commit 669f295):
#   nprobe            1      2      3      4      5      6
#   edge recall f/s01 .37/.13 .71/.44 .81/.66 .90/.79 —/.86 —/.90
#   pair recall f/s01 .22/.007 .60/.06 .82/.19 1.0/.30 —/.39 —/.56
# nprobe=4 is the knee at the fixture (pair recall 1.0); at sf0.1 the
# pair metric stays chain-limited because that corpus sits near
# criticality at eps 0.4 (mean degree 0.92, max true component 75 —
# one missed edge in a long chain drops its C(m,2) co-memberships
# combinatorially), so every missed edge costs COMPOUNDING pair
# recall. The probe budget therefore scales with TREE DEPTH, the
# q214 precedent (round-13 verdict item #3): a depth-1 tree (fixture
# scales) keeps nprobe=4 — the fixture knee, pair recall 1.0; a
# depth>=2 tree means the corpus outgrew one grid level, its
# components chain across blocks, and the deeper budget buys sf0.1
# edge recall 0.79 -> 0.90 and pair
# recall 0.30 -> 0.56 for 2.25x candidate work (still linear:
# N x nprobe² x block). q233 floors the measured band at each depth.
_DBSCAN_NPROBE = 4
_DBSCAN_NPROBE_DEEP = 6
# Per-block candidate ceiling for the mp edge join: a healthy
# index holds per-block work at ~(nprobe²+1) x block² ≈ 37k pairs —
# 2M means the grid has effectively stopped separating the corpus.
_MP_MAX_BLOCK_EDGES = 2_000_000


def _dbscan_nprobe(ks) -> int:
    """Depth-scaled probe budget for eps-edge generation: 4 on a
    depth-1 tree (single grid level — the fixture operating point,
    measured pair recall 1.0), 6 once the
    adaptive tree deepens (blocks shrink relative to the eps-ball, so
    true eps-edges increasingly cross blocks; the dial table above
    prices the trade). Shared by the Spark edge builder
    (_mp_eps_edges, q228's refresh) and the oracle generator
    (gridsql.mp_sym_ctes) so both engines always probe the same
    budget for a given corpus."""
    return _DBSCAN_NPROBE if len(ks) == 1 else _DBSCAN_NPROBE_DEEP


def _mp_eps_candidates(probe, home, block_cols):
    """Directed eps-edge candidates (*block_cols, a, b) of the
    multi-probe join: probe side x home side on the block key, a != b,
    4dp cosine >= _DBSCAN_EPS_COS. Each DIRECTED candidate appears
    exactly once per generating block key (a neighbor has ONE home
    block; a query's probe blocks are distinct), and the block key is
    kept so the incremental refresh (q228) can partition edge state by
    it. Floats (cosine + round) stay JVM-side. Shared by the one-shot
    edge build and the refresh's touched-block recompute."""
    return (
        cosine_pairs(probe, home, block_cols)
        .filter(F.col("cs") >= _DBSCAN_EPS_COS)
        .select(*block_cols, "a", "b")
    )


def _mp_symmetrize(cand):
    """Symmetric closure of a directed candidate list: both
    orientations, DISTINCT — directed (a, b) can be generated twice
    (a probes b's home block; b probes a's). The distinct shuffles
    only the EPS-EDGE list (mean-degree x N rows — tiny), never the
    candidate pairs."""
    p = cand.select("a", "b")
    return p.union(p.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()


def _mp_block_guard(probe, home, block_cols, max_block_edges: int) -> None:
    """Fail-fast skew guard on the mp candidate join (round-13 verdict
    item #6): per block key, candidate work = probe-side rows x
    home-side rows. A degenerate corpus (one hub block swallowing the
    embedding space) re-creates exactly the quadratic blow-up the
    blocked union-find fail-fasted on — but the mp join had no guard,
    so the job would grind instead of failing loudly with the
    operator's remediation (retrain via q169's grid-health trigger /
    q236's lifecycle). Cost: the two block-key counts are lazy PLANS —
    probe/home are usually un-materialized multi-probe assignments, so
    this collect() evaluates the full assignment (corpus-wide windows
    + codebook scoring) once more before the candidate join evaluates
    it again. One extra linear assignment pass per ARTIFACT BUILD (not
    per query — every caller sits on the build-once path), paid to
    fail fast before a quadratic grind; the n_blocks-row join itself
    is noise."""
    pc = probe.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("np_"))
    hc = home.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("nh_"))
    worst = (
        pc.join(hc, block_cols)
        .select((F.col("np_") * F.col("nh_")).alias("cand"), *block_cols)
        .orderBy(F.desc("cand"))
        .limit(1)
        .collect()
    )
    if worst and worst[0]["cand"] > max_block_edges:
        r = worst[0]
        key = ", ".join(f"{c}={r[c]}" for c in block_cols)
        raise RuntimeError(
            f"mp eps-edge block ({key}) would score {r['cand']} candidate "
            f"pairs (> max_block_edges={max_block_edges}) — the grid index "
            "no longer separates this corpus (hub block). Retrain the index "
            "(q236 lifecycle); q169's grid-health report is the trigger."
        )


def _mp_eps_edges(spark, sf_dir, nprobe: int | None = None):
    """Build-once symmetric multi-probe eps-edge list, persisted into
    the k-NN index artifact (same fingerprint lifecycle — evicted and
    rebuilt with the index): six registered consumers (q223, q224,
    q229, q233, q234 and the q228 rebuild arm) read the SAME edge
    parquet instead of re-scoring N x nprobe² x block candidates each,
    exactly as a production pipeline builds its eps-graph once per
    corpus epoch. Edge rows are (a, b) directed-once — the
    duplicate-sensitivity contract of dbscan_from_edges. The probe
    budget defaults to the depth-scaled rule (_dbscan_nprobe) so the
    artifact name, the Spark plan and the oracle generator stay in
    lockstep per corpus."""
    import os

    meta = _knn_index(spark, sf_dir)
    if nprobe is None:
        nprobe = _dbscan_nprobe(meta["ks"])
    path = f"{meta['dir']}/eps_edges_p{nprobe}_e{int(round(_DBSCAN_EPS_COS * 100))}.parquet"
    # Same lock as the index build: concurrent gate branches asking for
    # a not-yet-built edge artifact must not both write it.
    with _KNN_INDEX_LOCK:
        if not os.path.isdir(path):
            home, probe, block_cols = _knn_assignments(spark, sf_dir, nprobe)
            _mp_block_guard(probe, home, block_cols, _MP_MAX_BLOCK_EDGES)
            sym = _mp_symmetrize(_mp_eps_candidates(probe, home, block_cols))
            sym.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _q223_sql(n: int) -> str:
    from ..operators.dbscan import dbscan_oracle_tail

    return f"""
WITH RECURSIVE {mp_sym_ctes(n)},
{dbscan_oracle_tail(_DBSCAN_MIN_NBRS)}
"""


@query("q223_dbscan_grid", oracle=_q223_sql, tags=("vector", "graph", "EXT"))
def q223_dbscan_grid(spark, sf_dir):
    """DBSCAN with multi-probe eps-edge generation: candidates =
    top-{_DBSCAN_NPROBE} probed blocks (query side) x home blocks
    (corpus side) of the adaptive-grid index at 4dp cosine >=
    {_DBSCAN_EPS_COS}, then the shared degree/CC/border pipeline
    (dbscan_from_edges — the eps-graph is no longer block-confined,
    so components are found by distributed star contraction over the
    TINY eps-edge list, not per-block union-find). The oracle
    (gridsql.mp_sym_ctes + the shared DBSCAN tail) builds the same
    probe set for the corpus's own tree; at the sf0.01 fixture that is
    the {_KM_K}-cell single-level grid with a plain top-nprobe coarse
    probe. Beyond fixture scale the tree deepens by design and the
    truth gates (q233) measure what the probe set recovers: ~0.9 of
    true eps-edges, 1.000/0.304 of true co-membership pairs at
    fixture/sf0.1, precision exactly 1 (see _DBSCAN_NPROBE dial).

    Scale shape: probing is index-assignment work (O(log N) centroid
    scores per vector); the candidate join shuffles on the block key
    with per-block fan-out nprobe² x block ~ {_DBSCAN_NPROBE}² x
    {_KNN_TARGET_BLOCK} — LINEAR total; the eps filter collapses
    candidates to mean-degree x N edge rows before the only
    edge-list-wide shuffles (distinct, degree count, CC rounds).
    Home-block-only edges recovered <1% of true co-membership pairs
    beyond the fixture in round 12's truth measurements — a wrong
    answer computed quickly; the probe set is the measured fix, as it
    was for k-NN recall in round 11."""
    from ..operators.dbscan import dbscan_from_edges

    e = load(spark, sf_dir, "embeddings").select("vec_id")
    sym = _mp_eps_edges(spark, sf_dir)
    return dbscan_from_edges(e, sym, _DBSCAN_MIN_NBRS)


# --------------------------------------------------------------------------
# q224: leakage-safe split repair on the ADAPTIVE-GRID eps-graph —
# q216's registered scale form, the same q149 -> q163 move as q223:
# q216's label-blocked edge join measured 21.9x/decade at 10x where
# the grid form stays ~3x. Cluster = CC over grid eps-edges, split =
# md5 bucket of the cluster id, and the report re-proves zero leakage
# over the SAME edge set (cross-block pairs are the recall gates'
# contract, as everywhere in the grid family).
# --------------------------------------------------------------------------


def _q224_sql(n: int) -> str:
    from ..operators.graph import cc_oracle_ctes
    from .planning import _LEAK_TRAIN_HI, _LEAK_VAL_HI

    split = f"""CASE WHEN SUBSTRING(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '{_LEAK_TRAIN_HI}' THEN 'train'
            WHEN SUBSTRING(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '{_LEAK_VAL_HI}' THEN 'val'
            ELSE 'test' END"""
    return f"""
WITH RECURSIVE {mp_sym_ctes(n)},
{cc_oracle_ctes("sym", "cl", "vec_id")},
assigned AS (
  SELECT e2.vec_id, COALESCE(cl.cluster_id, e2.vec_id) AS cluster_id
  FROM embeddings e2 LEFT JOIN cl ON e2.vec_id = cl.vec_id
),
sp AS (
  SELECT vec_id, cluster_id, ({split}) AS split FROM assigned
),
leak AS (
  SELECT DISTINCT s1.vec_id
  FROM sym p
  JOIN sp s1 ON p.a = s1.vec_id
  JOIN sp s2 ON p.b = s2.vec_id
  WHERE s1.split <> 'train' AND s2.split = 'train'
)
SELECT sp.split,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(COUNT(DISTINCT sp.cluster_id) AS BIGINT) AS n_clusters,
       CAST(SUM(CASE WHEN leak.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
FROM sp LEFT JOIN leak ON sp.vec_id = leak.vec_id
GROUP BY sp.split
"""


@query("q224_leakage_safe_split_grid", oracle=_q224_sql, tags=("vector", "gate", "EXT"))
def q224_leakage_safe_split_grid(spark, sf_dir):
    """q216's repair with linear edge generation: eps-edges from the
    multi-probe candidate join (the q223 edge set — ~0.9 of true
    eps-edges where the round-10/11 within-block form saw 13-37%), CC
    by star contraction over the tiny edge list, whole clusters hashed
    to one split, zero-leak re-proof over the same edge set in the
    report. The oracle builds the same edge set in SQL
    (gridsql.mp_sym_ctes) at every scale; beyond fixture scale the
    tree deepens and q234 prices the split against TRUTH (at the
    re-anchored eps it is leak-free against truth too, not just
    against this blocked relation).

    Physical plan: the mp edge set is NOT block-confined, so the
    min_nbrs=1 clustering is plain distributed CC
    (connected_components_star) over the persisted edge parquet —
    shuffle bounded by the eps-edge count (mean-degree x N), zero
    candidate-scale shuffles; the edge parquet is the shared index
    artifact, nothing pinned in the block manager."""
    from ..operators.graph import connected_components_star
    from .planning import _LEAK_TRAIN_HI, _LEAK_VAL_HI

    e = load(spark, sf_dir, "embeddings").select("vec_id")
    # file-backed by construction (_mp_eps_edges persists the list into
    # the index artifact), so the report's live lineage into the edge
    # list pins nothing in the block manager (round-9 verdict item #7).
    sym = _mp_eps_edges(spark, sf_dir)
    cl = connected_components_star(
        sym.filter(F.col("a") < F.col("b")), src="a", dst="b"
    ).select(F.col("id").alias("vec_id"), "cluster_id")
    assigned = e.join(cl, "vec_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", "vec_id")
    )
    bucket = F.substring(
        F.md5(F.col("cluster_id").cast("string").cast("binary")), 1, 2
    )
    sp = assigned.withColumn(
        "split",
        F.when(bucket < _LEAK_TRAIN_HI, "train")
        .when(bucket < _LEAK_VAL_HI, "val")
        .otherwise("test"),
    )
    leak = (
        sym.join(
            sp.select(F.col("vec_id").alias("a"), F.col("split").alias("sa")), "a"
        )
        .join(
            sp.select(F.col("vec_id").alias("b"), F.col("split").alias("sb")), "b"
        )
        .filter((F.col("sa") != "train") & (F.col("sb") == "train"))
        .select(F.col("a").alias("vec_id"))
        .distinct()
        .withColumn("leaked", F.lit(1))
    )
    return (
        sp.join(leak, "vec_id", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum(F.coalesce("leaked", F.lit(0))).cast("long").alias("n_leaked"),
        )
    )


# --------------------------------------------------------------------------
# q225: incremental k-NN graph refresh — the blast-radius lifecycle
# for the graph family (q159/q193's pattern on a new state table).
# Build the neighbor lists over history, persist them, fold in an
# ingest batch by recomputing ONLY the blocks the batch touches, and
# the merged state must hash-match q212's one-shot oracle exactly.
# --------------------------------------------------------------------------

# ~1% deterministic batch: P(block untouched) = (1 - f)^|block|, so a
# 1% batch leaves ~0.99^32 ~ 72% of blocks untouched — the refresh
# cost is the touched fraction, not the corpus. (A 20% nightly batch
# would touch ~every block: incremental == rebuild, honestly.)
_KNN_INC_MOD = 100


@query("q225_knn_graph_incremental", oracle=q212_oracle, tags=("vector", "pipeline", "EXT"))
def q225_knn_graph_incremental(spark, sf_dir):
    """The k-NN graph as maintained state: build the neighbor lists
    over history (vec_id % {_KNN_INC_MOD} != 0), persist them to
    parquet, fold the ingest batch in by recomputing ONLY the blocks
    the batch touches (untouched lists are read back verbatim), and
    return the merged graph — which must hash-match q212's ONE-SHOT
    oracle, proving refresh ≡ rebuild exactly.

    Why equality holds: the codebook is the shared md5-sample-trained
    index (frozen across build and refresh — the production contract);
    a block with no batch member has an identical member set in both
    histories, so its top-k lists are identical; a touched block is
    recomputed over its full (history ∪ batch) membership.

    Scale: refresh cost is touched-blocks work only. P(block
    untouched) = (1-f)^|block| for batch fraction f — a 1% batch
    leaves ~72% of 32-member blocks untouched, a 0.01% production
    batch ~99.7%; the persisted lists make the saving real (3 longs +
    1 double per edge read back, no rescoring).
    """
    from ..scratch import scratch_dir

    home, _, block_cols = _knn_assignments(spark, sf_dir, nprobe=1)
    is_new = F.col("vec_id") % _KNN_INC_MOD == 0
    hist = home.filter(~is_new)
    batch = home.filter(is_new)

    g_dir = scratch_dir("q225_knn_")
    g0_rows = _knn_topk(cosine_pairs(hist, hist, block_cols))
    g0_rows.write.mode("overwrite").parquet(f"{g_dir}/graph_epoch0.parquet")
    g0 = spark.read.parquet(f"{g_dir}/graph_epoch0.parquet")

    touched = batch.select(*block_cols).distinct()
    members = home.join(touched, block_cols)  # hist + batch of touched blocks
    g1 = _knn_topk(cosine_pairs(members, members, block_cols))
    untouched = g0.join(touched, block_cols, "left_anti")
    return untouched.unionByName(g1).select("vec_id", "nbr_id", "rnk", "cs")


# --------------------------------------------------------------------------
# q228: incremental DBSCAN — the blast-radius lifecycle applied to the
# one family that lacked it (round-9 verdict, next-round item #3).
# Text dedup (q126), vector dedup (q164), image dedup (q193),
# snapshots (q211/q217) and the k-NN graph (q225) all have a
# refresh-not-rebuild form; density clustering now does too.
# --------------------------------------------------------------------------


@query("q228_dbscan_grid_incremental", oracle=_q223_sql, tags=("vector", "graph", "pipeline", "EXT"))
def q228_dbscan_grid_incremental(spark, sf_dir):
    """Multi-probe DBSCAN as maintained state: persist the directed
    eps-edge list of the historical slice (vec_id % {_KNN_INC_MOD}
    != 0) to parquet, fold the ingest batch in by scoring ONLY the
    pairs the batch can create, and rerun the (cheap) label pass over
    the merged edge set. The result must hash-match q223's ONE-SHOT
    oracle, proving refresh ≡ rebuild exactly.

    The incremental unit is a PAIR-LEVEL PARTITION of the candidate
    set, not touched blocks (the round-12 first cut recomputed every
    block the batch probes into — but a 1% batch with a 17-block
    probe footprint touches ~every block at any scale, so "touched
    blocks" degenerated to 2x rebuild, measured 172 s at 10x).
    Partition every directed candidate (a, b) by endpoint membership:

    * a∈hist, b∈hist  — the persisted epoch-0 edge list, verbatim;
    * a∈batch, b∈any  — probes(batch) x home(full): |batch| x
      (nprobe²+1) x block scored pairs;
    * a∈hist, b∈batch — probes(hist) x home(batch) on the block key:
      the frozen hist probe assignment (recomputed from the shared
      persisted index — pure codebook scoring, no pair work) hash-
      joined against the tiny batch home side.

    The three parts are disjoint and exhaustive, so their union IS
    the one-shot candidate set — equality by construction, no block
    bookkeeping at all. The symmetrize+distinct and the label pass
    (degree, CC, border) rerun over the merged list, which is
    mean-degree x N rows — tiny. The codebook is the shared persisted
    index (frozen across epochs — the production contract, same as
    q225); retrain triggers come from q169's grid-health report, and
    a retrain epoch rebuilds via q236's lifecycle.

    Scale: refresh pair-scoring is O(|batch| x nprobe² x block) +
    one hash join of the probe table against the batch homes —
    LINEAR IN THE BATCH where the one-shot build is linear in the
    corpus (measured at 10x with a 1% batch: refresh-only 15.8 s vs
    135.9 s live rebuild, 12% — tools/dbscan_refresh_probe.py at
    commit 669f295; the touched-block first cut measured 172 s, WORSE
    than rebuilding).
    Re-scoring 100 TB of candidates per nightly batch is the
    alternative this removes.
    """
    from ..operators.dbscan import dbscan_from_edges
    from ..scratch import scratch_dir

    nprobe = _dbscan_nprobe(_knn_index(spark, sf_dir)["ks"])
    home, probe, block_cols = _knn_assignments(spark, sf_dir, nprobe)
    # One guard on the FULL probe x home covers all three filtered
    # sub-joins below (each filters rows out, so its per-block
    # candidate count is <= the full join's) — round-13 ADVICE: the
    # epoch-0 and incremental joins ground quadratically on a hub
    # block while only the one-shot artifact build was guarded.
    _mp_block_guard(probe, home, block_cols, _MP_MAX_BLOCK_EDGES)
    is_new = F.col("vec_id") % _KNN_INC_MOD == 0

    cand0 = _mp_eps_candidates(
        probe.filter(~is_new), home.filter(~is_new), block_cols
    ).select("a", "b")
    g_dir = scratch_dir("q228_mp_")
    cand0.write.mode("overwrite").parquet(f"{g_dir}/edges_epoch0.parquet")
    e0 = spark.read.parquet(f"{g_dir}/edges_epoch0.parquet")

    c_new_a = _mp_eps_candidates(probe.filter(is_new), home, block_cols).select(
        "a", "b"
    )
    c_hist_new = _mp_eps_candidates(
        probe.filter(~is_new), home.filter(is_new), block_cols
    ).select("a", "b")
    # file-back the merged list before the label pass — the degree /
    # core-core / border consumers and each CC round re-evaluate their
    # input, and the union's live lineage includes the increment joins
    # (the q232 lesson, same round)
    from ..scratch import parquet_checkpoint

    sym = parquet_checkpoint(
        _mp_symmetrize(e0.unionByName(c_new_a).unionByName(c_hist_new)),
        "q228_sym_",
    )
    ids = load(spark, sf_dir, "embeddings").select("vec_id")
    return dbscan_from_edges(ids, sym, _DBSCAN_MIN_NBRS)


# --------------------------------------------------------------------------
# q229: the DBSCAN blocking-policy agreement gate (round-9 verdict,
# next-round item #4). q223's cross-block-edge loss was argued by
# analogy to q163's measured -1.5%; this gate MEASURES the grid-vs-
# exact divergence instead: % role agreement and co-membership pair
# overlap between the two registered anchors, with a floor.
# --------------------------------------------------------------------------

# Floor below the measured MULTI-SCALE band at the round-13 operating
# point (eps 0.4, mp edges, depth-scaled nprobe): fixture 0.938,
# sf0.1 0.606 — both arms approximate a COMMON sparse truth (q232),
# so their mutual agreement is stable where the percolating eps 0.3
# made it structurally unstable (round-10's 0.4 → 0.3 retreat,
# explained by round-11's truth anchor). Note the nprobe 4 → 6 step
# at sf0.1 moved this number DOWN (0.6665 → 0.606) while moving both
# truth agreements UP (q233: grid 0.8585 → 0.9355) — the grid arm got
# closer to truth and therefore further from the structurally-blind
# label arm, which is exactly why truth-based floors live on q233 and
# this one is only the two-arm regression tripwire. The label arm
# finds far fewer pairs than the grid arm at this eps (true edges are
# mostly cross-label — fixture 0 vs 55 pairs, sf0.1 24 vs 4447,
# Jaccard ≈ 0): the expected blocking asymmetry, not drift.
_DBSCAN_ROLE_AGREE_MIN = 0.5


def _q229_sql(n: int) -> str:
    # the label arm is named exl, NOT ex: a MATERIALIZED outer CTE
    # that shares a name with a CTE inside gr's generated SQL breaks
    # the inner name resolution in DuckDB
    return f"""
WITH exl AS MATERIALIZED ({_q219_oracle()}),
gr AS MATERIALIZED ({_q223_sql(n)}),
j AS (
  SELECT exl.vec_id, exl.role AS re, gr.role AS rg
  FROM exl JOIN gr USING (vec_id)
),
pe AS (
  SELECT a.vec_id AS u, b.vec_id AS v FROM exl a JOIN exl b
  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE a.cluster_id IS NOT NULL
),
pg AS (
  SELECT a.vec_id AS u, b.vec_id AS v FROM gr a JOIN gr b
  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE a.cluster_id IS NOT NULL
),
counts AS (
  SELECT CAST((SELECT COUNT(*) FROM j) AS BIGINT) AS n_vectors,
         CAST((SELECT SUM(CASE WHEN re = rg THEN 1 ELSE 0 END) FROM j) AS BIGINT)
           AS n_role_agree,
         CAST((SELECT COUNT(*) FROM pe) AS BIGINT) AS n_pairs_exact,
         CAST((SELECT COUNT(*) FROM pg) AS BIGINT) AS n_pairs_grid,
         CAST((SELECT COUNT(*) FROM pe JOIN pg ON pe.u = pg.u AND pe.v = pg.v)
              AS BIGINT) AS n_pairs_both
)
SELECT n_vectors, n_role_agree,
       n_role_agree / CAST(n_vectors AS DOUBLE) AS role_agreement,
       n_pairs_exact, n_pairs_grid, n_pairs_both,
       CASE WHEN n_pairs_exact + n_pairs_grid - n_pairs_both = 0 THEN 1.0
            ELSE n_pairs_both
                 / CAST(n_pairs_exact + n_pairs_grid - n_pairs_both AS DOUBLE)
       END AS pair_jaccard,
       CASE WHEN n_role_agree / CAST(n_vectors AS DOUBLE)
                 >= {_DBSCAN_ROLE_AGREE_MIN}
            THEN 'ok' ELSE 'FAIL agreement' END AS agreement_gate
FROM counts
"""


def _cluster_pairs(df, cl):
    """Co-membership pairs (u, v), u < v, of the vectors sharing a
    non-null cluster id in column ``cl`` — the pair side of the DBSCAN
    agreement gates (q229, q233)."""
    a = df.filter(F.col(cl).isNotNull()).select(
        F.col("vec_id").alias("u"), F.col(cl).alias("c")
    )
    b = a.select(F.col("u").alias("v"), "c")
    return a.join(b, "c").filter(F.col("u") < F.col("v")).select("u", "v")


@query("q229_dbscan_agreement_gate", oracle=_q229_sql, tags=("vector", "graph", "gate", "EXT"))
def q229_dbscan_agreement_gate(spark, sf_dir):
    """Measured divergence between the two registered DBSCAN anchors —
    q219 (exact all-pairs eps-edges WITHIN LABEL blocks) and q223
    (adaptive-grid within-block eps-edges): per-vector role agreement
    (gated) plus co-membership pair counts and their Jaccard.

    Honest contract: this is a BLOCKING-POLICY comparison, not an
    approximation-error bound — the truth-based bounds live on q233.
    Label blocking hides cross-label eps-pairs; the multi-probe grid
    misses the ~0.1-0.2 of true edges outside the probe set. At the
    family eps 0.4 true edges are mostly cross-label, so the grid arm
    finds nearly all co-membership pairs and the label arm almost
    none (fixture 55 vs 0, sf0.1 2397 vs 24, Jaccard ≈ 0) while roles
    agree on 0.94 / 0.67 of vectors — the gate pins those numbers so
    a regression in either arm (or a silent blocking change) is
    visible, the way q213 pins k-NN recall.

    Scale: both arms are the registered queries (q219's label blocks
    are its documented quadratic-anchor contract); the co-membership
    pair join is quadratic in cluster size — dup-bounded, same as the
    dup-cluster maps q124 gates."""
    from ..operators.par import run_concurrently

    # The two arms are independent full pipelines (edge generation +
    # eager CC loops); evaluate them on driver threads so their
    # internal actions overlap (par.py). Frames are unchanged.
    ex, gr = run_concurrently(
        lambda: q219_dbscan_embeddings(spark, sf_dir).select(
            "vec_id", F.col("role").alias("re"), F.col("cluster_id").alias("ce")
        ),
        lambda: q223_dbscan_grid(spark, sf_dir).select(
            "vec_id", F.col("role").alias("rg"), F.col("cluster_id").alias("cg")
        ),
    )

    j = ex.join(gr, "vec_id")
    base = j.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum((F.col("re") == F.col("rg")).cast("long")).alias("n_role_agree"),
    )
    pe, pg = _cluster_pairs(ex, "ce"), _cluster_pairs(gr, "cg")
    npe = pe.agg(F.count(F.lit(1)).alias("n_pairs_exact"))
    npg = pg.agg(F.count(F.lit(1)).alias("n_pairs_grid"))
    nboth = pe.join(pg, ["u", "v"]).agg(F.count(F.lit(1)).alias("n_pairs_both"))
    role_agreement = F.col("n_role_agree") / F.col("n_vectors").cast("double")
    return (
        base.crossJoin(F.broadcast(npe))
        .crossJoin(F.broadcast(npg))
        .crossJoin(F.broadcast(nboth))
        .select(
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.col("n_role_agree").cast("long").alias("n_role_agree"),
            role_agreement.alias("role_agreement"),
            F.col("n_pairs_exact").cast("long").alias("n_pairs_exact"),
            F.col("n_pairs_grid").cast("long").alias("n_pairs_grid"),
            F.col("n_pairs_both").cast("long").alias("n_pairs_both"),
            # zero-guard like the recall gates: both arms finding zero
            # co-membership pairs is perfect agreement, not NULL (and
            # DuckDB's 0/0.0 differs from Spark's — latent divergence).
            F.when(
                (
                    F.col("n_pairs_exact")
                    + F.col("n_pairs_grid")
                    - F.col("n_pairs_both")
                )
                == 0,
                F.lit(1.0),
            )
            .otherwise(
                F.col("n_pairs_both")
                / (
                    F.col("n_pairs_exact")
                    + F.col("n_pairs_grid")
                    - F.col("n_pairs_both")
                ).cast("double")
            )
            .alias("pair_jaccard"),
            F.when(role_agreement >= _DBSCAN_ROLE_AGREE_MIN, F.lit("ok"))
            .otherwise(F.lit("FAIL agreement"))
            .alias("agreement_gate"),
        )
    )


# --------------------------------------------------------------------------
# q236: incremental refresh of the ANN INDEX ARTIFACT itself (round-11
# verdict item #3 / round-10 item #4). q225/q228 refresh the graph and
# the clustering ON TOP of a frozen index; this registers the index's
# own epoch lifecycle: codebook trained on history and FROZEN as the
# persisted artifact, batch vectors HOME-ASSIGNED ONLY (never
# retrained), merged state identical to assigning the full corpus
# under the same frozen codebook.
# --------------------------------------------------------------------------


def _km_hist_ctes(k: int, iters: int, hist_pred: str) -> str:
    """_km_ctes trained on a HISTORY slice: cent0 sampled (md5 order)
    from the slice, Lloyd rounds assign the slice only — the SQL twin
    of train-on-history + frozen-codebook assignment. ``assign{iters}``
    still covers ONLY the slice; the caller assigns the full corpus
    against cent{iters} itself. Same determinism discipline as
    _km_ctes (4dp assignment round, c_id tie-break, 6dp exact-decimal
    means with the string hop)."""
    parts = [
        f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
eh AS (SELECT vec_id, v FROM e WHERE {hist_pred}),
exh AS (SELECT vec_id, generate_subscripts(v, 1) AS d, unnest(v) AS x FROM eh),
cent0 AS (
  SELECT vec_id AS c_id, v AS cv FROM eh
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
)"""
    ]
    for i in range(iters + 1):
        parts.append(
            f"""assign{i} AS (
  SELECT vec_id, c_id, cos_sim FROM (
    SELECT eh.vec_id, c.c_id,
           ROUND(list_cosine_similarity(eh.v, c.cv), 4) AS cos_sim,
           ROW_NUMBER() OVER (PARTITION BY eh.vec_id
                              ORDER BY ROUND(list_cosine_similarity(eh.v, c.cv), 4) DESC,
                                       c.c_id) AS rn
    FROM eh CROSS JOIN cent{i} c
  ) WHERE rn = 1
)"""
        )
        if i < iters:
            parts.append(
                f"""upd{i + 1} AS (
  SELECT a.c_id, exh.d,
         CAST(CAST(SUM(CAST(ROUND(exh.x, 6) AS DECIMAL(24,8))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS m
  FROM assign{i} a JOIN exh ON exh.vec_id = a.vec_id
  GROUP BY a.c_id, exh.d
),
cent{i + 1} AS (SELECT c_id, list(m ORDER BY d) AS cv FROM upd{i + 1} GROUP BY c_id)"""
            )
    return ",\n".join(parts)


def _q236_oracle() -> str:
    hist_pred = f"vec_id % {_KNN_INC_MOD} <> 0"
    return f"""
WITH {_km_hist_ctes(_KM_K, _KM_ITERS, hist_pred)},
full_assign AS (
  SELECT vec_id, c_id, cos_sim FROM (
    SELECT e.vec_id, c.c_id,
           ROUND(list_cosine_similarity(e.v, c.cv), 4) AS cos_sim,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 4) DESC,
                                       c.c_id) AS rn
    FROM e CROSS JOIN cent{_KM_ITERS} c
  ) WHERE rn = 1
)
SELECT vec_id, c_id, cos_sim FROM full_assign
"""


@query("q236_knn_index_refresh", oracle=_q236_oracle(), tags=("vector", "pipeline", "EXT"))
def q236_knn_index_refresh(spark, sf_dir):
    """The ANN index artifact's epoch lifecycle, proven refresh ≡
    rebuild: Lloyd-train the coarse codebook on the HISTORY slice
    (vec_id % {_KNN_INC_MOD} != 0, md5-sample-bounded — the q225/q228
    "codebook frozen across epochs" production contract made a
    registered, oracle-checked fact), persist it as the index
    artifact, home-assign history, then fold the ingest batch in by
    ASSIGNING ONLY THE BATCH against the frozen parquet codebook —
    no retraining anywhere on the refresh path. The merged state must
    hash-match the oracle's independent full-corpus assignment under
    the same history-trained codebook, bit for bit (4dp assignment
    round + c_id tie-break; the oracle re-runs the whole history
    Lloyd in SQL, so a drifted trainer OR a drifted refresh both
    fire).

    Why equality holds: coarse assignment is per-vector deterministic
    given the codebook, so assign(hist) ∪ assign(batch) =
    assign(full) exactly — PROVIDED nothing retrains. That proviso is
    the production content: a content-fingerprint miss (q169's
    grid-health report is the retrain trigger) rebuilds from scratch;
    between retrains, ingest costs |batch| x k centroid scores, not a
    corpus re-shuffle, and the frozen artifact keeps every consumer
    (q212-q215, q223-q228) bit-stable across the epoch.

    Scale: training is bounded by the md5 train sample (10k vectors);
    refresh is batch x k broadcast scoring — both independent of
    corpus size; the merged state is a parquet append in production.
    Deeper trees freeze their sampled sub-codebooks the same way (the
    persisted index already carries coarse + deepest levels)."""
    from ..operators.similarity import train_codebook
    from ..scratch import scratch_dir

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_new = F.col("vec_id") % _KNN_INC_MOD == 0
    hist = e.filter(~is_new)

    idx_dir = scratch_dir("q236_index_epoch_")
    cent = train_codebook(hist, _KM_K, iters=_KM_ITERS)
    # the FROZEN artifact: codebook persisted, then read back so the
    # refresh path scores against the parquet bytes (what production
    # reads), not the in-session lineage
    cent.select("c_id", "cv").write.mode("overwrite").parquet(
        f"{idx_dir}/codebook.parquet"
    )
    frozen = spark.read.parquet(f"{idx_dir}/codebook.parquet")

    keep = ["vec_id", "c_id", "cos_sim"]
    nearest_centroids(hist, frozen).select(*keep).write.mode("overwrite").parquet(
        f"{idx_dir}/home_epoch0.parquet"
    )
    home0 = spark.read.parquet(f"{idx_dir}/home_epoch0.parquet")
    refresh = nearest_centroids(e.filter(is_new), frozen).select(*keep)
    return home0.unionByName(refresh)
