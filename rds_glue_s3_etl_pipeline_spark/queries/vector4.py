"""Vector batch 4: TRAINED product quantization — the last ANN
component that was missing its measured-recall counterpart (round-6
verdict "What's missing" #3).

q160 trains the PQ sub-codebooks with per-subspace L2 Lloyd rounds
(operators/similarity.pq_train_codebooks — the swap q146's docstring
documented) and answers ADC top-k with them; q158 is the recall gate
comparing SAMPLED (q146) vs TRAINED (q160) PQ against the exact top-k
at IDENTICAL probe cost (same M, KSUB, k — training changes only the
codebook content, so any recall delta is pure training lift). This
completes the quality report grid: IVF sampled/trained (q145/q155),
SQ8 (q157), PQ sampled/trained (here).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load
from ..functions import vector as V
from ..session import checkpoint
from .registry import query
from .vector import _Q24_ORACLE, _TOP_K
from .vector3 import (
    _PQ_DSUB,
    _PQ_KSUB,
    _PQ_M,
    _PQ_N_QUERIES,
    _PQ_TOP_K,
    _Q146_ORACLE,
    _pq_adc_topk,
)

_PQ_ITERS = 2


def _pq_km_ctes(iters: int) -> str:
    """Unrolled per-subspace L2 Lloyd rounds as DuckDB CTEs — the PQ
    analog of vector3._km_ctes: each round encodes every subvector to
    its nearest sub-centroid (L2 rounded 4dp, c_id tie-break) and
    recomputes sub-centroid means with the exact-decimal discipline,
    matching operators/similarity.pq_encode/pq_update bit for bit."""
    parts = [
        f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ms AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m),
subs AS (
  SELECT vec_id, m, list_slice(v, m * {_PQ_DSUB} + 1, m * {_PQ_DSUB} + {_PQ_DSUB}) AS sv
  FROM e CROSS JOIN ms
),
sex AS (SELECT vec_id, m, generate_subscripts(sv, 1) AS d, unnest(sv) AS x FROM subs),
cent0 AS (
  SELECT c_id, m, list_slice(v, m * {_PQ_DSUB} + 1, m * {_PQ_DSUB} + {_PQ_DSUB}) AS cv
  FROM (SELECT vec_id AS c_id, v FROM e
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_PQ_KSUB})
  CROSS JOIN ms
)"""
    ]
    for i in range(iters + 1):
        parts.append(
            f"""enc{i} AS (
  SELECT vec_id, m, c_id AS code FROM (
    SELECT s.vec_id, s.m, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY ROUND(list_distance(s.sv, c.cv), 4), c.c_id) AS rn
    FROM subs s JOIN cent{i} c ON c.m = s.m
  ) WHERE rn = 1
)"""
        )
        if i < iters:
            parts.append(
                f"""upd{i + 1} AS (
  SELECT a.m, a.code AS c_id, sex.d,
         CAST(CAST(SUM(CAST(ROUND(sex.x, 6) AS DECIMAL(24,8))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS mu
  FROM enc{i} a JOIN sex ON sex.vec_id = a.vec_id AND sex.m = a.m
  GROUP BY a.m, a.code, sex.d
),
cent{i + 1} AS (SELECT m, c_id, list(mu ORDER BY d) AS cv FROM upd{i + 1} GROUP BY m, c_id)"""
            )
    return ",\n".join(parts)


def _pq_adc_sql(enc_cte: str, cent_cte: str) -> str:
    """ADC scoring tail shared by the trained-PQ oracle — mirrors the
    q146 oracle's lut/scored/rank block against a given codebook CTE."""
    return f"""
lut AS (
  SELECT q.vec_id AS q_id, c.m, c.c_id AS code,
         CAST(ROUND(list_inner_product(
           list_slice(q.v, c.m * {_PQ_DSUB} + 1, c.m * {_PQ_DSUB} + {_PQ_DSUB}), c.cv), 6)
           AS DECIMAL(18,6)) AS part
  FROM e q CROSS JOIN {cent_cte} c
  WHERE q.vec_id < {_PQ_N_QUERIES}
),
scored AS (
  SELECT l.q_id, a.vec_id,
         ROUND(CAST(CAST(SUM(l.part) AS VARCHAR) AS DOUBLE), 4) AS adc_score
  FROM {enc_cte} a JOIN lut l ON l.m = a.m AND l.code = a.code
  WHERE a.vec_id <> l.q_id
  GROUP BY l.q_id, a.vec_id
)
SELECT q_id, vec_id, adc_score, CAST(rank AS BIGINT) AS rank
FROM (SELECT q_id, vec_id, adc_score,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY adc_score DESC, vec_id) AS rank
      FROM scored)
WHERE rank <= {_PQ_TOP_K}
"""


# The WITH list: k-means CTEs, then the lut/scored ADC tail and the
# final ranked SELECT.
_Q160_ORACLE = (
    "WITH "
    + _pq_km_ctes(_PQ_ITERS)
    + ","
    + _pq_adc_sql(f"enc{_PQ_ITERS}", f"cent{_PQ_ITERS}")
)


@query("q160_pq_trained_topk", oracle=_Q160_ORACLE, tags=("vector", "similarity", "EXT"))
def q160_pq_trained_topk(spark, sf_dir):
    """PQ/ADC top-k with TRAINED sub-codebooks: {_PQ_ITERS} rounds of
    per-subspace L2 k-means refine the sampled initialization, then
    encode + ADC exactly as q146 (shared _pq_adc_topk). The unrolled
    DuckDB twin reproduces every trained centroid and ADC score bit
    for bit.

    Scale: training adds {_PQ_ITERS} broadcast-codebook scans of the
    subvector table (map-only; the update aggregate is bounded by
    M x KSUB x DSUB cells) on top of q146's profile — the codebook
    stays an M x {_PQ_KSUB}-row broadcast artifact; nothing new
    shuffles with corpus size.
    """
    from ..operators.similarity import init_centroids, pq_encode, pq_train_codebooks

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = init_centroids(e, _PQ_KSUB, vec_alias="v")
    ms = F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m")
    # THREE consumers re-derived this scan+explode from parquet (two
    # training encodes + the final encode): checkpoint it once,
    # materialized by the first training job (eager=False). At 100 TB
    # this is two saved corpus scans per run.
    subs = checkpoint(
        e.select("vec_id", ms, "embedding").select(
            "vec_id",
            "m",
            F.slice(
                V.as_double_array("embedding"), F.col("m") * _PQ_DSUB + 1, _PQ_DSUB
            ).alias("sv"),
        ),
        eager=False,
    )
    csubs0 = cent.select("c_id", ms, "v").select(
        "c_id",
        "m",
        F.slice(V.as_double_array("v"), F.col("m") * _PQ_DSUB + 1, _PQ_DSUB).alias(
            "cv"
        ),
    )
    csubs = pq_train_codebooks(subs, csubs0, iters=_PQ_ITERS)
    enc = pq_encode(subs, csubs).select("vec_id", "m", "code")
    q = e.filter(F.col("vec_id") < _PQ_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    return _pq_adc_topk(enc, csubs, q)


# --------------------------------------------------------------------------
# q158: PQ recall gate — sampled vs trained codebooks, identical probe
# cost, both measured against the exact top-k.
# --------------------------------------------------------------------------

_Q158_ORACLE = f"""
WITH sampled AS (SELECT q_id, vec_id FROM ({_Q146_ORACLE})),
trained AS (SELECT q_id, vec_id FROM ({_Q160_ORACLE})),
exact AS (SELECT q_id, vec_id FROM ({_Q24_ORACLE})),
hits AS (
  SELECT e.q_id,
         CAST(COUNT(s.vec_id) AS BIGINT) AS n_hits_sampled,
         CAST(COUNT(t.vec_id) AS BIGINT) AS n_hits_trained
  FROM exact e
  LEFT JOIN sampled s ON s.q_id = e.q_id AND s.vec_id = e.vec_id
  LEFT JOIN trained t ON t.q_id = e.q_id AND t.vec_id = e.vec_id
  GROUP BY e.q_id
)
SELECT q_id, n_hits_sampled, n_hits_trained,
       n_hits_sampled / {float(_TOP_K)} AS recall_sampled,
       n_hits_trained / {float(_TOP_K)} AS recall_trained
FROM hits
"""


@query("q158_pq_recall", oracle=_Q158_ORACLE, tags=("vector", "similarity", "EXT"))
def q158_pq_recall(spark, sf_dir):
    """Recall@{_TOP_K} of BOTH PQ variants against the exact top-k, per
    query, side by side: sampled codebook (q146) vs trained codebook
    (q160) at identical probe cost — same M/KSUB/k, so the recall
    delta is the measured value of the {_PQ_ITERS} Lloyd rounds and
    nothing else. The PQ analog of the q145-vs-q155 IVF pair; with
    q157 (SQ8) this completes the measured-recall grid for every ANN
    index family in the engine. The exact side is the bounded
    {_PQ_N_QUERIES}-query sample (the O(N) scan a production gate
    runs on a fixed query set).

    Measured on the sf0.01 fixture: mean recall@5 is 0.175 for BOTH
    codebooks — on these weakly-clustered synthetic embeddings the
    Lloyd rounds reshape sub-cells without lifting top-k fidelity
    (unlike IVF, where training lifted 0.10 -> 0.225, q145/q155).
    That flat delta is exactly what this gate exists to surface: it
    says don't pay the training pass for THIS corpus, and on a real
    clustered corpus it is the regression alarm if a codebook refresh
    degrades."""
    from .vector import q24_cosine_topk
    from .vector3 import q146_pq_topk

    exact = q24_cosine_topk(spark, sf_dir).select("q_id", "vec_id")
    sampled = q146_pq_topk(spark, sf_dir).select(
        "q_id", "vec_id", F.lit(1).alias("s_hit")
    )
    trained = q160_pq_trained_topk(spark, sf_dir).select(
        "q_id", "vec_id", F.lit(1).alias("t_hit")
    )
    hits = (
        exact.join(sampled, ["q_id", "vec_id"], "left")
        .join(trained, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count("s_hit").alias("n_hits_sampled"),
            F.count("t_hit").alias("n_hits_trained"),
        )
    )
    return hits.select(
        "q_id",
        "n_hits_sampled",
        "n_hits_trained",
        (F.col("n_hits_sampled") / F.lit(float(_TOP_K))).alias("recall_sampled"),
        (F.col("n_hits_trained") / F.lit(float(_TOP_K))).alias("recall_trained"),
    )


# --------------------------------------------------------------------------
# q162: SemDeDup, THREE-level blocking — the registered form of the
# hierarchy-deepening rule the 100x probe demanded. SCALE.md's 100x
# table measured q149's fixed (cell, subcell) grid at 12.4x on 10x
# data (within-block pairs ~ (N/256)^2); the production rule is "add
# levels until blocks are bounded". This query IS that next level:
# same trained coarse codebook, same per-cell sub-codebook, plus a
# per-(cell, subcell) sub-sub-codebook — pairs form in blocks of
# ~N/(16*8*4) at assignment cost of 16+8+4 scores per vector.
# --------------------------------------------------------------------------

from .vector3 import (
    _KM_ITERS,
    _KM_K,
    _SEM_THRESHOLD,
    _SUB_K,
    _km_ctes,
    _sem_pairs,
    _survivor_groups,
)
from ..operators.similarity import (
    block_sub_codebook,
    init_centroids,
    nearest_centroids,
    spherical_kmeans,
)

_SUB2_K = 4

_Q162_ORACLE = f"""
WITH RECURSIVE {_km_ctes(16, _KM_ITERS)},
fin AS (
  SELECT a.vec_id, a.c_id, a.cos_sim, e.v
  FROM assign{_KM_ITERS} a JOIN e ON e.vec_id = a.vec_id
),
sub AS (
  SELECT c_id, vec_id AS s_id, v AS sv FROM (
    SELECT c_id, vec_id, v,
           ROW_NUMBER() OVER (PARTITION BY c_id
                              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM fin
  ) WHERE rn <= {_SUB_K}
),
sa AS (
  SELECT vec_id, c_id, s_id, v FROM (
    SELECT f.vec_id, f.c_id, s.s_id, f.v,
           ROW_NUMBER() OVER (PARTITION BY f.vec_id
                              ORDER BY ROUND(list_cosine_similarity(f.v, s.sv), 4) DESC,
                                       s.s_id) AS rn
    FROM fin f JOIN sub s ON s.c_id = f.c_id
  ) WHERE rn = 1
),
sub2 AS (
  SELECT c_id, s_id, vec_id AS s2_id, v AS s2v FROM (
    SELECT c_id, s_id, vec_id, v,
           ROW_NUMBER() OVER (PARTITION BY c_id, s_id
                              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM sa
  ) WHERE rn <= {_SUB2_K}
),
sa2 AS (
  SELECT vec_id, c_id, s_id, s2_id FROM (
    SELECT a.vec_id, a.c_id, a.s_id, s.s2_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
                              ORDER BY ROUND(list_cosine_similarity(a.v, s.s2v), 4) DESC,
                                       s.s2_id) AS rn
    FROM sa a JOIN sub2 s ON s.c_id = a.c_id AND s.s_id = a.s_id
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM sa2 a JOIN sa2 b
    ON a.c_id = b.c_id AND a.s_id = b.s_id AND a.s2_id = b.s2_id
   AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 4) >= {_SEM_THRESHOLD}
),
sym AS (
  SELECT va AS a, vb AS b FROM pairs
  UNION
  SELECT vb, va FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
cl AS (SELECT a AS vec_id, LEAST(MIN(b), a) AS cluster_id FROM reach GROUP BY a),
members AS (
  SELECT cl.cluster_id, cl.vec_id, f.cos_sim AS cent_cos
  FROM cl JOIN fin f ON f.vec_id = cl.vec_id
)
SELECT m.cluster_id, m.vec_id AS kept_vec_id, m.cent_cos AS kept_cent_cos,
       s.n_members
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY cluster_id ORDER BY cent_cos ASC, vec_id) AS rn
      FROM members) m
JOIN (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM members GROUP BY cluster_id) s USING (cluster_id)
WHERE m.rn = 1
"""


@query("q162_semantic_dedup_3level", oracle=_Q162_ORACLE, tags=("vector", "dedup", "graph", "EXT"))
def q162_semantic_dedup_3level(spark, sf_dir):
    """SemDeDup with a THREE-level hierarchical codebook: trained
    coarse cells (k=16) → per-cell sub-codebook (k={_SUB_K}) →
    per-(cell, subcell) sub-sub-codebook (k={_SUB2_K}); the pair
    self-join runs inside (cell, subcell, subsubcell) blocks of
    ~N/512 while each vector scores only 16+{_SUB_K}+{_SUB2_K}
    centroids. This is q149's own docstring rule ("at production
    scale the hierarchy deepens") made a registered, oracle-checked
    query — the 100x probe measured q149's fixed two-level grid going
    quadratic (SCALE.md round-7 table), and adding a level is the
    documented fix: block count scales multiplicatively per level, so
    levels grow as log(corpus) to keep blocks bounded.

    Finer blocking can only LOWER pair recall vs q143/q149 (blocks
    are nested subsets), never change survivor policy; the recall
    trade is measured by comparing the three group counts on the same
    fixture."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fin = checkpoint(spherical_kmeans(e, init_centroids(e, _KM_K), iters=_KM_ITERS))
    blocked, block_cols = fin.select("vec_id", "c_id", "embedding"), ["c_id"]
    for k_sub, id_out in ((_SUB_K, "s_id"), (_SUB2_K, "s2_id")):
        sub = block_sub_codebook(blocked, block_cols, k_sub, id_out)
        blocked = nearest_centroids(blocked, sub, block_cols=block_cols).select(
            *blocked.columns, id_out
        )
        block_cols = [*block_cols, id_out]
    pairs = _sem_pairs(blocked, block_cols)
    return _survivor_groups(fin, pairs)
