"""Vector similarity queries over ``embeddings`` (north-star
extension): exact cosine top-k with a DuckDB oracle, label-blocked
cosine near-dup pairs, and the rows-only LSH scale paths.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load
from ..functions import vector as V
from ..operators.dedup import (
    lsh_candidate_pairs,
    minhash_jaccard_estimate,
    minhash_signatures,
    simhash,
    simhash_near_pairs,
)
from ..operators.similarity import cosine_pairs, cosine_topk, lsh_cosine_pairs
from .registry import query

_N_QUERIES = 8
_TOP_K = 5

_Q24_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.q_id, e.vec_id,
         ROUND(list_cosine_similarity(e.v, q.qv), 4) AS cos_sim
  FROM e JOIN q ON e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_TOP_K}
"""


@query("q24_cosine_topk", oracle=_Q24_ORACLE, tags=("vector", "similarity", "EXT"))
def q24_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (ANN baseline): broadcast query
    vectors, score via zip_with/aggregate fold (JVM built-ins, no UDF),
    rank per query. Cosine rounded to 4dp on both engines so the
    float fold order can never flip the hash."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    return cosine_topk(e, q, k=_TOP_K).select("q_id", "vec_id", "cos_sim", "rank")


# Synthetic embeddings are near-orthogonal (max within-label cosine
# ~0.47); 0.3 sits at ~the 99th percentile so the near-dup set is
# small but non-empty.
_NEAR_DUP_THRESHOLD = 0.3

_Q34_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(a.label AS BIGINT) AS label,
       ROUND(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= {_NEAR_DUP_THRESHOLD}
"""


@query("q34_cosine_near_dup", oracle=_Q34_ORACLE, tags=("vector", "dedup", "EXT"))
def q34_cosine_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs with label blocking (the
    generic blocked-join shape of embedding dedup: compare only within
    a coarse partition, here the label)."""
    e = load(spark, sf_dir, "embeddings")
    return (
        cosine_pairs(e, block_cols=["label"])
        .filter(F.col("cs") >= _NEAR_DUP_THRESHOLD)
        .select(
            F.col("a").alias("vec_a"),
            F.col("b").alias("vec_b"),
            F.col("label").cast("long").alias("label"),
            F.col("cs").alias("cos_sim"),
        )
    )


@query("q25_minhash_lsh_pairs", oracle=None, tags=("text", "dedup", "EXT", "rows-only"))
def q25_minhash_lsh_pairs(spark, sf_dir):
    """MinHash + LSH banding near-dup candidates with estimated
    Jaccard — the 100 TB scale path for q23's exact join. Rows-only
    check (hash seeding is engine-specific, not SQL-expressible)."""
    d = load(spark, sf_dir, "documents")
    # No checkpoint here: the self-join sides are IDENTICAL subplans,
    # so Catalyst's ReusedExchange already shares the signature
    # shuffle (measured neutral at sf0.1 — unlike text.py's staged
    # pipeline, whose branches differ and do need the materialization).
    sigs = minhash_signatures(d, num_perm=32, shingle_n=5)
    pairs = lsh_candidate_pairs(sigs, num_perm=32, bands=8)
    return minhash_jaccard_estimate(sigs, pairs, num_perm=32).filter(
        F.col("est_jaccard") >= 0.125
    )


@query("q32_simhash_pairs", oracle=None, tags=("text", "dedup", "EXT", "rows-only"))
def q32_simhash_pairs(spark, sf_dir):
    """SimHash fingerprints + pigeonhole block-LSH near-dup pairs
    within Hamming distance 3. Rows-only check."""
    d = load(spark, sf_dir, "documents")
    fp = simhash(d, bits=32, shingle_n=3)
    return simhash_near_pairs(fp, max_hamming=3, bits=32)


@query("q33_lsh_cosine_pairs", oracle=None, tags=("vector", "similarity", "EXT", "rows-only"))
def q33_lsh_cosine_pairs(spark, sf_dir):
    """Random-hyperplane LSH-bucketed cosine near-dup pairs — the
    scale path of q34's blocked exact join. Rows-only check."""
    e = load(spark, sf_dir, "embeddings")
    return lsh_cosine_pairs(e, threshold=0.25, n_planes=4)


# --------------------------------------------------------------------------
# Embedding corpus statistics: per-label norms + centroid norm — the
# sanity pass a pipeline runs before ANN indexing (detects unnormalized
# slices / collapsed clusters).
# --------------------------------------------------------------------------

_Q83_ORACLE = """
WITH e AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
norms AS (
  SELECT label,
         CAST(ROUND(sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')), 4)
              AS DECIMAL(18,4)) AS nrm
  FROM e
)
SELECT CAST(label AS BIGINT) AS label,
       COUNT(*) AS n_vectors,
       CAST(SUM(nrm) AS DOUBLE) / COUNT(*) AS avg_norm,
       CAST(MIN(nrm) AS DOUBLE) AS min_norm,
       CAST(MAX(nrm) AS DOUBLE) AS max_norm
FROM norms GROUP BY label
"""


@query("q83_embedding_norm_stats", oracle=_Q83_ORACLE, tags=("vector", "agg", "EXT"))
def q83_embedding_norm_stats(spark, sf_dir):
    """Per-label embedding norm statistics. The norm is a row-local
    zip_with/aggregate fold (JVM, codegen) — identical left-to-right
    fold order in both engines — rounded to 4dp and decimal-summed so
    the group aggregate is order-independent. One narrow scan + one
    tiny hash aggregate at any corpus size."""
    e = load(spark, sf_dir, "embeddings")
    nrm = F.round(V.norm(V.as_double_array(F.col("embedding"))), 4).cast(
        "decimal(18,4)"
    )
    return (
        e.select(F.col("label").cast("long").alias("label"), nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (F.sum("nrm").cast("double") / F.count(F.lit(1))).alias("avg_norm"),
            F.min("nrm").cast("double").alias("min_norm"),
            F.max("nrm").cast("double").alias("max_norm"),
        )
    )
