"""Corpus curation batch 2 — the selection/weighting decisions made
between "stats computed" and "shards written":

* q183: cluster-balanced resampling — cap every semantic cluster's
  contribution so over-represented modes can't dominate the training
  mix (the diversity-preserving counterpart of SemDeDup: q143 drops
  near-identical POINTS, this caps near-identical TOPICS).
* q184: hybrid retrieval — reciprocal-rank fusion (RRF, Cormack et
  al.'s classic formula) of the BM25 lexical ranking (q174) and the
  dense cosine ranking (q24's scorer), the standard first stage of a
  RAG / data-curation retrieval stack.
* q185: temperature-scaled domain mixture (share^alpha reweighting, the
  GPT-3/multilingual-C4 recipe) — flattens the domain distribution so
  small domains are upsampled without hand-tuned weights.
* q186: per-document n-gram novelty — the fraction of a document's
  distinct shingles that appear nowhere else in the corpus; low
  novelty flags boilerplate/templates, high novelty flags unique text
  worth keeping (the document-level view of q170's repeated spans).

Reference parity: none of these exist in the reference pipeline
(gule_test_job.py) — EXT operators from the LLM-pipeline north star
(SURVEY.md §2.11).

Scale notes per query live in the docstrings; the common theme is that
every ranking is TakeOrderedAndProject or a bounded-partition window,
every corpus-wide statistic is one hash aggregate broadcast back, and
nothing collects to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import text as X
from ..functions import vector as V
from ..scratch import scratch_dir
from .registry import query
from .text import _SHINGLE_N
from .vector3 import _KM_ITERS, _KM_K, _km_ctes

# --------------------------------------------------------------------------
# q183: cluster-balanced resampling. Assign every vector to its
# trained k-means cell (q142's codebook), then keep at most _CB_CAP
# members per cell, chosen by deterministic md5 rank (seedless
# "random" — the same discipline as init_centroids). The kept set is
# the balanced corpus; cell_n preserves the original density so the
# sampler can log what it flattened.
# --------------------------------------------------------------------------

_CB_CAP = 24

_Q183_ORACLE = f"""
WITH {_km_ctes(_KM_K, _KM_ITERS)},
fin AS (SELECT vec_id, c_id FROM assign{_KM_ITERS}),
sized AS (SELECT c_id, CAST(COUNT(*) AS BIGINT) AS cell_n FROM fin GROUP BY c_id),
ranked AS (
  SELECT vec_id, c_id,
         ROW_NUMBER() OVER (PARTITION BY c_id
                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM fin
)
SELECT r.c_id, r.vec_id, s.cell_n, CAST(r.rn AS BIGINT) AS keep_rank
FROM ranked r JOIN sized s USING (c_id)
WHERE r.rn <= {_CB_CAP}
"""


@query("q183_cluster_balanced_sample", oracle=_Q183_ORACLE, tags=("vector", "curation", "EXT"))
def q183_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced resampling (DCLM/DoReMi-adjacent diversity
    control): train the q142 spherical-k-means codebook, assign every
    vector, keep <= _CB_CAP members per cell by md5(vec_id) rank.

    Scale shape: codebook training is the q142 broadcast-Lloyd loop
    (corpus never shuffles); the cap is one row_number window
    PARTITIONED BY CELL, so no global sort — and with the adaptive
    grid (operators.similarity.adaptive_grid) cell count grows with
    the corpus, holding per-partition window size ~constant at any
    scale. The md5 rank makes the sample deterministic with no RNG
    state to coordinate across executors."""
    from ..operators.similarity import init_centroids, spherical_kmeans

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fin = spherical_kmeans(e, init_centroids(e, _KM_K), iters=_KM_ITERS).select(
        "vec_id", "c_id"
    )
    sized = fin.groupBy("c_id").agg(F.count(F.lit(1)).alias("cell_n"))
    w = Window.partitionBy("c_id").orderBy(
        F.md5(F.col("vec_id").cast("string").cast("binary")), F.col("vec_id")
    )
    return (
        fin.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CB_CAP)
        .join(F.broadcast(sized), "c_id")
        .select(
            "c_id",
            "vec_id",
            "cell_n",
            F.col("rn").cast("long").alias("keep_rank"),
        )
    )


# --------------------------------------------------------------------------
# q184: hybrid retrieval via reciprocal-rank fusion. The lexical arm
# is q174's BM25 top-15; the dense arm is the q24 cosine scorer for
# query vector 0 (query-by-document). RRF needs only the two rank
# lists — no score normalization — which is exactly why it's the
# default fusion everywhere: rrf(d) = sum over arms of 1/(C + rank).
# --------------------------------------------------------------------------

_RRF_C = 60  # the canonical constant from the RRF paper
_RRF_POOL = 15  # candidates taken from each arm (= q174's top-k)
_RRF_TOPK = 10
_RRF_QVEC = 0  # query-by-document: doc 0's embedding is the dense query


def _q184_oracle() -> str:
    from .planning import _q174_oracle

    return f"""
WITH bm AS ({_q174_oracle()}),
bmr AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r FROM bm
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT b.vec_id, ROUND(list_cosine_similarity(q.v, b.v), 4) AS cs
  FROM e b, (SELECT v FROM e WHERE vec_id = {_RRF_QVEC}) q
),
cosr AS (
  SELECT vec_id, r FROM (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cs DESC, vec_id) AS r FROM scored
  ) WHERE r <= {_RRF_POOL}
)
SELECT COALESCE(b.doc_id, c.vec_id) AS doc_id,
       b.r AS bm25_rank, c.r AS cos_rank,
       COALESCE(1.0 / ({_RRF_C} + b.r), 0) + COALESCE(1.0 / ({_RRF_C} + c.r), 0)
         AS rrf_score
FROM bmr b FULL OUTER JOIN cosr c ON b.doc_id = c.vec_id
ORDER BY rrf_score DESC, doc_id
LIMIT {_RRF_TOPK}
"""


@query("q184_hybrid_retrieval_rrf", oracle=_q184_oracle(), tags=("retrieval", "vector", "text", "EXT"))
def q184_hybrid_retrieval_rrf(spark, sf_dir):
    """Reciprocal-rank fusion of lexical (BM25, q174) and dense
    (cosine, q24's scorer) retrieval: each arm contributes
    1/(C + rank) for its top-_RRF_POOL candidates, full-outer-joined
    on doc id (doc_id and vec_id share the fixture's id space — the
    embedding OF the document).

    Scale shape: each arm ends in TakeOrderedAndProject (orderBy +
    limit — no global sort materializes), so the rank windows and the
    fusion join run over two _RRF_POOL-row frames; per-query fan-out
    at serving scale is the same plan with the arms grouped by query
    id. RRF sums are exact given integer ranks, so no rounding is
    needed beyond the arms' own score stabilization."""
    from .planning import q174_bm25_topk

    # Lexical arm: q174's top-15, re-ranked locally (15 rows).
    bm = q174_bm25_topk(spark, sf_dir)
    bmr = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .cast("long")
        .alias("r"),
    )
    # Dense arm: cosine of every vector against query vector 0, top-15
    # by TakeOrderedAndProject, then a 15-row local rank window.
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = e.filter(F.col("vec_id") == _RRF_QVEC).select(
        F.col("embedding").alias("q_emb")
    )
    scored = e.crossJoin(F.broadcast(qv)).select(
        "vec_id", F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias("cs")
    )
    top = scored.orderBy(F.desc("cs"), "vec_id").limit(_RRF_POOL)
    cosr = top.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cs"), "vec_id"))
        .cast("long")
        .alias("r"),
    )
    b, c = bmr.alias("b"), cosr.alias("c")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_C) + F.col("b.r")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("c.r")), F.lit(0.0))
    return (
        b.join(c, F.col("b.doc_id") == F.col("c.vec_id"), "full_outer")
        .select(
            F.coalesce(F.col("b.doc_id"), F.col("c.vec_id")).alias("doc_id"),
            F.col("b.r").alias("bm25_rank"),
            F.col("c.r").alias("cos_rank"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(_RRF_TOPK)
    )


# --------------------------------------------------------------------------
# q185: temperature-scaled domain mixture. Raw domain shares p_g are
# flattened to p_g^alpha / sum(p_g^alpha) (alpha < 1 upsamples small
# domains) — the GPT-3 / multilingual-sampling recipe, computed over
# (lang, source) cells. The powered weights are decimal-stabilized to
# 8dp before normalization so a 1-ulp pow() difference between engines
# can't move the output (the q174 ln() discipline), and the normalizer
# is an exact decimal sum so its value is order-independent.
# --------------------------------------------------------------------------

_TEMP_ALPHA = 0.7

_Q185_ORACLE = f"""
WITH cell AS (
  SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY lang, source
),
tot AS (SELECT CAST(SUM(chars) AS BIGINT) AS total_chars FROM cell),
pw AS (
  SELECT lang, source, chars,
         chars / CAST(total_chars AS DOUBLE) AS share,
         CAST(CAST(POWER(chars / CAST(total_chars AS DOUBLE), {_TEMP_ALPHA})
              AS DECIMAL(18,8)) AS DOUBLE) AS pwt
  FROM cell, tot
),
z AS (
  SELECT CAST(CAST(SUM(CAST(pwt AS DECIMAL(24,8))) AS VARCHAR) AS DOUBLE) AS zsum
  FROM pw
)
SELECT lang, source, chars, share,
       pwt / zsum AS weight,
       (pwt / zsum) / share AS boost
FROM pw, z
"""


@query("q185_domain_temperature_mix", oracle=_Q185_ORACLE, tags=("curation", "agg", "EXT"))
def q185_domain_temperature_mix(spark, sf_dir):
    """Temperature-scaled mixture weights per (lang, source) domain:
    weight_g = share_g^alpha / Z with alpha=0.7. boost = weight/share
    is the up/down-sampling factor the shard sampler applies.

    Scale shape: one hash aggregate over documents (partial-agg
    shuffle bounded by #domains), two scalar broadcasts (total chars,
    normalizer Z). The domain table is tiny at any corpus size, so
    everything after the first aggregate is driver-free broadcast
    math."""
    d = load(spark, sf_dir, "documents")
    # Materialize the domain table once (#domains rows): tot, pw, and
    # z all derive from it — without this the documents scan re-runs
    # for every branch (the plan audit counted 4 scans).
    cell = (
        d.groupBy("lang", "source")
        .agg(F.sum("n_chars").cast("long").alias("chars"))
        .localCheckpoint(eager=True)
    )
    tot = cell.agg(F.sum("chars").cast("long").alias("total_chars"))
    share = F.col("chars") / F.col("total_chars").cast("double")
    pw = cell.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "chars",
        share.alias("share"),
        F.pow(share, F.lit(_TEMP_ALPHA))
        .cast("decimal(18,8)")
        .cast("double")
        .alias("pwt"),
    )
    z = pw.agg(
        F.sum(F.col("pwt").cast("decimal(24,8)"))
        .cast("string")
        .cast("double")
        .alias("zsum")
    )
    w = F.col("pwt") / F.col("zsum")
    return pw.crossJoin(F.broadcast(z)).select(
        "lang",
        "source",
        "chars",
        "share",
        w.alias("weight"),
        (w / F.col("share")).alias("boost"),
    )


# --------------------------------------------------------------------------
# q186: n-gram novelty per document — the share of a document's
# distinct 5-word shingles with corpus document-frequency 1. The
# document-level aggregate of the q23/q170 shingle machinery: low
# novelty = template/boilerplate, high = unique content.
# --------------------------------------------------------------------------

_Q186_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS t
  FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           array_to_string(t[i:i+{_SHINGLE_N - 1}], ' ') AS sh
    FROM (SELECT doc_id, t,
                 unnest(generate_series(1, GREATEST(array_length(t) - {_SHINGLE_N - 1}, 0))) AS i
          FROM toks)
  )
),
dfreq AS (SELECT sh, COUNT(*) AS df FROM shingles GROUP BY sh)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)
         AS novelty
FROM shingles s JOIN dfreq d USING (sh)
GROUP BY s.doc_id
"""


@query("q186_ngram_novelty", oracle=_Q186_ORACLE, tags=("text", "curation", "EXT"))
def q186_ngram_novelty(spark, sf_dir):
    """Per-document novelty rate: distinct 5-word shingles, corpus df
    per shingle, novelty = fraction with df == 1 (the Lee et al.
    memorization-risk signal at document granularity).

    Scale shape: shingles join on the 64-bit xxhash64 (cheap shuffle,
    q23's discipline), df is one partial-aggregated groupBy whose
    output is ~the distinct-shingle count, and the join back is
    hash-to-hash. No df cap here (unlike q23's pair join) because the
    per-doc aggregate is LINEAR in shingle rows — hot shingles add
    rows, not row-pairs; AQE skew handling covers a pathological
    shingle."""
    d = load(spark, sf_dir, "documents")
    sh = (
        X.exploded_word_shingles(d, "text", "doc_id", _SHINGLE_N)
        .select("doc_id", F.xxhash64("sh").alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    novel = (F.col("df") == 1).cast("long")
    return (
        sh.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
            (F.sum(novel) / F.count(F.lit(1)).cast("double")).alias("novelty"),
        )
    )


# --------------------------------------------------------------------------
# q190: the full curation pipeline verdict — one row per document with
# the first gate that rejected it (or 'kept'). Gate order mirrors a
# production pretraining pipeline: near-dup keep-best first (q124's
# decision), then the quality bar, then the novelty/boilerplate bar.
# The composite materializes what q133-style exports consume, and its
# mix (how many docs each gate ate) is the number a data team actually
# watches per ingest.
# --------------------------------------------------------------------------

_CP_QUALITY_MIN = 0.6
_CP_NOVELTY_MIN = 0.5


def _q190_oracle() -> str:
    from .text import _Q20_ORACLE, _Q23_ORACLE

    return f"""
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
),
cl AS (
  SELECT a AS doc_id, LEAST(MIN(b), a) AS cluster_id FROM reach GROUP BY a
),
assigned AS (
  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
  FROM assigned
),
q AS ({_Q20_ORACLE}),
nv AS ({_Q186_ORACLE})
SELECT r.doc_id, r.cluster_id, q.quality,
       COALESCE(nv.novelty, 1.0) AS novelty,
       CASE WHEN r.rn > 1 THEN 'dup_loser'
            WHEN q.quality < {_CP_QUALITY_MIN} THEN 'low_quality'
            WHEN COALESCE(nv.novelty, 1.0) < {_CP_NOVELTY_MIN} THEN 'low_novelty'
            ELSE 'kept' END AS verdict
FROM ranked r
JOIN q ON q.doc_id = r.doc_id
LEFT JOIN nv ON nv.doc_id = r.doc_id
"""


def _q190_compute(spark, sf_dir):
    """The actual three-gate DAG — see q190_curation_pipeline for the
    semantics. Split out so the verdict can be materialized ONCE per
    (process, corpus content) and every consumer (q190 itself, q194's
    mix report, any future dashboard roll-up) reads the parquet instead
    of re-running dedup + quality + novelty."""
    from ..operators.graph import connected_components_star
    from ..operators.skew import gated_broadcast
    from .text import staged_near_dup_edges

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")
    edges = staged_near_dup_edges(spark, sf_dir)
    cl = connected_components_star(edges, src="doc_a", dst="doc_b").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    # Count-gated: the dup-rate argument (map << corpus) is enforced,
    # not assumed — above the gate this becomes a shuffled hash join.
    assigned = docs.join(gated_broadcast(cl), "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        "n_chars",
        "text",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = assigned.withColumn("rn", F.row_number().over(w))
    nv = q186_ngram_novelty(spark, sf_dir).select("doc_id", "novelty")
    scored = ranked.join(nv, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        "rn",
        X.quality_score("text").alias("quality"),
        F.coalesce("novelty", F.lit(1.0)).alias("novelty"),
    )
    verdict = (
        F.when(F.col("rn") > 1, F.lit("dup_loser"))
        .when(F.col("quality") < _CP_QUALITY_MIN, F.lit("low_quality"))
        .when(F.col("novelty") < _CP_NOVELTY_MIN, F.lit("low_novelty"))
        .otherwise(F.lit("kept"))
    )
    return scored.select(
        "doc_id", "cluster_id", "quality", "novelty", verdict.alias("verdict")
    )


_VERDICT_CACHE: dict[tuple, str] = {}


def curation_verdict_snapshot(spark, sf_dir):
    """q190's verdict frame read from a materialized parquet store,
    computing it on first use per (process, corpus content) — the
    corpus_survivor_snapshot pattern (queries/corpus.py): fingerprint-
    keyed so a rebuilt fixture re-runs the gates, managed scratch so
    nothing outlives the process. The three-gate DAG (staged dedup,
    quality, novelty) runs exactly once; q190 and q194 (and any future
    per-ingest dashboard) all read the same store, so the roll-up costs
    a scan + aggregate instead of a second full curation pass."""
    from ..session import released_blocks
    from .corpus import _docs_fingerprint

    key = (os.path.abspath(sf_dir), _docs_fingerprint(sf_dir))
    cached = _VERDICT_CACHE.get(key)
    if cached is None or not os.path.isdir(cached):
        out = scratch_dir("curation_verdict_")
        # The gate DAG's checkpointed intermediates (shingle tables, CC
        # rounds) die with the write — release their blocks instead of
        # letting them squat in the memory pool until GC.
        with released_blocks(spark):
            _q190_compute(spark, sf_dir).write.mode("overwrite").parquet(out)
        _VERDICT_CACHE[key] = out
        cached = out
    return spark.read.parquet(cached)


@query("q190_curation_pipeline", oracle=_q190_oracle(), tags=("text", "dedup", "curation", "EXT"))
def q190_curation_pipeline(spark, sf_dir):
    """End-to-end curation verdict per document: near-dup keep-best
    (staged LSH edges -> star-contraction components -> longest-doc
    survivor, exactly q124's decision), then the q20 quality bar, then
    the q186 novelty bar. First failing gate wins; survivors are
    'kept'. Docs too short to shingle have no novelty evidence and
    pass that gate (novelty defaults to 1.0).

    Scale shape: the three signals are each one corpus-linear pass
    (staged dedup ~ true-dup-linear, quality pure codegen built-ins,
    novelty one shingle df aggregate + hash join), composed with two
    hash joins on doc_id — the whole pipeline is a DAG of the already-
    proven pieces with no new shuffle shapes; the dup-cluster map
    broadcast is count-gated (operators/skew.py gated_broadcast). The
    verdict is
    materialized once per corpus via curation_verdict_snapshot, so
    downstream consumers (q194) pay a parquet scan, not a re-run."""
    return curation_verdict_snapshot(spark, sf_dir)


# --------------------------------------------------------------------------
# q191: retrieval quality metrics — MRR and NDCG@k of the IVF ANN
# (q59) against exact brute force (q24), per query. Completes the
# recall-gate family (q145/q155/q157/q158 measure recall@k; this adds
# the rank-sensitive metrics an IR eval actually reports). All log2
# weights are PRECOMPUTED literals shared by both engines, so the
# metric math is bit-deterministic with no engine log() in the path.
# --------------------------------------------------------------------------

# 1/log2(rank+1) for rank 1..5 and cumulative ideal DCG for m=1..5
# relevant items (shortest-roundtrip float literals — both engines
# parse them to the identical double).
_NDCG_W = (1.0, 0.6309297535714575, 0.5, 0.43067655807339306, 0.38685280723454163)
_NDCG_IDCG = (1.0, 1.6309297535714575, 2.1309297535714578, 2.5616063116448506, 2.9484591188793923)


def _q191_oracle() -> str:
    from .vector import _Q24_ORACLE
    from .vector2 import _Q59_ORACLE

    w_case = " ".join(
        f"WHEN {i + 1} THEN {w!r}" for i, w in enumerate(_NDCG_W)
    )
    idcg_case = " ".join(
        f"WHEN {m + 1} THEN {v!r}" for m, v in enumerate(_NDCG_IDCG)
    )
    return f"""
WITH exact_k AS ({_Q24_ORACLE}),
rel AS (SELECT q_id, vec_id FROM exact_k WHERE vec_id <> q_id),
m AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM rel GROUP BY q_id),
ivf AS ({_Q59_ORACLE}),
hits AS (
  SELECT i.q_id, i.rank
  FROM ivf i JOIN rel r ON r.q_id = i.q_id AND r.vec_id = i.vec_id
),
agg AS (
  SELECT q_id,
         CAST(COUNT(*) AS BIGINT) AS n_hits,
         MIN(rank) AS first_hit,
         SUM(CASE rank {w_case} ELSE 0.0 END) AS dcg
  FROM hits GROUP BY q_id
)
SELECT m.q_id, m.n_rel,
       COALESCE(a.n_hits, 0) AS n_hits,
       COALESCE(1.0 / a.first_hit, 0.0) AS mrr,
       COALESCE(a.dcg, 0.0) / (CASE m.n_rel {idcg_case} ELSE 1.0 END) AS ndcg
FROM m LEFT JOIN agg a USING (q_id)
"""


@query("q191_retrieval_metrics", oracle=_q191_oracle(), tags=("vector", "retrieval", "EXT"))
def q191_retrieval_metrics(spark, sf_dir):
    """Per-query MRR and NDCG@k of IVF-Flat (q59, nprobe=1) against
    the exact cosine top-k (q24), relevance = the exact list minus the
    query itself (the IVF arm excludes self-matches by construction).

    Scale shape: both arms are the already-audited ANN plans; the
    metric layer is one (q_id, vec_id) hash join bounded by #queries x
    k plus a per-query aggregate — negligible next to the arms at any
    corpus size. Rank weights 1/log2(r+1) and ideal-DCG denominators
    are literal constants, so the only floating math is sums of a
    handful of identical doubles on both engines."""
    from .vector import q24_cosine_topk
    from .vector2 import q59_ivf_topk

    exact = q24_cosine_topk(spark, sf_dir).filter(
        F.col("vec_id") != F.col("q_id")
    )
    rel = exact.select("q_id", "vec_id")
    m = rel.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_rel"))
    ivf = q59_ivf_topk(spark, sf_dir).select("q_id", "vec_id", "rank")
    hits = ivf.join(rel, ["q_id", "vec_id"])
    w_col = F.col("rank")
    dcg_w = F.lit(0.0)
    for i, w in enumerate(_NDCG_W):
        dcg_w = F.when(w_col == i + 1, F.lit(w)).otherwise(dcg_w)
    agg = hits.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("rank").alias("first_hit"),
        F.sum(dcg_w).alias("dcg"),
    )
    idcg = F.lit(1.0)
    for mm, v in enumerate(_NDCG_IDCG):
        idcg = F.when(F.col("n_rel") == mm + 1, F.lit(v)).otherwise(idcg)
    return m.join(agg, "q_id", "left").select(
        "q_id",
        "n_rel",
        F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
        F.coalesce(F.lit(1.0) / F.col("first_hit"), F.lit(0.0)).alias("mrr"),
        (F.coalesce("dcg", F.lit(0.0)) / idcg).alias("ndcg"),
    )


# --------------------------------------------------------------------------
# q194: the curation mix report — q190's verdicts rolled up by
# (lang, verdict) with doc and char mass, the q134-shaped dashboard
# row a data team watches per ingest: which gate is eating which
# language, and how much trainable text survives.
# --------------------------------------------------------------------------

def _q194_oracle() -> str:
    return f"""
WITH verdicts AS ({_q190_oracle()})
SELECT d.lang, v.verdict,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS n_chars
FROM verdicts v JOIN documents d ON d.doc_id = v.doc_id
GROUP BY d.lang, v.verdict
"""


@query("q194_curation_mix_report", oracle=_q194_oracle(), tags=("text", "curation", "agg", "EXT"))
def q194_curation_mix_report(spark, sf_dir):
    """Roll q190's per-doc verdicts up to the (lang, verdict) mix —
    doc counts and char mass per cell. Reads the materialized verdict
    store (curation_verdict_snapshot) instead of re-running the
    three-gate DAG, so the report costs one parquet scan + hash
    aggregate joined back to documents for lang/n_chars; the output is
    #langs x 4 rows at any corpus size."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    v = curation_verdict_snapshot(spark, sf_dir).select("doc_id", "verdict")
    return (
        v.join(d, "doc_id")
        .groupBy("lang", "verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )
