"""Fourth vector/similarity batch — the trained-codebook ANN stack,
its measured quality gates, and semantic dedup:

* q142: spherical k-means (Lloyd) refined IVF assignment — replaces
  q59's seedless sample codebook with actual cluster centers, trained
  by fixed-iteration distributed Lloyd rounds.
* q143 / q149: SemDeDup-style semantic dedup (Abbas et al. 2023,
  public paper) — pairs only within a k-means cell (q143), and the
  scale variant blocking by (cell, sub-codebook cell) after the 10x
  probe caught the single-level join's quadratic cell growth (q149).
* q144: sparse TF-IDF cosine similarity join via an inverted index
  with a document-frequency cap — the classic all-pairs-similarity
  shape (term-at-a-time, candidates only where terms are shared).
* q145 / q155: recall@k of the sample-codebook IVF (q59) and the
  trained IVF (q147) against exact brute force (q24) — "measure,
  don't guess" for both codebooks (0.10 -> 0.225 mean recall@5).
* q146: product quantization with ADC lookup-table scoring.
* q147: train -> assign -> probe, the full production ANN loop.
* q148: codebook balance report (sample vs trained cell populations).
* q150: incremental ingest dedup probing the trained cells
  (multi-probe nprobe=4), q132's bounded-block scale variant.

Every query except where noted carries a full DuckDB oracle; the
k-means iterations are unrolled into CTEs exactly like q137's
PageRank rounds.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import vector as V
from ..operators.graph import cc_oracle_ctes, connected_components_star
from ..operators.similarity import (
    block_sub_codebook,
    cosine_pairs,
    init_centroids,
    kmeans_update,
    nearest_centroids,
    pair_topk,
    spherical_kmeans,
    spherical_kmeans_codebook,
)
from ..session import checkpoint
from .registry import query

# --------------------------------------------------------------------------
# q142: k-means-refined IVF assignment.
# --------------------------------------------------------------------------

_KM_K = 16
_KM_ITERS = 2


def _km_ctes(k: int, iters: int) -> str:
    """Unrolled Lloyd rounds as DuckDB CTEs (the q137 pattern): each
    round is one assignment (argmax cosine, 4dp-rounded, c_id
    tie-break) and one mean update (6dp-rounded components, exact
    decimal sum, string-hop back to double, double division by the
    member count) — the same determinism discipline as the Spark side,
    so the final assignment hash-matches bit for bit."""
    parts = [
        f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (SELECT vec_id, generate_subscripts(v, 1) AS d, unnest(v) AS x FROM e),
cent0 AS (
  SELECT vec_id AS c_id, v AS cv FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
)"""
    ]
    for i in range(iters + 1):
        parts.append(
            f"""assign{i} AS (
  SELECT vec_id, c_id, cos_sim FROM (
    SELECT e.vec_id, c.c_id,
           ROUND(list_cosine_similarity(e.v, c.cv), 4) AS cos_sim,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 4) DESC,
                                       c.c_id) AS rn
    FROM e CROSS JOIN cent{i} c
  ) WHERE rn = 1
)"""
        )
        if i < iters:
            parts.append(
                f"""upd{i + 1} AS (
  SELECT a.c_id, ex.d,
         CAST(CAST(SUM(CAST(ROUND(ex.x, 6) AS DECIMAL(24,8))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS m
  FROM assign{i} a JOIN ex ON ex.vec_id = a.vec_id
  GROUP BY a.c_id, ex.d
),
cent{i + 1} AS (SELECT c_id, list(m ORDER BY d) AS cv FROM upd{i + 1} GROUP BY c_id)"""
            )
    return ",\n".join(parts)


_Q142_ORACLE = f"""
WITH {_km_ctes(_KM_K, _KM_ITERS)}
SELECT vec_id, c_id, cos_sim FROM assign{_KM_ITERS}
"""


@query("q142_kmeans_ivf", oracle=_Q142_ORACLE, tags=("vector", "similarity", "EXT"))
def q142_kmeans_ivf(spark, sf_dir):
    """IVF assignment against a TRAINED codebook: {_KM_ITERS} rounds of
    distributed spherical k-means (Lloyd) refine q59's sample codebook
    into actual cluster centers, then every vector is assigned to its
    nearest center.

    Per round: one broadcast-codebook scoring pass over the corpus
    (map-only, k rows broadcast, no shuffle before the per-vector
    argmax) and two hash aggregations bounded by k x dim for the mean
    update — the cost profile that trains a codebook on 100 TB without
    ever shuffling the corpus. Assignment cosines round to 4dp before
    the argmax and centroid means use the exact-decimal discipline
    (operators.similarity.kmeans_update), so the unrolled-CTE DuckDB
    twin reproduces the final assignment bit for bit.
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned = spherical_kmeans(e, init_centroids(e, _KM_K), iters=_KM_ITERS)
    return assigned.select("vec_id", "c_id", "cos_sim")


# --------------------------------------------------------------------------
# q143: SemDeDup — semantic dedup within k-means cells.
# --------------------------------------------------------------------------

_SEM_THRESHOLD = 0.3

_Q143_ORACLE = f"""
WITH RECURSIVE {_km_ctes(_KM_K, _KM_ITERS)},
fin AS (SELECT * FROM assign{_KM_ITERS}),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM fin a JOIN fin b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 4) >= {_SEM_THRESHOLD}
),
sym AS MATERIALIZED (
  SELECT va AS a, vb AS b FROM pairs
  UNION
  SELECT vb, va FROM pairs
),
{cc_oracle_ctes("sym", "cl", "vec_id")},
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


def _sem_pairs(blocked, block_cols):
    """SemDeDup pair proposals (va, vb): each unordered within-block
    pair of ``blocked`` whose 4dp cosine reaches _SEM_THRESHOLD — the
    blocked self-join of q143/q149/q162."""
    return (
        cosine_pairs(blocked, block_cols=block_cols)
        .filter(F.col("cs") >= _SEM_THRESHOLD)
        .select(F.col("a").alias("va"), F.col("b").alias("vb"))
    )


def _survivor_groups(fin, pairs):
    """The SemDeDup decision tail shared by q143/q149 (and any future
    blocking variant): pairs → star-contraction components → one
    survivor per group, the member LEAST similar to its centroid
    (keep-the-outlier; 4dp cosine from ``fin``, vec_id tie-break) —
    plus group size. Only real groups (>= 2 members) appear, since
    components contain only paired vectors."""
    cl = connected_components_star(pairs, src="va", dst="vb").select(
        F.col("id").alias("vec_id"), "cluster_id"
    )
    members = cl.join(
        fin.select("vec_id", F.col("cos_sim").alias("cent_cos")), "vec_id"
    )
    # Rank and group size as two window functions over the SAME
    # cluster_id partitioning: one exchange + one sort over a single
    # pass of members, where the groupBy-count + join computed the
    # members join twice and shuffled it twice for an identical result.
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("cent_cos").asc(), F.col("vec_id").asc()
    )
    wc = Window.partitionBy("cluster_id")
    return (
        members.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("vec_id").alias("kept_vec_id"),
            F.col("cent_cos").alias("kept_cent_cos"),
            "n_members",
        )
    )


def _coarse_fin(spark, sf_dir):
    """The full-corpus trained coarse assignment shared by q143 and
    q149 (and computed ONCE by q167, whose exact_1level and
    fixed_2level branches are defined over the identical training):
    spherical k-means from the seedless init, checkpointed because the
    pair self-join consumes it twice and the survivor pick a third
    time."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return checkpoint(spherical_kmeans(e, init_centroids(e, _KM_K), iters=_KM_ITERS))


@query("q143_semantic_dedup", oracle=_Q143_ORACLE, tags=("vector", "dedup", "graph", "EXT"))
def q143_semantic_dedup(spark, sf_dir, *, fin=None):
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs are
    proposed ONLY within a k-means cell (the learned blocking — never
    an all-pairs join), clustered by star contraction, and one survivor
    kept per group: the member LEAST similar to its centroid (the
    paper's keep-the-outlier policy; 4dp cosine, vec_id tie-break).
    Only genuine dup groups (>= 2 members) are emitted — the rows a
    pruning pass acts on.

    Scale: cell population is corpus/k on average, so the within-cell
    self-join is quadratic only in the CELL, not the corpus (and a
    per-cell cap or re-clustering handles pathological cells);
    contraction rounds are diameter-independent; the survivor pick
    windows over by-construction-small groups.
    """
    # Materialize the assignment once: it feeds the pair self-join
    # (twice) AND the survivor pick — without this the whole iterative
    # k-means plan re-executes per consumer. q167 passes the shared
    # ``fin`` so its exact_1level / fixed_2level branches train once.
    if fin is None:
        fin = _coarse_fin(spark, sf_dir)
    pairs = _sem_pairs(fin, ["c_id"])
    return _survivor_groups(fin, pairs)


# --------------------------------------------------------------------------
# q144: sparse TF-IDF cosine pairs via inverted-index join.
# --------------------------------------------------------------------------

_SC_DF_CAP = 60
_SC_THRESHOLD = 0.35

_Q144_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(text), '\\s+')) AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok WHERE tok <> '' GROUP BY doc_id, tok),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
w AS (
  SELECT doc_id, tok,
         CAST(ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS DECIMAL(18,6)) AS wq
  FROM tf JOIN df USING (tok) CROSS JOIN n
  WHERE df <= {_SC_DF_CAP}
),
nrm AS (
  SELECT doc_id, sqrt(CAST(CAST(SUM(wq * wq) AS VARCHAR) AS DOUBLE)) AS nrm
  FROM w GROUP BY doc_id
),
dp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(CAST(SUM(a.wq * b.wq) AS VARCHAR) AS DOUBLE) AS dot
  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, cos_sim FROM (
  SELECT dp.doc_a, dp.doc_b,
         ROUND(dp.dot / (na.nrm * nb.nrm), 4) AS cos_sim
  FROM dp
  JOIN nrm na ON na.doc_id = dp.doc_a
  JOIN nrm nb ON nb.doc_id = dp.doc_b
) WHERE cos_sim >= {_SC_THRESHOLD}
"""


@query("q144_sparse_cosine_pairs", oracle=_Q144_ORACLE, tags=("text", "similarity", "EXT"))
def q144_sparse_cosine_pairs(spark, sf_dir):
    """All-pairs sparse-vector similarity: documents as TF-IDF vectors,
    pair cosine computed through an INVERTED-INDEX join — candidate
    pairs exist only where a term is shared, never corpus².

    The document-frequency cap (df <= {_SC_DF_CAP}) is load-bearing at
    scale: a term in k documents fans out to k² join rows, so frequent
    terms are both a skew bomb and ~zero IDF signal — dropping them
    bounds the per-term fan-out (the q126 hot-shingle lesson applied to
    sparse similarity; prefix/length filtering is the further 100 TB
    refinement). Weights are 6dp-rounded then decimal-exact (the dot
    product and norms sum decimals, re-entering double via the string
    hop), so pair cosines are reduce-order-independent and match the
    SQL twin bit for bit.
    """
    from ..functions import text as X

    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(X.tokens("text")).alias("tok")).filter(
        F.col("tok") != ""
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(F.broadcast(dfreq), "tok")
        .filter(F.col("df") <= _SC_DF_CAP)
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            )
            .cast("decimal(18,6)")
            .alias("wq"),
        )
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(F.col("wq") * F.col("wq")).cast("string").cast("double")
        ).alias("nrm")
    )
    a, b = w.alias("a"), w.alias("b")
    dp = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.sum(F.col("a.wq") * F.col("b.wq"))
            .cast("string")
            .cast("double")
            .alias("dot")
        )
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    return (
        dp.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _SC_THRESHOLD)
    )


# --------------------------------------------------------------------------
# q145: ANN recall@k — IVF (q59) measured against exact top-k (q24).
# --------------------------------------------------------------------------

from .vector import _Q24_ORACLE, _TOP_K  # noqa: E402
from .vector2 import _Q59_ORACLE  # noqa: E402


def _recall_oracle(ivf_sql: str) -> str:
    """Recall@k oracle template shared by q145/q155: any IVF variant's
    (q_id, vec_id) result measured against the exact q24 top-k."""
    return f"""
WITH ivf AS (SELECT q_id, vec_id FROM ({ivf_sql})),
exact AS (SELECT q_id, vec_id FROM ({_Q24_ORACLE})),
hits AS (
  SELECT e.q_id, CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits
  FROM exact e LEFT JOIN ivf i ON i.q_id = e.q_id AND i.vec_id = e.vec_id
  GROUP BY e.q_id
)
SELECT q_id, n_hits, n_hits / {float(_TOP_K)} AS recall FROM hits
"""


def _recall_report(spark, sf_dir, ivf_query_fn):
    """Spark half of the recall template: intersect an IVF variant's
    top-k with the exact q24 top-k per query, divide by k. Both sides
    must be cut at the SAME k (_TOP_K) for recall@k to mean anything —
    see the module-load guard below."""
    from .vector import q24_cosine_topk

    ivf = ivf_query_fn(spark, sf_dir).select(
        "q_id", "vec_id", F.lit(1).alias("hit")
    )
    exact = q24_cosine_topk(spark, sf_dir).select("q_id", "vec_id")
    hits = (
        exact.join(ivf, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(F.count("hit").alias("n_hits"))
    )
    return hits.select(
        "q_id",
        "n_hits",
        (F.col("n_hits") / F.lit(float(_TOP_K))).alias("recall"),
    )


_Q145_ORACLE = _recall_oracle(_Q59_ORACLE)


@query("q145_ann_recall", oracle=_Q145_ORACLE, tags=("vector", "similarity", "EXT"))
def q145_ann_recall(spark, sf_dir):
    """Recall@{_TOP_K} of the IVF path (q59, nprobe=1) against the
    exact brute-force top-k (q24), per query — the quality gate every
    ANN deployment ships next to its index build ("measure, don't
    guess": an approximate index without a measured recall number is
    a guess).

    Both sides are the already-verified queries composed as-is; the
    recall division is exact in double (small-int / small-int). At
    100 TB the exact side runs on a fixed query SAMPLE (it is the
    expensive O(N) scan), which is precisely what this query shape is:
    a bounded query set joined against both result sets.
    """
    from .vector2 import q59_ivf_topk

    return _recall_report(spark, sf_dir, q59_ivf_topk)


# --------------------------------------------------------------------------
# q146: Product Quantization (PQ) top-k with ADC scoring.
# --------------------------------------------------------------------------

_PQ_M = 8          # subspaces
_PQ_DSUB = 8       # dims per subspace (M * DSUB = 64)
_PQ_KSUB = 16      # codes per subspace
_PQ_N_QUERIES = 8
_PQ_TOP_K = 5

_Q146_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT vec_id AS c_id, v FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_PQ_KSUB}
),
ms AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m),
subs AS (
  SELECT vec_id, m, list_slice(v, m * {_PQ_DSUB} + 1, m * {_PQ_DSUB} + {_PQ_DSUB}) AS sv
  FROM e CROSS JOIN ms
),
csubs AS (
  SELECT c_id, m, list_slice(v, m * {_PQ_DSUB} + 1, m * {_PQ_DSUB} + {_PQ_DSUB}) AS cv
  FROM cent CROSS JOIN ms
),
enc AS (
  SELECT vec_id, m, c_id AS code FROM (
    SELECT s.vec_id, s.m, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY ROUND(list_distance(s.sv, c.cv), 4), c.c_id) AS rn
    FROM subs s JOIN csubs c ON c.m = s.m
  ) WHERE rn = 1
),
lut AS (
  SELECT q.vec_id AS q_id, c.m, c.c_id AS code,
         CAST(ROUND(list_inner_product(
           list_slice(q.v, c.m * {_PQ_DSUB} + 1, c.m * {_PQ_DSUB} + {_PQ_DSUB}), c.cv), 6)
           AS DECIMAL(18,6)) AS part
  FROM e q CROSS JOIN csubs c
  WHERE q.vec_id < {_PQ_N_QUERIES}
),
scored AS (
  SELECT l.q_id, enc.vec_id,
         ROUND(CAST(CAST(SUM(l.part) AS VARCHAR) AS DOUBLE), 4) AS adc_score
  FROM enc JOIN lut l ON l.m = enc.m AND l.code = enc.code
  WHERE enc.vec_id <> l.q_id
  GROUP BY l.q_id, enc.vec_id
)
SELECT q_id, vec_id, adc_score, CAST(rank AS BIGINT) AS rank
FROM (SELECT q_id, vec_id, adc_score,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY adc_score DESC, vec_id) AS rank
      FROM scored)
WHERE rank <= {_PQ_TOP_K}
"""


@query("q146_pq_topk", oracle=_Q146_ORACLE, tags=("vector", "similarity", "EXT"))
def q146_pq_topk(spark, sf_dir):
    """Product-quantized ANN with asymmetric distance computation
    (ADC): vectors are split into {_PQ_M} subspaces of {_PQ_DSUB} dims,
    each subvector encoded as its nearest sub-centroid (L2, the
    classic PQ build), and queries score candidates by summing
    per-subspace inner products looked up from a per-query table —
    the index stores {_PQ_M} bytes per vector instead of 64 floats
    (32x compression, vs SQ8's 4x in q136).

    Scale shape: the codebook ({_PQ_KSUB} x {_PQ_M} subvectors) and
    the per-query LUT ({_PQ_N_QUERIES} x {_PQ_M} x {_PQ_KSUB} rows)
    are broadcast artifacts; encoding is one map-side pass over the
    corpus; scoring is a broadcast-LUT join + hash aggregate grouped
    by (query, vector) — no shuffle grows with corpus size except the
    final bounded top-k. The sample codebook is the deterministic
    stand-in for a per-subspace k-means (swap in
    operators.similarity.spherical_kmeans per subspace to train);
    ADC parts round to 6dp and sum exactly in decimal, so the SQL
    twin reproduces every score bit for bit.
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = init_centroids(e, _PQ_KSUB, vec_alias="v")
    ms = F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m")
    subs = e.select("vec_id", ms, "embedding").select(
        "vec_id",
        "m",
        F.slice(
            V.as_double_array("embedding"), F.col("m") * _PQ_DSUB + 1, _PQ_DSUB
        ).alias("sv"),
    )
    csubs = cent.select("c_id", ms, "v").select(
        "c_id",
        "m",
        F.slice(V.as_double_array("v"), F.col("m") * _PQ_DSUB + 1, _PQ_DSUB).alias(
            "cv"
        ),
    )
    from ..operators.similarity import pq_encode

    enc = pq_encode(subs, csubs).select("vec_id", "m", "code")
    q = e.filter(F.col("vec_id") < _PQ_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    return _pq_adc_topk(enc, csubs, q)


def _pq_adc_topk(enc, csubs, q):
    """ADC scoring shared by the sampled (q146) and trained (q160)
    PQ paths: per-query LUT (queries x M x KSUB inner products, a
    broadcast artifact), broadcast-LUT join against the codes,
    exact-decimal sum of the parts, bounded per-query top-k."""
    lut = (
        q.crossJoin(F.broadcast(csubs))
        .select(
            "q_id",
            "m",
            F.col("c_id").alias("code"),
            F.round(
                V.dot(
                    F.slice(
                        V.as_double_array("qv"), F.col("m") * _PQ_DSUB + 1, _PQ_DSUB
                    ),
                    F.col("cv"),
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("part"),
        )
    )
    scored = (
        enc.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(
            F.round(
                F.sum("part").cast("string").cast("double"), 4
            ).alias("adc_score")
        )
    )
    w_rank = Window.partitionBy("q_id").orderBy(
        F.desc("adc_score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= _PQ_TOP_K)
        .select("q_id", "vec_id", "adc_score", "rank")
    )


# --------------------------------------------------------------------------
# q147: IVF search over the TRAINED codebook — q142's k-means centers
# feeding q59's probe-own-cell search shape. The full production ANN
# loop: train -> assign -> probe.
# --------------------------------------------------------------------------

_Q147_ORACLE = f"""
WITH {_km_ctes(_KM_K, _KM_ITERS)},
fin AS (SELECT vec_id, c_id FROM assign{_KM_ITERS}),
qa AS (
  SELECT q.vec_id AS q_id, q.v AS qv, a.c_id
  FROM e q JOIN fin a ON a.vec_id = q.vec_id
  WHERE q.vec_id < {_PQ_N_QUERIES}
),
cand AS (
  SELECT qa.q_id, e.vec_id,
         ROUND(list_cosine_similarity(e.v, qa.qv), 4) AS cos_sim
  FROM qa
  JOIN fin a ON a.c_id = qa.c_id
  JOIN e ON e.vec_id = a.vec_id
  WHERE e.vec_id <> qa.q_id
)
SELECT q_id, vec_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (SELECT q_id, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM cand)
WHERE rank <= {_PQ_TOP_K}
"""


@query("q147_ivf_trained_topk", oracle=_Q147_ORACLE, tags=("vector", "similarity", "EXT"))
def q147_ivf_trained_topk(spark, sf_dir):
    """The full production ANN loop in one query: train the codebook
    (q142's distributed spherical k-means), assign the corpus, then
    answer top-k by probing only the query's own cell (q59's IVF
    search shape, nprobe=1) — against TRAINED centers, which is what
    tightens cell populations and lifts recall over the sample
    codebook.

    Scale: training touches the corpus k_iter times map-only (fixed-k
    broadcast codebook); the assignment is materialized ONCE and reused
    by both the query lookup and the candidate probe (persisted
    partitioned by cell at 100 TB so each probe reads one partition);
    per-query cost is O(N/#cells).
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # train once; probe + lookup reuse it
    fin = checkpoint(
        spherical_kmeans(e, init_centroids(e, _KM_K), iters=_KM_ITERS)
        .select("vec_id", "c_id", "embedding")
    )
    qa = fin.filter(F.col("vec_id") < _PQ_N_QUERIES)
    return pair_topk(cosine_pairs(qa, fin, ["c_id"]), _PQ_TOP_K).select(
        F.col("a").alias("q_id"),
        F.col("b").alias("vec_id"),
        F.col("cs").alias("cos_sim"),
        F.col("rnk").alias("rank"),
    )


# --------------------------------------------------------------------------
# q148: codebook balance — cell populations under the sample codebook
# (assign0) vs the trained one (assignN). The companion measurement to
# q145's recall: training is justified by numbers, not vibes.
# --------------------------------------------------------------------------

_Q148_ORACLE = f"""
WITH {_km_ctes(_KM_K, _KM_ITERS)},
both_assign AS (
  SELECT 'sample' AS codebook, c_id FROM assign0
  UNION ALL
  SELECT 'trained' AS codebook, c_id FROM assign{_KM_ITERS}
)
SELECT codebook, c_id, CAST(COUNT(*) AS BIGINT) AS n_members
FROM both_assign GROUP BY codebook, c_id
"""


@query("q148_codebook_balance", oracle=_Q148_ORACLE, tags=("vector", "similarity", "EXT"))
def q148_codebook_balance(spark, sf_dir):
    """Per-cell population for the SAMPLE codebook (k-means round 0)
    vs the TRAINED one (after {_KM_ITERS} Lloyd rounds) — the balance
    measurement that justifies training: IVF probe cost is the size of
    the PROBED cell, so an unbalanced codebook means worst-case
    latency on exactly the hot cells. Pure aggregation over the two
    assignment passes; at 100 TB this is the index build's health
    report, produced from the already-materialized assignment table.
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent0 = init_centroids(e, _KM_K)
    # Round-0 assignment computed ONCE and reused both as the "sample"
    # report row source and as the first Lloyd update's input — calling
    # spherical_kmeans separately would redo this exact O(N x k) pass.
    assign0 = checkpoint(nearest_centroids(e, cent0))
    cent = spherical_kmeans_codebook(e, kmeans_update(assign0), iters=_KM_ITERS - 1)
    a0 = assign0.select(F.lit("sample").alias("codebook"), "c_id")
    aN = nearest_centroids(e, cent).select(
        F.lit("trained").alias("codebook"), "c_id"
    )
    return (
        a0.unionByName(aN)
        .groupBy("codebook", "c_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )


# --------------------------------------------------------------------------
# q149: SemDeDup at scale — two-level blocking. The 10x probe measured
# q143's single-level within-cell self-join at 16.7x on 10x data
# (cells grow linearly with the corpus at fixed k, so the pair join is
# quadratic in cell size). The production shape scales the TOTAL cell
# count with the corpus while keeping assignment linear: a hierarchical
# codebook — coarse cell (trained, k=16) then a sub-codebook per cell
# (k_sub=8) — so pairs form inside (cell, subcell) blocks of
# ~N/(k*k_sub). Same q60-vs-q108 relationship: q143 is the exact
# single-level reference, q149 the staged scale path (finer blocking
# trades a little recall for boundedness — measured, not guessed).
# --------------------------------------------------------------------------

_SUB_K = 8

_Q149_ORACLE = f"""
WITH RECURSIVE {_km_ctes(_KM_K, _KM_ITERS)},
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
  SELECT vec_id, c_id, s_id FROM (
    SELECT f.vec_id, f.c_id, s.s_id,
           ROW_NUMBER() OVER (PARTITION BY f.vec_id
                              ORDER BY ROUND(list_cosine_similarity(f.v, s.sv), 4) DESC,
                                       s.s_id) AS rn
    FROM fin f JOIN sub s ON s.c_id = f.c_id
  ) WHERE rn = 1
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM sa a JOIN sa b
    ON a.c_id = b.c_id AND a.s_id = b.s_id AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 4) >= {_SEM_THRESHOLD}
),
sym AS MATERIALIZED (
  SELECT va AS a, vb AS b FROM pairs
  UNION
  SELECT vb, va FROM pairs
),
{cc_oracle_ctes("sym", "cl", "vec_id")},
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


@query("q149_semantic_dedup_2level", oracle=_Q149_ORACLE, tags=("vector", "dedup", "graph", "EXT"))
def q149_semantic_dedup_2level(spark, sf_dir, *, fin=None):
    """SemDeDup with a HIERARCHICAL codebook — q143's scale variant
    (the q108-to-q60 relationship): after the trained coarse
    assignment, each cell gets a {_SUB_K}-entry sub-codebook (its
    first members in md5 order) and every vector sub-assigns to its
    nearest sub-centroid, so the pair self-join runs inside
    (cell, subcell) blocks of ~N/(k*k_sub) instead of N/k.

    This is how SemDeDup holds at 100 TB: the TOTAL block count scales
    with the corpus (choose k levels / k_sub so blocks stay bounded)
    while assignment work stays linear — each vector scores k coarse
    then k_sub fine centroids, never the whole codebook. The 10x probe
    measured the single-level q143 at 16.7x on 10x data (quadratic in
    cell size); this plan's blocks are 8x smaller at identical
    assignment cost. Finer blocking can only LOWER pair recall —
    survivors per group and the keep-the-outlier policy are unchanged.
    """
    if fin is None:
        fin = _coarse_fin(spark, sf_dir)
    top = fin.select("vec_id", "c_id", "embedding")
    sa = nearest_centroids(
        top, block_sub_codebook(top, ["c_id"], _SUB_K, "s_id"), block_cols=["c_id"]
    )
    pairs = _sem_pairs(sa, ["c_id", "s_id"])
    return _survivor_groups(fin, pairs)


# --------------------------------------------------------------------------
# q150: incremental vector dedup, IVF-blocked — q132's scale variant.
# The 10x probe measured q132 (label-blocked new x history join) at
# 12.8x on 10x data: label blocks grow linearly with the corpus, so
# the within-block join is quadratic. Production probes the ANN index
# instead of scanning the block — here: new vectors only compare
# against history in the SAME trained k-means cell (label AND cell),
# the nprobe=1 shape of q132's own docstring.
# --------------------------------------------------------------------------

from .vector import _NEAR_DUP_THRESHOLD  # noqa: E402

_NPROBE = 4

_Q150_ORACLE = f"""
WITH {_km_ctes(_KM_K, _KM_ITERS)},
el AS (
  SELECT e0.vec_id, e0.label, e.v, a.c_id
  FROM embeddings e0
  JOIN e ON e.vec_id = e0.vec_id
  JOIN assign{_KM_ITERS} a ON a.vec_id = e0.vec_id
),
probe AS (
  SELECT vec_id, c_id FROM (
    SELECT e.vec_id, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 4) DESC,
                                       c.c_id) AS rn
    FROM e CROSS JOIN cent{_KM_ITERS} c
    WHERE e.vec_id % 5 = 0
  ) WHERE rn <= {_NPROBE}
),
scored AS (
  SELECT n.vec_id AS new_vec_id, h.vec_id AS hist_vec_id,
         CAST(n.label AS BIGINT) AS label,
         ROUND(list_cosine_similarity(n.v, h.v), 4) AS cos_sim
  FROM probe p
  JOIN el h ON h.c_id = p.c_id AND h.vec_id % 5 <> 0
  JOIN el n ON n.vec_id = p.vec_id AND n.label = h.label
)
SELECT new_vec_id, hist_vec_id AS best_hist_vec_id, label, cos_sim
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY new_vec_id ORDER BY cos_sim DESC, hist_vec_id) AS rn
      FROM scored
      WHERE cos_sim >= {_NEAR_DUP_THRESHOLD})
WHERE rn = 1
"""


@query("q150_incremental_vector_dedup_ivf", oracle=_Q150_ORACLE, tags=("vector", "dedup", "EXT"))
def q150_incremental_vector_dedup_ivf(spark, sf_dir):
    """Incremental-ingest vector dedup probing the IVF index — q132's
    scale variant (the q108-to-q60 relationship): incoming vectors
    (vec_id % 5 == 0) score the trained codebook and compare against
    history only within their top-{_NPROBE} cells (multi-probe) and
    label, so each ingest batch pays |new| x nprobe x |cell block|
    instead of |new| x |label block| — the 10x probe measured the
    unblocked q132 at 12.8x on 10x data (label blocks grow with the
    corpus; the join is quadratic in block size).

    At 100 TB the history side is the PERSISTED assignment partitioned
    by cell: a new vector scores k centroids (broadcast codebook),
    reads nprobe partitions, windows for its best match. nprobe is the
    cost-for-recall dial, measured (q145 discipline), never assumed:
    on this fixture nprobe=1 recovered 4/28 of q132's exact matches
    (near-dups straddle cell boundaries on weakly-clustered data);
    nprobe={_NPROBE} recovers 18/28 with 16/18 identical best-matches,
    at 3.6x wall on 10x data vs the exact join's 12.8x (SCALE.md).
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    ev = e.select("vec_id", "embedding")
    cent = spherical_kmeans_codebook(ev, init_centroids(ev, _KM_K), iters=_KM_ITERS)
    fin = checkpoint(nearest_centroids(ev, cent).select("vec_id", "c_id", "embedding"))
    el = fin.join(e.select("vec_id", "label"), "vec_id").withColumn(
        "nrm", V.norm(F.col("embedding"))
    )
    # Multi-probe cell list for the incoming batch: each new vector's
    # top-nprobe cells.
    new_q = ev.filter(F.col("vec_id") % 5 == 0)
    probe = nearest_centroids(new_q, cent, _NPROBE).select(
        F.col("vec_id").alias("p_vec"), F.col("c_id").alias("p_cell")
    )
    new = el.filter(F.col("vec_id") % 5 == 0).alias("n")
    hist = el.filter(F.col("vec_id") % 5 != 0).alias("h")
    cos = F.round(
        V.dot(F.col("n.embedding"), F.col("h.embedding"))
        / (F.col("n.nrm") * F.col("h.nrm")),
        4,
    )
    scored = (
        probe.join(hist, F.col("p_cell") == F.col("h.c_id"))
        .join(
            new,
            (F.col("n.vec_id") == F.col("p_vec"))
            & (F.col("n.label") == F.col("h.label")),
        )
        .select(
            F.col("n.vec_id").alias("new_vec_id"),
            F.col("h.vec_id").alias("hist_vec_id"),
            F.col("n.label").cast("long").alias("label"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _NEAR_DUP_THRESHOLD)
    )
    w = Window.partitionBy("new_vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("hist_vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "new_vec_id",
            F.col("hist_vec_id").alias("best_hist_vec_id"),
            "label",
            "cos_sim",
        )
    )


# --------------------------------------------------------------------------
# q155: recall@k of the TRAINED IVF (q147) — the number that justifies
# Lloyd training end-to-end, next to q145 (sample-codebook recall) and
# q148 (cell balance).
# --------------------------------------------------------------------------

# Recall@k only means something if the approximate side's candidate
# cut equals the exact side's k AND both sides score the same query
# set. q147 cuts at _PQ_TOP_K, q136 (scale5) at _SQ_TOP_K over
# _SQ_N_QUERIES queries; the exact side uses _TOP_K/_N_QUERIES — fail
# at import time if anyone retunes one without the others, otherwise
# q145/q155/q157's recall denominators silently go wrong.
from .scale5 import _SQ_N_QUERIES, _SQ_TOP_K  # noqa: E402
from .vector import _N_QUERIES  # noqa: E402

if _PQ_TOP_K != _TOP_K:  # pragma: no cover - config drift guard
    raise ValueError(
        f"q155 recall denominator mismatch: _PQ_TOP_K={_PQ_TOP_K} != "
        f"_TOP_K={_TOP_K}; recall@k needs both sides cut at the same k"
    )
if _SQ_TOP_K != _TOP_K or _SQ_N_QUERIES != _N_QUERIES:  # pragma: no cover
    raise ValueError(
        f"q157 recall config mismatch: scale5 (_SQ_TOP_K={_SQ_TOP_K}, "
        f"_SQ_N_QUERIES={_SQ_N_QUERIES}) must equal vector "
        f"(_TOP_K={_TOP_K}, _N_QUERIES={_N_QUERIES}) for recall@k to "
        "compare the same query set at the same cut"
    )
if _PQ_N_QUERIES != _N_QUERIES:  # pragma: no cover - config drift guard
    raise ValueError(
        f"q155 recall query-set mismatch: _PQ_N_QUERIES={_PQ_N_QUERIES} "
        f"!= _N_QUERIES={_N_QUERIES}"
    )

_Q155_ORACLE = _recall_oracle(_Q147_ORACLE)


@query("q155_ann_recall_trained", oracle=_Q155_ORACLE, tags=("vector", "similarity", "EXT"))
def q155_ann_recall_trained(spark, sf_dir):
    """Recall@{_TOP_K} of the TRAINED-codebook IVF (q147) against the
    exact top-k — q145's twin for the Lloyd-trained index. Reading the
    two reports side by side (plus q148's balance) is the complete,
    measured case for training: on the sf0.01 fixture mean recall@5
    moves 0.10 (sample codebook, q145) -> 0.225 (trained, here) at
    identical probe cost — 2.25x from two Lloyd rounds. Both absolute
    numbers are nprobe=1 on weakly-clustered data; the nprobe dial
    (q150) is how production buys the rest. Same composition (shared
    _recall_report helper) as q145; the exact side is the bounded
    8-query sample.
    """
    return _recall_report(spark, sf_dir, q147_ivf_trained_topk)


# --------------------------------------------------------------------------
# q157: recall@k of the SQ8 quantized scan (q136) — quantifies what the
# 4x storage saving costs in answer quality, same template as q145/q155.
# --------------------------------------------------------------------------

from .scale5 import _Q136_ORACLE  # noqa: E402

_Q157_ORACLE = _recall_oracle(_Q136_ORACLE)


@query("q157_ann_recall_sq8", oracle=_Q157_ORACLE, tags=("vector", "similarity", "EXT"))
def q157_ann_recall_sq8(spark, sf_dir):
    """Recall@{_TOP_K} of the SQ8 scalar-quantized scan (q136) against
    the exact full-precision top-k — the third column of the ANN
    quality report (q145 sample-IVF, q155 trained-IVF, here the
    quantization axis): 8-bit codes shrink the index 4x, and this is
    the measured price in top-k fidelity. SQ8 scans the WHOLE corpus
    (no cells), so any miss here is pure quantization error — the
    clean baseline to read the IVF numbers against. Measured on the
    sf0.01 fixture: mean recall@5 = 1.0 — the 4x compression is free
    at this k, which is exactly why SQ8 is the storage tier and IVF
    cell selection (not quantization) is where the recall budget goes.
    Shared _recall_report template; exact side is the bounded sample.
    """
    from .scale5 import q136_sq8_topk

    return _recall_report(spark, sf_dir, q136_sq8_topk)
