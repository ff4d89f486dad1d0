"""Fourth scale batch — three operators a web-scale training-data
pipeline runs between crawl and tokenizer:

* q135: bigram-LM negative-log-likelihood scoring (the CCNet-style
  "perplexity filter" that gates documents on language-model fit),
* q136: scalar-quantized (SQ8) approximate nearest neighbour — the
  memory-side half of a production ANN index (codes are 4x smaller
  than float32; recall loss is bounded by per-dim quantization error),
* q137: fixed-iteration PageRank over the customer–supplier link
  graph (the link-reputation signal used to weight crawl domains).

All three follow the registry's determinism discipline: LM terms and
PageRank shares are decimal-truncated before distributed sums, SQ8
dequantization is pure IEEE double arithmetic, so each has an exact
(or 4dp-rounded, q24-precedent) DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import text as X
from ..functions import vector as V
from ..operators.graph import pagerank
from ..operators.similarity import (
    cosine_pairs,
    cosine_topk,
    init_centroids,
    nearest_centroids,
    pair_topk,
)
from ..session import checkpoint
from .registry import query

# --------------------------------------------------------------------------
# q135: bigram language-model scoring (perplexity-style quality filter).
# --------------------------------------------------------------------------

_Q135_ORACLE = """
WITH tokx AS (
  SELECT doc_id,
         UNNEST(regexp_split_to_array(TRIM(text), '\\s+')) AS tok,
         GENERATE_SUBSCRIPTS(regexp_split_to_array(TRIM(text), '\\s+'), 1) AS ord
  FROM documents
),
tok2 AS (SELECT * FROM tokx WHERE tok <> ''),
big AS (
  SELECT doc_id,
         LAG(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS prev,
         tok AS cur
  FROM tok2
  QUALIFY prev IS NOT NULL
),
cb AS (SELECT prev, cur, COUNT(*) AS cb FROM big GROUP BY prev, cur),
cp AS (SELECT prev, COUNT(*) AS cp FROM big GROUP BY prev),
vv AS (SELECT COUNT(DISTINCT tok) AS v FROM tok2),
terms AS (
  SELECT big.doc_id,
         CAST(-ln(CAST(cb.cb + 1 AS DOUBLE) / CAST(cp.cp + vv.v AS DOUBLE))
              AS DECIMAL(18,8)) AS term
  FROM big
  JOIN cb ON big.prev = cb.prev AND big.cur = cb.cur
  JOIN cp ON big.prev = cp.prev
  CROSS JOIN vv
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_nll
FROM terms GROUP BY doc_id
"""


@query("q135_bigram_lm_score", oracle=_Q135_ORACLE, tags=("text", "quality", "EXT"))
def q135_bigram_lm_score(spark, sf_dir):
    """Per-document average negative log-likelihood under an add-one-
    smoothed bigram LM trained on the corpus itself — the perplexity-
    bucket quality gate (CCNet / Wenzek et al. 2020 shape).

    Plan: one posexplode, a per-doc lag window for bigrams, ONE hash
    aggregation of the bigram counts ``cb`` (map-side combinable —
    shuffle is |bigram vocab|, not token count), from which ``cp`` is a
    ``sum(cb)`` window over ``prev`` on that vocab-sized table, so the
    token-sized bigrams are aggregated once. The broadcast ``v`` (its
    own scan of ``documents``) is cross-joined onto that table to give
    one LM row ``lm(prev, cur, term)`` per distinct bigram; doc bigrams
    join ``lm`` once, then a final per-doc aggregation. No UDFs.

    At 100 TB the LM side is what changes, not the plan: score against
    a PRUNED REFERENCE LM (top-M bigrams + unigram backoff, trained on
    a held-out clean corpus) small enough to broadcast, making scoring
    a map-only pass. This query registers the exact self-trained form
    as the oracle contract; NLL terms are decimal-truncated so the
    distributed sum is order-independent.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(X.tokens("text")).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.select(
            "doc_id",
            F.lag("tok").over(w).alias("prev"),
            F.col("tok").alias("cur"),
        )
        .filter(F.col("prev").isNotNull())
    )
    vv = toks.agg(F.countDistinct("tok").alias("v"))
    p = (F.col("cb") + F.lit(1)).cast("double") / (
        F.col("cp") + F.col("v")
    ).cast("double")
    lm = (
        big.groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("cb"))
        .withColumn("cp", F.sum("cb").over(Window.partitionBy("prev")))
        .crossJoin(F.broadcast(vv))
        .select("prev", "cur", (-F.log(p)).cast("decimal(18,8)").alias("term"))
    )
    return (
        big.join(lm, ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum("term").cast("string").cast("double")
                / F.count(F.lit(1))
            ).alias("avg_nll"),
        )
    )


# --------------------------------------------------------------------------
# q136: SQ8 scalar-quantized ANN top-k.
# --------------------------------------------------------------------------

_SQ_N_QUERIES = 8
_SQ_TOP_K = 5

_Q136_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
dims AS (
  SELECT vec_id, GENERATE_SUBSCRIPTS(v, 1) AS d, UNNEST(v) AS x FROM e
),
mm AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY d),
deq AS (
  SELECT dims.vec_id, dims.d,
         CASE WHEN mm.mx = mm.mn THEN mm.mn
              ELSE mm.mn + (FLOOR(((dims.x - mm.mn) / (mm.mx - mm.mn)) * 255.0 + 0.5)
                            * (mm.mx - mm.mn)) / 255.0
         END AS val
  FROM dims JOIN mm ON dims.d = mm.d
),
vq AS (SELECT vec_id, LIST(val ORDER BY d) AS v FROM deq GROUP BY vec_id),
q AS (SELECT vec_id AS q_id, v AS qv FROM vq WHERE vec_id < {_SQ_N_QUERIES}),
scored AS (
  SELECT q.q_id, vq.vec_id,
         ROUND(list_cosine_similarity(vq.v, q.qv), 4) AS cos_sim
  FROM vq JOIN q ON vq.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_SQ_TOP_K}
"""


@query("q136_sq8_topk", oracle=_Q136_ORACLE, tags=("vector", "similarity", "EXT"))
def q136_sq8_topk(spark, sf_dir):
    """Cosine top-k over SCALAR-QUANTIZED embeddings (SQ8): each
    dimension is mapped to an 8-bit code against per-dimension
    [min, max] bounds, then scoring runs on the dequantized values —
    q24's exact top-k semantics on a 4x-smaller index.

    The codebook (64 mins + 64 maxs) is "trained" by one distributed
    min/max aggregation and collected to the driver — the standard ANN
    shape: codebook training is a tiny driver/broadcast artifact (at
    100 TB it's trained on a sample and broadcast to executors), while
    encode + scan stay map-only over the corpus. Quantize/dequantize
    is pure IEEE double arithmetic (floor, no libm), so codes match
    the SQL twin bit-for-bit; cosine keeps q24's 4dp-round contract.
    """
    e = load(spark, sf_dir, "embeddings")
    dims = e.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x")
    )
    stats = (
        dims.groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("d")
        .collect()
    )
    mins = F.array(*[F.lit(float(r["mn"])) for r in stats])
    maxs = F.array(*[F.lit(float(r["mx"])) for r in stats])
    vq = e.select(
        "vec_id", V.sq8_dequantize("embedding", mins, maxs).alias("embedding")
    )
    q = vq.filter(F.col("vec_id") < _SQ_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return cosine_topk(vq, q, k=_SQ_TOP_K).select(
        "q_id", "vec_id", "cos_sim", "rank"
    )


# --------------------------------------------------------------------------
# q137: fixed-iteration PageRank on the customer–supplier graph.
# --------------------------------------------------------------------------

_PR_ITERS = 3
_PR_TOP = 20


def _pr_iter_sql(i: int, prev: str) -> str:
    return f"""
s{i} AS (
  SELECT ed.dst AS node,
         CAST(CAST(SUM(CAST(r.rank / deg.outdeg AS DECIMAL(24,14)))
                   AS VARCHAR) AS DOUBLE) AS s
  FROM ed JOIN {prev} r ON ed.src = r.node JOIN deg ON ed.src = deg.src
  GROUP BY ed.dst
),
r{i} AS (
  SELECT node,
         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
         + CAST(0.85 AS DOUBLE) * s AS rank
  FROM s{i} CROSS JOIN nn
)"""


# Node encoding: customers on even longs (custkey*2), suppliers on odd
# (suppkey*2+1) — iterate on 8-byte keys, render labels only for the
# final top-k. The human-readable label is derived identically on both
# engines.
_Q137_ORACLE = (
    """
WITH cs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
ed AS (
  SELECT c AS src, s AS dst FROM cs
  UNION ALL
  SELECT s AS src, c AS dst FROM cs
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM ed GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT src AS node, CAST(1 AS DOUBLE) / nn.n AS rank FROM deg CROSS JOIN nn),"""
    + ",".join(_pr_iter_sql(i, f"r{i - 1}") for i in range(1, _PR_ITERS + 1))
    + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
            ELSE 's' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
       rank
FROM r{_PR_ITERS}
ORDER BY rank DESC, node LIMIT {_PR_TOP}
"""
)


@query("q137_pagerank", oracle=_Q137_ORACLE, tags=("graph", "join", "EXT"))
def q137_pagerank(spark, sf_dir):
    """Top-{20} nodes by 3-iteration PageRank (damping 0.85) over the
    undirected customer–supplier purchase graph — the link-reputation
    signal a crawl pipeline computes per domain to weight sources.

    Edges come from one orders ⋈ lineitem join, deduplicated; the
    graph is symmetrized so every node has outdegree >= 1 (no dangling
    mass — ranks stay a probability distribution, asserted in tests).
    Nodes are integer-encoded (even = customer, odd = supplier) so the
    iterated joins shuffle 8-byte keys; labels render only for the
    final top-k rows.
    Each iteration is one shuffle join + one hash agg via
    operators.graph.pagerank; determinism is the decimal-share
    discipline documented there, which is what makes the unrolled-CTE
    DuckDB twin hash-match bit-for-bit without any rounding.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cs = checkpoint(
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
        # Materialize the pair table once: the symmetrizing union below
        # references it twice, and without this the orders ⋈ lineitem
        # join + distinct would execute twice (no exchange reuse across
        # the union branches).
    )
    ed = cs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        cs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    # The two union branches are disjoint orientations of a distinct
    # pair table — the edge list is distinct by construction.
    # The node population here is customers+suppliers — dimension-
    # scale, so the per-iteration rank table broadcasts (see the
    # operator's scale note for when it must not).
    pr = pagerank(ed, iters=_PR_ITERS, damping=0.85, dedupe=False, broadcast_ranks=True)
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c"), (F.col("node") / 2).cast("long").cast("string")),
    ).otherwise(
        F.concat(
            F.lit("s"), ((F.col("node") - 1) / 2).cast("long").cast("string")
        )
    )
    return (
        pr.select(label.alias("node"), "rank")
        .orderBy(F.desc("rank"), "node")
        .limit(_PR_TOP)
    )


# --------------------------------------------------------------------------
# q138: deterministic hash-based dataset split (train/val/test).
# --------------------------------------------------------------------------

# Lowercase-hex md5 prefixes as split fences: 'e6' = 230/256 ≈ 89.8%
# train, 'f3' = 13/256 ≈ 5.1% val, remainder test. String comparison on
# lowercase hex is identical in every engine — no integer parsing, no
# engine-specific hash function.
_SPLIT_TRAIN_HI = "e6"
_SPLIT_VAL_HI = "f3"

_Q138_ORACLE = f"""
SELECT doc_id,
       SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
       CASE WHEN SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_SPLIT_TRAIN_HI}' THEN 'train'
            WHEN SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_SPLIT_VAL_HI}' THEN 'val'
            ELSE 'test'
       END AS split
FROM documents
"""


@query("q138_hash_split", oracle=_Q138_ORACLE, tags=("text", "etl", "EXT"))
def q138_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by hashing the stable
    document id — the reproducible-split primitive every training
    pipeline needs (same doc lands in the same split on every run, on
    any engine, regardless of row order or partitioning).

    Map-only: scan → project, no shuffle, no state — the plan you want
    for a 100 TB assignment pass. The split fences are lowercase-hex
    md5 prefixes compared as strings, so the assignment is portable
    across engines without integer-parsing hex (which SQL dialects
    disagree on).
    """
    d = load(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < _SPLIT_TRAIN_HI, "train")
        .when(bucket < _SPLIT_VAL_HI, "val")
        .otherwise("test")
        .alias("split"),
    )


# --------------------------------------------------------------------------
# q139: sliding-window chunking with overlap (context-window prep).
# --------------------------------------------------------------------------

_CHUNK_W = 64  # tokens per chunk
_CHUNK_S = 48  # stride (16-token overlap)

_Q139_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS toks,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS n
  FROM documents
),
k AS (
  SELECT doc_id, toks,
         UNNEST(generate_series(
           0,
           CAST(GREATEST(0, FLOOR((n - {_CHUNK_W} + {_CHUNK_S} - 1) / {_CHUNK_S}.0)) AS BIGINT)
         )) AS chunk_id
  FROM t
),
c AS (
  SELECT doc_id, chunk_id,
         list_slice(toks, chunk_id * {_CHUNK_S} + 1,
                    chunk_id * {_CHUNK_S} + {_CHUNK_W}) AS chunk
  FROM k
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * {_CHUNK_S} AS BIGINT) AS start_tok,
       CAST(len(chunk) AS BIGINT) AS n_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_md5
FROM c
"""


@query("q139_chunk_overlap", oracle=_Q139_ORACLE, tags=("text", "etl", "EXT"))
def q139_chunk_overlap(spark, sf_dir):
    """Sliding-window chunking with overlap ({64}-token windows,
    {48}-token stride): the context-window preparation step for
    training samples and RAG indexing. Every chunk gets a stable
    (doc_id, chunk_id) identity and a content fingerprint.

    Map-only + one generator: tokens stay an in-row array, chunk
    starts come from `sequence`/explode, the chunk itself is an array
    slice — no shuffle anywhere, so the pass is embarrassingly
    parallel at any scale. The final partial chunk is kept (tail
    tokens are never dropped); chunks are md5-fingerprinted so the
    output stays narrow even with wide documents.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    max_k = F.greatest(
        F.lit(0),
        F.floor(
            (n - F.lit(_CHUNK_W) + F.lit(_CHUNK_S) - F.lit(1))
            / F.lit(float(_CHUNK_S))
        ),
    ).cast("int")
    base = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), max_k)).alias("chunk_id"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_id") * _CHUNK_S + 1, _CHUNK_W
    )
    return base.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        (F.col("chunk_id") * _CHUNK_S).cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# q140: IVF + SQ8 — the production ANN composite (asymmetric distance).
# --------------------------------------------------------------------------

_IVF_CENTROIDS = 32

_Q140_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
dims AS (
  SELECT vec_id, GENERATE_SUBSCRIPTS(v, 1) AS d, UNNEST(v) AS x FROM e
),
mm AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY d),
deq AS (
  SELECT dims.vec_id, dims.d,
         CASE WHEN mm.mx = mm.mn THEN mm.mn
              ELSE mm.mn + (FLOOR(((dims.x - mm.mn) / (mm.mx - mm.mn)) * 255.0 + 0.5)
                            * (mm.mx - mm.mn)) / 255.0
         END AS val
  FROM dims JOIN mm ON dims.d = mm.d
),
vq AS (SELECT vec_id, LIST(val ORDER BY d) AS v FROM deq GROUP BY vec_id),
cent AS (
  SELECT vec_id AS c_id, v AS cv FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_CENTROIDS}
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
  WHERE q.vec_id < {_SQ_N_QUERIES}
),
cand AS (
  SELECT qa.q_id, vq.vec_id,
         ROUND(list_cosine_similarity(vq.v, qa.qv), 4) AS cos_sim
  FROM qa
  JOIN assign a ON a.c_id = qa.c_id
  JOIN vq ON vq.vec_id = a.vec_id
  WHERE vq.vec_id <> qa.q_id
)
SELECT q_id, vec_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM cand
) WHERE rank <= {_SQ_TOP_K}
"""


@query("q140_ivf_sq8_topk", oracle=_Q140_ORACLE, tags=("vector", "similarity", "EXT"))
def q140_ivf_sq8_topk(spark, sf_dir):
    """IVF coarse partitioning + SQ8-compressed storage — composed
    exactly as a production ANN index (FAISS IVF-SQ shape): vectors
    are assigned to their nearest coarse centroid at full precision,
    STORED 8-bit quantized, and probed asymmetrically (the query keeps
    its raw vector, candidates score on dequantized codes) within the
    query's cell only.

    Search cost per query is O(N/#cells) over a 4x-smaller index; both
    index-build passes (assignment, quantization) are map-only over
    the corpus with broadcast codebooks. Deterministic codebooks (q59's
    md5-ordered centroid pick, q136's min/max bounds) keep the whole
    composite oracle-checkable — swapping trained k-means centroids in
    changes only the codebook tables, not the query shape.
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # SQ8 codebook + dequantized storage view (q136).
    dims = e.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x")
    )
    stats = (
        dims.groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("d")
        .collect()
    )
    mins = F.array(*[F.lit(float(r["mn"])) for r in stats])
    maxs = F.array(*[F.lit(float(r["mx"])) for r in stats])
    vq = e.select(
        "vec_id", V.sq8_dequantize("embedding", mins, maxs).alias("dv")
    )
    # IVF coarse codebook + full-precision assignment (q59); candidates
    # score the query's raw vector against their dequantized codes.
    assign = nearest_centroids(e, init_centroids(e, _IVF_CENTROIDS)).select(
        "vec_id", "embedding", "c_id"
    )
    qa = assign.filter(F.col("vec_id") < _SQ_N_QUERIES)
    corpus = vq.join(assign, "vec_id").select(
        "vec_id", F.col("dv").alias("embedding"), "c_id"
    )
    return pair_topk(cosine_pairs(qa, corpus, ["c_id"]), _SQ_TOP_K).select(
        F.col("a").alias("q_id"),
        F.col("b").alias("vec_id"),
        F.col("cs").alias("cos_sim"),
        F.col("rnk").alias("rank"),
    )


# --------------------------------------------------------------------------
# q141: compression-ratio quality signal (rows-only — no SQL zlib).
# --------------------------------------------------------------------------

_CR_LO = 0.30  # below: pathologically repetitive (loops, boilerplate)
_CR_HI = 0.95  # above: high-entropy noise (minified/encoded blobs)
# zlib's fixed header/dictionary overhead inflates ratios on short
# texts (60 bytes of clean prose can exceed 1.0), so the gate only
# applies above a minimum size — the same exemption production
# filters use.
_CR_MIN_BYTES = 256


@query(
    "q141_compression_ratio",
    oracle=None,
    tags=("text", "quality", "udf", "rows-only", "EXT"),
)
def q141_compression_ratio(spark, sf_dir):
    """Per-document zlib compression ratio with a keep/drop gate — the
    Gopher/RefinedWeb repetitiveness filter: looped or boilerplate text
    compresses far below prose, encoded noise barely compresses at all.

    Map-only over the corpus through one Arrow-batched pandas UDF
    (``functions.udfs.compression_ratio`` — zlib level pinned, so the
    column is deterministic). No SQL engine exposes zlib, so this is a
    rows-only driver entry by contract; the exact ratios are pinned by
    a pytest against direct zlib output on known strings.
    """
    from ..functions.udfs import compression_ratio

    d = load(spark, sf_dir, "documents")
    ratio = compression_ratio(F.col("text"))
    n_bytes = F.octet_length("text").cast("long")
    return d.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        ratio.alias("zlib_ratio"),
        (
            (n_bytes < _CR_MIN_BYTES)
            | ((ratio >= _CR_LO) & (ratio <= _CR_HI))
        ).alias("keep"),
    )
