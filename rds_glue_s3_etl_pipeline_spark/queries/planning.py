"""Corpus planning + retrieval batch: the decisions a data team makes
AFTER the stats queries have run — how much of each slice to sample
(q172), where to set the quality bar for a target keep rate (q173),
and BM25 lexical retrieval over the corpus (q174).

All three are aggregation + broadcast-scalar compositions: the only
shuffles are per-slice hash aggregates and (q173) one range partition
for the exact-rank threshold; nothing ever collects to the driver.

Reference parity: none of these exist in the reference pipeline
(gule_test_job.py) — EXT operators from the LLM-pipeline north star
(SURVEY.md §2.11, Corpus building family).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load
from ..functions import text as X
from ..session import checkpoint
from .registry import query

# --------------------------------------------------------------------------
# q172: mixture sampling plan. Given target language weights and a
# token budget (here: half the corpus chars, the ablation-standard
# "train on 50%" budget), compute per-language sampling rates and
# epoch counts — the table (weights, epochs, oversampling flags) that
# configures the sampler in a real pretraining run (The Pile / LLaMA
# style mixture tables).
# --------------------------------------------------------------------------

# Target mixture by language. Literal constants shared with the oracle
# SQL below so the two can never drift.
_MIX_WEIGHTS = {"en": 0.50, "de": 0.15, "fr": 0.15, "es": 0.10, "zh": 0.10}

_MIX_CASE = "CAST(CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in sorted(_MIX_WEIGHTS.items())
) + " ELSE 0.0 END AS DOUBLE)"

_Q172_ORACLE = f"""
WITH avail AS (
  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS available_chars
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(available_chars) AS BIGINT) AS total_chars FROM avail),
plan AS (
  SELECT lang, available_chars,
         ({_MIX_CASE}) AS weight,
         CAST(FLOOR((total_chars // 2) * ({_MIX_CASE})) AS BIGINT) AS target_chars
  FROM avail, tot
)
SELECT lang, available_chars, weight, target_chars,
       target_chars / CAST(available_chars AS DOUBLE) AS sampling_rate,
       CAST(CEIL(target_chars / CAST(available_chars AS DOUBLE)) AS BIGINT) AS n_epochs,
       target_chars / CAST(available_chars AS DOUBLE) > 1.0 AS oversampled
FROM plan
"""


def _mixture_plan(spark, sf_dir):
    """The q172 plan rows (lang, available_chars, weight, target_chars,
    sampling_rate, n_epochs, oversampled) — shared with q176, which
    EXECUTES the plan."""
    d = load(spark, sf_dir, "documents")
    avail = d.groupBy("lang").agg(
        F.sum("n_chars").cast("long").alias("available_chars")
    )
    tot = avail.agg(F.sum("available_chars").cast("long").alias("total_chars"))
    weight = F.expr(_MIX_CASE)
    plan = avail.crossJoin(F.broadcast(tot)).select(
        "lang",
        "available_chars",
        weight.alias("weight"),
        F.floor(F.expr("total_chars div 2") * weight)
        .cast("long")
        .alias("target_chars"),
    )
    rate = F.col("target_chars") / F.col("available_chars").cast("double")
    return plan.select(
        "lang",
        "available_chars",
        "weight",
        "target_chars",
        rate.alias("sampling_rate"),
        F.ceil(rate).cast("long").alias("n_epochs"),
        (rate > 1.0).alias("oversampled"),
    )


@query("q172_mixture_plan", oracle=_Q172_ORACLE, tags=("pipeline", "EXT"))
def q172_mixture_plan(spark, sf_dir):
    """Per-language sampling plan against a fixed target mixture and a
    half-corpus char budget: available chars, target chars
    (budget x weight), sampling rate, epochs (ceil of rate — how many
    passes the sampler makes when a slice is smaller than its target),
    and the oversampling flag. One map-side-combinable groupBy plus a
    broadcast of the single total row — the whole plan is a few rows
    at any corpus size."""
    return _mixture_plan(spark, sf_dir)


# --------------------------------------------------------------------------
# q176: execute the mixture plan. Every doc is repeated floor(rate)
# full epochs and enters the final partial epoch iff a deterministic
# per-(doc, epoch) uniform draw lands under the fractional remainder —
# a counter-based RNG shape (splittable, no state, reproducible from
# doc_id alone), here a multiplicative hash mod a prime so the oracle
# reproduces it exactly; swap in splitmix64 at production scale.
# --------------------------------------------------------------------------

_SAMPLE_MOD = 1_000_003  # prime
_SAMPLE_A = 2_654_435_761  # Knuth multiplicative constant
_SAMPLE_B = 40_503

_Q176_ORACLE = f"""
WITH avail AS (
  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS available_chars
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(available_chars) AS BIGINT) AS total_chars FROM avail),
plan AS (
  SELECT lang,
         CAST(FLOOR((total_chars // 2) * ({_MIX_CASE})) AS BIGINT) AS target_chars,
         target_chars / CAST(available_chars AS DOUBLE) AS sampling_rate
  FROM avail, tot
),
draws AS (
  SELECT d.doc_id, d.lang, d.n_chars, CAST(e AS BIGINT) AS epoch,
         p.sampling_rate,
         CAST(FLOOR(p.sampling_rate) AS BIGINT) AS full_epochs
  FROM documents d
  JOIN plan p USING (lang),
  unnest(generate_series(0, CAST(CEIL(p.sampling_rate) AS BIGINT) - 1)) AS g(e)
),
sampled AS (
  SELECT * FROM draws
  WHERE epoch < full_epochs
     OR (((doc_id % {_SAMPLE_MOD}) * {_SAMPLE_A} + epoch * {_SAMPLE_B}) % {_SAMPLE_MOD})
        / CAST({_SAMPLE_MOD} AS DOUBLE) < sampling_rate - full_epochs
)
SELECT lang, epoch,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars
FROM sampled
GROUP BY lang, epoch
"""


@query("q176_mixture_execute", oracle=_Q176_ORACLE, tags=("pipeline", "EXT"))
def q176_mixture_execute(spark, sf_dir):
    """Materialize the q172 mixture: per (lang, epoch) the docs and
    chars the sampler actually emits. The plan broadcasts (a few
    rows); the epoch expansion is an explode bounded by n_epochs; the
    partial-epoch membership test is pure integer arithmetic on
    (doc_id, epoch) — no RNG state, any worker reproduces any row,
    which is what makes deterministic resharding/repair possible at
    100 TB."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    # n_epochs == 0 (zero-weight language) emits nothing; filtering it
    # here also keeps Spark's sequence() ascending (sequence(0, -1)
    # would DESCEND and emit phantom epochs).
    plan = (
        _mixture_plan(spark, sf_dir)
        .select("lang", "sampling_rate", "n_epochs")
        .filter(F.col("n_epochs") >= 1)
    )
    draws = (
        d.join(F.broadcast(plan), "lang")
        .withColumn(
            "epoch",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_epochs") - 1)),
        )
        .withColumn("full_epochs", F.floor("sampling_rate").cast("long"))
    )
    u = (
        (F.col("doc_id") % _SAMPLE_MOD) * _SAMPLE_A
        + F.col("epoch") * _SAMPLE_B
    ) % _SAMPLE_MOD / F.lit(float(_SAMPLE_MOD))
    sampled = draws.filter(
        (F.col("epoch") < F.col("full_epochs"))
        | (u < F.col("sampling_rate") - F.col("full_epochs"))
    )
    return sampled.groupBy("lang", "epoch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


# --------------------------------------------------------------------------
# q173: quality-threshold calibration. "Keep the top 60% by quality"
# needs the 40th-percentile quality value — computed as an EXACT rank
# selection (k-th smallest, k = ceil(0.4 n)) so both engines pick an
# actual data value and no interpolation rule can diverge. The rank is
# the two-pass range-partitioned global_row_number (operators/
# prefix.py), NOT a single-partition window — the same selection runs
# on 1e10 rows with thousands of partitions. The report shows what
# that one global bar does to each source (a low-quality source gets
# gutted; the table is the evidence).
# --------------------------------------------------------------------------

_KEEP_TOP = 0.6  # keep the top 60% => threshold at the 40th percentile


def _q173_oracle() -> str:
    from .text import _SW_SQL

    quality = f"""
       0.5 * (LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / LENGTH(text))
         + 0.3 * LEAST((({_SW_SQL}) / array_length(regexp_split_to_array(TRIM(text), '\\s+'))) * 5, 1.0)
         + 0.2 * (CASE WHEN LENGTH(text) >= 100 AND LENGTH(text) <= 20000
                       THEN 1.0 ELSE 0.0 END)
    """
    return f"""
WITH scored AS (
  SELECT doc_id, source, ({quality}) AS quality FROM documents
),
ranked AS (
  SELECT quality, ROW_NUMBER() OVER (ORDER BY quality, doc_id) AS rn FROM scored
),
k AS (
  SELECT CAST(CEIL({1.0 - _KEEP_TOP} * CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS k
  FROM scored
),
th AS (SELECT quality AS threshold FROM ranked, k WHERE rn = k.k)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN s.quality >= th.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       SUM(CASE WHEN s.quality >= th.threshold THEN 1 ELSE 0 END)
         / CAST(COUNT(*) AS DOUBLE) AS keep_rate,
       ANY_VALUE(th.threshold) AS threshold
FROM scored s, th
GROUP BY s.source
"""


@query("q173_quality_calibration", oracle=_q173_oracle(), tags=("pipeline", "quality", "EXT"))
def q173_quality_calibration(spark, sf_dir):
    """Calibrate the quality gate to a target keep rate: the global
    threshold is the exact k-th smallest quality (k = ceil(0.4 n),
    two-pass range-partitioned rank — no single-partition window, no
    driver collect), then every source's keep rate under that one bar.
    Ties at the threshold keep rate above the target — reported, not
    hidden.

    Single-scan discipline (round-10): every downstream consumer (the
    count, the threshold pick, the per-source report) reads the
    RANKED table, which global_row_number has already materialized —
    the regex-heavy quality pass over the text column runs exactly
    once per execution instead of twice (measured ~25-30% off the
    sf0.1 wall; the scan dominates the query)."""
    from ..operators.prefix import global_row_number

    d = load(spark, sf_dir, "documents")
    scored = d.select("doc_id", "source", X.quality_score("text").alias("quality"))
    ranked = global_row_number(scored, ["quality", "doc_id"], out_col="rn")
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    th = (
        ranked.crossJoin(F.broadcast(n))
        .filter(
            F.col("rn")
            == F.ceil(F.lit(1.0 - _KEEP_TOP) * F.col("n").cast("double")).cast("long")
        )
        .select(F.col("quality").alias("threshold"))
    )
    kept = (F.col("quality") >= F.col("threshold")).cast("long")
    return (
        ranked.crossJoin(F.broadcast(th))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept).alias("n_kept"),
            (F.sum(kept) / F.count(F.lit(1)).cast("double")).alias("keep_rate"),
            F.any_value(F.col("threshold")).alias("threshold"),
        )
    )


# --------------------------------------------------------------------------
# q174: BM25 top-k lexical retrieval (Okapi, k1=1.2, b=0.75) for a
# fixed conjunctive query. Term frequencies come from the padded
# occurrence-count trick (exact, no explode); document frequencies and
# avgdl are one scalar aggregate broadcast back; per-term scores are
# decimal-truncated to 8dp before the fixed-order sum so a 1-ulp ln()
# difference between engines cannot reorder the top-k.
# --------------------------------------------------------------------------

_BM25_TERMS = ("spark", "table", "join")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 15


def _q174_oracle() -> str:
    from .text import _occ_sql

    padded = "CONCAT(' ', LOWER(text), ' ')"
    tf_cols = ",\n       ".join(
        f"{_occ_sql(padded, f' {t} ')} AS tf_{t}" for t in _BM25_TERMS
    )
    df_cols = ",\n         ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in _BM25_TERMS
    )
    score_terms = " + ".join(
        f"""CAST(CAST(
          ln(1 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))
          * (tf_{t} * ({_BM25_K1} + 1))
          / (tf_{t} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
        AS DECIMAL(18,8)) AS DOUBLE)"""
        for t in _BM25_TERMS
    )
    return f"""
WITH tf AS (
  SELECT doc_id,
       {tf_cols},
       CAST(array_length(regexp_split_to_array(TRIM(text), '\\s+')) AS BIGINT) AS dl
  FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
         {df_cols}
  FROM tf
)
SELECT doc_id, ({score_terms}) AS bm25
FROM tf, stats
ORDER BY bm25 DESC, doc_id
LIMIT {_BM25_TOPK}
"""


@query("q174_bm25_topk", oracle=_q174_oracle(), tags=("text", "retrieval", "EXT"))
def q174_bm25_topk(spark, sf_dir):
    """BM25 top-k: one scan computes per-doc term frequencies and
    length, one scalar aggregate (N, avgdl, per-term df) broadcasts
    back, and the ranking is TakeOrderedAndProject — no global sort,
    no inverted index needed until the query VOLUME (not the corpus)
    grows; the inverted-index variant is q77's TF-IDF explode shape
    with this scorer."""
    d = load(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    tf = d.select(
        "doc_id",
        *[
            X.occurrences(padded, f" {t} ").alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
        X.token_count("text").cast("long").alias("dl"),
    )
    stats = tf.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    def term_score(t: str):
        idf = F.log(
            1
            + (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        )
        tf_c = F.col(f"tf_{t}")
        denom = tf_c + _BM25_K1 * (
            1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
        )
        return (idf * (tf_c * (_BM25_K1 + 1)) / denom).cast("decimal(18,8)").cast(
            "double"
        )

    score = None
    for t in _BM25_TERMS:
        score = term_score(t) if score is None else score + term_score(t)
    return (
        tf.crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )


# --------------------------------------------------------------------------
# q182: split-leakage report. A deterministic hash split (q138's
# md5-prefix fences) keeps the SAME document on the same side forever
# — but near-duplicates of a training item can still land in val/test
# and inflate eval scores. This gate counts, per eval split, the
# vectors with at least one near-dup neighbor (q34's verified pair
# set) on the TRAIN side.
# --------------------------------------------------------------------------

_LEAK_TRAIN_HI = "e6"  # same fences as q138
_LEAK_VAL_HI = "f3"


def _q182_oracle() -> str:
    from .vector import _Q34_ORACLE

    split = f"""CASE WHEN SUBSTRING(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '{_LEAK_TRAIN_HI}' THEN 'train'
            WHEN SUBSTRING(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '{_LEAK_VAL_HI}' THEN 'val'
            ELSE 'test' END"""
    return f"""
WITH sp AS (
  SELECT vec_id, ({split}) AS split FROM embeddings
),
pairs AS (SELECT vec_a, vec_b FROM ({_Q34_ORACLE})),
sym AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION
  SELECT vec_b, vec_a FROM pairs
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
       CAST(SUM(CASE WHEN leak.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
       SUM(CASE WHEN leak.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         / CAST(COUNT(*) AS DOUBLE) AS leak_rate
FROM sp LEFT JOIN leak ON sp.vec_id = leak.vec_id
WHERE sp.split <> 'train'
GROUP BY sp.split
"""


@query("q182_split_leakage", oracle=_q182_oracle(), tags=("vector", "gate", "EXT"))
def q182_split_leakage(spark, sf_dir):
    """Per eval split: how many vectors have a near-duplicate (q34's
    label-blocked cosine pairs) on the train side of the q138 hash
    split, and the leak rate. The pair set is the already-verified
    operator; the split is a map-only projection; the report is two
    hash joins and one aggregate — dedup-before-split is the fix this
    number argues for."""
    from .vector import q34_cosine_near_dup

    e = load(spark, sf_dir, "embeddings").select("vec_id")
    bucket = F.substring(F.md5(F.col("vec_id").cast("string").cast("binary")), 1, 2)
    sp = e.withColumn(
        "split",
        F.when(bucket < _LEAK_TRAIN_HI, "train")
        .when(bucket < _LEAK_VAL_HI, "val")
        .otherwise("test"),
    )
    pairs = q34_cosine_near_dup(spark, sf_dir).select("vec_a", "vec_b")
    sym = pairs.union(
        pairs.select(F.col("vec_b").alias("vec_a"), F.col("vec_a").alias("vec_b"))
    )
    leak = (
        sym.join(
            sp.select(F.col("vec_id").alias("vec_a"), F.col("split").alias("sa")),
            "vec_a",
        )
        .join(
            sp.select(F.col("vec_id").alias("vec_b"), F.col("split").alias("sb")),
            "vec_b",
        )
        .filter((F.col("sa") != "train") & (F.col("sb") == "train"))
        .select(F.col("vec_a").alias("vec_id"))
        .distinct()
        .withColumn("leaked", F.lit(1))
    )
    return (
        sp.filter(F.col("split") != "train")
        .join(leak, "vec_id", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.coalesce("leaked", F.lit(0))).cast("long").alias("n_leaked"),
            (
                F.sum(F.coalesce("leaked", F.lit(0)))
                / F.count(F.lit(1)).cast("double")
            ).alias("leak_rate"),
        )
    )


# --------------------------------------------------------------------------
# q216: leakage-safe split REPAIR — q182 measures the leak; this query
# fixes it. Near-dup clusters (q34's verified edge set -> connected
# components) are assigned to train/val/test as WHOLE UNITS by hashing
# the cluster id, so no near-dup pair can ever straddle the train
# fence. The report re-computes q182's leak predicate over the new
# assignment as an in-query gate: n_leaked must be 0 by construction.
# --------------------------------------------------------------------------


def _q216_oracle() -> str:
    from .vector import _Q34_ORACLE

    split = f"""CASE WHEN SUBSTRING(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '{_LEAK_TRAIN_HI}' THEN 'train'
            WHEN SUBSTRING(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '{_LEAK_VAL_HI}' THEN 'val'
            ELSE 'test' END"""
    return f"""
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
  SELECT e.vec_id, COALESCE(cl.cluster_id, e.vec_id) AS cluster_id
  FROM embeddings e LEFT JOIN cl ON e.vec_id = cl.vec_id
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


@query("q216_leakage_safe_split", oracle=_q216_oracle(), tags=("vector", "gate", "EXT"))
def q216_leakage_safe_split(spark, sf_dir):
    """Cluster-aware split assignment: near-dup components (q34 edges
    -> star-contraction CC) inherit ONE split from the md5 bucket of
    their cluster id (q138's fences), singletons hash their own id.
    The returned report carries q182's leak predicate re-evaluated on
    the new assignment — zero by construction, and the query proves it
    rather than asserting it.

    Honest contract (the q223/q224 caveat, which applies here too):
    "zero leakage" is scoped to q34's LABEL-BLOCKED edge set — a
    cross-label near-duplicate pair is invisible to both the cluster
    assignment and the in-query re-proof, so such a pair can still
    straddle the train fence while n_leaked reads 0. Blocking limits
    what the zero-leak proof covers; q224's grid form blocks by
    embedding similarity instead (catching cross-label neighbors,
    missing cross-cell ones), and q229 measures how differently the
    two policies cluster.

    Scale: edges at 100 TB come from the LSH/banded path (the q34
    all-pairs form is the oracle fixture); CC is large/small-star
    contraction (O(log^2 n) rounds, shuffle volume = edge count);
    the cluster map is dup-bounded and its broadcast is count-gated
    (operators/skew.gated_broadcast); the split itself is a map-only
    projection. Nothing here is heavier than the dedup pass a corpus
    already runs — leakage-safe splits are a re-keying of its output.

    Reference scope: EXT (SURVEY §2.11 corpus building); the reference
    job (gule_test_job.py) has no split surface.
    """
    from ..operators.graph import connected_components_star
    from ..operators.skew import gated_broadcast
    from .vector import q34_cosine_near_dup

    e = load(spark, sf_dir, "embeddings").select("vec_id")
    # Checkpoint the pair list: it feeds BOTH the component contraction
    # and the leak re-proof's symmetric join below — without this the
    # all-pairs scoring join evaluated twice (once inside CC's own
    # checkpoint, once live in the final job). eager=False: CC's first
    # convergence probe materializes it.
    pairs = checkpoint(
        q34_cosine_near_dup(spark, sf_dir)
        .select("vec_a", "vec_b"),
        eager=False,
    )
    cl = connected_components_star(pairs, src="vec_a", dst="vec_b").select(
        F.col("id").alias("vec_id"), "cluster_id"
    )
    assigned = e.join(gated_broadcast(cl), "vec_id", "left").withColumn(
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
    sym = pairs.union(
        pairs.select(F.col("vec_b").alias("vec_a"), F.col("vec_a").alias("vec_b"))
    )
    leak = (
        sym.join(
            sp.select(F.col("vec_id").alias("vec_a"), F.col("split").alias("sa")),
            "vec_a",
        )
        .join(
            sp.select(F.col("vec_id").alias("vec_b"), F.col("split").alias("sb")),
            "vec_b",
        )
        .filter((F.col("sa") != "train") & (F.col("sb") == "train"))
        .select(F.col("vec_a").alias("vec_id"))
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
# q226: stratified split with EXACT integer allocation — the
# complement of the hash splits (q138/q216): a hash split's per-source
# proportions only converge in expectation; evaluation suites need
# per-stratum counts exact to the row. Allocation is integer floor
# math (train = 8n/10, val = n/10, remainder test), assignment by
# deterministic md5 rank within the stratum.
# --------------------------------------------------------------------------

_Q226_ORACLE = """
WITH ranked AS (
  SELECT source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
),
sp AS (
  SELECT source,
         CASE WHEN r <= (n * 8) // 10 THEN 'train'
              WHEN r <= (n * 8) // 10 + n // 10 THEN 'val'
              ELSE 'test' END AS split
  FROM ranked
)
SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM sp GROUP BY source, split
"""


@query("q226_stratified_split_exact", oracle=_Q226_ORACLE, tags=("text", "pipeline", "EXT"))
def q226_stratified_split_exact(spark, sf_dir):
    """Per-source 80/10/10 split with row-exact allocation: rank docs
    within their stratum by md5 (deterministic, uncorrelated with
    content), cut at integer quotas computed from the stratum size —
    every source contributes exactly floor(0.8n)/floor(0.1n)/rest.

    Scale: the within-stratum rank is a window partitioned by source —
    per-partition work bounded by stratum size. For a single stratum
    approaching corpus size, the registered fix is the two-pass
    prefix-sum rank (operators/prefix.py, the q203 move); the window
    form here matches the oracle's semantics one-to-one.

    Reference scope: EXT (SURVEY §2.11 corpus building).
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    n = F.count(F.lit(1)).over(Window.partitionBy("source"))
    r = F.row_number().over(w)
    train_hi = F.floor((n * 8) / F.lit(10))
    val_hi = train_hi + F.floor(n / F.lit(10))
    sp = d.select(
        "source",
        F.when(r <= train_hi, "train")
        .when(r <= val_hi, "val")
        .otherwise("test")
        .alias("split"),
    )
    return sp.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --------------------------------------------------------------------------
# q230: q226's mega-stratum form (round-9 verdict item #5). q226's
# per-stratum window is bounded by stratum size — fine until one
# stratum approaches corpus size (a web corpus is often 80% 'en'),
# when PARTITION BY source puts 80% of the data in one task. This is
# the SAME split computed on the grouped two-pass prefix rank, gated
# against the identical oracle.
# --------------------------------------------------------------------------


@query("q230_stratified_split_prefix", oracle=_Q226_ORACLE, tags=("text", "pipeline", "EXT"))
def q230_stratified_split_prefix(spark, sf_dir):
    """Row-exact 80/10/10 stratified split via operators/prefix.
    grouped_row_number: range-partition on (source, md5, doc_id), rank
    per (partition, source) locally, add per-source prefix offsets —
    no task ever holds a whole stratum, so the plan survives a
    stratum that IS the corpus. Quotas are the same integer floor
    math as q226 (per-source totals joined back; engine-exact — see
    the q226 DuckDB `//` vs Spark `/` gotcha), and the oracle is
    q226's verbatim: both forms must produce identical counts."""
    from ..operators.prefix import grouped_row_number

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    keyed = d.withColumn(
        "__k", F.md5(F.col("doc_id").cast("string").cast("binary"))
    )
    ranked = grouped_row_number(
        keyed, ["source"], ["__k", "doc_id"], out_col="r"
    )
    totals = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    j = ranked.join(totals, "source")
    train_hi = F.floor((F.col("n") * 8) / F.lit(10))
    val_hi = train_hi + F.floor(F.col("n") / F.lit(10))
    sp = j.select(
        "source",
        F.when(F.col("r") <= train_hi, "train")
        .when(F.col("r") <= val_hi, "val")
        .otherwise("test")
        .alias("split"),
    )
    return sp.groupBy("source", "split").agg(F.count(F.lit(1)).alias("n_docs"))
