"""Text-analysis queries over ``documents`` (north-star extension):
token stats, quality scoring, language-ID heuristic, fingerprint +
exact dedup, n-gram Jaccard near-dup pairs.

The oracle SQL is generated from the same marker/stopword constants as
the Spark expressions so the two can never drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load
from ..functions import text as X
from ..session import checkpoint
from .registry import query


def _occ_sql(expr: str, needle: str) -> str:
    """DuckDB twin of functions.text.occurrences — needle length always
    divides the length delta, so double division is exact and CAST to
    BIGINT (round vs trunc) is identical on both engines."""
    esc = needle.replace("'", "''")
    return (
        f"CAST((LENGTH({expr}) - LENGTH(REPLACE({expr}, '{esc}', ''))) "
        f"/ {len(needle)} AS BIGINT)"
    )


_PADDED = "CONCAT(' ', LOWER(text), ' ')"

_SW_SQL = " + ".join(_occ_sql(_PADDED, f" {w} ") for w in X.STOPWORDS_EN)

_Q19_ORACLE = """
SELECT doc_id, lang, source,
       CAST(array_length(regexp_split_to_array(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens,
       CAST(LENGTH(text) AS BIGINT) AS n_chars,
       LENGTH(REPLACE(text, ' ', '')) / array_length(regexp_split_to_array(TRIM(text), '\\s+')) AS avg_token_len
FROM documents
"""


@query("q19_token_stats", oracle=_Q19_ORACLE, tags=("text", "EXT"))
def q19_token_stats(spark, sf_dir):
    """Token counting over documents (SURVEY north-star text analysis)
    — pure built-ins (split/size/length), codegen'd, no UDF."""
    d = load(spark, sf_dir, "documents")
    n_tok = X.token_count("text")
    return d.select(
        "doc_id",
        "lang",
        "source",
        n_tok.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        (F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_tok).alias(
            "avg_token_len"
        ),
    )


_Q20_ORACLE = f"""
SELECT doc_id,
       LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / LENGTH(text) AS alpha_ratio,
       ({_SW_SQL}) AS n_stopwords,
       0.5 * (LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / LENGTH(text))
         + 0.3 * LEAST((({_SW_SQL}) / array_length(regexp_split_to_array(TRIM(text), '\\s+'))) * 5, 1.0)
         + 0.2 * (CASE WHEN LENGTH(text) >= 100 AND LENGTH(text) <= 20000
                       THEN 1.0 ELSE 0.0 END) AS quality
FROM documents
"""


@query("q20_quality_score", oracle=_Q20_ORACLE, tags=("text", "EXT"))
def q20_quality_score(spark, sf_dir):
    """Pre-training-style quality scoring: alphabetic density +
    stopword ratio + length band, weighted — all JVM built-ins."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.alpha_ratio("text").alias("alpha_ratio"),
        X.stopword_count("text").alias("n_stopwords"),
        X.quality_score("text").alias("quality"),
    )


def _lang_score_sql(lang: str) -> str:
    return " + ".join(_occ_sql(_PADDED, f" {w} ") for w in X.LANG_MARKERS[lang])


def _build_q21_oracle() -> str:
    scores = {lang: f"s_{lang}" for lang in sorted(X.LANG_MARKERS)}
    score_cols = ",\n       ".join(
        f"({_lang_score_sql(lang)}) AS {alias}" for lang, alias in scores.items()
    )
    langs = sorted(X.LANG_MARKERS)
    # First language (in sorted order) achieving the max wins — same
    # tie-break as functions.text.lang_guess's fold.
    cases = []
    for i, lang in enumerate(langs):
        rest = [f"s_{lang} >= s_{o}" for o in langs[i + 1 :]]
        cond = " AND ".join(rest) if rest else "TRUE"
        cases.append(f"WHEN {cond} THEN '{lang}'")
    total = " + ".join(f"s_{lang}" for lang in langs)
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
       {score_cols}
  FROM documents
)
SELECT doc_id, lang AS actual_lang,
       CASE WHEN ({total}) = 0 THEN 'und' {' '.join(cases)} END AS guessed_lang
FROM scored
"""


@query("q21_lang_guess", oracle=_build_q21_oracle(), tags=("text", "EXT"))
def q21_lang_guess(spark, sf_dir):
    """Marker-word language-ID heuristic (north-star text analysis)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        X.lang_guess("text").alias("guessed_lang"),
    )


_NORM_SQL = (
    "TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)

_Q22_ORACLE = f"""
SELECT md5({_NORM_SQL}) AS fp,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5({_NORM_SQL})
"""


@query("q22_exact_dedup", oracle=_Q22_ORACLE, tags=("text", "dedup", "EXT"))
def q22_exact_dedup(spark, sf_dir):
    """Exact deduplication: group by normalized-text MD5 fingerprint,
    keep the lowest doc_id per group (hash-groupBy; partial aggregation
    makes shuffle volume #distinct-docs, not #docs)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy(X.fingerprint("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# 5-word shingles; pair threshold tuned against the synthetic corpus.
_SHINGLE_N = 5
_JACCARD_THRESHOLD = 0.2

_Q23_ORACLE = f"""
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
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       CAST(i.n_common AS BIGINT) AS n_common,
       i.n_common / (sa.n + sb.n - i.n_common) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_common / (sa.n + sb.n - i.n_common) >= {_JACCARD_THRESHOLD}
"""


@query("q23_ngram_jaccard_pairs", oracle=_Q23_ORACLE, tags=("text", "dedup", "EXT"))
def q23_ngram_jaccard_pairs(spark, sf_dir):
    """N-gram Jaccard near-duplicate pairs: explode 5-word shingles,
    self-join on shingle, count intersections, Jaccard >= threshold.

    Scale notes: the shingle join is the exact-verification stage of a
    MinHash pipeline; at 100 TB run q25's LSH banding first to restrict
    the self-join to candidate pairs. Shingle hot-keys are bounded
    because shingles are 5-grams (near-unique); AQE skew-join covers
    the rest.
    """
    from ..operators.dedup import df_capped_shingles

    d = load(spark, sf_dir, "documents")
    # Join on a 64-bit shingle hash, not the string (cheaper shuffle +
    # probe), and bound the join input by document frequency: df=1
    # shingles can't form pairs (lossless prune, kills most 5-grams),
    # and df>MAX_SHINGLE_DF boilerplate shingles are dropped before
    # they can fan out df² join rows (lossless at fixture scale —
    # measured max df 4 — and standard practice at web scale). Sizes
    # are computed BEFORE the cap so Jaccard denominators stay exact.
    # Materialized once (localCheckpoint): sizes, the df aggregate,
    # and both self-join sides all read this set — without it the
    # explode+hash+distinct re-runs per branch.
    sh = checkpoint(
        X.exploded_word_shingles(d, "text", "doc_id", _SHINGLE_N)
        .select("doc_id", F.xxhash64("sh").alias("h"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sh2 = df_capped_shingles(sh)
    a, b = sh2.alias("a"), sh2.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jacc = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jacc >= _JACCARD_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            jacc.alias("jaccard"),
        )
    )


def staged_near_dup_edges(spark, sf_dir):
    """Near-dup edges the way a 100 TB corpus computes them: MinHash →
    32×1 LSH banding proposes candidate pairs (recall 1-(1-j)^32 ≈
    99.9% at the 0.2 threshold), exact shingle-Jaccard verifies ONLY
    the candidates. Pairwise work scales with #candidates (linear in
    true dups) instead of #shared-shingle pairs; on the fixtures the
    output is bit-identical to q23's all-pairs join (q108 proves it
    against the same oracle as q60).

    Shared edge source for q108 (clusters) and q124 (survivor pick).
    Returns (doc_a, doc_b).
    """
    from ..operators.dedup import (
        exact_jaccard_edges,
        lsh_candidate_pairs,
        minhash_from_hashed_shingles,
    )

    d = load(spark, sf_dir, "documents")
    # Materialize the distinct (doc, shingle-hash) set ONCE: four DAG
    # branches consume it (minhash signatures, per-doc sizes, both
    # sides of the verify join), and without a checkpoint Catalyst
    # re-runs the regex-split + explode + hash + distinct for each —
    # the single most expensive stage of the pipeline. localCheckpoint
    # truncates lineage and shares the materialized set (the same
    # pattern operators/graph.py uses per CC round). On a cluster this
    # is the "shingle table you compute once per corpus snapshot".
    sh = checkpoint(
        X.exploded_word_shingles(d, "text", "doc_id", _SHINGLE_N)
        .select("doc_id", F.xxhash64("sh").alias("h"))
        .distinct()
    )
    sig = minhash_from_hashed_shingles(sh, num_perm=32)
    cand = lsh_candidate_pairs(sig, num_perm=32, bands=32)
    # The verify join is candidate-driven, so no df cap is needed here:
    # a hot shingle's fanout is bounded by the candidate list, not df².
    return exact_jaccard_edges(sh, cand, _JACCARD_THRESHOLD)
