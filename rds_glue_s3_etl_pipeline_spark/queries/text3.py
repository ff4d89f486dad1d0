"""Third text batch — corpus-level statistics a training-data pipeline
runs before mixing: vocabulary frequency, TF-IDF salience, benchmark
contamination, distribution divergence between corpus slices, fixed-
quota data mixing, and edit-distance similarity.

All are built-in-function compositions (explode/groupBy/join/window) —
no UDFs — so they run as whole-stage-codegen'd hash aggregates and
broadcast joins at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import text as X
from ..session import checkpoint
from .registry import query

_TOK_CTE = """
tok AS (
  SELECT doc_id, lang, UNNEST(regexp_split_to_array(TRIM(text), '\\s+')) AS tok
  FROM documents
)
"""


def _tokens(d):
    return d.select(
        "doc_id", "lang", F.explode(X.tokens("text")).alias("tok")
    )


# --------------------------------------------------------------------------
# Corpus vocabulary: top-k tokens by frequency (the BPE-training /
# vocab-pruning precursor).
# --------------------------------------------------------------------------

_Q76_ORACLE = f"""
WITH {_TOK_CTE}
SELECT tok, COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs
FROM tok WHERE tok <> ''
GROUP BY tok
ORDER BY n_occurrences DESC, tok
LIMIT 20
"""


@query("q76_vocab_topk", oracle=_Q76_ORACLE, tags=("text", "agg", "EXT"))
def q76_vocab_topk(spark, sf_dir):
    """Corpus-wide token frequency top-k. One explode + hash aggregate;
    partial (map-side) counts keep the shuffle at vocab size, not token
    count — the plan that builds a tokenizer vocab over 100 TB."""
    d = load(spark, sf_dir, "documents")
    return (
        _tokens(d)
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("tok"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# TF-IDF: most-salient term per document.
# --------------------------------------------------------------------------

_Q77_ORACLE = f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok WHERE tok <> '' GROUP BY doc_id, tok),
df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok WHERE tok <> '' GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.tok, tf, df,
         ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 8) AS tfidf
  FROM tf JOIN df USING (tok) CROSS JOIN n
)
SELECT doc_id, tok AS top_tok, tf, df, tfidf
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
      FROM scored)
WHERE rn = 1
"""


@query("q77_tfidf_top_term", oracle=_Q77_ORACLE, tags=("text", "agg", "window", "EXT"))
def q77_tfidf_top_term(spark, sf_dir):
    """Per-document most-salient term by TF-IDF. Document frequencies
    aggregate to vocab size and broadcast back onto the term-frequency
    frame; the per-doc argmax is a window over the doc partition.
    Scores are rounded to 8dp BEFORE ranking so float ulps can never
    flip the winner between engines."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens(d).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 8
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("top_tok"), "tf", "df", "tfidf")
    )


# --------------------------------------------------------------------------
# Benchmark contamination: shingle overlap of eval docs against a
# benchmark slice (doc_id % 20 == 0 stands in for the benchmark set).
# --------------------------------------------------------------------------

_SH_N = 5

_Q78_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS t FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, array_to_string(t[i:i+{_SH_N - 1}], ' ') AS sh
    FROM (SELECT doc_id, t,
                 unnest(generate_series(1, GREATEST(array_length(t) - {_SH_N - 1}, 0))) AS i
          FROM toks)
  )
),
bench AS (SELECT DISTINCT sh FROM shingles WHERE doc_id % 20 = 0)
SELECT s.doc_id,
       COUNT(*) AS n_shingles,
       COUNT(b.sh) AS n_contaminated,
       COUNT(b.sh) / COUNT(*) AS contamination_rate
FROM shingles s LEFT JOIN bench b ON s.sh = b.sh
WHERE s.doc_id % 20 <> 0
GROUP BY s.doc_id
"""


@query("q78_contamination_check", oracle=_Q78_ORACLE, tags=("text", "dedup", "EXT"))
def q78_contamination_check(spark, sf_dir):
    """Benchmark-contamination scan: fraction of each training doc's
    distinct 5-gram shingles that appear anywhere in the benchmark
    slice. The benchmark shingle set is orders smaller than the corpus
    → broadcast to a map-side hash semi-probe; the corpus side streams.
    Exact integer ratio, deterministic across engines."""
    d = load(spark, sf_dir, "documents")
    sh = X.exploded_word_shingles(d, "text", "doc_id", n=_SH_N).distinct()
    bench = (
        sh.filter(F.col("doc_id") % 20 == 0).select("sh").distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        sh.filter(F.col("doc_id") % 20 != 0)
        .join(F.broadcast(bench), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            (F.col("n_contaminated") / F.col("n_shingles")).alias(
                "contamination_rate"
            ),
        )
    )


# --------------------------------------------------------------------------
# KL divergence of per-language token distributions vs the corpus.
# --------------------------------------------------------------------------

_Q79_ORACLE = f"""
WITH {_TOK_CTE},
lt AS (SELECT lang, tok, COUNT(*) AS c FROM tok WHERE tok <> '' GROUP BY lang, tok),
ln_tot AS (SELECT lang, SUM(c) AS lang_n FROM lt GROUP BY lang),
ct AS (SELECT tok, SUM(c) AS tc FROM lt GROUP BY tok),
n AS (SELECT SUM(c) AS corpus_n FROM lt),
terms AS (
  SELECT lang,
         CAST(CAST((c / lang_n) * ln((c / lang_n) / (tc / corpus_n)) AS DECIMAL(18,8))
              AS DOUBLE) AS term
  FROM lt JOIN ln_tot USING (lang) JOIN ct USING (tok) CROSS JOIN n
)
SELECT lang, CAST(SUM(CAST(term AS DECIMAL(18,8))) AS DOUBLE) AS kl_vs_corpus
FROM terms GROUP BY lang
"""


@query("q79_kl_divergence", oracle=_Q79_ORACLE, tags=("text", "agg", "EXT"))
def q79_kl_divergence(spark, sf_dir):
    """KL(P_lang ‖ P_corpus) over token distributions — the slice-drift
    metric behind data-mixing decisions. Probabilities are exact
    integer ratios; each p·ln(p/q) term is truncated to 8dp decimal so
    the final sum is order-independent (summing raw doubles would make
    the result depend on reduce order — not reproducible across
    cluster layouts)."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens(d).filter(F.col("tok") != "")
    lt = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    lang_tot = lt.groupBy("lang").agg(F.sum("c").alias("lang_n"))
    corpus_tok = lt.groupBy("tok").agg(F.sum("c").alias("tc"))
    corpus_n = lt.agg(F.sum("c").alias("corpus_n"))
    p = F.col("c") / F.col("lang_n")
    q = F.col("tc") / F.col("corpus_n")
    term = (p * F.log(p / q)).cast("decimal(18,8)").cast("double")
    return (
        lt.join(F.broadcast(lang_tot), "lang")
        .join(F.broadcast(corpus_tok), "tok")
        .crossJoin(F.broadcast(corpus_n))
        .select("lang", term.alias("term"))
        .groupBy("lang")
        .agg(F.sum(F.col("term").cast("decimal(18,8)")).cast("double").alias("kl_vs_corpus"))
    )


# --------------------------------------------------------------------------
# Data mixing: resample every language slice to a fixed quota
# (with repetition when the slice is smaller than the quota).
# --------------------------------------------------------------------------

_MIX_QUOTA = 137

_Q80_ORACLE = f"""
WITH ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, doc_id,
       CAST(({_MIX_QUOTA} - r) // n + 1 AS BIGINT) AS n_copies
FROM ranked
WHERE r <= {_MIX_QUOTA}
"""


@query("q80_data_mixing", oracle=_Q80_ORACLE, tags=("text", "sample", "EXT"))
def q80_data_mixing(spark, sf_dir):
    """Fixed-quota mixing: deterministically resample each language to
    exactly {quota} examples, repeating docs round-robin (in md5 order)
    when the slice is short. Pure arithmetic on a per-slice rank — no
    explode, so the plan emits one row per kept doc with its
    multiplicity (the data loader materializes repeats)."""
    d = load(spark, sf_dir, "documents")
    hsh = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("lang").orderBy(hsh, F.col("doc_id"))
    wn = Window.partitionBy("lang")
    return (
        d.select(
            "lang",
            "doc_id",
            F.row_number().over(w).alias("r"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("r") <= _MIX_QUOTA)
        .select(
            "lang",
            "doc_id",
            (
                F.floor((F.lit(_MIX_QUOTA) - F.col("r")) / F.col("n")) + 1
            ).cast("long").alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# Edit-distance similarity: levenshtein pairs over a name dimension.
# --------------------------------------------------------------------------

_Q81_ORACLE = """
SELECT a.n_name AS name_a, b.n_name AS name_b,
       CAST(levenshtein(a.n_name, b.n_name) AS INT) AS dist
FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
WHERE levenshtein(a.n_name, b.n_name) <= 2
"""


@query("q81_levenshtein_pairs", oracle=_Q81_ORACLE, tags=("text", "similarity", "EXT"))
def q81_levenshtein_pairs(spark, sf_dir):
    """Edit-distance near-match pairs (fuzzy entity resolution). The
    quadratic self-join is fine on a dimension table; at corpus scale
    the same F.levenshtein runs as the verify stage AFTER an LSH/
    blocking pass (q25/q33) has cut the candidate set."""
    n = load(spark, sf_dir, "nation")
    a = n.select(F.col("n_name").alias("name_a"), F.col("n_nationkey").alias("ka"))
    b = n.select(F.col("n_name").alias("name_b"), F.col("n_nationkey").alias("kb"))
    return (
        a.join(b, F.col("ka") < F.col("kb"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 2)
        .select("name_a", "name_b", "dist")
    )


# --------------------------------------------------------------------------
# Percentile-band length filter: the classic pretraining heuristic
# "drop the shortest/longest tails per language slice".
# --------------------------------------------------------------------------

_Q84_ORACLE = """
WITH bands AS (
  SELECT lang,
         quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN bands b ON d.lang = b.lang
WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
"""


@query("q84_length_band_filter", oracle=_Q84_ORACLE, tags=("text", "agg", "A6", "EXT"))
def q84_length_band_filter(spark, sf_dir):
    """Keep documents inside the [p5, p95] length band of their
    language slice. The per-slice quantiles aggregate to one tiny row
    per lang and broadcast back onto the corpus scan — no shuffle of
    the documents themselves. Exact interpolating percentile on
    integer lengths matches DuckDB quantile_cont bit-for-bit."""
    d = load(spark, sf_dir, "documents")
    bands = d.groupBy(F.col("lang").alias("b_lang")).agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    return (
        d.join(F.broadcast(bands), d.lang == F.col("b_lang"))
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .select("doc_id", "lang", "n_chars")
    )


# --------------------------------------------------------------------------
# q126: incremental dedup — incoming docs vs a historical corpus.
# --------------------------------------------------------------------------

from .text import _JACCARD_THRESHOLD, _SHINGLE_N  # noqa: E402

_Q126_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS t FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, array_to_string(t[i:i+{_SHINGLE_N - 1}], ' ') AS sh
    FROM (SELECT doc_id, t,
                 unnest(generate_series(1, GREATEST(array_length(t) - {_SHINGLE_N - 1}, 0))) AS i
          FROM toks)
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS new_doc_id, b.doc_id AS hist_doc_id, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.sh = b.sh
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT i.new_doc_id, i.hist_doc_id,
         CAST(i.n_common AS BIGINT) AS n_common,
         i.n_common / (sa.n + sb.n - i.n_common) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.new_doc_id
  JOIN sizes sb ON sb.doc_id = i.hist_doc_id
  WHERE i.n_common / (sa.n + sb.n - i.n_common) >= {_JACCARD_THRESHOLD}
)
SELECT new_doc_id, hist_doc_id AS best_hist_doc_id, n_common, jaccard
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY new_doc_id ORDER BY jaccard DESC, hist_doc_id) AS rn
      FROM scored)
WHERE rn = 1
"""


@query("q126_incremental_dedup", oracle=_Q126_ORACLE, tags=("text", "dedup", "EXT"))
def q126_incremental_dedup(spark, sf_dir):
    """Incremental-ingest dedup: match INCOMING documents (deterministic
    split: doc_id % 5 == 0) against the HISTORICAL corpus only — the
    shape every batch-append pipeline runs, asymmetric by construction
    (new << history), unlike the q23/q25 self-joins.

    Scale: shingle-hash equi-join new×history (no new×new or
    history×history pairs ever form), with a document-frequency cap
    (operators/dedup.py MAX_SHINGLE_DF) on the join input — a
    boilerplate shingle present in k_new×k_hist docs would otherwise
    fan out quadratically in its df; df-capped it is dropped before
    the join (lossless at fixture scale, measured max df 4). Sizes
    are computed pre-cap so Jaccard denominators stay exact. At
    100 TB the history side is the precomputed signature store
    (MinHash bands, appended per batch) and only incoming docs are
    shingled fresh. The best-match pick is a per-new-doc window over
    candidates (small by construction).
    """
    from ..operators.dedup import df_capped_shingles

    d = load(spark, sf_dir, "documents")
    # Materialized once (localCheckpoint): sizes, the df aggregate,
    # and both join sides read this set.
    sh = checkpoint(
        X.exploded_word_shingles(d, "text", "doc_id", _SHINGLE_N)
        .select("doc_id", F.xxhash64("sh").alias("h"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # min_df=2 is lossless here too: a global-df-1 shingle exists on
    # only one side of the new/history split, so it can never match.
    sh_j = df_capped_shingles(sh)
    new_sh = sh_j.filter(F.col("doc_id") % 5 == 0)
    hist_sh = sh_j.filter(F.col("doc_id") % 5 != 0)
    inter = (
        new_sh.alias("a")
        .join(hist_sh.alias("b"), F.col("a.h") == F.col("b.h"))
        .groupBy(
            F.col("a.doc_id").alias("new_doc_id"),
            F.col("b.doc_id").alias("hist_doc_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    scored = (
        inter.join(sizes.withColumnRenamed("doc_id", "new_doc_id"), "new_doc_id")
        .withColumnRenamed("n", "na")
        .join(sizes.withColumnRenamed("doc_id", "hist_doc_id"), "hist_doc_id")
        .withColumnRenamed("n", "nb")
        .select(
            "new_doc_id",
            "hist_doc_id",
            "n_common",
            (
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )
    w = Window.partitionBy("new_doc_id").orderBy(
        F.col("jaccard").desc(), F.col("hist_doc_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "new_doc_id",
            F.col("hist_doc_id").alias("best_hist_doc_id"),
            "n_common",
            "jaccard",
        )
    )
