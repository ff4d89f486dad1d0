"""Fourth text batch — tokenizer-training primitives.

q151 is one BPE merge step (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units"): count adjacent symbol
pairs across the corpus weighted by word frequency; the top pair is
the next merge. Training a full BPE vocab is this step iterated — the
expensive part is exactly this distributed count, and its cost profile
is what matters at 100 TB: one token hash-aggregate (vocab-sized), one
character-pair explode bounded by Σ word-length over the DISTINCT
vocab (not the corpus), one pair aggregate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load
from ..functions import text as X
from ..session import checkpoint, local_frame
from .registry import query

_BPE_TOP = 20

_Q151_ORACLE = f"""
WITH tok AS (
  SELECT UNNEST(regexp_split_to_array(TRIM(text), '\\s+')) AS tok FROM documents
),
words AS (SELECT tok, COUNT(*) AS f FROM tok WHERE tok <> '' GROUP BY tok),
pairs AS (
  SELECT SUBSTRING(tok, i, 1) AS a, SUBSTRING(tok, i + 1, 1) AS b, f
  FROM words, UNNEST(generate_series(1, LENGTH(tok) - 1)) AS t(i)
  WHERE LENGTH(tok) >= 2
)
SELECT a, b, CAST(SUM(f) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY a, b
ORDER BY n_occurrences DESC, a, b
LIMIT {_BPE_TOP}
"""


@query("q151_bpe_merge_step", oracle=_Q151_ORACLE, tags=("text", "agg", "EXT"))
def q151_bpe_merge_step(spark, sf_dir):
    """One distributed BPE merge step: the top-{_BPE_TOP} adjacent
    character pairs by corpus frequency — pair counts weighted by WORD
    frequency, so the explode runs over the distinct vocabulary (each
    word once, carrying its count), never over the raw token stream.
    That collapse is the scale move: a 100 TB corpus has a bounded
    vocab, so the pair stage is vocab x avg-word-length rows however
    big the corpus, and the first aggregate is the only corpus-sized
    pass (map-side combinable). Iterating this step with a merge table
    (re-tokenize, recount) is full BPE training; counts are exact
    integers, so the oracle matches without any float discipline.
    """
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(X.tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
        .filter(F.length("tok") >= 2)
    )
    pairs = words.select(
        F.explode(F.sequence(F.lit(1), F.length("tok") - 1)).alias("i"),
        "tok",
        "f",
    ).select(
        F.col("tok").substr(F.col("i"), F.lit(1)).alias("a"),
        F.col("tok").substr(F.col("i") + 1, F.lit(1)).alias("b"),
        "f",
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.sum("f").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("a"), F.asc("b"))
        .limit(_BPE_TOP)
    )


_BPE_MERGES = 8


@query("q152_bpe_train", oracle=None, tags=("text", "iterative", "rows-only", "EXT"))
def q152_bpe_train(spark, sf_dir):
    """Full BPE training, {_BPE_MERGES} merges (operators/bpe.py): the
    ordered merge table (step, left, right, n_occurrences) learned
    from the corpus vocabulary. Rows-only by contract — each merge
    feeds the next merge's re-segmentation, an iterative dependency
    SQL can't unroll over array-valued state. Verified instead by
    differential tests against a sequential reference implementation
    of the published algorithm
    (tests/test_operators.py::test_bpe_train_matches_reference_implementation,
    tests/test_bpe.py) and by q151 (the first merge, fully
    oracle-checked).

    Scale: the corpus is scanned once, on the cluster, for token
    counts; one action collects the DISTINCT (syms, f) vocabulary
    (bounded however large the corpus) and every merge is learned in
    the driver with incremental pair counts — no job per merge and
    nothing left pinned.
    """
    from ..operators.bpe import bpe_train, words_to_symbols

    words = (
        load(spark, sf_dir, "documents")
        .select(F.explode(X.tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    merges = bpe_train(words_to_symbols(words), n_merges=_BPE_MERGES)
    rows = [
        (i + 1, a, b, int(n)) for i, (a, b, n) in enumerate(merges)
    ]
    return local_frame(
        spark, rows, "step int, left string, right string, n_occurrences long"
    )


# --------------------------------------------------------------------------
# q154: split-balance QA report — the go/no-go check after a q138-style
# deterministic split: per split x language, document and token mass,
# plus each split's share of its language's tokens.
# --------------------------------------------------------------------------

from .scale5 import _SPLIT_TRAIN_HI, _SPLIT_VAL_HI  # noqa: E402

_Q154_ORACLE = f"""
WITH s AS (
  SELECT doc_id, lang,
         LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 AS n_tokens,
         CASE WHEN SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_SPLIT_TRAIN_HI}' THEN 'train'
              WHEN SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_SPLIT_VAL_HI}' THEN 'val'
              ELSE 'test'
         END AS split
  FROM documents
),
agg AS (
  SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM s GROUP BY split, lang
),
tot AS (SELECT lang, SUM(n_tokens) AS lang_tokens FROM agg GROUP BY lang)
SELECT a.split, a.lang, a.n_docs, a.n_tokens,
       ROUND(a.n_tokens / CAST(t.lang_tokens AS DOUBLE), 6) AS token_share
FROM agg a JOIN tot t USING (lang)
"""


@query("q154_split_balance", oracle=_Q154_ORACLE, tags=("text", "etl", "agg", "EXT"))
def q154_split_balance(spark, sf_dir):
    """Split-balance report over the q138 deterministic hash split:
    per (split, language) document count, token mass, and the split's
    share of that language's tokens — the QA gate that catches a
    skewed split BEFORE an eval set ships (a language whose val share
    is 0 invalidates every metric downstream).

    One scan, one hash aggregate at (split x lang) cardinality, one
    tiny share join — map-side combinable all the way; this report
    costs a single pass however large the corpus. The simple-space
    token count (q19's contract) keeps both engines' token mass
    identical without tokenizer state.
    """
    d = load(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    n_tokens = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    s = d.select(
        "lang",
        n_tokens.alias("n_tokens"),
        F.when(bucket < _SPLIT_TRAIN_HI, "train")
        .when(bucket < _SPLIT_VAL_HI, "val")
        .otherwise("test")
        .alias("split"),
    )
    agg = s.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    tot = agg.groupBy("lang").agg(F.sum("n_tokens").alias("lang_tokens"))
    return agg.join(tot, "lang").select(
        "split",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("lang_tokens").cast("double"), 6).alias(
            "token_share"
        ),
    )


@query("q156_bpe_compression", oracle=None, tags=("text", "iterative", "rows-only", "EXT"))
def q156_bpe_compression(spark, sf_dir):
    """The encode side of the trained tokenizer: apply q152's learned
    merge table back to the corpus vocabulary and report the
    compression it buys — symbols per word-occurrence before vs after
    ({_BPE_MERGES} merges). Rows-only (the merge table is the output
    of an iterative argmax); values are exact integers plus one
    terminal division, and the apply step itself is pinned by the
    differential BPE tests.

    Scale: training collects the distinct vocabulary once and learns
    the merges in the driver; the ENCODE here is {_BPE_MERGES} chained
    map-only array folds (``bpe_apply``) over the distinct vocabulary
    on the cluster — zero shuffles, the profile of tokenizing 100 TB
    with a broadcast merge table.
    """
    from ..operators.bpe import bpe_apply, bpe_train, words_to_symbols

    words = (
        load(spark, sf_dir, "documents")
        .select(F.explode(X.tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    syms = checkpoint(words_to_symbols(words))
    # bpe_train returns only the merge table; the encoded vocabulary is
    # the map-only bpe_apply over the same checkpointed symbols.
    merges = bpe_train(syms, n_merges=_BPE_MERGES)
    encoded = bpe_apply(syms, merges)

    def _mass(w):
        return w.agg(
            F.sum(F.col("f")).alias("n_word_occurrences"),
            F.sum(F.size("syms") * F.col("f")).alias("n_symbols"),
        )

    before = _mass(syms).select(
        F.col("n_word_occurrences"),
        F.col("n_symbols").alias("symbols_before"),
    )
    after = _mass(encoded).select(
        F.col("n_symbols").alias("symbols_after")
    )
    return before.crossJoin(after).select(
        "n_word_occurrences",
        "symbols_before",
        "symbols_after",
        F.round(
            F.col("symbols_after") / F.col("symbols_before").cast("double"), 6
        ).alias("compression"),
        F.lit(len(merges)).cast("int").alias("n_merges"),
    )
