"""Scale-pattern batch: the physical techniques a 100 TB deployment
leans on, each expressed as a verifiable query — bloom-filter join
pruning (shuffle avoidance), incremental/mergeable rollup state (never
re-scan history), star-contraction connected components (diameter-
independent clustering), window edge-value family, fixed-chunk
global dedup, and per-slice token entropy.

Reference parity note: the reference (`/root/reference/gule_test_job.py`)
is a single linear ETL job with none of these — they exist to make the
engine a complete, scale-ready query layer over the same data model
(SURVEY §2 EXT, north star). Every oracle-checked entry must match
DuckDB exactly; the bloom/star variants share the oracle of the plain
form they accelerate, so "optimized" is only accepted when it is
bit-identical to "simple".
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from .registry import O_DSUM, dsum, query

# --------------------------------------------------------------------------
# q111: bloom-filter pruned join. At 100 TB the filtered dim side can
# still be millions of keys — too big for a cheap broadcast of raw
# keys, while a bloom BIT SET is bounded by m regardless of key count.
# We build the bloom from pure DataFrame ops (k seeded xxhash64
# positions, distinct → at most m rows per seed), broadcast the tiny
# position sets, and pre-filter the fact with k map-side left-semi
# probes BEFORE it ever reaches the shuffle for the exact join. False
# positives survive the probe but die in the exact join, so the result
# is identical to the plain join — which is exactly what the oracle
# checks.
# --------------------------------------------------------------------------

_BLOOM_M = 1 << 16
_BLOOM_K = 3

_Q111_ORACLE = f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_orders,
       {O_DSUM("o.o_totalprice")} AS total_price
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderpriority
"""


@query("q111_bloom_pruned_join", oracle=_Q111_ORACLE, tags=("join", "J5", "scale"))
def q111_bloom_pruned_join(spark, sf_dir):
    """Revenue by priority for one customer segment, with the fact side
    bloom-pruned before the join. Build: k=3 seeded hash-position sets
    over the filtered dim keys (each ≤ m=65536 rows however large the
    dim grows). Probe: three broadcast left-semi joins on the fact —
    all map-side, no shuffle — then the exact broadcast join removes
    bloom false positives. Oracle is the PLAIN join: the pruned plan
    must be bit-identical."""
    dim = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    fact = load(spark, sf_dir, "orders")

    def pos(key_col, seed: int):
        return F.pmod(F.xxhash64(key_col, F.lit(seed)), F.lit(_BLOOM_M))

    for s in range(_BLOOM_K):
        bloom_s = dim.select(pos(F.col("c_custkey"), s).alias("pos")).distinct()
        fact = fact.join(
            F.broadcast(bloom_s),
            pos(F.col("o_custkey"), s) == F.col("pos"),
            "left_semi",
        )

    keys = dim.select("c_custkey")
    return (
        fact.join(F.broadcast(keys), fact.o_custkey == keys.c_custkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# q112: incremental rollup — aggregate state is kept per arrival slice
# (order month) and the report is a MERGE of slice states, never a
# re-scan of history. The partial state carries decimal sums (exact,
# order-independent) and counts; merging is SUM of partials. On a
# 100 TB pipeline this is the difference between touching one day of
# data and touching three years of it.
# --------------------------------------------------------------------------

_Q112_ORACLE = f"""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       {O_DSUM("o_totalprice")} AS total_price,
       CAST({O_DSUM("o_totalprice")} / COUNT(*) AS DOUBLE) AS avg_price
FROM orders
GROUP BY o_orderstatus
"""


@query("q112_incremental_rollup", oracle=_Q112_ORACLE, tags=("agg", "A3", "scale"))
def q112_incremental_rollup(spark, sf_dir):
    """Order totals by status computed as slice-state + merge: partial
    decimal sums and counts per (month, status) — the persisted
    incremental state, one row per slice — then a second aggregation
    merges slices. Decimal partials make the merge exact and
    order-independent, so the two-level result is bit-identical to the
    direct aggregation (the oracle IS the direct aggregation). avg is
    derived from merged sum/count, never averaged across slices."""
    o = load(spark, sf_dir, "orders")
    state = (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").alias("slice_month"),
            "o_orderstatus",
        ).agg(
            F.count(F.lit(1)).alias("p_count"),
            F.sum(F.col("o_totalprice").cast("decimal(24,8)")).alias("p_sum"),
        )
    )
    merged = state.groupBy("o_orderstatus").agg(
        F.sum("p_count").alias("n_orders"),
        F.sum("p_sum").cast("string").cast("double").alias("total_price"),
    )
    return merged.select(
        "o_orderstatus",
        "n_orders",
        "total_price",
        (F.col("total_price") / F.col("n_orders")).alias("avg_price"),
    )


# --------------------------------------------------------------------------
# q113: dup clusters via star contraction — the SAME clustering answer
# as q60/q108 (shared oracle). Star contraction needs O(log²) groupBy
# rounds and its edge list SHRINKS every round, so a pathological
# similarity chain (A≈B≈C≈… across a crawl) cannot blow up the
# iteration count at 100 TB, where min-label propagation would need
# O(diameter) join rounds. q60 runs the same operator on the same
# edges, so q113 delegates to it and stays registered under its own
# name.
# --------------------------------------------------------------------------

from .vector2 import _Q60_ORACLE  # noqa: E402  (shared oracle, see above)


@query("q113_dup_clusters_bigstar", oracle=_Q60_ORACLE, tags=("dedup", "graph", "EXT"))
def q113_dup_clusters_bigstar(spark, sf_dir):
    """Near-dup clusters by large-star/small-star contraction
    (operators/graph.py::connected_components_star) over the exact
    Jaccard edge set — q60's plan. Must reproduce q60's clustering bit
    for bit — the oracle is the same recursive-CTE reachability
    query."""
    from .vector2 import q60_dup_clusters

    return q60_dup_clusters(spark, sf_dir)


# --------------------------------------------------------------------------
# q114: window edge-value family — first_value / last_value /
# nth_value / IGNORE NULLS, the per-entity timeline probes (first
# order, latest order, second order, last big order so far) that
# complete the W2 analytic surface.
# --------------------------------------------------------------------------

_Q114_ORACLE = """
SELECT o_orderkey, o_custkey,
       strftime(first_value(o_orderdate) OVER w, '%Y-%m-%d') AS first_date,
       strftime(last_value(o_orderdate)
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
                '%Y-%m-%d') AS last_date,
       nth_value(o_totalprice, 2)
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS second_price,
       last_value(CASE WHEN o_totalprice > 150000 THEN o_totalprice END
                  IGNORE NULLS) OVER w AS last_big_price_so_far
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@query("q114_window_edges", oracle=_Q114_ORACLE, tags=("window", "W2"))
def q114_window_edges(spark, sf_dir):
    """Per-customer order-timeline edge values: first/last/second
    order, and the latest >150k order seen so far (IGNORE NULLS over a
    running frame). One hash-partitioned window — all four analytics
    share the single (custkey) shuffle and sort."""
    o = load(spark, sf_dir, "orders")
    run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    big = F.when(F.col("o_totalprice") > 150000, F.col("o_totalprice"))
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.date_format(F.first("o_orderdate").over(run), "yyyy-MM-dd").alias(
            "first_date"
        ),
        F.date_format(F.last("o_orderdate").over(full), "yyyy-MM-dd").alias(
            "last_date"
        ),
        F.nth_value("o_totalprice", 2).over(full).alias("second_price"),
        F.last(big, ignorenulls=True).over(run).alias("last_big_price_so_far"),
    )


# --------------------------------------------------------------------------
# q115: fixed-chunk global dedup — the paragraph/window-level variant
# of exact dedup: split every doc into 8-token chunks, keep each
# distinct chunk only at its first (doc_id, chunk_idx) occurrence,
# report per-doc survival. This is the "dedup at sub-document
# granularity" pass (boilerplate killer) of a training-data pipeline.
# --------------------------------------------------------------------------

_CHUNK = 8

_Q115_ORACLE = f"""
WITH c AS (
  SELECT doc_id,
         string_split(text, ' ') AS toks,
         unnest(generate_series(
             0, CAST(ceil(len(string_split(text, ' ')) / {_CHUNK}.0) AS INT) - 1
         )) AS idx
  FROM documents
), ch AS (
  SELECT doc_id, idx,
         array_to_string(
             list_slice(toks, idx * {_CHUNK} + 1, idx * {_CHUNK} + {_CHUNK}), ' '
         ) AS chunk
  FROM c
), r AS (
  SELECT doc_id, idx,
         ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
  FROM ch
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
           AS keep_ratio
FROM r GROUP BY doc_id
"""


@query("q115_chunk_dedup", oracle=_Q115_ORACLE, tags=("text", "dedup", "EXT"))
def q115_chunk_dedup(spark, sf_dir):
    """Sub-document exact dedup on fixed 8-token chunks: first
    occurrence (by doc_id, then chunk position) wins, every repeat is
    dropped; output is per-doc chunk survival. The keep-first rule is
    one row_number window partitioned BY CHUNK — a single shuffle keyed
    on chunk text, which at corpus scale is hashed (bounded key width)
    and skew-free (chunks repeat at most a few thousand times)."""
    d = load(spark, sf_dir, "documents")
    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text, ' ')) / {_CHUNK}.0) as int) - 1),"
                f" i -> array_join(slice(split(text, ' '), i * {_CHUNK} + 1, {_CHUNK}), ' '))"
            )
        ).alias("idx", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "idx")
    return (
        chunks.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("rn") == 1).cast("int")).cast("long").alias("n_kept"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            (F.col("n_kept").cast("double") / F.col("n_chunks")).alias(
                "keep_ratio"
            ),
        )
    )


# --------------------------------------------------------------------------
# q116: per-language unigram entropy — the diversity/quality signal
# next to q79's KL drift. Same determinism discipline: probabilities
# are exact integer ratios, each −p·ln p term is truncated to 8dp
# decimal before the sum so the reduce order cannot change the answer.
# --------------------------------------------------------------------------

from .text3 import _TOK_CTE, _tokens  # noqa: E402  (shared tokenizer)

_Q116_ORACLE = f"""
WITH {_TOK_CTE},
lt AS (
  SELECT lang, tok, COUNT(*) AS c FROM tok WHERE tok <> '' GROUP BY lang, tok
),
tot AS (SELECT lang, SUM(c) AS n FROM lt GROUP BY lang),
terms AS (
  SELECT lang,
         CAST(CAST(-(c / n) * ln(c / n) AS DECIMAL(18,8)) AS DOUBLE) AS term,
         c
  FROM lt JOIN tot USING (lang)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(SUM(CAST(term AS DECIMAL(18,8))) AS DOUBLE) AS token_entropy
FROM terms GROUP BY lang
"""


@query("q116_unigram_entropy", oracle=_Q116_ORACLE, tags=("text", "agg", "EXT"))
def q116_unigram_entropy(spark, sf_dir):
    """Shannon entropy (nats) of each language slice's unigram
    distribution, with vocab and token counts. Two hash aggregations —
    token counts then entropy terms — and the entropy terms are
    decimal-truncated so the distributed sum is order-independent."""
    d = load(spark, sf_dir, "documents")
    lt = (
        _tokens(d)
        .filter(F.col("tok") != "")
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = lt.groupBy("lang").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    term = (-(p * F.log(p))).cast("decimal(18,8)").cast("double")
    return (
        lt.join(F.broadcast(tot), "lang")
        .select("lang", "c", term.alias("term"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("term").cast("decimal(18,8)"))
            .cast("double")
            .alias("token_entropy"),
        )
    )
