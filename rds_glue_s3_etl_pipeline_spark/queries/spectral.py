"""Spectral / corpus-statistics batch: distributed Gram and variance
spectrum over the embedding corpus (q195/q196, decimal-exact and
hash-matched), the PCA eigensolve gate (q197), and Bloom-filter
eval-set decontamination (q198).

Why these exist: a training-data pipeline over a 100 TB corpus needs
(a) second-moment statistics for whitening / feature scaling /
effective-rank diagnostics — one pass, d*(d+1)/2 numbers out — and
(b) a decontamination mechanism whose cost does NOT shuffle the
corpus. Both reduce to "small, provable driver-side state + map-only
passes", which is exactly what the oracle contract can pin down.

Reference scope: the reference job (gule_test_job.py) has no vector
or corpus analytics; this batch extends the SURVEY §2 "beyond the
reference" training-data families (dedup, similarity, curation) with
the spectral + membership-filter layer they were missing.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import bloom as B
from ..operators import spectral as S
from ..session import local_frame
from .registry import query

_DIM = 64  # fixture embedding dimensionality (all SFs)

# --------------------------------------------------------------------------
# q195: exact-decimal Gram matrix — the one-pass second-moment
# accumulation behind PCA/whitening, in its oracle-checkable form.
# --------------------------------------------------------------------------

_Q195_ORACLE = f"""
WITH ex AS (
  SELECT CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(14,4)) AS x,
         generate_subscripts(embedding, 1) - 1 AS d,
         vec_id
  FROM embeddings
)
SELECT CAST(a.d AS BIGINT) AS i, CAST(b.d AS BIGINT) AS j,
       CAST(CAST(CAST(SUM(a.x * b.x) AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS g
FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.d >= a.d
GROUP BY 1, 2
"""


@query("q195_embedding_gram", oracle=_Q195_ORACLE, tags=("vector", "spectral", "EXT"))
def q195_embedding_gram(spark, sf_dir):
    """Upper-triangular Gram matrix of the 4dp-quantized embedding
    corpus: 2,080 rows (i, j, g) for d = 64, decimal-exact so the
    DuckDB oracle hash-matches every entry. Scale shape: the two
    posexplodes fan out inside the same stage as the partial hash
    aggregate, so the exchange carries at most 2,080 rows per
    partition no matter the corpus size; the float64 BLAS moments the
    eigensolve uses (operators/spectral.moments) are gated against
    this form through q197's trace identity."""
    emb = load(spark, sf_dir, "embeddings")
    g = S.gram_exact(emb, "embedding")
    return g.select(
        "i", "j", F.col("g").cast("decimal(38,8)").cast("string").cast("double").alias("g")
    )


# --------------------------------------------------------------------------
# q196: per-dimension mean/variance spectrum — feature-scaling stats,
# the covariance diagonal, decimal-exact.
# --------------------------------------------------------------------------

_Q196_ORACLE = """
WITH ex AS (
  SELECT CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(14,4)) AS x,
         generate_subscripts(embedding, 1) - 1 AS d
  FROM embeddings
),
s AS (
  SELECT CAST(d AS BIGINT) AS d,
         CAST(CAST(CAST(SUM(x) AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS s1,
         CAST(CAST(CAST(SUM(x * x) AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS s2,
         COUNT(*) AS n
  FROM ex GROUP BY d
)
SELECT d, s1 / n AS mean_d, (s2 - s1 * s1 / n) / n AS var_d FROM s
"""


def _variance_frame(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode(S.quantized("embedding")).alias("d", "x"))
    s = ex.groupBy(F.col("d").cast("long").alias("d")).agg(
        F.sum("x").cast("decimal(38,8)").cast("string").cast("double").alias("s1"),
        F.sum(F.col("x") * F.col("x"))
        .cast("decimal(38,8)")
        .cast("string")
        .cast("double")
        .alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    # Fixed IEEE expression tree, identical on both engines: the
    # decimal-exact sums are the only order-dependent inputs, and the
    # string hop pins them bit for bit.
    return s.select(
        "d",
        (F.col("s1") / F.col("n")).alias("mean_d"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n")).alias(
            "var_d"
        ),
    )


@query("q196_embedding_variance_spectrum", oracle=_Q196_ORACLE, tags=("vector", "spectral", "EXT"))
def q196_embedding_variance_spectrum(spark, sf_dir):
    """Per-dimension mean and population variance of the quantized
    embedding corpus — the covariance diagonal, i.e. the input to
    feature scaling and the trace side of the q197 eigensolve gate.
    One explode + one 64-key groupBy; sums are decimal-exact, the
    mean/variance arithmetic a fixed IEEE double expression both
    engines evaluate identically."""
    return _variance_frame(spark, sf_dir)


# --------------------------------------------------------------------------
# q197: PCA eigensolve gate — trace/Frobenius/Eckart-Young identities
# over the driver-side eigh of the distributed float Gram.
# --------------------------------------------------------------------------

_Q197_R = 8  # reconstruction rank for the Eckart-Young gate

_Q197_ORACLE = f"""
WITH ex AS (
  SELECT CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(14,4)) AS x,
         generate_subscripts(embedding, 1) - 1 AS d
  FROM embeddings
),
s AS (
  SELECT d,
         CAST(CAST(CAST(SUM(x) AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS s1,
         CAST(CAST(CAST(SUM(x * x) AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS s2,
         COUNT(*) AS n
  FROM ex GROUP BY d
),
v AS (SELECT n, (s2 - s1 * s1 / n) / n AS var_d FROM s)
SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
       CAST({_DIM} AS BIGINT) AS dim,
       CAST(CAST(CAST(SUM(CAST(ROUND(var_d, 12) AS DECIMAL(26,12))) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE) AS trace_var,
       'ok' AS spectrum_ok, 'ok' AS recon_ok
FROM v
"""


@query("q197_pca_spectrum_gate", oracle=_Q197_ORACLE, tags=("vector", "spectral", "gate", "EXT"))
def q197_pca_spectrum_gate(spark, sf_dir):
    """PCA over the embedding corpus, accepted only through its
    conservation laws. The pipeline: one ``mapInPandas`` pass
    accumulates the float64 Gram + component sums (d*d + d numbers to
    the driver), ``numpy.linalg.eigh`` solves the 64 x 64 mean-centered
    covariance, and THREE identities gate the result —

      sum(eigenvalues)    == trace(C)   (and trace matches the
                                         decimal-exact SQL twin)
      sum(eigenvalues^2)  == ||C||_F^2
      corpus mean residual at rank r == sum of dropped eigenvalues
                                        (Eckart-Young, measured by a
                                         second map-only pass)

    ``trace_var`` itself is decimal-disciplined, so the oracle
    hash-matches it; a broken Gram, transposed eigenvectors, or wrong
    centering flips a gate to a diagnostic string and fails the hash.
    The eigenvalues/eigenvectors stay driver-side (no SQL engine can
    reproduce them) — their downstream use is whitening/projection,
    validated here once."""
    emb = load(spark, sf_dir, "embeddings").select(
        S.quantized_double("embedding").alias("embedding")
    )
    g, s, n = S.moments(emb, "embedding")
    w, v, mu = S.eigh_covariance(g, s, n)
    cov = g / n - np.outer(s / n, s / n)
    tr_ok, fr_ok = S.spectrum_gates(w, float(np.trace(cov)), float((cov * cov).sum()))

    trace_row = (
        _variance_frame(spark, sf_dir)
        .agg(
            F.sum(F.round(F.col("var_d"), 12).cast("decimal(26,12)"))
            .cast("decimal(38,12)")
            .cast("string")
            .cast("double")
            .alias("t")
        )
        .first()
    )
    trace_dec = float(trace_row["t"])
    dec_ok = abs(float(np.trace(cov)) - trace_dec) <= 1e-6 * max(trace_dec, 1e-12)

    mse = S.reconstruction_mse(emb, v[:, :_Q197_R], mu, "embedding")
    dropped = float(w[_Q197_R:].sum())
    recon_ok = abs(mse - dropped) <= 1e-6 * max(dropped, 1e-12)

    spectrum_msg = (
        "ok"
        if (tr_ok and fr_ok and dec_ok)
        else f"FAIL tr={tr_ok} fr={fr_ok} dec={dec_ok}"
    )
    recon_msg = "ok" if recon_ok else f"FAIL mse={mse:.3e} dropped={dropped:.3e}"
    return local_frame(
        spark,
        [(n, _DIM, trace_dec, spectrum_msg, recon_msg)],
        schema="n_vectors long, dim long, trace_var double, spectrum_ok string, recon_ok string",
    )


# --------------------------------------------------------------------------
# q198: Bloom-filter eval-set decontamination — membership filtering
# of the big side with zero shuffle, gated on the exact semi-join.
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# q200: embedding outliers — distance-to-centroid ranking, the
# embedding-space quality filter (mislabeled / degenerate vectors).
# --------------------------------------------------------------------------

_Q200_TOP = 20

_Q200_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, label,
         CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(14,4)) AS x,
         generate_subscripts(embedding, 1) - 1 AS d
  FROM embeddings
),
mu AS (
  SELECT label, d,
         CAST(CAST(CAST(SUM(x) AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS mu
  FROM ex GROUP BY label, d
),
d2 AS (
  SELECT ex.vec_id, ex.label,
         CAST(CAST(CAST(SUM(CAST(ROUND((CAST(ex.x AS DOUBLE) - mu.mu) * (CAST(ex.x AS DOUBLE) - mu.mu), 12) AS DECIMAL(26,12))) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE) AS dist_sq
  FROM ex JOIN mu ON mu.label = ex.label AND mu.d = ex.d
  GROUP BY ex.vec_id, ex.label
)
SELECT * FROM (
  SELECT vec_id, CAST(label AS INT) AS label, dist_sq,
         ROW_NUMBER() OVER (ORDER BY dist_sq DESC, vec_id) AS rnk
  FROM d2
) WHERE rnk <= {_Q200_TOP}
"""


@query("q200_embedding_outliers", oracle=_Q200_ORACLE, tags=("vector", "spectral", "EXT"))
def q200_embedding_outliers(spark, sf_dir):
    """Top-{k} embedding outliers by squared distance to the per-label
    centroid — the quality filter that catches mislabeled or
    degenerate vectors before they enter a training mix. Centroids are
    a 640-row aggregate (labels x dims) broadcast back onto the
    exploded corpus; per-vector distances are decimal-disciplined
    (quantized components, 12dp-rounded squared deviations summed as
    decimals) so the oracle hash-matches every distance, and the final
    top-k is a TakeOrdered with vec_id tiebreak. Scale: explode + one
    vec_id-keyed aggregate, both linear; the centroid join is a
    broadcast. (A zip_with fold against a literal centroid array would
    skip the explode; the explode form keeps the arithmetic identical
    to the SQL twin.)"""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode(S.quantized("embedding")).alias("d", "x")
    )
    mu = ex.groupBy("label", "d").agg(
        (
            F.sum("x").cast("decimal(38,8)").cast("string").cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )
    dev = F.col("x").cast("double") - F.col("mu")
    d2 = (
        ex.join(F.broadcast(mu), ["label", "d"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.round(dev * dev, 12).cast("decimal(26,12)"))
            .cast("decimal(38,12)")
            .cast("string")
            .cast("double")
            .alias("dist_sq")
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("dist_sq"), F.asc("vec_id"))
    return (
        d2.select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            "dist_sq",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .where(F.col("rnk") <= _Q200_TOP)
    )


_Q198_ORACLE = """
WITH ev AS (
  SELECT DISTINCT md5(text) AS key FROM documents
  WHERE md5(CAST(doc_id AS VARCHAR)) < '0a'
),
tr AS (
  SELECT doc_id, md5(text) AS key FROM documents
  WHERE md5(CAST(doc_id AS VARCHAR)) >= '0a'
)
SELECT CAST((SELECT COUNT(*) FROM tr) AS BIGINT) AS n_train,
       CAST((SELECT COUNT(*) FROM documents
             WHERE md5(CAST(doc_id AS VARCHAR)) < '0a') AS BIGINT) AS n_eval,
       CAST((SELECT COUNT(*) FROM tr WHERE key IN (SELECT key FROM ev)) AS BIGINT)
         AS n_contam,
       'ok' AS fn_gate, 'ok' AS fp_gate
"""


@query("q198_bloom_decontaminate", oracle=_Q198_ORACLE, tags=("text", "dedup", "gate", "EXT"))
def q198_bloom_decontaminate(spark, sf_dir):
    """Eval-set decontamination through a broadcast Bloom filter: the
    (bounded) eval split builds an m-bit filter over md5(text) keys
    (m = 32 bits/key, k = 4 — analytic FP ~2e-4), and the training
    corpus is probed MAP-ONLY against the broadcast bitset — the 100 TB
    side never shuffles, which is the whole point vs q175's exact
    span join. Gates pin the two provable properties: a Bloom filter
    admits NO false negatives (every exactly-contaminated doc must be
    flagged — checked against the exact semi-join on this corpus), and
    the FP overshoot stays under a generous multiple of the analytic
    bound. n_train/n_eval/n_contam are exact and hash-matched; the
    flagged count is filter-parameter-dependent and appears only
    through the gates."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("key"),
        (
            F.md5(F.col("doc_id").cast("string").cast("binary")) < F.lit("0a")
        ).alias("is_eval"),
    )
    eval_keys = docs.where("is_eval").select("key").distinct()
    n_eval = docs.where("is_eval").count()
    n_eval_keys = eval_keys.count()
    m = B.bloom_bits(n_eval_keys)
    bits = B.bloom_build(eval_keys, "key", m)

    train = docs.where(~F.col("is_eval")).select("doc_id", "key")
    probed = B.bloom_probe(train, "key", bits, m)
    stats = (
        probed.join(
            F.broadcast(eval_keys.withColumn("in_eval", F.lit(True))), "key", "left"
        )
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.coalesce(
                F.sum(F.when(F.col("in_eval"), 1).otherwise(0)), F.lit(0)
            ).alias("n_contam"),
            F.coalesce(
                F.sum(F.when(F.col("maybe_member"), 1).otherwise(0)), F.lit(0)
            ).alias("n_flagged"),
            F.coalesce(
                F.sum(
                    F.when(F.col("in_eval") & ~F.col("maybe_member"), 1).otherwise(0)
                ),
                F.lit(0),
            ).alias("n_missed"),
        )
        .first()
    )
    n_train = int(stats["n_train"])
    n_contam = int(stats["n_contam"])
    n_fp = int(stats["n_flagged"]) - n_contam
    fn_gate = "ok" if int(stats["n_missed"]) == 0 else f"FAIL missed={stats['n_missed']}"
    fp_bound = max(5, (n_train + 99) // 100)
    fp_gate = "ok" if n_fp <= fp_bound else f"FAIL fp={n_fp} bound={fp_bound}"
    return local_frame(
        spark,
        [(n_train, n_eval, n_contam, fn_gate, fp_gate)],
        schema="n_train long, n_eval long, n_contam long, fn_gate string, fp_gate string",
    )


# --------------------------------------------------------------------------
# q202: persisted Bloom snapshot lifecycle — the filter as epoch-
# partitioned data, refreshed incrementally, chain-read ≡ one-shot.
# --------------------------------------------------------------------------

_Q202_ORACLE = """
WITH ev AS (
  SELECT DISTINCT md5(text) AS key FROM documents
  WHERE md5(CAST(doc_id AS VARCHAR)) < '0a'
),
tr AS (
  SELECT doc_id, md5(text) AS key FROM documents
  WHERE md5(CAST(doc_id AS VARCHAR)) >= '0a'
)
SELECT CAST(2 AS BIGINT) AS n_epochs,
       CAST((SELECT COUNT(*) FROM ev) AS BIGINT) AS n_eval_keys,
       CAST((SELECT COUNT(*) FROM tr WHERE key IN (SELECT key FROM ev)) AS BIGINT)
         AS n_contam,
       'ok' AS chain_gate, 'ok' AS flags_gate
"""


@query("q202_bloom_snapshot_lifecycle", oracle=_Q202_ORACLE, tags=("text", "privacy", "gate", "EXT"))
def q202_bloom_snapshot_lifecycle(spark, sf_dir):
    """The Bloom filter as a PERSISTED, incrementally-refreshed
    snapshot: eval keys arrive in two batches, each written as one
    epoch partition of sparse nonzero 64-bit words (dynamic-partition
    overwrite — replaying a batch rewrites only its own epoch, the
    corpus-snapshot idempotence contract). The reader merges the
    chain with a per-word BIT_OR in the scan. Gates: the chain-read
    bitset must equal the one-shot filter over the union BYTE FOR BYTE
    (both paths are deterministic xxhash64 — any divergence is an
    implementation bug), and probing the corpus through the chain
    filter must flag the same rows as the one-shot filter. m is sized
    from planned capacity (the full eval count), the real-world
    contract for a filter that grows by deltas. n_eval_keys/n_contam
    are exact and hash-matched."""
    from ..scratch import scratch_dir

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("key"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("split"),
    )
    ev = docs.where(F.col("split") < "0a")
    batch_a = ev.where(F.col("split") < "05").select("key").distinct()
    batch_b = ev.where(F.col("split") >= "05").select("key").distinct()
    all_keys = ev.select("key").distinct()
    n_eval_keys = all_keys.count()
    m = B.bloom_bits(n_eval_keys)  # planned capacity, shared by both paths

    path = scratch_dir("q202_bloom_snapshot_")
    B.bloom_snapshot_write(spark, B.bloom_build(batch_a, "key", m), m, 0, path)
    B.bloom_snapshot_write(spark, B.bloom_build(batch_b, "key", m), m, 1, path)
    chain_bits = B.bloom_snapshot_read(spark, path, m)
    oneshot_bits = B.bloom_build(all_keys, "key", m)
    chain_gate = "ok" if chain_bits == oneshot_bits else "FAIL bitset divergence"

    train = docs.where(F.col("split") >= "0a").select("doc_id", "key")
    flags = (
        B.bloom_probe(train, "key", chain_bits, m, "chain_flag")
        .join(
            B.bloom_probe(train, "key", oneshot_bits, m, "oneshot_flag").select(
                "doc_id", "oneshot_flag"
            ),
            "doc_id",
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("chain_flag") != F.col("oneshot_flag"), 1).otherwise(0)
                ),
                F.lit(0),
            ).alias("n_diverged")
        )
        .first()
    )
    flags_gate = (
        "ok" if int(flags["n_diverged"]) == 0 else f"FAIL diverged={flags['n_diverged']}"
    )
    n_contam = train.join(F.broadcast(all_keys), "key", "left_semi").count()
    return local_frame(
        spark,
        [(2, n_eval_keys, n_contam, chain_gate, flags_gate)],
        schema="n_epochs long, n_eval_keys long, n_contam long, chain_gate string, flags_gate string",
    )


# --------------------------------------------------------------------------
# q206: streaming Bloom ingest — eval keys arrive as micro-batches,
# each foreachBatch writes one filter epoch; drained chain ≡ one-shot.
# --------------------------------------------------------------------------

_Q206_ORACLE = """
WITH ev AS (
  SELECT DISTINCT md5(text) AS key FROM documents
  WHERE md5(CAST(doc_id AS VARCHAR)) < '0a'
),
tr AS (
  SELECT doc_id, md5(text) AS key FROM documents
  WHERE md5(CAST(doc_id AS VARCHAR)) >= '0a'
)
SELECT CAST(3 AS BIGINT) AS n_batches,
       CAST((SELECT COUNT(*) FROM ev) AS BIGINT) AS n_eval_keys,
       CAST((SELECT COUNT(*) FROM tr WHERE key IN (SELECT key FROM ev)) AS BIGINT)
         AS n_contam,
       'ok' AS chain_gate, 'ok' AS flags_gate
"""


@query("q206_bloom_stream_ingest", oracle=_Q206_ORACLE, tags=("text", "privacy", "streaming", "gate", "EXT"))
def q206_bloom_stream_ingest(spark, sf_dir):
    """The q202 filter lifecycle driven through REAL Structured
    Streaming (the q161 pattern): eval keys arrive as three parquet
    files consumed one per micro-batch (maxFilesPerTrigger=1), and
    each foreachBatch invocation builds that batch's bitset and writes
    it as filter epoch = batch id — idempotent dynamic-partition
    overwrite, so a replayed batch rewrites only its own epoch
    (exactly-once, T9's contract). After the stream drains, the
    BIT_OR chain-read must equal the one-shot filter over all keys
    byte for byte, and corpus probes through both must agree row for
    row. m is sized once from planned capacity, since a Bloom filter
    cannot grow in place. n_eval_keys/n_contam are exact and
    hash-matched."""
    import os as _os

    from ..scratch import scratch_dir

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("key"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("split"),
    )
    ev = docs.where(F.col("split") < "0a")
    all_keys = ev.select("key").distinct()
    n_eval_keys = all_keys.count()
    m = B.bloom_bits(n_eval_keys)

    # Three deterministic ingest files via ONE partitioned write (one
    # job, not three — the q161 feed pattern); per-batch key sets are
    # unchanged (distinct over (batch, key)).
    feed_dir = scratch_dir("q206_feed_")
    (
        ev.withColumn(
            "batch",
            F.concat(F.lit("batch_"), (F.col("doc_id") % 3).cast("int")),
        )
        .select("batch", "key")
        .distinct()
        .repartition("batch")
        .write.mode("overwrite")
        .partitionBy("batch")
        .parquet(feed_dir)
    )

    snap_dir = scratch_dir("q206_bloom_snap_")

    def fold(batch_df, epoch_id):
        B.bloom_snapshot_write(
            spark,
            B.bloom_build(batch_df.select("key"), "key", m),
            m,
            int(epoch_id),
            snap_dir,
        )

    stream = (
        spark.readStream.schema("key string")
        .option("maxFilesPerTrigger", "1")
        .parquet(_os.path.join(feed_dir, "batch=batch_*"))
    )
    chk = scratch_dir("q206_chk_")
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(fold)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    chain_bits = B.bloom_snapshot_read(spark, snap_dir, m)
    oneshot_bits = B.bloom_build(all_keys, "key", m)
    chain_gate = "ok" if chain_bits == oneshot_bits else "FAIL bitset divergence"

    train = docs.where(F.col("split") >= "0a").select("doc_id", "key")
    diverged = (
        B.bloom_probe(train, "key", chain_bits, m, "chain_flag")
        .join(
            B.bloom_probe(train, "key", oneshot_bits, m, "oneshot_flag").select(
                "doc_id", "oneshot_flag"
            ),
            "doc_id",
        )
        .where(F.col("chain_flag") != F.col("oneshot_flag"))
        .count()
    )
    flags_gate = "ok" if diverged == 0 else f"FAIL diverged={diverged}"
    n_contam = train.join(F.broadcast(all_keys), "key", "left_semi").count()
    return local_frame(
        spark,
        [(3, n_eval_keys, n_contam, chain_gate, flags_gate)],
        schema="n_batches long, n_eval_keys long, n_contam long, chain_gate string, flags_gate string",
    )


# --------------------------------------------------------------------------
# q207: whitening gate — the PCA projector applied to the corpus must
# actually decorrelate it, verified by a second distributed moments
# pass over the whitened output.
# --------------------------------------------------------------------------

_Q207_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(64 AS BIGINT) AS rank,
       'ok' AS identity_gate, 'ok' AS decorrelation_gate
FROM embeddings
"""


@query("q207_whitening_gate", oracle=_Q207_ORACLE, tags=("vector", "spectral", "gate", "EXT"))
def q207_whitening_gate(spark, sf_dir):
    """PCA whitening as a distributed transform, verified by its
    definition: after y = diag(1/sqrt(w)) V^T (x - mu) (one Arrow-
    batched matmul pass), a SECOND moments pass over the whitened
    corpus must measure covariance == identity — unit diagonal, zero
    off-diagonal, to 1e-6. This closes the loop q197 opens: q197
    proves the eigensolve against conservation laws, q207 proves the
    projector built from it does its job on the actual data (a
    transposed V or an unsorted eigenvalue vector passes no gate
    here). ``rank`` is the numerical rank the projector kept — 64 on
    this corpus; a drop signals a degenerate dimension and fails the
    hash. Scale: two map passes + two d*d-row aggregates, nothing
    corpus-sized on the driver."""
    emb = load(spark, sf_dir, "embeddings").select(
        S.quantized_double("embedding").alias("embedding")
    )
    g, s, n = S.moments(emb, "embedding")
    w, v, mu = S.eigh_covariance(g, s, n)
    white = S.whiten(emb, v, w, mu, "embedding")
    gw, sw, nw = S.moments(white, "white")
    mw = sw / nw
    cov_w = gw / nw - np.outer(mw, mw)
    rank = cov_w.shape[0]
    diag_dev = float(np.abs(np.diag(cov_w) - 1.0).max())
    off = cov_w - np.diag(np.diag(cov_w))
    off_dev = float(np.abs(off).max())
    identity_gate = "ok" if diag_dev <= 1e-6 else f"FAIL diag_dev={diag_dev:.3e}"
    decorrelation_gate = (
        "ok" if off_dev <= 1e-6 else f"FAIL off_dev={off_dev:.3e}"
    )
    return local_frame(
        spark,
        [(n, rank, identity_gate, decorrelation_gate)],
        schema="n_vectors long, rank long, identity_gate string, decorrelation_gate string",
    )


# --------------------------------------------------------------------------
# q208: incremental Gram — second moments as an epoch-partitioned,
# exactly-mergeable snapshot. Decimal partials make the chain-read
# EQUAL the one-shot Gram, so q195's oracle hash-checks the whole
# incremental mechanism.
# --------------------------------------------------------------------------


@query("q208_gram_incremental", oracle=_Q195_ORACLE, tags=("vector", "spectral", "EXT"))
def q208_gram_incremental(spark, sf_dir):
    """Covariance statistics that UPDATE as the corpus grows: each
    ingest batch writes its own decimal-exact Gram partial as one
    epoch partition (idempotent dynamic overwrite — the corpus-
    snapshot contract), and the reader sums partials per (i, j) to
    recover the corpus Gram. Because the partials are exact decimals,
    merge order cannot matter: the chain-read equals the one-shot
    q195 Gram BIT FOR BIT, which is why this query can reuse q195's
    hash-matched oracle verbatim — the strongest possible check of an
    incremental-statistics mechanism. Feed the merged result to
    eigh_covariance (q197) and PCA/whitening stays current without
    ever rescanning history: per batch, the write is 2,080 rows no
    matter the batch or corpus size. The persisted partial is the
    DECIMAL(38,8) itself (gram_exact render=False) — a double hop
    would cap exactness at ~15-16 significant digits (~9e7 magnitude
    at 8dp) and silently break the exact-merge contract on large
    epochs; the double rendering happens exactly once, after the
    chain merge (round-8 ADVICE)."""
    from ..scratch import scratch_dir

    emb = load(spark, sf_dir, "embeddings")
    path = scratch_dir("q208_gram_epochs_")
    for epoch in (0, 1):
        part = S.gram_exact(
            emb.where(F.col("vec_id") % 2 == epoch), "embedding", render=False
        )
        (
            part.withColumn("epoch", F.lit(epoch))
            .repartition(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(path)
        )
    merged = (
        spark.read.parquet(path)
        .groupBy("i", "j")
        .agg(
            F.sum("g")
            .cast("decimal(38,8)")
            .cast("string")
            .cast("double")
            .alias("g")
        )
    )
    return merged.select("i", "j", "g")


# --------------------------------------------------------------------------
# q209: the O(d)-per-vector BLAS moments form, registered under a gate
# (round-8 verdict item #5: the scale path existed only in tools and
# tests). q195's decimal explode is the ORACLE ANCHOR but costs
# d*(d+1)/2 product rows per vector — fine at d=64, wrong at d=512+
# where one X^T X BLAS call per Arrow batch is ~the cost of reading
# the batch. This query runs BOTH forms and gates their agreement, so
# the fast form is itself oracle-checked (through the anchor) every
# sweep.
# --------------------------------------------------------------------------

_Q209_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST({_DIM} AS BIGINT) AS d,
       CAST({_DIM * (_DIM + 1) // 2} AS BIGINT) AS n_entries,
       'ok' AS agreement_gate
FROM embeddings
"""


@query("q209_moments_blas_gate", oracle=_Q209_ORACLE, tags=("vector", "spectral", "gate", "EXT"))
def q209_moments_blas_gate(spark, sf_dir):
    """Agreement gate between the two Gram forms: the O(d) Arrow/BLAS
    moments pass (operators/spectral.moments — one X^T X per batch,
    d*d+d+1 numbers cross the shuffle) and the decimal-exact explode
    (gram_exact, q195's hash-matched anchor). Both run over the SAME
    4dp-quantized values, so they differ only by float64 accumulation
    order; the gate requires every upper-triangular entry to agree
    within 1e-9 relative to the Gram's largest magnitude. A fixture
    where the gate trips means the BLAS partials are broken (dtype,
    transpose, batch boundary) — exactly the failure the decimal
    anchor exists to catch. Scale: the BLAS form is the d=512+ path
    (SCALE.md records the d-scaling law, measured with
    tools/moments_dsweep.py at commit 669f295); both sides
    here are bounded collects of d^2-ish rows."""
    emb = load(spark, sf_dir, "embeddings")
    g_blas, _s, n = S.moments(
        emb.select(S.quantized_double("embedding").alias("embedding")), "embedding"
    )
    exact_rows = S.gram_exact(emb, "embedding").collect()
    scale = max(abs(float(r["g"])) for r in exact_rows) or 1.0
    max_dev = max(
        abs(g_blas[int(r["i"]), int(r["j"])] - float(r["g"])) for r in exact_rows
    )
    gate = "ok" if max_dev <= 1e-9 * scale else f"FAIL dev={max_dev:.3e}"
    d = g_blas.shape[0]
    return local_frame(
        spark,
        [(n, d, d * (d + 1) // 2, gate)],
        schema="n_vectors long, d long, n_entries long, agreement_gate string",
    )


# --------------------------------------------------------------------------
# q222: inter-class separation — the cosine similarity matrix of the
# per-label centroids. The embedding-health dashboard number: labels
# whose centroids sit close are the confusable classes (and the
# candidates for merging or re-labeling before training a classifier
# head on them). Cosine is scale-invariant, so the centroid cosine
# equals the cosine of the per-label component SUMS — the division by
# the class count cancels and the whole statistic reduces to one
# decimal-exact aggregate.
# --------------------------------------------------------------------------

_Q222_ORACLE = """
WITH ex AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(14,4)) AS x
  FROM embeddings
),
s AS (
  SELECT label, pos,
         CAST(CAST(CAST(SUM(x) AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS sv
  FROM ex GROUP BY label, pos
),
v AS (SELECT label, list(sv ORDER BY pos) AS sumvec FROM s GROUP BY label)
SELECT CAST(a.label AS BIGINT) AS label_a, CAST(b.label AS BIGINT) AS label_b,
       ROUND(list_cosine_similarity(a.sumvec, b.sumvec), 4) AS centroid_cos
FROM v a JOIN v b ON a.label < b.label
"""


@query("q222_label_centroid_matrix", oracle=_Q222_ORACLE, tags=("vector", "spectral", "EXT"))
def q222_label_centroid_matrix(spark, sf_dir):
    """Pairwise cosine of per-label centroid directions, decimal-exact
    up to the final rounded cosine: components are 4dp-quantized (the
    q195 discipline), per-(label, pos) sums are decimal with the
    string->double render, and only the 64-term dot/norm fold runs in
    float — rounded to 4dp on both engines.

    Scale: the shuffle carries labels x d rows (640 here) REGARDLESS
    of corpus size — the same bounded-state invariant as the Gram
    family; the pair join is labels², driver-free, and broadcast-sized
    by construction.
    """
    from ..functions import vector as V

    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    ).withColumn("x", F.col("x").cast("decimal(14,4)"))
    s = ex.groupBy("label", "pos").agg(
        F.sum("x").cast("decimal(38,8)").cast("string").cast("double").alias("sv")
    )
    v = s.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sv"))),
            lambda t: t["sv"],
        ).alias("sumvec")
    )
    a, b = v.alias("a"), v.alias("b")
    return a.join(b, F.col("a.label") < F.col("b.label")).select(
        F.col("a.label").cast("long").alias("label_a"),
        F.col("b.label").cast("long").alias("label_b"),
        F.round(V.cosine(F.col("a.sumvec"), F.col("b.sumvec")), 4).alias(
            "centroid_cos"
        ),
    )
