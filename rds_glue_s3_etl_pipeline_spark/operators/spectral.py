"""Embedding-space spectral statistics: distributed Gram/covariance
accumulation and a driver-side eigensolve over the (tiny) d x d result.

The 100 TB shape for PCA over an embedding corpus is one pass of
map-side partial X^T X accumulation — each Arrow batch contributes a
d x d float64 partial via a single BLAS call, partials combine by
addition (commutative + associative, so Spark's partial aggregation
applies), and only d*(d+1)/2 numbers per partition ever cross the
shuffle. For d = 64 that is 2,080 doubles per partition regardless of
corpus size; the eigensolve then runs on the driver over a 64 x 64
matrix in microseconds. No iteration over the corpus, no collect of
row data.

Two Gram forms:

* ``gram_exact`` — the oracle-facing form: components quantized to a
  4dp DECIMAL, pairwise products summed as exact decimals (order
  independent), so DuckDB reproduces every entry bit for bit. Explode
  cost is d*(d+1)/2 rows per vector, consumed by the same-stage
  partial hash aggregate over the 2,080 (i, j) keys — the shuffle
  stays 2,080 rows per partition at any corpus size.
* ``moments`` — the scale form the eigensolve uses: ``mapInPandas``
  emits one packed partial per Arrow batch (numpy ``X.T @ X`` plus
  column sums and the row count), a groupBy over the positions sums
  them. Float64 accumulation (not decimal): bit-exactness across
  engines is given up for BLAS throughput; the q197 gate pins its
  agreement with the exact form.

Eigensolve correctness is gated, not oracle-matched (no SQL engine
exposes eigh): ``numpy.linalg.eigh`` output is accepted only when
  sum(eigenvalues)   == trace(C)        (exact-decimal SQL twin)
  sum(eigenvalues^2) == ||C||_F^2
  mean residual ||x - reconstruct_r(x)||^2 == sum of dropped
  eigenvalues (the Eckart-Young identity), measured on the corpus
hold to relative 1e-8 / 1e-6. A broken Gram, a transposed eigvec
matrix, or a wrong centering all trip at least one identity.

Reference scope: the reference pipeline (gule_test_job.py) has no
vector analytics at all; this module is part of the
training-data-pipeline surface the task brief mandates beyond
reference parity.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: 4-decimal quantization of embedding components. float32 components
#: are ~O(0.1); DECIMAL(14,4) products are DECIMAL(28,8) — exact, and
#: sums stay inside DECIMAL(38,8) up to ~1e10 vectors.
_QDEC = "decimal(14,4)"


def quantized(col) -> "F.Column":
    """Embedding column -> array<decimal(14,4)>, the exact-arithmetic
    domain shared with the DuckDB oracle (cast of a double to a 4dp
    decimal is correctly rounded in both engines; the doubles are
    never decimal ties, so both pick the same 4dp value)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c.cast("array<double>"), lambda x: x.cast(_QDEC))


def quantized_double(col) -> "F.Column":
    """Embedding column -> array<double> holding the EXACT 4dp-decimal
    quantized values. The float path (``moments`` /
    ``reconstruction_mse``) runs over THIS column so that its results
    differ from the decimal-exact oracle arithmetic only by float64
    accumulation order (~1e-12 relative), which the q197 gates absorb
    — without it the raw-vs-quantized component gap (~5e-5 per value)
    would swamp every identity check."""
    return F.transform(quantized(col), lambda x: x.cast("double"))


def gram_exact(
    df: DataFrame, col: str = "embedding", render: bool = True
) -> DataFrame:
    """Upper-triangular Gram of the 4dp-quantized embeddings as
    (i, j, g) rows, i <= j, 0-based, decimal-exact and therefore
    order-independent: the one Gram form a SQL oracle can hash-match.

    Plan shape: two posexplodes fan each vector out to d*(d+1)/2
    product rows, but the partial hash aggregate in the SAME stage
    collapses them onto the 2,080 (i, j) keys before the exchange —
    per-partition shuffle volume is constant in corpus size.

    ``render=False`` keeps ``g`` as the exact DECIMAL(38,8) sum —
    REQUIRED for anything that persists partials for a later merge
    (q208's epoch snapshots): the double rendering holds only ~15-16
    significant digits, so a partial beyond ~9e7 magnitude at 8dp
    would silently lose exactness and the chain merge would diverge
    from the one-shot Gram. Render to double exactly once, AFTER the
    final merge.
    """
    q = df.select(quantized(col).alias("q"))
    left = q.select("q", F.posexplode("q").alias("i", "xi"))
    pairs = left.select(
        "i", "xi", F.posexplode("q").alias("j", "xj")
    ).where(F.col("j") >= F.col("i"))
    g = F.sum(F.col("xi") * F.col("xj"))
    if render:
        g = g.cast("string").cast("double")
    else:
        g = g.cast("decimal(38,8)")
    return pairs.groupBy(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
    ).agg(g.alias("g"))


def moments(
    df: DataFrame, col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray, int]:
    """ONE pass: (gram d x d, component sums d, n) over the corpus,
    float64. Each Arrow batch contributes a packed partial of
    d*d + d + 1 numbers (X^T X, column sums, row count); a groupBy
    over the positions combines partials. Driver receives that many
    rows — bounded by the embedding dimensionality, never the corpus.
    (Originally two jobs — a float Gram + a 64-column sum — which
    scanned and Arrow-shipped the corpus twice for no reason; measured
    2x on the 200k-vector fixture.)"""
    d_probe = df.select(F.size(F.col(col)).alias("d")).first()
    if d_probe is None or d_probe["d"] is None:
        # Empty (or all-null) corpus: fail loudly here rather than a
        # TypeError on the dereference / ZeroDivisionError in
        # eigh_covariance downstream (round-8 ADVICE).
        raise ValueError("moments(): empty corpus — no embedding rows")
    dim = int(d_probe["d"])
    src = df.select(F.col(col).cast("array<double>").alias("v"))

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
            flat = np.concatenate(
                [(x.T @ x).ravel(), x.sum(axis=0), [float(len(x))]]
            )
            yield pd.DataFrame(
                {
                    "pos": np.arange(dim * dim + dim + 1, dtype=np.int64),
                    "partial": flat,
                }
            )

    rows = (
        src.mapInPandas(partials, schema="pos long, partial double")
        .groupBy("pos")
        .agg(F.sum("partial").alias("g"))
        .collect()
    )
    flat = np.zeros(dim * dim + dim + 1, dtype=np.float64)
    for r in rows:
        flat[r["pos"]] = r["g"]
    g = flat[: dim * dim].reshape(dim, dim)
    s = flat[dim * dim : dim * dim + dim]
    n = int(round(flat[-1]))
    return g, s, n


def eigh_covariance(
    g: np.ndarray, s: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Mean-centered covariance from raw moments, then ``eigh``.
    Returns (eigenvalues desc, eigenvectors as columns, mean)."""
    if n <= 0:
        raise ValueError("eigh_covariance(): n must be positive (empty corpus?)")
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    return w[order], v[:, order], mu


def spectrum_gates(
    w: np.ndarray, cov_trace: float, cov_frob_sq: float
) -> tuple[bool, bool]:
    """The two eigensolve identities: sum(w) == trace and
    sum(w^2) == ||C||_F^2, to relative 1e-8."""
    tr_ok = abs(float(w.sum()) - cov_trace) <= 1e-8 * max(abs(cov_trace), 1e-12)
    fr_ok = abs(float((w * w).sum()) - cov_frob_sq) <= 1e-8 * max(
        abs(cov_frob_sq), 1e-12
    )
    return tr_ok, fr_ok


def reconstruction_mse(
    df: DataFrame, v_top: np.ndarray, mu: np.ndarray, col: str = "embedding"
) -> float:
    """Mean ||x - (mu + P P^T (x - mu))||^2 over the corpus with P the
    top-r eigenvector matrix — one Arrow-batched pass, the measured
    side of the Eckart-Young gate. The projector ships to executors as
    a closure broadcast (d*r floats)."""
    p = np.ascontiguousarray(v_top, dtype=np.float64)  # d x r
    mu = np.ascontiguousarray(mu, dtype=np.float64)

    def residuals(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False) - mu
            resid = x - (x @ p) @ p.T
            yield pd.DataFrame(
                {
                    "sq": [float((resid * resid).sum())],
                    "cnt": [np.int64(len(pdf))],
                }
            )

    agg = (
        df.select(F.col(col).cast("array<double>").alias("v"))
        .mapInPandas(residuals, schema="sq double, cnt long")
        .agg(F.sum("sq").alias("sq"), F.sum("cnt").alias("cnt"))
        .first()
    )
    return float(agg["sq"]) / int(agg["cnt"])


def whiten(
    df: DataFrame,
    v: np.ndarray,
    w: np.ndarray,
    mu: np.ndarray,
    col: str = "embedding",
    eps: float = 1e-9,
) -> DataFrame:
    """PCA-whitening transform: y = diag(1/sqrt(w+eps)) V^T (x - mu),
    one Arrow-batched matmul per batch against the closure-broadcast
    (d x d + d) projector. Output column ``white`` (array<double>).
    Components with eigenvalue <= eps are dropped (rank deficiency) —
    the output dimensionality is the numerical rank. eps gates ONLY
    the keep mask: kept components scale by exactly 1/sqrt(w), because
    sqrt(w + eps) would bias every whitened variance low by ~eps/w
    (measured 1.6e-8 at eps=1e-9 on w~0.09 — enough to fail an 1e-8
    identity check)."""
    keep = w > eps
    p = np.ascontiguousarray(
        v[:, keep] / np.sqrt(w[keep]), dtype=np.float64
    )  # d x r, columns pre-scaled
    mu = np.ascontiguousarray(mu, dtype=np.float64)

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False) - mu
            y = x @ p
            yield pd.DataFrame({"white": list(y)})

    return df.select(F.col(col).cast("array<double>").alias("v")).mapInPandas(
        project, schema="white array<double>"
    )
