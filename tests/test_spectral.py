"""Unit tests for operators/spectral.py and operators/bloom.py —
numpy differential oracles for the Gram/eigh pipeline, and the two
Bloom properties (no false negatives; bounded false positives)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rds_glue_s3_etl_pipeline_spark.operators import bloom as B
from rds_glue_s3_etl_pipeline_spark.operators import spectral as S


@pytest.fixture(scope="module")
def small_vectors(spark):
    rng = np.random.RandomState(7)
    x = rng.randn(200, 6).astype(np.float32) * 0.3
    rows = [(i, [float(v) for v in x[i]]) for i in range(len(x))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, x


def _quantize(x: np.ndarray) -> np.ndarray:
    # mirror the 4dp decimal quantization (HALF_UP on non-tie doubles
    # == nearest)
    return np.round(x.astype(np.float64), 4)


def test_gram_exact_matches_numpy(spark, small_vectors):
    df, x = small_vectors
    q = _quantize(x)
    expected = q.T @ q
    got = {(r["i"], r["j"]): r["g"] for r in S.gram_exact(df, "embedding").collect()}
    assert len(got) == 6 * 7 // 2
    for i in range(6):
        for j in range(i, 6):
            assert got[(i, j)] == pytest.approx(expected[i, j], abs=1e-9)


def test_eigh_pipeline_identities(spark, small_vectors):
    df, x = small_vectors
    dfq = df.select(S.quantized_double("embedding").alias("embedding"))
    g, s, n = S.moments(dfq, "embedding")
    assert n == len(x)
    # the float64 BLAS moments equal numpy's on the quantized values
    q = _quantize(x)
    np.testing.assert_allclose(g, q.T @ q, rtol=1e-12, atol=1e-12)
    np.testing.assert_allclose(s, q.sum(axis=0), rtol=1e-12, atol=1e-12)
    w, v, mu = S.eigh_covariance(g, s, n)
    cov = g / n - np.outer(s / n, s / n)
    tr_ok, fr_ok = S.spectrum_gates(w, float(np.trace(cov)), float((cov * cov).sum()))
    assert tr_ok and fr_ok
    # full-rank reconstruction is exact; rank-2 residual equals the
    # dropped eigenvalue mass (Eckart-Young)
    mse_full = S.reconstruction_mse(dfq, v, mu, "embedding")
    assert mse_full == pytest.approx(0.0, abs=1e-12)
    mse_2 = S.reconstruction_mse(dfq, v[:, :2], mu, "embedding")
    assert mse_2 == pytest.approx(float(w[2:].sum()), rel=1e-9)


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    keys = spark.range(500).select(
        F.md5(F.col("id").cast("string").cast("binary")).alias("key")
    )
    m = B.bloom_bits(500)
    assert m >= 500 * B.BITS_PER_KEY and (m & (m - 1)) == 0
    bits = B.bloom_build(keys, "key", m)
    # members: every key must probe positive
    probed = B.bloom_probe(keys, "key", bits, m)
    assert probed.where(~F.col("maybe_member")).count() == 0
    # non-members: a disjoint key universe must stay under a generous
    # multiple of the analytic FP bound (~2e-4 at 32 bits/key, k=4)
    outside = spark.range(500, 10500).select(
        F.md5(F.col("id").cast("string").cast("binary")).alias("key")
    )
    fp = B.bloom_probe(outside, "key", bits, m).where("maybe_member").count()
    assert fp <= 25  # 10,000 probes * 2e-4 = 2 expected; 25 = >10x slack


def test_bloom_probe_is_map_only(spark):
    """The probe side must not shuffle: its plan contains no Exchange
    (the broadcast bitset travels as a closure, the positions are a
    projection)."""
    keys = spark.range(100).select(F.col("id").cast("string").alias("key"))
    m = B.bloom_bits(100)
    bits = B.bloom_build(keys, "key", m)
    big = spark.range(1000).select(F.col("id").cast("string").alias("key"))
    plan = (
        B.bloom_probe(big, "key", bits, m)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_bloom_words_roundtrip_high_bit(spark):
    """Sparse word encoding must survive the int64 two's-complement
    hop, including words with bit 63 set."""
    m = B.MIN_BITS
    bits = bytearray(m // 8)
    bits[7] = 0x80  # word 0, bit 63
    bits[8] = 0x01  # word 1, bit 0
    bits[-1] = 0xFF  # last word, top byte
    bits = bytes(bits)
    words = B.bits_to_words(spark, bits, m, epoch=3)
    rows = words.collect()
    assert {r["epoch"] for r in rows} == {3}
    assert B.words_to_bits(rows, m) == bits


def test_bloom_snapshot_chain_equals_oneshot(spark, tmp_path):
    a = spark.range(0, 300).select(F.col("id").cast("string").alias("key"))
    b = spark.range(300, 700).select(F.col("id").cast("string").alias("key"))
    both = spark.range(0, 700).select(F.col("id").cast("string").alias("key"))
    m = B.bloom_bits(700)
    path = str(tmp_path / "bloom_snap")
    B.bloom_snapshot_write(spark, B.bloom_build(a, "key", m), m, 0, path)
    B.bloom_snapshot_write(spark, B.bloom_build(b, "key", m), m, 1, path)
    assert B.bloom_snapshot_read(spark, path, m) == B.bloom_build(both, "key", m)
    # replaying epoch 1 (idempotent overwrite) must not change the chain
    B.bloom_snapshot_write(spark, B.bloom_build(b, "key", m), m, 1, path)
    assert B.bloom_snapshot_read(spark, path, m) == B.bloom_build(both, "key", m)


def test_bloom_snapshot_empty_delta_replay(spark, tmp_path):
    """Empty deltas keep the idempotent-replay contract (round-8
    ADVICE): a first-ever empty write leaves a readable store, and
    replaying an epoch with empty content CLEARS its stale words."""
    a = spark.range(0, 100).select(F.col("id").cast("string").alias("key"))
    m = B.bloom_bits(100)
    zero = b"\x00" * (m // 8)
    path = str(tmp_path / "bloom_empty")
    B.bloom_snapshot_write(spark, zero, m, 0, path)
    assert B.bloom_snapshot_read(spark, path, m) == zero
    B.bloom_snapshot_write(spark, B.bloom_build(a, "key", m), m, 0, path)
    assert B.bloom_snapshot_read(spark, path, m) == B.bloom_build(a, "key", m)
    # replay epoch 0 with an empty delta: stale words must vanish
    B.bloom_snapshot_write(spark, zero, m, 0, path)
    assert B.bloom_snapshot_read(spark, path, m) == zero


def test_whiten_decorrelates(spark, small_vectors):
    df, x = small_vectors
    dfq = df.select(S.quantized_double("embedding").alias("embedding"))
    g, s, n = S.moments(dfq, "embedding")
    w, v, mu = S.eigh_covariance(g, s, n)
    white = S.whiten(dfq, v, w, mu, "embedding")
    gw, sw, nw = S.moments(white, "white")
    cov_w = gw / nw - np.outer(sw / nw, sw / nw)
    assert np.abs(np.diag(cov_w) - 1.0).max() < 1e-8
    assert np.abs(cov_w - np.diag(np.diag(cov_w))).max() < 1e-8


def test_whiten_drops_degenerate_dimension(spark):
    """A constant component has zero variance: the whitening projector
    must drop it (rank d-1) and still decorrelate the kept subspace."""
    rng = np.random.RandomState(11)
    x = rng.randn(150, 4).astype(np.float64) * 0.2
    x[:, 2] = 0.75  # constant -> zero variance
    rows = [(i, [float(v) for v in x[i]]) for i in range(len(x))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    dfq = df.select(S.quantized_double("embedding").alias("embedding"))
    g, s, n = S.moments(dfq, "embedding")
    w, v, mu = S.eigh_covariance(g, s, n)
    white = S.whiten(dfq, v, w, mu, "embedding", eps=1e-9)
    first = white.first()["white"]
    assert len(first) == 3  # rank-deficient: 4 dims in, 3 out
    gw, sw, nw = S.moments(white, "white")
    cov_w = gw / nw - np.outer(sw / nw, sw / nw)
    assert np.abs(np.diag(cov_w) - 1.0).max() < 1e-8
    assert np.abs(cov_w - np.diag(np.diag(cov_w))).max() < 1e-8


def test_gram_exact_property(spark):
    """Hypothesis-style differential property over random corpora:
    for arbitrary shapes and magnitudes, gram_exact == numpy gram of
    the quantized values, exactly (decimal arithmetic is exact)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=5, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=40),
        d=st.integers(min_value=1, max_value=8),
        seed=st.integers(min_value=0, max_value=2**16),
        scale=st.sampled_from([0.01, 1.0, 100.0]),
    )
    def check(n, d, seed, scale):
        rng = np.random.RandomState(seed)
        x = (rng.randn(n, d) * scale).astype(np.float32)
        rows = [([float(v) for v in x[i]],) for i in range(n)]
        df = spark.createDataFrame(rows, "embedding array<float>")
        q = np.round(x.astype(np.float64), 4)
        got = {
            (r["i"], r["j"]): r["g"]
            for r in S.gram_exact(df, "embedding").collect()
        }
        expected = q.T @ q
        assert len(got) == d * (d + 1) // 2
        for i in range(d):
            for j in range(i, d):
                assert got[(i, j)] == pytest.approx(
                    expected[i, j], rel=1e-12, abs=1e-9
                )

    check()
