"""Distributed Bloom filter: build a bitset over a (small-by-design)
key set, broadcast it, and membership-test an arbitrarily large table
WITHOUT shuffling it.

This is the scale mechanism behind eval-set decontamination (q198):
the eval benchmark is bounded (thousands to low millions of docs) but
the training corpus is the 100 TB side. An exact semi-join flags
contamination precisely, but shuffles corpus-side keys; the Bloom path
keeps the corpus map-only — each executor tests k bit positions
against a broadcast bitset — at the price of a bounded,
*quantifiable* false-positive rate and exactly zero false negatives.
The oracle contract (q198) is built on that asymmetry: the
no-false-negative set relation and the exact contamination count are
SQL-checkable; the FP overshoot is gated against the analytic bound.

Hashing is JVM-side on BOTH the build and probe sides: position i is
``xxhash64(key, i) mod m`` for i in 0..k-1 — Spark's xxhash64 uses its
fixed engine seed (42) and hashes the literal ``i`` as an additional
column, NOT as the hash seed. The pandas stage only sets/tests bits,
so there is no python-vs-JVM hash mismatch to drift; anyone
reimplementing a prober derives bit positions from that exact
(key, i) column-hash contract.

Sizing: ``m = 32 bits/key`` (next power of two), ``k = 4`` →
theoretical FP ≈ (1 - e^(-k·n/m))^k ≈ 2e-4. Memory: 4 bytes/key —
a 10M-doc eval set is a 40 MB broadcast, well inside executor budget;
per-partition build partials are the same m/8 bytes and tree-reduce
through a repartition(1) OR stage, so the driver receives ONE m/8-byte
row (for the small build side only, never the corpus).

When to use WHICH zero-shuffle path (measured at the 100x fixture,
480k corpus rows / 19.4k eval keys): a broadcast LEFT SEMI join is
exact AND faster (0.27s vs 0.71s probe) as long as the eval hash
relation broadcasts — md5-string keys cost ~100+ bytes/key in the
relation vs 4 bytes/key here, so the Bloom path earns its FP rate
only once the eval set outgrows broadcastability (~10M keys: 40 MB
bitset vs a ~1-2 GB relation that would force the corpus into a
shuffle). Below that, prefer the broadcast semi-join; the snapshot
machinery (epochs, BIT_OR chain, streaming ingest) applies to the
bitset either way.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

K_HASHES = 4
BITS_PER_KEY = 32
MIN_BITS = 1 << 13


def bloom_bits(n_keys: int) -> int:
    """Filter size in bits: next power of two >= 32 * n_keys (power of
    two so ``pmod`` is a mask-equivalent and resizing is predictable)."""
    m = MIN_BITS
    while m < BITS_PER_KEY * max(n_keys, 1):
        m <<= 1
    return m


def _positions(key: Column, m: int) -> Column:
    """k bit positions for a key: xxhash64 over the column pair
    (key, i) for i in 0..k-1 (fixed engine seed), mod m —
    deterministic, computed by the JVM on build AND probe."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m)).cast("long")
            for i in range(K_HASHES)
        ]
    )


def bloom_build(keys: DataFrame, key_col: str, m: int) -> bytes:
    """Build the m-bit filter over ``keys[key_col]``. Per-partition
    numpy bitsets (m/8 bytes each) are tree-reduced: a repartition(1)
    shuffle boundary (so the build stage stays parallel — coalesce(1)
    would pipeline it onto one core) ships the #partitions partials
    executor-to-executor and a second OR stage folds them, so the
    driver collects exactly ONE m/8-byte row regardless of how many
    partitions the key side has."""
    pos_df = keys.select(_positions(F.col(key_col), m).alias("ps"))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.zeros(m // 8, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            any_rows = True
            ps = np.concatenate([np.asarray(p, dtype=np.int64) for p in pdf["ps"]])
            np.bitwise_or.at(bits, ps >> 3, np.uint8(1) << (ps & 7).astype(np.uint8))
        if any_rows:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    def or_fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros(m // 8, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            for b in pdf["bits"]:
                any_rows = True
                acc |= np.frombuffer(b, dtype=np.uint8)
        if any_rows:
            yield pd.DataFrame({"bits": [acc.tobytes()]})

    rows = (
        pos_df.mapInPandas(build, schema="bits binary")
        .repartition(1)
        .mapInPandas(or_fold, schema="bits binary")
        .collect()
    )
    acc = np.zeros(m // 8, dtype=np.uint8)
    for r in rows:
        acc |= np.frombuffer(r["bits"], dtype=np.uint8)
    return acc.tobytes()


def bits_to_words(spark, bits: bytes, m: int, epoch: int) -> DataFrame:
    """Bitset -> sparse (epoch, word_id, word) rows of the NONZERO
    64-bit words — the persisted form. Sparse because a fresh epoch's
    delta touches only the words its batch set; parquet + dictionary
    encoding then stores a near-empty filter in a few KB. Built as a
    pandas frame (Arrow path) — for a 10M-key filter the nonzero words
    are ~m/64 ≈ 5M rows, which a Python tuple loop would spend seconds
    boxing."""
    words = np.frombuffer(bits, dtype="<u8")
    nz = np.flatnonzero(words)
    if len(nz) == 0:
        return local_frame(spark, [], schema="epoch int, word_id long, word long")
    pdf = pd.DataFrame(
        {
            "epoch": np.full(len(nz), epoch, dtype=np.int32),
            "word_id": nz.astype(np.int64),
            # reinterpret uint64 as two's-complement int64, lossless
            "word": words[nz].view(np.int64),
        }
    )
    return spark.createDataFrame(pdf, schema="epoch int, word_id long, word long")


def words_to_bits(rows, m: int) -> bytes:
    """OR an iterable of (word_id, word) rows (or a pandas frame with
    those columns) back into an m-bit set — the reader-side chain
    merge: epochs are unioned, words with the same word_id OR together
    (BIT_OR in the scan), so reading N epochs costs one scan of the
    sparse words, never a rebuild. The merge itself is vectorized
    (np.bitwise_or.at) — at 10M keys the word table is ~5M rows, where
    a per-row Python loop is the bottleneck the Bloom path exists to
    avoid."""
    acc = np.zeros(m // 64, dtype=np.int64)  # OR is sign-agnostic
    if isinstance(rows, pd.DataFrame):
        wid = rows["word_id"].to_numpy(dtype=np.int64)
        wrd = rows["word"].to_numpy(dtype=np.int64)
    else:
        rows = list(rows)
        wid = np.fromiter((r["word_id"] for r in rows), dtype=np.int64, count=len(rows))
        wrd = np.fromiter((r["word"] for r in rows), dtype=np.int64, count=len(rows))
    np.bitwise_or.at(acc, wid, wrd)
    return acc.tobytes()


def bloom_snapshot_write(spark, bits: bytes, m: int, epoch: int, path: str) -> None:
    """Append one epoch partition of sparse filter words. Partitioned
    by epoch with dynamic overwrite, so replaying a batch rewrites ONLY
    its own epoch — the same idempotence contract as the corpus
    snapshot store (operators/corpus_snapshot.py). An EMPTY delta
    writes a single sentinel zero word (word 0 ORs to nothing on read)
    instead of zero rows: dynamic overwrite only touches partitions
    present in the write, so a rowless frame would leave a replayed
    epoch's stale words in place — and a first-ever empty write would
    leave no parquet at the path at all."""
    wdf = bits_to_words(spark, bits, m, epoch)
    if wdf.isEmpty():
        wdf = spark.createDataFrame(
            [(int(epoch), 0, 0)], schema="epoch int, word_id long, word long"
        )
    (
        wdf.repartition(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(path)
    )


def bloom_snapshot_read(spark, path: str, m: int) -> bytes:
    """Merge every persisted epoch into the live bitset: BIT_OR per
    word_id in the scan (a 1-word-per-group aggregate over the sparse
    words), then a bounded Arrow collect of <= m/64 rows merged
    vectorized on the driver."""
    merged = (
        spark.read.parquet(path)
        .groupBy("word_id")
        .agg(F.expr("bit_or(word)").alias("word"))
        .toPandas()
    )
    return words_to_bits(merged, m)


def bloom_probe(
    df: DataFrame, key_col: str, bits: bytes, m: int, out_col: str = "maybe_member"
) -> DataFrame:
    """Append a boolean column: True iff all k positions are set.
    Map-only over the large side — positions from the JVM, the bit
    test a vectorized Arrow-batched pandas UDF over the broadcast
    bitset (closure-captured: m/8 bytes shipped once per executor)."""
    arr = np.frombuffer(bits, dtype=np.uint8)

    @F.pandas_udf("boolean")
    def test_bits(ps: pd.Series) -> pd.Series:
        out = np.empty(len(ps), dtype=bool)
        for i, p in enumerate(ps):
            p = np.asarray(p, dtype=np.int64)
            out[i] = bool(
                ((arr[p >> 3] >> (p & 7).astype(np.uint8)) & 1).all()
            )
        return pd.Series(out)

    return df.withColumn(
        out_col, test_bits(_positions(F.col(key_col), m))
    )
