"""Fixture-contract tests: the driver has regenerated /root/testdata
twice with different parquet encodings for ``events.ts``
(TIMESTAMP(NANOS) → TIMESTAMP(MICROS, isAdjustedToUTC=false)), which in
round 4 silently broke 7 queries and the whole bench. These tests turn
the next encoding drift into a named failure: whatever the fixture
stores, ``catalog.load`` must hand every consumer a plain TimestampType
``ts`` on which ``unix_millis`` analyzes, and the streaming reader must
agree with the batch reader.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from rds_glue_s3_etl_pipeline_spark.catalog import load
from rds_glue_s3_etl_pipeline_spark.streaming.ops import read_event_stream

SF_DIRS = [
    d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    if os.path.isdir(d)
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_ts_is_timestamp(spark, sf_dir):
    df = load(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType), (
        f"{sf_dir}: events.ts loaded as {df.schema['ts'].dataType}; "
        "catalog.load must normalize every fixture encoding to TimestampType"
    )
    # unix_millis hard-fails on TIMESTAMP_NTZ — analyzing it proves the
    # normalization reached the type checker, not just the metadata.
    df.select(F.unix_millis("ts").alias("ms")).schema


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_ts_is_timestamp_on_second_load(spark, sf_dir):
    """The second load reads through the kept inferred schema (nanos as
    bigint, or TIMESTAMP_NTZ); the normalization must still apply."""
    first = load(spark, sf_dir, "events")
    second = load(spark, sf_dir, "events")
    assert isinstance(second.schema["ts"].dataType, TimestampType)
    assert second.schema == first.schema
    second.select(F.unix_millis("ts").alias("ms")).schema


def test_events_ts_values_sane(spark):
    """Catch unit mistakes (micros-read-as-nanos → 1970-era rows): every
    fixture timestamp must land in a plausible decade."""
    df = load(spark, SF_DIRS[0], "events")
    row = df.agg(
        F.min(F.year("ts")).alias("lo"), F.max(F.year("ts")).alias("hi")
    ).collect()[0]
    assert 2000 <= row["lo"] <= row["hi"] <= 2100, row


def test_stream_reader_matches_batch(spark, tmp_path):
    """The streaming reader must produce the identical (event_id, ts)
    pairs as catalog.load for the same fixture file."""
    import shutil

    d = tmp_path / "contract_in"
    d.mkdir()
    shutil.copy(f"{SF_DIRS[0]}/events.parquet", d / "events.parquet")
    stream = read_event_stream(spark, str(d))
    assert isinstance(stream.schema["ts"].dataType, TimestampType)
    q = (
        stream.select("event_id", "ts")
        .writeStream.format("memory")
        .queryName("contract_ts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_contract"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["event_id"], r["ts"])
        for r in spark.table("contract_ts").collect()
    }
    want = {
        (r["event_id"], r["ts"])
        for r in load(spark, SF_DIRS[0], "events").select("event_id", "ts").collect()
    }
    assert got == want


def test_fixture_near_dup_pairs_have_lsh_safe_jaccard(spark):
    """Contract: the staged dedup path (q108/q124) reproduces the exact
    all-pairs answer because every true near-dup pair in the fixture
    sits FAR above the 0.2 threshold — at j >= 0.5 the 32-band LSH miss
    probability is (1-j)^32 <= 2e-10 per pair, i.e. zero in practice
    (measured fixture minimum: 0.875 at sf0.01, 0.75 at sf0.1). If a
    regeneration starts emitting borderline pairs (j barely over 0.2),
    this fails BY NAME before the oracle sweep fails mysteriously —
    the fix then is more permutations (num_perm) in
    queries/text.py staged_near_dup_edges, not a hunt."""
    from pyspark.sql import functions as F

    from rds_glue_s3_etl_pipeline_spark.queries.registry import REGISTRY

    pairs = REGISTRY["q23_ngram_jaccard_pairs"].fn(spark, SF_DIRS[0])
    min_j = pairs.agg(F.min("jaccard")).collect()[0][0]
    if min_j is None:
        return  # no near-dup pairs at all: staged path trivially exact
    assert min_j >= 0.5, (
        f"fixture now contains a borderline near-dup pair (jaccard={min_j}); "
        "32-band LSH recall is no longer effectively 1 — raise num_perm in "
        "staged_near_dup_edges or q108/q124 will flake against the oracle"
    )
