"""End-to-end test of the re-expressed reference pipeline: JSON feed +
table → merge → audit notification → single CSV, asserting both the
output file and the notification stream."""

from __future__ import annotations

import csv

import pytest
from pyspark.sql import functions as F

from rds_glue_s3_etl_pipeline_spark.notify import CollectingNotifier
from rds_glue_s3_etl_pipeline_spark.pipeline import PipelineError, run_merge_pipeline
from rds_glue_s3_etl_pipeline_spark.sources.readers import read_json_records
from rds_glue_s3_etl_pipeline_spark.sources.sinks import write_single_csv


def test_pipeline_end_to_end(spark, tmp_path):
    feed = tmp_path / "feed.json"
    feed.write_text(
        '[{"id": 1, "name": "alice", "score": 1.5},'
        ' {"id": 2, "name": null, "score": null},'
        ' {"id": 3, "name": "carol", "score": 3.0}]'
    )
    primary = read_json_records(
        spark, str(feed), schema="id long, name string, score double"
    )
    fallback = spark.createDataFrame(
        [(2, "bob", 2.5, "x"), (9, "zed", 9.0, "y")],
        "id long, name string, score double, extra string",
    )
    notifier = CollectingNotifier()
    out = tmp_path / "out" / "merged.csv"
    result = run_merge_pipeline(primary, fallback, str(out), notifier=notifier)

    assert result.merged_rows == 3
    assert result.audit["total_unmatched"] == 1
    assert result.audit["displayed_ids"] == [9]

    with open(out) as f:
        rows = {r["id"]: r for r in csv.DictReader(f)}
    assert rows["2"]["name"] == "bob" and rows["2"]["score"] == "2.5"
    assert rows["3"]["extra"] == ""  # unmatched primary → NULL fallback col

    assert any("Unmatched" in m and "9" in m for m in notifier.messages)
    assert any(m.startswith("SUCCESS: wrote 3") for m in notifier.messages)


def test_pipeline_missing_key_aborts_with_notification(spark, tmp_path):
    bad = spark.createDataFrame([(1,)], "not_id long")
    good = spark.createDataFrame([(1, "a")], "id long, v string")
    notifier = CollectingNotifier()
    with pytest.raises(PipelineError):
        run_merge_pipeline(bad, good, str(tmp_path / "x.csv"), notifier=notifier)
    assert notifier.messages and notifier.messages[0].startswith("ERROR")


def test_write_single_csv_one_file(spark, tmp_path):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    path = write_single_csv(df, str(tmp_path / "single.csv"))
    with open(path) as f:
        lines = f.read().strip().splitlines()
    assert lines[0] == "id,v"
    assert len(lines) == 101


def test_jdbc_reader_configuration(spark):
    from rds_glue_s3_etl_pipeline_spark.sources.readers import jdbc_reader

    reader = jdbc_reader(
        spark,
        url="jdbc:mysql://example:3306/db",
        table="t",
        partition_column="id",
        lower_bound=0,
        upper_bound=1000,
        num_partitions=8,
    )
    # Reader is configured but not loaded (no live DB in tests).
    assert reader is not None


def test_ordered_json_datasource(spark, tmp_path):
    """Custom Python DataSource: one JSON object-array document read
    with record order captured in _seq (the reference's S1+O1
    contract)."""
    import json as _json

    from rds_glue_s3_etl_pipeline_spark.sources.ordered_json import (
        OrderedJsonDataSource,
    )

    recs = [
        {"id": 3, "name": "c"},
        {"id": 1, "name": "a"},
        {"id": 2, "name": None},
    ]
    p = tmp_path / "feed.json"
    p.write_text(_json.dumps(recs))
    spark.dataSource.register(OrderedJsonDataSource)
    df = (
        spark.read.format("ordered_json")
        .schema("id long, name string, _seq long")
        .option("path", str(p))
        .load()
    )
    rows = [tuple(r) for r in df.orderBy("_seq").collect()]
    assert rows == [(3, "c", 0), (1, "a", 1), (2, None, 2)]


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """S6 at scale: a partitionBy write must yield directory-level
    partition pruning on read — the filter shows up as a
    PartitionFilter (not a data filter), so non-matching partitions
    are never opened."""
    import io
    from contextlib import redirect_stdout

    from rds_glue_s3_etl_pipeline_spark.sources.sinks import write_parquet

    df = spark.createDataFrame(
        [(i, "A" if i % 2 == 0 else "B", float(i)) for i in range(100)],
        "id long, flag string, v double",
    )
    path = str(tmp_path / "part_tbl")
    write_parquet(df, path, partition_by=["flag"])

    back = spark.read.parquet(path).filter(F.col("flag") == "A")
    buf = io.StringIO()
    with redirect_stdout(buf):
        back.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert plan.count("(flag = A)") >= 1 or "flag#" in plan.split("PartitionFilters")[1][:200]
    assert back.count() == 50


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from rds_glue_s3_etl_pipeline_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "small_files")
    # Simulate a micro-batch-fragmented table: 40 tiny part files.
    spark.range(0, 20000).withColumn("k", F.col("id") % 97).repartition(
        40
    ).write.parquet(src)
    import glob as g

    assert len(g.glob(src + "/part-*.parquet")) == 40

    dst = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, dst, target_file_bytes=1 << 30)
    assert n == 1  # everything fits one target-sized file
    assert spark.read.parquet(dst).count() == 20000

    # Sorted compaction: files carry disjoint key ranges so parquet
    # min/max stats prune cleanly.
    dst2 = str(tmp_path / "compacted_sorted")
    total = sum(
        __import__("os").path.getsize(p) for p in g.glob(src + "/part-*.parquet")
    )
    n2 = compact_parquet(
        spark, src, dst2, target_file_bytes=total // 4, sort_by=["k", "id"]
    )
    assert 3 <= n2 <= 6
    ranges = []
    for p in sorted(g.glob(dst2 + "/part-*.parquet")):
        pdf = spark.read.parquet(p).agg(
            F.min("k").alias("lo"), F.max("k").alias("hi")
        ).first()
        ranges.append((pdf["lo"], pdf["hi"]))
    ranges.sort()
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (boundary key may touch)
    assert spark.read.parquet(dst2).count() == 20000


def test_pipeline_loader_failure_notifies(spark, tmp_path):
    """Extract is inside the error channel (gule_test_job.py:74-78):
    a loader that can't read its source notifies and aborts."""

    def bad_loader():
        return read_json_records(
            spark, str(tmp_path / "nope" / "missing.json")
        )

    good = spark.createDataFrame([(1, "a")], "id long, v string")
    notifier = CollectingNotifier()
    with pytest.raises(PipelineError):
        run_merge_pipeline(bad_loader, good, str(tmp_path / "x.csv"), notifier=notifier)
    assert notifier.messages and notifier.messages[0].startswith(
        "ERROR: failed to read primary input"
    )


def test_pipeline_loader_success_path(spark, tmp_path):
    feed = tmp_path / "feed2.json"
    feed.write_text('[{"id": 1, "name": "alice"}]')
    loader = lambda: read_json_records(spark, str(feed), schema="id long, name string")
    fallback = spark.createDataFrame([(1, "a", 10)], "id long, name string, bonus int")
    notifier = CollectingNotifier()
    out = run_merge_pipeline(loader, fallback, str(tmp_path / "o.csv"), notifier=notifier)
    assert out.merged_rows == 1


def test_orc_roundtrip(spark, tmp_path):
    """S6 parity for ORC: write partitioned, read back identical, and
    predicate pushdown reaches the ORC scan."""
    from rds_glue_s3_etl_pipeline_spark.catalog import load
    from rds_glue_s3_etl_pipeline_spark.sources.readers import read_orc
    from rds_glue_s3_etl_pipeline_spark.sources.sinks import write_orc

    nation = load(spark, "/root/testdata/sf0.001", "nation")
    path = str(tmp_path / "nation_orc")
    write_orc(nation, path, partition_by=["n_regionkey"])
    back = read_orc(spark, path)
    assert back.count() == nation.count()
    assert {r["n_name"] for r in back.collect()} == {
        r["n_name"] for r in nation.collect()
    }
    filtered = back.filter(F.col("n_nationkey") == 3)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "pushed" in plan.lower() or filtered.count() == 1


def test_xml_roundtrip_with_nested_struct(spark, tmp_path):
    """XML source/sink (Spark 4 native): flat and nested values survive
    a write→read roundtrip with a pinned schema."""
    from pyspark.sql import functions as F

    from rds_glue_s3_etl_pipeline_spark.sources.readers import read_xml
    from rds_glue_s3_etl_pipeline_spark.sources.sinks import write_xml

    df = spark.createDataFrame(
        [(1, "alice", ("NYC", 10001)), (2, "bob", ("SF", 94103))],
        "id long, name string, addr struct<city:string, zip:long>",
    )
    out = str(tmp_path / "people_xml")
    write_xml(df, out, row_tag="person", root_tag="people")
    back = read_xml(
        spark, out, row_tag="person",
        schema="id long, name string, addr struct<city:string, zip:long>",
    )
    got = {r["id"]: r for r in back.collect()}
    assert len(got) == 2
    assert got[1]["addr"]["city"] == "NYC" and got[2]["addr"]["zip"] == 94103
    assert got[2]["name"] == "bob"


@pytest.fixture
def merge_inputs(spark):
    primary = spark.createDataFrame(
        [(1, "alice"), (2, None), (3, "carol")], "id long, name string"
    )
    fallback = spark.createDataFrame(
        [(2, "bob"), (9, "zed")], "id long, name string"
    )
    return primary, fallback


def _assert_released(*dfs):
    assert not any(df.is_cached for df in dfs)


def test_pipeline_notifies_audit_then_success(spark, tmp_path, merge_inputs):
    """Audit and write run concurrently, but the notifications keep the
    reference order: the audit message, then SUCCESS."""
    primary, fallback = merge_inputs
    notifier = CollectingNotifier()
    out = str(tmp_path / "ok.csv")
    result = run_merge_pipeline(primary, fallback, out, notifier=notifier)
    assert notifier.messages == [
        "Unmatched RDS records: 1 (ids: 9)",
        f"SUCCESS: wrote 3 merged records to {out}",
    ]
    assert result.merged_rows == 3
    _assert_released(primary, fallback)


def test_pipeline_audit_failure_warns_then_succeeds(
    spark, tmp_path, merge_inputs, monkeypatch
):
    """A failing audit is non-fatal: WARNING first, then the write's
    SUCCESS."""
    from rds_glue_s3_etl_pipeline_spark import pipeline

    def boom(*args, **kwargs):
        raise RuntimeError("audit boom")

    monkeypatch.setattr(pipeline, "audit_summary", boom)
    primary, fallback = merge_inputs
    notifier = CollectingNotifier()
    out = str(tmp_path / "warn.csv")
    result = run_merge_pipeline(primary, fallback, out, notifier=notifier)
    assert notifier.messages == [
        "WARNING: audit failed: audit boom",
        f"SUCCESS: wrote 3 merged records to {out}",
    ]
    assert result.audit["total_unmatched"] == -1
    _assert_released(primary, fallback)


def test_pipeline_write_failure_reports_audit_then_error(
    spark, tmp_path, merge_inputs, monkeypatch
):
    """A failing write still lets the audit report first; then ERROR,
    and the write's exception reaches the caller."""
    from rds_glue_s3_etl_pipeline_spark import pipeline

    def boom(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(pipeline, "write_single_csv", boom)
    primary, fallback = merge_inputs
    notifier = CollectingNotifier()
    with pytest.raises(OSError, match="disk full"):
        run_merge_pipeline(
            primary, fallback, str(tmp_path / "err.csv"), notifier=notifier
        )
    assert notifier.messages == [
        "Unmatched RDS records: 1 (ids: 9)",
        "ERROR: failed to write output: disk full",
    ]
    _assert_released(primary, fallback)
