"""``catalog.load`` keeps each table's inferred parquet schema: only the
first load of a table infers it (one Spark job), later loads read
through the kept schema and start none, and a rewritten table or a
changed inference conf is inferred again."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql.types import BinaryType, StringType

from rds_glue_s3_etl_pipeline_spark.catalog import load


@contextmanager
def _jobs_in_group(spark, group):
    """Run the body in a job group; yields the list it fills with the
    group's Spark job ids when the body exits."""
    sc = spark.sparkContext
    jobs: list[int] = []
    sc.setJobGroup(group, "catalog.load job accounting")
    try:
        yield jobs
    finally:
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _write(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        str(path)
    )


def test_second_load_starts_no_job(spark, tmp_path):
    _write(spark, tmp_path / "documents.parquet", [(1, "a b")], "doc_id long, text string")
    with _jobs_in_group(spark, "catalog_first_load") as first_jobs:
        first = load(spark, str(tmp_path), "documents")
    # control: inference is a job, so the counting can see one
    assert first_jobs != []
    with _jobs_in_group(spark, "catalog_second_load") as second_jobs:
        second = load(spark, str(tmp_path), "documents")
    assert second_jobs == []
    assert second.schema == first.schema
    assert second.collect() == first.collect()


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    path = tmp_path / "documents.parquet"
    _write(spark, path, [(1, "a b")], "doc_id long, text string")
    assert load(spark, str(tmp_path), "documents").columns == ["doc_id", "text"]
    _write(spark, path, [(1, "a b", "en")], "doc_id long, text string, lang string")
    df = load(spark, str(tmp_path), "documents")
    assert df.columns == ["doc_id", "text", "lang"]
    assert [tuple(r) for r in df.collect()] == [(1, "a b", "en")]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    """binaryAsString changes what inference returns for the same file,
    so flipping it between two loads must not serve the kept schema.
    The file is written by pyarrow: a Spark-written footer carries the
    Spark schema, which inference prefers over the conf."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()), "b": pa.array([b"x"], pa.binary())}),
        str(tmp_path / "part.parquet"),
    )
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert isinstance(load(spark, str(tmp_path), "part").schema["b"].dataType, BinaryType)
        spark.conf.set(key, "true")
        assert isinstance(load(spark, str(tmp_path), "part").schema["b"].dataType, StringType)
    finally:
        spark.conf.set(key, before)
