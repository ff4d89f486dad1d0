"""operators.par.run_concurrently: results in argument order, and the
caller's Spark job tags reach the worker threads."""

from __future__ import annotations

import warnings

from rds_glue_s3_etl_pipeline_spark.operators.par import run_concurrently


def test_run_concurrently_passes_session_tags(spark):
    """With the active session passed to inheritable_thread_target, no
    "Spark session is not provided" UserWarning is raised and a tag set
    with spark.addTag is visible inside each thunk."""
    tag = "par-session-tag"
    spark.addTag(tag)
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error", UserWarning)
            seen = run_concurrently(
                lambda: (1, spark.getTags()), lambda: (2, spark.getTags())
            )
    finally:
        spark.removeTag(tag)
    assert [i for i, _ in seen] == [1, 2]
    assert all(tag in tags for _, tags in seen)
