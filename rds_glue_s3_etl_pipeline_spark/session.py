"""SparkSession factory.

The reference provisions a fixed 2-worker Glue cluster
(``/root/reference/common_settings.json:3-6``) and applies no Spark
tuning at all. Here every session is created scale-ready: AQE for
runtime re-planning (skew joins, partition coalescing), UTC session
timezone (oracle parity), Arrow for any pandas interchange, and a
shuffle-partition count sized to the machine rather than the 200
default.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def physical_memory_bytes() -> int | None:
    """Physical RAM of this host, or None where ``os.sysconf`` cannot
    say."""
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return None


def default_driver_memory() -> str:
    """``spark.driver.memory`` when SPARK_GRAFT_DRIVER_MEM is unset:
    half of physical RAM, between 1g and 48g. A local-mode heap sized
    past the host lets the JVM grow until the kernel kills it (10.4 GB
    RSS on a 15 GB host) instead of collecting."""
    ram = physical_memory_bytes()
    if ram is None:
        return "48g"
    return f"{max(1024, min(48 * 1024, ram // 2 // 2**20))}m"


def get_spark(
    app_name: str = "rds_glue_s3_etl_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession with scale-aware defaults.

    On a real cluster the same configs apply; only ``master`` changes.
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cpus, 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst: round 15 shipped "false" (the docs'
        # production recommendation — partition counts derive from the
        # advisory size) WITHOUT measuring both settings; the round-16
        # sweep (tools/aqe_sweep.py, min-of-3 interleaved passes at 32
        # cores, OPTIMIZATION_r16.md) measured it a net LOSS at bench
        # scale: q153 4.58s -> 2.80s and q102 1.93 -> 1.58 restoring
        # "true", every other probed query within noise. At MB-scale
        # exchanges size-only coalescing collapses post-shuffle stages
        # to 1-2 fat partitions and starves the other cores; at 100 TB
        # the two settings coincide (every stage's bytes >> advisory x
        # cores), so "true" is the correct local default. Deployments
        # that want size-only counts pass extra_conf (or spark.conf.set
        # at runtime, as tools/aqe_sweep.py does).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4's ICU-backed lower/upper triggers a pathologically
        # slow, lock-contended CollationAwareUTF8String class init in
        # this JVM (observed 100+s stalls with every executor thread
        # parked on the init monitor). The corpus is ASCII, where JVM
        # case mapping is identical — disable ICU case mappings.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # On this kernel, FileChannel.transferTo's mmap/unmap path makes
        # the bypass-merge shuffle writer's partition-file concat stall
        # for tens of seconds (observed via jstack: one task pinned in
        # FileChannelImpl.unmap0, 31 threads idle). Stream-copy instead.
        .config("spark.file.transferTo", "false")
        # Shuffle/spill files on the root FS intermittently stall for
        # 30-130s on this VM (identical q23 runs: 2.5s vs 137s; stable
        # 8/8 runs once local dirs moved to tmpfs). Shuffle volumes at
        # local test scale are tens of MB, so RAM-backed dirs are safe;
        # a real cluster overrides this to NVMe via SPARK_LOCAL_DIRS.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark_local"),
        )
        # Long sessions compile hundreds of whole-stage-codegen classes;
        # the JVM default 240MB code cache is the documented Spark limit
        # to raise for codegen-heavy workloads. (Note: this VM also
        # shows external 30-130s whole-process freezes unrelated to the
        # JVM — bench.py measures best-of-2 per query to filter those.)
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Several broadcast-sized artifacts (trained codebooks, lazily
        # checkpointed cluster maps) are materialized by the broadcast
        # build of their first consumer; that build may legitimately
        # contain one corpus-scale pass, which the 300s default timeout
        # would kill on a large cluster. The broadcast VALUES stay
        # k-row-bounded; only the build time needs the headroom.
        .config("spark.sql.broadcastTimeout", "3600")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A DataFrame over driver-built ``rows`` (tuples in ``schema``
    field order), planned as a ``LocalRelation``.

    ``createDataFrame(list, schema)`` goes through ``parallelize``: a
    PythonRDD, so every action on it starts Python workers (a warm
    ``toPandas`` of an 8-row table took 0.39-0.41 s that way and
    0.10-0.11 s this way on 2 local cores). An Arrow table built with
    the schema's exact Arrow types keeps large longs and NULLs exact
    and works for an empty ``rows``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    columns = {f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)}
    table = pa.Table.from_pydict(columns, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


# Ids of the RDDs pinned by ``checkpoint`` inside the innermost open
# ``released_blocks`` scope; None outside every scope.
_SCOPE: ContextVar[list[int] | None] = ContextVar("released_blocks", default=None)


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` — the engine's one way to pin an
    intermediate — recording the pinned RDD's id in the innermost
    ``released_blocks`` scope, if one is open. The id is read off the
    returned frame's ``LogicalRDD`` plan (the same RDD for eager and
    lazy checkpoints; ``tests/test_session.py`` pins this reflection)."""
    out = df.localCheckpoint(eager=eager)
    ids = _SCOPE.get()
    if ids is not None:
        ids.append(out._jdf.queryExecution().logical().rdd().id())
    return out


@contextmanager
def released_blocks(spark: SparkSession):
    """Unpersist, on every exit, exactly the blocks ``checkpoint``
    pinned in this scope (not in a scope nested inside it).

    Checkpoint blocks outlive the query that made them until the
    Python-ref -> JVM-GC -> ContextCleaner chain reclaims them; until
    then the NEXT memory-hungry job pays a one-time eviction storm
    (measured: 20s on a query that runs in 1s clean, SCALE.md round 9).
    Only valid when nothing RETURNED from the scope still reads the
    released blocks: the scope must end with terminal writes or
    bounded collects.

    The scope is a context variable, so it follows the code, not the
    thread: ``operators.par.run_concurrently`` runs each branch in a
    copy of the caller's context (a branch records into the caller's
    scope; a scope the branch opens is its own). A ``foreachBatch``
    callback runs on a py4j thread that sees no scope and must open
    its own.
    """
    ids: list[int] = []
    token = _SCOPE.set(ids)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        pinned = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in ids:
            rdd = pinned.get(rid)
            if rdd is not None:
                rdd.unpersist(False)
