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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
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


@contextmanager
def released_blocks(spark: SparkSession):
    """Release every RDD block pinned INSIDE this context (eager
    localCheckpoint / persist) when it exits.

    Why: queries that materialize intermediates (shingle tables, CC
    rounds, snapshot builds) pin MEMORY_AND_DISK blocks that outlive
    the query — the result DataFrame they return reads from parquet or
    driver-side data, so the blocks are garbage, but the Python-ref ->
    JVM-GC -> ContextCleaner chain reclaims them lazily. Until then
    they squat in the unified memory pool, and the NEXT memory-hungry
    job pays a one-time eviction storm (measured: 20s on a query that
    runs in 1s clean). Scoped release (only ids created inside the
    context) cannot touch blocks some earlier live DataFrame still
    depends on.

    Only valid when nothing RETURNED from the context carries lineage
    into the released blocks — i.e. the context must end with terminal
    writes (parquet/snapshot) or bounded collects.

    Concurrency guard: inside an operators/par.py worker thread the
    release is SKIPPED — the before/after RDD-id diff cannot tell this
    branch's blocks from a sibling branch's, so releasing here would
    unpersist checkpoints the sibling is mid-query on (observed as
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). The caller's own main-thread
    context or the bench's between-query sweep still reclaims them.
    """
    import threading

    # Imported here (not module-top) to avoid a session<->operators
    # import cycle; sharing the constant means a renamed prefix in
    # par.py cannot silently re-enable the cross-branch unpersist bug
    # this guard exists to prevent (round-15 ADVICE #2).
    from .operators.par import PAR_THREAD_PREFIX

    if threading.current_thread().name.startswith(PAR_THREAD_PREFIX):
        yield
        return
    jsc = spark.sparkContext._jsc
    before = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}
    try:
        yield
    finally:
        m = jsc.getPersistentRDDs()
        for rid in list(m.keySet().toArray()):
            if int(rid) not in before:
                m.get(rid).unpersist(False)
