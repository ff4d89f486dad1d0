"""Table catalog over the parquet star schema (TESTDATA.md).

The reference resolves its two inputs imperatively at runtime (S3 JSON
via boto3+pandas, RDS via a Glue DynamicFrame —
``/root/reference/gule_test_job.py:54-94``). The engine instead exposes
a declarative catalog: every table is a lazily-loaded parquet
DataFrame, so Catalyst sees the full plan (column pruning + predicate
pushdown reach the scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables — always broadcast-join these against facts.
DIM_TABLES = frozenset({"region", "nation", "supplier", "customer", "part"})

# Tables that downstream operators do per-row CPU work on (regex,
# hashing, vector folds) or aggregate at volume.
FACT_TABLES = frozenset({"lineitem", "orders", "events", "documents", "embeddings"})

# Session confs that change what parquet schema inference returns for
# the same file.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# Absolute table path -> (fingerprint + inference confs, inferred schema).
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def load(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool | None = None
) -> DataFrame:
    """Load one table. Parquet scan → pushdown/pruning come free.

    Schema inference costs one Spark job per read, so only the first
    load of a table infers; the inferred ``StructType`` is kept in a
    module-level map keyed by the table's absolute path, and later
    loads read through ``spark.read.schema(cached).parquet(path)``
    (no job). An entry holds for one ``table_fingerprint`` (path,
    mtime, size of every data file) and one set of the parquet confs
    that change what inference returns (``_INFERENCE_CONFS``); when
    either differs, the next load infers again and replaces the entry.

    ``events.ts`` has been written by the fixture generator as parquet
    TIMESTAMP(NANOS) in some rounds and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) in others. Normalize whatever we get to
    TimestampType: nanos arrive as bigint under ``nanosAsLong`` and are
    truncated to micros (the identical ns→us truncation DuckDB applies);
    micros-NTZ arrives as TIMESTAMP_NTZ and is cast to TimestampType —
    the session timezone is pinned UTC, so the cast preserves the
    instant and the DuckDB oracle hashes. tz-aware micros needs nothing.

    The local test files are single-row-group parquet, so a bare scan
    is ONE task and everything downstream of it runs on one core. On a
    real cluster the table is thousands of splits and this is a
    non-issue; locally we round-robin repartition fact tables up to
    the session's parallelism so per-row work (regex, hashing, vector
    folds) actually uses the machine. Dimension tables are left alone
    (they broadcast anyway).
    """
    # Sessions we didn't build (the driver's) need the same runtime
    # confs the factory sets: nanos parquet reads, the ICU case-mapping
    # stall workaround, and a pinned UTC session timezone so
    # timestamp/date casts and unix_timestamp match the tz-naive DuckDB
    # oracle on any host TZ (see session.get_spark).
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, sf_dir, name)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # TIMESTAMP(NANOS) fixtures
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":  # TIMESTAMP(MICROS, !adjustedToUTC)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if parallel is None:
        parallel = name in FACT_TABLES
    if parallel:
        target = spark.sparkContext.defaultParallelism
        # inputFiles() is metadata-only (no RDD plan conversion); the
        # local fixtures are single-file/single-row-group, so file
        # count is the partition count that matters here.
        if len(df.inputFiles()) < min(target, 8):
            df = df.repartition(target)
    return df


def table_fingerprint(sf_dir: str, name: str) -> tuple:
    """Cheap content fingerprint of one catalog table: (path, mtime,
    size) per data file. Per-process caches of derived artifacts
    (corpus snapshots, ANN indexes) key on this so a fixture REBUILT
    in-process (scale_probe build→run in one process) invalidates the
    cache instead of silently serving a stale artifact."""
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    if os.path.isfile(path):
        st = os.stat(path)
        return ((path, st.st_mtime_ns, st.st_size),)
    if not os.path.isdir(path):
        # A missing/typo'd table must fail loudly: os.walk on a
        # nonexistent path yields nothing, so a cache keyed on the
        # empty tuple would "hit" against nothing forever.
        raise FileNotFoundError(f"no such catalog table: {path}")
    out = []
    for root, dirs, files in os.walk(path):
        dirs.sort()  # stable visit order for nested partitioned layouts
        for f in sorted(files):
            p = os.path.join(root, f)
            st = os.stat(p)
            out.append((p, st.st_mtime_ns, st.st_size))
    return tuple(out)


def _read_parquet(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table, inferring its schema only on a miss in ``_SCHEMAS``."""
    path = f"{sf_dir}/{name}.parquet"
    key = (
        table_fingerprint(sf_dir, name),
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    slot = os.path.abspath(path)
    hit = _SCHEMAS.get(slot)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[slot] = (key, df.schema)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL surface."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
