"""Precedence merge (J1) and unmatched audit (J2) — the reference's
core semantics, re-expressed as distributed joins.

Reference behavior (``/root/reference/gule_test_job.py``):

* ``:114`` — output schema is the union of both input schemas,
  primary-side (S3) columns first, fallback-only columns appended
  (``:162-163``).
* ``:124-156`` — one output row per primary row; per cell, the primary
  value wins when present and non-NaN (``pd.notna`` at ``:140``), else
  the fallback row's value, else NULL. Primary rows without a fallback
  match pass through (``:153-156``).
* ``:131-132`` — when the fallback has duplicate keys, only the FIRST
  matching row is used (``rds_match.iloc[0]``).
* ``:166`` — fallback rows with no primary match form the audit set,
  reported top-10 + remainder count (``:176-185``).

The reference executes this as an O(N×M) driver-side nested loop
(``:125-129``) after collecting the whole JDBC table with ``toPandas()``
(``:94``). Here it is a single equi left-outer join + per-column
``coalesce`` — Catalyst picks broadcast-hash or sort-merge, AQE handles
skew, and nothing ever lands on the driver. Keys whose sides disagree
in type are compared in one common type; exact integers on both sides
(integral types, or a JDBC ``DECIMAL(p, 0)`` with ``p <= 18``) compare
as ``bigint``, so the dedup sort, the join builds and the probes never
run on BigDecimal keys. The audit's top-N ids and its total come from
one Spark action.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_FLOATING = (T.DoubleType, T.FloatType)


def _is_missing(col: Column, dtype: T.DataType) -> Column:
    """NULL, or NaN for floating columns.

    pandas treats NaN as missing (``gule_test_job.py:140``); Spark
    distinguishes NULL from NaN on float/double, so both must map to
    "take the fallback value" for parity.
    """
    if isinstance(dtype, _FLOATING):
        return col.isNull() | F.isnan(col)
    return col.isNull()


def _exact_integer(t: T.DataType) -> bool:
    """Every value of ``t`` is an integer that fits a long."""
    if isinstance(t, T.DecimalType):
        return t.scale == 0 and t.precision <= 18
    return isinstance(t, T.IntegralType)


def _common_key_type(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """Comparison type for join keys whose sides disagree (SURVEY §7c:
    the reference's S3 JSON arrives int64 while a JDBC id can surface as
    decimal or string — a raw equi-join would silently match nothing).
    Returns None when no cast is needed.

    Numeric-vs-string compares NUMERICALLY (both sides cast to a wide
    decimal) so ``"007"`` matches ``7``; casting the numeric side to
    string instead would compare ``"7" != "007"``. Non-numeric strings
    cast to NULL and simply never match, which is the correct outcome
    for a malformed id.

    Two exact-integer sides (integral types, or ``DECIMAL(p, 0)`` with
    ``p <= 18``, e.g. a JDBC ``DECIMAL(12,0)`` id against an int64 feed
    id) compare as ``bigint``: every such value fits a long, so the cast
    is exact and injective — it never fails and matches exactly what a
    wide-decimal comparison would — while the dedup sort, the join
    builds and the probes hash and compare longs instead of BigDecimals.
    Decimals with a fraction or more than 18 digits keep the wide
    decimal.
    """
    if a == b:
        return None
    if _exact_integer(a) and _exact_integer(b):
        return T.LongType()
    is_num_a = isinstance(a, T.NumericType)
    is_num_b = isinstance(b, T.NumericType)
    if is_num_a and is_num_b:
        if any(isinstance(t, (T.DoubleType, T.FloatType)) for t in (a, b)):
            return T.DoubleType()
        return T.DecimalType(38, 18)
    if is_num_a or is_num_b:
        return T.DecimalType(38, 18)
    return T.StringType()


def first_match_only(df: DataFrame, key: str, order_col: str | None = None) -> DataFrame:
    """Keep one row per key — the first in ``order_col`` order.

    Mirrors ``rds_match.iloc[0]`` (``gule_test_job.py:131-132``): the
    reference keeps the fallback table's first physical row per id.
    Spark has no physical order, so the caller supplies an explicit
    order column; with none, an arbitrary-but-single row is kept via
    a window over the key alone (scale-safe: one shuffle on the key,
    which the subsequent join reuses).
    """
    w = Window.partitionBy(key).orderBy(
        F.col(order_col).asc() if order_col else F.lit(1)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def precedence_merge(
    primary: DataFrame,
    fallback: DataFrame,
    key: str = "id",
    fallback_order_col: str | None = None,
    dedupe_fallback: bool = True,
) -> DataFrame:
    """Left-outer merge where primary cells win unless missing (NULL/NaN).

    Output columns: primary's columns in order, then fallback-only
    columns in fallback order (``gule_test_job.py:162-163``). Exactly
    one output row per primary row (``:124-156``).
    """
    if key not in primary.columns or key not in fallback.columns:
        raise ValueError(f"merge key {key!r} must exist on both sides")

    p_types = {f.name: f.dataType for f in primary.schema.fields}
    cmp_t = _common_key_type(
        p_types[key], fallback.schema[key].dataType
    )

    fb = fallback
    dedup_key = key
    if cmp_t is not None:
        # Coerce BEFORE dedup so dedup and join share one key domain:
        # fallback keys distinct raw but equal coerced (e.g. "007" and
        # "7" vs a long primary id) must collapse to one row, or the
        # one-row-per-primary invariant (gule_test_job.py:124-156)
        # breaks. try_cast: a malformed id becomes NULL (never matches)
        # instead of failing the whole job under ANSI mode.
        fb = fb.withColumn("__k", F.col(key).try_cast(cmp_t))
        dedup_key = "__k"
    if dedupe_fallback:
        fb = first_match_only(fb, dedup_key, fallback_order_col)
    if fallback_order_col and fallback_order_col not in primary.columns:
        fb = fb.drop(fallback_order_col)

    f_types = {f.name: f.dataType for f in fb.schema.fields}
    shared = [c for c in primary.columns if c in f_types and c != key]
    fallback_only = [
        c for c in fb.columns if c not in primary.columns and c != "__k"
    ]

    p, f_ = primary.alias("p"), fb.alias("f")
    if cmp_t is not None:
        pk, fk = F.col(f"p.{key}").try_cast(cmp_t), F.col("f.__k")
    else:
        pk, fk = F.col(f"p.{key}"), F.col(f"f.{key}")
    joined = p.join(f_, pk == fk, "left")

    out: list[Column] = []
    for c in primary.columns:
        if c == key:
            out.append(F.col(f"p.{key}").alias(key))
        elif c in shared:
            out.append(
                F.when(_is_missing(F.col(f"p.{c}"), p_types[c]), F.col(f"f.{c}"))
                .otherwise(F.col(f"p.{c}"))
                .alias(c)
            )
        else:
            out.append(F.col(f"p.{c}").alias(c))
    out.extend(F.col(f"f.{c}").alias(c) for c in fallback_only)
    return joined.select(*out)


def unmatched_audit(fallback: DataFrame, primary: DataFrame, key: str = "id") -> DataFrame:
    """Fallback rows with no primary match (``gule_test_job.py:166``).

    The reference builds a driver-side python set of ids (``:121``) and
    boolean-masks against it; at scale that is a left anti join. Key
    types are coerced like precedence_merge so a type-mismatched id
    column doesn't report every fallback row as unmatched.
    """
    cmp_t = _common_key_type(
        fallback.schema[key].dataType, primary.schema[key].dataType
    )
    if cmp_t is None:
        return fallback.join(primary.select(key), key, "left_anti")
    keys = primary.select(F.col(key).try_cast(cmp_t).alias("__k"))
    return fallback.join(
        keys, fallback[key].try_cast(cmp_t) == keys["__k"], "left_anti"
    )


def audit_summary(audit_df: DataFrame, key: str = "id", show: int = 10) -> dict:
    """Top-N ids + remainder count, the reference's Slack audit message
    shape (``gule_test_job.py:170-185``). Driver-side by design — the
    payload is a human notification, so only each partition's first
    ``show`` keys ever leave the cluster.

    One action answers both questions. The total is an ``Observation``;
    the ids are each partition's head after a local sort (the low 33
    bits of ``monotonically_increasing_id`` are the row's index within
    its partition), merged here in Spark's ascending order: NULL first,
    NaN last. Nothing above the observation can re-run it, so each row
    is counted once. An ordered ``limit`` over it would not do: when AQE
    learns at run time that no more rows than the limit exist, it drops
    the limit, and the global sort's range-partition sampling job counts
    every row a second time. No rows back means an empty input, and the
    total is 0 without reading the observation, which Spark leaves
    unfilled when it proves the input empty.
    """
    obs = Observation()
    local_index = F.monotonically_increasing_id() % (1 << 33)
    heads = (
        audit_df.observe(obs, F.count(F.lit(1)).alias("n"))
        .select(F.col(key).alias("k"))
        .sortWithinPartitions("k")
        .withColumn("i", local_index)
        .filter(F.col("i") < max(show, 1))
        .collect()
    )
    ids = sorted(
        (r["k"] for r in heads), key=lambda v: (v is not None, v != v, v)
    )[:show]
    total = obs.get["n"] if heads else 0
    return {
        "total_unmatched": total,
        "displayed_ids": ids,
        "remaining_count": max(total - len(ids), 0),
    }
