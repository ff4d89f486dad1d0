"""Query registry — the single source of truth behind the driver
contract (``__spark_entry__.py``).

Every implemented operator from SURVEY.md §2 registers here as a
callable ``(spark, sf_dir) -> DataFrame`` plus, when SQL-expressible,
an equivalent ANSI-SQL string the DuckDB oracle runs on the same
parquet tables.

Oracle-parity rules (learned the hard way, encoded once):

* Alias every computed column identically on both sides — the driver
  sorts columns by name before hashing.
* Sums of doubles are order-dependent; both engines must sum EXACTLY.
  We cast to DECIMAL before SUM (the data carries <=2 decimals, derived
  products <=6, so DECIMAL(*,8) never hits a rounding tie), then cast
  the total back to DOUBLE — bit-identical in both engines.
* Prefer BIGINT epoch-millis (`unix_millis` / `epoch_ms`) or formatted
  strings over raw timestamps in outputs.
* Every ORDER BY ... LIMIT carries a unique tiebreaker column.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .gridsql import FIXTURE_ROWS, n_rows

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    # Adaptive-grid family only: (sf_dir) -> SQL, the query's one
    # oracle generator evaluated at the embeddings row count found at
    # ``sf_dir`` (queries/gridsql.py), so the query hash-matches at ANY
    # sweep scale (tools/oracle_check.py). ``oracle`` — the driver
    # contract, __spark_entry__.oracle_sql() — is the same generator
    # at the fixture's row count, so the two are equal there by
    # construction.
    oracle_fn: Callable[[str], str] | None = None


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | Callable[[int], str] | None = None,
    tags: tuple[str, ...] = (),
):
    """Decorator registering a query under ``name``. ``oracle`` is the
    DuckDB SQL or, for the adaptive-grid family, a generator
    ``(n) -> SQL`` over the embeddings row count: the driver string is
    ``oracle(FIXTURE_ROWS)`` and ``oracle_fn`` regenerates it for the
    corpus at any ``sf_dir``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        if callable(oracle):
            sql = oracle(FIXTURE_ROWS)

            def oracle_fn(sf_dir: str) -> str:
                return oracle(n_rows(sf_dir))

        else:
            sql, oracle_fn = oracle, None
        REGISTRY[name] = QuerySpec(
            name, fn, sql, tags, (fn.__doc__ or "").strip(), oracle_fn
        )
        return fn

    return deco


# Decimal-exact sum helpers (see module docstring).
DEC = "decimal(24,8)"


def dsum(col):
    """Order-independent exact SUM of a double column: decimal-sum,
    then decimal -> STRING -> double. The string hop matters: casting
    the exact decimal straight to double rounds differently in Spark
    vs DuckDB by 1 ulp once totals reach ~1e10 (observed at sf0.1 on
    q01/q27/q75), while string->double parsing is correctly-rounded
    IEEE in both engines, so the doubles match bit for bit at any
    magnitude. DuckDB twin: O_DSUM.
    """
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("string").cast("double")


def O_DSUM(expr: str) -> str:
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(24,8))) AS VARCHAR) AS DOUBLE)"
