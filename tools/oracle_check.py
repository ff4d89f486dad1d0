"""Local replica of the driver's correctness gate: run every REGISTRY
query on Spark and its oracle on DuckDB, compare row-count + columns +
order-insensitive values (exact).

Usage:
    python tools/oracle_check.py [--sf /root/testdata/sf0.001] [names...]
"""

from __future__ import annotations

import argparse
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

from rds_glue_s3_etl_pipeline_spark.catalog import TABLES  # noqa: E402
from rds_glue_s3_etl_pipeline_spark.queries import REGISTRY  # noqa: E402
from rds_glue_s3_etl_pipeline_spark.session import (  # noqa: E402
    get_spark,
    physical_memory_bytes,
    released_blocks,
)


_SIZE_RE = r"^\d+(\.\d+)?\s*(B|KB|MB|GB|TB|KiB|MiB|GiB|TiB)$"


def _default_memlimit() -> str:
    """min(24GB, ~80% of physical RAM): 24GB pins enough for the
    multi-CTE 10x twins on the build host, but unconditionally RAISING
    DuckDB's limit above physical memory on a smaller machine would
    make OOM more likely than the 80%-of-RAM default it replaces."""
    ram = physical_memory_bytes()
    if ram is None:
        return "24GB"
    return f"{min(24_000_000_000, int(ram * 0.8)) // 1_000_000}MB"


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    import os
    import re
    import tempfile

    con = duckdb.connect()
    # The in-memory default can't spill and sizes its memory_limit off
    # total RAM at connect time — but during a sweep the Spark JVM holds
    # most of the machine, so multi-CTE twins (q167/q169 at 10x: three
    # MATERIALIZED Lloyd chains in one statement) hit a hard OOM. A
    # bounded limit plus a temp_directory turns that into a disk spill.
    mem = os.environ.get("DUCK_ORACLE_MEMLIMIT", _default_memlimit())
    if not re.match(_SIZE_RE, mem):
        raise ValueError(
            f"DUCK_ORACLE_MEMLIMIT={mem!r} is not a size literal "
            "(expected e.g. '24GB', '1.5GiB')"
        )
    con.execute(f"SET memory_limit='{mem}'")
    # mkdtemp per connection: a fixed shared path can be squatted on a
    # multi-user machine and concurrent sweeps would share one spill.
    spill = tempfile.mkdtemp(prefix="duck_oracle_spill_")
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        # single file (driver testdata) or Spark-written part-file
        # directory (the 10x scale corpus)
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize cell values to canonical python
    objects, sort rows — mirrors an order-insensitive value compare."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("int64")
        else:
            pdf[c] = s.astype(object).where(s.notna(), None)
    if len(pdf) == 0 or len(pdf.columns) == 0:
        return pdf
    key = pdf.astype(str).apply(lambda r: "|".join(r), axis=1)
    pdf = pdf.loc[key.sort_values(kind="mergesort").index].reset_index(drop=True)
    return pdf


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count {len(spark_pdf)} vs {len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns {sc} vs {dc}")
        return problems
    a, b = canonicalize(spark_pdf), canonicalize(duck_pdf)
    if len(a) != len(b):
        return problems
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype.kind == "f":
            both_nan = np.isnan(av) & np.isnan(bv)
            eq = (av == bv) | both_nan
            if not eq.all():
                idx = np.where(~eq)[0][:3]
                diffs = [(av[i], bv[i]) for i in idx]
                maxdiff = np.nanmax(np.abs(av - bv))
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches, max|diff|={maxdiff:.3e}, e.g. {diffs}"
                )
        else:
            eq = (a[c].astype(str) == b[c].astype(str)).to_numpy()
            if not eq.all():
                idx = np.where(~eq)[0][:3]
                diffs = [(av[i], bv[i]) for i in idx]
                problems.append(f"col {c}: {int((~eq).sum())} mismatches, e.g. {diffs}")
    # dtype parity (the driver may compare schemas)
    ssch = {c: str(spark_pdf[c].dtype) for c in spark_pdf.columns}
    dsch = {c: str(duck_pdf[c].dtype) for c in duck_pdf.columns}
    for c in ssch:
        if ssch[c] != dsch.get(c):
            problems.append(f"dtype {c}: spark={ssch[c]} duck={dsch.get(c)}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--json", help="write per-query status to this path")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a bare SparkSession with NO engine configs — the "
        "driver's exact conditions; catches queries that silently "
        "depend on session.py settings",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    # One line per query, in order, greppable in a redirected log: no
    # console progress bar (it redraws with carriage returns and no
    # newline) and no block-buffered stdout.
    sys.stdout.reconfigure(line_buffering=True)
    quiet = {"spark.ui.showConsoleProgress": "false"}

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle_check_vanilla")
            .config(map=quiet)
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle_check", cpus=8, extra_conf=quiet)
    con = duck_connect(args.sf)
    names = args.names or list(REGISTRY)
    results: dict[str, dict] = {}
    n_fail = 0
    for name in names:
        spec = REGISTRY[name]
        try:
            # A long sweep is a long-lived session: release what each
            # query pinned before the next one runs.
            with released_blocks(spark):
                sdf = spec.fn(spark, args.sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {"status": "fail", "err": f"spark: {e}"[:300]}
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"ROWS {name}: {len(sdf)} rows (no oracle)")
            results[name] = {"status": "rows_only", "rows": len(sdf)}
            continue
        # Adaptive-grid family: regenerate the SQL for THIS corpus
        # size so the check is exact at any sweep scale. At the
        # driver's fixture this is the driver string itself.
        oracle = spec.oracle_fn(args.sf) if spec.oracle_fn else spec.oracle
        try:
            ddf = con.execute(oracle).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            results[name] = {"status": "fail", "err": f"duckdb: {e}"[:300]}
            n_fail += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({len(sdf)} rows):")
            for p in problems:
                print(f"   - {p}")
            results[name] = {"status": "fail", "rows": len(sdf), "problems": problems}
        else:
            print(f"OK   {name}: {len(sdf)} rows")
            results[name] = {"status": "ok", "rows": len(sdf)}
    print(f"\n{len(names) - n_fail}/{len(names)} passed")
    # Structural completeness: a "full sweep" artifact must cover every
    # registered query. Round 7 shipped an ORACLE_FULL artifact that was
    # generated BEFORE the last query of the round landed (160/161) —
    # the assertion makes that class of stale-artifact impossible: if
    # this run claims to be a full sweep (no explicit names), it fails
    # hard unless it covered len(REGISTRY) queries.
    is_full_sweep = not args.names
    if is_full_sweep and len(results) != len(REGISTRY):
        raise AssertionError(
            f"full sweep covered {len(results)} queries but REGISTRY has "
            f"{len(REGISTRY)} — regenerate after the last registry change"
        )
    if args.json:
        import json

        with open(args.json, "w") as f:
            json.dump(
                {
                    "sf_dir": args.sf,
                    "n_total": len(names),
                    "n_registry": len(REGISTRY),
                    "full_sweep": is_full_sweep,
                    "n_fail": n_fail,
                    "queries": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {args.json}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
