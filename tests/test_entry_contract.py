"""Driver-contract smoke tests: entry() returns rows on sf0.001, every
registered query runs, and a sample of oracle pairs hash-match DuckDB
(the full sweep lives in tools/oracle_check.py)."""

from __future__ import annotations

import re

import duckdb
import pytest

import __spark_entry__ as entry_mod
from rds_glue_s3_etl_pipeline_spark.catalog import TABLES
from rds_glue_s3_etl_pipeline_spark.queries import REGISTRY

SAMPLE = [
    "q01_pricing_summary",
    "q03_precedence_merge",
    "q17_tumbling_window",
    "q24_cosine_topk",
    "q123_ohlc_bars",
    "q126_incremental_dedup",
]


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_disc_price" in df.columns


def test_contract_shapes():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30
    # rows-only ops are the documented exceptions
    rows_only = {n for n in qs if n not in os_}
    assert all("rows-only" in REGISTRY[n].tags for n in rows_only)


# Queries whose tree depth follows the corpus size, so their oracle SQL
# is generated from the embeddings row count (queries/gridsql.py).
ADAPTIVE_GRID = {
    "q163_semantic_dedup_adaptive",
    "q164_incremental_vector_dedup_adaptive",
    "q165_vector_dedup_tree_probe",
    "q166_vector_dedup_recall_gate",
    "q167_semantic_dedup_grid_gate",
    "q169_adaptive_grid_report",
    "q212_knn_graph_blocked",
    "q213_knn_recall_gate",
    "q214_knn_multiprobe_gate",
    "q215_label_propagation_audit",
    "q223_dbscan_grid",
    "q224_leakage_safe_split_grid",
    "q225_knn_graph_incremental",
    "q228_dbscan_grid_incremental",
    "q229_dbscan_agreement_gate",
    "q233_dbscan_truth_gate",
    "q234_split_leakage_truth",
}


def test_grid_oracle_is_its_generator_at_the_fixture():
    """One SQL source per adaptive-grid query: the driver string
    (``oracle``) must be exactly the scale-aware generator
    (``oracle_fn``) at both fixtures, and both fixtures must hold the
    row count the driver string was generated at. No Spark needed."""
    from rds_glue_s3_etl_pipeline_spark.queries.gridsql import FIXTURE_ROWS, n_rows

    fixtures = ("/root/testdata/sf0.01", "/root/testdata/sf0.001")
    for sf in fixtures:
        assert n_rows(sf) == FIXTURE_ROWS, sf
    generated = {n for n, spec in REGISTRY.items() if spec.oracle_fn is not None}
    assert ADAPTIVE_GRID <= generated
    for name in generated:
        spec = REGISTRY[name]
        for sf in fixtures:
            assert spec.oracle == spec.oracle_fn(sf), (name, sf)


@pytest.mark.parametrize("name", SAMPLE)
def test_oracle_parity_sample(spark, sf_dir, name):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir).toPandas()
    ddf = con.execute(spec.oracle).df()
    assert len(sdf) == len(ddf)
    cols = sorted(sdf.columns)
    assert cols == sorted(ddf.columns)
    a = sdf[cols].astype(str).sort_values(cols).reset_index(drop=True)
    b = ddf[cols].astype(str).sort_values(cols).reset_index(drop=True)
    assert a.equals(b)


def test_timestamp_queries_under_vanilla_session():
    """Driver simulation: the harness builds its OWN SparkSession with
    no engine configs. Timestamp-dependent queries must self-provision
    every conf they need (catalog.load sets nanosAsLong/UTC/ICU at
    runtime) — this catches configs that only session.get_spark sets.
    Runs in a subprocess so the suite's shared session is untouched."""
    import subprocess
    import sys

    script = (
        "import sys; sys.path.insert(0, '.')\n"
        "from pyspark.sql import SparkSession\n"
        "from rds_glue_s3_etl_pipeline_spark.queries import REGISTRY\n"
        "spark = (SparkSession.builder.master('local[4]')\n"
        "         .appName('vanilla-driver-sim').getOrCreate())\n"
        "for name in ('q15_asof_join', 'q11_lag_lead', 'q123_ohlc_bars'):\n"
        "    df = REGISTRY[name].fn(spark, '/root/testdata/sf0.001')\n"
        "    assert len(df.take(5)) > 0, name\n"
        "print('VANILLA_OK')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        cwd="/root/repo", timeout=240,
    )
    assert "VANILLA_OK" in out.stdout, out.stderr[-2000:]


def test_sql_surface_matches_dataframe_api(spark):
    """register_views + spark.sql must agree with the DataFrame-API
    query on the same tables (the engine's SQL entry point)."""
    from rds_glue_s3_etl_pipeline_spark.catalog import register_views

    register_views(spark, "/root/testdata/sf0.001")
    got = spark.sql(
        "SELECT l_returnflag, l_linestatus, CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP'1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus"
    ).collect()
    df = REGISTRY["q01_pricing_summary"].fn(spark, "/root/testdata/sf0.001")
    want = {(r["l_returnflag"], r["l_linestatus"]): r["sum_qty"] for r in df.collect()}
    assert len(got) == len(want)
    for r in got:
        assert abs(r["sum_qty"] - want[(r["l_returnflag"], r["l_linestatus"])]) < 1e-6


def test_duck_connect_spill_config(tmp_path, monkeypatch):
    """duck_connect must bound DuckDB's memory and give it a spill
    directory: during a sweep the Spark JVM holds most of the machine,
    and the in-memory default OOMs on multi-CTE twins (q169 at 10x
    needed 8 GB of spill — round 14). The limit is env-tunable for the
    q167-class twins that need more pinned memory."""
    from pathlib import Path

    monkeypatch.syspath_prepend(str(Path(__file__).parents[1] / "tools"))
    from oracle_check import duck_connect

    monkeypatch.setenv("DUCK_ORACLE_MEMLIMIT", "2GB")
    con = duck_connect("/root/testdata/sf0.001")
    mem = con.execute(
        "SELECT value FROM duckdb_settings() WHERE name='memory_limit'"
    ).fetchone()[0]
    tmp = con.execute(
        "SELECT value FROM duckdb_settings() WHERE name='temp_directory'"
    ).fetchone()[0]
    # parse the rendered size numerically — display formatting varies
    # by DuckDB version ('2.0 GiB' vs '1.8 GiB' vs '2GB')
    num, unit = re.match(r"^([\d.]+)\s*([A-Za-z]+)$", mem).groups()
    mult = {"B": 1, "KB": 1e3, "MB": 1e6, "GB": 1e9, "TB": 1e12,
            "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}[unit]
    nbytes = float(num) * mult
    assert 1.6e9 <= nbytes <= 2.1e9, mem
    assert tmp and "duck_oracle_spill" in tmp
    # and the views still resolve
    assert con.execute("SELECT COUNT(*) FROM region").fetchone()[0] == 5


def test_duck_connect_rejects_malformed_memlimit(monkeypatch):
    """A quote or garbage in DUCK_ORACLE_MEMLIMIT must fail with a
    clear ValueError at connect time, not a confusing SQL error from
    the interpolated SET statement."""
    from pathlib import Path

    monkeypatch.syspath_prepend(str(Path(__file__).parents[1] / "tools"))
    from oracle_check import duck_connect

    monkeypatch.setenv("DUCK_ORACLE_MEMLIMIT", "24'GB; DROP TABLE x")
    with pytest.raises(ValueError, match="DUCK_ORACLE_MEMLIMIT"):
        duck_connect("/root/testdata/sf0.001")


def test_duck_connect_default_caps_at_ram(monkeypatch):
    """The default memory_limit must never exceed ~80% of physical
    RAM (ADVICE r14): on a small host the old unconditional 24GB
    default RAISED DuckDB's limit above physical memory."""
    import os
    from pathlib import Path

    monkeypatch.syspath_prepend(str(Path(__file__).parents[1] / "tools"))
    import oracle_check

    monkeypatch.delenv("DUCK_ORACLE_MEMLIMIT", raising=False)
    mem = oracle_check._default_memlimit()
    num = float(re.match(r"^([\d.]+)", mem).group(1))
    nbytes = num * (1e9 if "GB" in mem else 1e6)
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        ram = None
    assert nbytes <= 24_000_000_001
    if ram is not None:
        assert nbytes <= ram * 0.8 + 1e6
