"""adaptive_grid unit contract (operators/similarity.py): the grid
that fixes the fixed-grid law must (a) bound expected block size by
the target at any corpus size, (b) keep per-vector assignment cost
O(log N), and (c) reproduce the fixture-pinned grids at fixture scale
so q163/q164 hash-match the q149/q150 oracles — plus the tree build
over it (adaptive_grid_tree) checked against its DuckDB twin at a
depth no fixture reaches."""

from __future__ import annotations

import math

from rds_glue_s3_etl_pipeline_spark.operators.similarity import adaptive_grid


def test_fixture_pins():
    # the coincidences the q163/q164/q165 oracles rely on
    assert adaptive_grid(500, 4) == [16, 8]       # q149's grid (q163)
    assert adaptive_grid(500, 32) == [16]         # q150's codebook (q164)
    assert adaptive_grid(500, 8) == [16, 4]       # q165's pinned tree


def test_block_size_bounded_everywhere():
    for n in (1, 10, 500, 2_000, 20_000, 200_000, 10**7, 10**10):
        for target in (4, 8, 32, 1000):
            ks = adaptive_grid(n, target)
            prod = math.prod(ks)
            assert n / prod <= target  # expected block size <= target
            assert all(2 <= k or i == 0 for i, k in enumerate(ks))
            assert ks[0] <= 16 and all(k <= 8 for k in ks[1:])


def test_assignment_cost_is_logarithmic():
    # sum(ks) = centroid scores per vector; must stay tiny even at
    # planetary corpus sizes (depth ~ log_8(N / target)).
    ks = adaptive_grid(10**10, 32)
    assert sum(ks) < 100
    assert len(ks) <= 12


def test_depth_monotone_in_corpus():
    prev = 0
    for n in (500, 5_000, 50_000, 500_000, 5_000_000):
        ks = adaptive_grid(n, 4)
        prod = math.prod(ks)
        assert prod >= prev  # block count never shrinks as N grows
        prev = prod


def test_degenerate_inputs():
    assert adaptive_grid(0, 4) == [1]
    assert adaptive_grid(1, 4) == [1]
    assert adaptive_grid(3, 4) == [1]
    assert adaptive_grid(17, 4) == [5]


def test_adaptive_grid_tree_depth3_matches_home_ctes(spark, tmp_path, monkeypatch):
    """The one tree build (adaptive_grid_tree) at depth 3, which no
    fixture reaches for the k-NN tree: force ks=[2,2,2] on a 60-vector
    corpus and check it against its DuckDB twin — the deepest block
    assignment equals home_ctes' ``lvl2`` row for row, and the trained
    coarse codebook equals ``cent{iters}`` bit for bit."""
    import duckdb

    from tests.test_knn_index import _write_embeddings

    from rds_glue_s3_etl_pipeline_spark.catalog import load
    from rds_glue_s3_etl_pipeline_spark.operators import similarity
    from rds_glue_s3_etl_pipeline_spark.queries import gridsql
    from rds_glue_s3_etl_pipeline_spark.queries.vector3 import _KM_ITERS
    from rds_glue_s3_etl_pipeline_spark.session import released_blocks

    ks = [2, 2, 2]
    monkeypatch.setattr(similarity, "adaptive_grid", lambda *a, **kw: list(ks))
    out = str(tmp_path / "fix_tree3")
    _write_embeddings(spark, out, 60)

    home_sql, cols = gridsql.home_ctes(ks, _KM_ITERS, similarity._TRAIN_SAMPLE)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{out}/embeddings.parquet/*.parquet'"
    )
    key = ["vec_id", *cols]
    with released_blocks(spark):
        e = load(spark, out, "embeddings").select("vec_id", "embedding")
        tree = similarity.adaptive_grid_tree(e, 32, iters=_KM_ITERS)
        assert tree.ks == ks and tree.block_cols == cols
        assert [lvl.prefix for lvl in tree.levels] == [("c_id",), ("c_id", "s0_id")]
        sdf = tree.blocked.select(*key).toPandas()
        scb = tree.codebook.toPandas()

    sdf = sdf.sort_values(key).reset_index(drop=True)
    ddf = (
        con.execute(f"WITH {home_sql} SELECT {', '.join(key)} FROM lvl2")
        .df()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(sdf) == len(ddf) == 60
    for c in key:
        assert list(sdf[c]) == list(ddf[c]), f"home column {c} diverges"

    dcb = con.execute(f"WITH {home_sql} SELECT c_id, cv FROM cent{_KM_ITERS}").df()
    scb = scb.sort_values("c_id").reset_index(drop=True)
    dcb = dcb.sort_values("c_id").reset_index(drop=True)
    assert list(scb["c_id"]) == list(dcb["c_id"]) and len(scb) == ks[0]
    for s_cv, d_cv in zip(scb["cv"], dcb["cv"]):
        assert list(s_cv) == list(d_cv)
