"""Round-12/13 multi-probe eps-edge contracts (round-13 verdict item
#2): the symmetric-closure and directed-once rules of _mp_symmetrize,
the 4dp eps boundary and block-key retention of _mp_eps_candidates,
q228's endpoint partition (disjoint + exhaustive ≡ one-shot build),
q236's frozen-codebook refresh equality, the depth-scaled probe
budget, the hub-block guard, and a gridsql depth-2 twin hash-match on
a synthetic corpus. The oracle sweeps cover these end-to-end; these
pytests pin each CONTRACT so a refactor fails here with a name, not in
a sweep with a mysterious hash mismatch."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest


def _emb_df(spark, rows):
    """(vec_id, embedding) frame from [(id, [floats...]), ...]."""
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )


def _probe_home(spark, rows, blocks):
    """probe/home frames for _mp_eps_candidates: same membership both
    sides (nprobe=1 shape), block key from ``blocks[vec_id]``."""
    e = _emb_df(spark, rows)
    b = spark.createDataFrame(
        [(int(i), int(c)) for i, c in blocks.items()], "vec_id long, c_id int"
    )
    df = e.join(b, "vec_id")
    return df, df, ["c_id"]


def test_mp_symmetrize_closure_and_dedup(spark):
    """Both orientations present exactly once each, however many times
    a directed candidate was generated (a probing b's home AND b
    probing a's home both emit — the distinct collapses them)."""
    from rds_glue_s3_etl_pipeline_spark.queries.vector6 import _mp_symmetrize

    cand = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 4)], "a long, b long"
    )
    got = sorted(tuple(r) for r in _mp_symmetrize(cand).collect())
    assert got == [(1, 2), (2, 1), (3, 4), (4, 3)]


def test_mp_candidates_eps_boundary_4dp(spark):
    """The eps compare happens on the 4dp-ROUNDED cosine — the
    cross-engine determinism contract: raw 0.39996 (< eps) rounds to
    0.4000 and IS an edge; raw 0.3999 is not. A refactor that compares
    the raw cosine drifts from every DuckDB twin at the boundary."""
    from rds_glue_s3_etl_pipeline_spark.queries.vector6 import (
        _DBSCAN_EPS_COS,
        _mp_eps_candidates,
    )

    assert _DBSCAN_EPS_COS == 0.4

    def unit(c):
        return [c, math.sqrt(1.0 - c * c)]

    rows = [
        (0, [1.0, 0.0]),
        (1, unit(0.39996)),  # rounds to 0.4000 -> edge
        (2, unit(0.39990)),  # rounds to 0.3999 -> no edge
        (3, unit(0.45)),     # comfortably above -> edge
    ]
    probe, home, cols = _probe_home(spark, rows, {0: 7, 1: 7, 2: 7, 3: 7})
    got = {(r["a"], r["b"]) for r in _mp_eps_candidates(probe, home, cols).collect()}
    assert (0, 1) in got and (1, 0) in got
    assert (0, 3) in got
    assert (0, 2) not in got and (2, 0) not in got
    # a != b: no self-candidates
    assert all(a != b for a, b in got)


def test_mp_candidates_block_key_retained_and_scoped(spark):
    """Candidates only form within a shared block key, and the block
    columns survive into the output — q228's endpoint partition
    splits edge state by them."""
    from rds_glue_s3_etl_pipeline_spark.queries.vector6 import _mp_eps_candidates

    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 0.0])]
    probe, home, cols = _probe_home(spark, rows, {0: 1, 1: 1, 2: 2})
    out = _mp_eps_candidates(probe, home, cols)
    assert set(out.columns) == {"c_id", "a", "b"}
    got = {(r["c_id"], r["a"], r["b"]) for r in out.collect()}
    # identical vectors, but 2 sits in another block: no (0,2)/(1,2)
    assert got == {(1, 0, 1), (1, 1, 0)}


def test_dbscan_nprobe_depth_rule():
    """nprobe 4 on a depth-1 tree (fixture operating point, static
    oracles pinned there), 6 once the adaptive tree deepens — the
    Spark builder and the gridsql twin both route through this one
    function, so the budgets can never diverge."""
    from rds_glue_s3_etl_pipeline_spark.queries.vector6 import (
        _DBSCAN_NPROBE,
        _DBSCAN_NPROBE_DEEP,
        _dbscan_nprobe,
    )

    assert _dbscan_nprobe([16]) == _DBSCAN_NPROBE == 4
    assert _dbscan_nprobe([16, 4]) == _DBSCAN_NPROBE_DEEP == 6
    assert _dbscan_nprobe([16, 8, 5]) == _DBSCAN_NPROBE_DEEP


def test_mp_block_guard_hub_fires_and_healthy_passes(spark):
    """A hub block (the grid no longer separates the corpus) must
    fail fast with the operator's remediation in the message, BEFORE
    the candidate join grinds quadratically; a healthy spread of
    blocks passes untouched (round-13 verdict item #6)."""
    from rds_glue_s3_etl_pipeline_spark.queries.vector6 import _mp_block_guard

    hub_rows = [(i, [1.0, 0.0]) for i in range(40)]
    probe, home, cols = _probe_home(
        spark, hub_rows, {i: 0 for i in range(40)}
    )
    with pytest.raises(RuntimeError, match="max_block_edges"):
        _mp_block_guard(probe, home, cols, max_block_edges=100)

    probe2, home2, cols2 = _probe_home(
        spark, hub_rows, {i: i % 10 for i in range(40)}
    )
    _mp_block_guard(probe2, home2, cols2, max_block_edges=100)  # no raise


def test_q228_endpoint_partition_disjoint_exhaustive(spark, tmp_path):
    """q228's incremental unit: the three candidate classes
    ((hist,hist), (batch,any), (hist,batch)) are pairwise disjoint and
    their union IS the one-shot candidate set — refresh ≡ rebuild by
    construction, on a real (small) corpus through the real index."""
    from tests.test_knn_index import _write_embeddings

    from rds_glue_s3_etl_pipeline_spark.queries.vector6 import (
        _KNN_INC_MOD,
        _dbscan_nprobe,
        _knn_assignments,
        _knn_index,
        _mp_eps_candidates,
    )

    out = str(tmp_path / "fix228")
    _write_embeddings(spark, out, 60)
    nprobe = _dbscan_nprobe(_knn_index(spark, out)["ks"])
    home, probe, cols = _knn_assignments(spark, out, nprobe)
    is_new = F.col("vec_id") % _KNN_INC_MOD == 0

    def cand(p, h):
        return _mp_eps_candidates(p, h, cols).select("a", "b")

    one_shot = cand(probe, home)
    hh = cand(probe.filter(~is_new), home.filter(~is_new))
    ba = cand(probe.filter(is_new), home)
    hb = cand(probe.filter(~is_new), home.filter(is_new))

    assert hh.intersect(ba).count() == 0
    assert hh.intersect(hb).count() == 0
    assert ba.intersect(hb).count() == 0
    merged = hh.unionByName(ba).unionByName(hb)
    assert merged.exceptAll(one_shot).count() == 0
    assert one_shot.exceptAll(merged).count() == 0
    assert one_shot.count() > 0  # the corpus actually produced edges


def test_q236_frozen_codebook_refresh_equals_full_assign(spark, tmp_path):
    """assign(hist) ∪ assign(batch) = assign(full) under ONE frozen
    codebook — the equality q236's oracle proves end-to-end, pinned
    here as the unit contract (any retrain on the refresh path breaks
    it)."""
    from tests.test_knn_index import _write_embeddings

    from rds_glue_s3_etl_pipeline_spark.catalog import load
    from rds_glue_s3_etl_pipeline_spark.operators.similarity import (
        nearest_centroids,
        train_codebook,
    )

    out = str(tmp_path / "fix236")
    _write_embeddings(spark, out, 50)
    e = load(spark, out, "embeddings").select("vec_id", "embedding")
    is_new = F.col("vec_id") % 10 == 0
    hist = e.filter(~is_new)

    cent = train_codebook(hist, 4, iters=2)
    cent.select("c_id", "cv").write.mode("overwrite").parquet(
        str(tmp_path / "cb.parquet")
    )
    frozen = spark.read.parquet(str(tmp_path / "cb.parquet"))

    keep = ["vec_id", "c_id", "cos_sim"]
    merged = (
        nearest_centroids(hist, frozen)
        .select(*keep)
        .unionByName(nearest_centroids(e.filter(is_new), frozen).select(*keep))
    )
    full = nearest_centroids(e, frozen).select(*keep)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0
    assert full.count() == 50


def test_gridsql_depth2_twin_hash_matches_spark(spark, tmp_path):
    """End-to-end generator check on a corpus big enough to force a
    DEPTH-2 adaptive tree (600 rows -> ks=[16, 2]): the q212 twin SQL
    regenerated for this corpus must value-match the Spark path
    exactly — the whole gridsql determinism discipline (md5 sampling,
    4dp rounds, id tie-breaks, string-hop means) in one assert."""
    import duckdb

    from tests.test_knn_index import _write_embeddings

    from rds_glue_s3_etl_pipeline_spark.queries import REGISTRY
    from rds_glue_s3_etl_pipeline_spark.queries.gridsql import (
        knn_ks,
        n_rows,
        q212_oracle,
    )

    out = str(tmp_path / "fix212")
    _write_embeddings(spark, out, 600)
    assert len(knn_ks(n_rows(out))) == 2  # the point of the test: not fixture depth

    sdf = (
        REGISTRY["q212_knn_graph_blocked"]
        .fn(spark, out)
        .toPandas()
        .sort_values(["vec_id", "rnk"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        # Spark-written directory layout -> glob the part files
        f"CREATE VIEW embeddings AS SELECT * FROM '{out}/embeddings.parquet/*.parquet'"
    )
    ddf = (
        con.execute(q212_oracle(n_rows(out)))
        .df()
        .sort_values(["vec_id", "rnk"])
        .reset_index(drop=True)
    )
    assert len(sdf) == len(ddf) and len(sdf) > 0
    assert list(sdf["vec_id"]) == list(ddf["vec_id"])
    assert list(sdf["nbr_id"]) == list(ddf["nbr_id"])
    assert list(sdf["rnk"]) == list(ddf["rnk"])
    assert list(sdf["cs"]) == list(ddf["cs"])  # 4dp-rounded: exact


def test_gridsql_depth3_twin_probe_set_matches_spark(spark, tmp_path, monkeypatch):
    """The arbitrary-depth twin descent (gridsql.probe_ctes, round-13)
    in a 10-second pytest instead of a 70-minute 10x sweep (round-14
    verdict item #4): force ks=[2,2,2] on a 60-vector corpus and
    assert the DuckDB probe set equals _knn_assignments' probe set
    row-for-row — every descent level (top-nprobe at each level above
    the deepest, nprobe² at the deepest, home union) in one compare."""
    import duckdb

    from tests.test_knn_index import _write_embeddings

    from rds_glue_s3_etl_pipeline_spark.operators import similarity
    from rds_glue_s3_etl_pipeline_spark.queries import gridsql, vector6
    from rds_glue_s3_etl_pipeline_spark.queries.vector3 import _KM_ITERS
    from rds_glue_s3_etl_pipeline_spark.queries.vector5 import _TRAIN_SAMPLE

    ks = [2, 2, 2]
    monkeypatch.setattr(similarity, "adaptive_grid", lambda *a, **kw: list(ks))
    out = str(tmp_path / "fix_d3")
    _write_embeddings(spark, out, 60)
    assert gridsql.knn_ks(gridsql.n_rows(out)) == ks  # the forced depth-3 tree is live

    nprobe = 2
    home, probe, block_cols = vector6._knn_assignments(spark, out, nprobe=nprobe)
    assert block_cols == ["c_id", "s0_id", "s1_id"]
    key = ["vec_id", *block_cols]
    sdf = (
        probe.select(*key).toPandas().sort_values(key).reset_index(drop=True)
    )
    # probe ⊇ home: every vector keeps its own block
    assert home.select(*key).exceptAll(probe.select(*key)).count() == 0

    home_sql, cols = gridsql.home_ctes(ks, _KM_ITERS, _TRAIN_SAMPLE)
    sql = (
        f"WITH {home_sql},\n{gridsql.probe_ctes(ks, _KM_ITERS, nprobe)}\n"
        f"SELECT vec_id, {', '.join(cols)} FROM pb"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{out}/embeddings.parquet/*.parquet'"
    )
    ddf = con.execute(sql).df().sort_values(key).reset_index(drop=True)
    assert len(sdf) == len(ddf) and len(sdf) > 60  # multi-probe: > home
    for c in key:
        assert list(sdf[c]) == list(ddf[c]), f"probe-set column {c} diverges"


def test_q228_trips_hub_guard(spark, tmp_path, monkeypatch):
    """q228's refresh path is guarded too (round-13 ADVICE: only the
    one-shot artifact build had the hub-block guard — the epoch-0 and
    incremental candidate joins would grind quadratically on a
    degenerate corpus instead of failing fast)."""
    from tests.test_knn_index import _write_embeddings

    from rds_glue_s3_etl_pipeline_spark.queries import REGISTRY, vector6

    out = str(tmp_path / "fix228g")
    _write_embeddings(spark, out, 60)
    monkeypatch.setattr(vector6, "_MP_MAX_BLOCK_EDGES", 1)
    with pytest.raises(RuntimeError, match="max_block_edges"):
        REGISTRY["q228_dbscan_grid_incremental"].fn(spark, out).collect()
