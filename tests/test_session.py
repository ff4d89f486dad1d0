"""Session-level contracts: the driver heap default follows the host's
RAM; ``checkpoint`` is the only ``localCheckpoint`` in the package and
records the exact RDD it pins; a ``released_blocks`` scope releases
what was recorded in it on every exit, and only that; and a query run
under ``released_blocks`` leaves no pinned RDD blocks behind in a
long-lived session."""

from __future__ import annotations

import os
import threading
from pathlib import Path

import pytest

from rds_glue_s3_etl_pipeline_spark import session
from rds_glue_s3_etl_pipeline_spark.operators.par import run_concurrently

REPO = Path(__file__).resolve().parent.parent


def _fake_sysconf(page_size: int, pages: int):
    def sysconf(name):
        return {"SC_PAGE_SIZE": page_size, "SC_PHYS_PAGES": pages}[name]

    return sysconf


def test_default_driver_memory_follows_host_ram(monkeypatch):
    gib = 2**30
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(4096, 15 * gib // 4096))
    assert session.default_driver_memory() == f"{15 * 1024 // 2}m"  # 15 GB host
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(4096, 512 * gib // 4096))
    assert session.default_driver_memory() == f"{48 * 1024}m"  # capped
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(4096, gib // 4096))
    assert session.default_driver_memory() == "1024m"  # floor

    def unsupported(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", unsupported)
    assert session.physical_memory_bytes() is None
    assert session.default_driver_memory() == "48g"


def _pinned(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def test_local_checkpoint_only_in_session():
    """Every pin goes through ``session.checkpoint``: a raw
    ``localCheckpoint`` elsewhere would pin blocks no scope records."""
    pkg = REPO / "rds_glue_s3_etl_pipeline_spark"
    files = [*pkg.rglob("*.py"), *(REPO / "tools").rglob("*.py"), REPO / "bench.py"]
    hits = sorted(
        str(f.relative_to(REPO)) for f in files if ".localCheckpoint(" in f.read_text()
    )
    assert hits == ["rds_glue_s3_etl_pipeline_spark/session.py"]


@pytest.mark.parametrize("eager", [True, False])
def test_checkpoint_records_the_rdd_it_pins(spark, eager):
    """The JVM reflection ``checkpoint`` relies on: the returned
    frame's logical plan is a ``LogicalRDD`` whose ``rdd().id()`` is
    the one RDD the call registered as persistent, for eager and lazy
    checkpoints alike."""
    before = _pinned(spark)
    with session.released_blocks(spark):
        cp = session.checkpoint(spark.range(10), eager=eager)
        plan = cp._jdf.queryExecution().logical()
        assert plan.getClass().getSimpleName() == "LogicalRDD"
        assert _pinned(spark) - before == {plan.rdd().id()}
        assert session._SCOPE.get() == [plan.rdd().id()]
        assert cp.count() == 10
    assert _pinned(spark) - before == set()
    assert session._SCOPE.get() is None


def test_checkpoint_outside_a_scope_stays_pinned(spark):
    """With no scope open nothing is recorded: the block stays pinned
    (for bench.release_blocks or GC), and a later scope that only reads
    it leaves it pinned."""
    before = _pinned(spark)
    cp = session.checkpoint(spark.range(3))
    with session.released_blocks(spark):
        assert cp.count() == 3
    (rid,) = _pinned(spark) - before
    spark.sparkContext._jsc.getPersistentRDDs().get(rid).unpersist(False)


def test_scope_releases_on_exception(spark):
    before = _pinned(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with session.released_blocks(spark):
            session.checkpoint(spark.range(5))
            assert len(_pinned(spark) - before) == 1
            raise RuntimeError("boom")
    assert _pinned(spark) - before == set()


def test_nested_scope_releases_only_its_own(spark):
    before = _pinned(spark)
    with session.released_blocks(spark):
        outer = session.checkpoint(spark.range(4))
        with session.released_blocks(spark):
            session.checkpoint(spark.range(6))
        assert len(_pinned(spark) - before) == 1
        assert outer.count() == 4
    assert _pinned(spark) - before == set()


def test_branches_record_into_the_caller_scope(spark):
    """A ``run_concurrently`` branch without a scope of its own records
    into the caller's."""
    before = _pinned(spark)
    with session.released_blocks(spark):
        a, b = run_concurrently(
            lambda: session.checkpoint(spark.range(3)),
            lambda: session.checkpoint(spark.range(7)),
        )
        assert len(_pinned(spark) - before) == 2
        assert (a.count(), b.count()) == (3, 7)
    assert _pinned(spark) - before == set()


def test_sibling_scope_exit_keeps_the_other_branch_pinned(spark):
    """Two branches, each with its own scope: the first to exit must
    not release the checkpoint its sibling pinned later and is still
    reading (an RDD-id diff over the session would have released it:
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    sibling_pinned, first_exited = threading.Event(), threading.Event()
    before = _pinned(spark)

    def first():
        with session.released_blocks(spark):
            session.checkpoint(spark.range(2)).count()
            assert sibling_pinned.wait(120)
        first_exited.set()

    def sibling():
        with session.released_blocks(spark):
            cp = session.checkpoint(spark.range(9))
            sibling_pinned.set()
            assert first_exited.wait(120)
            rid = cp._jdf.queryExecution().logical().rdd().id()
            assert rid in _pinned(spark)
            return cp.count()

    assert run_concurrently(first, sibling) == [None, 9]
    assert _pinned(spark) - before == set()


@pytest.mark.parametrize("case", ["bpe_apply_cadence", "cc_star_rounds"])
def test_operator_checkpoints_release_in_scope(spark, monkeypatch, case):
    """The two checkpoint sites no fixture query reaches: bpe_apply's
    every-64-merges cadence and connected_components_star's
    distributed rounds (above the local gate)."""
    from rds_glue_s3_etl_pipeline_spark.operators import bpe, graph

    if case == "bpe_apply_cadence":
        words = spark.createDataFrame([(["a", "b", "c"], 1)], "syms array<string>, f long")
        run = lambda: bpe.bpe_apply(words, [("a", "b")] * 65)  # noqa: E731
    else:
        monkeypatch.setattr(graph, "_LOCAL_CC_EDGE_GATE", 0)
        edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "src long, dst long")
        run = lambda: graph.connected_components_star(edges)  # noqa: E731
    before = _pinned(spark)
    with session.released_blocks(spark):
        run().count()
        assert _pinned(spark) - before
    assert _pinned(spark) - before == set()


# The families whose results must not carry lineage into pinned blocks:
# the prefix family (operators/prefix.py entry points: global/grouped
# row_number, running sums via q75/q130, q173's ranked table), the
# persisted k-NN index family (q212-q236), and the adaptive-grid
# dedup/report queries whose tree build checkpoints its coarse level.
_RELEASE_FAMILY = [
    "q45_ordered_projection",
    "q75_global_running_revenue",
    "q130_token_shards",
    "q173_quality_calibration",
    "q230_stratified_split_prefix",
    "q212_knn_graph_blocked",
    "q213_knn_recall_gate",
    "q214_knn_multiprobe_gate",
    "q215_label_propagation_audit",
    "q219_dbscan_embeddings",
    "q221_hard_negatives",
    "q223_dbscan_grid",
    "q224_leakage_safe_split_grid",
    "q225_knn_graph_incremental",
    "q228_dbscan_grid_incremental",
    "q229_dbscan_agreement_gate",
    "q232_dbscan_truth",
    "q233_dbscan_truth_gate",
    "q234_split_leakage_truth",
    "q235_eps_percolation_guard",
    "q236_knn_index_refresh",
    "q163_semantic_dedup_adaptive",
    "q164_incremental_vector_dedup_adaptive",
    "q165_vector_dedup_tree_probe",
    "q169_adaptive_grid_report",
]

# One query per ``session.checkpoint`` call site the families above do
# not reach (q161's fold pins on a foreachBatch py4j thread).
_CHECKPOINT_SITES = [
    "q23_ngram_jaccard_pairs",
    "q108_dup_clusters_staged",
    "q126_incremental_dedup",
    "q137_pagerank",
    "q143_semantic_dedup",
    "q147_ivf_trained_topk",
    "q148_codebook_balance",
    "q150_incremental_vector_dedup_ivf",
    "q153_triangle_enum",
    "q156_bpe_compression",
    "q160_pq_trained_topk",
    "q161_snapshot_stream_ingest",
    "q162_semantic_dedup_3level",
    "q185_domain_temperature_mix",
    "q186_ngram_novelty",
    "q188_image_near_dup",
    "q189_image_dedup_keep_best",
    "q193_incremental_image_dedup",
    "q216_leakage_safe_split",
]


@pytest.mark.parametrize("name", _RELEASE_FAMILY + _CHECKPOINT_SITES)
def test_query_leaves_no_pinned_blocks(spark, sf_dir, name):
    """Run the query to completion inside ``released_blocks`` the way
    a service session would; afterwards no RDD the query persisted may
    still be pinned. The cases run in list order in one session, so a
    query whose shared state (the persisted k-NN index) lived in an
    earlier query's released checkpoint fails here instead of in
    production. Pinned ids are compared against those pinned before
    the query, so residue from other tests in the shared session
    cannot mask or fake a result."""
    from rds_glue_s3_etl_pipeline_spark.queries import REGISTRY

    before = _pinned(spark)
    with session.released_blocks(spark):
        REGISTRY[name].fn(spark, sf_dir).count()
    assert _pinned(spark) - before == set()
