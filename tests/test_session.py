"""Session-level contracts: the driver heap default follows the host's
RAM, and a query run under ``released_blocks`` leaves no pinned RDD
blocks behind in a long-lived session."""

from __future__ import annotations

import os

import pytest

from rds_glue_s3_etl_pipeline_spark import session


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


@pytest.mark.parametrize("name", _RELEASE_FAMILY)
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

    jsc = spark.sparkContext._jsc

    def pinned() -> set[int]:
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    before = pinned()
    with session.released_blocks(spark):
        REGISTRY[name].fn(spark, sf_dir).count()
    assert pinned() - before == set()
