"""dbscan_from_edges on a hand-checkable eps-edge list: roles and
component-minimum cluster ids pinned point by point."""

from __future__ import annotations


def _fixture(spark):
    """Symmetric eps-edges (a, b), each directed edge once: a 4-chain
    0-1-2-3, a pair 10-11, and an 8-clique on 20..27; id 99 has no
    edge at all."""
    chain = [(0, 1), (1, 2), (2, 3)]
    pair = [(10, 11)]
    clique = [(u, v) for u in range(20, 28) for v in range(20, 28) if u != v]
    directed = [e for x, y in chain + pair for e in ((x, y), (y, x))]
    sym = spark.createDataFrame(directed + clique, "a long, b long")
    ids = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 3, 10, 11, *range(20, 28), 99]], "vec_id long"
    )
    return ids, sym


def test_dbscan_from_edges_roles_and_clusters(spark):
    from rds_glue_s3_etl_pipeline_spark.operators.dbscan import dbscan_from_edges

    ids, sym = _fixture(spark)
    got = {
        r["vec_id"]: (r["role"], r["cluster_id"])
        for r in dbscan_from_edges(ids, sym, 2).collect()
    }
    assert got == {
        # chain: inner nodes have degree 2 (core), the ends degree 1
        # and a core neighbor (border), all in the component of min 1
        0: ("border", 1),
        1: ("core", 1),
        2: ("core", 1),
        3: ("border", 1),
        # pair: degree 1 each and no core neighbor
        10: ("noise", None),
        11: ("noise", None),
        # clique: degree 7 each, one component labelled by its minimum
        **{i: ("core", 20) for i in range(20, 28)},
        # no edge at all
        99: ("noise", None),
    }
