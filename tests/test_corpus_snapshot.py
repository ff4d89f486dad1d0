"""Corpus-snapshot lifecycle tests (operators/corpus_snapshot.py):
exactly-once epoch replay, incremental == full-recompute equivalence
on hand-built corpora, cluster bridging, and survivor replacement.

The sf-fixture equivalence at scale is q159's oracle (hash vs q124's
full-recompute SQL); these tests pin the SEMANTICS on tiny corpora
where every cluster decision is checkable by hand.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from rds_glue_s3_etl_pipeline_spark.operators.corpus_snapshot import (
    assigned_table,
    build_snapshot,
    read_snapshot_assigned,
    refresh_snapshot,
    survivors,
    write_snapshot_epoch,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, n_chars long")


def _edges(spark, rows):
    if not rows:
        return spark.createDataFrame([], "doc_a long, doc_b long")
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def _surv_map(df):
    return {
        r["cluster_id"]: (r["kept_doc_id"], r["kept_n_chars"], r["n_members"])
        for r in df.collect()
    }


def test_build_then_read_roundtrip(spark):
    # history: {1,2} a cluster (2 longer), {3} singleton
    out = tempfile.mkdtemp(prefix="snap_rt_")
    build_snapshot(
        _docs(spark, [(1, 10), (2, 20), (3, 5)]),
        _edges(spark, [(1, 2)]),
        out,
    )
    got = _surv_map(survivors(read_snapshot_assigned(spark, out)))
    assert got == {1: (2, 20, 2), 3: (3, 5, 1)}


def test_refresh_bridges_and_replaces(spark):
    # history: clusters {1,2} and {4,5}; new doc 9 links 2 and 4 ->
    # one merged cluster labeled 1, and 9 (longest) becomes survivor.
    out = tempfile.mkdtemp(prefix="snap_bridge_")
    build_snapshot(
        _docs(spark, [(1, 10), (2, 20), (4, 15), (5, 12)]),
        _edges(spark, [(1, 2), (4, 5)]),
        out,
    )
    refresh_snapshot(
        spark,
        out,
        _docs(spark, [(9, 99)]),
        _edges(spark, [(9, 2), (9, 4)]),
        epoch_id=1,
    )
    got = _surv_map(survivors(read_snapshot_assigned(spark, out)))
    assert got == {1: (9, 99, 5)}


def test_refresh_equals_full_recompute(spark):
    # Random-ish small corpus: incremental refresh must equal building
    # from scratch over the union graph.
    hist_docs = [(i, 10 + i) for i in range(1, 8)]
    hist_edges = [(1, 3), (5, 6)]
    new_docs = [(10, 9), (11, 40)]
    new_edges = [(10, 6), (10, 11)]  # 10 joins {5,6} and pulls 11 in

    out = tempfile.mkdtemp(prefix="snap_eq_")
    build_snapshot(_docs(spark, hist_docs), _edges(spark, hist_edges), out)
    refresh_snapshot(
        spark, out, _docs(spark, new_docs), _edges(spark, new_edges), epoch_id=1
    )
    inc = _surv_map(survivors(read_snapshot_assigned(spark, out)))

    full = _surv_map(
        survivors(
            assigned_table(
                _docs(spark, hist_docs + new_docs),
                _edges(spark, hist_edges + new_edges),
            )
        )
    )
    assert inc == full
    assert inc[5] == (11, 40, 4)  # {5,6,10,11}: new doc 11 wins


def test_epoch_replay_is_idempotent(spark):
    # Replay refresh epoch 1 twice (restart between write and commit):
    # the partition is REWRITTEN, not appended — state identical.
    out = tempfile.mkdtemp(prefix="snap_replay_")
    build_snapshot(
        _docs(spark, [(1, 10), (2, 20)]), _edges(spark, [(1, 2)]), out
    )
    for _ in range(2):  # same epoch id, twice
        refresh_snapshot(
            spark,
            out,
            _docs(spark, [(7, 70)]),
            _edges(spark, [(7, 1)]),
            epoch_id=1,
        )
    state = read_snapshot_assigned(spark, out)
    assert state.count() == 3  # not 6: replay overwrote its own epoch
    got = _surv_map(survivors(state))
    assert got == {1: (7, 70, 3)}
    # both epochs still present; reader picked the max
    eps = {
        r["__epoch"]
        for r in spark.read.parquet(out).select("__epoch").distinct().collect()
    }
    assert eps == {0, 1}


def test_refresh_rejects_null_cluster_id(spark, tmp_path):
    # A corrupt snapshot row with a NULL cluster_id, touched by the
    # batch, must fail at the bounded collect instead of being coerced
    # to float64 on the way into the broadcast relation.
    out = str(tmp_path / "snap_null")
    write_snapshot_epoch(
        spark.createDataFrame(
            [(1, None, 10), (2, 2, 20)], "doc_id long, cluster_id long, n_chars long"
        ),
        out,
        0,
    )
    with pytest.raises(ValueError, match="NULL cluster_id"):
        refresh_snapshot(
            spark, out, _docs(spark, [(9, 90)]), _edges(spark, [(9, 1)]), epoch_id=1
        )


def test_empty_refresh_batch_keeps_state(spark):
    out = tempfile.mkdtemp(prefix="snap_empty_")
    build_snapshot(
        _docs(spark, [(1, 10), (2, 20), (3, 5)]), _edges(spark, [(1, 2)]), out
    )
    before = _surv_map(survivors(read_snapshot_assigned(spark, out)))
    refresh_snapshot(
        spark, out, _docs(spark, []), _edges(spark, []), epoch_id=1
    )
    after = _surv_map(survivors(read_snapshot_assigned(spark, out)))
    assert after == before


def test_incident_candidates_cover_new_pairs(spark):
    # lsh_candidate_pairs_incident must find new-history AND new-new
    # pairs, and never propose history-history pairs.
    from rds_glue_s3_etl_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_candidate_pairs_incident,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [
        (1, base * 3),
        (2, base * 3 + "tail one"),  # hist dup of 1
        (10, base * 3 + "tail two"),  # new, dup of 1/2
        (11, base * 3 + "tail two more"),  # new, dup of 10
        (12, "completely different words entirely unrelated content here " * 4),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(docs, num_perm=32, shingle_n=5)
    new_ids = spark.createDataFrame([(10,), (11,), (12,)], "doc_id long")

    inc = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs_incident(
            sig, new_ids, num_perm=32, bands=32
        ).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sig, num_perm=32, bands=32).collect()
    }
    new = {10, 11, 12}
    # exactly the full candidate set restricted to pairs touching new
    assert inc == {p for p in full if p[0] in new or p[1] in new}
    assert all(p[0] in new or p[1] in new for p in inc)
    assert (1, 10) in inc and (10, 11) in inc
    assert (1, 2) not in inc  # history-history never proposed


def test_reingest_replace_updates_doc(spark):
    # Batch re-ingests doc 2 (the old survivor of {1,2}) with SHORTER
    # content and no edges: replace mode must keep ONE row for doc 2
    # (no duplicate inflating n_members), update its n_chars, and drop
    # its old star edge — doc 2 reconnects only through batch edges, so
    # {1,2} splits and doc 1 becomes its own survivor.
    out = tempfile.mkdtemp(prefix="snap_reingest_")
    build_snapshot(
        _docs(spark, [(1, 10), (2, 20), (3, 5)]), _edges(spark, [(1, 2)]), out
    )
    refresh_snapshot(
        spark, out, _docs(spark, [(2, 7)]), _edges(spark, []), epoch_id=1
    )
    state = read_snapshot_assigned(spark, out)
    assert state.count() == 3  # no duplicate doc_id rows
    assert state.filter(F.col("doc_id") == 2).count() == 1
    got = _surv_map(survivors(state))
    assert got == {1: (1, 10, 1), 2: (2, 7, 1), 3: (3, 5, 1)}


def test_reingest_replace_batch_wins_survivor(spark):
    # Re-ingested doc keeps its cluster via a fresh edge and its NEW
    # length decides the survivor pick.
    out = tempfile.mkdtemp(prefix="snap_reingest2_")
    build_snapshot(
        _docs(spark, [(1, 10), (2, 20)]), _edges(spark, [(1, 2)]), out
    )
    refresh_snapshot(
        spark, out, _docs(spark, [(2, 99)]), _edges(spark, [(2, 1)]), epoch_id=1
    )
    got = _surv_map(survivors(read_snapshot_assigned(spark, out)))
    assert got == {1: (2, 99, 2)}


def test_reingest_error_mode_raises(spark):
    out = tempfile.mkdtemp(prefix="snap_reingest3_")
    build_snapshot(
        _docs(spark, [(1, 10), (2, 20)]), _edges(spark, [(1, 2)]), out
    )
    with pytest.raises(ValueError, match="re-ingests 1 doc_id"):
        refresh_snapshot(
            spark,
            out,
            _docs(spark, [(2, 7)]),
            _edges(spark, []),
            epoch_id=1,
            on_reingest="error",
        )
    # disjoint batch passes under error mode
    refresh_snapshot(
        spark,
        out,
        _docs(spark, [(9, 7)]),
        _edges(spark, []),
        epoch_id=1,
        on_reingest="error",
    )
    got = _surv_map(survivors(read_snapshot_assigned(spark, out)))
    assert got == {1: (2, 20, 2), 9: (9, 7, 1)}


def test_prune_snapshot_epochs(spark):
    from rds_glue_s3_etl_pipeline_spark.operators.corpus_snapshot import (
        prune_snapshot_epochs,
    )

    out = tempfile.mkdtemp(prefix="snap_prune_")
    build_snapshot(
        _docs(spark, [(1, 10), (2, 20)]), _edges(spark, [(1, 2)]), out
    )
    for e in (1, 2, 3):
        refresh_snapshot(
            spark,
            out,
            _docs(spark, [(100 + e, 5)]),
            _edges(spark, []),
            epoch_id=e,
        )
    dropped = prune_snapshot_epochs(spark, out, keep_last=2)
    assert dropped == [0, 1]
    left = {
        r["__epoch"]
        for r in spark.read.parquet(out).select("__epoch").distinct().collect()
    }
    assert left == {2, 3}
    # reader still sees the full latest state
    got = _surv_map(survivors(read_snapshot_assigned(spark, out)))
    assert got[1] == (2, 20, 2)
    assert set(got) == {1, 101, 102, 103}


def test_delta_chain_equals_full_chain(spark):
    """Two stores, same build + two refresh batches — one refreshing in
    full mode, one in delta mode: every intermediate and final read
    must be identical, and the delta epochs must contain ONLY the rows
    each batch touched."""
    from rds_glue_s3_etl_pipeline_spark.operators.corpus_snapshot import (
        compact_snapshot,
    )

    hist = [(1, 10), (2, 20), (4, 15), (5, 12), (7, 3)]
    hist_edges = [(1, 2), (4, 5)]
    batches = [
        ([(9, 99)], [(9, 2), (9, 4)]),  # bridges {1,2} and {4,5}
        ([(11, 1)], []),                # singleton, touches nothing else
    ]
    dirs = {m: tempfile.mkdtemp(prefix=f"snap_{m}_") for m in ("full", "delta")}
    for m, out in dirs.items():
        build_snapshot(_docs(spark, hist), _edges(spark, hist_edges), out)
        for i, (docs, edges) in enumerate(batches):
            refresh_snapshot(
                spark, out, _docs(spark, docs), _edges(spark, edges),
                epoch_id=i + 1, mode=m,
            )
            if m == "delta":
                # full store already holds later epochs — pin the read
                # to the epoch the delta store just reached
                a = _surv_map(
                    survivors(
                        read_snapshot_assigned(
                            spark, dirs["full"], before_epoch=i + 2
                        )
                    )
                )
                b = _surv_map(survivors(read_snapshot_assigned(spark, out)))
                assert a == b, f"divergence after epoch {i + 1}"

    # delta epoch 1 = the bridge: 9 plus the relabeled {4,5} members
    # ({1,2} keeps label 1); delta epoch 2 = just the singleton 11.
    d = spark.read.parquet(dirs["delta"])
    e1 = {
        (r["doc_id"], r["cluster_id"], r["__op"])
        for r in d.filter(F.col("__epoch") == 1).collect()
    }
    assert e1 == {(9, 1, "u"), (4, 1, "u"), (5, 1, "u")}
    e2 = {
        (r["doc_id"], r["cluster_id"], r["__op"])
        for r in d.filter(F.col("__epoch") == 2).collect()
    }
    assert e2 == {(11, 11, "u")}

    # compaction folds the chain to a full epoch; reads unchanged,
    # prune can then drop the superseded chain
    from rds_glue_s3_etl_pipeline_spark.operators.corpus_snapshot import (
        prune_snapshot_epochs,
    )

    before = _surv_map(survivors(read_snapshot_assigned(spark, dirs["delta"])))
    ce = compact_snapshot(spark, dirs["delta"])
    assert ce == 3
    assert _surv_map(survivors(read_snapshot_assigned(spark, dirs["delta"]))) == before
    dropped = prune_snapshot_epochs(spark, dirs["delta"], keep_last=1)
    assert dropped == [0, 1, 2]
    assert _surv_map(survivors(read_snapshot_assigned(spark, dirs["delta"]))) == before


def test_delta_replay_is_idempotent(spark):
    out = tempfile.mkdtemp(prefix="snap_dreplay_")
    build_snapshot(
        _docs(spark, [(1, 10), (2, 20)]), _edges(spark, [(1, 2)]), out
    )
    for _ in range(2):  # same delta epoch, twice
        refresh_snapshot(
            spark, out, _docs(spark, [(7, 70)]), _edges(spark, [(7, 1)]),
            epoch_id=1, mode="delta",
        )
    state = read_snapshot_assigned(spark, out)
    assert state.count() == 3
    assert _surv_map(survivors(state)) == {1: (7, 70, 3)}
    # the delta partition holds exactly one copy of the one changed row
    assert spark.read.parquet(out).filter(F.col("__epoch") == 1).count() == 1


def test_delta_reingest_writes_tombstone_free_upsert(spark):
    # replace-mode re-ingest under delta encoding: the re-ingested doc
    # appears once as an upsert; a doc silently dropped from the state
    # would appear as a tombstone (none here).
    out = tempfile.mkdtemp(prefix="snap_dupd_")
    build_snapshot(
        _docs(spark, [(1, 10), (2, 20), (3, 5)]), _edges(spark, [(1, 2)]), out
    )
    refresh_snapshot(
        spark, out, _docs(spark, [(2, 7)]), _edges(spark, []),
        epoch_id=1, mode="delta",
    )
    rows = {
        (r["doc_id"], r["cluster_id"], r["n_chars"], r["__op"])
        for r in spark.read.parquet(out)
        .filter(F.col("__epoch") == 1)
        .collect()
    }
    # doc 2 re-clusters alone (its star edge was replaced) AND doc 1
    # loses its partner: 1's row changes label 1->1? no — {1,2} had
    # label 1, so 1 keeps (1,1) and is NOT in the delta; 2 moves to
    # its own cluster with new n_chars.
    assert rows == {(2, 2, 7, "u")}
    got = _surv_map(survivors(read_snapshot_assigned(spark, out)))
    assert got == {1: (1, 10, 1), 2: (2, 7, 1), 3: (3, 5, 1)}


def test_delta_equivalence_on_corpus_fixture(spark):
    """The q159 lifecycle on the real documents fixture (sf0.001),
    run twice — full-mode epochs vs delta-mode epochs — must produce
    identical survivor tables, and the delta epoch must be smaller
    than the full state it replaces."""
    import os

    from rds_glue_s3_etl_pipeline_spark.catalog import load
    from rds_glue_s3_etl_pipeline_spark.queries.corpus import (
        _SPLIT_MOD,
        _hashed_shingles,
        _incident_edges,
        _staged_edges,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    is_new = F.col("doc_id") % _SPLIT_MOD == 0
    sh = _hashed_shingles(spark, sf_dir)
    sh_hist = sh.filter(F.col("doc_id") % _SPLIT_MOD != 0)
    new_ids = docs.filter(is_new).select("doc_id")

    outs = {m: tempfile.mkdtemp(prefix=f"snap_fx_{m}_") for m in ("full", "delta")}
    for m, out in outs.items():
        build_snapshot(
            docs.filter(~is_new), _staged_edges(sh_hist), out, epoch_id=0
        )
        refresh_snapshot(
            spark, out, docs.filter(is_new),
            _incident_edges(sh, new_ids), epoch_id=1, mode=m,
        )
    full_surv = _surv_map(survivors(read_snapshot_assigned(spark, outs["full"])))
    delta_surv = _surv_map(survivors(read_snapshot_assigned(spark, outs["delta"])))
    assert full_surv == delta_surv

    def epoch_rows(out, e):
        return (
            spark.read.parquet(out).filter(F.col("__epoch") == e).count()
        )

    n_state = epoch_rows(outs["full"], 1)
    n_delta = epoch_rows(outs["delta"], 1)
    n_batch = new_ids.count()
    # the delta is bounded by batch + its blast radius, far below the
    # full state rewrite (measured ratio recorded in SCALE.md)
    assert n_delta < n_state
    assert n_delta <= 3 * n_batch


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_property_incremental_equals_full(spark, data):
    """Property: for ANY random doc set, edge set, and history/new
    split — including new docs bridging several history clusters,
    beating survivors, and multi-batch arrival — folding the batches
    into the snapshot one by one equals clustering the union graph
    from scratch."""
    n = data.draw(st.integers(min_value=2, max_value=14))
    ids = list(range(1, n + 1))
    chars = {
        i: data.draw(st.integers(min_value=1, max_value=50), label=f"chars{i}")
        for i in ids
    }
    all_pairs = [(a, b) for a in ids for b in ids if a < b]
    edges = data.draw(
        st.lists(st.sampled_from(all_pairs), max_size=12, unique=True)
        if all_pairs
        else st.just([]),
        label="edges",
    )
    # split into history + up to 2 ingest batches
    assignment = {
        i: data.draw(st.integers(min_value=0, max_value=2), label=f"slot{i}")
        for i in ids
    }
    hist = [i for i in ids if assignment[i] == 0]
    batches = [
        [i for i in ids if assignment[i] == s] for s in (1, 2)
    ]
    if not hist:  # snapshot needs a non-empty build
        hist, batches = ids, [[], []]

    seen = set(hist)
    out = tempfile.mkdtemp(prefix="snap_prop_")
    build_snapshot(
        _docs(spark, [(i, chars[i]) for i in hist]),
        _edges(spark, [e for e in edges if e[0] in seen and e[1] in seen]),
        out,
    )
    epoch = 0
    for batch in batches:
        if not batch:
            continue
        epoch += 1
        new = set(batch)
        incident = [
            e
            for e in edges
            if (e[0] in new or e[1] in new)
            and e[0] in (seen | new)
            and e[1] in (seen | new)
        ]
        refresh_snapshot(
            spark,
            out,
            _docs(spark, [(i, chars[i]) for i in batch]),
            _edges(spark, incident),
            epoch_id=epoch,
        )
        seen |= new

    inc = _surv_map(survivors(read_snapshot_assigned(spark, out)))
    full_edges = [e for e in edges if e[0] in seen and e[1] in seen]
    full = _surv_map(
        survivors(
            assigned_table(
                _docs(spark, [(i, chars[i]) for i in sorted(seen)]),
                _edges(spark, full_edges),
            )
        )
    )
    assert inc == full


def test_q217_epoch_diff_classifies_churn(spark, tmp_path):
    """Planted corpus: history docs 1,2 (near-dups, 1 longer -> keeper)
    and 3 (singleton). Batch doc 5 is a LONGER near-dup of 1 -> after
    refresh it takes the cluster: 1 is dropped, 5 added, 3 kept
    (untouched), and the cluster that 5 now heads has a different
    member count than any epoch-0 cluster headed by 5 (it didn't
    exist) — no regrouped rows in this picture."""
    from rds_glue_s3_etl_pipeline_spark.queries.corpus import (
        q217_snapshot_epoch_diff,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base + " one", "src1"),
        (2, base + " two", "src1"),              # near-dup of 1, same length
        (3, "totally different text with many unique words here ok", "src2"),
        (5, base + " five extra tail words", "src3"),  # batch (5 % 5 == 0), longer
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    d = d.withColumn("n_chars", F.length("text"))
    out = str(tmp_path / "docs")
    d.coalesce(1).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    got = {
        r["change_type"]: r["n_docs"]
        for r in q217_snapshot_epoch_diff(spark, out).collect()
    }
    assert got.get("added", 0) == 1      # 5 wins the {1,2,5} cluster
    assert got.get("dropped", 0) == 1    # epoch-0 keeper of {1,2} loses
    assert got.get("kept", 0) == 1       # 3 untouched
    assert "regrouped" not in got


def test_survivors_single_window_matches_two_pass(spark):
    """r16: the survivor tail computes rank and n_members in ONE
    cluster_id window pass — pin it against the naive two-pass form
    (rank window + groupBy count + join) on a randomized assignment
    with ties, singletons and a large cluster."""
    import random

    rng = random.Random(1616)
    rows = []
    doc = 0
    for cl in range(40):
        for _ in range(rng.randint(1, 12)):
            rows.append((doc, cl, rng.randint(1, 5) * 10))  # ties likely
            doc += 1
    assigned = spark.createDataFrame(
        rows, "doc_id long, cluster_id long, n_chars long"
    )
    got = _surv_map(survivors(assigned))
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    kept = (
        assigned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_chars").alias("kept_n_chars"),
        )
    )
    members = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    want = _surv_map(kept.join(members, "cluster_id"))
    assert got == want
