"""Materialized dedup-survivor snapshot — the corpus-build state store.

A 100 TB training-data pipeline does not recompute near-dup clusters
per downstream query: it materializes the cluster assignment ONCE per
corpus snapshot, the export (q133) and mix-report (q134) read it, and
each ingest batch REFRESHES it incrementally (new docs vs history, the
q126 shape) instead of re-clustering the corpus. This module is that
workflow, built on two already-verified pieces:

- the epoch-partitioned idempotent parquet sink (streaming/ops.py:
  _write_epoch_partition): every build/refresh writes the full updated
  assignment under ``__epoch=<id>`` with DYNAMIC partition overwrite,
  so a replayed epoch (driver restart between write and commit)
  rewrites exactly its own partition — exactly-once without a
  transactional table format. Readers take the max epoch.
- star-contraction connected components (operators/graph.py): refresh
  merges the NEW batch's incident edges with STAR edges that encode
  the historical clustering (doc → its cluster root). The star edges
  preserve history connectivity exactly, so the merged components —
  and therefore the survivor pick — are IDENTICAL to a full recompute
  over the whole corpus (q159 hash-verifies this against q124's
  full-recompute oracle). A new doc that bridges two old clusters
  merges them; a new doc longer than an old survivor replaces it —
  retraction comes for free because each epoch rewrites the full
  assignment state.

State size: the assignment table is 3 longs per document — at 100 TB
corpus scale (~1e10 docs) that is ~240 GB of parquet, a rounding error
next to the corpus — but rewriting ALL of it per ingest batch is not:
refresh therefore supports ``mode="delta"`` (write only the rows the
batch changed, plus tombstones; see refresh_snapshot), the reader
merges latest-full + deltas per doc, and :func:`compact_snapshot`
folds a chain back to a full epoch — the LSM/table-format pattern.
Full-state epochs remain the default: the reader stays a trivial
max-epoch filter, which is right until write volume dominates.

Capability parity note: the reference pipeline has no incremental
state at all (gule_test_job.py re-reads and re-merges everything per
run); this is the Spark-first generalization of its merge-then-write
dataflow to a corpus-scale survivor store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import checkpoint
from ..streaming.ops import _write_epoch_partition
from .graph import connected_components_star
from .skew import BROADCAST_ROW_GATE


def write_snapshot_epoch(
    assigned: DataFrame, snapshot_dir: str, epoch_id: int, kind: str = "full"
) -> None:
    """Write one epoch under ``__epoch=<id>`` with dynamic partition
    overwrite — replaying the same epoch rewrites its partition instead
    of appending duplicates (idempotent). ``kind`` marks the epoch as a
    ``"full"`` state or a ``"delta"`` (changed rows + tombstones); both
    carry a per-row ``__op`` ('u' upsert / 'd' tombstone, defaulted to
    'u' when absent) so the reader merges chains uniformly."""
    if kind not in ("full", "delta"):
        raise ValueError(f"kind must be 'full' or 'delta': {kind!r}")
    out = assigned
    if "__op" not in out.columns:
        out = out.withColumn("__op", F.lit("u"))
    out = out.withColumn("__kind", F.lit(kind))
    _write_epoch_partition(out, epoch_id, snapshot_dir)


def read_snapshot_assigned(
    spark: SparkSession, snapshot_dir: str, before_epoch: int | None = None
) -> DataFrame:
    """Assignment state (doc_id, cluster_id, n_chars) at the latest
    epoch — or, with ``before_epoch``, at the latest epoch STRICTLY
    BEFORE it (the base a refresh of that epoch must read, see
    :func:`refresh_snapshot`).

    Delta-aware: the state at epoch E is the latest FULL epoch F <= E
    with every delta in (F, E] applied — per doc, the row from the
    highest epoch wins (one hash shuffle on doc_id over the F..E
    partitions only; the epoch-range filter prunes at the partition
    level), and tombstoned docs ('d') drop out. A store of only full
    epochs short-circuits to the single-partition read with no merge
    shuffle — q159/q161's plan is unchanged by delta support."""
    df = spark.read.parquet(snapshot_dir)
    cand = df if before_epoch is None else df.filter(F.col("__epoch") < before_epoch)
    # One probe job for both epoch watermarks (latest overall + latest
    # FULL): the refresh/read paths call this per epoch fold, and at
    # bench scale every extra driver action costs more than the scan.
    probe = cand.select(
        F.max("__epoch").alias("m"),
        F.max(F.when(F.col("__kind") == "full", F.col("__epoch"))).alias("f"),
    ).first()
    latest, base_full = probe["m"], probe["f"]
    if latest is None:
        raise ValueError(
            f"no snapshot epoch in {snapshot_dir}"
            + ("" if before_epoch is None else f" before epoch {before_epoch}")
        )
    if base_full is None:
        raise ValueError(
            f"no FULL epoch at or before {latest} in {snapshot_dir}; a delta "
            "chain needs a full anchor (build_snapshot / compact_snapshot)"
        )
    if base_full == latest:  # no deltas to merge — plain partition read
        return df.filter(F.col("__epoch") == latest).drop(
            "__epoch", "__kind", "__op"
        )
    live = cand.filter(
        (F.col("__epoch") >= base_full) & (F.col("__epoch") <= latest)
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("__epoch").desc())
    return (
        live.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("__op") != "d"))
        .drop("__epoch", "__kind", "__op", "__rn")
    )


def assigned_table(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, n_chars) for every document: star-contraction
    components over ``edges`` (doc_a, doc_b), singletons keep
    themselves. The cluster map (only docs that HAVE a dup) is
    broadcast into the corpus join — smaller than the corpus by the dup
    rate; drop the hint for a majority-duplicate corpus."""
    cl = connected_components_star(edges, src="doc_a", dst="doc_b").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    return docs.join(F.broadcast(cl), "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        "n_chars",
    )


def survivors(assigned: DataFrame) -> DataFrame:
    """q124's survivor contract from an assignment state: one kept doc
    per cluster (longest text, ties to lowest doc_id) plus the member
    count — (cluster_id, kept_doc_id, kept_n_chars, n_members). Both
    the rank and the member count are window functions over the SAME
    cluster_id partitioning, so the whole tail is one exchange + one
    sort over a single scan of ``assigned`` — the previous
    groupBy-count + join re-scanned the assignment and shuffled it a
    second time for an identical result (count(*) over the partition
    == the per-cluster group count; the inner join never dropped a
    kept row since its cluster has >= 1 member by construction)."""
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("cluster_id")
    return (
        assigned.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_chars").alias("kept_n_chars"),
            "n_members",
        )
    )


def build_snapshot(
    docs: DataFrame, edges: DataFrame, snapshot_dir: str, epoch_id: int = 0
) -> None:
    """Initial snapshot: cluster the given corpus slice and persist the
    assignment as the first epoch."""
    write_snapshot_epoch(assigned_table(docs, edges), snapshot_dir, epoch_id)


def refresh_snapshot(
    spark: SparkSession,
    snapshot_dir: str,
    new_docs: DataFrame,
    new_incident_edges: DataFrame,
    epoch_id: int,
    on_reingest: str = "replace",
    mode: str = "full",
    base: DataFrame | None = None,
) -> None:
    """Incremental refresh: fold a new batch into the snapshot without
    re-clustering history.

    ``new_incident_edges`` must contain every near-dup edge with at
    least one NEW endpoint (new x history and new x new — the
    lsh_candidate_pairs_incident + exact_jaccard_edges path, linear in
    the batch). History-internal connectivity is carried by star edges
    derived from the stored assignment (doc → cluster root), so the
    union graph has exactly the components of a full recompute: a new
    doc can bridge two historical clusters (they merge, label = global
    min) or beat a historical survivor (the per-cluster window re-picks
    it). Writes the full updated state as ``epoch_id``; replaying the
    same epoch is idempotent: the base state is read from the latest
    epoch STRICTLY BEFORE ``epoch_id`` (a replay after a partial or
    committed write of this epoch must not read its own output as
    history), and the write dynamically overwrites only this epoch's
    partition.

    Re-ingest contract (``on_reingest``): a batch may contain a doc_id
    already in the snapshot (re-crawl / content update). A naive union
    would then carry DUPLICATE doc_id rows forever — inflating
    n_members and potentially emitting two survivors for one doc.

    - ``"replace"`` (default): the batch WINS — history rows for
      re-ingested ids are dropped (left_anti on the batch ids) before
      the union, so the doc's n_chars, survivor eligibility, AND its
      old star edge are replaced: the doc reconnects only through the
      batch's incident edges, approximating what a full recompute on
      the updated content would do. One conservative residue: if the
      re-ingested doc was a cluster LABEL and its new content has no
      edge back to that cluster, the old members keep its id as their
      (now dangling) cluster label — under blast-radius re-clustering
      they stay grouped under that label without following the updated
      doc into its new cluster (the pre-blast-radius form instead
      dragged them along transitively; both are approximations of the
      true re-cluster, which would make them singletons). Content
      updates that must retract stale membership exactly need a full
      re-cluster (build_snapshot); that is the documented limit of
      incremental refresh.
    - ``"error"``: assert batch ∩ snapshot = ∅ and raise with the
      offending count otherwise (one bounded semi-join count over the
      3-column assignment — cheap next to the refresh itself). Use
      where upstream already guarantees append-only ingest and a
      re-ingested id indicates a pipeline bug.

    Write volume (``mode``): ``"full"`` (default) writes the complete
    updated state every epoch — the reader stays a single-partition
    filter, the right default until write volume dominates (~3 longs
    per doc per ingest batch: ~240 GB/batch at 1e10 docs). ``"delta"``
    writes ONLY the rows this batch changed — new docs plus every
    history doc whose cluster label or n_chars moved (a bridge
    relabels the absorbed cluster's members; those rows appear, the
    untouched ones don't) plus tombstones for docs that left the state
    — so write volume is proportional to the batch's blast radius,
    not the corpus. The reader reconstructs state as latest-full +
    deltas (per-doc highest epoch wins); :func:`compact_snapshot`
    periodically folds the chain back to a full epoch to bound read
    fan-in, exactly the LSM/table-format compaction pattern. Epoch
    replay stays idempotent in both modes: the delta is recomputed
    against the state strictly before ``epoch_id`` and dynamically
    overwrites its own partition.
    """
    if on_reingest not in ("replace", "error"):
        raise ValueError(f"on_reingest must be 'replace' or 'error': {on_reingest!r}")
    if mode not in ("full", "delta"):
        raise ValueError(f"mode must be 'full' or 'delta': {mode!r}")
    # ``base``: the assignment state at the latest epoch STRICTLY
    # BEFORE ``epoch_id``, when the caller has already read it (q161's
    # streaming fold reads the same state to derive the seen-id set) —
    # skips a duplicate watermark-probe action + parquet re-read per
    # fold. Callers that pass it must have read it with
    # before_epoch=epoch_id, or replay idempotence breaks.
    if base is None:
        base = read_snapshot_assigned(spark, snapshot_dir, before_epoch=epoch_id)
    hist = base  # pre-refresh state; base stays the delta diff's reference
    new_ids = new_docs.select("doc_id")
    if on_reingest == "error":
        n_dup = hist.join(new_ids, "doc_id", "left_semi").count()
        if n_dup:
            raise ValueError(
                f"refresh batch re-ingests {n_dup} doc_id(s) already in "
                f"the snapshot at {snapshot_dir}; use on_reingest='replace' "
                "to let the batch win"
            )
    else:
        hist = hist.join(new_ids, "doc_id", "left_anti")
    # BLAST-RADIUS re-clustering: only history clusters touched by the
    # batch — an incident-edge endpoint or a re-ingested id — can change
    # label or survivor; every other row is copied forward verbatim.
    # Without this the refresh ran star-contraction over the WHOLE
    # corpus's star graph per ingest batch (a full-corpus shuffle at
    # 1e10 docs for a 1e7 batch); now the CC input is the batch's
    # incident edges plus the member rows of the clusters they touch.
    # Equivalence to the full recompute (oracle-checked in q159/q161/
    # q168/q211): a component with no new edge and no removed member
    # keeps exactly its old min-label and members, and any history doc
    # with a new edge is a seed by construction, so untouched clusters
    # truly have no new edges.
    # Materialize the incident edges once — they feed both the seed
    # derivation and the CC union, and recomputing the verify join
    # twice would double the fold's dominant stage. eager=False: the
    # broadcast-gate count below is the first action against the
    # checkpoint — its CollectLimit probe may compute only part of the
    # final stage, with the remainder materializing in the first full
    # consumer; either way the lineage runs once and the blocks pin as
    # computed (one driver round-trip instead of three for the
    # inc/affected/gate chain). The upstream here is deterministic, so
    # partial-then-complete materialization cannot skew.
    inc = checkpoint(new_incident_edges.select("doc_a", "doc_b"), eager=False)
    seed_ids = (
        inc.select(F.col("doc_a").alias("doc_id"))
        .union(inc.select(F.col("doc_b").alias("doc_id")))
        .union(new_ids)
        .distinct()
    )
    # affected is blast-radius-bounded (#touched clusters <= #seed
    # endpoints), but the bound is ENFORCED, not assumed. One BOUNDED
    # collect serves the gate AND turns the cluster set into a
    # driver-local relation (single long column — a safe pandas round
    # trip): the touched/untouched joins then broadcast it with no
    # separate build job, and this collect is the action that
    # materializes the incident-edge checkpoint chain (previously a
    # limit/count probe + a broadcast build job did the same work).
    aff = checkpoint(
        hist.join(seed_ids, "doc_id", "left_semi")
        .select("cluster_id")
        .distinct(),
        eager=False,
    )
    cl_type = hist.schema["cluster_id"].dataType.simpleString()
    apdf = aff.limit(BROADCAST_ROW_GATE + 1).toPandas()
    # A NULL cluster_id would turn the pandas column into float64 and
    # break or skew createDataFrame far from the cause; no refresh or
    # build ever writes one, so a NULL here means a corrupt snapshot.
    if not apdf["cluster_id"].notna().all():
        raise ValueError(
            f"snapshot at {snapshot_dir} has a NULL cluster_id among the "
            "clusters this batch touches"
        )
    if len(apdf) <= BROADCAST_ROW_GATE:
        affected = F.broadcast(
            spark.createDataFrame(apdf, schema=f"cluster_id {cl_type}")
        )
    else:  # over-gate blast radius: fall back to the distributed join
        affected = aff
    touched = hist.join(affected, "cluster_id", "left_semi")
    untouched = hist.join(affected, "cluster_id", "left_anti")
    star = touched.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("doc_b")
    )
    edges = inc.union(star)
    docs = touched.select("doc_id", "n_chars").union(
        new_docs.select("doc_id", "n_chars")
    )
    state = assigned_table(docs, edges).unionByName(
        untouched.select("doc_id", "cluster_id", "n_chars")
    )
    if mode == "full":
        write_snapshot_epoch(state, snapshot_dir, epoch_id)
        return
    write_snapshot_epoch(
        _state_delta(base, state), snapshot_dir, epoch_id, kind="delta"
    )


def _state_delta(base: DataFrame, new_state: DataFrame) -> DataFrame:
    """Rows the refresh actually changed: upserts ('u') for docs that
    are new or whose (cluster_id, n_chars) moved, tombstones ('d') for
    docs present in ``base`` but absent from ``new_state``. One
    full-outer join keyed on doc_id — both sides are 3-long tables, so
    the diff costs one co-partitioned shuffle of the assignment, never
    touches the corpus."""
    b = base.select(
        "doc_id",
        F.col("cluster_id").alias("__b_cluster"),
        F.col("n_chars").alias("__b_chars"),
    )
    j = new_state.join(b, "doc_id", "full_outer")
    ups = j.filter(
        F.col("cluster_id").isNotNull()
        & (
            F.col("__b_cluster").isNull()
            | (F.col("__b_cluster") != F.col("cluster_id"))
            | (F.col("__b_chars") != F.col("n_chars"))
        )
    ).select("doc_id", "cluster_id", "n_chars", F.lit("u").alias("__op"))
    dels = j.filter(F.col("cluster_id").isNull()).select(
        "doc_id",
        F.col("__b_cluster").alias("cluster_id"),
        F.col("__b_chars").alias("n_chars"),
        F.lit("d").alias("__op"),
    )
    return ups.unionByName(dels)


def compact_snapshot(
    spark: SparkSession, snapshot_dir: str, epoch_id: int | None = None
) -> int:
    """Fold the delta chain back into one FULL epoch: read the current
    state and write it as epoch ``epoch_id`` (default: max epoch + 1,
    so the compaction is itself an idempotently-replayable epoch).
    After compaction the reader is a single-partition filter again and
    :func:`prune_snapshot_epochs` can retire the superseded chain.
    Returns the compaction epoch id."""
    state = read_snapshot_assigned(spark, snapshot_dir)
    if epoch_id is None:
        latest = (
            spark.read.parquet(snapshot_dir)
            .select(F.max("__epoch").alias("m"))
            .first()["m"]
        )
        epoch_id = int(latest) + 1
    write_snapshot_epoch(state, snapshot_dir, epoch_id, kind="full")
    return epoch_id


def prune_snapshot_epochs(
    spark: SparkSession, snapshot_dir: str, keep_last: int = 2
) -> list[int]:
    """Retention for the epoch store: keep the newest ``keep_last``
    FULL epochs — each a complete replay anchor — plus every delta
    that chains onto them, and drop everything older. For an all-full
    store this is exactly "keep the last keep_last epochs"; for a
    delta store it never strands a delta without its full base (a
    superseded chain becomes prunable only after compact_snapshot
    writes the next full epoch past it). Two generations is the safe
    default so an in-flight refresh replaying against the previous
    epoch still finds its base. Returns the pruned epoch ids;
    directory removal per partition, no data rewrite — the same cheap
    retention a table format's VACUUM does."""
    import shutil

    df = spark.read.parquet(snapshot_dir)
    rows = df.select("__epoch", "__kind").distinct().collect()
    fulls = sorted(r["__epoch"] for r in rows if r["__kind"] == "full")
    epochs = sorted(r["__epoch"] for r in rows)
    if keep_last <= 0:
        to_drop = epochs
    elif not fulls:
        to_drop = []  # nothing prunable without a full anchor
    else:
        anchor = fulls[-keep_last] if len(fulls) >= keep_last else fulls[0]
        to_drop = [e for e in epochs if e < anchor]
    for e in to_drop:
        shutil.rmtree(
            os.path.join(snapshot_dir, f"__epoch={e}"), ignore_errors=True
        )
    return to_drop
