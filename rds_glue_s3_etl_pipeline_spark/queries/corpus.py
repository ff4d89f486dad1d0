"""Corpus-snapshot queries: the materialized dedup-survivor workflow
(operators/corpus_snapshot.py) under the driver's oracle.

q159 runs the FULL lifecycle — build a snapshot from the historical
slice, incrementally refresh it with a new batch through the
epoch-partitioned idempotent sink, read the latest epoch back — and
must hash-match q124's full-recompute oracle: the proof that
snapshot+refresh is exactly equivalent to re-clustering the whole
corpus. The module also exposes the build-once snapshot that
q133/q134 (queries/jobs.py) read instead of recomputing survivors
inline.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..catalog import load
from ..functions import text as X
from ..scratch import scratch_dir
from ..session import checkpoint
from .registry import query
from .events3 import _Q124_ORACLE
from .text import _JACCARD_THRESHOLD, _SHINGLE_N

# Deterministic ingest split, same convention as q126: the "new" batch
# is doc_id % 5 == 0 (~20% of the corpus), history is the rest.
_SPLIT_MOD = 5


def _hashed_shingles(spark, sf_dir):
    """Distinct (doc_id, h) hashed-shingle set for the whole corpus,
    materialized once (localCheckpoint) — signatures, sizes, and both
    verify-join sides read it. At 100 TB the history part of this table
    IS the persisted signature store; only the new batch is shingled
    fresh."""
    d = load(spark, sf_dir, "documents")
    return checkpoint(
        X.exploded_word_shingles(d, "text", "doc_id", _SHINGLE_N)
        .select("doc_id", F.xxhash64("sh").alias("h"))
        .distinct(),
        # eager=False: the signature build right after (_signatures,
        # eager) is the first consumer and materializes this checkpoint
        # in the same job — one driver action for the sh+sig store
        # instead of two. Later consumers read the persisted blocks.
        eager=False,
    )


def _signatures(sh, num_perm=32):
    """MinHash signature table over the full hashed-shingle set,
    materialized ONCE per query (localCheckpoint). A doc's signature
    depends only on its own shingles, so build and every refresh fold
    slice this table (cheap filters / semi-joins) instead of
    re-aggregating shingles per stage — at 100 TB this table IS the
    persisted signature store next to the snapshot; recomputing it per
    ingest batch was the dominant per-fold cost (measured ~2-3s of
    each ~5s fold at sf0.1)."""
    from ..operators.dedup import minhash_from_hashed_shingles

    # eager=False: the build's edge generation (the first banding over
    # these signatures, inside the CC gate collect) materializes the
    # store in its own job; every later fold reads the pinned blocks.
    # One driver action less per snapshot query, same sharing.
    return checkpoint(minhash_from_hashed_shingles(sh, num_perm=num_perm), eager=False)


def _staged_edges(sh, num_perm=32, bands=32, sig=None):
    """History-internal staged edges: MinHash → banding → exact verify,
    same parameters as staged_near_dup_edges (q108 proves the staging
    oracle-identical to the all-pairs join). ``sig``, when given, must
    be the signature table of exactly the docs in ``sh`` (the
    _signatures store sliced to the same id set)."""
    from ..operators.dedup import (
        exact_jaccard_edges,
        lsh_candidate_pairs,
        minhash_from_hashed_shingles,
    )

    if sig is None:
        sig = minhash_from_hashed_shingles(sh, num_perm=num_perm)
    cand = lsh_candidate_pairs(sig, num_perm=num_perm, bands=bands)
    return exact_jaccard_edges(sh, cand, _JACCARD_THRESHOLD)


def _incident_edges(sh, new_ids, num_perm=32, bands=32, sig=None):
    """Edges with at least one NEW endpoint: the banding join is driven
    from the new side (new x all), linear in the batch. ``sig``, when
    given, must cover exactly the eligible docs (seen-so-far ∪ batch) —
    the verify side ``sh`` may be a superset, since candidates never
    reference docs outside ``sig``."""
    from ..operators.dedup import (
        exact_jaccard_edges,
        lsh_candidate_pairs_incident,
        minhash_from_hashed_shingles,
    )

    if sig is None:
        sig = minhash_from_hashed_shingles(sh, num_perm=num_perm)
    cand = lsh_candidate_pairs_incident(
        sig, new_ids, num_perm=num_perm, bands=bands
    )
    return exact_jaccard_edges(sh, cand, _JACCARD_THRESHOLD)


@query("q159_corpus_snapshot", oracle=_Q124_ORACLE, tags=("dedup", "pipeline", "EXT"))
def q159_corpus_snapshot(spark, sf_dir):
    """The materialized-survivor lifecycle end-to-end, hash-verified
    against q124's FULL-RECOMPUTE oracle:

      1. BUILD: cluster the historical slice (doc_id % 5 != 0) with
         staged-LSH edges and persist the assignment as epoch 0 via the
         idempotent epoch sink (dynamic partition overwrite).
      2. REFRESH: fold the new batch (doc_id % 5 == 0) in as epoch 1 —
         incident edges only (new x all, banding driven from the new
         side) plus star edges encoding the stored history clustering;
         star-contraction CC over that union re-labels exactly as a
         full recompute would (bridges merge clusters, longer new docs
         replace old survivors).
      3. READ: take the latest epoch and derive the survivor table.

    The oracle is _Q124_ORACLE verbatim — if snapshot+refresh drifted
    from re-clustering the whole corpus by even one row, the hash
    breaks. This is the query a production corpus build RUNS per ingest
    batch; q133/q134 read the same snapshot instead of recomputing.

    Scale: no stage touches history x history after the build — refresh
    work is (batch x corpus) through the band index plus the star-edge
    scan of the assignment table (3 longs/doc). Epoch replay is
    idempotent (tests/test_corpus_snapshot.py replays epoch 1 twice).
    """
    from ..operators.corpus_snapshot import (
        build_snapshot,
        read_snapshot_assigned,
        refresh_snapshot,
        survivors,
    )
    from ..session import released_blocks

    snapshot_dir = scratch_dir("q159_snapshot_")
    with released_blocks(spark):
        docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
        is_new = F.col("doc_id") % _SPLIT_MOD == 0
        sh = _hashed_shingles(spark, sf_dir)
        sig = _signatures(sh)
        sh_hist = sh.filter(F.col("doc_id") % _SPLIT_MOD != 0)
        sig_hist = sig.filter(F.col("doc_id") % _SPLIT_MOD != 0)

        build_snapshot(
            docs.filter(~is_new),
            _staged_edges(sh_hist, sig=sig_hist),
            snapshot_dir,
            epoch_id=0,
        )
        new_ids = docs.filter(is_new).select("doc_id")
        refresh_snapshot(
            spark,
            snapshot_dir,
            docs.filter(is_new),
            _incident_edges(sh, new_ids, sig=sig),
            epoch_id=1,
        )
    return survivors(read_snapshot_assigned(spark, snapshot_dir))


# --------------------------------------------------------------------------
# Build-once snapshot shared by the corpus-build composites (q133/q134):
# the production pattern the q133 docstring promised — materialize the
# survivor table once per corpus snapshot, every downstream reads it.
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# q161: the snapshot refresh as a STREAMING consumer — ingest batches
# arrive as files, foreachBatch folds each into the snapshot through
# the exactly-once epoch sink, and the converged state must STILL
# hash-match the full-recompute oracle.
# --------------------------------------------------------------------------


@query("q161_snapshot_stream_ingest", oracle=_Q124_ORACLE, tags=("dedup", "streaming", "EXT"))
def q161_snapshot_stream_ingest(spark, sf_dir):
    """Streaming corpus ingest end-to-end: the new-docs slice arrives
    as THREE parquet files consumed one per micro-batch
    (maxFilesPerTrigger=1); each foreachBatch invocation refreshes the
    snapshot incrementally (incident edges vs everything SEEN so far —
    membership read from the snapshot state itself, the way a
    production signature store is keyed) under epoch = batch+1. After
    the stream drains, the survivor table must hash-match q124's
    full-recompute oracle — multi-batch incremental ingest ≡ one-shot
    re-clustering, which is the exactly-once + monotone-merge claim of
    the whole snapshot design, now verified through the actual
    Structured Streaming machinery (T6/T9) instead of a hand loop.

    Scale: per batch, work is (batch × seen) through the band index;
    the snapshot read is one partition (latest epoch < target), and a
    batch replay after a crash rewrites its own epoch partition.
    """
    import os as _os

    from ..operators.corpus_snapshot import (
        build_snapshot,
        read_snapshot_assigned,
        refresh_snapshot,
        survivors,
    )
    from ..session import released_blocks

    snapshot_dir = scratch_dir("q161_snapshot_")
    with released_blocks(spark):
        docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
        is_new = F.col("doc_id") % _SPLIT_MOD == 0
        sh = _hashed_shingles(spark, sf_dir)
        # Signature store computed once; each fold slices it to the
        # docs seen so far instead of re-aggregating their shingles.
        sig = _signatures(sh)

        build_snapshot(
            docs.filter(~is_new),
            _staged_edges(
                sh.filter(F.col("doc_id") % _SPLIT_MOD != 0),
                sig=sig.filter(F.col("doc_id") % _SPLIT_MOD != 0),
            ),
            snapshot_dir,
            epoch_id=0,
        )

        # Three deterministic ingest files, one directory per arrival-
        # order batch — a single partitioned write (one job, not three).
        feed_dir = scratch_dir("q161_feed_")
        new_docs = docs.filter(is_new)
        (
            new_docs.withColumn(
                "batch",
                F.concat(F.lit("batch_"), ((F.col("doc_id") % 15) / 5).cast("int")),
            )
            .repartition("batch")
            .write.mode("overwrite")
            .partitionBy("batch")
            .parquet(feed_dir)
        )

        def fold(batch_df, epoch_id):
            target = int(epoch_id) + 1  # epoch 0 is the build
            base = read_snapshot_assigned(spark, snapshot_dir, before_epoch=target)
            batch_ids = batch_df.select("doc_id")
            seen_or_batch = base.select("doc_id").union(batch_ids)
            # The banding sides must cover ONLY seen ∪ batch (a future
            # batch's doc must not pair yet); the verify side may stay
            # the full shingle table — candidates never reference docs
            # outside the sliced signatures.
            sig_seen = sig.join(seen_or_batch, "doc_id", "left_semi")
            # foreachBatch calls this on a py4j thread, which sees none
            # of the query's context variables: the fold opens its own
            # scope, and what the refresh pins dies with its epoch write.
            with released_blocks(spark):
                refresh_snapshot(
                    spark,
                    snapshot_dir,
                    batch_df.select("doc_id", "n_chars"),
                    _incident_edges(sh, batch_ids, sig=sig_seen),
                    epoch_id=target,
                    # read with before_epoch=target above — reuse it
                    # instead of a second watermark probe + parquet
                    # read per fold
                    base=base,
                )

        stream = (
            spark.readStream.schema("doc_id long, n_chars long")
            .option("maxFilesPerTrigger", "1")
            .parquet(_os.path.join(feed_dir, "batch=batch_*"))
        )
        chk = scratch_dir("q161_chk_")
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(fold)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return survivors(read_snapshot_assigned(spark, snapshot_dir))


@query("q168_snapshot_delta_lifecycle", oracle=_Q124_ORACLE, tags=("dedup", "pipeline", "EXT"))
def q168_snapshot_delta_lifecycle(spark, sf_dir):
    """q159's lifecycle under DELTA-ENCODED epochs, end-to-end under
    the oracle: build the historical clustering as full epoch 0,
    fold the new batch in as a DELTA epoch 1 (only the batch's blast
    radius is written — new docs plus relabeled cluster members plus
    tombstones), COMPACT the chain back to a full epoch 2 (whose
    input is the reader's latest-full + delta merge), prune the
    superseded chain, and read the survivor table — which must still
    hash-match q124's full-recompute oracle. One query therefore
    verifies every moving part of the write-optimized epoch store:
    the delta diff, the chain-merge read, compaction, and
    chain-aware retention. tests/test_corpus_snapshot.py pins the
    per-epoch row contracts on hand corpora; this registers the
    production composition under the driver's gate.

    Scale: identical read/refresh shape to q159 — the difference is
    write volume (measured in SCALE.md: the delta epoch is ~1.12x
    the batch in rows vs a full state rewrite, 46x fewer bytes at
    100x with a 1% batch), at the price of a per-doc merge window
    across the (bounded) chain until the next compaction.
    """
    from ..operators.corpus_snapshot import (
        build_snapshot,
        compact_snapshot,
        prune_snapshot_epochs,
        read_snapshot_assigned,
        refresh_snapshot,
        survivors,
    )
    from ..session import released_blocks

    snapshot_dir = scratch_dir("q168_snapshot_")
    with released_blocks(spark):
        docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
        is_new = F.col("doc_id") % _SPLIT_MOD == 0
        sh = _hashed_shingles(spark, sf_dir)
        sig = _signatures(sh)
        sh_hist = sh.filter(F.col("doc_id") % _SPLIT_MOD != 0)
        sig_hist = sig.filter(F.col("doc_id") % _SPLIT_MOD != 0)

        build_snapshot(
            docs.filter(~is_new),
            _staged_edges(sh_hist, sig=sig_hist),
            snapshot_dir,
            epoch_id=0,
        )
        new_ids = docs.filter(is_new).select("doc_id")
        refresh_snapshot(
            spark,
            snapshot_dir,
            docs.filter(is_new),
            _incident_edges(sh, new_ids, sig=sig),
            epoch_id=1,
            mode="delta",
        )
        compact_snapshot(spark, snapshot_dir, epoch_id=2)
        prune_snapshot_epochs(spark, snapshot_dir, keep_last=1)
    return survivors(read_snapshot_assigned(spark, snapshot_dir))


_SNAPSHOT_CACHE: dict[tuple[str, tuple], str] = {}


def _docs_fingerprint(sf_dir: str) -> tuple:
    """Content fingerprint of the documents table (catalog.
    table_fingerprint): keying the snapshot cache on this means a
    fixture REBUILT in-process (scale_probe build→run in one process)
    invalidates the cached clustering instead of silently serving a
    stale one (round-7 ADVICE)."""
    from ..catalog import table_fingerprint

    return table_fingerprint(sf_dir, "documents")


def corpus_survivor_snapshot(spark, sf_dir):
    """Survivor DataFrame (cluster_id, kept_doc_id, kept_n_chars,
    n_members) read from the materialized full-corpus snapshot,
    building it on first use per (process, corpus content). Downstream
    composites (q133 export, q134 mix report) share ONE clustering
    pass this way instead of each recomputing q124 inline. The cache
    key includes a file-level fingerprint of the documents table (see
    _docs_fingerprint) and the store lives under the managed scratch
    root (scratch.py), so rebuilt fixtures re-cluster and nothing
    leaks past process exit."""
    from ..operators.corpus_snapshot import (
        build_snapshot,
        read_snapshot_assigned,
        survivors,
    )
    from .text import staged_near_dup_edges

    from ..session import released_blocks

    key = (os.path.abspath(sf_dir), _docs_fingerprint(sf_dir))
    cached = _SNAPSHOT_CACHE.get(key)
    if cached is None or not os.path.isdir(cached):
        snapshot_dir = scratch_dir("corpus_snapshot_")
        with released_blocks(spark):
            docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
            edges = staged_near_dup_edges(spark, sf_dir)
            build_snapshot(docs, edges, snapshot_dir, epoch_id=0)
        _SNAPSHOT_CACHE[key] = snapshot_dir
        cached = snapshot_dir
    return survivors(read_snapshot_assigned(spark, cached))


# --------------------------------------------------------------------------
# q211: the RE-INGEST (overlap) contract under the oracle. q159/q161/
# q168 exercise disjoint splits only; the on_reingest="replace" path
# (operators/corpus_snapshot.py refresh_snapshot) was pytest-covered
# but never sweep-verified end-to-end (round-8 verdict item #9).
# --------------------------------------------------------------------------


@query("q211_snapshot_overlap_replay", oracle=_Q124_ORACLE, tags=("dedup", "pipeline", "EXT"))
def q211_snapshot_overlap_replay(spark, sf_dir):
    """Snapshot refresh where the ingest batch OVERLAPS history — the
    re-crawl case: build epoch 0 from the historical slice
    (doc_id % 5 != 0), then fold ONE batch containing the new slice
    (doc_id % 5 == 0) PLUS a ~10% re-ingest of history
    (doc_id % 10 == 1, identical content) with on_reingest="replace".
    The replace contract drops the re-ingested ids' history rows
    (left_anti) and reconnects them purely through the batch's
    incident edges, so with unchanged content the refreshed state must
    equal a fresh full-corpus build — hash-matched against q124's
    full-recompute oracle, turning the pytest-only contract into a
    sweep-verified one.

    Scale: identical refresh shape to q159 — (batch x corpus) through
    the band index plus the star-edge scan; the overlap adds one
    left_anti on batch ids (a broadcast-size id list per ingest)."""
    from ..operators.corpus_snapshot import (
        build_snapshot,
        read_snapshot_assigned,
        refresh_snapshot,
        survivors,
    )
    from ..session import released_blocks

    snapshot_dir = scratch_dir("q211_snapshot_")
    with released_blocks(spark):
        docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
        is_new = F.col("doc_id") % _SPLIT_MOD == 0
        is_reingest = F.col("doc_id") % 10 == 1  # always history (odd ids)
        sh = _hashed_shingles(spark, sf_dir)
        sig = _signatures(sh)

        build_snapshot(
            docs.filter(~is_new),
            _staged_edges(
                sh.filter(F.col("doc_id") % _SPLIT_MOD != 0),
                sig=sig.filter(F.col("doc_id") % _SPLIT_MOD != 0),
            ),
            snapshot_dir,
            epoch_id=0,
        )
        batch = docs.filter(is_new | is_reingest)
        batch_ids = batch.select("doc_id")
        refresh_snapshot(
            spark,
            snapshot_dir,
            batch,
            _incident_edges(sh, batch_ids, sig=sig),
            epoch_id=1,
            on_reingest="replace",
        )
    return survivors(read_snapshot_assigned(spark, snapshot_dir))


# --------------------------------------------------------------------------
# q217: snapshot epoch DIFF — what an ingest batch actually changed.
# The audit a data team reads after every refresh: which survivors
# appeared, which were replaced, which clusters merely regrouped.
# --------------------------------------------------------------------------


def _keep_best_ctes(pred: str, s: str) -> str:
    """The q124 keep-best pipeline as a CTE list (no WITH keyword),
    parameterized by a document predicate and a name suffix so two
    instances can live in one statement. For pred TRUE this is
    _Q124_ORACLE's logic verbatim (events3.py)."""
    return f"""docs{s} AS (
  SELECT doc_id, text, n_chars FROM documents WHERE {pred}
),
toks{s} AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS t FROM docs{s}
),
shingles{s} AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           array_to_string(t[i:i+{_SHINGLE_N - 1}], ' ') AS sh
    FROM (SELECT doc_id, t,
                 unnest(generate_series(1, GREATEST(array_length(t) - {_SHINGLE_N - 1}, 0))) AS i
          FROM toks{s})
  )
),
sizes{s} AS (SELECT doc_id, COUNT(*) AS n FROM shingles{s} GROUP BY doc_id),
sym{s} AS (
  SELECT doc_a AS a, doc_b AS b FROM (
    SELECT i.doc_a, i.doc_b FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles{s} a JOIN shingles{s} b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ) i
    JOIN sizes{s} sa ON sa.doc_id = i.doc_a
    JOIN sizes{s} sb ON sb.doc_id = i.doc_b
    WHERE i.n_common / (sa.n + sb.n - i.n_common) >= {_JACCARD_THRESHOLD}
  )
  UNION
  SELECT doc_b, doc_a FROM (
    SELECT i.doc_a, i.doc_b FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles{s} a JOIN shingles{s} b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ) i
    JOIN sizes{s} sa ON sa.doc_id = i.doc_a
    JOIN sizes{s} sb ON sb.doc_id = i.doc_b
    WHERE i.n_common / (sa.n + sb.n - i.n_common) >= {_JACCARD_THRESHOLD}
  )
),
reach{s}(a, b) AS (
  SELECT a, b FROM sym{s}
  UNION
  SELECT r.a, x.b FROM reach{s} r JOIN sym{s} x ON r.b = x.a
),
cl{s} AS (
  SELECT a AS doc_id, LEAST(MIN(b), a) AS cluster_id FROM reach{s} GROUP BY a
),
assigned{s} AS (
  SELECT d.doc_id, COALESCE(cl{s}.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM docs{s} d LEFT JOIN cl{s} ON d.doc_id = cl{s}.doc_id
),
keep{s} AS (
  SELECT r.cluster_id, r.doc_id AS kept_doc_id, r.n_chars AS kept_n_chars,
         m.n_members
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
        FROM assigned{s}) r
  JOIN (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM assigned{s} GROUP BY cluster_id) m USING (cluster_id)
  WHERE r.rn = 1
)"""


_Q217_ORACLE = f"""
WITH RECURSIVE
{_keep_best_ctes(f"doc_id % {_SPLIT_MOD} <> 0", "_h")},
{_keep_best_ctes("TRUE", "_f")},
diff AS (
  SELECT CASE WHEN a.kept_doc_id IS NULL THEN 'added'
              WHEN b.kept_doc_id IS NULL THEN 'dropped'
              WHEN a.cluster_id <> b.cluster_id
                   OR a.n_members <> b.n_members THEN 'regrouped'
              ELSE 'kept' END AS change_type,
         COALESCE(b.kept_n_chars, a.kept_n_chars) AS n_chars
  FROM keep_h a FULL OUTER JOIN keep_f b ON a.kept_doc_id = b.kept_doc_id
)
SELECT change_type,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM diff GROUP BY change_type
"""


@query("q217_snapshot_epoch_diff", oracle=_Q217_ORACLE, tags=("dedup", "pipeline", "EXT"))
def q217_snapshot_epoch_diff(spark, sf_dir):
    """Diff two snapshot epochs' survivor tables: after the q159 build
    (epoch 0 = history) + refresh (epoch 1 = history + batch), classify
    every survivor as added (new batch doc won a cluster), dropped
    (replaced or merged away), regrouped (still the keeper but its
    cluster id or member count moved), or kept. The oracle recomputes
    BOTH epochs from scratch (keep-best over the history slice, then
    over the full corpus) and takes the same diff — so the epoch-0
    parquet state, the refresh convergence, AND the diff logic are all
    pinned by one hash.

    Scale: both sides are survivor tables (corpus/dup-rate-bounded,
    far smaller than the corpus); the diff is one full outer hash join
    on kept_doc_id plus a 4-row aggregate. The epoch read is
    partition-pruned (__epoch ranges), never a scan of all epochs.

    Reference scope: EXT (SURVEY §2.11 corpus snapshot family).
    """
    from ..operators.corpus_snapshot import (
        build_snapshot,
        read_snapshot_assigned,
        refresh_snapshot,
        survivors,
    )
    from ..session import released_blocks

    snapshot_dir = scratch_dir("q217_snapshot_")
    with released_blocks(spark):
        docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
        is_new = F.col("doc_id") % _SPLIT_MOD == 0
        sh = _hashed_shingles(spark, sf_dir)
        sig = _signatures(sh)
        sh_hist = sh.filter(F.col("doc_id") % _SPLIT_MOD != 0)
        sig_hist = sig.filter(F.col("doc_id") % _SPLIT_MOD != 0)

        build_snapshot(
            docs.filter(~is_new),
            _staged_edges(sh_hist, sig=sig_hist),
            snapshot_dir,
            epoch_id=0,
        )
        new_ids = docs.filter(is_new).select("doc_id")
        refresh_snapshot(
            spark,
            snapshot_dir,
            docs.filter(is_new),
            _incident_edges(sh, new_ids, sig=sig),
            epoch_id=1,
        )
    e0 = survivors(read_snapshot_assigned(spark, snapshot_dir, before_epoch=1))
    e1 = survivors(read_snapshot_assigned(spark, snapshot_dir))
    a, b = e0.alias("a"), e1.alias("b")
    diff = a.join(
        b, F.col("a.kept_doc_id") == F.col("b.kept_doc_id"), "full_outer"
    ).select(
        F.when(F.col("a.kept_doc_id").isNull(), "added")
        .when(F.col("b.kept_doc_id").isNull(), "dropped")
        .when(
            (F.col("a.cluster_id") != F.col("b.cluster_id"))
            | (F.col("a.n_members") != F.col("b.n_members")),
            "regrouped",
        )
        .otherwise("kept")
        .alias("change_type"),
        F.coalesce("b.kept_n_chars", "a.kept_n_chars").alias("n_chars"),
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
