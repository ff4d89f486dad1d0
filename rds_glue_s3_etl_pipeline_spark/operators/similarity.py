"""Similarity search over embedding columns (north-star extension):
the exact cosine pair join (cosine_pairs) with its top-k tail, the
nearest-centroid step every codebook assignment and probe goes through
(nearest_centroids), brute-force cosine top-k as the exact baseline,
and random-hyperplane LSH bucketing as the 100 TB scale path
(candidates only within a bucket).

The hyperplanes are pseudo-random but fully deterministic: component
(plane p, dim d) is derived from xxhash64(p, d) mapped to [-1, 1] —
reproducible across runs with zero driver-side state to broadcast.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import vector as V
from ..session import checkpoint


def cosine_pairs(
    left: DataFrame,
    right: DataFrame | None = None,
    block_cols=(),
) -> DataFrame:
    """The exact cosine pair join every dedup, k-NN and eps-graph
    scorer refines through: (*block_cols, a, b, cs), ``cs`` the
    4dp-rounded cosine of a's and b's embeddings.

    Each side contributes only ``vec_id`` (as a / b), ``embedding`` and
    ``block_cols``, and its norm is folded once per row before the
    join, so a pair costs one dot-product fold instead of three — the
    same doubles in the same order as :func:`V.cosine`, bit for bit.
    ``right=None`` is the self-join on a < b (each unordered pair
    once); two frames give the directed pairs a != b. With
    ``block_cols`` the sides equi-join on them; without, ``right`` is
    broadcast into a nested-loop join (a sample or fixture-bounded
    side — the exact arms and truth anchors).
    """
    block_cols = list(block_cols)

    def side(df, name):
        return df.select(
            *block_cols,
            F.col("vec_id").alias(name),
            F.col("embedding").alias(f"{name}_v"),
            V.norm(F.col("embedding")).alias(f"{name}_n"),
        )

    a = side(left, "a")
    b = side(left if right is None else right, "b")
    keep = F.col("a") < F.col("b") if right is None else F.col("a") != F.col("b")
    pairs = (
        a.join(b, block_cols).filter(keep)
        if block_cols
        else a.join(F.broadcast(b), keep)
    )
    cs = F.round(
        V.dot(F.col("a_v"), F.col("b_v")) / (F.col("a_n") * F.col("b_n")), 4
    )
    return pairs.select(*block_cols, "a", "b", cs.alias("cs"))


def pair_topk(pairs: DataFrame, k: int) -> DataFrame:
    """The top-k tail of :func:`cosine_pairs`: each a's ``k`` best
    pairs by cs desc, ties to the smaller b, ranked 1..k in ``rnk`` (a
    long)."""
    w = Window.partitionBy("a").orderBy(F.desc("cs"), F.asc("b"))
    return pairs.withColumn("rnk", F.row_number().over(w).cast("long")).filter(
        F.col("rnk") <= k
    )


def nearest_centroids(
    df: DataFrame,
    codebook: DataFrame,
    n: int = 1,
    block_cols=(),
    broadcast: bool = True,
) -> DataFrame:
    """The one centroid-scoring step: each row of ``df`` ranked against
    the codebook entries of its block by 4dp cosine desc, ties to the
    smaller id, keeping its best ``n``.

    ``codebook`` is (*block_cols, id, cv); its one column outside the
    block columns and ``cv`` is the id, and keeps its name in the
    output: df's columns plus that id, ``cos_sim`` and ``probe_rank``
    (1..n) — up to ``n`` rows per input row, none when its block has
    no entries. ``df`` contributes ``embedding`` and the block columns.

    Each side's norm is folded once, as in :func:`cosine_pairs`, so
    ``cos_sim`` is the 4dp-rounded :func:`V.cosine` of ``embedding``
    and ``cv``, bit for bit. Each block's codebook is collected into
    one array row and joined to ``df`` (broadcast while ``broadcast`` holds, otherwise an
    equi-join on the block columns); every entry is scored and the
    (cs, -id) structs are sorted descending — Spark's order: NaN
    largest, a null cosine last — so the argmax is ``n=1`` and no
    window or shuffle follows the join.
    """
    block_cols = list(block_cols)
    (cid,) = [c for c in codebook.columns if c not in (*block_cols, "cv")]
    cb = codebook.groupBy(*block_cols).agg(
        F.collect_list(
            F.struct(
                F.col(cid).alias("i"),
                F.col("cv").alias("v"),
                V.norm(F.col("cv")).alias("n"),
            )
        ).alias("__cb")
    )
    cb = F.broadcast(cb) if broadcast else cb
    v = df.withColumn("__vn", V.norm(F.col("embedding")))
    joined = v.join(cb, block_cols) if block_cols else v.crossJoin(cb)

    def score(c):
        cs = V.dot(F.col("embedding"), c["v"]) / (F.col("__vn") * c["n"])
        return F.struct(
            F.round(cs, 4).alias("cs"), (-c["i"]).alias("neg"), c["i"].alias("i")
        )

    top = F.slice(F.sort_array(F.transform("__cb", score), asc=False), 1, n)
    return joined.select(*df.columns, F.posexplode(top).alias("__r", "__c")).select(
        *df.columns,
        F.col("__c.i").alias(cid),
        F.col("__c.cs").alias("cos_sim"),
        (F.col("__r") + 1).alias("probe_rank"),
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Exact top-k (query_id_col, id_col, cos_sim, rank): the (small)
    query set broadcast against the corpus through :func:`cosine_pairs`
    (directed, so a query never scores itself), ranked per query by
    :func:`pair_topk`.

    One pass over the corpus, no shuffle until the final per-query
    top-k window over #queries × #corpus scored rows (use a LIMIT-ed
    query set; for query sets too big to broadcast, use lsh_buckets).
    """
    pairs = cosine_pairs(
        embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ),
        queries.select(
            F.col(query_id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ),
    )
    # the query is cosine_pairs' broadcast b side; the tail ranks per a
    ranked = pair_topk(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"), "cs"), k
    )
    return ranked.select(
        F.col("a").alias(query_id_col),
        F.col("b").alias(id_col),
        F.col("cs").alias("cos_sim"),
        F.col("rnk").alias("rank"),
    )


def hyperplane_component(plane: F.Column, dim: F.Column) -> F.Column:
    """Deterministic pseudo-random hyperplane weight in [-1, 1]."""
    h = F.xxhash64(plane, dim)
    return (h % 10000).cast("double") / 10000.0


def lsh_bucket(vec_col, n_planes: int = 8) -> F.Column:
    """Random-hyperplane LSH bucket id (n_planes sign bits packed into
    a long). Vectors in the same bucket are cosine-close with high
    probability; at scale, restrict pair generation to equal buckets.
    """
    v = V.as_double_array(vec_col)
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                v,
                F.transform(
                    F.sequence(F.lit(0), F.size(v) - 1),
                    lambda d: hyperplane_component(F.lit(p), d),
                ),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(0)
    return bucket


def lsh_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.8,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs (vec_a, vec_b, cos_sim): bucket
    by hyperplane LSH, then exact 4dp cosine only within buckets — the
    scalable variant of an all-pairs cosine join."""
    b = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        lsh_bucket(F.col(vec_col), n_planes).alias("bucket"),
    )
    return (
        cosine_pairs(b, block_cols=["bucket"])
        .filter(F.col("cs") >= threshold)
        .select(
            F.col("a").alias("vec_a"),
            F.col("b").alias("vec_b"),
            F.col("cs").alias("cos_sim"),
        )
    )


# --------------------------------------------------------------------------
# Spherical k-means (Lloyd) — the trainer behind a real IVF codebook.
# --------------------------------------------------------------------------


def kmeans_update(assigned: DataFrame) -> DataFrame:
    """Recompute centroids as the per-dimension mean of each cell's
    members (one Lloyd update). Cells that lost every member disappear
    (the standard empty-cell policy; the codebook may shrink).

    The mean is made bit-reproducible across engines and shuffle
    orders: each component is rounded to 6dp (a double both engines
    agree on), cast to DECIMAL — exact, because a 6dp-rounded double's
    shortest decimal form IS its 6dp value — summed exactly, re-entered
    into DOUBLE via the string hop (queries.registry.dsum rationale),
    and divided by the member count in double. Distributed reduce
    order therefore cannot change a centroid bit.

    Returns (c_id, cv: array<double>).
    """
    from ..queries.registry import DEC

    ex = assigned.select(
        "c_id",
        F.posexplode(V.as_double_array("embedding")).alias("d", "x"),
    )
    upd = ex.groupBy("c_id", "d").agg(
        (
            F.sum(F.round(F.col("x"), 6).cast(DEC)).cast("string").cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    return upd.groupBy("c_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
        ).alias("cv")
    )


def init_centroids(e: DataFrame, k: int, vec_alias: str = "cv") -> DataFrame:
    """The seedless pseudo-random codebook (c_id, ``vec_alias``): the
    first k vectors of (vec_id, embedding) in md5(vec_id) order —
    deterministic on any engine, no RNG state. The cast-to-binary md5
    detail must match the DuckDB twin's ``md5(CAST(vec_id AS
    VARCHAR))`` byte-for-byte; every sample-codebook consumer (the
    vector3/vector4 IVF, PQ and SemDeDup queries, curation, and
    :func:`train_codebook`) goes through here so the discipline lives
    in one place."""
    return (
        e.orderBy(
            F.md5(F.col("vec_id").cast("string").cast("binary")), F.col("vec_id")
        )
        .limit(k)
        .select(F.col("vec_id").alias("c_id"), F.col("embedding").alias(vec_alias))
    )


def spherical_kmeans(
    embeddings: DataFrame, init_centroids: DataFrame, iters: int = 2
) -> DataFrame:
    """Fixed-iteration spherical k-means: ``iters`` rounds of
    cosine-assignment (:func:`nearest_centroids`) + mean-update starting
    from ``init_centroids`` (c_id, cv), returning the final ASSIGNMENT
    (vec_id, embedding, c_id, cos_sim).

    Per iteration: one broadcast cross-join pass over the corpus (the
    assignment — map-only scoring, k rows broadcast) plus two hash
    aggregations bounded by k x dim (the update). The codebook is
    localCheckpoint'd every round — it is k rows, so materializing it
    truncates the otherwise-multiplying lineage for free. This is the
    trainer that replaces q59's seedless sample codebook with actual
    cluster centers; assignment cost stays O(N x k) per round with k a
    FIXED constant, the property the 10x scale probe demands of every
    ANN build stage.
    """
    cent = spherical_kmeans_codebook(embeddings, init_centroids, iters)
    return nearest_centroids(embeddings, cent).drop("probe_rank")


def spherical_kmeans_codebook(
    embeddings: DataFrame, init_centroids: DataFrame, iters: int = 2
) -> DataFrame:
    """The trained CODEBOOK itself — (c_id, cv) after ``iters`` Lloyd
    rounds — for callers that need more than the argmax assignment:
    multi-probe search (rank the top-nprobe cells per query), balance
    reports, persisting the index artifact."""
    cent = init_centroids
    for _ in range(iters):
        assigned = nearest_centroids(embeddings, cent)
        # eager=False: the next consumer (the following round's
        # assignment broadcast, or the caller's first action over the
        # returned codebook) materializes the k-row checkpoint inside
        # its own job — one driver round-trip per Lloyd round instead
        # of two, the same discipline as the CC loops. The plan is
        # truncated immediately either way.
        cent = checkpoint(kmeans_update(assigned), eager=False)
    return cent


# Lloyd training corpus cap: the codebook trains on the first
# _TRAIN_SAMPLE vectors in seedless md5(vec_id) order (md5 is uniform,
# so this is a uniform deterministic sample — same discipline as
# init_centroids, whose first-k pick is by construction a PREFIX of
# this sample, so initialization is unchanged). Below the cap the
# sample IS the corpus and training is bit-identical to the
# fixture-pinned forms (oracle equality intact); above it the k-means
# update rounds touch _TRAIN_SAMPLE rows instead of N — the standard
# production pattern (train on a sample, assign everything) that
# removes the O(N x k x iters) train term the 100x diagnosis measured
# at 41.8 s of q163's wall. The final assignment pass stays over the
# full corpus.
_TRAIN_SAMPLE = 10_000


def train_codebook(e: DataFrame, k: int, iters: int = 2) -> DataFrame:
    """The trained coarse codebook (c_id, cv) of (vec_id, embedding):
    the md5 training slice (first _TRAIN_SAMPLE rows in md5(vec_id)
    order — TakeOrdered, a per-partition heap, never a global sort),
    its first ``k`` rows as initial centroids (init_centroids), then
    ``iters`` Lloyd rounds (spherical_kmeans_codebook)."""
    train = e.orderBy(
        F.md5(F.col("vec_id").cast("string").cast("binary")), F.col("vec_id")
    ).limit(_TRAIN_SAMPLE)
    return spherical_kmeans_codebook(train, init_centroids(train, k), iters)


# --------------------------------------------------------------------------
# Corpus-adaptive hierarchical blocking — the registered fix for the
# fixed-grid law (SCALE.md round-7: any blocking scheme with FIXED
# total block count B has within-block pairs ∝ N²/B, measured at
# 37-64×/decade on q149/q150/q162).
# --------------------------------------------------------------------------


def adaptive_grid(
    n_rows: int, target_block: int, coarse_k: int = 16, fanout: int = 8
) -> list[int]:
    """Per-level codebook sizes for a hierarchical blocking whose TOTAL
    block count scales with the corpus: a trained coarse level of at
    most ``coarse_k`` cells, then sampled sub-codebook levels of at
    most ``fanout`` cells each, deep enough that the product of all
    levels ≥ n_rows / target_block — i.e. the expected block SIZE
    stays ~``target_block`` at any corpus size, with depth growing as
    log(n_rows) at fixed fan-out and the last level trimmed to avoid
    overshooting.

    This is the scale rule the fixed-grid measurements demand:
    per-vector assignment cost is sum(ks) = O(log N) centroid scores,
    while within-block pair work is N x target_block / 2 — LINEAR in
    the corpus where a pinned grid is quadratic. Verified against the
    pinned forms by construction: at the sf0.01 fixture (500 vectors,
    target_block=4) the rule yields exactly q149's (16, 8) grid, so
    the adaptive query hash-matches the fixed-grid oracle there and
    only deepens beyond fixture scale.
    """
    import math

    if n_rows < 0:
        raise ValueError(f"n_rows must be >= 0: {n_rows}")
    needed = max(1, math.ceil(max(n_rows, 1) / max(target_block, 1)))
    ks = [min(coarse_k, needed)]
    prod = ks[0]
    while prod < needed:
        k = min(fanout, math.ceil(needed / prod))
        ks.append(max(k, 2))
        prod *= ks[-1]
    return ks


def block_sub_codebook(
    df: DataFrame, block_cols, k_sub: int, id_out: str
) -> DataFrame:
    """Per-block sampled sub-codebook of (vec_id, embedding, *block_cols):
    the first ``k_sub`` members of each block in md5(vec_id) order — the
    seedless deterministic sample every codebook consumer uses
    (init_centroids discipline), so any engine reproduces it bit for
    bit. Returns the :func:`nearest_centroids` codebook (*block_cols,
    id_out, cv), with ``id_out`` the level's block column; bounded by
    #blocks x k_sub rows."""
    w_pick = Window.partitionBy(*block_cols).orderBy(
        F.md5(F.col("vec_id").cast("string").cast("binary")), F.col("vec_id")
    )
    return (
        df.withColumn("__rn", F.row_number().over(w_pick))
        .filter(F.col("__rn") <= k_sub)
        .select(
            *block_cols,
            F.col("vec_id").alias(id_out),
            F.col("embedding").alias("cv"),
        )
    )


# Broadcast a level's sub-codebook only while it is genuinely
# broadcast-sized; past this the level join keys on the block columns
# and shuffle-joins co-located by block with identical results.
_SUB_BROADCAST_ROWS = 1_000_000


@dataclass(frozen=True)
class TreeLevel:
    """One sub-codebook level: the block columns it splits, the column
    it adds, its md5-sampled sub-codebook, whether that is broadcast,
    and the frame it assigns (the corpus blocked down to ``prefix``)."""

    prefix: tuple[str, ...]
    id_out: str
    sub: DataFrame
    broadcast: bool
    members: DataFrame


@dataclass(frozen=True)
class GridTree:
    """What :func:`adaptive_grid_tree` built. ``coarse`` is the
    checkpointed (vec_id, embedding, c_id, cos_sim, nrm) assignment;
    ``blocked`` is coarse without cos_sim plus one ``block_cols``
    column per level."""

    ks: list[int]
    codebook: DataFrame
    coarse: DataFrame
    levels: list[TreeLevel]
    blocked: DataFrame
    block_cols: list[str]


def adaptive_grid_tree(
    e: DataFrame,
    target_block: int,
    coarse_k: int = 16,
    fanout: int = 8,
    iters: int = 2,
) -> GridTree:
    """Build the corpus-adaptive blocking tree over (vec_id, embedding):
    per-level sizes from adaptive_grid(count, target_block), the coarse
    codebook trained on the md5 sample (train_codebook), every vector
    assigned to it (nearest_centroids, plus its norm), then one
    md5-sampled sub-codebook level per remaining ``ks`` entry
    (block_sub_codebook, each member assigned within its block by
    nearest_centroids). The SemDeDup tree (q163/q169), the tree-probe
    dedup (q164/q165) and the k-NN index (q212-q236) are all this
    build; gridsql.home_ctes is its DuckDB twin.

    The coarse assignment is the one materialization (eager
    localCheckpoint): it holds the corpus-sized scoring work and every
    level reads it twice (sub-codebook sample and assignment). Levels
    stay lineage over it; a caller that reads the blocked frame
    several times materializes what it needs.
    """
    import math

    # one column-pruned count job (parquet row-group metadata): the only
    # driver-side value the grid choice needs
    ks = adaptive_grid(e.count(), target_block, coarse_k=coarse_k, fanout=fanout)
    codebook = train_codebook(e, ks[0], iters)
    coarse = checkpoint(
        nearest_centroids(e, codebook)
        .drop("probe_rank")
        .withColumn("nrm", V.norm(F.col("embedding")))
    )
    blocked, block_cols, levels = coarse.drop("cos_sim"), ["c_id"], []
    for i, k_sub in enumerate(ks[1:]):
        prefix, id_out = tuple(block_cols), f"s{i}_id"
        sub = block_sub_codebook(blocked, prefix, k_sub, id_out)
        bcast = math.prod(ks[: i + 2]) <= _SUB_BROADCAST_ROWS
        levels.append(TreeLevel(prefix, id_out, sub, bcast, blocked))
        blocked = nearest_centroids(
            blocked, sub, block_cols=prefix, broadcast=bcast
        ).select(*blocked.columns, id_out)
        block_cols.append(id_out)
    return GridTree(ks, codebook, coarse, levels, blocked, block_cols)


# --------------------------------------------------------------------------
# Product-quantization training: per-subspace L2 Lloyd rounds.
# --------------------------------------------------------------------------


def pq_encode(subs: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Encode each subvector as its nearest sub-centroid — (vec_id, m,
    code). ``subs`` is (vec_id, m, sv: array<double>), ``codebooks`` is
    (m, c_id, cv). The codebook is a fixed M x KSUB rows and is
    BROADCAST; encoding is one map-side pass over the corpus (the
    argmin window partitions by (vec_id, m), never a corpus-wide
    shuffle key). L2 distances round to 4dp before the argmin with
    c_id tie-break — the cross-engine determinism discipline, same as
    nearest_centroids' cosine rounding.
    """
    # Argmin as a fold over the per-subspace codebook collected into
    # one array row per m (c_id-sorted) — map-only after the broadcast
    # join on m, where the per-(vec_id, m) window re-shuffled and
    # sorted the whole encoded corpus x KSUB. Ordering semantics are
    # the window's exactly: 4dp L2 asc with Spark's asc-nulls-first
    # (a null distance wins; NaN sorts largest and loses), ties to the
    # smallest c_id via the sorted array.
    arr = codebooks.groupBy("m").agg(
        F.array_sort(F.collect_list(F.struct("c_id", "cv"))).alias("__cbs")
    )

    def merge(acc, x):
        cand = F.struct(
            F.round(F.sqrt(V.l2_distance_sq(F.col("sv"), x["cv"])), 4).alias(
                "d"
            ),
            x["c_id"].alias("c"),
        )
        better = acc.isNull() | (
            acc["d"].isNotNull() & (cand["d"].isNull() | (cand["d"] < acc["d"]))
        )
        return F.when(better, cand).otherwise(acc)

    best = F.aggregate(
        F.col("__cbs"), F.lit(None).cast("struct<d:double,c:bigint>"), merge
    )
    return (
        subs.join(F.broadcast(arr), "m")
        .select("vec_id", "m", best["c"].alias("code"), "sv")
        .filter(F.col("code").isNotNull())
    )


def pq_update(encoded: DataFrame) -> DataFrame:
    """One per-subspace Lloyd mean update: new sub-centroid (m, c_id,
    cv) = per-dimension mean of the subvectors encoded to it, with the
    bit-reproducible mean discipline of kmeans_update (6dp round →
    exact decimal sum → string hop → double ÷ count). Sub-cells that
    lost every member disappear (codebooks may shrink). Aggregate
    state is bounded by M x KSUB x DSUB — broadcast-sized however big
    the corpus."""
    from ..queries.registry import DEC

    ex = encoded.select(
        "m", F.col("code").alias("c_id"), F.posexplode("sv").alias("d", "x")
    )
    upd = ex.groupBy("m", "c_id", "d").agg(
        (
            F.sum(F.round(F.col("x"), 6).cast(DEC)).cast("string").cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )
    return upd.groupBy("m", "c_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "mu"))), lambda s: s["mu"]
        ).alias("cv")
    )


def pq_train_codebooks(
    subs: DataFrame, init_codebooks: DataFrame, iters: int = 2
) -> DataFrame:
    """Train PQ sub-codebooks: ``iters`` rounds of per-subspace L2
    k-means (encode + mean update) from the sampled initialization —
    the training swap q146's docstring documents. All M subspaces
    train in the SAME pass (m is just a grouping column), so the
    per-round cost is one broadcast-codebook scan of the subvector
    table plus a bounded M x KSUB x DSUB aggregation; the codebook is
    localCheckpoint'd per round (M x KSUB rows) to truncate lineage.
    Returns (m, c_id, cv)."""
    cent = init_codebooks
    for _ in range(iters):
        enc = pq_encode(subs, cent)
        # eager=False: materialized by the next round's codebook
        # broadcast (or the caller's first action) — see
        # spherical_kmeans_codebook.
        cent = checkpoint(pq_update(enc), eager=False)
    return cent
