"""Vector batch 5: CORPUS-ADAPTIVE blocking — the registered fix for
the fixed-grid law, round 7's #1 finding.

The round-7 100x probe measured the fixture-pinned grids of
q149/q150/q162 at 37-64x per decade: any blocking scheme with a FIXED
total block count B has within-block pairs ∝ N²/B — quadratic at any
depth. The fix was proven in tools/ivf_cells_experiment.py (at commit
669f295; k ∝ corpus cuts the quadratic term by exactly the predicted
9.9x) but existed only as an experiment. This module registers it:

* q163: SemDeDup whose grid comes from operators.similarity.
  adaptive_grid(corpus_count) — block size held ~constant, depth grows
  as log N. At the sf0.01 fixture the rule reproduces q149's pinned
  (16, 8) grid EXACTLY, so q163 returns q149's rows there (the
  strongest possible gate: bit-equality with the fixture-pinned exact
  form) and only deepens beyond fixture scale.
* q164: incremental vector dedup probing a corpus-adaptive TREE index
  (cell size held ~constant; new vectors multi-probe the coarse level
  and descend). At sf0.01 the tree is the flat k=16 codebook and the
  probe is exactly q150's nprobe=4 — q164 returns q150's rows there.
* q165: the tree-probe machinery FORCED to depth 2 at fixture scale
  (target cell 8 → (16, 4) grid) — the multi-level descent is
  bit-verified against the driver's oracle, not just exercised at
  scale.

Every oracle here is one generator over the corpus row count
(queries/gridsql.py): the driver string is that generator at the
fixture, and tools/oracle_check.py regenerates it at any scale.
* q166/q167: registered recall/survivor gates — adaptive vs the exact
  forms (q132 / q143 / q149) on the same data, the q145/q155 pattern.

Scale contract (the whole point): per-vector assignment cost is
sum(levels) = O(log N) centroid scores; within-block pair work is
N x target_block — LINEAR where the pinned grids are quadratic. The
decade curve lives in SCALE.md next to the fixed-grid table.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import vector as V
from ..operators.similarity import (
    _TRAIN_SAMPLE,  # noqa: F401  re-exported: the tree build's training cap
    adaptive_grid_tree,
    nearest_centroids,
)
from ..session import checkpoint
from .gridsql import (
    q163_oracle,
    q166_oracle,
    q167_oracle,
    q169_oracle,
    tree_probe_oracle,
)
from .registry import query
from .vector import _NEAR_DUP_THRESHOLD
from .vector3 import (
    _KM_ITERS,
    _KM_K,
    _NPROBE,
    _SEM_THRESHOLD,
    _SUB_K,
    _survivor_groups,
)

# Block-size targets, pinned to what the verified fixed-grid forms
# already use AT FIXTURE SCALE so the adaptive rule coincides with
# them there (hash-proof) and only changes behavior beyond it:
#   q149's grid is 16x8 = 128 blocks over the 500-vector sf0.01
#   fixture → ~4 vectors/block; q150's 16 cells → ~31 vectors/cell.
_ADAPT_TARGET_BLOCK = 4   # SemDeDup pair-join block size
_IVF_TARGET_CELL = 32     # incremental-dedup probe cell size
_TREE_TARGET_CELL = 8     # q165: forces a 2-level (16, 4) tree at sf0.01
_TREE_PSUB = 2            # probe branching per sub-level of the tree

# Per-block pair fan-out cap (q163): inside a block, every member is
# compared against the block's first _PAIR_HUB_CAP members in md5
# order (the hubs) instead of all-pairs. For blocks <= the cap this
# IS all-pairs (bit-identical, which keeps the sf0.01 oracle exact);
# above it, per-block work is hub_cap x |block| — LINEAR in block
# size. Why blocks exceed the target at all: near-clone groups rank
# every centroid identically, so NO geometry-based split can separate
# them (measured at 100x: mean block 4.97 against target 4, but one
# 2195-member clone-dense block -> 35M candidate pairs, 59% of query
# wall). For dedup connectivity the hub pattern is the right bound: a
# dense block's members connect through the hubs (star edges reach
# the same components); what a capped block can miss is a pair whose
# two members are BOTH similar to each other and dissimilar to every
# hub — rare inside a block that is only large because it is dense.
# Same df-cap discipline as MinHash's MAX_SHINGLE_DF=64.
_PAIR_HUB_CAP = 64


@query("q163_semantic_dedup_adaptive", oracle=q163_oracle, tags=("vector", "dedup", "graph", "EXT"))
def q163_semantic_dedup_adaptive(spark, sf_dir):
    """SemDeDup with a CORPUS-ADAPTIVE hierarchical grid: per-level
    codebook sizes come from adaptive_grid(count, target_block=4) —
    trained coarse cells, then md5-sampled sub-codebooks, deep enough
    that expected block size stays ~{_ADAPT_TARGET_BLOCK} at ANY
    corpus size (depth ∝ log N). The pair self-join then does
    N x target_block / 2 work — linear in the corpus — where the
    fixture-pinned q149/q162 grids were measured quadratic
    (64x / 37x per decade, SCALE.md round-7 fixed-grid law).

    The oracle is gridsql.q163_oracle at the corpus's row count: at
    the sf0.01/sf0.001 fixtures (500 vectors) the rule yields exactly
    q149's (16, 8) grid, so q163 and q149 return identical rows —
    adaptive == fixed by hash equality, the strongest form of the
    survivor-count gate — while the SAME code
    deepens to (16, 8, 4) at sf0.1 and (16, 8, 8, 8, 7) at the 100x
    fixture. Survivor policy (keep-the-outlier per component, q143's
    contract) is untouched; what the finer grid trades is pair recall,
    measured by q167's gate and the SCALE.md decade table.

    Two bounds make the whole pipeline linear, not just the grid:
    blocks are bounded by construction (the grid), and pair fan-out
    inside a block is bounded by the hub cap (_PAIR_HUB_CAP) — which
    only engages on blocks the geometry CANNOT split (near-clone
    groups rank every centroid identically at every depth; at fixture
    scale no block reaches the cap, so the oracle equality is exact).
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tree = adaptive_grid_tree(
        e, _ADAPT_TARGET_BLOCK, coarse_k=_KM_K, fanout=_SUB_K, iters=_KM_ITERS
    )
    block_cols = tree.block_cols
    # Hub-capped pair generation: rank members within their block by
    # the same seedless md5 order the codebooks use; the hub side is
    # rank <= cap, and (a.rank < b.rank) emits each unordered pair
    # exactly once. Blocks <= cap get ALL pairs (so the fixture-scale
    # oracle equality with q149 is untouched); bigger blocks do
    # cap x |block| work instead of |block|² — see _PAIR_HUB_CAP.
    w_rank = Window.partitionBy(*block_cols).orderBy(
        F.md5(F.col("vec_id").cast("string").cast("binary")), F.col("vec_id")
    )
    ranked = tree.blocked.withColumn("__brn", F.row_number().over(w_rank))
    a = ranked.filter(F.col("__brn") <= _PAIR_HUB_CAP).alias("a")
    b = ranked.alias("b")
    cond = F.col("a.__brn") < F.col("b.__brn")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cos = F.round(
        V.dot(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        4,
    )
    pairs = (
        a.join(b, cond)
        .filter(cos >= _SEM_THRESHOLD)
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
    )
    return _survivor_groups(tree.coarse, pairs)


# --------------------------------------------------------------------------
# Tree-probe incremental dedup: the adaptive-index counterpart of q150.
# --------------------------------------------------------------------------


def _tree_probe_scored(spark, sf_dir, target_cell: int):
    """Core of the tree probe (shared by q164/q165): build the
    corpus-adaptive tree (adaptive_grid_tree at target_cell), then
    score NEW vectors (vec_id % 5 == 0) against history inside probed
    leaves only: top-_NPROBE coarse cells, then the top-_TREE_PSUB
    sub-cells per probed branch at each deeper level — _NPROBE x
    _TREE_PSUB^(depth-1) leaves per new vector.

    Returns the PRE-threshold candidate set (new_vec_id, hist_vec_id,
    label, cos_sim). The dial measurements over (grid, p0, p_sub)
    were taken with tools/ann_adaptive_probe.py (at commit 669f295).

    Scale shape: leaf size is ~target_cell by construction, so
    candidates per new vector are probed_leaves x target_cell — they
    grow POLY-LOG with the corpus (the probed FRACTION falls as the
    grid refines) where q150's fixed grid held the fraction constant
    and went quadratic (45x/decade, SCALE.md). The recall price of the
    falling fraction is measured, never assumed: q166 gates match
    recovery against the exact q132 on the same data, and the
    (grid, probes, recall, candidates) table in SCALE.md records the
    dial. Assignment cost is sum(ks) ≈ O(log N) broadcast-codebook
    scores per vector; nothing shuffles on a corpus-growing key except
    the block-keyed joins themselves.
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    ev = e.select("vec_id", "embedding")
    tree = adaptive_grid_tree(
        ev, target_cell, coarse_k=_KM_K, fanout=_SUB_K, iters=_KM_ITERS
    )
    block_cols = tree.block_cols

    # Probe level 0: each new vector's top-_NPROBE coarse cells (the
    # q150 discipline). Deeper levels: within each probed branch, the
    # top _TREE_PSUB sub-cells of that block's sub-codebook (the
    # operator ranks within a row's block).
    probe = nearest_centroids(
        ev.filter(F.col("vec_id") % 5 == 0), tree.codebook, _NPROBE
    ).select("vec_id", "embedding", "c_id")
    for lvl in tree.levels:
        probe = nearest_centroids(
            probe, lvl.sub, _TREE_PSUB, lvl.prefix, lvl.broadcast
        ).select(*probe.columns, lvl.id_out)
    probe = probe.select(
        F.col("vec_id").alias("p_vec"), *[F.col(c).alias(f"p_{c}") for c in block_cols]
    )

    el = tree.blocked.join(e.select("vec_id", "label"), "vec_id")
    hist = el.filter(F.col("vec_id") % 5 != 0).alias("h")
    new = el.filter(F.col("vec_id") % 5 == 0).alias("n")
    leaf_cond = None
    for c in block_cols:
        eq = F.col(f"p_{c}") == F.col(f"h.{c}")
        leaf_cond = eq if leaf_cond is None else (leaf_cond & eq)
    cos = F.round(
        V.dot(F.col("n.embedding"), F.col("h.embedding"))
        / (F.col("n.nrm") * F.col("h.nrm")),
        4,
    )
    scored = (
        probe.join(hist, leaf_cond)
        .join(
            new,
            (F.col("n.vec_id") == F.col("p_vec"))
            & (F.col("n.label") == F.col("h.label")),
        )
        .select(
            F.col("n.vec_id").alias("new_vec_id"),
            F.col("h.vec_id").alias("hist_vec_id"),
            F.col("n.label").cast("long").alias("label"),
            cos.alias("cos_sim"),
        )
    )
    return scored


def best_match_per_new(scored):
    """q132/q150's decision tail: threshold then the best historical
    match per new vector (cos desc, id tie-break)."""
    w_best = Window.partitionBy("new_vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("hist_vec_id").asc()
    )
    return (
        scored.filter(F.col("cos_sim") >= _NEAR_DUP_THRESHOLD)
        .withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "new_vec_id",
            F.col("hist_vec_id").alias("best_hist_vec_id"),
            "label",
            "cos_sim",
        )
    )


def _tree_probe_dedup(spark, sf_dir, target_cell: int):
    """q164/q165's composition of the probe core: keep matches above
    the near-dup threshold, best match per new vector — the q132/q150
    output contract."""
    return best_match_per_new(_tree_probe_scored(spark, sf_dir, target_cell))


@query("q164_incremental_vector_dedup_adaptive", oracle=partial(tree_probe_oracle, target_cell=_IVF_TARGET_CELL), tags=("vector", "dedup", "EXT"))
def q164_incremental_vector_dedup_adaptive(spark, sf_dir):
    """Incremental-ingest vector dedup probing a CORPUS-ADAPTIVE tree
    index — the registered form of the cells-∝-corpus experiment
    (tools/ivf_cells_experiment.py at commit 669f295): the index holds
    cell size at ~{_IVF_TARGET_CELL} vectors by deepening with the
    corpus instead of letting fixed cells grow. At the sf0.01 fixture
    the rule gives the flat trained k=16 codebook and the probe is
    exactly q150's top-{_NPROBE} multi-probe, so q164 returns q150's
    rows there (hash-equality with the fixture-pinned form); at sf0.1
    the tree is (16, 4), at the 100x fixture (16, 8, 8, 7).

    Why a TREE and not flat k ∝ N: flat assignment/training cost is
    O(N x k) — itself quadratic when k ∝ N (the experiment's k=160
    train pass already showed the cost). Tree routing keeps assignment
    at O(log N) scores per vector AND block count ∝ corpus. The probe
    descends top-{_NPROBE} coarse / top-{_TREE_PSUB} per deeper level,
    so the probed fraction FALLS as the corpus grows — candidates per
    new vector grow poly-log, the measured recall price is q166's
    gate. See _tree_probe_dedup for the full scale contract.
    """
    return _tree_probe_dedup(spark, sf_dir, _IVF_TARGET_CELL)


# --------------------------------------------------------------------------
# q165: the descent machinery bit-verified — a target cell small enough
# that the tree is 2-level AT FIXTURE SCALE, so the driver's oracle
# (gridsql.tree_probe_oracle: coarse k-means CTEs + sampled
# sub-codebook + 2-level probe) checks the descent.
# --------------------------------------------------------------------------


@query("q165_vector_dedup_tree_probe", oracle=partial(tree_probe_oracle, target_cell=_TREE_TARGET_CELL), tags=("vector", "dedup", "EXT"))
def q165_vector_dedup_tree_probe(spark, sf_dir):
    """q164's tree machinery FORCED multi-level at fixture scale:
    target cell {_TREE_TARGET_CELL} makes adaptive_grid yield a
    (16, 4) tree on the 500-vector fixture, so the sub-codebook
    sampling, per-branch descent (top-{_NPROBE} coarse x
    top-{_TREE_PSUB} sub-cells = 8 probed leaves of 64) and the
    leaf-keyed candidate join all run — and the DuckDB oracle
    reproduces every ranking and match bit for bit. Without this, the
    depth>1 code path of the adaptive family would only ever execute
    in scale probes, beyond the driver's oracle. Same output contract
    as q132/q150/q164 (best historical match per new vector)."""
    return _tree_probe_dedup(spark, sf_dir, _TREE_TARGET_CELL)


# --------------------------------------------------------------------------
# q166: match-recovery gate — the adaptive probe (q164) measured
# against the EXACT incremental dedup (q132) on the same data.
# --------------------------------------------------------------------------


@query("q166_vector_dedup_recall_gate", oracle=q166_oracle, tags=("vector", "dedup", "EXT"))
def q166_vector_dedup_recall_gate(spark, sf_dir):
    """The q145-pattern quality gate for the adaptive probe: run the
    EXACT incremental dedup (q132, full label-block scan) and the
    adaptive tree probe (q164) on the same data and report match
    recovery — how many of the exact best-match rows the probe found
    at all (n_common / n_exact) and how many with the IDENTICAL best
    match (n_same_best). This registers the number q150's docstring
    only narrated (18/28 recovered, 16/18 identical at nprobe=4):
    an approximate dedup path without a measured recovery number is a
    guess. At 100 TB the exact side runs on a bounded audit sample —
    exactly this query's shape. Gate output is one row, trivially
    oracle-checkable; the probe side's own correctness is q164/q165's
    hash-matched oracles."""
    from ..operators.par import run_concurrently
    from .vector2 import q132_incremental_vector_dedup

    # Exact and probe arms are independent pipelines (the adaptive arm
    # trains its own tree index); overlap them on driver threads.
    exact, ap = run_concurrently(
        lambda: q132_incremental_vector_dedup(spark, sf_dir).select(
            "new_vec_id", F.col("best_hist_vec_id").alias("e_best")
        ),
        lambda: q164_incremental_vector_dedup_adaptive(spark, sf_dir).select(
            "new_vec_id", F.col("best_hist_vec_id").alias("a_best")
        ),
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_probe = ap.agg(F.count(F.lit(1)).alias("n_probe"))
    common = exact.join(ap, "new_vec_id").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.coalesce(
            F.sum(
                F.when(F.col("e_best") == F.col("a_best"), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_same_best"),
    )
    return (
        n_exact.crossJoin(n_probe)
        .crossJoin(common)
        .select(
            "n_exact",
            "n_probe",
            "n_common",
            "n_same_best",
            F.round(F.col("n_common") / F.col("n_exact"), 4).alias("recovery"),
        )
    )


# --------------------------------------------------------------------------
# q167: survivor-count gate — exact single-level vs fixed 2-level vs
# adaptive SemDeDup, side by side on the same corpus.
# --------------------------------------------------------------------------


@query("q167_semantic_dedup_grid_gate", oracle=q167_oracle, tags=("vector", "dedup", "EXT"))
def q167_semantic_dedup_grid_gate(spark, sf_dir):
    """Survivor-count gate across the three SemDeDup blocking tiers on
    the SAME corpus: exact single-level (q143), fixed 2-level (q149),
    corpus-adaptive (q163) — group count, total docs in dup groups,
    and largest group each. Finer blocking can only LOWER pair recall
    (blocks are nested subsets), and this is the registered number for
    how much: on the sf0.01 fixture the 2-level grid keeps 70 groups /
    190 dup docs vs the exact 68 / 299 (big outlier clusters split),
    and the adaptive row is IDENTICAL to fixed_2level there because
    the adaptive rule reproduces the (16, 8) grid at fixture scale —
    the oracle's adaptive row, generated at the fixture's row count,
    equals its fixed_2level row there. Beyond fixture scale the
    adaptive row diverges (deeper grid, measured in SCALE.md); the
    gate is how a corpus build decides whether the recall trade at its
    scale is acceptable before pruning."""
    from ..operators.par import run_concurrently
    from .vector3 import _coarse_fin, q143_semantic_dedup, q149_semantic_dedup_2level

    def stats(df, variant):
        return df.agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n_members").cast("long").alias("n_dup_docs"),
            F.max("n_members").cast("long").alias("max_group"),
        ).select(
            F.lit(variant).alias("variant"), "n_groups", "n_dup_docs", "max_group"
        )

    # exact_1level and fixed_2level are DEFINED over the identical
    # full-corpus trained assignment — train it ONCE and hand it to
    # both branches (standalone q143/q149 still train their own); the
    # three branches then run their pair joins + component
    # contractions on driver threads so their internal actions overlap
    # (operators/par.py, guide §2.6). Branch results are the same
    # frames as before; only their evaluation overlaps.
    fin = _coarse_fin(spark, sf_dir)
    ad, ex, f2 = run_concurrently(
        lambda: q163_semantic_dedup_adaptive(spark, sf_dir),
        lambda: q143_semantic_dedup(spark, sf_dir, fin=fin),
        lambda: q149_semantic_dedup_2level(spark, sf_dir, fin=fin),
    )
    return (
        stats(ad, "adaptive")
        .unionByName(stats(ex, "exact_1level"))
        .unionByName(stats(f2, "fixed_2level"))
    )


# --------------------------------------------------------------------------
# q169: the grid health report — per-level block-count / max / mean,
# the observable behind both the adaptive-grid law and the hub cap.
# --------------------------------------------------------------------------


@query("q169_adaptive_grid_report", oracle=q169_oracle, tags=("vector", "dedup", "EXT"))
def q169_adaptive_grid_report(spark, sf_dir):
    """The adaptive grid's HEALTH REPORT: per hierarchy level, block
    count, largest block, row total, and mean block size — the index
    build's skew observable (q148's codebook-balance pattern applied
    to the blocking tree). This is the number that told the 100x
    diagnosis its story: mean 4.97 against target 4 (the grid works)
    but max 2,195 (a clone-dense block geometry cannot split — the
    row that justifies the hub cap, and the alarm a production corpus
    build pages on when a crawl dumps near-identical content). The
    oracle (gridsql.q169_oracle) builds the same k-means +
    sub-codebook CTEs as q163's and aggregates block sizes per level;
    at fixture scale the grid is (16, 8), so two report rows,
    hash-exact."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tree = adaptive_grid_tree(
        e, _ADAPT_TARGET_BLOCK, coarse_k=_KM_K, fanout=_SUB_K, iters=_KM_ITERS
    )
    block_cols = tree.block_cols
    # The per-level stats below reference the fully blocked corpus once
    # PER LEVEL (depth ∝ log N plan copies of the level chain) —
    # materialize it once; the block columns and counts are all the
    # stats read, so the checkpoint is the narrow (ids + blocks) frame.
    cur = checkpoint(tree.blocked.select("vec_id", *block_cols))
    out = None
    for lvl in range(len(block_cols)):
        sizes = cur.groupBy(*block_cols[: lvl + 1]).agg(
            F.count(F.lit(1)).alias("c")
        )
        stats = sizes.agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.max("c").alias("max_block"),
            F.sum("c").cast("long").alias("n_rows"),
        ).select(
            F.lit(lvl).cast("long").alias("level"),
            "n_blocks",
            "max_block",
            "n_rows",
            F.round(F.col("n_rows") / F.col("n_blocks"), 4).alias("avg_block"),
        )
        out = stats if out is None else out.unionByName(stats)
    return out
