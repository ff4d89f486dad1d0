"""Ground-truth DBSCAN anchor and the truth-based agreement/leakage
gates (round-10 verdict items #2 and #8).

Rounds 9-10 registered two DBSCAN *approximations* — q219 (eps-edges
blocked by LABEL: exact within a label, blind across labels) and q223
(eps-edges from the ADAPTIVE GRID: blind across cells) — and a gate
(q229) that measures how much the two blockings disagree. What nobody
computed was unblocked truth: q229 could tell you the arms see
different eps-graphs (pair Jaccard < 1%) without telling you which is
right. At fixture scale the full eps-graph is a trivial all-pairs job
(500 vectors → 125k pairs; sf0.1 → 12.5M — still seconds on either
engine), so truth is cheap exactly where gates run.

q232 registers true, unblocked DBSCAN as an oracle-verified anchor;
q233 turns q229's two-way policy comparison into a three-way report
with floors on agreement WITH TRUTH; q234 re-proves the q216/q224
split-leakage guarantees against the TRUE near-dup relation (their
in-query "zero leaked" re-proofs are scoped to their own blocked edge
sets — the honest-contract caveat in q216's docstring — so the
cross-block leak count was invisible until now).

THE ROUND-11 FINDING (the answer to "are my clusters right?"): at
eps = cosine 0.3 — the ~99th percentile of the all-pairs cosine
distribution on these near-orthogonal fixtures — the UNBLOCKED
eps-graph PERCOLATES: 990 unordered edges over 500 fixture vectors
(mean degree ~4) form one giant 483-member component, and at sf0.1
(14,933 edges / 2,000 vectors) the single truth cluster is the entire
corpus. At a percolating eps, blocked DBSCAN recovered <3% of true
co-membership pairs and every cluster-hashed split leaked ~100% of
its non-train vectors against truth.

THE ROUND-12 RESPONSE (executing the module's own prescription): the
family eps moved past the percolation threshold to 0.4
(vector6._DBSCAN_EPS_COS — 59 unordered fixture edges / 920 at sf0.1,
mean degree ~0.24/0.92: sparse, REAL clusters), q219 got its own
label-blocked edge generator at the family eps (decoupled from q34's
0.3 near-dup relation, which keeps its dedup semantics), q233's
floors were re-measured at the defensible operating point (truth
agreement is now high instead of structurally low), q234's gate
flipped from pinning ~100% expected leakage to enforcing a leakage
CEILING, and q235 registers the percolation pre-flight — a
sample-estimated true mean degree with a gate — so a future corpus
cannot silently re-enter the degenerate regime.

Scale contract: the truth arm is DELIBERATELY quadratic — a
fixture-scale verification anchor in the q216/q219 documented class,
never a production plan. The production paths stay q223/q224 (linear
grid); these gates price them against truth instead of against each
other. q235's estimator is sample x corpus through one broadcast —
LINEAR, production-feasible at any scale.

Reference scope: EXT (SURVEY §2.11); the reference job
(gule_test_job.py) has no clustering or split surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load
from ..functions import vector as V
from ..session import checkpoint
from .gridsql import mp_sym_ctes
from .registry import query
from .vector6 import (
    _DBSCAN_EPS_COS,
    _DBSCAN_MIN_NBRS,
    _cluster_pairs,
    _eps_edges,
    _q219_oracle,
    _q223_sql,
    q219_dbscan_embeddings,
    q223_dbscan_grid,
)


def _true_sym_ctes() -> str:
    """Oracle CTEs producing sym(a, b) = the TRUE symmetric eps-edge
    list — the unblocked counterpart of gridsql.mp_sym_ctes."""
    return f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= {_DBSCAN_EPS_COS}
),
sym AS MATERIALIZED (SELECT a, b FROM p UNION ALL SELECT b, a FROM p)"""


def _q232_oracle() -> str:
    from ..operators.dbscan import dbscan_oracle_tail

    return f"""
WITH RECURSIVE {_true_sym_ctes()},
{dbscan_oracle_tail(_DBSCAN_MIN_NBRS)}
"""


@query("q232_dbscan_truth", oracle=_q232_oracle(), tags=("vector", "graph", "gate", "EXT"))
def q232_dbscan_truth(spark, sf_dir):
    """TRUE unblocked DBSCAN over the embedding corpus: eps-neighbor =
    4dp cosine >= {_DBSCAN_EPS_COS} over ALL pairs (no label blocks, no
    grid cells), core = >= {_DBSCAN_MIN_NBRS} neighbors, components by
    star-contraction CC, border to its minimum core cluster — the
    shared dbscan_from_edges pipeline on the one edge set that hides
    nothing. Every role/cluster downstream gates (q233/q234) compare
    against comes from here.

    Deliberately quadratic (the q216/q219 anchor class): the all-pairs
    broadcast join is the point — this is the fixture-scale ground
    truth that prices the linear grid path, not a production plan. The
    edge list itself is tiny downstream (59 unordered fixture edges /
    920 at sf0.1 out of 125k / 2M candidate pairs at the re-anchored
    eps — sparse, real clusters, vs the percolating giant component
    round 11 measured at 0.3; see module docstring) — the registered
    truth the blocked arms are measured against."""
    from ..operators.dbscan import dbscan_from_edges
    from ..scratch import parquet_checkpoint

    ids = load(spark, sf_dir, "embeddings").select("vec_id")
    # file-back the edge list BEFORE the label pass: dbscan_from_edges'
    # consumers (degree, core-core join, border) and every CC
    # star-contraction round re-evaluate their input lineage — live,
    # that re-runs the all-pairs broadcast scan per round (measured
    # 16 → 64 s at sf0.1 when the re-anchored eps produced CHAIN
    # components, whose larger diameter needs more contraction rounds).
    # The checkpointed list is mean-degree x N rows — pennies to write.
    sym = parquet_checkpoint(_eps_edges(spark, sf_dir), "q232_true_sym_")
    return dbscan_from_edges(ids, sym, _DBSCAN_MIN_NBRS)


# --------------------------------------------------------------------------
# q233: three-way truth agreement — the upgrade of q229's two-way
# blocking-policy comparison into "which arm is RIGHT, and by how
# much". Floors are on agreement WITH TRUTH, measured multi-scale.
# --------------------------------------------------------------------------

# Measured at the re-anchored eps 0.4 + the multi-probe edge
# generator with the DEPTH-SCALED probe budget (round 13 — nprobe 4
# on depth-1 trees, 6 once the adaptive tree deepens; vector6.
# _dbscan_nprobe): GRID role agreement with truth is 1.000 at the
# fixture / 0.9355 at sf0.1, and grid pair recall is 1.000 / 0.5633.
# (Round 12's nprobe=4-everywhere numbers were 0.8585 / 0.3036 — the
# sf0.1 corpus sits near criticality at eps 0.4, mean degree 0.92,
# max true component 75, so transitive co-membership decays
# combinatorially with each missed edge; the deeper budget buys edge
# recall 0.79 -> 0.90 and more than doubles pair recall for 2.25x of
# the linear candidate work. The dial table in SCALE.md carries the
# full nprobe curve.) The LABEL arm is structurally blind at
# the family eps — true 0.4-edges are overwhelmingly CROSS-label
# (54/59 at the fixture), so its pair recall is ~0 (0.000 / 0.003)
# BY CONSTRUCTION of its blocking, not by regression: q219 remains
# the exact within-label anchor, and its truth-pair recall is a
# report-only column (a floor would be vacuous or false); its ROLE
# agreement (0.938 / 0.5555 — most vectors are noise in both) keeps
# a floor as the regression tripwire.
_TRUTH_GRID_AGREE_MIN = 0.85
_TRUTH_LABEL_AGREE_MIN = 0.45
# Grid pair recall floor (round-11 verdict item #1's "materially
# high" requirement, raised per round-13 verdict item #3 — measured
# 1.000 at the fixture, 0.5633 at sf0.1 under the depth-scaled
# budget; the floor sits under the weakest measured scale with
# margin).
_TRUTH_GRID_RECALL_MIN = 0.45


def _q233_sql(n: int) -> str:
    return f"""
WITH trth AS MATERIALIZED ({_q232_oracle()}),
exl AS MATERIALIZED ({_q219_oracle()}),
gr AS MATERIALIZED ({_q223_sql(n)}),
j AS MATERIALIZED (
  SELECT trth.vec_id, trth.role AS rt, exl.role AS re, gr.role AS rg
  FROM trth JOIN exl USING (vec_id) JOIN gr USING (vec_id)
),
pt AS MATERIALIZED (
  SELECT a.vec_id AS u, b.vec_id AS v FROM trth a JOIN trth b
  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE a.cluster_id IS NOT NULL
),
pe AS MATERIALIZED (
  SELECT a.vec_id AS u, b.vec_id AS v FROM exl a JOIN exl b
  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE a.cluster_id IS NOT NULL
),
pg AS MATERIALIZED (
  SELECT a.vec_id AS u, b.vec_id AS v FROM gr a JOIN gr b
  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE a.cluster_id IS NOT NULL
),
counts AS (
  SELECT CAST((SELECT COUNT(*) FROM j) AS BIGINT) AS n_vectors,
         CAST((SELECT SUM(CASE WHEN re = rt THEN 1 ELSE 0 END) FROM j) AS BIGINT)
           AS n_label_agree,
         CAST((SELECT SUM(CASE WHEN rg = rt THEN 1 ELSE 0 END) FROM j) AS BIGINT)
           AS n_grid_agree,
         CAST((SELECT COUNT(*) FROM pt) AS BIGINT) AS n_pairs_truth,
         CAST((SELECT COUNT(*) FROM pt JOIN pe ON pt.u = pe.u AND pt.v = pe.v)
              AS BIGINT) AS n_pairs_label_hit,
         CAST((SELECT COUNT(*) FROM pt JOIN pg ON pt.u = pg.u AND pt.v = pg.v)
              AS BIGINT) AS n_pairs_grid_hit
)
SELECT n_vectors,
       n_label_agree / CAST(n_vectors AS DOUBLE) AS label_role_agreement,
       n_grid_agree / CAST(n_vectors AS DOUBLE) AS grid_role_agreement,
       n_pairs_truth, n_pairs_label_hit, n_pairs_grid_hit,
       CASE WHEN n_pairs_truth = 0 THEN 1.0
            ELSE n_pairs_label_hit / CAST(n_pairs_truth AS DOUBLE)
       END AS label_pair_recall,
       CASE WHEN n_pairs_truth = 0 THEN 1.0
            ELSE n_pairs_grid_hit / CAST(n_pairs_truth AS DOUBLE)
       END AS grid_pair_recall,
       CASE WHEN n_label_agree / CAST(n_vectors AS DOUBLE)
                 >= {_TRUTH_LABEL_AGREE_MIN}
            THEN 'ok' ELSE 'FAIL label agreement' END AS label_gate,
       CASE WHEN n_grid_agree / CAST(n_vectors AS DOUBLE)
                 >= {_TRUTH_GRID_AGREE_MIN}
            THEN 'ok' ELSE 'FAIL grid agreement' END AS grid_gate,
       CASE WHEN (CASE WHEN n_pairs_truth = 0 THEN 1.0
                       ELSE n_pairs_grid_hit / CAST(n_pairs_truth AS DOUBLE)
                  END) >= {_TRUTH_GRID_RECALL_MIN}
            THEN 'ok' ELSE 'FAIL grid pair recall' END AS grid_recall_gate
FROM counts
"""


@query("q233_dbscan_truth_gate", oracle=_q233_sql, tags=("vector", "graph", "gate", "EXT"))
def q233_dbscan_truth_gate(spark, sf_dir):
    """Three-way DBSCAN agreement against TRUTH: per-vector role
    agreement of the label-blocked anchor (q219) and the grid anchor
    (q223) with the unblocked q232, plus co-membership pair RECALL of
    each arm against the true pairs — q229 told you the two blockings
    disagree; this tells you which one is right and by how much, with
    floors on the truth agreement (the quantity a user asking "are my
    clusters right?" actually means).

    Scale: the truth arm is the documented quadratic anchor (q232);
    everything downstream is joins on vec_id and dup-bounded
    co-membership pair joins — the same cost class as q229."""
    from ..operators.par import run_concurrently

    # Three independent arms (each an edge generator + eager CC loop):
    # evaluate on driver threads so their internal actions overlap
    # (operators/par.py, guide §2.6). Frames are unchanged.
    tr, ex, gr = run_concurrently(
        lambda: q232_dbscan_truth(spark, sf_dir).select(
            "vec_id", F.col("role").alias("rt"), F.col("cluster_id").alias("ct")
        ),
        lambda: q219_dbscan_embeddings(spark, sf_dir).select(
            "vec_id", F.col("role").alias("re"), F.col("cluster_id").alias("ce")
        ),
        lambda: q223_dbscan_grid(spark, sf_dir).select(
            "vec_id", F.col("role").alias("rg"), F.col("cluster_id").alias("cg")
        ),
    )

    j = tr.join(ex, "vec_id").join(gr, "vec_id")
    base = j.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum((F.col("re") == F.col("rt")).cast("long")).alias("n_label_agree"),
        F.sum((F.col("rg") == F.col("rt")).cast("long")).alias("n_grid_agree"),
    )
    pt, pe, pg = (
        _cluster_pairs(tr, "ct"),
        _cluster_pairs(ex, "ce"),
        _cluster_pairs(gr, "cg"),
    )
    npt = pt.agg(F.count(F.lit(1)).alias("n_pairs_truth"))
    nle = pt.join(pe, ["u", "v"]).agg(
        F.count(F.lit(1)).alias("n_pairs_label_hit")
    )
    ngr = pt.join(pg, ["u", "v"]).agg(F.count(F.lit(1)).alias("n_pairs_grid_hit"))
    label_agree = F.col("n_label_agree") / F.col("n_vectors").cast("double")
    grid_agree = F.col("n_grid_agree") / F.col("n_vectors").cast("double")

    def _recall(hit):
        return F.when(F.col("n_pairs_truth") == 0, F.lit(1.0)).otherwise(
            F.col(hit) / F.col("n_pairs_truth").cast("double")
        )

    return (
        base.crossJoin(F.broadcast(npt))
        .crossJoin(F.broadcast(nle))
        .crossJoin(F.broadcast(ngr))
        .select(
            F.col("n_vectors").cast("long").alias("n_vectors"),
            label_agree.alias("label_role_agreement"),
            grid_agree.alias("grid_role_agreement"),
            F.col("n_pairs_truth").cast("long").alias("n_pairs_truth"),
            F.col("n_pairs_label_hit").cast("long").alias("n_pairs_label_hit"),
            F.col("n_pairs_grid_hit").cast("long").alias("n_pairs_grid_hit"),
            _recall("n_pairs_label_hit").alias("label_pair_recall"),
            _recall("n_pairs_grid_hit").alias("grid_pair_recall"),
            F.when(label_agree >= _TRUTH_LABEL_AGREE_MIN, F.lit("ok"))
            .otherwise(F.lit("FAIL label agreement"))
            .alias("label_gate"),
            F.when(grid_agree >= _TRUTH_GRID_AGREE_MIN, F.lit("ok"))
            .otherwise(F.lit("FAIL grid agreement"))
            .alias("grid_gate"),
            F.when(
                _recall("n_pairs_grid_hit") >= _TRUTH_GRID_RECALL_MIN,
                F.lit("ok"),
            )
            .otherwise(F.lit("FAIL grid pair recall"))
            .alias("grid_recall_gate"),
        )
    )


# --------------------------------------------------------------------------
# q234: split-leakage re-proof against TRUTH. q216 ("zero leaked" over
# label-blocked edges) and q224 (over grid edges) each prove leak-
# freedom only against the edges their own blocking can see; here both
# split assignments are re-checked against the TRUE eps relation, so
# the previously invisible cross-block leak count gets a number and a
# ceiling.
# --------------------------------------------------------------------------

# Round 11 measured ~90-100% true leakage at the percolating eps 0.3
# (the giant component spanned every split — no cluster-hashing policy
# could be leak-free), so the gate could only PIN the degenerate fact.
# At the re-anchored eps 0.4 (round 12) the gate flips to per-policy
# CEILINGS on the measured band:
# * GRID policy (clusters from the mp eps-0.4 edge set — the relation
#   it is DESIGNED to guard): measured 0/22 val + 2/31 test at the
#   fixture, 9/123 + 11/114 at sf0.1 under the depth-scaled nprobe
#   (round 13 — max rate 0.096, down from 0.212 at nprobe 4; the
#   residual is exactly the ~0.1 of true edges the probe set still
#   misses; SCALE.md dial). Ceiling 0.2: real margin, fires far below
#   the percolating signature (~1.0).
# * LABEL policy (q216's clusters from the 0.3 label-blocked near-dup
#   relation — a DIFFERENT contract, exactly leak-free there by its
#   own re-proof): against the 0.4 truth it leaks through cross-label
#   true edges, measured 0.10-0.19 fixture / 0.53-0.55 sf0.1. The 0.7
#   ceiling is the honest tripwire (the policy is documented as NOT
#   truth-leak-safe at the family eps — use the grid policy when the
#   eval set must be guarded against embedding-space neighbors).
_TRUE_LEAK_MAX_GRID = 0.2
_TRUE_LEAK_MAX_LABEL = 0.7


def _q234_sql(n: int) -> str:
    from ..operators.graph import cc_oracle_ctes
    from .planning import _LEAK_TRAIN_HI, _LEAK_VAL_HI
    from .vector import _Q34_ORACLE

    split = f"""CASE WHEN SUBSTRING(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '{_LEAK_TRAIN_HI}' THEN 'train'
            WHEN SUBSTRING(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '{_LEAK_VAL_HI}' THEN 'val'
            ELSE 'test' END"""
    return f"""
WITH RECURSIVE {_true_sym_ctes()},
lsp AS (
  WITH RECURSIVE pairs AS (
    SELECT vec_a, vec_b FROM ({_Q34_ORACLE})
  ),
  lsym AS MATERIALIZED (
    SELECT vec_a AS a, vec_b AS b FROM pairs
    UNION
    SELECT vec_b, vec_a FROM pairs
  ),
  {cc_oracle_ctes("lsym", "cl", "vec_id")},
  assigned AS (
    SELECT e2.vec_id, COALESCE(cl.cluster_id, e2.vec_id) AS cluster_id
    FROM embeddings e2 LEFT JOIN cl ON e2.vec_id = cl.vec_id
  )
  SELECT vec_id, ({split}) AS split FROM assigned
),
gsp AS (
  WITH RECURSIVE {mp_sym_ctes(n, sym_name="gsym")},
  {cc_oracle_ctes("gsym", "cl", "vec_id")},
  assigned AS (
    SELECT e2.vec_id, COALESCE(cl.cluster_id, e2.vec_id) AS cluster_id
    FROM embeddings e2 LEFT JOIN cl ON e2.vec_id = cl.vec_id
  )
  SELECT vec_id, ({split}) AS split FROM assigned
),
sp AS (
  SELECT 'label_blocked' AS policy, vec_id, split FROM lsp
  UNION ALL
  SELECT 'grid' AS policy, vec_id, split FROM gsp
),
leak AS (
  SELECT DISTINCT s1.policy, s1.vec_id
  FROM sym p
  JOIN sp s1 ON p.a = s1.vec_id
  JOIN sp s2 ON p.b = s2.vec_id AND s2.policy = s1.policy
  WHERE s1.split <> 'train' AND s2.split = 'train'
)
SELECT sp.policy, sp.split,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN leak.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_leaked,
       CASE WHEN sp.split = 'train' THEN 'n/a'
            WHEN SUM(CASE WHEN leak.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 <= (CASE WHEN sp.policy = 'grid'
                          THEN {_TRUE_LEAK_MAX_GRID}
                          ELSE {_TRUE_LEAK_MAX_LABEL} END) * COUNT(*)
            THEN 'ok'
            ELSE 'FAIL true leakage above ceiling'
       END AS leak_gate
FROM sp LEFT JOIN leak ON sp.vec_id = leak.vec_id AND sp.policy = leak.policy
GROUP BY sp.policy, sp.split
"""


@query("q234_split_leakage_truth", oracle=_q234_sql, tags=("vector", "gate", "EXT"))
def q234_split_leakage_truth(spark, sf_dir):
    """The q216/q224 zero-leak proofs re-run against TRUTH: both split
    policies (label-blocked clusters, grid clusters) are re-checked
    for val/test vectors having a TRUE eps-neighbor in train — the
    cross-block leak their own in-query re-proofs cannot see. Report
    is (policy, split, n_vectors, n_true_leaked, leak_gate).

    At the re-anchored eps 0.4 this is a real CEILING gate with
    per-policy ceilings: round 11 proved that at the percolating 0.3
    both policies leaked ~100% vs truth (the giant component spanned
    every split — the gate could only pin the degenerate fact). At 0.4
    the sparse truth relation is actually guardable: the GRID policy
    (clusters from the mp eps-edge set, the relation it guards) leaks
    0-6% at the fixture and 7-10% at sf0.1 — the residual is exactly
    the ~0.1 of true edges the depth-scaled probe set misses — ceiling
    0.2; the LABEL policy guards the 0.3 near-dup relation (leak-free
    there by q216's own re-proof) and against the 0.4 truth leaks
    through cross-label true edges (0.10-0.55 measured band, ceiling
    0.7 as the percolation tripwire). The report now tells a user
    WHICH policy guards embedding-space neighbors: the grid one."""
    from ..operators.graph import connected_components_star
    from ..operators.skew import gated_broadcast
    from ..scratch import parquet_checkpoint
    from .planning import _LEAK_TRAIN_HI, _LEAK_VAL_HI
    from .vector import q34_cosine_near_dup
    from .vector6 import _mp_eps_edges

    e = load(spark, sf_dir, "embeddings").select("vec_id")

    def _bucketed(assigned):
        bucket = F.substring(
            F.md5(F.col("cluster_id").cast("string").cast("binary")), 1, 2
        )
        return assigned.withColumn(
            "split",
            F.when(bucket < _LEAK_TRAIN_HI, "train")
            .when(bucket < _LEAK_VAL_HI, "val")
            .otherwise("test"),
        ).select("vec_id", "split")

    from ..operators.par import run_concurrently

    def _label_cl():
        # label policy: q216's assignment
        pairs = q34_cosine_near_dup(spark, sf_dir).select("vec_a", "vec_b")
        cl = connected_components_star(pairs, src="vec_a", dst="vec_b").select(
            F.col("id").alias("vec_id"), "cluster_id"
        )
        return gated_broadcast(cl)

    def _grid_cl():
        # grid policy: q224's assignment (CC over the persisted multi-
        # probe edge set, min_nbrs=1 — the round-12 production edge
        # generator)
        gsym = _mp_eps_edges(spark, sf_dir)
        cl = connected_components_star(
            gsym.filter(F.col("a") < F.col("b")), src="a", dst="b"
        ).select(F.col("id").alias("vec_id"), "cluster_id")
        return gated_broadcast(cl)

    # Three independent arms (two split policies + the truth edge
    # list), each with its own eager actions — overlap them on driver
    # threads (operators/par.py). Frames are unchanged.
    lcl, gcl, tsym = run_concurrently(
        _label_cl,
        _grid_cl,
        lambda: parquet_checkpoint(_eps_edges(spark, sf_dir), "q234_true_sym_"),
    )
    lsp = _bucketed(
        e.join(lcl, "vec_id", "left").withColumn(
            "cluster_id", F.coalesce("cluster_id", "vec_id")
        )
    ).withColumn("policy", F.lit("label_blocked"))
    gsp = _bucketed(
        e.join(gcl, "vec_id", "left").withColumn(
            "cluster_id", F.coalesce("cluster_id", "vec_id")
        )
    ).withColumn("policy", F.lit("grid"))

    sp = lsp.unionByName(gsp)
    leak = (
        tsym.join(
            sp.select(F.col("vec_id").alias("a"), "policy", F.col("split").alias("sa")),
            "a",
        )
        .join(
            sp.select(
                F.col("vec_id").alias("b"),
                F.col("policy").alias("policy_b"),
                F.col("split").alias("sb"),
            ),
            "b",
        )
        .filter(
            (F.col("policy") == F.col("policy_b"))
            & (F.col("sa") != "train")
            & (F.col("sb") == "train")
        )
        .select("policy", F.col("a").alias("vec_id"))
        .distinct()
        .withColumn("leaked", F.lit(1))
    )
    n_leaked = F.sum(F.coalesce("leaked", F.lit(0))).cast("long")
    return (
        sp.join(leak, ["policy", "vec_id"], "left")
        .groupBy("policy", "split")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            n_leaked.alias("n_true_leaked"),
            F.when(F.col("split") == "train", F.lit("n/a"))
            .when(
                n_leaked
                <= F.when(
                    F.col("policy") == "grid", F.lit(_TRUE_LEAK_MAX_GRID)
                ).otherwise(F.lit(_TRUE_LEAK_MAX_LABEL))
                * F.count(F.lit(1)),
                F.lit("ok"),
            )
            .otherwise(F.lit("FAIL true leakage above ceiling"))
            .alias("leak_gate"),
        )
    )


# --------------------------------------------------------------------------
# q235: the eps-percolation pre-flight (round-11 verdict item #1's
# guard clause). Round 11 proved the family's old eps sat in the
# percolating regime — and nothing would have warned a future corpus
# whose cosine distribution drifts back into it. This gate estimates
# the TRUE mean eps-degree from a bounded deterministic sample (the
# q213 discipline: md5-ordered LIMIT, seedless, engine-agnostic) and
# fails when the estimate approaches the giant-component threshold.
# --------------------------------------------------------------------------

_PERC_SAMPLE = 64
# Random-graph heuristic: a giant component emerges at mean degree ~1.
# Exact true mean degree at eps 0.4: 0.236 fixture / 0.92 sf0.1 (vs
# 3.96 / 14.9 at the percolating 0.3); the 64-vector sample estimates
# 0.203 / 1.078 — same side of the ceiling at every protocol scale.
# The ceiling 2.0 separates the regimes with margin on both sides
# (eps-graphs are clustered, not Erdos-Renyi, so degree ~1-2 with
# bounded component sizes is still safe — q233's truth gates are the
# backstop that would catch a clustered-but-degenerate corpus; the
# sf0.1 corpus at 1.08 is the measured near-critical case whose 75-
# member chain component q233's docstring prices).
_PERC_MEAN_DEGREE_MAX = 2.0
# Round 14: mean degree alone CONFLATES density with percolation — the
# clustered 10x corpus (64 mixture components of ~312 members, largest
# eps-component 1.75% of the corpus, provably non-percolating) reads
# est_mean_degree ~312 and the ER ceiling false-FAILs on exactly the
# shape production data has. The discriminator is neighborhood
# CLOSURE: in a clustered graph a neighbor's neighborhood is the same
# cluster (new-vertex fraction ~0); in a percolating one it keeps
# expanding (~1). So when the degree ceiling trips, a second sampled
# hop decides: per sample vector, its first 8 eps-neighbors in md5
# order are re-scored against the corpus, and expansion_frac =
# |hop-2 hits outside N(q) + q itself| / |hop-2 hits|.
# Dense-but-closed (expansion <= 0.2) passes as
# 'ok dense clustered'; dense-and-open FAILs as before. Cost: one
# extra (sample x hop2) x N linear pass — production-feasible.
_PERC_HOP2_PER_Q = 8
_PERC_EXPANSION_MAX = 0.2


def _q235_oracle() -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (
  SELECT vec_id, v FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_PERC_SAMPLE}
),
hits AS MATERIALIZED (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.v AS c_v
  FROM q JOIN e c ON c.vec_id <> q.vec_id
  WHERE ROUND(list_cosine_similarity(q.v, c.v), 4) >= {_DBSCAN_EPS_COS}
),
deg AS (
  SELECT q.vec_id, COALESCE(h.d, 0) AS d
  FROM q LEFT JOIN (
    SELECT q_id, COUNT(*) AS d FROM hits GROUP BY q_id
  ) h ON h.q_id = q.vec_id
),
probes AS (
  SELECT q_id, c_id AS nbr_id, c_v AS nbr_v FROM (
    SELECT q_id, c_id, c_v,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY md5(CAST(c_id AS VARCHAR)), c_id) AS rn
    FROM hits
  ) WHERE rn <= {_PERC_HOP2_PER_Q}
),
hop2 AS (
  SELECT p.q_id, p.nbr_id, c.vec_id AS c_id
  FROM probes p JOIN e c ON c.vec_id <> p.nbr_id
  WHERE ROUND(list_cosine_similarity(p.nbr_v, c.v), 4) >= {_DBSCAN_EPS_COS}
),
hop2x AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hop2_edges,
         CAST(SUM(CASE WHEN h2.c_id = h2.q_id THEN 0
                       WHEN h1.c_id IS NOT NULL THEN 0
                       ELSE 1 END) AS BIGINT) AS n_hop2_new
  FROM hop2 h2 LEFT JOIN (SELECT DISTINCT q_id, c_id FROM hits) h1
    ON h1.q_id = h2.q_id AND h1.c_id = h2.c_id
),
d_agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
         CAST(SUM(d) AS BIGINT) AS n_sample_edges,
         SUM(d) / CAST(COUNT(*) AS DOUBLE) AS est_mean_degree
  FROM deg
)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_vectors,
       d.n_sample,
       CAST({_DBSCAN_EPS_COS} AS DOUBLE) AS eps,
       d.n_sample_edges,
       d.est_mean_degree,
       CAST((SELECT COUNT(*) FROM probes) AS BIGINT) AS n_hop2_probes,
       h.n_hop2_edges,
       COALESCE(h.n_hop2_new, 0) AS n_hop2_new,
       COALESCE(h.n_hop2_new / CAST(NULLIF(h.n_hop2_edges, 0) AS DOUBLE), 0.0)
         AS expansion_frac,
       CASE WHEN d.est_mean_degree <= {_PERC_MEAN_DEGREE_MAX} THEN 'ok'
            WHEN COALESCE(h.n_hop2_new
                          / CAST(NULLIF(h.n_hop2_edges, 0) AS DOUBLE), 0.0)
                 <= {_PERC_EXPANSION_MAX} THEN 'ok dense clustered'
            ELSE 'FAIL percolating eps' END AS percolation_gate
FROM d_agg d, hop2x h
"""


@query("q235_eps_percolation_guard", oracle=_q235_oracle(), tags=("vector", "gate", "EXT"))
def q235_eps_percolation_guard(spark, sf_dir):
    """Percolation pre-flight for the DBSCAN/split family's operating
    eps: estimate the TRUE mean eps-degree (unblocked — every corpus
    vector counts, not just same-block ones) from a deterministic
    {_PERC_SAMPLE}-vector sample, gated in two tiers. Tier 1 is the
    giant-component heuristic (mean degree ~1; ceiling
    {_PERC_MEAN_DEGREE_MAX} with margin). Tier 2 (round 14): mean
    degree alone conflates DENSITY with percolation — a genuinely
    clustered corpus (the mixture-of-Gaussians 10x corpus reads mean
    degree ~312 while its largest eps-component is 1.75% of the
    corpus) must NOT fail the pre-flight. The discriminator is
    neighborhood closure: each sample vector's first
    {_PERC_HOP2_PER_Q} eps-neighbors (md5 order) are re-scored
    against the corpus, and expansion_frac = fraction of their hop-2
    hits that fall OUTSIDE the sample vector's own neighborhood.
    Clustered graphs close (~0, 'ok dense clustered'); percolating
    ones expand (~1, FAIL). Run BEFORE trusting q223/q224/q228's
    clusters or splits on a new corpus: a breach means the eps sits
    in (or near) the percolating regime round 11 measured at 0.3,
    where blocked DBSCAN degenerates to a within-block density
    summary and no cluster-hashed split can be leak-free.

    Scale: the hop-1 pass broadcasts the {_PERC_SAMPLE}-row sample
    against the corpus — sample x N scored rows, LINEAR; hop 2 adds
    (sample x {_PERC_HOP2_PER_Q}) x N more, still linear, shuffles
    only per-sample aggregates. The estimator is production-feasible
    at 100 TB where the exact edge count (q232's all-pairs arm) is
    fixture-protocol only. est_mean_degree and expansion_frac divide
    exact integer counts, so the doubles match DuckDB bit-for-bit."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qs = (
        e.orderBy(
            F.md5(F.col("vec_id").cast("string").cast("binary")), F.col("vec_id")
        )
        .limit(_PERC_SAMPLE)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_v"))
    )
    # hop-1 eps hit set of every sample vector — materialized once
    # (sample x N scored rows, linear) and shared by the degree
    # estimate, the probe pick and the hop-2 closure check.
    hits = checkpoint(
        e.join(F.broadcast(qs), F.col("vec_id") != F.col("q_id"))
        .filter(
            F.round(V.cosine(F.col("q_v"), F.col("embedding")), 4)
            >= _DBSCAN_EPS_COS
        )
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            F.col("embedding").alias("c_v"),
        ),
        eager=False,
    )
    deg = qs.join(
        hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("d")), "q_id", "left"
    ).select("q_id", F.coalesce(F.col("d"), F.lit(0)).alias("d"))
    # hop-2: the first _PERC_HOP2_PER_Q eps-neighbors of each sample
    # vector (md5 order — seedless, engine-agnostic) re-scored against
    # the corpus; a hit is NEW if it is neither the sample vector nor
    # already in its hop-1 neighborhood. Clustered graphs close
    # (new ~ 0); percolating ones expand (new ~ 1).
    w_pick = Window.partitionBy("q_id").orderBy(
        F.md5(F.col("c_id").cast("string").cast("binary")), F.col("c_id")
    )
    probes = (
        hits.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") <= _PERC_HOP2_PER_Q)
        .select("q_id", F.col("c_id").alias("nbr_id"), F.col("c_v").alias("nbr_v"))
    )
    hop2 = (
        e.join(F.broadcast(probes), F.col("vec_id") != F.col("nbr_id"))
        .filter(
            F.round(V.cosine(F.col("nbr_v"), F.col("embedding")), 4)
            >= _DBSCAN_EPS_COS
        )
        .select("q_id", "nbr_id", F.col("vec_id").alias("c_id"))
    )
    hop2x = (
        hop2.join(
            hits.select("q_id", "c_id").distinct().withColumn(
                "seen", F.lit(1)
            ),
            ["q_id", "c_id"],
            "left",
        )
        .select(
            F.when(F.col("c_id") == F.col("q_id"), F.lit(0))
            .when(F.col("seen").isNotNull(), F.lit(0))
            .otherwise(F.lit(1))
            .alias("is_new")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hop2_edges"),
            F.coalesce(F.sum("is_new").cast("long"), F.lit(0).cast("long")).alias(
                "n_hop2_new"
            ),
        )
    )
    n = e.agg(F.count(F.lit(1)).alias("n_vectors"))
    n_probes = probes.agg(
        F.count(F.lit(1)).cast("long").alias("n_hop2_probes")
    )
    est = F.col("n_sample_edges") / F.col("n_sample").cast("double")
    expansion = F.coalesce(
        F.col("n_hop2_new")
        / F.nullif(F.col("n_hop2_edges"), F.lit(0)).cast("double"),
        F.lit(0.0),
    )
    return (
        deg.agg(
            F.count(F.lit(1)).alias("n_sample"),
            F.sum("d").alias("n_sample_edges"),
        )
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(n_probes))
        .crossJoin(F.broadcast(hop2x))
        .select(
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.col("n_sample").cast("long").alias("n_sample"),
            F.lit(float(_DBSCAN_EPS_COS)).alias("eps"),
            F.col("n_sample_edges").cast("long").alias("n_sample_edges"),
            est.alias("est_mean_degree"),
            F.col("n_hop2_probes"),
            F.col("n_hop2_edges"),
            F.col("n_hop2_new"),
            expansion.alias("expansion_frac"),
            F.when(est <= _PERC_MEAN_DEGREE_MAX, F.lit("ok"))
            .when(expansion <= _PERC_EXPANSION_MAX, F.lit("ok dense clustered"))
            .otherwise(F.lit("FAIL percolating eps"))
            .alias("percolation_gate"),
        )
    )
