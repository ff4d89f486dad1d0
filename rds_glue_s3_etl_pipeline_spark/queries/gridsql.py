"""Scale-aware DuckDB oracle generation for the adaptive-grid family.

The adaptive-grid queries (k-NN graph, multi-probe eps-edges, their
gates and refresh forms, SemDeDup and the tree-probe dedup) pick their
tree depth from the corpus size: ``adaptive_grid(N, 32)`` is [16] at
the sf0.01 fixture, [16, 4] at sf0.1, [16, 8, 5] at 10x. Their oracle
SQL therefore depends on exactly one fact about the data: the
embeddings row count ``n``. Every generator here takes ``n`` and
returns the SQL for a corpus of that size: same training-slice Lloyd,
same md5-sampled sub-codebook levels, same 4dp-round + id tie-break
determinism discipline, so the same query hash-matches at ANY scale.

Each such query registers ONE generator (``@query(..., oracle=gen)``,
see registry.query): the driver-contract string is ``gen(FIXTURE_ROWS)``
and ``QuerySpec.oracle_fn(sf_dir)`` is ``gen(n_rows(sf_dir))``.

Every generator mirrors one Spark code path bit-for-bit:

* ``_train_ctes``       <-> operators.similarity.train_codebook (md5
                            training slice + init_centroids + Lloyd)
* ``home_ctes``         <-> operators.similarity.adaptive_grid_tree
                            (block_sub_codebook levels, every level
                            assigned by nearest_centroids)
* ``probe_ctes``        <-> vector6._knn_assignments (depth-scaled
                            multi-probe + the home-block union)
* ``mp_sym_ctes``       <-> vector6._mp_eps_candidates + _mp_symmetrize

Depth support: every generator handles ARBITRARY tree depth (the
descent loop in ``probe_ctes`` mirrors vector6._knn_assignments level
by level), so the 10x scale corpus (knn tree [16, 8, 5], sem tree
[16, 8, 8, 5]) joins the oracle-certified protocol: `python
tools/oracle_check.py --sf .scale/sf1.0 q163... q212... q223...`
hash-matches there too.

Import order: the driver strings are generated while the query
modules import, so a generator may only read names its query module
defines ABOVE the ``@query`` line that registers it.
"""

from __future__ import annotations

import os

from ..operators.graph import cc_oracle_ctes
from ..operators.similarity import _TRAIN_SAMPLE

_COS = "list_cosine_similarity"

# Embeddings row count of the driver's oracle fixture (sf0.01; the
# sf0.001 smoke fixture carries the same 500 vectors). The registered
# driver-contract strings are the generators evaluated here.
FIXTURE_ROWS = 500


def n_rows(sf_dir: str, table: str = "embeddings") -> int:
    """Corpus row count from parquet footer metadata — no engine
    needed at oracle-generation time. Handles both layouts: a single
    file (the driver's testdata) and a Spark-written directory of
    part files (the 10x scale corpus, tools/scale_probe.py)."""
    import glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(p).metadata.num_rows
            for p in glob.glob(os.path.join(path, "*.parquet"))
        )
    return pq.ParquetFile(path).metadata.num_rows


def knn_ks(n: int) -> list[int]:
    """The k-NN index tree for an ``n``-vector corpus — the same
    deterministic rule vector6._knn_index applies."""
    from ..operators.similarity import adaptive_grid
    from .vector3 import _KM_K
    from .vector6 import _KNN_TARGET_BLOCK

    return adaptive_grid(n, _KNN_TARGET_BLOCK, coarse_k=_KM_K)


def _train_ctes(k: int, iters: int, train_cap: int) -> str:
    """Lloyd trained on the md5-bounded training slice: ``e`` (all
    vectors), ``tr`` (the slice — identical to e wherever N <= cap,
    which is every oracle-sweep scale), ``cent0``..``cent{iters}``.
    Mirrors operators.similarity.train_codebook:
    4dp assignment round with c_id tie-break, 6dp exact-decimal means
    re-entered into DOUBLE via the string hop."""
    parts = [
        f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
tr AS (
  SELECT vec_id, v FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {train_cap}
),
trx AS (SELECT vec_id, generate_subscripts(v, 1) AS d, unnest(v) AS x FROM tr),
cent0 AS (
  SELECT vec_id AS c_id, v AS cv FROM tr
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
)"""
    ]
    for i in range(iters):
        parts.append(
            f"""tassign{i} AS (
  SELECT vec_id, c_id FROM (
    SELECT tr.vec_id, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY tr.vec_id
                              ORDER BY ROUND({_COS}(tr.v, c.cv), 4) DESC,
                                       c.c_id) AS rn
    FROM tr CROSS JOIN cent{i} c
  ) WHERE rn = 1
),
upd{i + 1} AS (
  SELECT a.c_id, trx.d,
         CAST(CAST(SUM(CAST(ROUND(trx.x, 6) AS DECIMAL(24,8))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS m
  FROM tassign{i} a JOIN trx ON trx.vec_id = a.vec_id
  GROUP BY a.c_id, trx.d
),
cent{i + 1} AS (SELECT c_id, list(m ORDER BY d) AS cv FROM upd{i + 1} GROUP BY c_id)"""
        )
    return ",\n".join(parts)


def _block_cols(ks: list[int]) -> list[str]:
    return ["c_id"] + [f"s{i}_id" for i in range(len(ks) - 1)]


def home_ctes(ks: list[int], iters: int, train_cap: int) -> tuple[str, list[str]]:
    """CTEs assigning EVERY vector to its deepest adaptive-grid block:
    ``lvl0`` (coarse argmax over cent{iters}) then one md5-sampled
    sub-codebook level per remaining ks entry (``sub{i}`` + ``lvl{i}``,
    rn=1 assignment). Returns (sql, block_cols); the deepest frame is
    ``lvl{len(ks)-1}`` with columns (vec_id, v, *block_cols)."""
    cols = _block_cols(ks)
    parts = [_train_ctes(ks[0], iters, train_cap)]
    parts.append(
        f"""lvl0 AS (
  SELECT vec_id, v, c_id, cos_sim FROM (
    SELECT e.vec_id, e.v, c.c_id,
           ROUND({_COS}(e.v, c.cv), 4) AS cos_sim,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND({_COS}(e.v, c.cv), 4) DESC,
                                       c.c_id) AS rn
    FROM e CROSS JOIN cent{iters} c
  ) WHERE rn = 1
)"""
    )
    for i, k_sub in enumerate(ks[1:]):
        prev = f"lvl{i}"
        prev_cols = cols[: i + 1]
        sid = cols[i + 1]
        on = " AND ".join(f"m.{c} = s.{c}" for c in prev_cols)
        pc = ", ".join(prev_cols)
        mpc = ", ".join(f"m.{c}" for c in prev_cols)
        parts.append(
            f"""sub{i + 1} AS (
  SELECT {pc}, vec_id AS {sid}, v AS sv FROM (
    SELECT {pc}, vec_id, v,
           ROW_NUMBER() OVER (PARTITION BY {pc}
                              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM {prev}
  ) WHERE rn <= {k_sub}
),
lvl{i + 1} AS (
  SELECT vec_id, v, {pc}, {sid} FROM (
    SELECT m.vec_id, m.v, {mpc}, s.{sid},
           ROW_NUMBER() OVER (PARTITION BY m.vec_id
                              ORDER BY ROUND({_COS}(m.v, s.sv), 4) DESC,
                                       s.{sid}) AS rn
    FROM {prev} m JOIN sub{i + 1} s ON {on}
  ) WHERE rn = 1
)"""
        )
    return ",\n".join(parts), cols


def probe_ctes(ks: list[int], iters: int, nprobe: int) -> str:
    """CTE ``pb(vec_id, *block_cols)`` — the query-side multi-probe
    block set, mirroring vector6._knn_assignments at ANY tree depth
    (round-13 verdict item #5 lifted the old depth-2 bound): depth 1 =
    plain top-nprobe coarse cells (home ⊆ probes by argmax); depth ≥ 2
    descends with top-``nprobe`` at every level above the deepest
    (``p1``..``p{L-2}`` rank per vec_id ACROSS all probed parents —
    the Spark window partitions by vec_id only), keeps the best
    ``nprobe²`` deepest blocks overall, then unions the home block
    with dedup (probe ⊇ home). Sub-codebooks are home_ctes' ``sub{j}``
    CTEs — the same md5 sample the build used, so the descent rescores
    bit-identical centroids. Requires home_ctes' CTEs in scope."""
    cols = _block_cols(ks)
    home = f"lvl{len(ks) - 1}"
    if len(ks) == 1:
        return f"""pb AS (
  SELECT vec_id, c_id FROM (
    SELECT e.vec_id, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND({_COS}(e.v, c.cv), 4) DESC,
                                       c.c_id) AS rn
    FROM e CROSS JOIN cent{iters} c
  ) WHERE rn <= {nprobe}
)"""
    pc = ", ".join(cols)
    parts = [
        f"""par AS (
  SELECT vec_id, c_id FROM (
    SELECT e.vec_id, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND({_COS}(e.v, c.cv), 4) DESC,
                                       c.c_id) AS rn
    FROM e CROSS JOIN cent{iters} c
  ) WHERE rn <= {nprobe}
)"""
    ]
    prev = "par"
    # Descent level j consumes sub{j} (keyed on cols[:j], emitting
    # cols[j]): intermediate levels keep top-nprobe blocks per vector,
    # the deepest keeps nprobe² — vector6._knn_assignments' budgets.
    for j in range(1, len(ks)):
        sid = cols[j]
        par_cols = ", ".join(f"p.{c}" for c in cols[:j])
        out_cols = ", ".join(cols[: j + 1])
        on = " AND ".join(f"s.{c} = p.{c}" for c in cols[:j])
        keep = nprobe * nprobe if j == len(ks) - 1 else nprobe
        name = "pall" if j == len(ks) - 1 else f"p{j}"
        parts.append(
            f"""{name} AS (
  SELECT vec_id, {out_cols} FROM (
    SELECT m.vec_id, {par_cols}, s.{sid},
           ROW_NUMBER() OVER (PARTITION BY m.vec_id
                              ORDER BY ROUND({_COS}(m.v, s.sv), 4) DESC,
                                       s.{sid}) AS rn
    FROM e m
    JOIN {prev} p ON p.vec_id = m.vec_id
    JOIN sub{j} s ON {on}
  ) WHERE rn <= {keep}
)"""
        )
        prev = name
    parts.append(
        f"""pb AS (
  SELECT DISTINCT vec_id, {pc} FROM (
    SELECT vec_id, {pc} FROM pall
    UNION ALL
    SELECT vec_id, {pc} FROM {home}
  )
)"""
    )
    return ",\n".join(parts)


def knn_home_probe_ctes(n: int, nprobe: int) -> tuple[str, list[str], str]:
    """(ctes, block_cols, home_name) for the k-NN index of an
    ``n``-vector corpus: home assignment + ``pb`` probe set at
    ``nprobe``."""
    from .vector3 import _KM_ITERS

    ks = knn_ks(n)
    home_sql, cols = home_ctes(ks, _KM_ITERS, _TRAIN_SAMPLE)
    return (
        home_sql + ",\n" + probe_ctes(ks, _KM_ITERS, nprobe),
        cols,
        f"lvl{len(ks) - 1}",
    )


def q212_oracle(n: int) -> str:
    """q212's oracle (the blocked k-NN graph): within-deepest-block
    top-k neighbors under the tree adaptive_grid picks for an
    ``n``-vector corpus."""
    from .vector3 import _KM_ITERS
    from .vector6 import _KNN_K

    ks = knn_ks(n)
    home_sql, cols = home_ctes(ks, _KM_ITERS, _TRAIN_SAMPLE)
    home = f"lvl{len(ks) - 1}"
    on = " AND ".join(f"a.{c} = b.{c}" for c in cols)
    return f"""
WITH {home_sql},
p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         ROUND({_COS}(a.v, b.v), 4) AS cs
  FROM {home} a JOIN {home} b ON {on} AND a.vec_id <> b.vec_id
),
r AS (
  SELECT vec_id, nbr_id, cs,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, nbr_id) AS rnk
  FROM p
)
SELECT vec_id, nbr_id, CAST(rnk AS BIGINT) AS rnk, cs
FROM r WHERE rnk <= {_KNN_K}
"""


def mp_sym_ctes(n: int, sym_name: str = "sym") -> str:
    """CTEs ending in ``sym(a, b)`` = the multi-probe eps-edge list
    under an ``n``-vector corpus's tree (probe x home candidates at
    the depth-scaled budget, eps filter, symmetric DISTINCT — directed
    (a, b) can arise both from a probing b's home and, after the
    swap, from b probing a's home). MATERIALIZED so a recursive
    consumer (reach) re-scans a 1.5k-row table per iteration instead
    of re-evaluating the whole edge build (measured 257 s -> 2.7 s at
    sf0.1). ``sym_name`` lets a nested scope avoid shadowing an
    outer MATERIALIZED sym (DuckDB rejects the duplicate alias)."""
    from .vector6 import _DBSCAN_EPS_COS, _dbscan_nprobe

    ctes, cols, home = knn_home_probe_ctes(n, _dbscan_nprobe(knn_ks(n)))
    on = " AND ".join(f"p.{c} = h.{c}" for c in cols)
    return f"""{ctes},
cd AS (
  SELECT p.vec_id AS a, h.vec_id AS b
  FROM pb p
  JOIN {home} h ON {on} AND h.vec_id <> p.vec_id
  JOIN e ea ON ea.vec_id = p.vec_id
  JOIN e eb ON eb.vec_id = h.vec_id
  WHERE ROUND({_COS}(ea.v, eb.v), 4) >= {_DBSCAN_EPS_COS}
),
{sym_name} AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM cd UNION ALL SELECT b, a FROM cd
  )
)"""


def sem_ks(n: int) -> list[int]:
    """The SemDeDup tree for an ``n``-vector corpus — q163/q169's
    rule (target block 4, coarse 16, fanout 8):
    [16, 8] at the fixture, [16, 8, 4] at sf0.1."""
    from ..operators.similarity import adaptive_grid
    from .vector3 import _KM_K
    from .vector5 import _ADAPT_TARGET_BLOCK, _SUB_K

    return adaptive_grid(n, _ADAPT_TARGET_BLOCK, coarse_k=_KM_K, fanout=_SUB_K)


def q163_oracle(n: int) -> str:
    """q163's oracle (SemDeDup on the adaptive tree):
    deepest-block membership from home_ctes at the SemDeDup tree,
    hub-capped within-block pairs (every member vs the block's first
    _PAIR_HUB_CAP members in md5 order — all-pairs wherever the block
    is under the cap, exactly the Spark rule), CC over the pair graph,
    keep-the-outlier survivor per component (min coarse cosine, vec_id
    tie-break)."""
    from .vector3 import _KM_ITERS, _SEM_THRESHOLD
    from .vector5 import _PAIR_HUB_CAP

    ks = sem_ks(n)
    home_sql, cols = home_ctes(ks, _KM_ITERS, _TRAIN_SAMPLE)
    home = f"lvl{len(ks) - 1}"
    pc = ", ".join(cols)
    on = " AND ".join(f"a.{c} = b.{c}" for c in cols)
    return f"""
WITH RECURSIVE {home_sql},
ranked AS (
  SELECT vec_id, v, {pc},
         ROW_NUMBER() OVER (PARTITION BY {pc}
                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS brn
  FROM {home}
),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM ranked a JOIN ranked b
    ON {on} AND a.brn < b.brn AND a.brn <= {_PAIR_HUB_CAP}
  WHERE ROUND({_COS}(a.v, b.v), 4) >= {_SEM_THRESHOLD}
),
sym AS MATERIALIZED (
  SELECT va AS a, vb AS b FROM pairs
  UNION
  SELECT vb, va FROM pairs
),
{cc_oracle_ctes("sym", "cl", "vec_id")},
members AS (
  SELECT cl.cluster_id, cl.vec_id, f.cos_sim AS cent_cos
  FROM cl JOIN lvl0 f ON f.vec_id = cl.vec_id
)
SELECT m.cluster_id, m.vec_id AS kept_vec_id, m.cent_cos AS kept_cent_cos,
       s.n_members
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY cluster_id ORDER BY cent_cos ASC, vec_id) AS rn
      FROM members) m
JOIN (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM members GROUP BY cluster_id) s USING (cluster_id)
WHERE m.rn = 1
"""


def tree_probe_oracle(n: int, target_cell: int) -> str:
    """The tree-probe incremental dedup's oracle (q164 at target cell
    32, q165 at 8): home assignment from home_ctes at an ``n``-vector
    corpus's tree, per-BRANCH probe descent (top-p0 coarse cells, then
    top-p_sub sub-cells within each probed branch at every deeper
    level — vector5._tree_probe_scored's rule, which differs from the
    k-NN family's global top-nprobe² rule), leaf-keyed same-label
    candidate join against history, threshold, best match per new
    vector."""
    from ..operators.similarity import adaptive_grid
    from .vector import _NEAR_DUP_THRESHOLD
    from .vector3 import _KM_ITERS, _KM_K, _NPROBE, _SUB_K
    from .vector5 import _TREE_PSUB

    ks = adaptive_grid(n, target_cell, coarse_k=_KM_K, fanout=_SUB_K)
    home_sql, cols = home_ctes(ks, _KM_ITERS, _TRAIN_SAMPLE)
    home = f"lvl{len(ks) - 1}"
    parts = [
        home_sql,
        f"""probe0 AS (
  SELECT p_vec, c_id FROM (
    SELECT e.vec_id AS p_vec, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND({_COS}(e.v, c.cv), 4) DESC,
                                       c.c_id) AS rn
    FROM e CROSS JOIN cent{_KM_ITERS} c
    WHERE e.vec_id % 5 = 0
  ) WHERE rn <= {_NPROBE}
)""",
    ]
    for i in range(1, len(ks)):
        prefix = cols[:i]
        sid = cols[i]
        ppc = ", ".join(f"p.{c}" for c in prefix)
        pc = ", ".join(prefix)
        on = " AND ".join(f"s.{c} = p.{c}" for c in prefix)
        parts.append(
            f"""probe{i} AS (
  SELECT p_vec, {pc}, {sid} FROM (
    SELECT p.p_vec, {ppc}, s.{sid},
           ROW_NUMBER() OVER (PARTITION BY p.p_vec, {ppc}
                              ORDER BY ROUND({_COS}(q.v, s.sv), 4) DESC,
                                       s.{sid}) AS rn
    FROM probe{i - 1} p
    JOIN e q ON q.vec_id = p.p_vec
    JOIN sub{i} s ON {on}
  ) WHERE rn <= {_TREE_PSUB}
)""",
        )
    leaf_on = " AND ".join(f"h.{c} = p.{c}" for c in cols)
    joined = ",\n".join(parts)
    return f"""
WITH {joined},
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
scored AS (
  SELECT n.vec_id AS new_vec_id, h.vec_id AS hist_vec_id,
         ln.label AS label,
         ROUND({_COS}(n.v, h.v), 4) AS cos_sim
  FROM probe{len(ks) - 1} p
  JOIN {home} h ON {leaf_on} AND h.vec_id % 5 <> 0
  JOIN e n ON n.vec_id = p.p_vec
  JOIN lab ln ON ln.vec_id = n.vec_id
  JOIN lab lh ON lh.vec_id = h.vec_id AND lh.label = ln.label
)
SELECT new_vec_id, hist_vec_id AS best_hist_vec_id, label, cos_sim
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY new_vec_id ORDER BY cos_sim DESC, hist_vec_id) AS rn
      FROM scored
      WHERE cos_sim >= {_NEAR_DUP_THRESHOLD})
WHERE rn = 1
"""


def q166_oracle(n: int) -> str:
    """q166's oracle: the adaptive-probe arm (q164) generated for an
    ``n``-vector corpus against the exact arm (q132's full label scan,
    scale-exact as written)."""
    from .vector2 import _Q132_ORACLE
    from .vector5 import _IVF_TARGET_CELL

    ap = tree_probe_oracle(n, _IVF_TARGET_CELL)
    return f"""
WITH exact AS (SELECT * FROM ({_Q132_ORACLE})),
ap AS (SELECT * FROM ({ap})),
common AS (
  SELECT e.new_vec_id,
         CASE WHEN e.best_hist_vec_id = a.best_hist_vec_id THEN 1 ELSE 0 END AS same_best
  FROM exact e JOIN ap a USING (new_vec_id)
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM ap) AS n_probe,
  CAST(COUNT(*) AS BIGINT) AS n_common,
  CAST(COALESCE(SUM(same_best), 0) AS BIGINT) AS n_same_best,
  ROUND(COUNT(*) / (SELECT COUNT(*) FROM exact), 4) AS recovery
FROM common
"""


def q167_oracle(n: int) -> str:
    """q167's oracle: the adaptive row generated for an ``n``-vector
    corpus (exact_1level and fixed_2level stay the pinned forms — they
    are DEFINED as the fixed grids at every scale)."""
    from .vector3 import _Q143_ORACLE, _Q149_ORACLE

    def stats(variant: str, inner: str) -> str:
        return f"""SELECT '{variant}' AS variant,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n_members) AS BIGINT) AS n_dup_docs,
       CAST(MAX(n_members) AS BIGINT) AS max_group
FROM ({inner})"""

    return (
        stats("adaptive", q163_oracle(n))
        + "\nUNION ALL\n"
        + stats("exact_1level", _Q143_ORACLE)
        + "\nUNION ALL\n"
        + stats("fixed_2level", _Q149_ORACLE)
    )


def q169_oracle(n: int) -> str:
    """q169's oracle: per-level block stats over an ``n``-vector
    corpus's SemDeDup tree (one report row per level, however deep
    the tree is there)."""
    from .vector3 import _KM_ITERS

    ks = sem_ks(n)
    home_sql, cols = home_ctes(ks, _KM_ITERS, _TRAIN_SAMPLE)
    selects = []
    for lvl in range(len(ks)):
        pc = ", ".join(cols[: lvl + 1])
        selects.append(
            f"""SELECT CAST({lvl} AS BIGINT) AS level,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(MAX(c) AS BIGINT) AS max_block,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       ROUND(SUM(c) / COUNT(*), 4) AS avg_block
FROM (SELECT {pc}, COUNT(*) AS c FROM lvl{len(ks) - 1} GROUP BY {pc})"""
        )
    return f"""
WITH {home_sql}
{" UNION ALL ".join(selects)}
"""
