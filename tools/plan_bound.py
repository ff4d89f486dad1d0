"""Static cardinality-bound engine over Spark "formatted" physical plans.

The plan-audit classifier (round-14 verdict item #1): a
BroadcastNestedLoopJoin is linear — not a cartesian blow-up — exactly
when one side is bounded by a constant that does not grow with the
data. This module PROVES such bounds from the plan text alone where
possible, so `tools/explain_audit.py` can classify the 50
scalar/bounded-broadcast idioms as benign and keep UNEXPECTED (with a
non-zero exit) for anything it cannot prove or that is not covered by
an explicit, shape-checked justification.

Static proof rules (each is a documented contract of this repo, not a
heuristic guess):

- scalar aggregate (``Keys: []``)            -> 1 row
- ``TakeOrderedAndProject`` / Limit nodes    -> the literal limit
- ``Range (a, b, step=s, ...)``              -> ceil((b-a)/s)
- scan of region/nation parquet              -> 25 (TPC-H fixed dims:
  region=5, nation=25 at EVERY scale factor)
- scan of a non-testdata parquet artifact    -> measured row count via
  parquet footer metadata (persisted codebooks/samples; flagged if the
  measured count exceeds the bound threshold)
- aggregate keyed ONLY by ``__prefix_pid``   -> num-shuffle-partitions
  rows (operators/prefix.py two-pass rank: one row per range
  partition; the column name is namespaced to that operator)
- ``Filter (vec_id#.. < N)`` / ``<= N``      -> N(+1) rows (vec_id and
  doc_id are dense primary keys from 0 in every table that has them —
  TESTDATA.md schema contract — so an id-literal filter bounds rows)
- ``Scan ExistingRDD ... applySchemaToPythonRDD``
                                             -> driver-local literal
  relation (spark.createDataFrame of a Python list): bounded by
  construction — it physically fit in the driver.  A localCheckpoint
  leaf (``at localCheckpoint at``) is NOT bounded and stays INF.
- ``LocalTableScan``                         -> the same driver-local
  literal relation in its Arrow form (``session.local_frame``, or a
  pandas ``createDataFrame``): its rows are embedded in the plan.
- joins multiply bounds, unions add them, grouping/limits/projections
  never increase them.

Everything else (Generate/explode, keyed aggregates over unbounded
input, checkpointed edge lists) is INF — unprovable — and must either
carry a per-query shape-checked justification in explain_audit.py or
ship as UNEXPECTED.
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass, field

INF = float("inf")

# One row per range partition of the two-pass global rank
# (operators/prefix.py). 1<<14 comfortably covers any sane
# spark.sql.shuffle.partitions while staying far below data scale.
PID_AGG_BOUND = 1 << 14

# Bounds at or below this are "constant-sized for classification
# purposes": a 16k-row broadcast against a 100 TB probe is linear.
BOUNDED_THRESHOLD = 1 << 14

# Dense-from-0 primary-key id columns (TESTDATA.md schema contract):
# a `col < N` literal filter on one of these bounds the row count.
_DENSE_PK_COLS = ("vec_id", "doc_id", "q_id")

# TPC-H fixed-cardinality dimensions — same row count at every SF.
_FIXED_DIMS = {"region.parquet": 5, "nation.parquet": 25}


@dataclass
class Node:
    indent: int
    name: str
    nid: int
    line: str
    children: list["Node"] = field(default_factory=list)
    detail: list[str] = field(default_factory=list)


_TREE_RE = re.compile(
    r"^([:\s]*)([+:]-\s)?(\*\s)?([A-Za-z]\S*(?:\s\S+)*?)\s*\((\d+)\)\s*$"
)


def _node_name(raw: str) -> str:
    """Operator name from the tree line's text: the first token, plus
    the second for two-word scans ('Scan parquet', 'Scan ExistingRDD')
    — join build/type descriptors ('Inner BuildRight') are dropped."""
    toks = raw.split()
    if toks and toks[0] == "Scan" and len(toks) > 1:
        return f"Scan {toks[1]}"
    return toks[0] if toks else raw
_DETAIL_RE = re.compile(r"^\((\d+)\) (.+?)(?:\s\[codegen id : \d+\])?\s*$")


def parse_plan(plan_text: str) -> list[Node]:
    """Parse one formatted-explain dump into a forest of root Nodes
    (subqueries in the dump each become their own root)."""
    lines = plan_text.splitlines()
    flat: list[Node] = []
    details: dict[int, list[str]] = {}
    in_tree = False
    cur: int | None = None
    for ln in lines:
        if ln.startswith("== Physical Plan ==") or ln.startswith("===== Subqueries"):
            in_tree = True
            cur = None
            continue
        if in_tree:
            if not ln.strip():
                in_tree = False
                continue
            m = _TREE_RE.match(ln)
            if m:
                indent = len(m.group(1)) + (0 if m.group(2) else -3)
                flat.append(
                    Node(indent, _node_name(m.group(4)), int(m.group(5)), ln)
                )
            continue
        m = _DETAIL_RE.match(ln)
        if m:
            cur = int(m.group(1))
            details.setdefault(cur, [])
        elif cur is not None:
            details[cur].append(ln)
    for n in flat:
        n.detail = details.get(n.nid, [])
    # link children: node at indent d owns following nodes at d+3 until
    # a node at indent <= d
    roots: list[Node] = []
    stack: list[Node] = []
    for n in flat:
        while stack and stack[-1].indent >= n.indent:
            stack.pop()
        if stack:
            stack[-1].children.append(n)
        else:
            roots.append(n)
        stack.append(n)
    return roots


def _detail_str(n: Node) -> str:
    return "\n".join(n.detail)


def _first_int(s: str) -> int | None:
    m = re.search(r"\b(\d+)\b", s)
    return int(m.group(1)) if m else None


def _agg_keys(n: Node) -> list[str] | None:
    """None = no Keys line found; [] = scalar aggregate."""
    det = _detail_str(n)
    if re.search(r"^Keys: \[\]", det, re.M):
        return []
    m = re.search(r"^Keys \[\d+\]: \[(.*?)\]$", det, re.M)
    if m:
        return [k.strip() for k in m.group(1).split(",")]
    return None


def _scan_location(n: Node) -> str | None:
    m = re.search(r"^Location: \S+ \[(.+?)\]$", _detail_str(n), re.M)
    return m.group(1) if m else None


def _parquet_rows(path: str) -> int | None:
    """Row count from parquet footers only (no data read). Returns
    None when the path is unreadable (plan dumped on another host)."""
    path = re.sub(r"^file:", "", path)
    try:
        import pyarrow.dataset as pads

        return pads.dataset(path, format="parquet").count_rows()
    except Exception:
        return None


def _filter_pk_bound(n: Node) -> float:
    """`vec_id#123L < 8`-style dense-PK literal filters bound rows;
    PK equality (`vec_id#.. = 0`) bounds to exactly 1."""
    det = _detail_str(n)
    best = INF
    for col, op, lit in re.findall(
        r"(\w+)#\d+L? (<=?|=) (\d+)\b", det
    ):
        if col in _DENSE_PK_COLS:
            if op == "=":
                b = 1
            else:
                b = int(lit) + (1 if op == "<=" else 0)
            best = min(best, b)
    return best


# Nodes whose output cardinality is at most their single child's.
_PASS_THROUGH = {
    "BroadcastExchange",
    "Exchange",
    "AQEShuffleRead",
    "Project",
    "Sort",
    "Coalesce",
    "InputAdapter",
    "WholeStageCodegen",
    "Window",
    "WindowGroupLimit",
    "ColumnarToRow",
    "RowToColumnar",
    "Subquery",
    "ReusedSubquery",
    "AdaptiveSparkPlan",
    "ResultQueryStage",
    "ShuffleQueryStage",
    "BroadcastQueryStage",
    "TableCacheQueryStage",
    "InMemoryTableScan",
    "InMemoryRelation",
    "DeserializeToObject",
    "SerializeFromObject",
}

_LIMIT_NODES = {"LocalLimit", "GlobalLimit", "CollectLimit"}

_JOIN_NODES = {
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
}


def bound(n: Node) -> float:
    """Upper bound on the node's output row count, provable from the
    plan text under this repo's documented contracts; INF if not."""
    name = n.name
    if name in _PASS_THROUGH:
        return bound(n.children[0]) if len(n.children) == 1 else INF
    if name == "Filter":
        child = bound(n.children[0]) if len(n.children) == 1 else INF
        return min(child, _filter_pk_bound(n))
    if name in ("HashAggregate", "ObjectHashAggregate", "SortAggregate"):
        keys = _agg_keys(n)
        if keys == []:
            return 1
        if keys is not None and all(
            re.match(r"__prefix_pid#\d+", k) for k in keys
        ):
            return PID_AGG_BOUND
        return bound(n.children[0]) if len(n.children) == 1 else INF
    if name == "TakeOrderedAndProject":
        m = re.search(r"^Arguments: (\d+),", _detail_str(n), re.M)
        lim = int(m.group(1)) if m else None
        return lim if lim is not None else INF
    if name in _LIMIT_NODES:
        lim = _first_int(_detail_str(n))
        child = bound(n.children[0]) if len(n.children) == 1 else INF
        return min(child, lim) if lim is not None else child
    if name == "Range":
        m = re.search(
            r"Range \((-?\d+), (-?\d+), step=(-?\d+)", _detail_str(n)
        )
        if m:
            a, b, s = (int(x) for x in m.groups())
            return max(0, math.ceil((b - a) / s)) if s else INF
        return INF
    if name == "Scan parquet":
        loc = _scan_location(n)
        if loc is None:
            return INF
        base = os.path.basename(loc.rstrip("/"))
        if base in _FIXED_DIMS:
            return _FIXED_DIMS[base]
        if "/testdata/" in loc or "/.scale/" in loc:
            return INF  # data-scale tables grow with SF: never bounded
        rows = _parquet_rows(loc)
        return rows if rows is not None else INF
    if name == "Scan ExistingRDD":
        det = _detail_str(n)
        if "applySchemaToPythonRDD" in det:
            # driver-local literal relation (createDataFrame of a
            # Python list) — bounded by construction.
            return BOUNDED_THRESHOLD
        return INF
    if name == "LocalTableScan":
        # rows embedded in the plan — bounded by construction, like
        # the PythonRDD literal relation above.
        return BOUNDED_THRESHOLD
    if name in _JOIN_NODES:
        if "LeftSemi" in n.line or "LeftAnti" in n.line:
            return bound(n.children[0]) if n.children else INF
        if len(n.children) == 2:
            l, r = bound(n.children[0]), bound(n.children[1])
            return l * max(r, 1) if (l < INF and r < INF) else INF
        return INF
    if name == "Union":
        return sum(bound(c) for c in n.children)
    if name == "ReusedExchange":
        return INF  # conservatively unproven (target id not resolved)
    return INF


def _peel_sig(n: Node) -> str:
    """Short shape signature of the side's 'meat' node, used by the
    per-query justification table so an annotation silently stops
    matching when the plan changes shape."""
    cur = n
    while cur.name in (
        "BroadcastExchange",
        "Exchange",
        "AQEShuffleRead",
        "Project",
        "Sort",
        "Coalesce",
        "ColumnarToRow",
    ) and len(cur.children) == 1:
        cur = cur.children[0]
    if cur.name in ("HashAggregate", "ObjectHashAggregate", "SortAggregate"):
        keys = _agg_keys(cur)
        if keys is None:
            return cur.name
        names = sorted({re.sub(r"#\d+L?", "", k) for k in keys})
        return f"{cur.name}[{','.join(names)}]"
    if cur.name == "Filter" and len(cur.children) == 1:
        return f"Filter+{_peel_sig(cur.children[0])}"
    if cur.name == "Scan parquet":
        loc = _scan_location(cur) or "?"
        return f"Scan({os.path.basename(loc.rstrip('/'))})"
    if cur.name == "Scan ExistingRDD":
        m = re.search(r"^Output \[\d+\]: \[(.*?)\]$", _detail_str(cur), re.M)
        cols = (
            ",".join(
                sorted(re.sub(r"#\d+L?", "", c.strip()) for c in m.group(1).split(","))
            )
            if m
            else "?"
        )
        return f"Scan ExistingRDD[{cols}]"
    return cur.name


@dataclass
class NLJFinding:
    nid: int
    kind: str            # "BroadcastNestedLoopJoin" | "CartesianProduct"
    join_desc: str       # the tree line, stripped
    build_bound: float
    probe_bound: float
    build_sig: str
    probe_sig: str
    benign: bool
    note: str


def _walk(n: Node):
    yield n
    for c in n.children:
        yield from _walk(c)


def classify_nljs(
    plan_text: str, justified: dict[str, str] | None = None
) -> list[NLJFinding]:
    """Find every nested-loop join in the plan and classify it.

    justified: {build_sig: reason} shape-checked annotations for this
    query — an entry fires only when the UNPROVEN build side's peeled
    signature matches, so a changed plan stops matching and flags.
    """
    justified = justified or {}
    out: list[NLJFinding] = []
    for root in parse_plan(plan_text):
        for n in _walk(root):
            if n.name not in ("BroadcastNestedLoopJoin", "CartesianProduct"):
                continue
            if len(n.children) != 2:
                continue
            if "BuildLeft" in n.line:
                b_idx, p_idx = 0, 1
            else:  # BuildRight or CartesianProduct (no build side)
                b_idx, p_idx = 1, 0
            bnode, pnode = n.children[b_idx], n.children[p_idx]
            bb, pb = bound(bnode), bound(pnode)
            bsig, psig = _peel_sig(bnode), _peel_sig(pnode)
            if n.name == "CartesianProduct":
                # a CP never broadcasts; it is benign only if a side is
                # proven bounded (and Spark would usually have planned
                # a BNLJ then) — keep it loud otherwise.
                benign = min(bb, pb) <= BOUNDED_THRESHOLD
                note = (
                    f"CartesianProduct: bounded side proven ({min(bb, pb):.0f} rows) — linear"
                    if benign
                    else "CartesianProduct with no provably bounded side"
                )
            elif bb <= BOUNDED_THRESHOLD:
                benign = True
                what = "scalar" if bb == 1 else "bounded"
                note = (
                    f"{what} broadcast — benign (build side ≤ "
                    f"{bb:.0f} row{'s' if bb != 1 else ''}, join is linear "
                    f"in the probe side)"
                )
            elif bsig in justified:
                benign = True
                note = f"benign (documented bounded build: {justified[bsig]})"
            elif pb <= BOUNDED_THRESHOLD:
                # linear work, but the BROADCAST side is the unproven
                # one — a genuine scale risk worth its own loud label.
                benign = False
                note = (
                    f"probe side bounded ({pb:.0f} rows) but the BUILD side "
                    "is unproven — broadcasting an unbounded relation"
                )
            else:
                benign = False
                note = (
                    "no provably bounded side and no matching "
                    f"justification (build sig: {bsig})"
                )
            out.append(
                NLJFinding(
                    n.nid, n.name, n.line.strip(" :+-"), bb, pb, bsig, psig,
                    benign, note,
                )
            )
    return out
