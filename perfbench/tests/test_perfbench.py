"""Tests of the benchmark's own code. No Spark session needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import types

import duckdb
import pyarrow as pa
import pytest

from perfbench import gen
from perfbench.trace import Job, Phases, Stage, Window, attribute, tree_rss_pages, union_length
from perfbench.workloads import expected_merge_sql, install_etl_windows

# --- generator -------------------------------------------------------------


def test_generator_is_byte_deterministic():
    spec = gen.Spec(n_primary=3000)
    a, b = gen.generate(spec, 7), gen.generate(spec, 7)
    assert a.primary_json == b.primary_json
    assert a.fallback.equals(b.fallback)
    assert a.digest() == b.digest()
    assert gen.generate(spec, 8).digest() != a.digest()


@pytest.mark.parametrize("seed", [1, 2])
def test_generator_declared_properties_hold(seed):
    spec = gen.Spec(n_primary=4000)
    inputs = gen.generate(spec, seed)
    props = gen.properties(inputs)
    assert props["primary_rows"] == spec.n_primary
    assert props["fallback_rows"] == spec.n_fallback
    assert props["match_share"] == spec.n_matched / spec.n_primary
    assert props["null_share"] == pytest.approx(spec.null_share, abs=1e-12)
    assert props["dup_ids"] == spec.n_dup > 0
    assert props["unmatched"] == spec.n_unmatched == len(inputs.unmatched_ids())
    assert inputs.fallback.schema.field("id").type == pa.decimal128(12, 0)
    scores = inputs.primary.column("score").to_pylist()
    assert any(v is None for v in scores)
    assert any(isinstance(v, float) and math.isnan(v) for v in scores)
    assert b"NaN" in inputs.primary_json


# --- precedence-merge recomputation ------------------------------------------


def test_expected_merge_sql_follows_reference_semantics():
    primary = pa.table(
        {
            "id": pa.array([1, 2, 3, 4], pa.int64()),
            "name": ["a", None, None, "d"],
            "score": [1.0, float("nan"), None, float("nan")],
            "qty": pa.array([None, 2, 3, None], pa.int64()),
            "active": [True, None, False, None],
            "city": ["x", "y", None, None],
            "channel": ["web", "api", "web", "api"],
        }
    )
    fallback = pa.table(
        {
            "id": pa.array([2, 2, 1, 9], pa.decimal128(12, 0)),
            "seq": pa.array([3, 1, 0, 2], pa.int32()),
            "name": ["late", "first", "fa", "z"],
            "score": [7.0, 5.0, 9.0, 1.0],
            "qty": pa.array([70, 50, 90, 10], pa.int64()),
            "active": [False, True, False, True],
            "city": ["l", "f", "q", "z"],
            "tier": ["t2", "t1", "t0", "t9"],
            "credit": [2.0, 1.0, 0.5, 9.0],
        }
    )
    con = duckdb.connect()
    con.register("p", primary)
    con.register("fb", fallback)
    cols = sorted(primary.column_names)
    rows = con.execute(expected_merge_sql(cols) + " ORDER BY id").fetchall()
    names = cols + list(gen.FALLBACK_ONLY)
    got = [dict(zip(names, r)) for r in rows]
    # id 1: primary wins where present; qty is NULL -> fallback 90
    assert got[0]["name"] == "a" and got[0]["qty"] == 90 and got[0]["score"] == 1.0
    # id 2: duplicate fallback ids -> the lowest seq ("first") is used;
    # NaN score counts as missing
    assert got[1]["name"] == "first" and got[1]["score"] == 5.0 and got[1]["active"] is True
    assert got[1]["tier"] == "t1" and got[1]["qty"] == 2
    # id 3: no fallback match -> missing cells stay NULL
    assert got[2]["name"] is None and got[2]["score"] is None and got[2]["tier"] is None
    # id 4: NaN with no match becomes NULL (the fallback side is NULL)
    assert got[3]["score"] is None
    assert len(got) == 4  # one row per primary row; fallback-only id 9 absent


# --- interval arithmetic ------------------------------------------------------


@pytest.mark.parametrize(
    "intervals, lo, hi, expected",
    [
        ([], 0, 10, 0),
        ([(1, 3), (5, 6)], 0, 10, 3),  # disjoint
        ([(1, 4), (3, 6)], 0, 10, 5),  # overlapping
        ([(1, 9), (2, 3), (4, 5)], 0, 10, 8),  # nested
        ([(3, 4), (1, 2)], 0, 10, 2),  # unsorted
        ([(-5, 2), (8, 20)], 0, 10, 4),  # clipped to the window
        ([(12, 14), (-3, -1)], 0, 10, 0),  # outside the window
        ([(2, 2), (4, 6), (6, 7)], 0, 10, 3),  # empty and touching
    ],
)
def test_union_length(intervals, lo, hi, expected):
    assert union_length(intervals, lo, hi) == pytest.approx(expected)


def test_driver_only_is_wall_minus_union_of_jobs():
    w = Window("exec", "t-exec", start=100.0, end=110.0)
    jobs = [
        Job(1, frozenset({"t-exec"}), 101.0, 104.0, (1,)),
        Job(2, frozenset({"t-exec"}), 103.0, 105.0, (2, 3)),
        Job(3, frozenset({"other"}), 100.0, 110.0, (4,)),
    ]
    stages = {
        1: Stage(1, False, 101.0, tasks=4, run_s=2.0, shuffle_write_bytes=1024 * 1024),
        2: Stage(2, True, None, tasks=0),  # skipped: reused shuffle output
        3: Stage(3, False, 103.5, tasks=1, run_s=0.5, input_records=10),
        4: Stage(4, False, 100.0, tasks=9, run_s=9.0),
    }
    st = attribute([w], jobs, stages)["exec"]
    assert st.wall_s == 10.0
    assert st.jobs == 2
    assert st.driver_only_s == pytest.approx(6.0)  # 10 - |[101, 105]|
    assert (st.stages, st.tasks, st.executor_run_s) == (2, 5, 2.5)
    assert st.shuffle_write_mb == 1.0 and st.input_records == 10


def test_tree_rss_counts_a_vforked_child_once():
    # python driver 1 -> JVM 2 -> {chmod helper 3 before exec, rm 4 after exec};
    # 5 is already gone
    kids = {1: [2], 2: [3, 4, 5]}
    statm = {1: (900, 100), 2: (5000, 2000), 3: (5000, 2000), 4: (700, 50)}
    assert tree_rss_pages(1, kids, statm.get) == 100 + 2000 + 50


def test_stage_counts_once_in_the_window_where_it_ran():
    a = Window("audit", "ta", 0.0, 5.0)
    b = Window("write", "tb", 5.0, 9.0)
    jobs = [
        Job(1, frozenset({"ta"}), 1.0, 4.0, (7,)),
        Job(2, frozenset({"tb"}), 6.0, 8.0, (7, 8)),
    ]
    stages = {7: Stage(7, False, 1.5, tasks=3), 8: Stage(8, False, 6.5, tasks=1)}
    out = attribute([a, b], jobs, stages)
    assert out["audit"].tasks == 3 and out["write"].tasks == 1


# --- etl_merge window attribution --------------------------------------------


class FakeContext:
    """Stands in for SparkContext: holds the calling thread's job tags
    and records each job a step "submits" with those tags."""

    def __init__(self, clock):
        self.tags: set[str] = set()
        self.jobs: list[Job] = []
        self.clock = clock

    def addJobTag(self, tag):
        self.tags.add(tag)

    def removeJobTag(self, tag):
        self.tags.discard(tag)

    def job(self, seconds):
        start = self.clock.now
        self.clock.now += seconds
        self.jobs.append(Job(len(self.jobs), frozenset(self.tags), start, self.clock.now, ()))


class FakeClock:
    def __init__(self):
        self.now = 1000.0

    def __call__(self):
        return self.now

    def idle(self, seconds):
        self.now += seconds


def test_etl_wrappers_attribute_jobs_to_windows():
    clock = FakeClock()
    sc = FakeContext(clock)
    pipeline = types.SimpleNamespace(
        precedence_merge=lambda: clock.idle(0.1),  # lazy: plans, no job
        audit_summary=lambda: (sc.job(2.0), sc.job(0.5)),  # collect + count
        write_single_csv=lambda: (clock.idle(0.2), sc.job(1.5)),
    )

    def run_job():  # run_merge_pipeline's order of steps
        sc.job(0.7)  # JSON schema inference while loading the primary
        clock.idle(0.3)
        pipeline.precedence_merge()
        pipeline.audit_summary()
        pipeline.write_single_csv()
        clock.idle(0.4)  # notifications, unpersist

    phases = Phases(sc, "pb", clock=clock)
    install_etl_windows(pipeline, phases)
    phases.switch("extract")
    run_job()
    phases.close()

    assert [w.name for w in phases.windows] == [
        "extract", "merge", "finish", "audit", "finish", "write", "finish"
    ]
    assert not sc.tags  # every tag removed again
    out = attribute(phases.windows, sc.jobs, {})
    assert out["extract"].jobs == 1 and out["extract"].wall_s == pytest.approx(1.0)
    assert out["extract"].driver_only_s == pytest.approx(0.3)
    assert out["merge"].jobs == 0 and out["merge"].wall_s == pytest.approx(0.1)
    assert out["audit"].jobs == 2 and out["audit"].wall_s == pytest.approx(2.5)
    assert out["write"].jobs == 1 and out["write"].driver_only_s == pytest.approx(0.2)
    assert out["finish"].jobs == 0 and out["finish"].wall_s == pytest.approx(0.4)
    assert sum(w.wall_s for w in out.values()) == pytest.approx(clock.now - 1000.0)
