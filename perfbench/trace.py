"""Per-layer accounting from outside the engine.

The benchmark cuts each timed call into named windows and tags the
Spark jobs started inside a window with the window's tag
(``SparkContext.addJobTag``). After the call it reads job and stage
data from Spark's status store, as ``tools/query_profile.py`` does, and
sums them per window. A window's driver-only time is its wall time
minus the union of its jobs' intervals.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

MB = 1024 * 1024


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Window:
    name: str
    tag: str
    start: float  # epoch seconds, the clock Spark stamps jobs with
    end: float = 0.0


@dataclass(frozen=True)
class Job:
    job_id: int
    tags: frozenset
    start: float
    end: float
    stage_ids: tuple


@dataclass(frozen=True)
class Stage:
    stage_id: int
    skipped: bool
    start: float | None
    tasks: int = 0
    run_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class Phases:
    """Splits one timed call into consecutive windows. ``switch(name)``
    closes the open window and opens the next one; every Spark job the
    calling thread (and threads it starts) submits meanwhile carries the
    open window's tag."""

    def __init__(self, sc, prefix: str, clock=time.time):
        self.sc = sc
        self.prefix = prefix
        self.clock = clock
        self.windows: list[Window] = []
        self._open: Window | None = None

    def switch(self, name: str) -> None:
        now = self.clock()
        self._close(now)
        tag = f"{self.prefix}-{len(self.windows)}-{name}"
        self.sc.addJobTag(tag)
        self._open = Window(name, tag, now)

    def close(self) -> None:
        self._close(self.clock())

    def _close(self, now: float) -> None:
        if self._open is not None:
            self._open.end = now
            self.sc.removeJobTag(self._open.tag)
            self.windows.append(self._open)
            self._open = None


@dataclass
class WindowStats:
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    driver_only_s: float = 0.0
    executor_run_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_records: int = 0

    def add(self, other: WindowStats) -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def attribute(windows, jobs, stages) -> dict[str, WindowStats]:
    """Sum job and stage data per window name.

    A job belongs to the window whose tag it carries. A stage counts
    once, in the window where it started; a stage a job lists but
    skipped (its shuffle output was reused) counts nowhere.
    """
    out: dict[str, WindowStats] = {}
    seen: set[int] = set()
    for w in windows:
        mine = [j for j in jobs if w.tag in j.tags]
        st = WindowStats(wall_s=w.end - w.start, jobs=len(mine))
        st.driver_only_s = st.wall_s - union_length(
            [(j.start, j.end) for j in mine], w.start, w.end
        )
        for j in mine:
            for sid in j.stage_ids:
                s = stages.get(sid)
                if s is None or s.skipped or sid in seen or s.start is None:
                    continue
                if not (w.start - 0.001 <= s.start <= w.end + 0.001):
                    continue
                seen.add(sid)
                st.stages += 1
                st.tasks += s.tasks
                st.executor_run_s += s.run_s
                st.shuffle_write_mb += s.shuffle_write_bytes / MB
                st.spill_mb += s.spill_bytes / MB
                st.input_mb += s.input_bytes / MB
                st.input_records += s.input_records
        out.setdefault(w.name, WindowStats()).add(st)
    return out


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    """Reads finished jobs and their stages from the Spark driver's status
    store over py4j."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()

    def max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs_since(self, base: int) -> list[Job]:
        # Job and stage events reach the store asynchronously.
        self._bus.waitUntilEmpty(30_000)
        jobs = self._store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= base:
                break
            tags = j.jobTags()
            sids = j.stageIds()
            start = _opt_ms(j.submissionTime())
            end = _opt_ms(j.completionTime())
            out.append(
                Job(
                    job_id=j.jobId(),
                    tags=frozenset(tags.apply(k) for k in range(tags.size())),
                    start=start if start is not None else 0.0,
                    end=end if end is not None else (start or 0.0),
                    stage_ids=tuple(sids.apply(k) for k in range(sids.size())),
                )
            )
        return out[::-1]

    def stages(self, jobs) -> dict[int, Stage]:
        out = {}
        for sid in sorted({s for j in jobs for s in j.stage_ids}):
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted or never submitted
                continue
            skipped = s.status().toString() == "SKIPPED"
            out[sid] = Stage(
                stage_id=sid,
                skipped=skipped,
                start=None if skipped else _opt_ms(s.submissionTime()),
                tasks=s.numCompleteTasks(),
                run_s=s.executorRunTime() / 1000.0,
                input_bytes=s.inputBytes(),
                input_records=s.inputRecords(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                spill_bytes=s.diskBytesSpilled(),
            )
        return out


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _read_statm(pid: int) -> tuple[int, int] | None:
    """(virtual size, resident) pages of ``pid``, None once it is gone."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            size, resident = f.read().split()[:2]
    except OSError:
        return None
    return int(size), int(resident)


def tree_rss_pages(root: int, kids: dict[int, list[int]], statm=_read_statm) -> int:
    """Resident pages of ``root`` and all of its descendants. A child
    with exactly its parent's virtual size still shares the parent's
    memory and is not counted again: the JVM starts helpers (``chmod``,
    ``rm``) with vfork, and until the helper execs, its ``statm``
    reports the whole JVM."""
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent_size = todo.pop()
        m = statm(pid)
        if m is None:
            continue
        todo.extend((k, m[0]) for k in kids.get(pid, ()))
        if m[0] != parent_size:
            total += m[1]
    return total


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all of its descendants."""
    return tree_rss_pages(root, children_map()) * os.sysconf("SC_PAGE_SIZE")


@dataclass
class RssSampler:
    """Samples the process tree's resident memory on a thread while
    active; ``peak`` is the largest sample."""

    interval_s: float = 0.25
    peak: int = 0
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    def __enter__(self) -> RssSampler:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval_s):
                return
