"""The benchmark's workloads.

Each workload prepares its inputs and expected outputs in ``setup`` and
then runs passes. A pass is a fixed list of operations (one ``run_job``
call, or one call per registry query); its wall time is the sum of the
operations' wall times. Every operation's output is checked before the
next one starts. A traced pass also cuts each operation into layer
windows (see ``trace.py``) and reports per-layer figures.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import sys
import time
from dataclasses import dataclass, field

import duckdb

from . import gen
from .trace import MB, Phases, StatusStore, WindowStats, attribute


@dataclass
class PassResult:
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    traced: bool = False
    layers: dict[str, float] = field(default_factory=dict)
    ops: dict[str, float] = field(default_factory=dict)  # op -> wall


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def release_pinned(spark) -> int:
    """Unpersist every persistent RDD; return how many there were."""
    from bench import release_blocks

    n = spark.sparkContext._jsc.getPersistentRDDs().size()
    release_blocks(spark)
    return n


# --------------------------------------------------------------------------
# etl_merge: the reference job through job_config.run_job
# --------------------------------------------------------------------------

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
# Quoted lowercase names: the reference's MySQL table reports its
# columns in lowercase, while Derby upper-cases unquoted identifiers.
DERBY_DDL = (
    'CREATE TABLE fallback ("id" DECIMAL(12, 0), "seq" INT, "name" VARCHAR(16),'
    ' "score" DOUBLE, "qty" BIGINT, "active" BOOLEAN, "city" VARCHAR(16),'
    ' "tier" VARCHAR(8), "credit" DOUBLE)'
)
ETL_WINDOWS = ("precedence_merge", "audit_summary", "write_single_csv")


def expected_merge_sql(primary_cols: list[str]) -> str:
    """DuckDB recomputation of the precedence merge over tables ``p``
    and ``f``: per cell the primary value unless NULL (or NaN), else the
    value of the fallback row with the lowest ``seq`` for that id; the
    fallback's DECIMAL id is compared numerically with the primary id."""
    cells = []
    for c in primary_cols:
        if c not in gen.SHARED:
            cells.append(f"p.{c} AS {c}")
        elif c == "score":
            cells.append(f"CASE WHEN p.{c} IS NULL OR isnan(p.{c}) THEN f.{c} ELSE p.{c} END AS {c}")
        else:
            cells.append(f"CASE WHEN p.{c} IS NULL THEN f.{c} ELSE p.{c} END AS {c}")
    cells += [f"f.{c} AS {c}" for c in gen.FALLBACK_ONLY]
    return (
        f"SELECT {', '.join(cells)} FROM p LEFT JOIN ("
        " SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY seq) AS rn FROM fb)"
        " WHERE rn = 1) f ON CAST(p.id AS DECIMAL(38, 0)) = f.id"
    )


def load_derby(spark, url: str, table, csv_path: str) -> None:
    """Create the fallback table in an in-process Derby database and
    bulk-load ``table`` into it with Derby's CSV import."""
    from pyarrow import csv

    csv.write_csv(table, csv_path, csv.WriteOptions(include_header=False))
    jvm = spark.sparkContext._jvm
    jvm.java.lang.Class.forName(DERBY_DRIVER)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        st.execute(DERBY_DDL)
        st.execute(
            "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, 'FALLBACK',"
            f" '{csv_path}', ',', '\"', 'UTF-8', 0)"
        )
    finally:
        conn.close()


def _duck_hash(con, sql: str) -> tuple:
    return con.execute(f"SELECT count(*), sum(hash(t)::HUGEINT) FROM ({sql}) t").fetchone()


class EtlMerge:
    n_primary = 60_000
    # Pass times keep falling for about ten passes while the JVM warms
    # up (2.6 s to 1.6 s on 4 CPUs); four untimed passes skip the
    # steepest part of that curve within the run-time budget.
    warm_passes = 4
    nominal_pass_s = 2.2  # warm pass on 4 CPUs; sets the passes per run

    def __init__(self, spark, seed: int, work: str, cpus: int):
        self.spark, self.seed, self.work, self.cpus = spark, seed, work, cpus

    def setup(self) -> None:
        from rds_glue_s3_etl_pipeline_spark import pipeline

        self.pipeline = pipeline
        self.inputs = gen.generate(gen.Spec(self.n_primary), self.seed)
        self.json_path = os.path.join(self.work, "primary.json")
        with open(self.json_path, "wb") as f:
            f.write(self.inputs.primary_json)
        self.out_path = os.path.join(self.work, "out", "merged.csv")
        url = f"jdbc:derby:memory:perfbench_{os.getpid()};create=true"
        fb = self.inputs.fallback
        load_derby(self.spark, url, fb, os.path.join(self.work, "fallback.csv"))
        self.config = {
            "primary": {"format": "json", "path": self.json_path},
            "fallback": {
                "format": "jdbc",
                "url": url,
                "table": "fallback",
                "driver": DERBY_DRIVER,
                "partition_column": "seq",
                "lower_bound": 0,
                "upper_bound": fb.num_rows,
                "num_partitions": self.cpus,
            },
            "output": {"path": self.out_path},
            "merge": {"key": "id", "fallback_order_col": "seq"},
        }
        # Spark's JSON schema inference orders fields by name.
        primary_cols = sorted(self.inputs.primary.column_names)
        self.header = primary_cols + list(gen.FALLBACK_ONLY)
        self.con = duckdb.connect()
        self.con.register("p", self.inputs.primary)
        self.con.register("fb", fb)
        expected = expected_merge_sql(primary_cols)
        types = self.con.sql(expected).types
        self.csv_columns = "{" + ", ".join(
            f"'{c}': '{t}'" for c, t in zip(self.header, types)
        ) + "}"
        self.expected = _duck_hash(self.con, expected)
        self.unmatched = self.inputs.unmatched_ids()
        self.about = gen.properties(self.inputs)
        self.input_rows = self.inputs.primary.num_rows + fb.num_rows
        self.fixture = self.inputs.digest()
        self.store = StatusStore(self.spark)

    def warm(self, rng: random.Random) -> None:
        """Untimed passes: compile the job's plans and warm the JVM."""
        for _ in range(self.warm_passes):
            self.run_pass(rng, traced=False)

    def _check(self, result, messages: list[str]) -> list[str]:
        problems = []
        with open(self.out_path) as f:
            header = f.readline().rstrip("\n").split(",")
        if header != self.header:
            problems.append(f"header {header}")
        got = _duck_hash(
            self.con,
            f"SELECT * FROM read_csv('{self.out_path}', header = true,"
            f" columns = {self.csv_columns})",
        )
        if got != self.expected:
            problems.append(f"output {got} != expected {self.expected}")
        if result.merged_rows != self.n_primary:
            problems.append(f"merged_rows {result.merged_rows}")
        audit = result.audit
        if audit["total_unmatched"] != len(self.unmatched):
            problems.append(f"unmatched {audit['total_unmatched']}")
        if [int(i) for i in audit["displayed_ids"]] != self.unmatched[:10]:
            problems.append("audit ids differ")
        if len(messages) != 2 or not messages[-1].startswith("SUCCESS"):
            problems.append(f"messages {messages}")
        return problems

    def run_pass(self, rng: random.Random, traced: bool) -> PassResult:
        from rds_glue_s3_etl_pipeline_spark.job_config import run_job
        from rds_glue_s3_etl_pipeline_spark.notify import CollectingNotifier

        res = PassResult(traced=traced, attempted=1)
        notifier = CollectingNotifier()
        phases = None
        if traced:
            originals = {n: getattr(self.pipeline, n) for n in ETL_WINDOWS}
            base = self.store.max_job_id()
            phases = Phases(self.spark.sparkContext, f"pb{self.seed}")
            install_etl_windows(self.pipeline, phases)
            phases.switch("extract")
        t0 = time.perf_counter()
        try:
            result = run_job(self.spark, self.config, notifier)
        except Exception as e:  # noqa: BLE001 - counted, reported, never skipped
            result = None
            _log(f"etl_merge: run_job raised {type(e).__name__}: {e}")
        finally:
            res.wall_s = time.perf_counter() - t0
            if phases is not None:
                phases.close()
                for n, fn in originals.items():
                    setattr(self.pipeline, n, fn)
        res.ops["run_job"] = res.wall_s
        try:
            problems = ["raised"] if result is None else self._check(result, notifier.messages)
        except Exception as e:  # noqa: BLE001 - an unreadable output is a wrong one
            problems = [f"check raised {type(e).__name__}: {e}"]
        if problems:
            res.failed = 1
            _log(f"etl_merge: wrong output: {problems}")
        if traced:
            jobs = self.store.jobs_since(base)
            res.layers = self._layers(attribute(phases.windows, jobs, self.store.stages(jobs)), res, notifier)
        release_pinned(self.spark)
        return res

    def _layers(self, w: dict[str, WindowStats], res: PassResult, notifier) -> dict[str, float]:
        total = WindowStats()
        for st in w.values():
            total.add(st)
        extract, audit, write = (w.get(n, WindowStats()) for n in ("extract", "audit", "write"))
        size = os.path.getsize(self.out_path) if os.path.exists(self.out_path) else 0
        return {
            "sources.readers.extract_s": extract.wall_s,
            "sources.readers.jobs": extract.jobs,
            "operators.merge.audit_s": audit.wall_s,
            "operators.merge.scan_amplification": total.input_records / self.input_rows,
            "sources.sinks.write_s": write.wall_s,
            "sources.sinks.write_tasks": write.tasks,
            "sources.sinks.output_mb": size / MB,
            "pipeline.jobs": total.jobs,
            "pipeline.driver_only_s": total.driver_only_s,
            "pipeline.executor_run_s": total.executor_run_s,
            "pipeline.shuffle_write_mb": total.shuffle_write_mb,
            "notify.messages": len(notifier.messages),
            "trace.unattributed_s": res.wall_s - extract.wall_s - audit.wall_s - write.wall_s,
        }


def install_etl_windows(pipeline, phases: Phases) -> None:
    """Wrap the pipeline's merge, audit and write steps at their module
    attributes so ``run_job`` is cut into windows: ``extract`` (from the
    call until the merge is planned), ``merge``, ``audit``, ``write``,
    and ``finish`` between and after them."""

    def wrap(fn, window):
        def inner(*args, **kwargs):
            phases.switch(window)
            try:
                return fn(*args, **kwargs)
            finally:
                phases.switch("finish")

        return inner

    for attr, window in zip(ETL_WINDOWS, ("merge", "audit", "write")):
        setattr(pipeline, attr, wrap(getattr(pipeline, attr), window))


# --------------------------------------------------------------------------
# curation: registry queries on the read-only fixture
# --------------------------------------------------------------------------


def fixture_root() -> str:
    """Directory holding the read-only sf* fixtures of TESTDATA.md: the
    parent of the entry point's smoke fixture."""
    from __spark_entry__ import SMOKE_SF_DIR

    return os.path.dirname(SMOKE_SF_DIR)


class Registry:
    """Registry queries on one fixture scale. A query call is split into
    a build step, ``fn(spark, sf_dir)``, and an exec step, the sink
    action that collects the output for checking."""

    warm_passes = 3
    nominal_pass_s = 3.5

    def __init__(self, spark, seed, sf, queries, rows_only):
        self.spark, self.seed = spark, seed
        self.queries, self.rows_only = queries, rows_only
        self.sf_dir = os.path.join(fixture_root(), sf)

    def setup(self) -> None:
        from rds_glue_s3_etl_pipeline_spark.catalog import TABLES, table_fingerprint
        from rds_glue_s3_etl_pipeline_spark.queries import REGISTRY
        from oracle_check import duck_connect

        self.registry = REGISTRY
        self.store = StatusStore(self.spark)
        fp = hashlib.sha256(
            repr([table_fingerprint(self.sf_dir, t) for t in TABLES]).encode()
        )
        self.fixture = fp.hexdigest()[:16]
        self.about = {"sf_dir": self.sf_dir, "queries": list(self.queries)}
        con = duck_connect(self.sf_dir)
        self.expected = {}
        for q in self.queries:
            spec = REGISTRY[q]
            oracle = spec.oracle_fn(self.sf_dir) if spec.oracle_fn else spec.oracle
            if oracle is not None:
                self.expected[q] = con.execute(oracle).df()
        con.close()

    def ops(self, rng: random.Random) -> list[str]:
        order = list(self.queries)
        rng.shuffle(order)
        return order

    def warm(self, rng: random.Random) -> None:
        """Untimed passes. The first compiles the plans, builds the
        queries' per-corpus artifacts and pins the expected output of
        each query without an oracle (its row count must match); the
        second, already warm, counts the input rows one pass reads; the
        rest warm the JVM further."""
        for q in self.ops(rng):
            try:
                pdf = self.registry[q].fn(self.spark, self.sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - the timed passes count it
                _log(f"{q}: warm-up raised {type(e).__name__}: {e}")
                continue
            if q in self.rows_only:
                if len(pdf) == self.rows_only[q]:
                    self.expected[q] = pdf
                else:
                    _log(f"{q}: {len(pdf)} rows, expected {self.rows_only[q]}")
            release_pinned(self.spark)
        for i in range(self.warm_passes - 1):
            base = self.store.max_job_id()
            self.run_pass(rng, traced=False)
            if i == 0:
                jobs = self.store.jobs_since(base)
                self.input_rows = sum(s.input_records for s in self.store.stages(jobs).values())

    def _check(self, q: str, pdf) -> list[str]:
        from oracle_check import compare

        if q not in self.expected:
            return ["no expected output"]
        return compare(q, pdf, self.expected[q])

    def run_pass(self, rng: random.Random, traced: bool) -> PassResult:
        res = PassResult(traced=traced)
        agg = WindowStats()
        build_s = exec_s = 0.0
        pinned = 0
        per_query: dict[str, dict[str, float]] = {}
        for q in self.ops(rng):
            res.attempted += 1
            phases = None
            if traced:
                base = self.store.max_job_id()
                phases = Phases(self.spark.sparkContext, f"pb{self.seed}")
                phases.switch("build")
            t0 = time.perf_counter()
            pdf = None
            try:
                df = self.registry[q].fn(self.spark, self.sf_dir)
                if phases is not None:
                    phases.switch("exec")
                pdf = df.toPandas()
            except Exception as e:  # noqa: BLE001 - counted, reported, never skipped
                _log(f"{q}: raised {type(e).__name__}: {e}")
            wall = time.perf_counter() - t0
            if phases is not None:
                phases.close()
            res.wall_s += wall
            res.ops[q] = wall
            try:
                problems = ["no output"] if pdf is None else self._check(q, pdf)
            except Exception as e:  # noqa: BLE001 - counted like a wrong output
                problems = [f"check raised {type(e).__name__}: {e}"]
            if problems:
                res.failed += 1
                _log(f"{q}: wrong output: {problems}")
            pinned += release_pinned(self.spark)
            if traced:
                jobs = self.store.jobs_since(base)
                w = attribute(phases.windows, jobs, self.store.stages(jobs))
                call = WindowStats()
                for st in w.values():
                    call.add(st)
                agg.add(call)
                build_s += w.get("build", WindowStats()).wall_s
                exec_s += w.get("exec", WindowStats()).wall_s
                per_query[q.split("_")[0]] = {
                    "wall_s": call.wall_s,
                    "jobs": call.jobs,
                    "driver_only_s": call.driver_only_s,
                }
        if traced:
            res.layers = {
                "catalog.input_mb": agg.input_mb,
                "queries.build_s": build_s,
                "queries.exec_s": exec_s,
                "queries.jobs": agg.jobs,
                "queries.stages": agg.stages,
                "queries.tasks": agg.tasks,
                "queries.driver_only_s": agg.driver_only_s,
                "queries.executor_run_s": agg.executor_run_s,
                "queries.shuffle_write_mb": agg.shuffle_write_mb,
                "queries.spill_mb": agg.spill_mb,
                "queries.pinned_rdds": pinned,
                "trace.unattributed_s": res.wall_s - build_s - exec_s,
            }
            for q, stats in per_query.items():
                for k, v in stats.items():
                    res.layers[f"queries.{q}.{k}"] = v
        return res


CURATION = (
    "q135_bigram_lm_score",
    "q152_bpe_train",
)
# Queries without a DuckDB oracle: the warm-up output must have the row
# count the full oracle sweep recorded at this scale, and every timed
# output must equal the warm-up output.
CURATION_ROWS_ONLY = {"q152_bpe_train": 8}


def make(name: str, spark, seed: int, work: str, cpus: int):
    if name == "etl_merge":
        return EtlMerge(spark, seed, work, cpus)
    if name == "curation":
        return Registry(spark, seed, "sf0.01", CURATION, CURATION_ROWS_ONLY)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("etl_merge", "curation")


def median(values) -> float:
    return statistics.median(values) if values else 0.0
