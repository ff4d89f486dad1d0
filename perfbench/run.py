"""Benchmark entry point: run one workload and print its metrics.

    python3 perfbench/run.py --workload etl_merge --seed 1 --seconds 15 --trace 0

Run from the repository root. One process, one client, a closed loop on
``local[<cpus>]``: after set-up (session start, inputs, expected outputs,
untimed warm-up passes) it runs a fixed number of passes back to back,
``round(--seconds / nominal pass time)`` with at least three (four when
traced), so that they take about ``--seconds`` on a 4-CPU host. Each
operation's output is checked before the next starts.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones in BENCHMARK.json; with ``--trace 1`` they are the
per-layer ones, measured on traced passes interleaved with untraced
ones. The line before it is a report with the run's stamps (cpus,
seed, versions, host canary, fixture fingerprint) and per-pass detail.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP, YOUNG = "4g", "1g"  # driver JVM heap; small enough for a shared host


def _prepare_environment(work: str, cpus: int) -> dict[str, str]:
    """Keep every file the run writes inside ``work`` and let Spark's
    Python workers import the package from the checkout."""
    for d in ("tmp", "spark_local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark_local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # spark-submit's launcher JVM, which builds the Spark driver JVM's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.defaultJavaOptions": " ".join(
            [
                # A fixed heap with a fixed young generation: the JVM's
                # resident memory then follows allocation and live data
                # instead of G1's timing-driven heap resizing, so
                # peak_rss_mb repeats from run to run.
                f"-Xms{HEAP}",
                f"-Xmn{YOUNG}",
                "-XX:-G1UseAdaptiveIHOP",
                "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                f"-Dderby.system.home={work}",
                f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            ]
        ),
    }


def _stop(spark, tree_pids) -> None:
    """Stop the session and its JVM, then wait for every process the
    run started (JVM and Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in tree_pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _descendants() -> list[int]:
    from perfbench.trace import children_map

    kids = children_map()
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]  # the engine; oracle_check
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench_spec = json.load(f)
        import bench  # the host canary plan and block release
        from rds_glue_s3_etl_pipeline_spark.session import get_spark

        from perfbench import workloads
        from perfbench.trace import RssSampler
    except (ImportError, OSError) as e:
        print(f"perfbench: cannot load the engine or benchmark spec: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    conf = _prepare_environment(work, cpus)
    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf)
    session_start_s = time.perf_counter() - t
    tree = _descendants()
    try:
        wl = workloads.make(args.workload, spark, args.seed, work, cpus)
        t1 = time.perf_counter()
        wl.setup()
        t2 = time.perf_counter()
        rng = random.Random(args.seed)
        wl.warm(rng)
        setup_s = time.perf_counter() - PROCESS_START
        setup_steps = {
            "session_s": session_start_s,
            "inputs_and_expected_s": t2 - t1,
            "warm_s": time.perf_counter() - t2,
        }

        # A fixed number of passes per run, sized so that they take
        # --seconds on a 4-CPU host: a slow host then stretches the run
        # instead of moving the median to earlier, less warm passes.
        n_passes = max(4 if args.trace else 3, round(args.seconds / wl.nominal_pass_s))
        passes = []
        with RssSampler() as rss:
            for i in range(n_passes):
                # traced passes in an ABBA order, so a pass-to-pass trend
                # (JIT warm-up) does not leak into trace.overhead_s
                traced = bool(args.trace) and i % 4 in (0, 3)
                passes.append(wl.run_pass(rng, traced))
        canary_s = bench.canary_sec(spark)
        spark_version = spark.version
        tree = sorted(set(tree) | set(_descendants()))
    finally:
        _stop(spark, tree)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    med = workloads.median
    plain = [p.wall_s for p in passes if not p.traced]
    traced = [p for p in passes if p.traced]
    pass_s = med(plain)
    values = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "rows_per_s": wl.input_rows / pass_s,
        "peak_rss_mb": rss.peak / (1024 * 1024),
        "verified_ratio": (attempted - failed) / attempted,
    }
    if args.trace:
        layer_keys = {k for p in traced for k in p.layers}
        values = {k: med([p.layers.get(k, 0.0) for p in traced]) for k in layer_keys}
        values["session.start_s"] = session_start_s
        values["host.canary_s"] = canary_s
        values["trace.overhead_s"] = med([p.wall_s for p in traced]) - pass_s
    section = "per_layer" if args.trace else "end_to_end"
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in bench_spec[section]
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cpus,
        "spark": spark_version,
        "python": platform.python_version(),
        "host.canary_s": canary_s,
        "fixture": wl.fixture,
        "inputs": wl.about,
        "input_rows": wl.input_rows,
        "setup_steps_s": {k: round(v, 3) for k, v in setup_steps.items()},
        "passes": len(passes),
        "untraced_passes": len(plain),
        "pass_walls_s": [round(p.wall_s, 4) for p in passes],
        "op_walls_s": {
            op: [round(p.ops[op], 4) for p in passes if op in p.ops] for op in passes[0].ops
        },
        "failed_ratio": failed / attempted,
    }
    print("report " + json.dumps(report))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
