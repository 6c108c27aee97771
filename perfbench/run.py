"""Benchmark of the engine's query plane, spatial reads and ingest path.

    python3 perfbench/run.py --workload api_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run is one fresh process: it makes
its inputs from the seed, starts the Spark session, builds an empty
catalog and warehouse under ``.perfbench_work/`` several times (set-up
reports the median build), warms up on its own operation stream, then
measures for ``--seconds``. Every output is checked against a twin.

The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics from spans recorded around
the engine's public functions (see ``tracing.py``). The line before it
starts with ``detail:`` and carries the per-kind figures, the incorrect
count and the scheduling yardstick.

``--steadiness`` runs two sets of runs of one workload in subprocesses
and prints each metric's per-set median and quartiles and the between-set
difference against the metric's bound in BENCHMARK.json.

The exit code is 0 when every output matched its twin, 1 when one did
not or a request kind had no successful operation, and 2 when the
engine cannot be found or the arguments are wrong.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

DRIVER_MEMORY = "2g"  # far below the machine's memory (the session default is 16g); also the fixed heap size
WORK_DIR = ".perfbench_work"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steadiness", action="store_true", help="run two sets of runs and compare them")
    return p.parse_args(argv)


def pin_environment(root: str, work: str) -> None:
    """Everything the JVM and the UDF workers inherit, fixed before the
    session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)  # UDF workers import the engine
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "spark-warehouse")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def spark_counters(spark) -> tuple[int, int]:
    """Next job id and next stage id of the DAG scheduler: the number of
    jobs and stages submitted so far."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return int(dag.nextJobId()), int(dag.nextStageId())


def completed_tasks(spark, first_stage: int, last_stage: int) -> int:
    tracker = spark.sparkContext.statusTracker()
    total = 0
    for stage_id in range(first_stage, last_stage):
        info = tracker.getStageInfo(stage_id)
        if info is not None:
            total += info.numCompletedTasks
    return total


def yardstick_s(spark) -> float:
    """Scheduling-shaped yardstick, as bench.py's ``cal2``: a fixed
    64-task nearly-empty shuffle after the measured phase, one warmup and
    the best of three. It moves with machine load, never with the
    engine's code."""
    times = []
    for _ in range(4):
        t0 = time.perf_counter()
        spark.range(0, 6400, 1, 64).repartition(64).count()
        times.append(time.perf_counter() - t0)
    return min(times[1:])


def run_one(args: argparse.Namespace, root: str) -> int:
    import workloads
    from procs import PeakRss, stop_spark
    from tracing import Tracer, layer_metrics

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(root, WORK_DIR), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(root, WORK_DIR))
    spark = None
    try:
        with PeakRss() as rss:
            pin_environment(root, work)
            from gfw_data_api_spark.api import create_app  # noqa: F401 - import cost is set-up
            from gfw_data_api_spark.session import get_spark

            workload = workloads.WORKLOADS[args.workload](args.seed, work)
            t_inputs = time.perf_counter()
            workload.make_inputs()
            gc.collect()
            rss.reset_self()
            inputs_s = time.perf_counter() - t_inputs

            t_session = time.perf_counter()
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # temporary files stay in the run's directory; no
                    # /tmp/hsperfdata_<user> file; the heap starts at its
                    # maximum, so the JVM's resident size does not depend
                    # on when the collector decided to grow the heap
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
                    ),
                },
            )
            spark.sparkContext.setLogLevel("ERROR")
            session_ms = (time.perf_counter() - t_session) * 1000.0
            ready = time.perf_counter() - T_START - inputs_s
            tracer = Tracer() if args.trace else None
            workload.tracer = tracer
            if tracer:
                tracer.install()
                tracer.set_active(True)
            builds = []
            for i in range(workloads.BUILDS):
                span = tracer.open("bench.build") if tracer else None
                t0 = time.perf_counter()
                workload.build(spark, os.path.join(work, f"catalog{i}"))
                builds.append(time.perf_counter() - t0)
                if span:
                    tracer.close(span)
            setup_s = ready + statistics.median(builds)
            if tracer:
                tracer.set_active(False)
            t0 = time.perf_counter()
            workload.verify(spark)
            verify_s = time.perf_counter() - t0

            streams = [workload.stream(c) for c in range(workload.clients)]
            phases = {"inputs": inputs_s, "ready": ready, "builds": sum(builds), "verify": verify_s}
            t0 = time.perf_counter()
            warm, _ = workloads.run_clients(workload, None, None, workload.warmup_ops, streams)
            phases["warmup"] = time.perf_counter() - t0
            if tracer:
                jobs0, stages0 = spark_counters(spark)
            samples, elapsed = workloads.run_clients(workload, tracer, args.seconds, None, streams)
            if tracer:
                jobs1, stages1 = spark_counters(spark)
                tracer.uninstall()
            phases["measure"] = elapsed
            t0 = time.perf_counter()
            cal2 = yardstick_s(spark)
            phases["yardstick"] = time.perf_counter() - t0
            if tracer:
                tasks = completed_tasks(spark, stages0, stages1)
                layer_extras = workload.layer_extras()
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"stop {time.perf_counter() - t0:.1f} s; wall {time.perf_counter() - T_START:.1f} s", file=sys.stderr)

    attempted = len(samples)
    failed = sum(not s.ok for s in samples)
    incorrect = sum(not s.correct for s in samples + warm) + workload.incorrect_setup
    by_kind = {}
    for s in samples:
        by_kind.setdefault(s.kind, []).append(s.ms)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "incorrect": incorrect,
        "warmup_ops": len(warm),
        "kinds": {k: {"p50_ms": statistics.median(v), "n": len(v)} for k, v in sorted(by_kind.items())},
        "pooled_p50_ms": workload.pooled_p50(samples),
        "tail_note": "tail = highest of p99/p95/p90/p80 with at least 10 samples beyond it",
        **workload.extra_metrics(samples),
        "builds_s": builds,
        "peak_rss_mb_by_command": rss.by_command(),
        "phases_s": phases,
        "yardstick_cal2_s": cal2,
        "spark_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": DRIVER_MEMORY,
    }
    kinds = workload.kinds
    if tracer:
        tracer.dump(os.path.join(root, WORK_DIR, f"spans-{args.workload}.jsonl"))
        layers = layer_metrics(tracer)
        layers.update(layer_extras)
        n_ops = max(attempted, 1)
        layers.update(
            {
                "spark.jobs_per_request": (jobs1 - jobs0) / n_ops,
                "spark.stages_per_request": (stages1 - stages0) / n_ops,
                "spark.tasks_per_request": tasks / n_ops,
                "session.start_ms": session_ms,
                "trace.overhead_ratio": trace_overhead(samples, kinds),
            }
        )
        metrics = {name: {"value": value, "unit": unit_of(name)} for name, value in layers.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "latency_p50_ms": {"value": workloads.kind_p50(samples, kinds), "unit": "ms"},
            "ops_per_s": {"value": (attempted - failed) / elapsed, "unit": "1/s"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        }
    print("detail: " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": incorrect == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if incorrect == 0 else 1


def trace_overhead(samples, kinds: list[str]) -> float:
    """Traced over untraced ``latency_p50_ms``, minus one, over the kinds
    that have samples of both."""
    import workloads

    both = [k for k in kinds if {s.traced for s in samples if s.kind == k and s.ok} == {True, False}]
    traced = workloads.kind_p50([s for s in samples if s.traced], both)
    return traced / workloads.kind_p50([s for s in samples if not s.traced], both) - 1.0


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("bytes_per_row"):
        return "B"
    return "count"


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gfw_data_api_spark", "__init__.py")):
        print("run from the root of a checkout: gfw_data_api_spark/ is not here", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    if args.steadiness:
        import steadiness

        return steadiness.main(args, root)
    import workloads

    try:
        return run_one(args, root)
    except workloads.MissingKind as exc:
        print(f"{args.workload}: {exc}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
