"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard_serving --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench_work/``, starts the engine's own Spark session
(``session.get_spark``, unchanged; the launch environment pins the cores
to ``nproc`` and, with ``--trace 1``, turns on Spark's event log), runs
the workload for ``--seconds``, checks every output, stops every process
it started and prints one JSON object as the last line of stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The lines before it give the environment and, when traced,
the full per-layer breakdown, which is also written to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import index_workload  # noqa: E402
import serving_workload  # noqa: E402
import spans  # noqa: E402
from common import Context, RssSampler, median, percentile  # noqa: E402

WORKLOADS = {m.NAME: m for m in (serving_workload, index_workload)}
ENGINE = "bigdata_usaspending_spark"


def launch_env(root: str, work: str, ev_dir: "str | None") -> None:
    """Environment read when the Spark JVM launches: cores pinned to what
    this process may use, every scratch file inside ``work``, and the
    event log only for the traced run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too: no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    confs = ["spark.ui.showConsoleProgress=false"]
    if ev_dir:
        os.makedirs(ev_dir)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{ev_dir}",
            "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs
    ) + " pyspark-shell"


def environment(spark, args) -> dict:
    sc = spark.sparkContext
    return {
        "workload": args.workload,
        "seed": args.seed,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def end_to_end(run, session_s: float, peak_rss: int) -> dict:
    ok = [o for o in run.ops if o.ok]
    reads = [o.wall_s for o in ok if o.cls == "read"]
    return {
        "setup_s": session_s + median(run.setup_s),
        "peak_rss_mb": peak_rss / 2**20,
        "read_p50_s": median(reads),
        "read_p90_s": percentile(reads, 90),
        "write_p50_s": median([o.wall_s for o in ok if o.cls == "write"]),
        "job_s": median([o.wall_s for o in ok if o.cls == "job"]),
        "write_amp": median(run.amp),
    }


def op_medians(run) -> dict:
    """Median latency and sample count of each operation kind."""
    by: dict[str, list[float]] = {}
    for o in run.ops:
        if o.ok:
            by.setdefault(o.name, []).append(o.wall_s)
    out = {}
    for name, xs in sorted(by.items()):
        out[f"op.{name}.p50_s"] = median(xs)
        out[f"op.{name}.n"] = len(xs)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"{ENGINE}/ not found under {root}: run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    work = os.path.join(
        root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    ev_dir = os.path.join(work, "events") if args.trace else None
    os.makedirs(work)
    try:
        launch_env(root, work, ev_dir)
        from bigdata_usaspending_spark.session import get_spark

        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            session_s = time.perf_counter() - t0
            tracer = spans.Tracer(spark.sparkContext if args.trace else None, args.workload)
            ctx = Context(spark, tracer, args.workload, args.seed, args.seconds, work)
            try:
                env = environment(spark, args)
                run = WORKLOADS[args.workload].run(ctx)
            finally:
                stop_spark(spark)

        if args.trace:
            spans.attribute(tracer.spans, spans.read_event_log(ev_dir))
            values = spans.class_metrics(tracer.spans)
            detail = {
                **spans.spark_per_op(tracer.spans),
                **spans.layer_metrics(tracer.spans),
                **run.detail,
            }
            wanted = spec["per_layer"]
        else:
            values = end_to_end(run, session_s, rss.peak)
            detail = {**run.detail, "session_s": session_s, "setup_reps_s": run.setup_s,
                      **op_medians(run)}
            wanted = spec["end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    report = {
        "env": env,
        "ops": len(run.ops),
        "checks": run.checks,
        "failures": run.failures[:20],
        "samples": {c: sum(o.cls == c for o in run.ops) for c in ("read", "write", "job")},
        "detail": detail,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": run.failed == 0 and run.checks > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
