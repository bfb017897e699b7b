"""Benchmark entry point.

    python3 perfbench/run.py --workload {dashboard,ingest,batch} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout: the engine package is imported from
the working directory, inputs are generated from ``--seed`` into
``.perfbench_work/`` and every file the run writes stays there. The
last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
separate traced run. Exits 2 without a result when the engine package
is not importable.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("dashboard", "ingest", "batch")


def _since_process_start() -> float:
    """Seconds between this process's start and ``T0`` (the Python
    interpreter's own start-up), from /proc; 0 where unavailable."""
    try:
        with open("/proc/self/stat", encoding="ascii") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime", encoding="ascii") as f:
            uptime = float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return 0.0
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK") - (time.perf_counter() - T0))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale",
        default="bench",
        help="input size preset (datagen.SCALES); the tests use tiny",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    checkout = os.getcwd()
    sys.path.insert(0, checkout)
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, here)
    try:
        import cultural_heritage_bigdata_project_spark as engine
    except ImportError as e:
        print(f"perfbench: engine package not importable from {checkout}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(checkout + os.sep):
        print(f"perfbench: engine package found outside {checkout}: {engine.__file__}", file=sys.stderr)
        return 2

    import harness

    work_root = os.path.join(checkout, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file of the engine, the JVM and Spark lands in the run's
    # work directory, inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    cpus = harness.host_cpus()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = harness.driver_mem()
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed-size heap (no GC-driven resizing between runs) and no
        # hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")

    try:
        return _run(args, harness, work, work_root, conf, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, harness, work, work_root, conf, cpus) -> int:
    import importlib

    import datagen
    from cultural_heritage_bigdata_project_spark.session import get_spark

    ticks0 = harness.cpu_ticks()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.range(1).collect()  # the first job pays the scheduler start-up
    session_s = _since_process_start() + (time.perf_counter() - T0)
    gateway = spark.sparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)

    phases = {"session": session_s}
    t = time.perf_counter()
    wl = importlib.import_module(f"wl_{args.workload}")
    data_dir = datagen.write_tables(
        args.seed, os.path.join(work, "data"), datagen.SCALES[args.scale], wl.TABLES
    )
    phases["datagen"] = time.perf_counter() - t
    tracer = harness.Tracer(spark=spark)
    if args.trace:
        tracer.install_py4j_counter()
    ctx = harness.RunContext(
        spark=spark,
        tracer=tracer,
        seed=args.seed,
        seconds=args.seconds,
        work=work,
        data_dir=data_dir,
        trace=bool(args.trace),
    )
    host = {
        "canary_ms": harness.canary_ms(spark),
        "load1": harness.load1(),
        "cpus": cpus,
        "spark_parallelism": spark.sparkContext.defaultParallelism,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }
    phases["canary"] = time.perf_counter() - t - phases["datagen"]
    t = time.perf_counter()
    try:
        wl.run(ctx)
        phases["workload"] = time.perf_counter() - t
        ctx.metrics["setup_s"] = (session_s + harness.median(ctx.setup_parts_s), "s")
        ctx.metrics["footprint_mb"] = (harness.footprint_mb(), "MB")
    finally:
        # stop the JVM (and with it the Python workers) and wait for it
        spark.stop()
        gateway.shutdown()
        if jvm_proc is not None:
            jvm_proc.stdin.close()
            jvm_proc.wait(timeout=60)
        phases["total"] = _since_process_start() + (time.perf_counter() - T0)
        host["steal_pct"] = harness.steal_pct(ticks0)

    if args.trace:
        groups = harness.event_log_stats(os.path.join(work, "eventlog"))
        ctx.layer.update({k: (0.0, u) for k, u in harness.LAYER_METRICS.items()})
        wl.layer_metrics(ctx, groups)
        ctx.layer["host.canary_ms"] = (host["canary_ms"], "ms")
        ctx.layer["host.load1"] = (host["load1"], "load")
        trace_dir = os.path.join(work_root, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))

    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "host": host,
                "phases_s": phases,
                "setup_parts_s": ctx.setup_parts_s,
                "failures": ctx.failures,
                "summary": getattr(ctx, "summary", {}),
                "ops_s": [(r.cls, round(r.seconds, 4)) for r in getattr(ctx, "results", [])],
            }
        ),
        file=sys.stderr,
    )
    chosen = ctx.layer if args.trace else ctx.metrics
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
