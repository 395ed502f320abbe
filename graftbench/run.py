"""graftbench: the engine's end-to-end and per-layer benchmark.

Run from the repository root:

    python3 graftbench/run.py --workload serve_headline --seed 1 --seconds 15 --trace 0

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json, or
with ``--trace 1`` its per-layer metrics). Everything else goes to
stderr. A run record (load shape, unit walls, latencies and, when traced,
every span) is written to ``.graftbench_out/`` at exit. See README.md in
this directory for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data")

#: The load shape: one engine process, one client thread in a closed
#: loop, ``local[CORES]``, a JVM heap that fits a 15 GiB box.
CORES = 4
HEAP = "4g"


def log(msg: str) -> None:
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("serve_headline", "refresh_mixed"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="minimum length of the timed region")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> dict[str, str]:
    """Keep every file the run writes under ``run_dir``: temp files of
    Python and the JVM, Spark's local dirs and the SQL warehouse."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.driver.memory": HEAP,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def stop_engine(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    load_before = os.getloadavg()[0]
    sys.path.insert(0, ROOT)
    try:
        import presto_cached_examples_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine package from {ROOT}: {e}")
        return 2
    import report
    import workloads
    from spans import Tracer

    spec = report.load_spec()
    run_dir = os.path.join(ROOT, ".graftbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    conf = isolate(run_dir)
    spark = None
    try:
        from presto_cached_examples_spark import get_session

        tracer = Tracer(None, enabled=bool(args.trace), t0=T_START)
        with tracer.span("get_session"):
            spark = get_session(app_name="graftbench", cpus=CORES, extra_conf=conf)
        tracer.spark, tracer.enabled = spark, False
        ctx = workloads.Ctx(
            spark=spark,
            tracer=tracer,
            seed=args.seed,
            seconds=args.seconds,
            data_dir=DATA_DIR,
            run_dir=run_dir,
            log=log,
            cores=CORES,
        )
        setup = {}

        def mark_timed_start(check_s: float = 0.0) -> None:
            """End of set-up; ``check_s`` of it went to output checks."""
            setup.setdefault("s", time.perf_counter() - T_START - check_s)

        workloads.WORKLOADS[args.workload](ctx, bool(args.trace), mark_timed_start)
        if args.trace:
            values = report.per_layer(ctx, ctx.tracer)
            entries = spec["per_layer"]
        else:
            values = report.end_to_end(ctx, setup["s"])
            entries = spec["end_to_end"]
        line = report.result_line(values, entries, ctx.attempted, ctx.failed)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "load_shape": {
                "cores": CORES,
                "heap": HEAP,
                "spark_version": spark.version,
                "load_1m_before": load_before,
                "load_1m_after": os.getloadavg()[0],
            },
            "metrics": values,
            "units": ctx.units,
            "latencies_s": ctx.latencies,
            "unit_counters": report.unit_counters(ctx.tracer),
            "spans": ctx.tracer.records(),
        }
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".graftbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(f"load shape {json.dumps(record['load_shape'])}")
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
