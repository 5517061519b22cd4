"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_backfill --seed 0 --seconds 1 --trace 0

Run from the repository root. Starts one Spark session at ``local[N]``
(``N = min(cpus, 8)``), runs the workload for ``--seconds`` of measured
time, checks its outputs, prints a table of every metric with its unit and
sample count, then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same workload with tracing
on and reports the per-layer metrics. Everything the run writes stays
under ``.perfbench_work/`` (scratch, removed at exit) and
``.perfbench_out/`` (run record and spans) in the current directory.
"""

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

PKG = "neotree_data_pipeline_kedro_spark"


def parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=40.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def environment(root: str, work: str, cpus: int) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    # both JVMs (spark-submit's launcher and the driver): temp files here,
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"perfbench: run from the repository root ({PKG}/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import workloads as W
    from perfbench.collect import RssSampler, loadavg

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = min(len(os.sched_getaffinity(0)), 8)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(root, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    environment(root, work, cpus)
    load_before = loadavg()
    # peak RSS is a per-layer metric: untraced runs do not sample /proc
    rss = RssSampler().start() if args.trace else None
    spark = None
    try:
        from neotree_data_pipeline_kedro_spark.session import get_spark
        from perfbench.trace import Tracer

        tracer = Tracer(tag, bool(args.trace))
        with tracer.span("run", "bench"):
            with tracer.span("session.get_spark", "session"):
                t = time.perf_counter()
                spark = get_spark("perfbench")
                start_s = time.perf_counter() - t
            spark.sparkContext.setLogLevel("ERROR")
            with tracer.span("session.py_worker_warm", "session"):
                t = time.perf_counter()
                sc = spark.sparkContext
                sc.parallelize(range(cpus), cpus).map(lambda _: os.getpid()).collect()
                warm_s = time.perf_counter() - t
            setup = {"setup_s": time.perf_counter() - T0, "start_s": start_s,
                     "py_worker_warm_s": warm_s}
            run = W.Run(spark, tracer, cpus, started=T0)
            W.WORKLOADS[args.workload](run, args.seed, args.seconds, work)
        peak = rss.stop() if rss else 0
        load_after = loadavg()
        metrics = W.report(run, setup, peak, (load_before, load_after))
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "loadavg_before": load_before,
            "loadavg_after": load_after, "failures": run.failures,
            "ops": run.records, "sums": dict(run.sums),
            "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in metrics.items()},
        }
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
            json.dump(record, fh, indent=1)
        if tracer.enabled:
            tracer.dump(os.path.join(out_dir, f"{tag}.spans.json"))
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        if rss:
            rss.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass

    print(f"# {args.workload} seed={args.seed} cpus={cpus} "
          f"loadavg {load_before:.2f}->{load_after:.2f}")
    for f in run.failures:
        print(f"# FAILED {f}")
    for k, (v, u, n) in metrics.items():
        print(f"# {k:40s} {v:14.6g} {u:6s} n={n}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    sys.exit(main())
