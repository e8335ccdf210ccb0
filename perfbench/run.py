"""zebraspark end-to-end benchmark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds seeded inputs, drives the engine through its public surface on
``local[<nproc>]``, checks the outputs and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; ``--trace 1`` runs the same
workload with span wrappers, the Spark event log and the RSS sampler
on, and reports the per-layer metrics instead (spans and metrics are
also written to ``.perfbench/trace-<workload>-<seed>.json``).

All files go under ``.perfbench/`` in the repository root, which the
run removes again except for the trace file.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "build_cold_s": "s",
    "index_bytes_per_source_byte": "B/B",
    "write_visible_p50_s": "s",
    "search_p50_s": "s",
    "batch_qps": "1/s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> str | None:
    """Point Spark, the JVM and Python workers at the checkout: every
    scratch file under ``work``, the engine importable by workers.
    Returns the event-log directory of a traced run."""
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file under the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return log_dir


def stop_spark(spark) -> None:
    """Stop the context, then close the gateway and wait for the JVM
    (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def end_to_end(run, session_s: float) -> dict:
    s = run.samples
    setup = session_s + s["corpus_s"][0]
    if "open_s" in run.info:    # serve: the index build and warm handle
        setup += s["build_cold_s"][0] + run.info["open_s"]
    vals = {
        "setup_s": setup,
        "build_cold_s": s["build_cold_s"][0],
        "index_bytes_per_source_byte": s["index_bytes_per_source_byte"][0],
        "write_visible_p50_s": statistics.median(s["write_visible_s"]),
        "search_p50_s": statistics.median(s["search_s"]),
        "batch_qps": statistics.median(s["batch_qps"]),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import idzebra_spark.api  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    from perfbench import trace as tr
    from perfbench import workloads as wl

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    log_dir = configure_env(work, bool(args.trace))

    rec = tr.Recorder()
    rec.enabled = bool(args.trace)
    if args.trace:
        tr.install(rec)
    t0 = time.perf_counter()
    from idzebra_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        run = wl.Run(spark, work, args.seed, args.seconds, rec)
        if args.trace:
            from perfbench import layers

            with tr.RssSampler() as rss:
                wl.WORKLOADS[args.workload](run)
                extra = layers.probes(run, args.workload)
            snapshot = tr.job_snapshot(spark.sparkContext)
        else:
            wl.WORKLOADS[args.workload](run)
            metrics = end_to_end(run, session_s)
    finally:
        stop_spark(spark)

    if args.trace:
        log = tr.read_event_log(os.path.join(
            log_dir, sorted(os.listdir(log_dir))[0]))
        metrics = layers.per_layer(run, rec, log, snapshot, extra,
                                   rss.peak_bytes)
        os.makedirs(base, exist_ok=True)
        rec.write(os.path.join(
            base, f"trace-{args.workload}-{args.seed}.json"),
            {k: v["value"] for k, v in metrics.items()})
    detail = {k: tr.summary(v) for k, v in run.samples.items()}
    detail["session_s"] = session_s
    print("perfbench detail " + json.dumps(
        detail | {"attempted": run.attempted, "waves": run.info.get("waves")}),
        flush=True)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
