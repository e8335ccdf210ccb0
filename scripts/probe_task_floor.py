#!/usr/bin/env python
"""The per-task floor of a single search, split into what it is made of.

Two phases, one Spark session on ``local[<nproc>]``:

- ``zip``: on cold Python workers, before anything imports the
  engine, ``--rounds`` rounds of one task per core. Each task times
  one ``importlib.invalidate_caches()`` — the call Spark's worker makes
  before every task — before and after it imports ``idzebra_spark``
  (which installs ``idzebra_spark._pyworker`` in the worker), counting
  the zip-directory reads of each. Per worker the JSON records its
  zip-importer count and those seconds and reads on its first task
  and on its later tasks. The first task's "before" call is the cost
  every task pays without the shim.
- ``floor``: a ``synth_source_files`` index (5,000 docs by default)
  opened ``cache_hot``, warmed, then ``--reps`` interleaved rounds of
  four operations, each timed on the driver with its Spark job count:
  a JVM-only job (a one-partition sum), an empty ``mapInPandas`` job
  whose function imports the engine as a kernel does, the single-term
  ``topk`` plan with an empty kernel (the cogroup floor), and the real
  single-term ``topk``.

The JSON names the machine: core count, master, and Python, pyarrow
and pyspark versions.

Usage: python scripts/probe_task_floor.py [--docs 5000] [--reps 21]
       [--rounds 4] [--out PERF_task_floor.json]
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TERM = "block"


def _arg(name: str, default):
    if name in sys.argv:
        return type(default)(sys.argv[sys.argv.index(name) + 1])
    return default


def _zip_task(batches):
    """One task of the zip phase: (pid, warm, importers, seconds and
    zip reads of invalidate_caches() before and after the import)."""
    import importlib
    import sys
    import time
    import zipimport

    import pandas as pd

    def timed_invalidate():
        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            return time.perf_counter() - t0, len(reads)
        finally:
            zipimport._read_directory = real

    warm = "idzebra_spark" in sys.modules
    before_s, before_reads = timed_invalidate()
    import idzebra_spark  # noqa: F401
    after_s, after_reads = timed_invalidate()
    for _ in batches:
        pass
    importers = sum(isinstance(v, zipimport.zipimporter)
                    for v in sys.path_importer_cache.values())
    yield pd.DataFrame({
        "pid": [os.getpid()], "warm": [warm], "importers": [importers],
        "before_s": [before_s], "before_reads": [before_reads],
        "after_s": [after_s], "after_reads": [after_reads]})


def _empty_map(batches):
    import idzebra_spark  # noqa: F401

    for _ in batches:
        pass
    return iter(())


def _empty_kernel_factory(specs, avgdl, k):
    from idzebra_spark.operators.wand import TOPK_SCHEMA

    cols = TOPK_SCHEMA.fieldNames()

    def kernel(blocks, norms):
        import pandas as pd

        return pd.DataFrame({c: [] for c in cols})

    return kernel


def _summary(xs: list[float]) -> dict:
    xs = sorted(xs)
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else xs * 3
    return {"median_s": round(statistics.median(xs), 5),
            "q1_s": round(q[0], 5), "q3_s": round(q[2], 5),
            "runs_s": [round(x, 5) for x in xs]}


def zip_phase(spark, rounds: int) -> dict:
    tasks = spark.sparkContext.defaultParallelism
    schema = ("pid long, warm boolean, importers long, before_s double, "
              "before_reads long, after_s double, after_reads long")
    rows = []
    for r in range(rounds):
        for row in spark.range(tasks, numPartitions=tasks) \
                .mapInPandas(_zip_task, schema).collect():
            rows.append(dict(row.asDict(), round=r))
    workers = {}
    for row in rows:
        workers.setdefault(row["pid"], []).append(row)
    first = [ts[0] for ts in workers.values() if not ts[0]["warm"]]
    later = [t for ts in workers.values() for t in ts[1:]]

    def med(ts, key):
        return round(statistics.median(t[key] for t in ts), 6) if ts else None

    return {
        "tasks_per_round": tasks,
        "rounds": rounds,
        "workers": len(workers),
        "zip_importers_per_worker": sorted(
            {t["importers"] for t in rows}),
        "first_task": {
            "n": len(first),
            "unshimmed_invalidate_s": med(first, "before_s"),
            "unshimmed_zip_reads": med(first, "before_reads"),
            "first_shimmed_invalidate_s": med(first, "after_s"),
            "first_shimmed_zip_reads": med(first, "after_reads"),
        },
        "later_tasks": {
            "n": len(later),
            "invalidate_s": med(later, "before_s"),
            "zip_reads_max": max((t["before_reads"] for t in later),
                                 default=None),
        },
        "tasks": [{k: (round(v, 6) if isinstance(v, float) else v)
                   for k, v in t.items()} for t in rows],
    }


def floor_phase(spark, docs_n: int, reps: int) -> dict:
    from pyspark.sql import functions as F

    from idzebra_spark.api import ZebraSpark
    from idzebra_spark.operators import wand
    from idzebra_spark.operators.wand import SegmentIndex
    from idzebra_spark.sources.corpus import synth_source_files

    sc = spark.sparkContext
    path = tempfile.mkdtemp(prefix="task_floor_") + "/idx"
    corpus = synth_source_files(spark, docs_n).select("doc_id", "content")
    ZebraSpark(spark, path, text_col="content").build(corpus)
    idx = SegmentIndex(spark, path, cache_hot=True)
    real_kernel = wand._query_kernel

    def empty_cogroup():
        wand._query_kernel = _empty_kernel_factory
        try:
            return idx.topk([TERM], 10).collect()
        finally:
            wand._query_kernel = real_kernel

    ops = {
        "jvm_job": lambda: spark.range(0, 1000, 1, 1)
        .agg(F.sum("id")).collect(),
        "empty_map_in_pandas": lambda: spark.range(0, 1, 1, 1)
        .mapInPandas(_empty_map, "id long").collect(),
        "empty_kernel_cogroup": empty_cogroup,
        "search": lambda: idx.topk([TERM], 10).collect(),
    }

    def timed(fn):
        group = f"floor-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "probe_task_floor")
        t0 = time.perf_counter()
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return (time.perf_counter() - t0,
                len(sc.statusTracker().getJobIdsForGroup(group)))

    for _ in range(3):  # fill the cache, warm every worker and the JIT
        for fn in ops.values():
            fn()
    runs = {name: [] for name in ops}
    jobs = {name: 0 for name in ops}
    for _ in range(reps):
        for name, fn in ops.items():
            dt, n = timed(fn)
            runs[name].append(dt)
            jobs[name] = max(jobs[name], n)
    out = {name: dict(_summary(runs[name]), jobs=jobs[name])
           for name in ops}
    idx.blocks.unpersist()
    idx.norms.unpersist()
    shutil.rmtree(os.path.dirname(path))
    return {"docs": docs_n, "term": TERM, "reps": reps, "ops": out}


def main() -> None:
    docs_n = _arg("--docs", 5000)
    reps = _arg("--reps", 21)
    rounds = _arg("--rounds", 4)
    out_path = _arg("--out", os.path.join(REPO, "PERF_task_floor.json"))
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))

    import pyarrow
    import pyspark

    from idzebra_spark.session import get_spark

    spark = get_spark("task-floor-probe")
    spark.sparkContext.setLogLevel("ERROR")
    report = {
        "probe": "scripts/probe_task_floor.py",
        "machine": {
            "nproc": os.cpu_count(),
            "spark_master": spark.sparkContext.master,
            "python": platform.python_version(),
            "pyarrow": pyarrow.__version__,
            "pyspark": pyspark.__version__,
        },
        "zip": zip_phase(spark, rounds),
        "floor": floor_phase(spark, docs_n, reps),
    }
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=2)
        fh.write("\n")
    print(json.dumps({k: report[k] for k in ("machine",)} | {
        "zip": {k: v for k, v in report["zip"].items() if k != "tasks"},
        "floor": {k: v["median_s"] for k, v in
                  report["floor"]["ops"].items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
