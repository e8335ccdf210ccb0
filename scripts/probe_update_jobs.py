#!/usr/bin/env python
"""Spark job timeline of a warm build, an update and a first search.

Builds a ``synth_source_files`` corpus (5,000 docs by default) twice —
the first build warms the JVM and the Python workers — then applies
one update wave to the second index (1% new docs, 16 edited, 4
deleted, as the perfbench ingest wave) and runs the first search for
the wave's marker on a fresh handle. Each phase runs under its own job
group with an event log on. After the session stops, the log is read
back, and for each phase the JSON records:

- ``wall_s`` and ``jobs`` (the jobs of the phase's group);
- ``in_job_s``: the union of the phase's job intervals, and
  ``driver_only_s``: the rest of the wall time (planning, driver-side
  reads, Python);
- ``sql``: each SQL execution that started inside the phase, with its
  wall time, its job count and what it does (the table it writes,
  or its call site and the top node of its plan).

The JSON names the machine: core count, master, and Python and
pyspark versions.

Usage: python scripts/probe_update_jobs.py [--docs 5000]
       [--out PERF_update_jobs.json]
"""

from __future__ import annotations

import json
import os
import platform
import random
import re
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SEED = 7
EDITS, DELETES, APPEND_FRAC = 16, 4, 0.01


def _arg(name: str, default):
    if name in sys.argv:
        return type(default)(sys.argv[sys.argv.index(name) + 1])
    return default


def _events(log_dir: str):
    """The JSON events of the one application log in ``log_dir``."""
    (name,) = os.listdir(log_dir)
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            yield json.loads(line)


def _label(ev: dict) -> str:
    """What a SQL execution does: ``write <table>`` for a parquet
    write, else its call site (file name and line) and the top node of
    its physical plan."""
    plan = ev.get("physicalPlanDescription", "")
    m = re.search(r"InsertIntoHadoopFsRelationCommand\nInput.*?\n"
                  r"Arguments: (\S+?),", plan)
    if m:
        return "write " + m.group(1).rstrip("/").rsplit("/", 1)[-1]
    nodes = re.findall(r"^(?:[ +:-]*)(\w+) \(\d+\)$",
                       plan.split("\n\n", 1)[0], re.M)
    top = next((n for n in nodes if n != "AdaptiveSparkPlan"), "")
    site = re.sub(r" at \S*/", " at ", ev.get("description", ""))
    return f"{site}: {top}"


def _union_s(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def timeline(log_dir: str, phases: dict[str, tuple[float, float]]) -> dict:
    """Per phase: wall time, jobs, in-job and driver-only time, and its
    SQL executions, from the event log. ``phases`` maps a phase's job
    group to its (start, end) epoch seconds."""
    jobs: dict[int, dict] = {}
    sql: dict[int, dict] = {}
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "sql": int(eid) if eid is not None else None,
                "start": ev["Submission Time"] / 1000}
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql[ev["executionId"]] = {
                "start": ev["time"] / 1000,
                "what": _label(ev)}
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            sql[ev["executionId"]]["end"] = ev["time"] / 1000
    out = {}
    for group, (t0, t1) in phases.items():
        mine = [j for j in jobs.values() if j["group"] == group]
        in_job = _union_s([(j["start"], j.get("end", t1)) for j in mine])
        execs = []
        for eid, e in sorted(sql.items()):
            if t0 <= e["start"] <= t1:
                execs.append({
                    "id": eid,
                    "wall_s": round(e.get("end", t1) - e["start"], 3),
                    "jobs": sum(j["sql"] == eid for j in mine),
                    "what": e["what"]})
        out[group] = {
            "wall_s": round(t1 - t0, 3),
            "jobs": len(mine),
            "in_job_s": round(in_job, 3),
            "driver_only_s": round(t1 - t0 - in_job, 3),
            "sql": execs}
    return out


def main() -> None:
    docs_n = _arg("--docs", 5000)
    out_path = _arg("--out", os.path.join(REPO, "PERF_update_jobs.json"))
    work = tempfile.mkdtemp(prefix="update_jobs_")
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.eventLog.enabled=true",
        f"--conf spark.eventLog.dir=file://{log_dir}",
        "--conf spark.eventLog.compress=false",
        "--conf spark.eventLog.rolling.enabled=false",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell"])

    import pyspark
    from pyspark.sql import functions as F

    from idzebra_spark.api import ZebraSpark
    from idzebra_spark.session import get_spark
    from idzebra_spark.sources.corpus import synth_source_files

    spark = get_spark("update-jobs-probe")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    master = sc.master
    phases: dict[str, tuple[float, float]] = {}

    def phase(name: str, fn):
        # the group alone: each SQL execution keeps its call site as
        # its description
        sc.setLocalProperty("spark.jobGroup.id", name)
        t0 = time.time()
        try:
            return fn()
        finally:
            phases[name] = (t0, time.time())
            sc.setLocalProperty("spark.jobGroup.id", None)

    corpus = synth_source_files(spark, docs_n, SEED).select(
        "doc_id", "content").cache()
    corpus.count()
    ZebraSpark(spark, f"{work}/warm", text_col="content").build(corpus)
    path = f"{work}/idx"
    writer = ZebraSpark(spark, path, text_col="content")
    phase("build", lambda: writer.build(corpus))

    # one update wave: new docs appended, edits carry the marker
    rng = random.Random(SEED)
    marker = f"zqmark{SEED}w1"
    n_new = max(1, int(docs_n * APPEND_FRAC))
    edited = rng.sample(range(docs_n), EDITS)
    deleted = rng.sample(sorted(set(range(docs_n)) - set(edited)), DELETES)
    new = synth_source_files(spark, docs_n + n_new, SEED).select(
        "doc_id", "content").where(F.col("doc_id") >= docs_n)
    tagged = set(edited) | set(range(docs_n, docs_n + n_new))
    snap = corpus.unionByName(new).where(
        ~F.col("doc_id").isin(deleted)).withColumn(
        "content", F.when(F.col("doc_id").isin(sorted(tagged)),
                          F.concat_ws(" ", "content", F.lit(marker)))
        .otherwise(F.col("content"))).cache()
    snap.count()
    update = phase("update", lambda: writer.update(snap))

    def first_search():
        return ZebraSpark(spark, path, text_col="content") \
            .search(marker, k=len(tagged) + 8).collect()
    hits = phase("search", first_search)
    assert {r["doc_id"] for r in hits} == tagged, "marker not visible"
    spark.stop()

    result = {
        "machine": {"cores": os.cpu_count(), "master": master,
                    "platform": platform.platform(),
                    "python": platform.python_version(),
                    "pyspark": pyspark.__version__},
        "corpus": {"docs": docs_n, "seed": SEED, "new": n_new,
                   "edited": EDITS, "deleted": DELETES},
        "update_metrics": update,
        "phases": timeline(log_dir, phases),
    }
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
        fh.write("\n")
    print(json.dumps({k: {m: v[m] for m in ("wall_s", "jobs", "in_job_s",
                                            "driver_only_s")}
                      for k, v in result["phases"].items()}))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
