#!/usr/bin/env python
"""Driver-side metadata reads against Spark collects of the same rows.

Builds a ``synth_source_files`` index (5,000 docs by default), then
times three metadata operations two ways, each on a warm JVM:

- ``open_stats``: a ``SegmentIndex`` open plus ``stats()`` (the
  driver-side reader) against Spark collects of the lineage
  (shard, batch, build_seq) and live norms (shard, batch, n_docs,
  sum_dl) rows;
- ``lookup``: one exact term through ``IndexMeta.lookup`` against a
  Spark collect of its dictionary rows;
- ``prefix``: one prefix expansion through ``IndexMeta.prefix``
  against a Spark collect of the term range's dictionary rows.

Each op also counts the Spark jobs it ran (status tracker, one job
group per op). Both sides must return the same rows. The JSON names
the machine: core count, master, and pyarrow/pyspark versions.

Usage: python scripts/probe_meta_plane.py [--docs 5000] [--reps 7]
       [--out PERF_meta_plane.json]
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
PREFIX = "sh"


def _arg(name: str, default):
    if name in sys.argv:
        return type(default)(sys.argv[sys.argv.index(name) + 1])
    return default


def main() -> None:
    docs_n = _arg("--docs", 5000)
    reps = _arg("--reps", 7)
    out_path = _arg("--out", os.path.join(REPO, "PERF_meta_plane.json"))
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

    import pyarrow
    import pyspark

    from idzebra_spark.api import ZebraSpark
    from idzebra_spark.meta import IndexMeta, _succ
    from idzebra_spark.operators.wand import SegmentIndex
    from idzebra_spark.session import get_spark
    from idzebra_spark.sources.corpus import synth_source_files

    spark = get_spark("meta-plane-probe")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    path = tempfile.mkdtemp(prefix="meta_plane_") + "/idx"
    corpus = synth_source_files(spark, docs_n).select("doc_id", "content")
    ZebraSpark(spark, path, text_col="content").build(corpus)

    def timed(fn):
        group = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "probe_meta_plane")
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        dt = time.perf_counter() - t0
        return dt, len(sc.statusTracker().getJobIdsForGroup(group)), out

    meta = IndexMeta(spark, path)
    span = (PREFIX, _succ(PREFIX))

    def reader_open_stats():
        return SegmentIndex(spark, path).stats()

    def spark_open_stats():
        lin = meta._spark_rows("lineage", ["shard", "batch", "build_seq"],
                               None, None, None)
        norms = meta._spark_rows("norms", ["shard", "batch", "n_docs",
                                           "sum_dl"], meta.batches,
                                 None, None)
        n = sum(norms["n_docs"].to_pylist())
        return lin.num_rows, (n, sum(norms["sum_dl"].to_pylist()) / n)

    def spark_lookup():
        t = meta._spark_rows("dictionary", ["term", "df", "cf", "max_tf"],
                             meta.batches, [TERM], None)
        return {r["term"]: {k: r[k] for k in ("df", "cf", "max_tf")}
                for r in t.to_pylist()}

    def spark_prefix():
        t = meta._spark_rows("dictionary", ["term"], meta.batches, None,
                             span)
        return set(t["term"].to_pylist())

    ops = {
        "open_stats": (reader_open_stats, spark_open_stats),
        "lookup": (lambda: meta.lookup([TERM]), spark_lookup),
        "prefix": (lambda: meta.prefix(None, PREFIX, 10000), spark_prefix),
    }
    # warm both paths once (JVM codegen, imports) before timing
    for reader, via_spark in ops.values():
        reader(), via_spark()
    result = {}
    for name, (reader, via_spark) in ops.items():
        row = {}
        for side, fn in (("reader", reader), ("spark", via_spark)):
            runs = [timed(fn) for _ in range(reps)]
            row[f"{side}_s"] = [round(r[0], 5) for r in runs]
            row[f"{side}_median_s"] = round(
                statistics.median(r[0] for r in runs), 5)
            row[f"{side}_jobs"] = max(r[1] for r in runs)
            row[f"_{side}_out"] = runs[-1][2]
        want = row.pop("_spark_out")
        got = row.pop("_reader_out")
        if name == "open_stats":
            want = want[1]
        assert got and got == want, (name, got, want)
        result[name] = row

    report = {
        "probe": "scripts/probe_meta_plane.py",
        "machine": {
            "nproc": os.cpu_count(),
            "spark_master": sc.master,
            "python": platform.python_version(),
            "pyarrow": pyarrow.__version__,
            "pyspark": pyspark.__version__,
        },
        "docs": docs_n,
        "reps": reps,
        "term": TERM,
        "prefix": PREFIX,
        "prefix_fanout": len(meta.prefix(None, PREFIX, 10000)),
        "live_batches": len(meta.batches),
        "ops": result,
    }
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=2)
        fh.write("\n")
    print(json.dumps(report))
    spark.stop()
    shutil.rmtree(os.path.dirname(path))


if __name__ == "__main__":
    main()
