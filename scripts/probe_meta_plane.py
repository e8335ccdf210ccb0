#!/usr/bin/env python
"""Driver-side metadata reads against Spark collects of the same rows.

Builds a ``synth_source_files`` index (5,000 docs by default) and
probes it in two states: ``fresh`` (one fully live batch) and
``reindexed`` (an update rewrote one shard, so the build batch is only
partly live). In each state it times three metadata operations, each
on a warm JVM:

- ``open_stats``: a ``SegmentIndex`` open plus ``stats()`` (the
  driver-side reader) against Spark collects of the lineage
  (shard, batch, build_seq) and live norms (shard, batch, n_docs,
  sum_dl) rows;
- ``lookup``: one exact term through ``IndexMeta.lookup`` against a
  Spark aggregate of its live (shard, batch) dictionary rows, and
  against the live ``blocks`` metadata aggregated on the driver (the
  path a per-term dictionary needs after a partial reindex);
- ``prefix``: one prefix expansion through ``IndexMeta.prefix``
  against the distinct terms of the range's live dictionary rows
  (Spark) and of its live ``blocks`` metadata (driver).

The reader's lookup and prefix are timed twice: ``reader_first`` is
the first read on a new ``IndexMeta`` (it lists the live batch
directories and opens their file footers; the instance is made
outside the timing), ``reader`` a repeated read on one warm instance
(which keeps those footers).

Each op also counts the Spark jobs it ran (status tracker, one job
group per op), and the reader's ops record which tables they opened.
Every side must return the same rows. The JSON names the machine:
core count, master, and pyarrow/pyspark versions.

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


class First:
    """A reader op timed as the first read of a new IndexMeta: called
    with an instance made outside the timing."""

    def __init__(self, fn):
        self.fn = fn

    def __call__(self, meta):
        return self.fn(meta)


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
    import pyarrow.compute as pc
    import pyspark
    from pyspark.sql import functions as F

    from idzebra_spark.api import ZebraSpark
    from idzebra_spark.meta import IndexMeta, _succ
    from idzebra_spark.operators.segment import DICT_DDL
    from idzebra_spark.operators.wand import SegmentIndex
    from idzebra_spark.session import get_spark
    from idzebra_spark.sources.corpus import synth_source_files

    spark = get_spark("meta-plane-probe")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    path = tempfile.mkdtemp(prefix="meta_plane_") + "/idx"
    corpus = synth_source_files(spark, docs_n).select("doc_id", "content")
    z = ZebraSpark(spark, path, text_col="content")
    z.build(corpus)

    opened: list[str] = []
    real_files = IndexMeta._files

    def files(self, table, batches):
        opened.append(table)
        return real_files(self, table, batches)

    IndexMeta._files = files

    def timed(fn):
        fresh = IndexMeta(spark, path) if isinstance(fn, First) else None
        group = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "probe_meta_plane")
        opened.clear()
        t0 = time.perf_counter()
        try:
            out = fn(fresh) if fresh is not None else fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        dt = time.perf_counter() - t0
        return (dt, len(sc.statusTracker().getJobIdsForGroup(group)),
                sorted(set(opened)), out)

    def probe(meta: IndexMeta) -> dict:
        lo, hi = PREFIX, _succ(PREFIX)
        dictionary = meta.frame("dictionary", DICT_DDL)

        def reader_open_stats():
            return SegmentIndex(spark, path).stats()

        def spark_open_stats():
            lin = meta._spark_rows("lineage",
                                   ["shard", "batch", "build_seq"],
                                   None, None, None)
            norms = meta._live_rows(meta._spark_rows(
                "norms", ["shard", "batch", "n_docs", "sum_dl"],
                meta.batches, None, None))
            n = pc.sum(norms["n_docs"]).as_py()
            return lin.num_rows, (n, pc.sum(norms["sum_dl"]).as_py() / n)

        def spark_lookup():
            return {r["term"]: {k: r[k] for k in ("df", "cf", "max_tf")}
                    for r in dictionary.where(F.col("term") == TERM)
                    .groupBy("term").agg(F.sum("df").alias("df"),
                                         F.sum("cf").alias("cf"),
                                         F.max("max_tf").alias("max_tf"))
                    .collect()}

        def blocks_lookup():
            t = meta._live_rows(meta._table(
                "blocks", ["term", "shard", "batch", "n_docs", "sum_tf",
                           "max_tf"], meta.batches, terms=[TERM]))
            t = t.group_by("term").aggregate(
                [("n_docs", "sum"), ("sum_tf", "sum"), ("max_tf", "max")])
            return {r["term"]: {"df": r["n_docs_sum"], "cf": r["sum_tf_sum"],
                                "max_tf": r["max_tf_max"]}
                    for r in t.to_pylist()}

        def spark_prefix():
            return {r["term"] for r in dictionary.where(
                (F.col("term") >= lo) & (F.col("term") < hi))
                .select("term").distinct().collect()}

        def blocks_prefix():
            found = set()
            for piece in meta._scan("blocks", ["term", "shard", "batch"],
                                    meta.batches, span=(lo, hi)):
                found.update(meta._live_rows(piece)["term"].to_pylist())
            return found

        ops = {
            "open_stats": {"reader": reader_open_stats,
                           "spark": spark_open_stats},
            "lookup": {"reader": lambda: meta.lookup([TERM]),
                       "reader_first": First(lambda m: m.lookup([TERM])),
                       "spark": spark_lookup, "blocks": blocks_lookup},
            "prefix": {"reader": lambda: set(meta.prefix(None, PREFIX,
                                                         10000)),
                       "reader_first": First(
                           lambda m: set(m.prefix(None, PREFIX, 10000))),
                       "spark": spark_prefix, "blocks": blocks_prefix},
        }
        # warm every path once (JVM codegen, imports) before timing
        for sides in ops.values():
            for fn in sides.values():
                timed(fn)
        result = {}
        for name, sides in ops.items():
            row, outs = {}, {}
            for side, fn in sides.items():
                runs = [timed(fn) for _ in range(reps)]
                row[f"{side}_s"] = [round(r[0], 5) for r in runs]
                row[f"{side}_median_s"] = round(
                    statistics.median(r[0] for r in runs), 5)
                row[f"{side}_jobs"] = max(r[1] for r in runs)
                outs[side] = runs[-1][3]
                if side.startswith("reader"):
                    row[f"{side}_tables"] = runs[-1][2]
            if name == "open_stats":
                outs["spark"] = outs["spark"][1]
            want = outs.pop("reader")
            assert want and all(o == want for o in outs.values()), \
                (name, want, outs)
            result[name] = row
        return {"live_batches": len(meta.batches),
                "live_pairs": len(meta.live),
                "prefix_fanout": len(meta.prefix(None, PREFIX, 10000)),
                "ops": result}

    states = {"fresh": probe(IndexMeta(spark, path))}
    # rewrite shard 0 only: the build batch stays live for the others
    z.update(corpus.withColumn("content", F.when(
        F.col("doc_id") == 1, F.concat("content", F.lit(" block")))
        .otherwise(F.col("content"))))
    states["reindexed"] = probe(IndexMeta(spark, path))

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
        "states": states,
    }
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=2)
        fh.write("\n")
    print(json.dumps(report))
    spark.stop()
    shutil.rmtree(os.path.dirname(path))


if __name__ == "__main__":
    main()
