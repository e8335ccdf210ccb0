#!/usr/bin/env python
"""Round-6 auxiliary benchmarks — noop-sink isolation (guide §1.4).

bench.py is FROZEN (driver contract); this file holds the extra
probes the optimization round used to attribute time inside the
headline operators. Each probe times a SUBTREE of a bench query with
``df.write.format('noop')`` so the computation is measured, not the
sink, and labels the job for the UI.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py
Prints one JSON line {probe: seconds (min-of-3), ...}.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyspark.sql import functions as F

    from idzebra_spark.session import get_spark
    from idzebra_spark.functions.tokenizer import tokenize_array
    from idzebra_spark.operators import segment as seg
    from idzebra_spark.operators.segment import build_index
    from idzebra_spark.operators.wand import SegmentIndex

    spark = get_spark("idzebra-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    docs.count()
    out: dict[str, float] = {}

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def t(name, fn, reps=3):
        best = None
        for _ in range(reps):
            sc.setJobDescription(f"bench_extra: {name}")
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        sc.setJobDescription(None)
        out[name] = round(best, 4)

    # --- tokenizer / corpus-scan floor -------------------------------
    t("scan_raw", lambda: noop(docs))
    t("scan_tokenize_array", lambda: noop(
        docs.select(tokenize_array(F.col("text")).alias("x"))))

    # --- build_index decomposition -----------------------------------
    ss, bs = 512, 128
    src = docs.select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text"),
    ).withColumn("shard", seg.shard_expr(ss))
    meta = src.select(
        "shard", "doc_id",
        F.size(tokenize_array(F.col("text"))).alias("doclen"),
        seg.content_sha("text", []).alias("sha256"))
    t("build_meta_scan", lambda: noop(meta))

    # the doc-array block pipeline build_index plans
    new_blocks = seg._doc_arrays(src, None, "ascii", False) \
        .groupBy("shard").applyInPandas(
            seg._build_shard_blocks(bs, True), seg.BLOCK_SCHEMA)
    t("build_blocks_doc_array", lambda: noop(new_blocks), reps=2)

    # --- serving floor: trivial cogroup over the pinned layout -------
    import pandas as pd

    path = tempfile.mkdtemp(prefix="bextra_") + "/idx"
    build_index(spark, docs, path, shard_size=ss, block_size=bs)
    idx = SegmentIndex(spark, path, cache_hot=True)
    idx.stats()
    idx.topk(["data"], 10, "or").collect()

    def trivial(l, r):
        return pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})

    def cg():
        (idx.blocks.where(F.col("term").isin(["merge", "sort"]))
         .groupBy("shard").cogroup(idx.norms.groupBy("shard"))
         .applyInPandas(trivial, "doc_id long").collect())

    t("serving_trivial_cogroup_floor", cg, reps=5)
    t("serving_topk_or2", lambda: idx.topk(
        ["merge", "sort"], 10, "or").collect(), reps=5)

    import shutil

    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
