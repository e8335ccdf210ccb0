#!/usr/bin/env python
"""Dump .explain('formatted') for every bench/entry query touched in
optimization round 6 into plans/r06/<name>_<tag>.txt.

Usage: python scripts/plans_r06.py before|after
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.01"


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    outdir = os.path.join(REPO, "plans", "r06")
    os.makedirs(outdir, exist_ok=True)

    from pyspark.sql import functions as F

    from idzebra_spark.session import get_spark
    from idzebra_spark.operators.bruteforce import bm25_topk
    from idzebra_spark.operators.segment import build_index
    from idzebra_spark.operators.wand import SegmentIndex
    from idzebra_spark.sources.corpus import load_documents

    spark = get_spark("plans-r06", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_documents(spark, SF).cache()
    docs.count()
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]

    plans: dict[str, object] = {}

    # --- dedup / similarity family -------------------------------------
    from idzebra_spark.operators.similarity import (
        embedding_dup_pairs, cosine_topk, cosine_topk_q8, build_q8_index,
        cosine_topk_q8_indexed, build_lsh_index, lsh_topk_indexed)
    from idzebra_spark.operators.dedup import (
        minhash_lsh_pairs, cross_contamination)

    plans["dedup_embedding"] = embedding_dup_pairs(
        emb, threshold=0.4, n_planes=6)
    plans["brute_or2"] = bm25_topk(docs, ["merge", "sort"], 10, "or")
    plans["dedup_minhash_lsh"] = minhash_lsh_pairs(docs, threshold=0.5)
    test = docs.where(F.col("doc_id") % 5 == 0)
    train = docs.where(F.col("doc_id") % 5 != 0)
    plans["dedup_contamination"] = cross_contamination(
        test, train, n=5, threshold=0.3)
    plans["sim_cosine"] = cosine_topk(emb, qv, 10, exclude_id=0)
    plans["sim_cosine_q8"] = cosine_topk_q8(emb, qv, 10, exclude_id=0)
    q8_path = tempfile.mkdtemp(prefix="plans_q8_") + "/q8"
    build_q8_index(emb, q8_path)
    plans["sim_q8_indexed"] = cosine_topk_q8_indexed(
        spark, q8_path, qv, 10, exclude_id=0)
    lsh_path = tempfile.mkdtemp(prefix="plans_lsh_") + "/lsh"
    build_lsh_index(emb, lsh_path, n_planes=6)
    plans["sim_lsh_indexed"] = lsh_topk_indexed(
        spark, lsh_path, qv, 10, n_planes=6, exclude_id=0)

    # --- segment/WAND serving family -----------------------------------
    path = tempfile.mkdtemp(prefix="plans_idx_") + "/idx"
    build_index(spark, docs, path, shard_size=512, block_size=128)
    idx = SegmentIndex(spark, path, cache_hot=True)
    idx.stats()
    idx.topk(["data"], 10, "or").collect()  # warm + pin norms
    plans["wand_single"] = idx.topk(["merge"], 10, "or")
    plans["wand_or2"] = idx.topk(["merge", "sort"], 10, "or")
    batch = {f"q{i}": {"terms": ["merge", "sort"], "mode": "or"}
             for i in range(4)}
    plans["batch_topk_many"] = idx.topk_many(batch, 10)
    plans["trunc_prefix"] = idx.eval_tree(("prefix", "sc"))
    plans["phrase_segment"] = idx.phrase(["batch", "batch"], 10)

    # --- build path (pre-write frames; the write itself has no explain)
    from idzebra_spark.operators import segment as seg
    src = docs.select(
        F.col("doc_id"), F.coalesce(F.col("text"), F.lit("")).alias("text"),
    ).withColumn("shard", seg.shard_expr(512))
    # the doc-array block pipeline build_index plans
    blocks = seg._doc_arrays(src, None, "ascii", False).groupBy(
        "shard").applyInPandas(seg._build_shard_blocks(128, True),
                               seg.BLOCK_SCHEMA)
    plans["build_blocks"] = blocks

    for name, df in plans.items():
        p = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(p, "w") as f:
            f.write(explain_str(df))
        print("wrote", p)


if __name__ == "__main__":
    main()
