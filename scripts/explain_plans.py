#!/usr/bin/env python
"""Capture physical-plan evidence (predicate pushdown, broadcast,
codegen) into PLANS.md — the '.explain and iterate' artifact.

Run: python scripts/explain_plans.py
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def explain_str(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from idzebra_spark.session import get_spark
    from idzebra_spark.operators.bruteforce import bm25_topk
    from idzebra_spark.operators.segment import build_index
    from idzebra_spark.operators.wand import SegmentIndex
    from idzebra_spark.sources.corpus import load_documents

    spark = get_spark("plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_documents(spark, "/root/testdata/sf0.001")
    path = tempfile.mkdtemp(prefix="plans_") + "/idx"
    build_index(spark, docs, path, shard_size=128, block_size=64)
    idx = SegmentIndex(spark, path)

    sections = []

    blk = idx.blocks.where(F.col("term").isin(["merge", "sort"]))
    sections.append((
        "Posting-block scan for query terms",
        "The `term IN (...)` predicate must reach the parquet scan "
        "(PushedFilters) and prune row groups — blocks are written "
        "range-partitioned + sorted by term precisely for this.",
        explain_str(blk),
    ))

    d = idx.dictionary().where(F.col("term").isin(["merge", "sort"]))
    sections.append((
        "Dictionary lookup (filter pushed through the aggregate)",
        "The filter is on the grouping key, so Catalyst pushes it "
        "below the groupBy into the scan: the lookup reads only "
        "matching dictionary rows, never the whole dictionary.",
        explain_str(d),
    ))

    bf = bm25_topk(docs, ["merge", "sort"], 10, "or")
    sections.append((
        "Brute-force BM25 plan",
        "Expect: WholeStageCodegen spans over tokenize+filter+agg, "
        "broadcast of the 1-row stats and per-term df dims "
        "(BroadcastHashJoin/BroadcastNestedLoopJoin), TakeOrderedAndProject "
        "for the bounded top-k (no global sort).",
        explain_str(bf),
    ))

    st = idx.search_tree(
        ("not", ("and", [("or", [("term", "merge"), ("term", "sort")]),
                         ("term", "scan")]),
         ("phrase", ["batch", "batch"])), 10)
    sections.append((
        "Structured rset-DAG query (search_tree)",
        "The whole boolean tree evaluates INSIDE one cogrouped "
        "FlatMapCoGroupsInPandas kernel per shard — one pruned block "
        "scan for all leaves, the norms of the shards the driver "
        "planned from the dictionary (no semi-join), then a 10-row "
        "TakeOrderedAndProject merge. No per-leaf shuffles, no corpus "
        "re-tokenization, ranking uses corpus-global stats.",
        explain_str(st),
    ))

    bq = idx.topk_many({
        "a": {"terms": ["merge", "sort"], "mode": "or"},
        "b": {"terms": ["spark", "query"], "mode": "and"},
        "c": {"terms": ["merge", "sort"], "mode": "or",
              "not_terms": ["slow"]},
    }, 10)
    sections.append((
        "Batched multi-query kernel (topk_many)",
        "All queries share ONE pruned block scan (term IN covers the "
        "union of every query's terms), one norms read cut to the "
        "driver-planned shards and one "
        "FlatMapCoGroupsInPandas pass; the per-query top-k is a "
        "window over (query_id) on ~shards x k x n_queries rows — "
        "metadata-sized. N queries pay ONE Spark job, which is what "
        "closes the serving-throughput gap.",
        explain_str(bq),
    ))

    hot = SegmentIndex(spark, path, cache_hot=True)
    hot.topk(["merge"], 10).collect()   # populate the pinned norms
    hp = hot.topk(["merge", "sort"], 10)
    sections.append((
        "Serving-mode pinned layout (cache_hot, r6)",
        "With cache_hot BOTH blocks and norms are persisted hash-"
        "partitioned by shard at handle open; a per-query term filter "
        "preserves hashpartitioning(shard, p), which satisfies the "
        "cogroup's required distribution on both sides — so the whole "
        "query is ONE fused stage (InMemoryTableScan -> Filter -> "
        "Sort -> FlatMapCoGroupsInPandas -> TakeOrderedAndProject) "
        "with ZERO query-level exchanges (every Exchange below is "
        "inside the InMemoryRelation's one-time build lineage).",
        explain_str(hp),
    ))

    from idzebra_spark.operators.similarity import (
        build_lsh_index, lsh_topk_indexed)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    lsh_path = tempfile.mkdtemp(prefix="plans_lsh_") + "/lsh"
    build_lsh_index(emb, lsh_path, n_planes=6)
    lp = lsh_topk_indexed(spark, lsh_path, qv, 10, n_planes=6, exclude_id=0)
    sections.append((
        "Indexed LSH ANN probe (partition pruning)",
        "The probe must hit PartitionFilters (bucket IN ...) so only "
        "the probed buckets' files are read — never a full scan of "
        "the embedding corpus.",
        explain_str(lp),
    ))

    from idzebra_spark.operators.similarity import (
        build_ivf_index, ivf_topk_indexed)
    ivf_path = tempfile.mkdtemp(prefix="plans_ivf_") + "/ivf"
    build_ivf_index(emb, ivf_path, k=8, n_iter=3)
    ip = ivf_topk_indexed(spark, ivf_path, qv, 10, 3, 0)
    sections.append((
        "Indexed IVF ANN probe (partition pruning)",
        "The IVF twin of the LSH index: vectors live label-partitioned,"
        " centroids in a k-row table ranked in one tiny job; the "
        "vector read must show PartitionFilters (label IN ...) — "
        "O(corpus x n_probe / k), never a full scan.",
        explain_str(ip),
    ))

    from idzebra_spark.sources.xml_filter import xml_corpus
    xc = xml_corpus(docs)
    sections.append((
        "XML record filter (JVM xpath extraction)",
        "The whole documents→XML→fields round trip is ONE projection "
        "— entity-escape `replace` chains and `xpath_*` expressions "
        "all JVM-side, no Python, no shuffle. A record filter at "
        "100 TB is a map stage, exactly as it should be.",
        explain_str(xc),
    ))

    from idzebra_spark.sources.safari_filter import parse_safari, synth_safari
    sp = parse_safari(synth_safari(docs))
    sections.append((
        "Safari filter (pre-tokenized posting stream)",
        "Line split + posexplode + one regexp per line, all "
        "whole-stage codegen; the parsed stream feeds "
        "build_index(pretokenized=True) with no tokenizer anywhere.",
        explain_str(sp),
    ))

    from idzebra_spark.operators.dedup import minhash_lsh_pairs
    dd = minhash_lsh_pairs(docs, threshold=0.5)
    sections.append((
        "MinHash-LSH dedup (candidate-only verification)",
        "Signatures are ONE hash-aggregate over the raw shingle "
        "stream (map-side combined, no distinct shuffle); the exact-"
        "Jaccard verifier shingles only candidate docs (LeftSemi "
        "before the Generate/explode) — the corpus-wide shared-"
        "shingle self-join never appears.",
        explain_str(dd),
    ))

    from idzebra_spark.operators.similarity import (
        build_q8_index, cosine_topk_q8_indexed)
    q8_path = tempfile.mkdtemp(prefix="plans_q8_") + "/q8"
    build_q8_index(emb, q8_path)
    qp = cosine_topk_q8_indexed(spark, q8_path, qv, 10, exclude_id=0)
    sections.append((
        "Persisted q8 index probe (column-pruned integer kernel)",
        "The query reads ONLY (vec_id, qvec, qnorm) from the q8 "
        "parquet (ReadSchema pruning — the float corpus is never "
        "touched), computes one integer dot per row against literal "
        "query codes, and bounds with TakeOrderedAndProject. No "
        "quantization work appears anywhere in the plan: it was all "
        "paid at build time.",
        explain_str(qp),
    ))

    from idzebra_spark.operators.multidb import open_databases
    db_paths = []
    for i in range(2):
        p = tempfile.mkdtemp(prefix=f"plans_db{i}_") + "/idx"
        build_index(spark, docs.where(F.col("doc_id") % 2 == i), p,
                    shard_size=128, block_size=64)
        db_paths.append(p)
    multi = open_databases(spark, db_paths)
    mp = multi.topk(["merge", "sort"], 10, "or")
    sections.append((
        "Multi-database search (per-member pruned scans, one kernel)",
        "The union facade must push `term IN (...)` into EVERY "
        "member's parquet scan (two PushedFilters block scans below "
        "one Union), then run the SAME single cogrouped kernel — "
        "stride-disjoint shard ids mean no member's shards ever "
        "co-group with another's. Adding a database adds a pruned "
        "scan, not a shuffle.",
        explain_str(mp),
    ))

    md = ["# PLANS — physical-plan evidence\n",
          "Generated by `scripts/explain_plans.py` (sf0.001, local[8]).\n"]
    for title, why, plan in sections:
        md.append(f"## {title}\n\n{why}\n\n```\n{plan}```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(md))
    print("wrote PLANS.md")

    # quick grep-style assertions, printed for the log
    by_title = {t: p for t, _, p in sections}
    blk_plan = by_title["Posting-block scan for query terms"]
    print("blocks PushedFilters present:", "PushedFilters: [" in blk_plan)
    bf_plan = by_title["Brute-force BM25 plan"]
    print("bruteforce TakeOrdered:", "TakeOrderedAndProject" in bf_plan)
    print("bruteforce broadcasts stats/df dims:",
          "BroadcastHashJoin" in bf_plan)
    xml_plan = by_title["XML record filter (JVM xpath extraction)"]
    print("xml filter shuffle-free:", "Exchange" not in xml_plan)
    lsh_plan = by_title["Indexed LSH ANN probe (partition pruning)"]
    print("lsh PartitionFilters:", "PartitionFilters" in lsh_plan)


if __name__ == "__main__":
    main()
