"""Register consistency check — ``zebra_register_check``
(/root/reference/index/check_res.c walks dict/ISAM/register files and
cross-checks them; exposed at api.h:514 and via zebraidx). Here the
invariants tie the four segment tables to each other:

1. ``norms`` vs ``doc_meta``: per-shard doc counts and doclen sums
   must agree (the BM25 norm registers describe exactly the stored
   records).
2. ``dictionary`` partials vs ``blocks`` metadata: per (shard, term),
   the live dictionary rows' df / cf / max_tf must equal those
   re-derived from live block metadata. The dictionary the query layer
   serves is these rows summed per term, so it is checked too, and a
   per-shard error cannot cancel out across shards.
3. ``blocks`` payload decode (the "full" check): every block's
   varint-delta payload must decode to exactly ``n_docs`` strictly
   increasing docids matching the stored first/last bounds, with tf
   counts/sums/max matching the block header, positions payload sized
   ``sum_tf`` when present, and every docid landing in its row's
   shard (``doc_id // shard_size == shard``, when build_meta is
   available).
4. ``lineage`` vs ``norms``: every live non-tombstone shard has a
   norms row and vice versa.

All checks are distributed aggregations — the driver sees only
violation counts. The full payload decode is a single Arrow-batched
``mapInPandas`` pass over live blocks (numpy varint decode, the same
codec the query path uses), so checking cost ~= one pruned-free index
scan, which is what a full ``zebraidx check`` costs too.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from idzebra_spark.functions.codec import varint_decode
from idzebra_spark.operators.segment import (
    DICT_DDL, LINEAGE_DDL, read_build_meta)
from idzebra_spark.operators.wand import SegmentIndex

_COUNT_SCHEMA = T.StructType([T.StructField("bad", T.LongType())])


def _block_check_kernel(shard_size: int | None):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bad = 0
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                try:
                    deltas = varint_decode(bytes(r.docids_bin)).astype(
                        np.int64)
                    docids = np.cumsum(deltas)
                    tfs = varint_decode(bytes(r.tfs_bin)).astype(np.int64)
                    ok = (
                        docids.size == r.n_docs
                        and tfs.size == r.n_docs
                        and docids.size > 0
                        and docids[0] == r.first_docid
                        and docids[-1] == r.last_docid
                        and bool((deltas[1:] > 0).all())
                        and bool((tfs >= 1).all())
                        and int(tfs.sum()) == r.sum_tf
                        and int(tfs.max()) == r.max_tf
                    )
                    if ok and shard_size:
                        ok = bool(
                            (docids // shard_size
                             == (r.shard % (1 << 40))).all())
                    if ok and r.pos_bin is not None and len(r.pos_bin):
                        ok = varint_decode(
                            bytes(r.pos_bin)).size == r.sum_tf
                    if not ok:
                        bad += 1
                except Exception:
                    bad += 1
        yield pd.DataFrame({"bad": [bad]})

    return fn


def check_index(spark: SparkSession, path: str,
                full: bool = True) -> dict:
    """Cross-check the committed register at ``path``. Returns
    ``{"ok": bool, "violations": {check: count}}`` — nonzero counts
    name the broken invariant (the CLI ``check`` verb exits 1). A
    register too damaged to open (a segment table missing outright)
    reports ``unreadable_register`` instead of raising — a checker
    that crashes on the states it exists to diagnose is useless."""
    try:
        return _check_open(spark, SegmentIndex(spark, path), path, full)
    except Exception as e:  # damaged register: report, don't raise
        return {"ok": False, "violations": {"unreadable_register": 1},
                "error": str(e).splitlines()[0] if str(e) else repr(e)}


def _check_open(spark: SparkSession, idx: SegmentIndex, path: str,
                full: bool) -> dict:
    meta = read_build_meta(spark, path) or {}
    violations: dict[str, int] = {}

    # 1. norms vs doc_meta (full outer: a shard present in only one
    # table is itself a violation)
    meta_agg = idx.doc_meta().groupBy("shard").agg(
        F.count("*").alias("m_docs"),
        F.sum("doclen").alias("m_dl"),
    )
    norms_agg = idx.norms.select(
        "shard", F.col("n_docs").alias("s_docs"),
        F.col("sum_dl").alias("s_dl"))
    violations["norms_vs_doc_meta"] = (
        norms_agg.join(meta_agg, "shard", "full")
        .where(
            (F.coalesce("s_docs", F.lit(-1))
             != F.coalesce("m_docs", F.lit(-1)))
            | (F.coalesce("s_dl", F.lit(-1))
               != F.coalesce("m_dl", F.lit(-1)))
        )
        .count()
    )

    # 2. live dictionary rows vs live block metadata, per (shard, term)
    blk_agg = idx.blocks.groupBy("shard", "term").agg(
        F.sum("n_docs").alias("b_df"),
        F.sum("sum_tf").alias("b_cf"),
        F.max("max_tf").alias("b_max"),
    )
    d = idx.meta.frame("dictionary", DICT_DDL).groupBy("shard", "term").agg(
        F.sum("df").alias("d_df"),
        F.sum("cf").alias("d_cf"),
        F.max("max_tf").alias("d_max"),
    )
    violations["dictionary_vs_blocks"] = (
        d.join(blk_agg, ["shard", "term"], "full")
        .where(
            (F.coalesce("d_df", F.lit(-1)) != F.coalesce("b_df", F.lit(-1)))
            | (F.coalesce("d_cf", F.lit(-1)) != F.coalesce("b_cf", F.lit(-1)))
            | (F.coalesce("d_max", F.lit(-1))
               != F.coalesce("b_max", F.lit(-1)))
        )
        .count()
    )

    # 3. full payload decode
    if full:
        kernel = _block_check_kernel(meta.get("shard_size"))
        bad = idx.blocks.select(
            "shard", "n_docs", "first_docid", "last_docid", "max_tf",
            "sum_tf", "docids_bin", "tfs_bin", "pos_bin",
        ).mapInPandas(kernel, _COUNT_SCHEMA).agg(F.sum("bad")).collect()[0][0]
        violations["block_payload_decode"] = int(bad or 0)

    # 4. lineage vs norms: live shards with docs must have norms rows;
    # norms rows must belong to live (shard, batch) pairs — the latter
    # holds by construction (idx.norms is lineage-filtered), so check
    # the forward direction against the lineage metrics.
    live = idx.meta.frame("lineage", LINEAGE_DDL) \
        .where(F.col("docs_indexed") > 0).select("shard")
    violations["lineage_vs_norms"] = (
        live.join(idx.norms.select("shard"), "shard", "left_anti").count()
    )

    ok = all(v == 0 for v in violations.values())
    return {"ok": ok, "violations": violations}
