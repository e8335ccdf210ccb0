"""Multi-database search — one query over N segment indexes.

Reference: ``/root/reference/index/zebraapi.c:1079-1112``
(``zebra_search_RPN_x`` resolves a database LIST; each database owns
its own registers and the search streams merge). Zebra re-reads each
database's registers per search; here the facade is a
:class:`~idzebra_spark.operators.wand.SegmentIndex` whose segment
tables are the UNION of the member indexes' tables, so every engine
(WAND top-k, rset DAG evaluation, phrase/prox, scan, batched
serving) works unchanged over the union — and, critically, the
global BM25 statistics (N, avgdl, per-term df) are re-derived by
summing the members' per-shard rows, so scores are IDENTICAL to a
single index built over the concatenated corpora (the oracle for the
``multi_db_search`` entry checks exactly that).

Shard ids are disjoint per member by a fixed stride (member i's
shard s becomes ``i * 2^40 + s``): two databases built with the same
shard_size would otherwise collide on shard ids at the cogroup key
and silently merge unrelated shards' postings. The stride keeps each
member's per-shard locality and adds no shuffle — it is a projection
over the already-loaded frames.

Requirement (documented, matching Zebra's per-database sysno
spaces): doc_ids must be globally unique across the searched
databases. Concatenated corpora with disjoint id ranges satisfy this
by construction.

Scale shape: no extra shuffle vs a single index — the union is
evaluated per-partition, term-pruned parquet scans still prune per
member, and the per-shard cogrouped kernels see exactly as many
shards as the members hold together.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idzebra_spark.operators.wand import SegmentIndex

# shard-id stride between member databases — far above any real
# shard count (2^40 shards × 4096 docs/shard ≈ 4.5e15 docs/db)
DB_STRIDE = 1 << 40


class _MetaUnion:
    """The members' driver-side metadata readers as one: live pairs
    with strided shard ids, summed totals, per-term sums of the
    members' lookups (df and cf add, max_tf takes the max) and the
    union of their prefix matches."""

    def __init__(self, members):
        self.members = members
        self.live = pd.concat(
            [m.live.assign(shard=m.live["shard"] + i * DB_STRIDE)
             for i, m in enumerate(members)], ignore_index=True)

    def totals(self) -> tuple[int, int]:
        n, s = zip(*(m.totals() for m in self.members))
        return sum(n), sum(s)

    def lookup(self, terms) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for m in self.members:
            for t, d in m.lookup(terms).items():
                o = out.setdefault(t, {"df": 0, "cf": 0, "max_tf": 0})
                o["df"] += d["df"]
                o["cf"] += d["cf"]
                o["max_tf"] = max(o["max_tf"], d["max_tf"])
        return out

    def prefix(self, field, pattern, limit) -> set[str]:
        return set().union(
            *(m.prefix(field, pattern, limit) for m in self.members))


class MultiSegmentIndex(SegmentIndex):
    """Read-only search facade over N committed segment indexes.

    Every query method of :class:`SegmentIndex` works unchanged; the
    facade only swaps the underlying segment tables for unions with
    disjoint shard ids and re-merges the dictionary partials. Updates
    go through the member indexes (this handle is a reader)."""

    def __init__(self, spark: SparkSession, paths: list[str],
                 cache_hot: bool = False):
        if not paths:
            raise ValueError("MultiSegmentIndex needs >= 1 index path")
        self.spark = spark
        self.paths = list(paths)
        self.subs = [SegmentIndex(spark, p) for p in paths]

        def shift(df: DataFrame, i: int) -> DataFrame:
            return df.withColumn(
                "shard", (F.col("shard") + F.lit(i * DB_STRIDE)).cast("long"))

        def union_all(frames: list[DataFrame]) -> DataFrame:
            return reduce(lambda a, b: a.unionByName(b), frames)

        self.meta = _MetaUnion([s.meta for s in self.subs])
        self.shard_batch = spark.createDataFrame(
            self.meta.live, "shard long, batch string")
        self.blocks = union_all(
            [shift(s.blocks, i) for i, s in enumerate(self.subs)])
        self.norms = union_all(
            [shift(s.norms, i) for i, s in enumerate(self.subs)])
        self._has_reindex = any(s._has_reindex for s in self.subs)
        self._init_serving(cache_hot)

    # global (term, df, cf, max_tf): second-stage merge over the
    # members' own merged dictionaries — df sums across databases so
    # idf matches the single merged index exactly
    def dictionary(self) -> DataFrame:
        dicts = [s.dictionary() for s in self.subs]
        u = reduce(lambda a, b: a.unionByName(b), dicts)
        return u.groupBy("term").agg(
            F.sum("df").alias("df"),
            F.sum("cf").alias("cf"),
            F.max("max_tf").alias("max_tf"),
        )

    def doc_meta(self) -> DataFrame:
        metas = [
            s.doc_meta().withColumn(
                "shard",
                (F.col("shard") + F.lit(i * DB_STRIDE)).cast("long"))
            for i, s in enumerate(self.subs)
        ]
        return reduce(lambda a, b: a.unionByName(b), metas)


def open_databases(spark: SparkSession, paths: list[str],
                   cache_hot: bool = False) -> MultiSegmentIndex:
    """zebra_select_databases + search facade: one handle over N
    index paths (zebraapi.c:1079-1112)."""
    return MultiSegmentIndex(spark, paths, cache_hot=cache_hot)
