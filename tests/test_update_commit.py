"""The update path of the segment builder: the changed shards are
resolved once on the driver, a build's jobs stay in the caller's job
group, and the lineage commit, planned on the driver, writes the same
rows and metrics as the Spark-joined commit it replaced, tombstones
included."""

from __future__ import annotations

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

KW = dict(text_col="content", shard_size=128, block_size=64,
          fields={"p": ["lang"]})
SHARD1 = range(128, 256)  # every doc of shard 1


def _corpus(spark):
    """The 600-doc corpus of ``test_meta`` (5 shards of 128 docs)."""
    from idzebra_spark.sources.corpus import synth_source_files

    return synth_source_files(spark, 600, seed=11).select(
        "doc_id", "content", "lang", "path")


def _edited(corpus):
    """Docs 0-4 gain a marker term, doc 7 is deleted."""
    return corpus.where(F.col("doc_id") != 7).withColumn(
        "content", F.when(F.col("doc_id") < 5,
                          F.concat("content", F.lit(" zzqmarker")))
        .otherwise(F.col("content")))


def _jobs(spark, fn):
    """(Spark jobs ``fn`` ran in a fresh job group, jobs it ran in no
    group, its result)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    group = f"t_update-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "t_update")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    outside = set(st.getJobIdsForGroup(None)) - before
    return len(st.getJobIdsForGroup(group)), len(outside), out


def _lineage(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(f"{path}/lineage")
                  .select("batch", "build_seq", "shard", "docs_indexed",
                          "postings_emitted", "bytes_compressed").collect())


def test_build_and_update_jobs_stay_in_the_callers_group(spark, tmp_path):
    """A build, and an update that deletes one doc, start no Spark job
    outside the caller's job group (the build's three concurrent writes
    run under it too), and the update runs at most 26 jobs. Before the
    changed shards were collected once and the lineage commit planned
    on the driver, the build ran 13 jobs in the group and 10 outside
    it, the update 33 in it and 14 outside (local[4])."""
    from idzebra_spark.operators.segment import build_index, update_index

    corpus = _corpus(spark).drop("path")
    path = str(tmp_path / "idx")
    n_in, n_out, m = _jobs(spark, lambda: build_index(
        spark, corpus, path, **KW))
    assert m["docs"] == 600 and n_out == 0, (n_in, n_out)
    n_in, n_out, m = _jobs(spark, lambda: update_index(
        spark, corpus.where(F.col("doc_id") != 7), path, **KW))
    assert m["changed_shards"] == 1 and m["docs"] == 127
    assert n_out == 0, n_out
    assert n_in <= 26, n_in


# build -> update -> compact metrics and lineage rows, recorded from the
# commit that joined per-shard doc counts to block metrics in Spark
GOLDEN = {
    "doc_id": {
        "build": {"batch": "b00000", "shards": 5, "docs": 600,
                  "postings": 129521, "bytes": 231619},
        "update": {"batch": "b00001", "shards": 2, "docs": 127,
                   "postings": 27298, "bytes": 48467,
                   "changed_shards": 2},
        "compact": {"batch": "b00002", "shards": 5},
        "lineage": [
            ("b00000", 0, 0, 128, 27491, 48796),
            ("b00000", 0, 1, 128, 27305, 49010),
            ("b00000", 0, 2, 128, 28571, 51003),
            ("b00000", 0, 3, 128, 26762, 48086),
            ("b00000", 0, 4, 88, 19392, 34724),
            ("b00001", 1, 0, 127, 27298, 48467),
            ("b00001", 1, 1, 0, 0, 0),
            ("b00002", 2, 0, 127, 27298, 48467),
            ("b00002", 2, 1, 0, 0, 0),
            ("b00002", 2, 2, 128, 28571, 51003),
            ("b00002", 2, 3, 128, 26762, 48086),
            ("b00002", 2, 4, 88, 19392, 34724),
        ],
    },
    "match_key": {
        "build": {"batch": "b00000", "shards": 5, "docs": 600,
                  "postings": 129521, "bytes": 231619},
        "update": {"batch": "b00001", "shards": 1, "docs": 127,
                   "postings": 27298, "bytes": 48467,
                   "changed_shards": 1},
        "compact": {"batch": "b00002", "shards": 5},
        "lineage": [
            ("b00000", 0, 0, 128, 27491, 48796),
            ("b00000", 0, 1, 128, 27305, 49010),
            ("b00000", 0, 2, 128, 28571, 51003),
            ("b00000", 0, 3, 128, 26762, 48086),
            ("b00000", 0, 4, 88, 19392, 34724),
            ("b00001", 1, 0, 127, 27298, 48467),
            ("b00002", 2, 0, 127, 27298, 48467),
            ("b00002", 2, 1, 128, 27305, 49010),
            ("b00002", 2, 2, 128, 28571, 51003),
            ("b00002", 2, 3, 128, 26762, 48086),
            ("b00002", 2, 4, 88, 19392, 34724),
        ],
    },
}


@pytest.fixture(scope="module")
def waves(spark, tmp_path_factory):
    """build -> update -> compact per identity kind, with the index as
    it stood after the update kept aside:

    - ``doc_id``: the update edits docs 0-4 and deletes doc 7 and every
      doc of shard 1 (a tombstone);
    - ``match_key``: identity by ``path``; the update edits docs 0-4,
      deletes doc 7 and re-keys docs 300-309 to new external ids with
      unchanged content (they keep their stored doc_ids, so shard 2
      is not rebuilt)."""
    from idzebra_spark.operators.segment import (
        build_index, compact_index, update_index)

    base = tmp_path_factory.mktemp("update_commit")
    corpus = _corpus(spark)
    out = {}
    for kind in GOLDEN:
        path, updated = str(base / kind), str(base / f"{kind}_updated")
        if kind == "doc_id":
            kw, src = KW, corpus.drop("path")
            new = _edited(src).where(
                ~F.col("doc_id").between(SHARD1[0], SHARD1[-1]))
        else:
            kw, src = dict(KW, match_cols=["path"]), corpus
            new = _edited(src).withColumn(
                "doc_id", F.when(F.col("doc_id").between(300, 309),
                                 F.col("doc_id") + 10000)
                .otherwise(F.col("doc_id")))
        m = {"build": build_index(spark, src, path, **kw),
             "update": update_index(spark, new, path, **kw)}
        shutil.copytree(path, updated)
        m["compact"] = compact_index(spark, path)
        m["lineage"] = _lineage(spark, path)
        out[kind] = (m, updated)
    return out


@pytest.mark.parametrize("kind", sorted(GOLDEN))
def test_lineage_and_metrics_golden(waves, kind):
    """The metrics dicts of build, update and compact, and every
    lineage row they commit, equal the recorded values."""
    m, _ = waves[kind]
    assert m == GOLDEN[kind]


def test_update_tombstones_a_fully_deleted_shard(spark, waves):
    """An update that deletes every doc of shard 1 commits the lineage
    row (shard=1, docs_indexed=0) under its batch; on a fresh handle N
    drops by that shard's 128 docs (and doc 7), and no search returns
    a deleted doc."""
    from idzebra_spark.api import ZebraSpark

    m, path = waves["doc_id"]
    rows = [r for r in _lineage(spark, path)
            if r[0] == m["update"]["batch"]]
    assert ("b00001", 1, 1, 0, 0, 0) in rows
    zs = ZebraSpark(spark, path, text_col="content")
    assert zs.index.stats()[0] == 600 - len(SHARD1) - 1
    gone = {7, *SHARD1}
    # each deleted doc's own number term (its sym_<id>_<j> tokens), and
    # terms common enough to rank every live doc
    queries = {str(d): str(d) for d in sorted(gone)}
    queries.update(common="int OR return OR if OR class OR import",
                   fielded="lang:c OR lang:py OR lang:java OR lang:go")
    hits = zs.search_many(queries, k=600).collect()
    assert {r["query_id"] for r in hits} >= {"common", "fielded"}
    assert not gone & {r["doc_id"] for r in hits}
    assert not gone & {r["doc_id"] for r in
                       zs.search("sym OR zzqmarker", k=600).collect()}
