"""The driver-side metadata reader (``idzebra_spark.meta``): it must
give the rows the Spark tables give, in every index state, while
running no Spark job and reading no posting payload."""

from __future__ import annotations

import shutil

import pyarrow.compute as pc
import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

from idzebra_spark.operators.boolean import FIELD_SEP

PAYLOAD = {"docids_bin", "tfs_bin", "pos_bin", "doclens_bin"}
PREFIXES = [("sh", None), ("12", None), ("s", None), ("re", None),
            ("zzq", None), ("p", "lang"), ("", "lang")]


def _corpus(spark):
    from idzebra_spark.sources.corpus import synth_source_files

    return synth_source_files(spark, 600, seed=11).select(
        "doc_id", "content", "lang")


@pytest.fixture(scope="module")
def states(spark, tmp_path_factory):
    """Index paths per state: a fresh build, a partial update of it
    (one shard reindexed, so a live batch is only partly live), and
    that update compacted."""
    from idzebra_spark.operators.segment import (
        build_index, compact_index, update_index)

    base = tmp_path_factory.mktemp("meta")
    fresh, partial, compacted = (str(base / n) for n in
                                 ("fresh", "partial", "compacted"))
    kw = dict(text_col="content", shard_size=128, block_size=64,
              fields={"p": ["lang"]})
    corpus = _corpus(spark)
    build_index(spark, corpus, fresh, **kw)
    shutil.copytree(fresh, partial)
    edited = corpus.where(F.col("doc_id") != 7).withColumn(
        "content", F.when(F.col("doc_id") < 5,
                          F.concat("content", F.lit(" zzqmarker")))
        .otherwise(F.col("content")))
    update_index(spark, edited, partial, **kw)
    shutil.copytree(partial, compacted)
    compact_index(spark, compacted)
    return {"fresh": fresh, "partial": partial, "compacted": compacted}


def _open(spark, states, name):
    from idzebra_spark.operators.multidb import MultiSegmentIndex
    from idzebra_spark.operators.wand import SegmentIndex

    if name == "multi":
        return MultiSegmentIndex(spark, [states["fresh"], states["partial"]])
    return SegmentIndex(spark, states[name])


def _jobs(spark, fn):
    """(Spark jobs ``fn`` ran, its result)."""
    import uuid

    sc = spark.sparkContext
    group = f"t_meta-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "t_meta")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _grep(idx, pat, field):
    from idzebra_spark.operators.wand import _pattern_cond

    cond = _pattern_cond(("prefix", pat, field, 1, None))
    return sorted(r["term"] for r in
                  idx.dictionary().where(cond).select("term").collect())


@pytest.mark.parametrize("name", ["fresh", "partial", "compacted", "multi"])
def test_reader_matches_spark_tables(spark, states, name):
    """Lookups equal dictionary() for every term, prefix expansions
    (body and fielded registers) equal a _pattern_cond grep, and
    stats() equals the norms aggregate."""
    idx = _open(spark, states, name)
    assert idx._has_reindex == (name in ("partial", "multi"))
    want = {r["term"]: {"df": r["df"], "cf": r["cf"], "max_tf": r["max_tf"]}
            for r in idx.dictionary().collect()}
    assert idx.meta.lookup(list(want) + ["nosuchtokenanywhere"]) == want
    for pat, field in PREFIXES:
        grep = _grep(idx, pat, field)
        assert sorted(idx.meta.prefix(field, pat, idx.MAX_EXPAND)) == grep
        assert idx.expand("prefix", pat, field=field) == grep
    assert _grep(idx, "p", "lang") == ["lang" + FIELD_SEP + "py"]
    n = idx.norms.agg(F.sum("n_docs").alias("n"),
                      F.sum("sum_dl").alias("s")).collect()[0]
    assert idx.stats() == (n["n"], n["s"] / n["n"])
    assert len(idx.meta.live) == idx.shard_batch.count()


def test_open_stats_and_lookup_run_no_job(spark, states):
    """A local-path open plus stats() runs no Spark job, and a flat
    search whose terms miss the memo runs as many jobs as the same
    search with a warm memo: the lookup is not a job."""
    from idzebra_spark.operators.wand import SegmentIndex

    for name in ("fresh", "partial"):
        n, idx = _jobs(spark, lambda: SegmentIndex(spark, states[name]))
        m, _ = _jobs(spark, idx.stats)
        assert (n, m) == (0, 0), name
        cold, _ = _jobs(spark, lambda: idx.topk(
            ["block", "return"], 5).collect())
        assert len(idx._term_memo) == 2
        warm, _ = _jobs(spark, lambda: idx.topk(
            ["block", "return"], 5).collect())
        assert cold == warm >= 1, name


def test_lookup_and_prefix_touch_one_row_group(spark, states, monkeypatch):
    """On a dictionary of >= 8 row groups, one exact term and one
    prefix each open exactly the one row group holding them, as
    pyarrow's own statistics pruning of `term == t` agrees."""
    from idzebra_spark import meta

    idx = _open(spark, states, "fresh")
    frags = list(ds.dataset(f"{states['fresh']}/dictionary",
                            format="parquet").get_fragments())
    assert sum(f.num_row_groups for f in frags) >= 8
    # a term from the middle of one row group, so it and its prefix
    # range lie inside that group
    rg = frags[3].split_by_row_group()[0]
    terms = sorted(rg.to_table(columns=["term"])["term"].to_pylist())
    t = terms[len(terms) // 2]

    def pyarrow_groups(expr):
        return sum(len(f.split_by_row_group(expr)) for f in frags)

    touched = []
    real = meta._touched_row_groups

    def spy(frag, spans):
        ids = real(frag, spans)
        touched.extend(ids)
        return ids

    monkeypatch.setattr(meta, "_touched_row_groups", spy)
    assert pyarrow_groups(pc.field("term") == t) == 1
    assert t in idx.meta.lookup([t]) and len(touched) == 1
    touched.clear()
    hi = meta._succ(t)
    assert pyarrow_groups((pc.field("term") >= t)
                          & (pc.field("term") < hi)) == 1
    assert t in idx.meta.prefix(None, t, idx.MAX_EXPAND)
    assert len(touched) == 1


def test_reader_never_requests_payload_columns(spark, states, monkeypatch):
    """Open, stats, lookups and prefix reads — over the partials and
    over the block metadata of a partly-live index — request only
    metadata columns."""
    from idzebra_spark.meta import IndexMeta

    requested = []
    real = IndexMeta._scan

    def spy(self, table, columns, *a, **kw):
        requested.append((table, tuple(columns)))
        return real(self, table, columns, *a, **kw)

    monkeypatch.setattr(IndexMeta, "_scan", spy)
    for name in ("fresh", "partial"):
        idx = _open(spark, states, name)
        idx.stats()
        idx.resolve(["return", "block"], [("prefix", "sh", None, 1, None)])
    tables = {t for t, _ in requested}
    assert {"lineage", "norms", "dictionary", "blocks"} <= tables
    assert not PAYLOAD & {c for _, cols in requested for c in cols}


def test_fallback_reads_the_same_rows(spark, states, monkeypatch):
    """When pyarrow cannot open the path, the reader gets the same
    rows from a Spark collect of the same columns and filter."""
    import pyarrow.fs

    from idzebra_spark.meta import IndexMeta

    def results(m):
        terms = ["return", "block", "zzqmarker", "nosuchtoken",
                 "lang" + FIELD_SEP + "go"]
        return (m.live.sort_values(["shard", "batch"]).values.tolist(),
                m.batches, m.has_reindex, m.totals(), m.lookup(terms),
                [sorted(m.prefix(f, p, 10000)) for p, f in PREFIXES])

    direct = {n: results(IndexMeta(spark, states[n])) for n in
              ("fresh", "partial")}

    class NoFS:
        @staticmethod
        def from_uri(uri):
            raise OSError(f"no filesystem for {uri}")

    monkeypatch.setattr(pyarrow.fs, "FileSystem", NoFS)
    for name, want in direct.items():
        m = IndexMeta(spark, states[name])
        assert m._fs is None
        assert results(m) == want, name
