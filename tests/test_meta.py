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


def _edited(corpus):
    """The partial update's snapshot: doc 7 deleted, docs 0-4 edited
    (all in shard 0)."""
    return corpus.where(F.col("doc_id") != 7).withColumn(
        "content", F.when(F.col("doc_id") < 5,
                          F.concat("content", F.lit(" zzqmarker")))
        .otherwise(F.col("content")))


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
    update_index(spark, _edited(corpus), partial, **kw)
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


def _dictionary_rows(frame):
    return sorted(tuple(r) for r in
                  frame.select("term", "df", "cf", "max_tf").collect())


def _dictionary_state(idx):
    """The dictionary three ways: dictionary() rows, driver lookups of
    every term (and one absent), and driver prefix expansions."""
    rows = _dictionary_rows(idx.dictionary())
    terms = [r[0] for r in rows] + ["nosuchtokenanywhere"]
    return (rows, idx.meta.lookup(terms),
            [sorted(idx.meta.prefix(f, p, 10 ** 6)) for p, f in PREFIXES])


def _grep(idx, pat, field):
    from idzebra_spark.operators.wand import _pattern_cond

    cond = _pattern_cond(("prefix", pat, field, 1, None))
    return sorted(r["term"] for r in
                  idx.dictionary().where(cond).select("term").collect())


@pytest.mark.parametrize("name", ["fresh", "partial", "compacted", "multi"])
def test_reader_matches_spark_tables(spark, states, name):
    """dictionary() equals the live blocks' metadata summed per term,
    lookups equal dictionary() for every term, prefix expansions (body
    and fielded registers) equal a _pattern_cond grep, and stats()
    equals the norms aggregate."""
    idx = _open(spark, states, name)
    assert _dictionary_rows(idx.dictionary()) == _dictionary_rows(
        idx.blocks.groupBy("term").agg(
            F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("cf"),
            F.max("max_tf").alias("max_tf")))
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


@pytest.mark.parametrize("name", ["fresh", "partial"])
def test_fresh_handle_topk_runs_no_broadcast_job(spark, states, name):
    """A fresh handle selects the live rows of blocks and norms with a
    predicate built on the driver, not a semi-join to a broadcast local
    frame, so its first top-k runs at most 5 Spark jobs (the semi-join
    cost a sixth) and still returns the brute-force rows of the index's
    snapshot."""
    from idzebra_spark.operators.bruteforce import bm25_topk
    from idzebra_spark.operators.wand import SegmentIndex

    terms = ["zzqmarker", "sort"]
    n, got = _jobs(spark, lambda: [
        (r.doc_id, r.score_milli) for r in
        SegmentIndex(spark, states[name]).topk(terms, 5).collect()])
    assert n <= 5, n
    corpus = _corpus(spark)
    snapshot = corpus if name == "fresh" else _edited(corpus)
    assert got == [(r.doc_id, r.score_milli) for r in bm25_topk(
        snapshot, terms, 5, text_col="content").collect()]


def _plan_and_rows(df):
    return (df._jdf.queryExecution().optimizedPlan().toString(),
            [(r.doc_id, r.score_milli) for r in df.collect()])


@pytest.mark.parametrize("name", ["fresh", "partial"])
def test_fresh_handle_topk_reads_driver_planned_shards(spark, states, name):
    """The dictionary lookup names the live shards that hold the query
    terms, and the norms are read through a driver-built ``shard IN``
    filter instead of a semi-join to the blocks' distinct shards: a
    fresh handle's first top-k runs at most 3 Spark jobs (5 with the
    semi-join), its plan holds no semi-join and no aggregate on
    ``shard``, and it returns the brute-force rows of the snapshot."""
    import re

    from idzebra_spark.operators.bruteforce import bm25_topk
    from idzebra_spark.operators.wand import SegmentIndex

    terms = ["zzqmarker", "sort"]
    n, (plan, got) = _jobs(spark, lambda: _plan_and_rows(
        SegmentIndex(spark, states[name]).topk(terms, 5)))
    assert n <= 3, n
    assert "LeftSemi" not in plan, plan
    assert not re.search(r"Aggregate \[shard", plan), plan
    corpus = _corpus(spark)
    snapshot = corpus if name == "fresh" else _edited(corpus)
    assert got == [(r.doc_id, r.score_milli) for r in bm25_topk(
        snapshot, terms, 5, text_col="content").collect()]


def test_open_and_topk_build_no_shard_batch_frame(spark, states):
    """Opening a handle and running a top-k build no Spark frame of
    the live (shard, batch) pairs: ``shard_batch`` is built on first
    use only."""
    from idzebra_spark.operators.wand import SegmentIndex

    idx = SegmentIndex(spark, states["partial"])
    idx.topk(["zzqmarker", "sort"], 5).collect()
    assert "shard_batch" not in idx.meta.__dict__


def _jobs_and_stages(spark, fn):
    """(Spark jobs, stages of those jobs that ran a task) ``fn`` ran;
    a stage whose output a cache or shuffle already holds is skipped
    and not counted."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"t_meta-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "t_meta")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = tracker.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    return len(jobs), sum(1 for s in stages
                          if tracker.getStageInfo(s) is not None
                          and tracker.getStageInfo(s).numCompletedTasks)


@pytest.mark.parametrize("query", ["zzqmarker", "sort"])
def test_cache_hot_search_is_one_stage(spark, states, query):
    """On a cache_hot handle the shard filter is applied to the pinned
    frames, which keeps their hash partitioning: a single search, on
    a term one shard holds or on one every shard holds, is one job of
    one stage (no exchange)."""
    from idzebra_spark.api import ZebraSpark

    zs = ZebraSpark(spark, states["partial"], text_col="content",
                    cache_hot=True)
    want = [tuple(r) for r in zs.search(query, 5).collect()]  # fills
    assert _jobs_and_stages(spark, lambda: zs.search(query, 5).collect()) \
        == (1, 1)
    assert [tuple(r) for r in zs.search(query, 5).collect()] == want


# on the 5-shard fixture: zzqmarker lives in shard 0 of the partial
# index, "185" in shards 1 and 3, "198" in shards 0 and 1
PLANNED_TREES = {
    "rare": ("term", "zzqmarker"),
    "prefix": ("or", [("term", "zzqmarker"), ("prefix", "185")]),
    "suffix": ("or", [("suffix", "marker"), ("suffix", "198")]),
    "broad": ("or", [("term", "sort"), ("term", "return")]),
}


def _tree_rows(idx, trees, k=50):
    single = {q: sorted(tuple(r) for r in idx.search_tree(t, k).collect())
              for q, t in trees.items()}
    batch = {q: [] for q in trees}
    for r in idx.search_tree_many(trees, k).collect():
        batch[r.query_id].append((r.doc_id, r.score_milli))
    return single, {q: sorted(v) for q, v in batch.items()}


@pytest.mark.parametrize("name", ["partial", "multi"])
def test_planned_shards_keep_every_row(spark, states, name, monkeypatch):
    """A rare term that lives in one shard, and prefix and suffix
    queries whose terms live in some shards but not all, on a fresh
    handle over a partly-live index and over a two-member
    ``open_databases`` handle: single and batched rows equal the
    cache_hot handle's and those of the same plan with no shard
    filter, and the rare term's rows equal the brute-force top-k."""
    from idzebra_spark.operators.bruteforce import bm25_topk
    from idzebra_spark.operators.multidb import open_databases
    from idzebra_spark.operators.wand import SegmentIndex

    paths = [states["fresh"], states["partial"]]

    def handle(cache_hot=False):
        if name == "multi":
            return open_databases(spark, paths, cache_hot=cache_hot)
        return SegmentIndex(spark, states[name], cache_hot=cache_hot)

    idx = handle()
    located = idx.meta.locate(["zzqmarker", "185", "198"])
    assert [len(located[t]["shards"]) for t in ("zzqmarker", "185", "198")] \
        == ([1, 2, 2] if name == "partial" else [1, 4, 4])
    single, batch = _tree_rows(idx, PLANNED_TREES)
    assert single == batch
    assert len(single["rare"]) == 5
    assert len(single["prefix"]) > 5 and len(single["suffix"]) > 5
    hot = handle(cache_hot=True)
    assert _tree_rows(hot, PLANNED_TREES) == (single, batch)
    hot.close()
    monkeypatch.setattr(SegmentIndex, "_in_shards",
                        lambda self, df, shards: df)
    assert _tree_rows(handle(), PLANNED_TREES) == (single, batch)
    if name == "partial":
        want = [(r.doc_id, r.score_milli) for r in bm25_topk(
            _edited(_corpus(spark)), ["zzqmarker"], 5,
            text_col="content").collect()]
        assert single["rare"] == sorted(want)


def test_dictionary_exact_after_two_partial_updates(spark, tmp_path,
                                                    monkeypatch):
    """Build, update one of 10 shards, then update that shard and one
    other: the second update lowers the top tf of one term and deletes
    the only doc holding another. dictionary(), lookups and prefixes
    then equal, in every column, both a fresh rebuild of the same
    snapshot and the compacted index, and the lookups and prefixes
    open no blocks file."""
    from idzebra_spark.meta import IndexMeta
    from idzebra_spark.operators.segment import (
        build_index, compact_index, update_index)
    from idzebra_spark.operators.wand import SegmentIndex

    kw = dict(text_col="content", shard_size=64, block_size=32,
              fields={"p": ["lang"]})
    corpus = _corpus(spark)

    def edit(df, extra):
        c = F.col("content")
        for doc, words in extra.items():
            c = F.when(F.col("doc_id") == doc,
                       F.concat("content", F.lit(words))).otherwise(c)
        return df.withColumn("content", c)

    path, rebuilt, compacted = (str(tmp_path / n) for n in
                                ("idx", "rebuilt", "compacted"))
    build_index(spark, corpus, path, **kw)
    # shard 2 only
    update_index(spark, edit(corpus, {130: " zzqtop zzqtop zzqtop",
                                      131: " zzqlone", 140: " zzqtop"}),
                 path, **kw)
    before = IndexMeta(spark, path).lookup(["zzqtop", "zzqlone"])
    assert before["zzqtop"]["max_tf"] == 3
    assert before["zzqlone"]["df"] == 1
    # shard 2 again (doc 130 loses its repeats, doc 131 is deleted) and
    # shard 5 (doc 330 gains the term)
    snapshot = edit(corpus.where(F.col("doc_id") != 131),
                    {140: " zzqtop", 330: " zzqtop"})
    assert update_index(spark, snapshot, path, **kw)["changed_shards"] == 2
    build_index(spark, snapshot, rebuilt, **kw)
    shutil.copytree(path, compacted)
    compact_index(spark, compacted)

    want = _dictionary_state(SegmentIndex(spark, rebuilt))
    assert _dictionary_state(SegmentIndex(spark, compacted)) == want
    idx = SegmentIndex(spark, path)
    assert _dictionary_state(idx) == want
    after = idx.meta.lookup(["zzqtop", "zzqlone"])
    assert after == {"zzqtop": {"df": 2, "cf": 2, "max_tf": 1}}

    opened = []
    real = IndexMeta._files

    def spy(self, table, batches):
        opened.append(table)
        return real(self, table, batches)

    monkeypatch.setattr(IndexMeta, "_files", spy)
    m = IndexMeta(spark, path)
    opened.clear()
    m.lookup(["zzqtop", "block"])
    m.prefix(None, "zzq", 10)
    m.prefix("lang", "p", 10)
    assert set(opened) == {"dictionary"}, opened


def test_repeated_reads_open_no_footer(spark, states, tmp_path,
                                       monkeypatch):
    """A handle lists each live batch directory and opens each file
    footer once: a second locate, prefix and totals on the same
    IndexMeta make no parquet fragment and return the same rows. A
    handle opened after an update reads the new batch; the older
    handle keeps its snapshot."""
    from idzebra_spark import meta
    from idzebra_spark.operators.segment import update_index

    path = str(tmp_path / "memo")
    shutil.copytree(states["partial"], path)
    made = []
    real = meta._PARQUET

    class Spy:
        def make_fragment(self, *a, **kw):
            made.append(a[0])
            return real.make_fragment(*a, **kw)

    monkeypatch.setattr(meta, "_PARQUET", Spy())

    def reads(m):
        return (m.locate(["zzqmarker", "block", "zzqfresh"]),
                m.prefix(None, "zzq", 100), m.totals())

    old = meta.IndexMeta(spark, path)
    first = reads(old)
    assert any("/dictionary/" in f for f in made)
    assert any("/norms/" in f for f in made)
    made.clear()
    assert reads(old) == first and made == []

    corpus = _edited(_corpus(spark))
    update_index(spark, corpus.withColumn("content", F.when(
        F.col("doc_id") == 300, F.concat("content", F.lit(" zzqfresh")))
        .otherwise(F.col("content"))), path, text_col="content",
        shard_size=128, block_size=64, fields={"p": ["lang"]})
    new = meta.IndexMeta(spark, path)
    assert len(set(new.batches) - set(old.batches)) == 1
    assert "zzqfresh" in new.locate(["zzqfresh"])
    assert "zzqfresh" in new.prefix(None, "zzq", 100)
    made.clear()
    assert reads(old) == first and made == []


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


def _check_one_row_group(spark, states, monkeypatch, name):
    from idzebra_spark import meta

    idx = _open(spark, states, name)
    frags = [f for b in idx.meta.batches for f in ds.dataset(
        f"{states[name]}/dictionary/batch={b}",
        format="parquet").get_fragments()]
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


def test_lookup_and_prefix_touch_one_row_group(spark, states, monkeypatch):
    """On a build's dictionary partial of >= 8 row groups, one exact
    term and one prefix each open exactly the one row group holding
    them, as pyarrow's own statistics pruning of `term == t` agrees."""
    _check_one_row_group(spark, states, monkeypatch, "fresh")


def test_compacted_lookup_and_prefix_touch_one_row_group(spark, states,
                                                         monkeypatch):
    """The same on a compaction's dictionary partial: it is written
    term-ordered too, so its row groups prune the same way."""
    _check_one_row_group(spark, states, monkeypatch, "compacted")


@pytest.mark.parametrize("name", ["fresh", "partial"])
def test_table_frames_run_no_job(spark, states, name):
    """Building the dictionary() and doc_meta() frames runs no Spark
    job (their schemas are known, so nothing is inferred), and the
    known doc_meta schema is the written one."""
    idx = _open(spark, states, name)
    n, (dictionary, doc_meta) = _jobs(
        spark, lambda: (idx.dictionary(), idx.doc_meta()))
    assert n == 0
    written = spark.read.parquet(f"{states[name]}/doc_meta")
    assert sorted((f.name, f.dataType) for f in doc_meta.schema) == \
        sorted((f.name, f.dataType) for f in written.schema)
    assert dictionary.columns == ["term", "df", "cf", "max_tf"]


def test_noop_resume_build_runs_few_jobs(spark, states, tmp_path):
    """Resuming a build whose shards are all done commits nothing and
    runs at most 3 Spark jobs: the live set and the next build_seq
    come from the driver-side lineage read, not from Spark jobs."""
    from idzebra_spark.operators.segment import build_index

    path = str(tmp_path / "resume")
    shutil.copytree(states["fresh"], path)
    corpus = _corpus(spark)
    n, m = _jobs(spark, lambda: build_index(
        spark, corpus, path, text_col="content", shard_size=128,
        block_size=64, fields={"p": ["lang"]}))
    assert m["batch"] is None and m["shards"] == 0
    assert n <= 3, n


def test_reader_never_requests_payload_columns(spark, states, monkeypatch):
    """Open, stats, lookups and prefix reads — of a fresh and of a
    partly-live index — read only lineage, norms and dictionary
    metadata columns, never the blocks table."""
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
    assert tables == {"lineage", "norms", "dictionary"}
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
                m.batches, m.totals(), m.lookup(terms),
                [sorted(m.prefix(f, p, 10000)) for p, f in PREFIXES])

    direct = {n: results(IndexMeta(spark, states[n])) for n in
              ("fresh", "partial", "compacted")}
    # the partly-live index and its compaction hold the same snapshot
    assert direct["partial"][2:] == direct["compacted"][2:]

    class NoFS:
        @staticmethod
        def from_uri(uri):
            raise OSError(f"no filesystem for {uri}")

    monkeypatch.setattr(pyarrow.fs, "FileSystem", NoFS)
    for name, want in direct.items():
        m = IndexMeta(spark, states[name])
        assert m._fs is None
        assert results(m) == want, name
