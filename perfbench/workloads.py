"""The two workloads and the output checks that feed ``failed``.

Both are closed loops with one client: a library caller waits for each
reply before it sends the next call.

* ``ingest``: a cold build, then update waves (each appends ~1% new
  docs, edits ~16 scattered docs with a marker token and deletes ~4),
  each followed by a fresh handle that searches for the marker and runs
  generated queries over the multi-batch index. The traced run ends
  with a ``compact`` (:func:`compact_check`).
* ``serve``: a cold build and a warmed ``cache_hot`` handle, then
  single ``search`` calls for the window and one 256-query
  ``search_many`` call.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idzebra_spark.api import ZebraSpark
from idzebra_spark.operators.bruteforce import bm25_topk
from idzebra_spark.sources.corpus import synth_source_files

from perfbench import gen

T_START = time.perf_counter()
K = 10
BATCH = 256           # serve: queries per search_many call
WAVE_SINGLES = 12     # ingest: timed single queries per wave
WAVE_BATCH = 16       # ingest: queries per post-wave search_many call
# Every query stream is drawn with one fixed generator seed; the run
# seed drives the corpus, the update waves and their markers. A run
# measures a handful of searches and one or two batches, and a batch's
# cost follows how many distinct wildcards it holds, so queries drawn
# from the run seed would make a run's medians follow the terms drawn
# rather than the engine.
QUERY_SEED = 0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.startswith("_"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def rows_of(df: DataFrame, rec) -> list[tuple]:
    with rec.span("wand.collect"):
        return [tuple(r) for r in df.collect()]


class Run:
    """State shared by a workload run: session, recorder, counters."""

    def __init__(self, spark, work: str, seed: int, seconds: float, rec):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.rec = rec
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.info: dict = {}

    # ---------------------------------------------------- bookkeeping

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def op(self, name: str, fn):
        """Run one engine operation as a top-level span. An exception
        counts as a failed operation and returns None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.rec.span(name, op=True):
                out = fn()
            print(f"perfbench: {name} {time.perf_counter() - t0:.2f}s "
                  f"(at {time.perf_counter() - T_START:.1f}s)",
                  file=sys.stderr, flush=True)
            return out
        except Exception:
            traceback.print_exc()
            self.fail(f"{name} raised")
            return None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.fail(what)

    # ------------------------------------------------------- inputs

    def corpus(self, n: int) -> DataFrame:
        """Generate and cache the seeded corpus."""
        t0 = time.perf_counter()
        df = synth_source_files(self.spark, n, self.seed).select(
            "doc_id", "content").cache()
        df.count()
        self.sample("corpus_s", time.perf_counter() - t0)
        return df

    def snapshot(self, base: DataFrame, n_base: int,
                 state: gen.CorpusState) -> DataFrame:
        """The corpus after the waves planned so far, cached: the cached
        base corpus plus the generator's rows for the appended ids."""
        new = synth_source_files(self.spark, state.n_rows, self.seed).select(
            "doc_id", "content").where(F.col("doc_id") >= n_base)
        base = base.unionByName(new)
        if state.suffix:
            edits = self.spark.createDataFrame(
                sorted(state.suffix.items()), "doc_id long, suffix string")
            base = base.join(F.broadcast(edits), "doc_id", "left").select(
                "doc_id",
                F.concat_ws(" ", "content", "suffix").alias("content"))
        if state.deleted:
            base = base.where(~F.col("doc_id").isin(sorted(state.deleted)))
        snap = base.cache()
        snap.count()
        return snap

    def number_docs(self, corpus: DataFrame) -> frozenset[int]:
        """Ids >= RARE_MIN whose content holds their own doc-number
        term (``sym_<id>_<j>``), so only that doc matches it."""
        tag = F.concat(F.lit("sym_"), F.col("doc_id").cast("string"),
                       F.lit("_"))
        rows = corpus.where((F.col("doc_id") >= gen.RARE_MIN)
                            & F.col("content").contains(tag)) \
            .select("doc_id").collect()
        return frozenset(r[0] for r in rows)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    # ------------------------------------------------------- checks

    def check_build(self, m: dict | None, corpus: DataFrame, n: int,
                    path: str) -> None:
        """docs == rows and doc_meta's sha256 equals sha2(content) for
        every row (the per-row content invariant)."""
        if m is None:
            return
        self.check(m.get("docs") == n, f"build docs {m.get('docs')} != {n}")
        zs = ZebraSpark(self.spark, path, text_col="content")
        meta = zs.index.doc_meta().select("doc_id", "sha256")
        want = corpus.select("doc_id", F.sha2("content", 256).alias("want"))
        r = meta.join(want, "doc_id", "full_outer").agg(
            F.count("*").alias("rows"),
            F.sum(F.when(F.col("sha256").eqNullSafe(F.col("want")), 0)
                  .otherwise(1)).alias("bad")).collect()[0]
        zs.index.close()
        self.check(r["rows"] == n and r["bad"] == 0,
                   f"doc_meta sha256: {r['bad']} of {r['rows']} rows differ")

    def check_oracle(self, corpus: DataFrame, q: gen.Query,
                     got: list[tuple] | None) -> None:
        """A flat query's rows must be rank-identical to the brute-force
        DataFrame BM25 over the same corpus snapshot."""
        if got is None:
            return
        want = [tuple(r) for r in bm25_topk(
            corpus, list(q.terms), K, q.mode, text_col="content",
            id_col="doc_id", not_terms=list(q.not_terms) or None).collect()]
        self.check(got == want, f"oracle mismatch for {q.text!r}")

    def check_batch(self, batch_rows: list[tuple] | None,
                    singles: dict[str, list[tuple]]) -> None:
        """search_many rows for a query equal single search rows."""
        if batch_rows is None:
            return
        by_q: dict[str, list[tuple]] = {}
        for qid, doc, score in batch_rows:
            by_q.setdefault(qid, []).append((doc, score))
        for qid, want in singles.items():
            got = sorted(by_q.get(qid, []), key=lambda r: (-r[1], r[0]))
            self.check(got == want, f"search_many != search for query {qid}")

    # ------------------------------------------------------- queries

    def search(self, zs: ZebraSpark, text: str, k: int = K):
        t0 = time.perf_counter()
        rows = self.op("search", lambda: rows_of(zs.search(text, k), self.rec))
        return rows, time.perf_counter() - t0

    def search_many(self, zs: ZebraSpark, qs: dict[str, str]):
        t0 = time.perf_counter()
        rows = self.op("search_many",
                       lambda: rows_of(zs.search_many(qs, K), self.rec))
        return rows, time.perf_counter() - t0

    def open(self, path: str, cache_hot: bool) -> tuple[ZebraSpark, float]:
        """A fresh handle; cache_hot handles are warmed (stats and the
        pinned blocks/norms filled)."""
        t0 = time.perf_counter()

        def go():
            zs = ZebraSpark(self.spark, path, text_col="content",
                            cache_hot=cache_hot)
            idx = zs.index
            if cache_hot:
                idx.stats()
                idx.blocks.count()
                idx.norms.count()
            return zs
        zs = self.op("open", go)
        return zs, time.perf_counter() - t0

    def build(self, path: str, corpus: DataFrame) -> dict:
        """The first build, in the fresh JVM (build_cold_s)."""
        t0 = time.perf_counter()
        m = self.op("build", lambda: ZebraSpark(
            self.spark, path, text_col="content").build(corpus))
        self.sample("build_cold_s", time.perf_counter() - t0)
        if m is None:
            raise RuntimeError("first build failed")
        self.info["build_metrics"] = m
        return m

    def index_size(self, path: str, corpus: DataFrame) -> None:
        """On-disk bytes per table and per byte of source content."""
        self.info["table_bytes"] = {
            t: dir_bytes(os.path.join(path, t)) for t in os.listdir(path)}
        source_bytes = corpus.agg(F.sum(F.octet_length("content"))) \
            .collect()[0][0]
        self.sample("index_bytes_per_source_byte",
                    dir_bytes(path) / source_bytes)


# ------------------------------------------------------------- serve


def serve(run: Run) -> dict:
    n = gen.CORPUS_DOCS
    corpus = run.corpus(n)
    path = run.path("serve")
    first = next(q for q in gen.queries(QUERY_SEED, "first", 50, n) if q.flat)

    # write-to-visible: build, open a warmed handle, first correct answer
    t0 = time.perf_counter()
    m = run.build(path, corpus)
    zs, run.info["open_s"] = run.open(path, cache_hot=True)
    first_rows, _ = run.search(zs, first.text)
    run.sample("write_visible_s", time.perf_counter() - t0)
    run.index_size(path, corpus)
    run.check_oracle(corpus, first, first_rows)
    run.check_build(m, corpus, n, path)

    # closed loop, one client: single searches for the window, then one
    # batch (a 256-query call takes most of a 10 s window on its own)
    singles: dict[str, list[tuple]] = {}
    stream = gen.query_stream(QUERY_SEED, "single", n)
    t_end = time.perf_counter() + run.seconds
    while time.perf_counter() < t_end or not singles:
        q = next(stream)
        rows, dt = run.search(zs, q.text)
        run.sample("search_s", dt)
        if rows is not None:
            singles[q.text] = [(d, s) for d, s in rows]
    texts = list(singles)[:BATCH // 4]
    batch_stream = gen.query_stream(QUERY_SEED, "batch", n)
    texts += [next(batch_stream).text for _ in range(BATCH - len(texts))]
    qs = {str(i): t for i, t in enumerate(texts)}
    rows, dt = run.search_many(zs, qs)
    run.sample("batch_qps", len(qs) / dt)
    run.check_batch(rows, {str(i): singles[t] for i, t in enumerate(texts)
                           if t in singles})
    run.info["handle"] = zs
    run.info["corpus"] = corpus
    run.info["path"] = path
    return m


# ------------------------------------------------------------- ingest


def wave(run: Run, writer: ZebraSpark, base: DataFrame, n_base: int,
         state: gen.CorpusState, number: int) -> dict:
    """One update wave and its reads on a fresh handle: the marker
    search (write-to-visible), timed single searches, one search_many,
    then a search for every deleted doc's own doc-number term, which
    must match nothing. ``base`` is the cached corpus of the first build
    (``n_base`` rows). Returns what the later checks need."""
    w = state.next_wave(number)
    snap = run.snapshot(base, n_base, state)
    n_changed = len(w.new_ids) + len(w.edited) + len(w.deleted)
    t0 = time.perf_counter()
    m = run.op("update", lambda: writer.update(snap))
    zs, _ = run.open(writer.path, cache_hot=False)
    want = w.expect_marker
    # the first search on the fresh handle also pays its lazy loading;
    # it is timed as write-to-visible only, not as a search
    marker_rows, _ = run.search(zs, w.marker, k=len(want) + 8)
    if marker_rows is not None:
        run.sample("write_visible_s", time.perf_counter() - t0)
        run.check({d for d, _ in marker_rows} == want,
                  f"wave {number}: marker {w.marker} not visible on the "
                  "expected docs")
    if m is not None:
        run.info.setdefault("write_amp", []).append(m["docs"] / n_changed)

    qs = gen.queries(QUERY_SEED, f"wave{number}", WAVE_BATCH, n_base)
    singles = {}
    for i, q in enumerate(qs[:WAVE_SINGLES]):
        rows, dt = run.search(zs, q.text)
        run.sample("search_s", dt)
        if rows is not None:
            singles[str(i)] = [(d, s) for d, s in rows]
    batch = {str(i): q.text for i, q in enumerate(qs)}
    rows, dt = run.search_many(zs, batch)
    run.sample("batch_qps", len(batch) / dt)
    run.check_batch(rows, singles)
    for d in sorted(state.deleted):
        gone, _ = run.search(zs, str(d))
        run.check(not gone, f"wave {number}: deleted doc {d} returned")
    zs.index.close()
    flat = next((i for i, q in enumerate(qs[:WAVE_SINGLES])
                 if q.flat and str(i) in singles), None)
    return {"snapshot": snap, "batch": batch, "rows": rows,
            "flat": None if flat is None else (qs[flat], singles[str(flat)])}


def ingest(run: Run) -> dict:
    n = gen.CORPUS_DOCS
    corpus = run.corpus(n)
    path = run.path("ingest")
    m = run.build(path, corpus)
    run.index_size(path, corpus)
    run.check_build(m, corpus, n, path)
    writer = ZebraSpark(run.spark, path, text_col="content")
    state = gen.CorpusState(run.seed, n, run.number_docs(corpus))

    # waves while the next one (as long as the last) fits the window;
    # the first always runs
    t_end = time.perf_counter() + run.seconds
    number, last, wave_s = 0, None, 0.0
    while number == 0 or time.perf_counter() + wave_s <= t_end:
        number += 1
        t0 = time.perf_counter()
        if last is not None:
            last["snapshot"].unpersist()
        last = wave(run, writer, corpus, n, state, number)
        wave_s = time.perf_counter() - t0
    if last["flat"] is not None:
        run.check_oracle(last["snapshot"], *last["flat"])
    run.info.update(corpus=last["snapshot"], path=path, waves=number,
                    writer=writer, last_batch=last["batch"],
                    last_rows=last["rows"])
    return m


def compact_check(run: Run) -> int:
    """Compact the index and check that the last wave's batch returns
    the same rows on a fresh handle. Returns the bytes the compaction
    wrote. (Traced runs only: compact moves no end-to-end metric.)"""
    path = run.info["path"]
    before = {t: dir_bytes(os.path.join(path, t)) for t in os.listdir(path)}
    if run.op("compact", run.info["writer"].compact) is None:
        return 0
    zs, _ = run.open(path, cache_hot=False)
    after, _ = run.search_many(zs, run.info["last_batch"])
    run.check(sorted(after or []) == sorted(run.info["last_rows"] or []),
              "results changed across compact")
    zs.index.close()
    return sum(dir_bytes(os.path.join(path, t)) - before.get(t, 0)
               for t in os.listdir(path))


WORKLOADS = {"ingest": ingest, "serve": serve}
