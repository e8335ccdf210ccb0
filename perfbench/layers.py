"""Per-layer metrics of the traced run.

:func:`probes` runs the traced-only work: the operations a workload
does not do itself (so every layer is measured on every workload), the
empty-kernel floor probe, the tokenizer and codec probes and the
tracing-overhead A/B. :func:`per_layer` turns spans, the event log and
the status-tracker snapshot into the metrics listed in
``perfbench/manifest.json``, each of which names the end-to-end metric
it should move.
"""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd
from pyspark.sql import functions as F

from idzebra_spark.api import ZebraSpark
from idzebra_spark.functions.codec import varint_decode, varint_encode_offsets
from idzebra_spark.functions.tokenizer import tokenize_array
from idzebra_spark.operators.wand import TOPK_SCHEMA

from perfbench import gen
from perfbench import trace as tr
from perfbench import workloads as wl

OPS = ("build", "update", "compact", "open", "search", "search_many")
SPARK_FIELDS = {"jobs": "count", "stages": "count", "tasks": "count",
                "failed_tasks": "count", "task_s": "s", "idle_core_s": "s",
                "shuffle_mb": "MB", "spill_mb": "MB"}
TABLES = ("blocks", "dictionary", "norms", "doc_meta", "lineage")
FLOOR_PROBES = 3
OVERHEAD_PAIRS = 3


def _empty_kernel(blocks: pd.DataFrame, norms: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({c: [] for c in TOPK_SCHEMA.fieldNames()})


def _floor(run, zs: ZebraSpark, q: gen.Query) -> tuple[float, int]:
    """The cogroup a flat query runs, with an empty kernel: the Spark
    job, Arrow transfer and Python-worker floor under the scorer.
    Returns (seconds, postings the real kernel would decode)."""
    idx = zs.index
    terms = sorted(set(q.terms) | set(q.not_terms))
    blk = idx.blocks.where(F.col("term").isin(terms))
    with run.rec.span("probe.floor"):
        t0 = time.perf_counter()
        (blk.groupBy("shard").cogroup(idx.norms.groupBy("shard"))
         .applyInPandas(_empty_kernel, TOPK_SCHEMA).collect())
        dt = time.perf_counter() - t0
    postings = blk.agg(F.sum("n_docs")).collect()[0][0] or 0
    return dt, int(postings)


def _tokenizer(run, corpus) -> tuple[float, int]:
    """Median of three noop-sink writes of ``tokenize_array`` over the
    cached corpus, and the token count."""
    times = []
    for _ in range(3):
        with run.rec.span("probe.tokenize"):
            t0 = time.perf_counter()
            corpus.select(tokenize_array(F.col("content")).alias("t")) \
                .write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
    tokens = corpus.agg(F.sum(F.size(tokenize_array(F.col("content"))))) \
        .collect()[0][0]
    return statistics.median(times), int(tokens)


def _codec(zs: ZebraSpark) -> tuple[float, float]:
    """Decode and encode MB/s of the varint codec, block by block, on
    the docid and tf payloads of the head terms' blocks read back from
    the built index."""
    rows = zs.index.blocks.where(F.col("term").isin(list(gen.VOCAB[:18]))) \
        .select("docids_bin", "tfs_bin").collect()
    bufs = [bytes(b) for r in rows for b in r if b]
    total = sum(len(b) for b in bufs)
    t0 = time.perf_counter()
    arrays = [varint_decode(b) for b in bufs]
    dec = time.perf_counter() - t0
    t0 = time.perf_counter()
    out = sum(len(varint_encode_offsets(a)[0]) for a in arrays)
    enc = time.perf_counter() - t0
    if out != total:
        raise RuntimeError(f"codec round trip changed {total} B to {out} B")
    return total / 1e6 / dec, total / 1e6 / enc


def _overhead(run, zs: ZebraSpark) -> float:
    """Traced vs untraced wall of the same single searches, in
    alternating order, in this process (the event log is on for both).
    Each query runs once first, so both arms see the handle's memos
    already filled."""
    qs = gen.queries(wl.QUERY_SEED, "overhead", OVERHEAD_PAIRS,
                     gen.CORPUS_DOCS)
    on, off = [], []
    run.rec.enabled = False
    for q in qs:
        zs.search(q.text, wl.K).collect()
    for i, q in enumerate(qs):
        for traced in ((False, True) if i % 2 == 0 else (True, False)):
            run.rec.enabled = traced
            t0 = time.perf_counter()
            zs.search(q.text, wl.K).collect()
            (on if traced else off).append(time.perf_counter() - t0)
    run.rec.enabled = True
    return statistics.median(on) / statistics.median(off) - 1


def probes(run, workload: str) -> dict:
    out: dict = {}
    if workload == "serve":
        # serve never writes after set-up: one wave here measures the
        # update layers on this workload's index
        run.info.pop("handle").index.close()
        run.info["writer"] = ZebraSpark(run.spark, run.info["path"],
                                        text_col="content")
        state = gen.CorpusState(run.seed, gen.CORPUS_DOCS,
                                run.number_docs(run.info["corpus"]))
        last = wl.wave(run, run.info["writer"], run.info["corpus"],
                       gen.CORPUS_DOCS, state, 1)
        run.info.update(corpus=last["snapshot"], last_batch=last["batch"],
                        last_rows=last["rows"])
    out["compact_bytes"] = wl.compact_check(run)

    zs, _ = run.open(run.info["path"], cache_hot=workload == "serve")
    flat = [q for q in gen.queries(wl.QUERY_SEED, "probe", 20,
                                   gen.CORPUS_DOCS) if q.flat][:FLOOR_PROBES]
    floors, postings, results = [], 0, 0
    for q in flat:
        dt, p = _floor(run, zs, q)
        floors.append(dt)
        postings += p
        results += len(zs.search(q.text, wl.K).collect())
    out["floor_s"] = statistics.median(floors)
    out["postings_per_query"] = postings / len(flat)
    out["results_per_posting"] = results / max(postings, 1)
    out["blocks"] = zs.index.blocks.count()
    out["tokenize_s"], out["tokens"] = _tokenizer(run, run.info["corpus"])
    out["decode_mb_s"], out["encode_mb_s"] = _codec(zs)
    out["overhead"] = _overhead(run, zs)
    zs.index.close()
    return out


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _mean(xs, default=0.0):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else default


def per_layer(run, rec: tr.Recorder, log: dict, snapshot: dict,
              extra: dict, rss_peak: int) -> dict:
    spans = rec.spans
    own = tr.self_times(spans)
    by_id = {s.id: s for s in spans}
    cores = os.cpu_count() or 1
    stage_counts = {st["id"]: st for job in snapshot.values()
                    for st in job["stages"]}
    m: dict = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    def named(name):
        return [s for s in spans if s.name == name]

    def parent_name(s):
        return by_id[s.parent].name if s.parent is not None else None

    for op in OPS:
        rows = []
        for s in (s for s in spans if s.op == s.id and s.name == op):
            jobs = tr.jobs_in(s, log)
            stages = {st for j in jobs for st in log["jobs"][j]["stages"]
                      if stage_counts.get(st, {}).get("tasks", 0)
                      or stage_counts.get(st, {}).get("failed", 0)}
            task_s = sum(log["stages"].get(st, {}).get("run_s", 0.0)
                         for st in stages)
            rows.append({
                "jobs": len(jobs),
                "stages": len(stages),
                "tasks": sum(stage_counts[st]["tasks"] for st in stages),
                "failed_tasks": sum(stage_counts[st]["failed"]
                                    for st in stages),
                "task_s": task_s,
                "idle_core_s": s.dur * cores - task_s,
                "shuffle_mb": sum(log["stages"].get(st, {}).get(
                    "shuffle_b", 0) for st in stages) / 1e6,
                "spill_mb": sum(log["stages"].get(st, {}).get(
                    "spill_b", 0) for st in stages) / 1e6,
            })
        for f, unit in SPARK_FIELDS.items():
            put(f"spark.{op}.{f}", _mean(r[f] for r in rows), unit)

    put("query.parse_s", _median(s.dur for s in named("query.parse")), "s")
    put("wand.open_s", _median(s.dur for s in named("wand.open")), "s")
    lookups = named("wand.lookup")
    lookup_jobs = [len(tr.jobs_in(s, log)) for s in lookups]
    put("wand.lookup_s", _median(s.dur for s in lookups), "s")
    put("wand.lookup_jobs", _mean(lookup_jobs), "count")
    put("wand.term_memo_hit_ratio",
        _mean(1.0 if j == 0 else 0.0 for j in lookup_jobs), "ratio")
    expands = named("wand.expand")
    put("wand.expand_s", _median(s.dur for s in expands), "s")
    put("wand.expand_fanout", _mean(s.attrs.get("fanout", 0)
                                    for s in expands), "count")
    put("wand.plan_s", _median(own[s.id] for s in named("wand.plan")), "s")
    put("wand.collect_s", _median(s.dur for s in named("wand.collect")), "s")
    put("wand.floor_s", extra["floor_s"], "s")
    put("wand.postings_per_query", extra["postings_per_query"], "count")
    put("wand.results_per_posting", extra["results_per_posting"], "ratio")

    builds = [s for s in named("segment.build")
              if parent_name(s) != "segment.update"]
    rebuilds = [s for s in named("segment.build")
                if parent_name(s) == "segment.update"]
    updates = named("segment.update")
    put("segment.build_s", _median(s.dur for s in builds), "s")
    put("segment.postings", run.info["build_metrics"]["postings"], "count")
    put("segment.blocks", extra["blocks"], "count")
    for t in TABLES:
        put(f"segment.bytes.{t}", run.info["table_bytes"][t], "B")
    put("segment.update.diff_s", _median(own[s.id] for s in updates), "s")
    put("segment.update.rebuild_s", _median(s.dur for s in rebuilds), "s")
    put("segment.update.changed_shards",
        _mean(s.attrs.get("changed_shards", 0) for s in updates), "count")
    put("segment.update.write_amp", _mean(run.info.get("write_amp", [])),
        "ratio")
    put("segment.compact_s",
        _median(s.dur for s in named("segment.compact")), "s")
    put("segment.compact.bytes_rewritten", extra["compact_bytes"], "B")

    put("tokenizer.tokenize_s", extra["tokenize_s"], "s")
    put("tokenizer.tokens_per_s", extra["tokens"] / extra["tokenize_s"], "1/s")
    put("codec.decode_mb_per_s", extra["decode_mb_s"], "MB/s")
    put("codec.encode_mb_per_s", extra["encode_mb_s"], "MB/s")
    put("proc.peak_rss_mb", rss_peak / 1e6, "MB")
    put("trace.overhead_frac", extra["overhead"], "ratio")
    return m
