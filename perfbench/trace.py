"""Outside-in tracing for the traced run, plus the statistics helpers.

Nothing in ``idzebra_spark`` is instrumented. :func:`install` wraps the
engine's public calls (the facade, ``segment``'s build/update/compact,
``SegmentIndex`` methods, ``plans.query.parse``) from here, and the
Spark side comes from the status tracker (jobs, stages, task counts)
and from an event log that only the traced run enables (task time,
shuffle and spill). Spans are kept in memory and written out at the
end.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field

# ---------------------------------------------------------------- stats

PERCENTILE_LADDER = (50, 75, 90, 95, 99, 99.9)


def tail_percentile(n: int) -> float | None:
    """The highest percentile on the ladder with at least ten of ``n``
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in PERCENTILE_LADDER:
        if n * (100 - p) / 100 >= 10 - 1e-9:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(p/100 * n))."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def summary(values: list[float]) -> dict:
    """Median, the rule's tail percentile (if any) and sample count."""
    out = {"n": len(values), "median": statistics.median(values)}
    p = tail_percentile(len(values))
    if p is not None and p > 50:
        out[f"p{p:g}"] = percentile(values, p)
    return out


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float          # perf_counter seconds
    wall_start: float     # epoch seconds, for event-log attribution
    end: float = 0.0
    wall_end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its children (overlapping children count
    once, and a child running past its parent is clipped)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.dur - covered
    return out


class Recorder:
    """In-memory span recorder. ``enabled`` off makes every wrapper a
    plain call, which is how the overhead A/B runs untraced calls in
    the traced process."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = True
        self._stack: list[Span] = []   # one client thread opens spans

    def start(self, name: str, op: bool = False) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, parent.id if parent else None,
                 sid if op else (parent.op if parent else None),
                 time.perf_counter(), time.time())
        self.spans.append(s)
        self._stack.append(s)
        return s

    def finish(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        s.wall_end = time.time()
        if self._stack and self._stack[-1] is s:
            self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, op: bool = False):
        """A span around a block; ``op=True`` starts a new operation."""
        s = self.start(name, op)
        try:
            yield s
        finally:
            self.finish(s)

    def write(self, path: str, metrics: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "metrics": metrics}, f, indent=1)


def _wrap(rec: Recorder, name: str, fn, attrs_fn=None):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        s = rec.start(name)
        try:
            out = fn(*a, **kw)
            if s is not None and attrs_fn is not None:
                s.attrs.update(attrs_fn(a, kw, out))
            return out
        finally:
            rec.finish(s)
    return wrapper


def install(rec: Recorder) -> None:
    """Wrap the engine's public calls in spans. ``api`` imported its
    segment functions and ``parse`` by name, so both bindings are
    wrapped; ``update_index`` reaches ``build_index`` through the
    ``segment`` module, so its nested rebuild is a child span. Each
    function is wrapped once and both bindings get that one wrapper, so
    a call makes one span."""
    from idzebra_spark import api
    from idzebra_spark.operators import segment, wand

    build = _wrap(rec, "segment.build", segment.build_index)
    update = _wrap(
        rec, "segment.update", segment.update_index,
        lambda a, kw, out: {"changed_shards": out.get("changed_shards")})
    compact = _wrap(rec, "segment.compact", segment.compact_index)
    for owner in (segment, api):
        owner.build_index = build
        owner.update_index = update
        owner.compact_index = compact
    api.parse = _wrap(rec, "query.parse", api.parse)
    api.ZebraSpark.search = _wrap(rec, "api.search", api.ZebraSpark.search)
    api.ZebraSpark.search_many = _wrap(rec, "api.search_many",
                                       api.ZebraSpark.search_many)
    SI = wand.SegmentIndex
    SI.__init__ = _wrap(rec, "wand.open", SI.__init__)
    SI.stats = _wrap(rec, "wand.stats", SI.stats)
    SI.lookup_terms = _wrap(rec, "wand.lookup", SI.lookup_terms)
    SI.expand = _wrap(rec, "wand.expand", SI.expand,
                      lambda a, kw, out: {"fanout": len(out)})
    for m in ("topk", "topk_many", "search_tree", "search_tree_many"):
        setattr(SI, m, _wrap(rec, "wand.plan", getattr(SI, m)))


# ------------------------------------------------------- process memory


class RssSampler:
    """Samples the resident set of this process and all its descendants
    (the JVM and its Python workers) from /proc, keeping the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_rss(root: int) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        page = os.sysconf("SC_PAGE_SIZE")
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{d}/statm") as f:
                    resident = int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
            rss[int(d)] = resident * page
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        return total

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


# --------------------------------------------------------- Spark side


def job_snapshot(sc) -> dict[int, dict]:
    """Status-tracker view of every retained job: its stages and their
    task counts. Call before the context stops."""
    st = sc.statusTracker()
    out = {}
    for jid in st.getJobIdsForGroup(None):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        stages = []
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                stages.append({"id": sid, "tasks": si.numCompletedTasks,
                               "failed": si.numFailedTasks})
        out[jid] = {"stages": stages}
    return out


def read_event_log(path: str) -> dict:
    """Per-job submission time and per-stage task totals from a Spark
    event log: executor run time, shuffle read+write bytes, spill."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"submit": ev["Submission Time"] / 1000,
                                      "stages": ev["Stage IDs"]}
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], {
                    "run_s": 0.0, "shuffle_b": 0, "spill_b": 0})
                st["run_s"] += m.get("Executor Run Time", 0) / 1000
                st["shuffle_b"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0)
                                    + sw.get("Shuffle Bytes Written", 0))
                st["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0))
    return {"jobs": jobs, "stages": stages}


def jobs_in(span: Span, log: dict) -> list[int]:
    """Jobs submitted inside the span's wall interval. The benchmark runs
    one client thread, so every job submitted then belongs to it."""
    return [j for j, info in log["jobs"].items()
            if span.wall_start - 0.001 <= info["submit"] <= span.wall_end + 0.001]
