"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
from collections import Counter
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench import trace as tr  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
DELETABLE = frozenset(range(gen.RARE_MIN, 5000, 3))


def _load(name):
    with open(os.path.join(ROOT, name)) as f:
        return json.load(f)


# ------------------------------------------------------------ generator


def test_queries_deterministic_per_seed():
    a = gen.queries(7, "single", 300, 5000)
    b = gen.queries(7, "single", 300, 5000)
    assert a == b


def test_queries_differ_across_seeds_and_streams():
    a = [q.text for q in gen.queries(7, "single", 100, 5000)]
    b = [q.text for q in gen.queries(8, "single", 100, 5000)]
    c = [q.text for q in gen.queries(7, "batch", 100, 5000)]
    assert a != b and a != c


def test_class_proportions_hold_in_every_window():
    counts = Counter(q.cls for q in gen.queries(3, "x", 100, 5000))
    assert counts == {c: round(w * 100) for c, w in gen.QUERY_CLASSES.items()}
    flat = sum(counts[c] for c in gen.FLAT_CLASSES)
    assert flat == 60
    # a short prefix already mixes flat and structured classes
    first8 = {q.cls for q in gen.queries(3, "x", 8, 5000)}
    assert first8 == set(gen.QUERY_CLASSES)


def test_flat_queries_carry_oracle_terms():
    for q in gen.queries(5, "x", 200, 5000):
        if q.flat:
            assert q.mode in ("or", "and") and q.terms
            assert all(NAME_RE.fullmatch(t) for t in q.terms)
        if q.cls == "rare":
            assert int(q.terms[0]) >= gen.RARE_MIN


def test_waves_deterministic_and_seeded():
    def plan(seed):
        st = gen.CorpusState(seed, 5000, DELETABLE)
        return [st.next_wave(i) for i in (1, 2)], st

    (w1, s1), (w2, s2) = plan(3), plan(3)
    assert w1 == w2 and s1 == s2
    (w3, _) = plan(4)
    assert [w.edited for w in w1] != [w.edited for w in w3]


def test_wave_shape():
    st = gen.CorpusState(9, 5000, DELETABLE)
    w = st.next_wave(1)
    assert len(w.new_ids) == 50 and w.new_ids.start == 5000
    assert len(w.edited) == gen.EDITS_PER_WAVE
    assert len(w.deleted) == gen.DELETES_PER_WAVE
    assert not set(w.edited) & set(w.deleted)
    assert set(w.deleted) <= DELETABLE
    assert st.n_rows == 5050
    assert all(st.suffix[i] == w.marker for i in w.expect_marker)
    w2 = st.next_wave(2)
    # deleted docs are never edited or deleted again
    assert not set(w2.edited) & set(w.deleted)
    assert not set(w2.deleted) & set(w.deleted)


# ---------------------------------------------------------------- stats


@pytest.mark.parametrize("n,p", [
    (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
    (199, 90), (200, 95), (1000, 99), (10000, 99.9)])
def test_tail_percentile_rule(n, p):
    assert tr.tail_percentile(n) == p


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert tr.percentile(xs, 90) == 90
    assert tr.percentile(xs, 50) == 50
    assert tr.percentile([3.0], 99) == 3.0


def test_summary_reports_rule_percentile():
    s = tr.summary([float(i) for i in range(100)])
    assert s["n"] == 100 and s["median"] == statistics.median(range(100))
    assert "p90" in s and "p95" not in s


# ---------------------------------------------------------------- spans


def _span(i, parent, start, end, name="x"):
    s = tr.Span(i, name, parent, None, start, start)
    s.end = end
    return s


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0),
             _span(2, 0, 5.0, 6.0), _span(3, 1, 1.5, 2.0)]
    own = tr.self_times(spans)
    assert own[0] == pytest.approx(7.0)
    assert own[1] == pytest.approx(1.5)
    assert own[2] == pytest.approx(1.0)
    assert own[3] == pytest.approx(0.5)


def test_self_time_overlapping_and_overhanging_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 6.0),
             _span(2, 0, 4.0, 8.0), _span(3, 0, 9.0, 12.0)]
    assert tr.self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_recorder_nesting_and_disable():
    rec = tr.Recorder()
    with rec.span("op", op=True):
        with rec.span("inner"):
            pass
    rec.enabled = False
    with rec.span("ignored"):
        pass
    op, inner = rec.spans
    assert inner.parent == op.id and inner.op == op.id == op.op
    assert len(rec.spans) == 2


def test_install_makes_one_span_per_call(monkeypatch):
    """api and segment bind the same segment functions; a call through
    either makes one span, and update's nested rebuild is its child."""
    from idzebra_spark import api
    from idzebra_spark.operators import segment, wand

    seg = ("build_index", "update_index", "compact_index")
    for obj, names in ((segment, seg), (api, seg + ("parse",)),
                       (api.ZebraSpark, ("search", "search_many")),
                       (wand.SegmentIndex, (
                           "__init__", "stats", "lookup_terms", "expand",
                           "topk", "topk_many", "search_tree",
                           "search_tree_many"))):
        for n in names:     # restored after the test
            monkeypatch.setattr(obj, n, getattr(obj, n))
    monkeypatch.setattr(segment, "build_index", lambda: {})
    monkeypatch.setattr(segment, "update_index",
                        lambda: segment.build_index() or {})
    rec = tr.Recorder()
    tr.install(rec)
    api.build_index()
    api.update_index()
    assert [(s.name, s.parent) for s in rec.spans] == [
        ("segment.build", None), ("segment.update", None),
        ("segment.build", 1)]


# -------------------------------------------------------------- metrics


def test_metric_names_and_contract_shape():
    bench = _load("BENCHMARK.json")
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench[k]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.fullmatch(n) and len(n) <= 64, n
    e2e = {m["name"] for m in bench["end_to_end"]}
    assert "setup_s" in e2e
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_emitted_metrics_match_benchmark_json():
    from perfbench import layers
    from perfbench.run import END_TO_END

    bench = _load("BENCHMARK.json")
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    run = SimpleNamespace(info={
        "build_metrics": {"postings": 1},
        "table_bytes": dict.fromkeys(layers.TABLES, 1)})
    extra = {"floor_s": 1.0, "postings_per_query": 1.0,
             "results_per_posting": 1.0, "blocks": 1, "compact_bytes": 1,
             "tokenize_s": 1.0, "tokens": 1, "decode_mb_s": 1.0,
             "encode_mb_s": 1.0, "overhead": 0.0}
    got = layers.per_layer(run, tr.Recorder(), {"jobs": {}, "stages": {}},
                           {}, extra, 0)
    want = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert {k: v["unit"] for k, v in got.items()} == want


def test_manifest_maps_every_per_layer_metric():
    bench = _load("BENCHMARK.json")
    manifest = _load("perfbench/manifest.json")
    e2e = {m["name"] for m in bench["end_to_end"]}
    moves = manifest["per_layer_moves"]
    assert set(moves) == {m["name"] for m in bench["per_layer"]}
    for name, targets in moves.items():
        assert set(targets) <= e2e | {"reported_only"}, name


# ------------------------------------------------------------------ cli


def test_fails_without_the_engine(tmp_path):
    """Without idzebra_spark beside it, the benchmark exits non-zero and
    prints no result line."""
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", f)) as src:
                (tmp_path / "perfbench" / f).write_text(src.read())
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
