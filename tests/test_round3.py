"""Round-3 additions: batched multi-query kernel, bounded streaming
fold, SimHash Hamming banding, charmap folding, fuzzy regex, segment
scan-with-limit, multi-valued sort keys — plus regressions for the
round-2 ADVICE items."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------- ADVICE regressions

def test_empty_complete_field_is_not_indexed(spark):
    """An empty/absent 'p'-type field value must not become the
    phantom composite term 'field\\x1f' (ADVICE r2: segment.py:269)."""
    from idzebra_spark.operators.boolean import FIELD_SEP
    from idzebra_spark.operators.segment import fielded_postings

    corpus = spark.createDataFrame(
        [(0, "alpha beta", "en"), (1, "gamma", ""), (2, "delta", None),
         (3, "eps", "---")],  # '---' tokenizes to nothing
        ["doc_id", "text", "lang"],
    )
    p = fielded_postings(corpus, {"p": ["lang"]})
    p = p.where(F.col("term").isNotNull() & (F.col("term") != ""))
    terms = {r["term"] for r in p.select("term").distinct().collect()}
    assert ("lang" + FIELD_SEP + "en") in terms
    assert ("lang" + FIELD_SEP) not in terms


def test_parse_errors_are_value_errors():
    from idzebra_spark.plans.query import parse

    with pytest.raises(ValueError, match="plain terms"):
        parse('"a b" NEAR c')
    with pytest.raises(ValueError, match="unbalanced"):
        parse("(a OR b")


# ------------------------------------------------ batched query kernel

@pytest.fixture(scope="module")
def seg_idx(spark, sf_dir, tmp_path_factory):
    from idzebra_spark.operators.segment import build_index
    from idzebra_spark.operators.wand import SegmentIndex
    from idzebra_spark.sources.corpus import load_documents

    path = str(tmp_path_factory.mktemp("r3idx") / "idx")
    docs = load_documents(spark, sf_dir)
    build_index(spark, docs, path, shard_size=256, block_size=64)
    return SegmentIndex(spark, path)


BATCH_QUERIES = {
    "or2": {"terms": ["merge", "sort"], "mode": "or"},
    "and2": {"terms": ["spark", "query"], "mode": "and"},
    "hi3": {"terms": ["the", "data", "key"], "mode": "or"},
    "not1": {"terms": ["merge", "sort"], "mode": "or",
             "not_terms": ["slow"]},
    "miss": {"terms": ["nosuchtokenanywhere"], "mode": "or"},
    "andmiss": {"terms": ["merge", "nosuchtokenanywhere"], "mode": "and"},
}


def test_topk_many_matches_single_query(seg_idx):
    """Every query in a batch must be rank-identical to its
    single-query topk() run (same milli scores, same tie order)."""
    batch = seg_idx.topk_many(BATCH_QUERIES, k=10).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score_milli"]))
    assert "miss" not in got and "andmiss" not in got
    for qid, q in BATCH_QUERIES.items():
        single = [
            (r["doc_id"], r["score_milli"])
            for r in seg_idx.topk(q["terms"], 10, q.get("mode", "or"),
                                  not_terms=q.get("not_terms")).collect()
        ]
        assert got.get(qid, []) == single, qid


def test_search_tree_many_matches_single_tree(seg_idx):
    """Every tree in a structured batch is rank-identical to its
    single-tree search_tree() run — boolean+phrase DAG, truncation
    tree, prox tree, and a no-hit tree emitting nothing."""
    from idzebra_spark.plans.query import parse

    trees = {
        "pb": parse('(merge OR sort) AND scan NOT "batch batch"')
        .root.to_rset_tree(),
        "pf": ("and", [("prefix", "sc"), ("term", "window")]),
        "pp": parse("merge NEAR/3 sort").root.to_rset_tree(),
        "miss": ("term", "nosuchtokenanywhere"),
    }
    # rank isolation: a term decoded for ANOTHER query in the batch
    # must not leak into this query's BM25 ('Merge' finds no blocks
    # in the lowercase index; lowercase 'merge' is decoded only
    # because the "pb" tree references it)
    trees["case"] = ("or", [("term", "Merge"), ("term", "scan")])
    batch = seg_idx.search_tree_many(trees, 10).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score_milli"]))
    assert "miss" not in got
    for qid, tree in trees.items():
        if qid == "miss":
            continue
        # 'case' compares against its own single-tree run below — the
        # single run never decodes 'merge', and neither may the batch
        single = [(r["doc_id"], r["score_milli"])
                  for r in seg_idx.search_tree(tree, 10).collect()]
        ordered = sorted(got.get(qid, []), key=lambda x: (-x[1], x[0]))
        assert ordered == single, qid


def test_search_many_facade(spark, sf_dir, tmp_path_factory, seg_idx):
    """search_many mixes flat (batched) and structured (fallback)
    queries; each query's rows equal search()'s."""
    from idzebra_spark.api import ZebraSpark

    zs = ZebraSpark(spark, seg_idx.path)
    queries = {
        "flat": "merge OR sort",
        "struct": '(merge OR sort) AND scan NOT "batch batch"',
        # distinct wildcards; sc* repeats across queries, me* and sl*
        # sit inside a mixed tree with a phrase
        "wild": "sc*",
        "wild_again": "sc* OR window",
        "wild_and": "cu* AND fast",
        "mixed": '(me* OR "hash scan") NOT sl*',
    }
    many = zs.search_many(queries, k=5).collect()
    got = {}
    for r in many:
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score_milli"]))
    for qid, qs in queries.items():
        single = [(r["doc_id"], r["score_milli"])
                  for r in zs.search(qs, k=5).collect()]
        assert sorted(got[qid]) == sorted(single), qid


def _jobs_in_group(spark, name: str, fn):
    """(number of Spark jobs ``fn`` ran, its result), counted under a
    fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _one_wildcard_jobs(spark, path: str) -> int:
    """Spark jobs of ONE dictionary collect (a lone suffix wildcard on
    a fresh handle; prefixes and exact terms are read on the driver
    and run none). Adaptive execution runs each shuffle stage of a
    query as its own job id, so one collect is a few job ids, not
    one."""
    from idzebra_spark.operators.wand import SegmentIndex

    idx = SegmentIndex(spark, path)
    n, terms = _jobs_in_group(spark, "t_r3_one_wildcard",
                              lambda: idx.expand("suffix", "rge"))
    assert terms and n >= 1
    return n


def test_search_many_one_dictionary_job(spark, seg_idx):
    """A batch's term lookups and prefix wildcard expansions (flat and
    structured queries alike) run NO dictionary job: they are
    driver-side reads, made while the batch is planned — before the
    kernel job(s); the same batch again reads nothing."""
    from idzebra_spark.api import ZebraSpark

    zs = ZebraSpark(spark, seg_idx.path)
    zs.search("window", k=1).collect()  # load meta + stats first
    queries = {
        "w1": "sc*",
        "w2": "me* OR sort",
        "w3": "cu* AND fast",
        "w4": "(wi* OR ha*) NOT slow",
        "w5": 'fi* OR "hash scan"',
        "flat": "merge OR data",
        "and": "spark AND query",
    }
    n_dict, df = _jobs_in_group(spark, "t_r3_dict_first",
                                lambda: zs.search_many(queries, k=5))
    assert n_dict == 0
    n_kernel, rows = _jobs_in_group(spark, "t_r3_kernel", df.collect)
    assert n_kernel >= 1 and {r["query_id"] for r in rows} == set(queries)
    n_again, _ = _jobs_in_group(spark, "t_r3_dict_again",
                                lambda: zs.search_many(queries, k=5))
    assert n_again == 0


def test_dictionary_memos_are_lru_bounded(spark, seg_idx, monkeypatch):
    """More distinct patterns (and terms) than the memo cap, resolved
    in one batched call: the Spark-side patterns cost one collect, the
    memo holds exactly the cap, and an evicted pattern re-resolves to
    the same terms. Prefix patterns and exact terms cost no job."""
    from idzebra_spark.operators import wand

    one_collect = _one_wildcard_jobs(spark, seg_idx.path)
    monkeypatch.setattr(wand, "EXPAND_MEMO_MAX", 3)
    monkeypatch.setattr(wand, "TERM_MEMO_MAX", 3)
    idx = wand.SegmentIndex(spark, seg_idx.path)
    pats = [("suffix", "an", None, 1, None), ("contains", "er", None, 1, None),
            ("suffix", "ge", None, 1, None), ("contains", "in", None, 1, None),
            ("suffix", "sh", None, 1, None)]
    terms = ["merge", "sort", "scan", "window", "nosuchtokenanywhere"]
    n_jobs, (info, exp) = _jobs_in_group(
        spark, "t_r3_lru", lambda: idx.resolve(terms, pats))
    assert n_jobs == one_collect
    assert set(exp) == set(pats) and all(exp.values())
    assert set(info) == set(terms) and info["nosuchtokenanywhere"] is None
    assert len(idx._expand_memo) == 3 and len(idx._term_memo) == 3
    assert pats[0] not in idx._expand_memo  # least recently used
    assert idx.expand("suffix", "an") == list(exp[pats[0]])
    fresh = wand.SegmentIndex(spark, seg_idx.path)
    prefix = [("prefix", p, None, 1, None) for p in ("sc", "me", "cu")]
    n_read, (info, exp) = _jobs_in_group(
        spark, "t_r3_read", lambda: fresh.resolve(terms, prefix))
    assert n_read == 0
    assert set(exp) == set(prefix) and all(exp.values())
    assert info["merge"] is not None and info["nosuchtokenanywhere"] is None


# ---------------------------------------------- bounded streaming fold

def test_fold_batch_is_shard_bounded(spark, tmp_path_factory):
    """Per micro-batch, only the batch's shards may be read/diffed:
    the snapshot plan must semi-join the mirror to the touched shard
    set, untouched shards must keep their original lineage batch, and
    the final index must equal a from-scratch build of the same docs."""
    from idzebra_spark.operators.segment import shard_expr
    from idzebra_spark.operators.wand import SegmentIndex
    from idzebra_spark.streaming.ingest import doc_store_snapshot, fold_batch

    root = tmp_path_factory.mktemp("bounded")
    path = str(root / "idx")
    ssz = 64
    # batch 0: shards 0 and 1; batch 1: shard 1 only (update + add)
    b0 = spark.createDataFrame(
        [(i, f"alpha doc {i}") for i in range(0, 40)]
        + [(i, f"beta doc {i}") for i in range(64, 100)],
        ["doc_id", "text"])
    fold_batch(b0, 0, path, shard_size=ssz, block_size=32)
    b1 = spark.createDataFrame(
        [(64, "beta doc 64 EDITED"), (101, "gamma new doc")],
        ["doc_id", "text"])
    fold_batch(b1, 1, path, shard_size=ssz, block_size=32)

    lineage = spark.read.parquet(f"{path}/lineage")
    latest = {
        r["shard"]: r["batch"]
        for r in lineage.groupBy("shard")
        .agg(F.max_by("batch", "build_seq").alias("batch")).collect()
    }
    assert latest[0] == "b00000"      # untouched shard kept its batch
    assert latest[1] == "b00001"      # touched shard was rebuilt

    # the bounded snapshot plan semi-joins the mirror to the shard set
    touched = b1.select(shard_expr(ssz).alias("shard")).distinct()
    snap = doc_store_snapshot(spark, path, shards=touched, shard_size=ssz)
    plan = snap._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan

    # index content equals a from-scratch build of the merged corpus
    idx = SegmentIndex(spark, path)
    assert idx.count(["edited"]) == 1
    assert idx.count(["gamma"]) == 1
    assert idx.count(["alpha"]) == 40
    assert idx.count(["beta"]) == 36  # doc 64's text still has 'beta'
    n_docs, _ = idx.stats()
    assert n_docs == 77


# --------------------------------- scan limit set / sort / fetch index

def test_facade_scan_limited_sort_multi_fetch_index(spark, sf_dir, seg_idx):
    from idzebra_spark.api import ZebraSpark
    from idzebra_spark.sources.corpus import load_documents

    corpus = load_documents(spark, sf_dir)
    zs = ZebraSpark(spark, seg_idx.path, corpus=corpus)

    # limit-set scan: every returned term must have hits inside the
    # limit set, and the window sizes hold
    rows = zs.scan("merge", n_after=4, n_before=2,
                   limit_query="sort").collect()
    assert 0 < len(rows) <= 6
    assert all(r["df"] > 0 for r in rows)
    lim_docs = {r["doc_id"]
                for r in zs.index.eval_tree(("term", "sort")).collect()}
    for r in rows:
        tp = {p["doc_id"] for p in zs.index.term_postings(
            [r["term"]], with_positions=False).collect()}
        assert len(tp & lim_docs) == r["df"]

    # multi-valued sort key: min token per doc, ascending
    mk = zs.sort_by_multivalue("merge", pick="min", k=5).collect()
    assert len(mk) == 5
    keys = [r["sort_key"] for r in mk]
    assert keys == sorted(keys)

    # zebra::index element set: per-doc term/pos dump
    ids = [r["doc_id"] for r in mk[:2]]
    dump = zs.fetch(ids, elements="index").collect()
    assert {r["doc_id"] for r in dump} == set(ids)
    assert all(r["pos"] >= 1 for r in dump)


def test_fuzzy_expansion(seg_idx):
    """fuzzy = regex OR edit-budget around the stem; plain regex and
    plain edit-distance are both subsets of it."""
    fz = set(seg_idx.expand("fuzzy", "^s[ck]an$", stem="scan", errors=1))
    rx = set(seg_idx.expand("regex", "^s[ck]an$"))
    assert rx <= fz
    assert "scan" in fz


# ------------------------------------------------------- BMP codec

def test_bmp_codec_roundtrip():
    import numpy as np

    from idzebra_spark.operators.multimodal import decode_bmp, encode_bmp

    rng = np.random.default_rng(7)
    for h, w in [(6, 9), (5, 5), (1, 3), (7, 2)]:  # odd widths → stride pad
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert (decode_bmp(encode_bmp(img)) == img).all()
    # top-down variant (negative height) decodes too
    import struct

    img = rng.integers(0, 256, (4, 3, 3), dtype=np.uint8)
    # encode writes img[::-1] bottom-up → physical row order == img;
    # marking the height negative (top-down) makes the decoder return
    # the physical order unflipped, i.e. img again
    b = bytearray(encode_bmp(img[::-1]))
    b[22:26] = struct.pack("<i", -4)
    assert (decode_bmp(bytes(b)) == img).all()
    with pytest.raises(ValueError):
        decode_bmp(b"notabmp")


# ------------------------------------------------------- PNG codec

def test_png_codec_roundtrip_and_filters():
    import struct as st
    import zlib

    import numpy as np

    from idzebra_spark.operators.multimodal import (
        _PNG_SIG, _png_chunk, decode_png, encode_png)

    rng = np.random.default_rng(11)
    for shape in [(6, 9, 3), (5, 5, 4), (1, 3, 3)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert (decode_png(encode_png(img)) == img).all()

    # hand-filter scanlines with every filter type (spec §9) and
    # check the decoder's unfilter inverts each
    img = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    h, w, c = img.shape
    flat = img.reshape(h, w * c).astype(np.int32)
    raw = bytearray()
    for y, ft in enumerate([0, 1, 2, 3, 4]):
        line = flat[y]
        prev = flat[y - 1] if y else np.zeros(w * c, np.int32)
        filt = np.zeros(w * c, np.int32)
        for x in range(w * c):
            a = line[x - c] if x >= c else 0
            b = prev[x]
            cc = prev[x - c] if x >= c else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else cc)
            filt[x] = (line[x] - pred) & 0xFF
        raw += bytes([ft]) + bytes(filt.astype(np.uint8))
    ihdr = st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
               + _png_chunk(b"IEND", b""))
    assert (decode_png(payload) == img).all()

    import pytest as _pytest
    with _pytest.raises(ValueError):
        decode_png(b"nope")


def test_corrupt_png_takes_stub_path_not_task_crash(spark):
    """A valid-signature PNG with a corrupted deflate stream must fall
    to the marked stub path (zlib.error is caught), never abort the
    Spark task."""
    import numpy as np

    from idzebra_spark.operators.multimodal import (
        MEDIA_SCHEMA, encode_png, extract_features)

    rng = np.random.default_rng(3)
    good = encode_png(rng.integers(0, 256, (4, 4, 3), dtype=np.uint8))
    corrupt = bytearray(good)
    corrupt[40] ^= 0xFF  # flip a byte inside the IDAT deflate stream
    rows = [(1, "image", bytes(good),
             {"width": 4, "height": 4, "duration_ms": 0, "codec": "png"}),
            (2, "image", bytes(corrupt),
             {"width": 4, "height": 4, "duration_ms": 0, "codec": "png"})]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r.decoded for r in extract_features(media).collect()}
    assert got == {1: True, 2: False}


# ------------------------------------------------- charmap folding

def test_fold_tokenizer_goldens(spark):
    from idzebra_spark.functions.tokenizer import fold_str, tokenize_array

    df = spark.createDataFrame(
        [(0, "Café crème — naïve Zürich"), (1, "Œuvre æther Straße")],
        ["doc_id", "text"])
    rows = df.select(
        "doc_id", tokenize_array(F.col("text"), "fold").alias("a")
    ).orderBy("doc_id").collect()
    assert list(rows[0]["a"]) == ["cafe", "creme", "naive", "zurich"]
    assert list(rows[1]["a"]) == ["oeuvre", "aether", "strasse"]
    # driver-side twin agrees with the column fold
    assert fold_str("Café") == "cafe"
    assert fold_str("Straße") == "strasse"
    assert fold_str("Œuvre") == "oeuvre"


def test_fold_index_roundtrip(spark, tmp_path_factory):
    """Indexed with alphabet='fold', 'café' and 'cafe' hit the same
    register — from the query string through the facade."""
    from idzebra_spark.api import ZebraSpark

    path = str(tmp_path_factory.mktemp("foldidx") / "idx")
    corpus = spark.createDataFrame(
        [(0, "le café est chaud"), (1, "the cafe is warm"),
         (2, "nothing related")],
        ["doc_id", "text"])
    zs = ZebraSpark(spark, path)
    zs.build(corpus, shard_size=64, block_size=32, alphabet="fold")
    hits_plain = sorted(r["doc_id"] for r in zs.search("cafe", 10).collect())
    hits_accent = sorted(r["doc_id"] for r in zs.search("café", 10).collect())
    assert hits_plain == hits_accent == [0, 1]
    assert zs.count("café") == 2


def test_lsh_projection_is_integer_stable():
    """The bucket projection must be an associative integer sum —
    identical regardless of summation order (ADVICE r2:
    oracle_ml.py:229). Simulate engine divergence by summing the
    quantized terms forward and backward."""
    import math

    from idzebra_spark.operators.similarity import plane_weight, query_bucket

    vec = [((i * 37) % 19 - 9) / 7.0 for i in range(64)]
    terms = [
        [math.floor(vec[d] * plane_weight(p, d) * 1000000.0)
         for d in range(64)]
        for p in range(6)
    ]
    fwd = sum(
        (1 << p) for p in range(6) if sum(terms[p]) > 0
    )
    rev = sum(
        (1 << p) for p in range(6) if sum(reversed(terms[p])) > 0
    )
    assert fwd == rev == query_bucket(vec, n_planes=6)
