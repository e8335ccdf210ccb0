"""Round-6 optimization parity tests.

Every r6 change is a PHYSICAL rewrite that must leave results
bit-identical: the doc-array build kernel vs the blocks the
explode+aggregate pipeline wrote (golden digests), the numpy
embedding-dedup kernel vs the bucket self-join, and the restructured
brute-force BM25 vs its original plan. These tests pin each
equivalence on adversarial inputs (empty docs, boundary separators,
duplicate-heavy text), not just the fixtures.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F


def _block_digest(df):
    rows = df.collect()
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: (r["term"], r["shard"],
                                         r["block_seq"])):
        h.update(repr((
            r["term"], r["shard"], r["block_seq"], r["n_docs"],
            r["first_docid"], r["last_docid"], r["max_tf"], r["sum_tf"],
            bytes(r["docids_bin"]), bytes(r["tfs_bin"]),
            bytes(r["pos_bin"]),
        )).encode())
    return len(rows), h.hexdigest()


TRICKY_ROWS = [
    (0, ""),                               # empty doc
    (1, "   ...   "),                      # separators only
    (2, "a"),                              # single token
    (3, ".lead and trail."),               # boundary separators
    (5, "dup dup dup dup other"),          # heavy tf
    (7, "x " * 300),                       # long doc, one term
    (8, "merge sort merge sort scan"),
    (12, "zz yy xx ww vv uu"),             # reverse-lex terms
    (13, "a1 b2 c3 " * 40),
    (200, "cross shard doc"),              # lands in another shard
    (513, "another far shard"),
]

# (title: a 'w' field, lang: a 'p' field) per TRICKY_ROWS doc: null,
# empty and separators-only values must add no term
FIELD_VALUES = {
    0: ("A Title", "en"), 1: (None, None), 2: ("", ""),
    3: ("lead lead", "..."), 5: ("dup", "En GB"), 7: ("x y " * 10, "en"),
    8: ("Merge", None), 12: (None, "zz"), 13: ("a1 a1", "de"),
    200: ("cross", "en"), 513: ("far far far", ""),
}

# a safari posting stream (doc_id, term, pos, field): null and empty
# terms are dropped, but an empty term under a field is the composite
# key 'title\x1f'; positions arrive unordered and one repeats
STREAM_ROWS = [
    (0, "alpha", 1, None), (0, "beta", 2, None), (0, "alpha", 3, None),
    (0, "gamma", 1, "title"), (0, "gamma", 2, "title"),
    (1, "beta", 1, ""), (1, None, 2, None), (1, "", 3, None),
    (1, "", 1, "title"), (1, None, 4, "title"),
    (2, "alpha", 5, None), (2, "alpha", 2, None), (2, "alpha", 2, None),
    (130, "delta", 1, "subj"), (130, "alpha", 1, None),
    (300, "alpha", 1, None),
    *[(d, t, p, f) for d in range(3, 20) for t, p, f in (
        ("alpha", 1, None), (f"w{d % 3}", 2, "title"),
        ("beta", 3 + d % 2, None))],
]


def _tricky(spark):
    return spark.createDataFrame(TRICKY_ROWS, "doc_id long, text string")


@pytest.fixture()
def tricky_corpus(spark):
    return _tricky(spark)


def _build_input(spark, kind):
    """(corpus, build_index options) of one build kind."""
    if kind == "body":
        return _tricky(spark), {}
    if kind == "fields":
        rows = [(d, t, *FIELD_VALUES[d]) for d, t in TRICKY_ROWS]
        return (spark.createDataFrame(
            rows, "doc_id long, text string, title string, lang string"),
            {"fields": {"w": ["title"], "p": ["lang"]}})
    assert kind == "pretokenized", kind
    return (spark.createDataFrame(
        STREAM_ROWS, "doc_id long, term string, pos int, field string"),
        {"pretokenized": True})


def _built_block_digest(spark, path, kind, store_positions):
    """(rows, sha256) of the blocks ``build_index`` writes for ``kind``
    (small shards and blocks, so many boundaries are exercised)."""
    from idzebra_spark.operators.segment import build_index

    corpus, kw = _build_input(spark, kind)
    build_index(spark, corpus, path, shard_size=128, block_size=4,
                store_positions=store_positions, **kw)
    return _block_digest(spark.read.parquet(f"{path}/blocks"))


# Recorded before every build went through the doc-array kernel: body
# builds already ran it, fielded and pretokenized builds ran the
# explode -> groupBy(shard, term, doc_id) -> collect_list pipeline.
GOLDEN_BLOCK_DIGESTS = {
    ("body", True): (
        25, "bf90e4f60f6061226b370c36daa391305ffbbf1b74e7f6b97a7bb9029ffa39ec"),
    ("body", False): (
        25, "df8759a1b13bae8a278aaec062f775873089cbef125a0cdd2080f797f2bdcd9b"),
    ("fields", True): (
        40, "39c3d7e82aaf599b3157295f17eb72754c481178903e80ebcd007137241a51ec"),
    ("fields", False): (
        40, "459d6b0e6421764eb57bfeb554cf91881962328e498aae684744af2e15ce48ef"),
    ("pretokenized", True): (
        21, "60698c930e80b7059ad7466dc77dec2c2687749963b0a9fbbd95980681943bef"),
    ("pretokenized", False): (
        21, "0752250eaf8fdae81eda5a5a95ba31b38c1a7c3dab5855183cb451834fc270d9"),
}


@pytest.mark.parametrize("kind,store_positions",
                         sorted(GOLDEN_BLOCK_DIGESTS))
def test_build_block_digest_golden(spark, tmp_path, kind, store_positions):
    """Every build kind emits byte-identical blocks to the recorded
    goldens: same terms, posting order, metadata and payload bytes."""
    got = _built_block_digest(spark, str(tmp_path / "idx"), kind,
                              store_positions)
    assert got == GOLDEN_BLOCK_DIGESTS[(kind, store_positions)]


def test_pretokenized_null_pos(spark, tmp_path):
    """A null pos in a pretokenized stream still counts toward its
    posting's tf, but a build that stores positions fails on it rather
    than write a made-up position."""
    from idzebra_spark.operators.segment import build_index

    stream = spark.createDataFrame(
        [(0, "a", 1, None), (0, "a", None, None), (1, "a", 2, None)],
        "doc_id long, term string, pos int, field string")
    path = str(tmp_path / "nopos")
    build_index(spark, stream, path, pretokenized=True,
                store_positions=False)
    blocks = spark.read.parquet(f"{path}/blocks").collect()
    assert [(r["term"], r["sum_tf"]) for r in blocks] == [("a", 3)]
    with pytest.raises(Exception, match="null pos"):
        build_index(spark, stream, str(tmp_path / "pos"),
                    pretokenized=True, store_positions=True)


def test_embedding_dup_pairs_matches_join_form(spark):
    """The per-bucket numpy kernel must reproduce the join form's
    rounded similarities exactly (same IEEE fold order)."""
    from idzebra_spark.operators.similarity import (
        cosine, embedding_dup_pairs, lsh_bucket)

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    got = sorted(map(tuple, embedding_dup_pairs(emb, 0.35, 4).collect()))

    vec = F.col("embedding").cast("array<double>")
    dim = emb.select(F.size("embedding").alias("d")).limit(1).collect()[0]["d"]
    b = emb.select(F.col("vec_id").alias("vid"), vec.alias("v"),
                   lsh_bucket(vec, dim, 4).alias("bucket"))
    want = sorted(map(tuple, (
        b.alias("a")
        .join(b.alias("b"),
              (F.col("a.bucket") == F.col("b.bucket"))
              & (F.col("a.vid") < F.col("b.vid")))
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")) * 1000000, 0)
            .cast("long").alias("sim_micro"))
        .where(F.col("sim_micro") >= 350000)
    ).collect()))
    assert got == want and len(got) > 0


def test_expand_memo(spark, tmp_path, tricky_corpus):
    """Truncation expansions are memoized per handle (dict-LRU
    discipline): a repeated wildcard leaf re-uses the first result,
    and the memo returns defensive copies."""
    from idzebra_spark.operators.segment import build_index
    from idzebra_spark.operators.wand import SegmentIndex

    path = str(tmp_path / "idx")
    build_index(spark, tricky_corpus, path, shard_size=128, block_size=64)
    idx = SegmentIndex(spark, path)
    a = idx.expand("prefix", "d")
    assert ("prefix", "d", None, 1, None) in idx._expand_memo
    b = idx.expand("prefix", "d")
    assert a == b and a is not b
    b.append("mutated")
    assert idx.expand("prefix", "d") == a
    # different pattern → separate entry
    idx.expand("suffix", "p")
    assert len(idx._expand_memo) == 2
    # search_tree with a wildcard goes through the memo too
    r1 = [tuple(r) for r in idx.search_tree(("prefix", "d"), 10).collect()]
    r2 = [tuple(r) for r in idx.search_tree(("prefix", "d"), 10).collect()]
    assert r1 == r2


def test_charmap_batched_guard_counterexamples(spark):
    """ADVICE r5: batching must refuse replace lists where a
    sequential pair consumes a batched src or a batched dst —
    the two verified counterexamples now stay sequential and match
    the documented in-order .chr semantics (JVM and driver twins)."""
    from idzebra_spark.functions.charmap import Charmap

    cm1 = Charmap("abcx", "", "", (("a", "b"), ("bc", "x")))
    cm2 = Charmap("abxy", "", "", (("a", "b"), ("a", "xy")))
    assert cm1.batched_replaces() is None
    assert cm2.batched_replaces() is None
    assert cm1.fold_str("ac") == "x"
    assert cm2.fold_str("a") == "b"
    df = spark.createDataFrame([("ac",), ("a",)], "t string")
    got1 = {r[0] for r in df.select(cm1.normalize_column(F.col("t"))).collect()}
    assert got1 == {"x", "b"}
    got2 = {r[0] for r in df.select(cm2.normalize_column(F.col("t"))).collect()}
    assert got2 == {"bc", "b"}
    # shipped-style independent maps still batch (fast path intact)
    indep = Charmap("abcdef", "", "", (("x", ""), ("y", ""), ("q", "k")))
    assert indep.batched_replaces() is not None


def test_matchkey_id_collision_raises(spark, tmp_path):
    """ADVICE r5: a NEW match key arriving under the recycled external
    id of a DIFFERENT live record must raise, not corrupt the shard;
    reuse of an id freed by a deletion in the same sync stays legal."""
    from idzebra_spark.operators.segment import build_index, update_index
    from idzebra_spark.operators.wand import SegmentIndex

    path = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(1, "alpha text", "k1"), (2, "beta text", "k2")],
        "doc_id long, text string, url string")
    build_index(spark, base, path, shard_size=128, block_size=64,
                match_cols=["url"])

    # new key k3 arrives under external id 2 == live sysno of k2
    clash = spark.createDataFrame(
        [(1, "alpha text", "k1"), (2, "beta text", "k2"),
         (2, "gamma text", "k3")],
        "doc_id long, text string, url string")
    with pytest.raises(ValueError, match="id collision"):
        update_index(spark, clash, path, match_cols=["url"])

    # k2 deleted AND its id recycled by new key k3 in one sync: legal
    recycle = spark.createDataFrame(
        [(1, "alpha text", "k1"), (2, "gamma text", "k3")],
        "doc_id long, text string, url string")
    m = update_index(spark, recycle, path, match_cols=["url"])
    assert m["changed_shards"] >= 1
    idx = SegmentIndex(spark, path)
    metas = {(r["doc_id"], r["match_key"]) for r in
             idx.doc_meta().select("doc_id", "match_key").collect()}
    assert len({d for d, _ in metas}) == len(metas) == 2


def test_q8_memo_lru_bound(spark):
    """The (N+1)-th distinct corpus evicts (and unpersists) the
    oldest q8 memo entry; a re-scored corpus moves to MRU."""
    from idzebra_spark.operators import similarity as S

    S.clear_q8_memo()
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    frames = [emb.where(F.col("vec_id") % 7 != i) for i in range(S.Q8_MEMO_MAX + 1)]
    for f in frames:
        S.cosine_topk_q8(f, qv, 5).collect()
    assert len(S._Q8_MEMO) == S.Q8_MEMO_MAX
    entries = list(S._Q8_MEMO.values())
    # every retained entry is still persisted; evicting one more works
    assert all(e.storageLevel.useMemory or e.storageLevel.useDisk
               for e in entries)
    lru_key = next(iter(S._Q8_MEMO))  # frames[1]'s entry is oldest now
    S.cosine_topk_q8(frames[1], qv, 5).collect()  # re-score → MRU move
    assert next(iter(S._Q8_MEMO)) != lru_key
    assert list(S._Q8_MEMO)[-1] == lru_key
    assert len(S._Q8_MEMO) == S.Q8_MEMO_MAX  # hit, not a new entry
    S.clear_q8_memo()
    assert not S._Q8_MEMO


def test_bm25_topk_doclen_carry_parity(spark, tricky_corpus):
    """The r6 bm25_topk (doclen carried through the tf aggregate, term
    filter inside the array, exists-based NOT) must match the original
    exploded form row-for-row."""
    from idzebra_spark.functions.scoring import (
        K1, B, bm25_idf, bm25_term_score)
    from idzebra_spark.functions.tokenizer import tokenize
    from idzebra_spark.operators.bruteforce import bm25_topk, corpus_stats

    def old_bm25(corpus, terms, k=10, mode="or", not_terms=None):
        terms = sorted(set(t.lower() for t in terms))
        toks = tokenize(corpus, "text", "doc_id")
        doclen = toks.groupBy("doc_id").agg(F.count("*").alias("doclen"))
        stats = corpus_stats(corpus)
        tf = (toks.where(F.col("term").isin(terms))
              .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
        dft = tf.groupBy("term").agg(
            F.countDistinct("doc_id").alias("df"))
        scored = (
            tf.join(F.broadcast(dft), "term")
            .join(doclen, "doc_id").crossJoin(F.broadcast(stats))
            .withColumn("idf", bm25_idf(F.col("df"), F.col("n_docs")))
            .withColumn("s", bm25_term_score(
                F.col("tf"), F.col("idf"), F.col("doclen"),
                F.col("avgdl"), k1=K1, b=B))
            .groupBy("doc_id")
            .agg(F.sum("s").alias("raw_score"),
                 F.count("*").alias("n_matched")))
        if mode == "and":
            scored = scored.where(F.col("n_matched") == len(terms))
        if not_terms:
            neg = sorted(set(t.lower() for t in not_terms))
            neg_docs = toks.where(F.col("term").isin(neg)) \
                .select("doc_id").distinct()
            scored = scored.join(neg_docs, "doc_id", "left_anti")
        return (scored.select(
            "doc_id",
            F.round(F.col("raw_score") * 10000, 0).cast("long")
            .alias("score_milli"))
            .orderBy(F.desc("score_milli"), F.asc("doc_id")).limit(k))

    for terms, mode, neg in [
        (["merge", "sort"], "or", None),
        (["merge", "sort"], "and", None),
        (["dup", "other"], "or", ["scan"]),
        (["x"], "or", None),
        (["nosuchterm"], "or", None),
    ]:
        got = [tuple(r) for r in
               bm25_topk(tricky_corpus, terms, 10, mode,
                         not_terms=neg).collect()]
        want = [tuple(r) for r in
                old_bm25(tricky_corpus, terms, 10, mode, neg).collect()]
        assert got == want, (terms, mode, neg)
