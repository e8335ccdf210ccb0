"""Round-2 feature tests: fielded segment index, rset-DAG evaluation
with global-stat ranking, vectorized phrase, truncation forms,
rsbetween / unit scoping, and the segment postings accessor."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from idzebra_spark.operators.boolean import PostingsOps, fielded_term
from idzebra_spark.operators.segment import build_index
from idzebra_spark.operators.wand import (
    SegmentIndex, tree_patterns, z3958_to_regex)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "alpha beta gamma line alpha sort", "en", "s1"),
        (1, "beta gamma delta merge line merge sort", "en", "s2"),
        (2, "window merge group window beta merge group", "de", "s1"),
        (3, "merge window beta group merge", "en", "s2"),
        (4, "alpha alpha beta beta streaming dream", "fr", "s1"),
        (5, "window group merge", "en", "s1"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, "
                                       "lang string, source string")


@pytest.fixture(scope="module")
def idx(spark, corpus):
    path = tempfile.mkdtemp(prefix="t_r2_") + "/idx"
    build_index(spark, corpus, path, shard_size=2, block_size=4,
                fields={"w": ["source"], "p": ["lang"]})
    return SegmentIndex(spark, path)


def test_fielded_keys_in_dictionary(idx):
    terms = {r["term"] for r in idx.dictionary().collect()}
    assert fielded_term("source", "s1") in terms
    assert fielded_term("lang", "en") in terms
    assert "merge" in terms  # body terms unprefixed


def test_fielded_and_query(idx, corpus):
    tree = ("and", [
        ("term", fielded_term("source", "s1")),
        ("term", fielded_term("lang", "en")),
        ("term", "merge"),
    ])
    got = sorted(r["doc_id"] for r in idx.eval_tree(tree).collect())
    # logical-path twin
    ops = PostingsOps(corpus, fields={"w": ["source"], "p": ["lang"]})
    want = sorted(r["doc_id"] for r in ops.and_([
        ops.term_docs(fielded_term("source", "s1")),
        ops.term_docs(fielded_term("lang", "en")),
        ops.term_docs("merge"),
    ]).collect())
    assert got == want == [5]


def test_fielded_norms_are_body_only(idx, corpus):
    n, avgdl = idx.stats()
    from idzebra_spark.functions.tokenizer import tokenize_array
    want = corpus.select(
        F.avg(F.size(tokenize_array(F.col("text")))).alias("a")
    ).collect()[0]["a"]
    assert n == 6 and abs(avgdl - want) < 1e-9


def test_search_tree_matches_flat_wand(idx):
    """Structured OR must score exactly like the flat WAND path —
    the global-statistics invariant (no subset stats)."""
    flat = idx.topk(["merge", "beta"], k=10, mode="or").collect()
    tree = idx.search_tree(("or", [("term", "merge"), ("term", "beta")]),
                           k=10).collect()
    assert [(r["doc_id"], r["score_milli"]) for r in flat] == \
           [(r["doc_id"], r["score_milli"]) for r in tree]


def test_search_tree_not_and_phrase(idx):
    tree = ("not",
            ("and", [("term", "merge"), ("term", "beta")]),
            ("phrase", ["merge", "group"]))
    docs = sorted(r["doc_id"] for r in idx.eval_tree(tree).collect())
    # merge&beta = {1,2,3}; phrase "merge group" = {2} (pos 6-7? doc2:
    # window merge group ... merge group -> yes) and doc5 w/o beta
    assert 2 not in docs
    assert set(docs) <= {1, 3}


def test_phrase_highdf_vectorized(idx, corpus):
    """Vectorized phrase == logical positional join."""
    got = {(r["doc_id"], r["n_occ"])
           for r in idx.phrase(["merge", "group"], k=10).collect()}
    ops = PostingsOps(corpus)
    want = {(r["doc_id"], r["n_occ"])
            for r in ops.phrase(["merge", "group"]).collect()}
    assert got == want and got  # non-empty


def test_truncation_forms(idx):
    assert idx.expand("prefix", "al") == ["alpha"]
    assert idx.expand("suffix", "ing") == ["streaming"]
    assert set(idx.expand("contains", "eam")) == {"dream", "streaming"}
    assert idx.expand("z3958", "b#ta") == ["beta"]
    assert idx.expand("z3958", "merge?2") == ["merge"]  # ?2 = 0..2 chars
    docs = sorted(r["doc_id"]
                  for r in idx.eval_tree(("suffix", "ing")).collect())
    assert docs == [4]


def test_z3958_translation():
    assert z3958_to_regex("b#ta") == "^b.ta$"
    assert z3958_to_regex("ab*") == "^ab.*$"
    assert z3958_to_regex("a?3b") == "^a.?.?.?b$"
    assert z3958_to_regex("a?b") == "^a.*b$"
    assert z3958_to_regex("a.c") == r"^a\.c$"


def test_between_scope(spark, corpus):
    ops = PostingsOps(corpus)
    docs = sorted(r["doc_id"]
                  for r in ops.between("merge", "window", "group").collect())
    # doc2: merge@2 inside window@1..group@3, merge@6 inside window@4..
    # group@7 -> hit. doc3: merge@1 before window@2 (depth 0); merge@5
    # after group@4 (depth 0) -> no. doc5: merge@3 after group@2 -> no.
    assert docs == [2]


def test_within_unit(spark, corpus):
    ops = PostingsOps(corpus)
    docs = sorted(r["doc_id"]
                  for r in ops.within_unit("merge", "sort", "line").collect())
    # doc1: units split at 'line'@5: unit0 = beta gamma delta merge,
    # unit1 = merge sort -> merge+sort share unit1. doc0: sort unit1,
    # no merge at all.
    assert docs == [1]


def test_term_postings_roundtrip(idx, corpus):
    """Segment-decoded postings == tokenizer-derived postings."""
    from idzebra_spark.functions.tokenizer import tokenize

    got = {
        (r["term"], r["doc_id"], r["tf"], tuple(r["positions"]))
        for r in idx.term_postings(["merge", "beta"]).collect()
    }
    want_rows = (
        tokenize(corpus).where(F.col("term").isin(["merge", "beta"]))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"),
             F.sort_array(F.collect_list("pos")).alias("positions"))
        .collect()
    )
    want = {(r["term"], r["doc_id"], r["tf"],
             tuple(int(x) for x in r["positions"])) for r in want_rows}
    assert got == want


def test_fielded_update_diff(spark, corpus, tmp_path):
    """A field-only change must be caught by the update diff
    (content_sha covers field values)."""
    from idzebra_spark.operators.segment import update_index

    path = str(tmp_path / "idx")
    fields = {"w": ["source"], "p": ["lang"]}
    build_index(spark, corpus, path, shard_size=2, block_size=4,
                fields=fields)
    changed = corpus.withColumn(
        "source",
        F.when(F.col("doc_id") == 0, F.lit("s9")).otherwise(F.col("source")),
    )
    m = update_index(spark, changed, path, shard_size=2, block_size=4,
                     fields=fields)
    assert m["changed_shards"] == 1
    idx2 = SegmentIndex(spark, path)
    docs = sorted(r["doc_id"] for r in idx2.eval_tree(
        ("term", fielded_term("source", "s9"))).collect())
    assert docs == [0]


def test_lsh_verify_restricted_to_candidates(spark):
    """The exact-Jaccard verifier must touch only candidate docs: with
    an all-unique corpus the LSH stage yields zero candidates and the
    result is empty — and the verifier's plan must not contain the
    corpus-wide shingle self-join (both join sides are candidate-
    filtered)."""
    from idzebra_spark.operators.dedup import (
        minhash_lsh_pairs, verify_candidate_pairs)

    rows = [(i, f"u{i} v{i} w{i} x{i} y{i} z{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_lsh_pairs(df, threshold=0.1)
    assert out.count() == 0
    # structural check: every shingle-generation branch in the verify
    # plan sits under a candidate semi-join (df is filtered BEFORE the
    # explode), so no Generate node scans the raw corpus relation
    cand = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    qe = verify_candidate_pairs(df, cand)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "Generate explode" in plan
    assert "LeftSemi" in plan


def test_lsh_equals_jaccard_on_candidates(spark):
    """LSH output == exact jaccard pairs restricted to band candidates
    (here: near-identical docs are candidates and pass threshold)."""
    from idzebra_spark.operators.dedup import jaccard_pairs, minhash_lsh_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(0, base), (1, base + " extra"), (2, "totally different words "
            "nothing shared here at all whatsoever believe me")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lsh = {(r.doc_a, r.doc_b, r.jacc_milli)
           for r in minhash_lsh_pairs(df, threshold=0.5).collect()}
    exact = {(r.doc_a, r.doc_b, r.jacc_milli)
             for r in jaccard_pairs(df, threshold=0.5).collect()}
    # doc0: 8 shingles, doc1: 9; intersection 8 → jacc = 8/9 = 0.8889
    assert lsh == {(0, 1, 8889)} and exact == lsh


@pytest.mark.parametrize("relation,ordered", [
    ("=", True), ("=", False), ("<", True), ("<", False),
    ("<=", True), ("<=", False), (">", True), (">", False),
    (">=", True), (">=", False), ("<>", True), ("<>", False),
])
def test_prox_tree_matches_logical(idx, corpus, relation, ordered):
    """Segment tree prox leaf == logical PostingsOps.prox for every
    rsprox relation × order (rsprox.c:162-297)."""
    for distance in (1, 2, 3):
        got = sorted(r["doc_id"] for r in idx.eval_tree(
            ("prox", ["merge", "beta"], relation, distance, ordered)
        ).collect())
        want = sorted(r["doc_id"] for r in PostingsOps(corpus).prox(
            "merge", "beta", relation, distance, ordered).collect())
        assert got == want, (relation, distance, ordered, got, want)


def test_fielded_query_language(spark, corpus, idx):
    """`field:term` syntax end-to-end through the facade parser."""
    from idzebra_spark.plans.query import parse
    from idzebra_spark.operators.boolean import fielded_term

    q = parse("source:s1 AND lang:en AND merge")
    tree = q.root.to_rset_tree()
    assert ("term", fielded_term("source", "s1")) in tree[1]
    docs = sorted(r["doc_id"] for r in idx.eval_tree(tree).collect())
    assert docs == [5]


def test_unicode_index_end_to_end(spark, tmp_path):
    """alphabet='unicode' builds a queryable index over non-Latin text
    (the ICU-charmap path, util/charmap.c analogue)."""
    rows = [
        (0, "данные поток данные"),
        (1, "поток записи"),
        (2, "plain ascii text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "uidx")
    build_index(spark, df, path, shard_size=2, block_size=4,
                alphabet="unicode")
    idx = SegmentIndex(spark, path)
    assert sorted(r["doc_id"] for r in idx.eval_tree(
        ("term", "данные")).collect()) == [0]
    top = idx.topk(["поток"], k=5).collect()
    assert sorted(r["doc_id"] for r in top) == [0, 1]
    # default ascii would have dropped the Cyrillic tokens entirely
    path2 = str(tmp_path / "aidx")
    build_index(spark, df, path2, shard_size=2, block_size=4)
    idx2 = SegmentIndex(spark, path2)
    assert idx2.eval_tree(("term", "данные")).count() == 0


def test_near_adj_query_syntax(spark, corpus, idx):
    """NEAR/n and ADJ proximity operators in the query language run on
    the segment engine (prox tree leaf) and match the logical path."""
    from idzebra_spark.plans.query import parse

    q = parse("merge NEAR/2 beta")
    assert q.root.op == "prox" and q.root.value == ("<=", 2, False)
    seg_docs = sorted(r["doc_id"] for r in
                      idx.eval_tree(q.root.to_rset_tree()).collect())
    log_docs = sorted(r["doc_id"] for r in
                      q.eval(PostingsOps(corpus)).collect())
    assert seg_docs == log_docs and seg_docs

    adj = parse("merge ADJ group")
    assert adj.root.value == ("=", 1, True)
    got = sorted(r["doc_id"] for r in
                 idx.eval_tree(adj.root.to_rset_tree()).collect())
    want = sorted(r["doc_id"] for r in
                  PostingsOps(corpus).phrase(["merge", "group"])
                  .select("doc_id").collect())
    assert got == want

    mixed = parse("(merge NEAR/2 beta) AND window")
    md = sorted(r["doc_id"] for r in
                idx.eval_tree(mixed.root.to_rset_tree()).collect())
    assert set(md) <= set(seg_docs)


def test_truncation_expansion_bound(idx):
    """dict-grep fan-out guard: expansion past MAX_EXPAND raises."""
    import pytest as _pytest

    old = idx.MAX_EXPAND
    try:
        SegmentIndex.MAX_EXPAND = 1
        with _pytest.raises(ValueError, match="expands past"):
            idx.expand("contains", "a")
    finally:
        SegmentIndex.MAX_EXPAND = old


def test_wide_pattern_in_batch_keeps_sibling_whole(spark, idx):
    """A batch holding one pattern past MAX_EXPAND raises naming that
    pattern; the over-wide pattern never truncates a sibling whose
    expansion is exactly MAX_EXPAND terms."""
    old = SegmentIndex.MAX_EXPAND
    try:
        SegmentIndex.MAX_EXPAND = 2
        batch = SegmentIndex(spark, idx.path)
        with pytest.raises(ValueError, match="contains:'a' expands past"):
            batch.search_tree_many(
                {"wide": ("contains", "a"), "ok": ("contains", "eam")}, k=5)
        alone = SegmentIndex(spark, idx.path).expand("contains", "eam")
        assert alone == ["dream", "streaming"]
        assert batch.expand("contains", "eam") == alone
    finally:
        SegmentIndex.MAX_EXPAND = old


def test_shingles_short_and_empty_docs(spark):
    """Docs with < n tokens produce no shingles (and no crash) on
    every dedup path."""
    from idzebra_spark.operators.dedup import (
        jaccard_pairs, minhash_lsh_pairs, shingles)

    rows = [(0, ""), (1, "only two"), (2, "one"),
            (3, "alpha beta gamma delta"), (4, "alpha beta gamma delta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingles(df).collect()
    assert {r.doc_id for r in sh} == {3, 4}
    pairs = {(r.doc_a, r.doc_b) for r in
             minhash_lsh_pairs(df, threshold=0.9).collect()}
    assert pairs == {(3, 4)}
    assert jaccard_pairs(df, threshold=0.9).count() == 1


def test_minhash_partial_band(spark):
    """n_hashes not divisible by band_rows keeps the trailing partial
    band (matches the oracle's j // band_rows grouping)."""
    from idzebra_spark.operators.dedup import minhash_lsh_pairs

    rows = [(0, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon zeta eta"),
            (2, "unrelated words entirely different content here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_a, r.doc_b) for r in
           minhash_lsh_pairs(df, n_hashes=16, band_rows=5,
                             threshold=0.5).collect()}
    assert out == {(0, 1)}


def test_corrupt_media_takes_stub_path(spark):
    """Truncated/corrupt payloads must fall back to the stub, not kill
    the task (struct.error is not a ValueError)."""
    from idzebra_spark.operators.multimodal import extract_features

    rows = [
        (0, "audio", b"RIFF\x10\x00\x00\x00WAVEfmt \x10\x00\x00\x00\x01\x00",
         {"width": 0, "height": 0, "duration_ms": 10, "codec": "wav"}),
        (1, "image", b"P6 garbage",
         {"width": 2, "height": 2, "duration_ms": 0, "codec": "ppm"}),
    ]
    from idzebra_spark.operators.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r.decoded for r in extract_features(df).collect()}
    assert got == {0: False, 1: False}


def test_near_prefix_terms_are_not_operators():
    """Only the exact forms NEAR, NEAR/<digits>, ADJ are prox
    operators. NEARBY/NEAR/2x are ordinary (term) tokens — and since
    this language requires explicit connectives, bare juxtaposition
    is a syntax error, NOT a silent prox query."""
    from idzebra_spark.plans.query import parse

    with pytest.raises(ValueError, match="trailing tokens"):
        parse("foo NEARBY bar")
    with pytest.raises(ValueError, match="trailing tokens"):
        parse("a NEAR/2x b")
    assert parse("foo NEAR bar").root.value == ("<=", 3, False)


def test_expand_scoped_to_body_register(idx):
    """Truncation expansion must not leak composite field keys: the
    fielded index has 'lang\\x1fen' but ('suffix','en') only matches
    BODY terms; field='lang' scopes to that register."""
    from idzebra_spark.operators.boolean import FIELD_SEP

    body = idx.expand("suffix", "en")
    assert all(FIELD_SEP not in t for t in body)
    assert "lang" + FIELD_SEP + "en" not in body
    lang_terms = idx.expand("prefix", "e", field="lang")
    assert lang_terms == ["lang" + FIELD_SEP + "en"]
    # batched: both registers resolved in ONE dictionary job, each
    # pattern still scoped to its own register
    tree = ("or", [("suffix", "en"), ("prefix", "lang" + FIELD_SEP + "e")])
    keys = tree_patterns(tree)
    assert keys == [("suffix", "en", None, 1, None),
                    ("prefix", "e", "lang", 1, None)]
    _, exp = SegmentIndex(idx.spark, idx.path).resolve(patterns=keys)
    assert list(exp[keys[0]]) == body
    assert list(exp[keys[1]]) == lang_terms


@pytest.mark.parametrize("relation,ordered", [
    ("=", False), ("<=", False), ("<=", True), ("<>", False), (">", False),
])
def test_prox_same_term_both_engines(idx, corpus, relation, ordered):
    """t1 == t2 proximity: segment kernel == logical join semantics
    (same-position self-pairs excluded when unordered)."""
    for distance in (1, 2):
        got = sorted(r["doc_id"] for r in idx.eval_tree(
            ("prox", ["alpha", "alpha"], relation, distance, ordered)
        ).collect())
        want = sorted(r["doc_id"] for r in PostingsOps(corpus).prox(
            "alpha", "alpha", relation, distance, ordered).collect())
        assert got == want, (relation, distance, ordered, got, want)


def test_null_field_and_null_text_are_safe(spark, tmp_path):
    """NULL 'p'-field values must not corrupt another term's blocks
    (factorize -1 guard) and NULL text must not poison doclen/sha."""
    from idzebra_spark.operators.segment import update_index

    rows = [(0, "alpha beta", "en"), (1, "beta gamma", None),
            (2, None, "de")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    path = str(tmp_path / "nidx")
    fields = {"p": ["lang"]}
    build_index(spark, df, path, shard_size=2, block_size=4, fields=fields)
    idx = SegmentIndex(spark, path)
    terms = {r["term"] for r in idx.dictionary().collect()}
    assert None not in terms and "" not in terms
    # doc 1 (null lang) contributes NO lang key; doc 2 (null text) has
    # doclen 0 and its lang key only
    assert sorted(r["doc_id"] for r in idx.eval_tree(
        ("term", fielded_term("lang", "de"))).collect()) == [2]
    assert sorted(r["doc_id"] for r in idx.eval_tree(
        ("term", "beta")).collect()) == [0, 1]
    n, avgdl = idx.stats()
    assert n == 3 and avgdl == pytest.approx(4 / 3)
    # idempotent update: same snapshot → zero changed shards (the
    # NULL-text sha must be stable, not NULL)
    m = update_index(spark, df, path, shard_size=2, block_size=4,
                     fields=fields)
    assert m["changed_shards"] == 0


def test_positions_error_is_clear(spark, tmp_path):
    path = str(tmp_path / "nopos")
    df = spark.createDataFrame([(0, "a b c"), (1, "b c d")],
                               "doc_id long, text string")
    build_index(spark, df, path, shard_size=2, block_size=4,
                store_positions=False)
    idx = SegmentIndex(spark, path)
    # boolean/topk still work without positions
    assert idx.topk(["b"], 5).count() == 2
    with pytest.raises(Exception, match="store_positions"):
        idx.phrase(["b", "c"], 5).collect()


def test_compact_restores_dictionary_fast_path(spark, corpus, tmp_path):
    """After a partial update, and after compacting it, the dictionary,
    lookups and prefixes equal a fresh rebuild of the same snapshot."""
    from idzebra_spark.operators.segment import compact_index, update_index

    def state(idx):
        rows = sorted(tuple(r) for r in idx.dictionary().collect())
        return (rows, idx.meta.lookup([r[0] for r in rows]),
                sorted(idx.meta.prefix(None, "", 1000)))

    path, rebuilt = str(tmp_path / "cidx"), str(tmp_path / "rebuilt")
    build_index(spark, corpus, path, shard_size=2, block_size=4)
    changed = corpus.withColumn(
        "text", F.when(F.col("doc_id") == 0,
                       F.lit("totally new words")).otherwise(F.col("text")))
    update_index(spark, changed, path, shard_size=2, block_size=4)
    build_index(spark, changed, rebuilt, shard_size=2, block_size=4)
    want = state(SegmentIndex(spark, rebuilt))
    assert state(SegmentIndex(spark, path)) == want
    compact_index(spark, path)
    idx = SegmentIndex(spark, path)
    assert state(idx) == want
    assert sorted(r["doc_id"] for r in idx.eval_tree(
        ("term", "totally")).collect()) == [0]


def test_fielded_wildcard_query(idx):
    """`field:prefix*` expands within the field register."""
    from idzebra_spark.plans.query import parse

    q = parse("source:s* AND merge")
    docs = sorted(r["doc_id"] for r in
                  idx.eval_tree(q.root.to_rset_tree()).collect())
    # every doc has source s1/s2, so this is just docs containing merge
    assert docs == [1, 2, 3, 5]


def test_empty_index_queries_return_empty(spark, tmp_path):
    from idzebra_spark.operators.segment import update_index

    path = str(tmp_path / "eidx")
    df = spark.createDataFrame([(0, "a b"), (1, "c d")],
                               "doc_id long, text string")
    build_index(spark, df, path, shard_size=2, block_size=4)
    empty = spark.createDataFrame([], "doc_id long, text string")
    update_index(spark, empty, path, shard_size=2, block_size=4)
    idx = SegmentIndex(spark, path)
    assert idx.stats() == (0, 0.0)
    assert idx.topk(["a"], 5).count() == 0


def test_ordered_prox_never_counts_wrong_order(idx, corpus):
    """Reference fidelity (rsprox.c:181-194 fast path / :249-277
    generic): ordered proximity never counts pairs where t2 precedes
    t1 — on both engines."""
    # doc3 = "merge window beta group merge": 'group'(4) then
    # 'merge'(5): ordered prox(group -> merge, <=, 3) matches via
    # diff=1>0; prox(beta -> alpha...) with only wrong-order pairs
    # must NOT match: doc0 "alpha beta..." has beta@2 after alpha@1,
    # so test sort->alpha (sort@6, alpha@1/5: diff=-5,-1 only)
    seg = sorted(r["doc_id"] for r in idx.eval_tree(
        ("prox", ["sort", "alpha"], "<=", 3, True)).collect())
    log = sorted(r["doc_id"] for r in PostingsOps(corpus).prox(
        "sort", "alpha", "<=", 3, True).collect())
    assert seg == log == []  # alpha never follows sort
    # and >= with in-order pairs still matches
    seg2 = sorted(r["doc_id"] for r in idx.eval_tree(
        ("prox", ["alpha", "sort"], ">=", 1, True)).collect())
    log2 = sorted(r["doc_id"] for r in PostingsOps(corpus).prox(
        "alpha", "sort", ">=", 1, True).collect())
    assert seg2 == log2 == [0]


def test_same_batch_duplicate_doc_resolves_deterministically(
        spark, tmp_path_factory):
    from idzebra_spark.streaming.ingest import doc_store_snapshot, fold_batch

    root = tmp_path_factory.mktemp("dupbatch")
    index_path = str(root / "idx")
    batch = spark.createDataFrame(
        [(1, "version aa"), (1, "version zz"), (2, "solo")],
        ["doc_id", "text"],
    )
    fold_batch(batch, 0, index_path, shard_size=64, block_size=32)
    snap = {r.doc_id: r.text
            for r in doc_store_snapshot(spark, index_path).collect()}
    # deterministic winner: greatest content sha (stable across runs)
    import hashlib
    want = max("version aa", "version zz",
               key=lambda t: hashlib.sha256(t.encode()).hexdigest())
    assert snap[1] == want and snap[2] == "solo"
    # tombstone in the same batch beats content
    batch2 = spark.createDataFrame(
        [(2, "new content"), (2, None)], ["doc_id", "text"])
    fold_batch(batch2, 1, index_path, shard_size=64, block_size=32)
    snap2 = {r.doc_id for r in
             doc_store_snapshot(spark, index_path).collect()}
    assert 2 not in snap2
