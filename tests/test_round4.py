"""Round-4 surface: persisted q8 index, declarative XML field
mapping, multi-database search facade, register consistency check."""

import json

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from idzebra_spark.sources.corpus import load_documents

    return load_documents(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


# ------------------------------------------------------ q8 index

def test_q8_index_matches_live_path(spark, emb, tmp_path):
    from idzebra_spark.operators.similarity import (
        build_q8_index, cosine_topk_q8, cosine_topk_q8_indexed)

    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 3).collect()[0]["embedding"]]
    p = str(tmp_path / "q8")
    build_q8_index(emb, p)
    live = cosine_topk_q8(emb, qv, 10, exclude_id=3).collect()
    idx = cosine_topk_q8_indexed(spark, p, qv, 10, exclude_id=3).collect()
    assert [tuple(r) for r in live] == [tuple(r) for r in idx]


def test_q8_index_stores_precomputed_norms(spark, emb, tmp_path):
    p = str(tmp_path / "q8")
    from idzebra_spark.operators.similarity import build_q8_index

    build_q8_index(emb, p)
    stored = spark.read.parquet(p)
    assert {"vec_id", "qvec", "scale", "qnorm"} <= set(stored.columns)
    r = stored.where(F.col("vec_id") == 0).collect()[0]
    assert r["qnorm"] == sum(int(c) * int(c) for c in r["qvec"])
    assert all(abs(int(c)) <= 127 for c in r["qvec"])


# ------------------------------------------- declarative XML mapping

def test_mapped_corpus_config_driven(spark, docs):
    from idzebra_spark.sources.xml_filter import mapped_corpus, synth_xml

    mapping = {"w": {"creator": "/record/source"},
               "p": {"langcode": "/record/lang"}}
    corpus, fields = mapped_corpus(synth_xml(docs.limit(50)), mapping)
    assert fields == {"w": ["creator"], "p": ["langcode"]}
    assert set(corpus.columns) == {"doc_id", "text", "creator", "langcode"}
    row = corpus.join(docs.limit(50), "doc_id").select(
        "creator", "source", "langcode", "lang").limit(5).collect()
    for r in row:
        assert r["creator"] == r["source"]
        assert r["langcode"] == r["lang"]


def test_mapped_corpus_rejects_collisions(spark, docs):
    from idzebra_spark.sources.xml_filter import mapped_corpus, synth_xml

    with pytest.raises(ValueError, match="duplicate"):
        mapped_corpus(synth_xml(docs.limit(5)),
                      {"w": {"text": "/record/source"}})


def test_mapped_fields_end_to_end(spark, docs, tmp_path):
    from idzebra_spark.operators.boolean import fielded_term
    from idzebra_spark.operators.segment import build_index
    from idzebra_spark.operators.wand import SegmentIndex
    from idzebra_spark.sources.xml_filter import mapped_corpus, synth_xml

    mapping = {"w": {"creator": "/record/source",
                     "kind": ("/record/tag/text()", "nodes")}}
    corpus, fields = mapped_corpus(synth_xml(docs), mapping)
    p = str(tmp_path / "idx")
    build_index(spark, corpus, p, shard_size=64, block_size=32,
                fields=fields)
    idx = SegmentIndex(spark, p)
    got = sorted(
        r["doc_id"] for r in idx.eval_tree(
            ("and", [("term", fielded_term("creator", "src13")),
                     ("term", fielded_term("kind", "d5"))])).collect())
    want = sorted(
        r["doc_id"] for r in docs.where(
            (F.lower("source") == "src13")
            & (F.col("doc_id") % 7 == 5)).collect())
    assert got == want and got


# ------------------------------------------------ multi-db search

@pytest.fixture(scope="module")
def multidb(spark, docs, tmp_path_factory):
    from idzebra_spark.operators.multidb import open_databases
    from idzebra_spark.operators.segment import build_index
    from idzebra_spark.operators.wand import SegmentIndex

    base = tmp_path_factory.mktemp("multidb")
    paths = []
    for i in range(2):
        p = str(base / f"db{i}")
        build_index(spark, docs.where(F.col("doc_id") % 2 == i), p,
                    shard_size=64, block_size=32)
        paths.append(p)
    single = str(base / "single")
    build_index(spark, docs, single, shard_size=64, block_size=32)
    return open_databases(spark, paths), SegmentIndex(spark, single)


def test_multidb_stats_match_single_index(multidb):
    multi, single = multidb
    assert multi.stats() == single.stats()


def test_multidb_dictionary_merged(multidb):
    multi, single = multidb
    m = {r["term"]: (r["df"], r["cf"], r["max_tf"])
         for r in multi.dictionary().collect()}
    s = {r["term"]: (r["df"], r["cf"], r["max_tf"])
         for r in single.dictionary().collect()}
    assert m == s


def test_multidb_topk_score_identical(multidb):
    multi, single = multidb
    for terms, mode in ([["merge", "sort"], "or"],
                        [["spark", "query"], "and"],
                        [["the", "data", "key"], "or"]):
        m = [tuple(r) for r in multi.topk(terms, 10, mode).collect()]
        s = [tuple(r) for r in single.topk(terms, 10, mode).collect()]
        assert m == s, (terms, mode)


def test_multidb_phrase_and_tree(multidb):
    multi, single = multidb
    m = [tuple(r) for r in multi.phrase(["batch", "batch"], 10).collect()]
    s = [tuple(r) for r in single.phrase(["batch", "batch"], 10).collect()]
    assert m == s
    tree = ("and", [("or", [("term", "merge"), ("term", "sort")]),
                    ("term", "scan")])
    mt = sorted(r["doc_id"] for r in multi.eval_tree(tree).collect())
    st = sorted(r["doc_id"] for r in single.eval_tree(tree).collect())
    assert mt == st


def test_zebra_facade_and_cli_database_list(spark, docs, tmp_path, capsys):
    from idzebra_spark.__main__ import main
    from idzebra_spark.api import ZebraSpark
    from idzebra_spark.operators.segment import build_index

    paths = []
    for i in range(2):
        p = str(tmp_path / f"db{i}")
        build_index(spark, docs.where(F.col("doc_id") % 2 == i), p,
                    shard_size=64, block_size=32)
        paths.append(p)
    single = str(tmp_path / "single")
    build_index(spark, docs, single, shard_size=64, block_size=32)

    z = ZebraSpark(spark, paths)
    zs = ZebraSpark(spark, single)
    got = [tuple(r) for r in z.search("merge OR sort", 10).collect()]
    want = [tuple(r) for r in zs.search("merge OR sort", 10).collect()]
    assert got == want and got
    with pytest.raises(ValueError, match="read-only"):
        z.update(docs)
    with pytest.raises(ValueError, match="read-only"):
        z.compact()

    assert main(["search", "--index", ",".join(paths), "merge"]) == 0
    assert "doc_id" in capsys.readouterr().out


def test_multidb_requires_paths(spark):
    from idzebra_spark.operators.multidb import MultiSegmentIndex

    with pytest.raises(ValueError):
        MultiSegmentIndex(spark, [])


def test_build_then_update_same_session_inherits_config(spark, docs,
                                                        tmp_path):
    """A same-session build→update must run the update under the
    build's just-persisted settings (shard_size here): stale cached
    meta would diff shards on a different id basis and duplicate
    docs across shard spaces."""
    from idzebra_spark.api import ZebraSpark

    p = str(tmp_path / "idx")
    z = ZebraSpark(spark, p)
    z.build(docs.limit(100), shard_size=64, block_size=32,
            alphabet="ascii")
    z.update(docs.limit(120))
    n, _ = z.index.stats()
    assert n == 120


def test_build_inherits_persisted_fields_on_rebuild(spark, docs,
                                                    tmp_path):
    from idzebra_spark.api import ZebraSpark
    from idzebra_spark.operators.boolean import fielded_term

    p = str(tmp_path / "idx")
    ZebraSpark(spark, p).build(docs.limit(80), shard_size=64,
                               block_size=32,
                               fields={"w": ["source"]})
    # rebuild with ONLY the alphabet overridden: the persisted fields
    # map must survive (overriding one setting cannot drop another)
    z2 = ZebraSpark(spark, p)
    z2.build(docs.limit(80), shard_size=64, block_size=32,
             alphabet="ascii")
    hits = z2.index.eval_tree(
        ("term", fielded_term("source", "src13"))).count()
    want = docs.limit(80).where(F.lower("source") == "src13").count()
    assert hits == want and hits > 0


def test_register_config_guard_blocks_mismatched_build(spark, docs,
                                                       tmp_path):
    """Extending a committed register under a different shard_size
    silently DROPPED documents before the guard (new docs mapped to
    'already done' shard ids and resume skipped them); now it
    raises with the fresh-path guidance instead."""
    from idzebra_spark.operators.segment import build_index

    p = str(tmp_path / "idx")
    build_index(spark, docs.where(F.col("doc_id") < 100), p,
                shard_size=64, block_size=32)
    with pytest.raises(ValueError, match="register config mismatch"):
        build_index(spark,
                    docs.where((F.col("doc_id") >= 100)
                               & (F.col("doc_id") < 150)),
                    p, shard_size=256, block_size=32)
    with pytest.raises(ValueError, match="register config mismatch"):
        build_index(spark, docs.limit(50), p, shard_size=64,
                    block_size=32, alphabet="fold")


def test_build_extends_existing_register_with_inherited_layout(
        spark, docs, tmp_path):
    from idzebra_spark.api import ZebraSpark

    p = str(tmp_path / "idx")
    ZebraSpark(spark, p).build(docs.where(F.col("doc_id") < 100),
                               shard_size=64, block_size=32)
    # a fresh handle, NO layout options: build() inherits
    # shard_size=64 from build_meta, so the idempotent re-build
    # neither trips the config guard (a bare CLI re-run would
    # otherwise present the engine default 4096) nor rebuilds done
    # shards; growing the corpus is update()'s job (sha-diff), which
    # inherits the same stored layout
    z2 = ZebraSpark(spark, p)
    z2.build(docs.where(F.col("doc_id") < 100))  # resume no-op
    assert z2.index.stats()[0] == 100
    z2.update(docs.where(F.col("doc_id") < 150))
    n, _ = z2.index.stats()
    want = docs.where(F.col("doc_id") < 150).count()
    assert n == want


def test_local_fs_path_forms():
    from idzebra_spark.meta import _local_fs_path

    assert _local_fs_path("/a/b") == "/a/b"
    assert _local_fs_path("rel/path") == "rel/path"
    assert _local_fs_path("file:/a/b") == "/a/b"
    assert _local_fs_path("file:///a/b") == "/a/b"
    assert _local_fs_path("file://host/a") is None
    assert _local_fs_path("hdfs:/a") is None
    assert _local_fs_path("s3a://bucket/a") is None


# -------------------------------------------- decode-rate reporting

def test_decode_rate_reports_stub_fraction(spark):
    from idzebra_spark.operators.multimodal import (
        decode_rate, extract_features, synth_media)

    rates = {r["codec"]: r for r in
             decode_rate(extract_features(synth_media(spark, 60))).collect()}
    # real codecs (jpeg included as of round 4) decode fully; the
    # remaining video stub is an honest 0
    for codec, r in rates.items():
        if codec in ("ppm", "bmp", "png", "jpeg", "wav"):
            assert r["decoded_rate_milli"] == 1000, codec
        elif codec.startswith("h264"):
            assert r["decoded_rate_milli"] == 0, codec
        assert r["n"] >= r["n_decoded"]
    assert "jpeg" in rates


# ------------------------------------------------ consistency check

@pytest.fixture()
def small_index(spark, docs, tmp_path):
    from idzebra_spark.operators.segment import build_index

    p = str(tmp_path / "idx")
    build_index(spark, docs.limit(200), p, shard_size=64, block_size=32)
    return p


def test_check_clean_index_passes(spark, small_index):
    from idzebra_spark.operators.check import check_index

    r = check_index(spark, small_index)
    assert r["ok"], r
    assert all(v == 0 for v in r["violations"].values())


def test_check_catches_missing_norms(spark, docs, tmp_path):
    import shutil

    from idzebra_spark.operators.check import check_index
    from idzebra_spark.operators.segment import build_index, update_index

    p = str(tmp_path / "idx")
    build_index(spark, docs.limit(200), p, shard_size=64, block_size=32)
    update_index(spark, docs.limit(260), p)
    # drop the UPDATE batch's norms: the register still opens (batch 0
    # remains) but the live updated shards have no norm rows
    shutil.rmtree(f"{p}/norms/batch=b00001")
    r = check_index(spark, p, full=False)
    assert not r["ok"]
    assert r["violations"]["norms_vs_doc_meta"] > 0
    assert r["violations"]["lineage_vs_norms"] > 0


def test_check_reports_unreadable_register(spark, small_index):
    import shutil

    from idzebra_spark.operators.check import check_index

    shutil.rmtree(f"{small_index}/norms")
    r = check_index(spark, small_index)
    assert not r["ok"]
    assert r["violations"].get("unreadable_register") == 1


def test_check_catches_corrupt_payload(spark, small_index):
    import glob
    import os

    import pyarrow.parquet as pq

    from idzebra_spark.operators.check import check_index

    # truncate one block's docids payload: metadata still says n_docs
    # rows, the varint stream decodes short → payload violation (and
    # the truncated stream no longer matches the dictionary partials)
    files = sorted(glob.glob(f"{small_index}/blocks/batch=*/*.parquet"))
    orig = pq.read_table(files[0])
    t = orig.to_pandas()
    t.loc[0, "docids_bin"] = bytes(t.loc[0, "docids_bin"])[:1]
    import pyarrow as pa

    # preserve the exact parquet schema (pandas would widen int32 →
    # int64 and break the multi-file scan)
    pq.write_table(pa.Table.from_pandas(t, schema=orig.schema), files[0])
    # drop the stale Hadoop CRC sidecar — otherwise the FS layer
    # reports the rewrite as a checksum error before the decode check
    # ever sees the payload (also a catch, but not the one under test)
    crc = os.path.join(os.path.dirname(files[0]),
                       "." + os.path.basename(files[0]) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    spark.catalog.clearCache()
    r = check_index(spark, small_index)
    assert not r["ok"]
    assert r["violations"]["block_payload_decode"] > 0


def test_check_cli_verb(spark, docs, tmp_path, capsys):
    from idzebra_spark.__main__ import main
    from idzebra_spark.operators.segment import build_index

    p = str(tmp_path / "idx")
    build_index(spark, docs.limit(100), p, shard_size=64, block_size=32)
    assert main(["check", "--index", p]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["ok"] is True

    import shutil

    shutil.rmtree(f"{p}/norms/batch=b00000")
    assert main(["check", "--index", p, "--quick"]) == 1
