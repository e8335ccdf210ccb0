"""Round-5 additions: match-spec record identity, crash-safe
build_meta swap, facade-state rollback on a rejected config, and the
post-reindex dictionary-partials check."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from idzebra_spark.operators.segment import (
    build_index,
    read_build_meta,
    update_index,
)
from idzebra_spark.operators.wand import SegmentIndex


@pytest.fixture(scope="module")
def keyed_docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .withColumn("mkey", F.concat(F.lit("k"), F.col("doc_id")))
        .cache()
    )


def _rekeyed(docs, id_offset, touch_mod=3):
    """Crawl-style re-key: every doc gets a new external id; content
    of the id%touch_mod==0 third changes; the logical key is stable."""
    return docs.select(
        (F.col("doc_id") + id_offset).alias("doc_id"),
        F.when(F.col("doc_id") % touch_mod == 0,
               F.concat(F.col("text"), F.lit(" zzupdated")))
        .otherwise(F.col("text")).alias("text"),
        "mkey",
    )


class TestMatchKeyUpdate:
    def test_sysno_preserved_and_scores_canonical(self, spark, keyed_docs):
        """extract.c:405-556/:927-1000 — the match spec resolves an
        incoming record to the EXISTING internal id; serving shows
        original ids with post-update content."""
        base = tempfile.mkdtemp(prefix="idz_mk_")
        p, p2 = base + "/idx", base + "/fresh"
        build_index(spark, keyed_docs, p, shard_size=64, block_size=32,
                    match_cols=["mkey"])
        m = update_index(spark, _rekeyed(keyed_docs, 10_000_000), p)
        assert 0 < m["changed_shards"]

        # canonical twin: fresh build of the same logical corpus under
        # the ORIGINAL ids
        exp = keyed_docs.select(
            "doc_id",
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.col("text"), F.lit(" zzupdated")))
            .otherwise(F.col("text")).alias("text"))
        build_index(spark, exp, p2, shard_size=64, block_size=32)
        got = SegmentIndex(spark, p).topk(["merge", "sort"], 10).collect()
        want = SegmentIndex(spark, p2).topk(["merge", "sort"], 10).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        assert max(r["doc_id"] for r in got) < 10_000_000
        shutil.rmtree(base, ignore_errors=True)

    def test_rekey_only_is_zero_work(self, spark, keyed_docs):
        """Same content under new external ids → NO shard rebuilt —
        the scenario plain doc_id diffing would rebuild entirely."""
        base = tempfile.mkdtemp(prefix="idz_mk0_")
        p = base + "/idx"
        build_index(spark, keyed_docs, p, shard_size=64, block_size=32,
                    match_cols=["mkey"])
        rekey = keyed_docs.select(
            (F.col("doc_id") + 77_000_000).alias("doc_id"), "text", "mkey")
        m = update_index(spark, rekey, p)
        assert m["changed_shards"] == 0
        shutil.rmtree(base, ignore_errors=True)

    def test_content_change_same_key_same_id(self, spark, keyed_docs):
        """A doc whose content changes but whose key (and id) does not
        — the direct VERDICT ask — is re-indexed in place."""
        base = tempfile.mkdtemp(prefix="idz_mk1_")
        p = base + "/idx"
        build_index(spark, keyed_docs, p, shard_size=64, block_size=32,
                    match_cols=["mkey"])
        upd = keyed_docs.select(
            "doc_id",
            F.when(F.col("doc_id") == 7,
                   F.lit("qqzonlyword qqzonlyword"))
            .otherwise(F.col("text")).alias("text"),
            "mkey")
        m = update_index(spark, upd, p)
        assert m["changed_shards"] == 1
        idx = SegmentIndex(spark, p)
        hits = idx.topk(["qqzonlyword"], 5).collect()
        assert [r["doc_id"] for r in hits] == [7]
        shutil.rmtree(base, ignore_errors=True)

    def test_deletion_by_absent_key(self, spark, keyed_docs):
        base = tempfile.mkdtemp(prefix="idz_mkd_")
        p = base + "/idx"
        build_index(spark, keyed_docs, p, shard_size=64, block_size=32,
                    match_cols=["mkey"])
        survivors = keyed_docs.where(F.col("doc_id") % 7 != 0)
        update_index(spark, survivors, p)
        idx = SegmentIndex(spark, p)
        n, _ = idx.stats()
        assert n == survivors.count()
        shutil.rmtree(base, ignore_errors=True)

    def test_duplicate_keys_net_out(self, spark, keyed_docs):
        """Two incoming rows with one key: highest external id wins,
        deterministically; after the update the key has ONE live doc."""
        base = tempfile.mkdtemp(prefix="idz_mkdup_")
        p = base + "/idx"
        small = keyed_docs.where(F.col("doc_id") < 50)
        build_index(spark, small, p, shard_size=16, block_size=8,
                    match_cols=["mkey"])
        dup = small.select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.lit("dupwinner content").alias("text"),
            F.lit("k3").alias("mkey"),
        ).where(F.col("doc_id") == 1005)  # second row for key k3
        update_index(spark, small.unionByName(dup), p)
        idx = SegmentIndex(spark, p)
        n, _ = idx.stats()
        assert n == small.count()  # one live doc per key, none added
        hits = idx.topk(["dupwinner"], 5).collect()
        assert [r["doc_id"] for r in hits] == [3]  # sysno of key k3
        shutil.rmtree(base, ignore_errors=True)

    def test_matchkey_survives_compaction(self, spark, keyed_docs):
        """compact_index rewrites doc_meta with every column, so the
        stored match_key — and therefore match-resolution — must keep
        working across a compaction."""
        from idzebra_spark.operators.segment import compact_index

        base = tempfile.mkdtemp(prefix="idz_mkc_")
        p = base + "/idx"
        build_index(spark, keyed_docs, p, shard_size=64, block_size=32,
                    match_cols=["mkey"])
        update_index(spark, _rekeyed(keyed_docs, 10_000_000), p)
        compact_index(spark, p)
        # post-compact: a pure re-key must still be zero work...
        m = update_index(
            spark,
            _rekeyed(keyed_docs, 20_000_000), p)
        assert m["changed_shards"] == 0
        # ...and identity still resolves to the original ids
        idx = SegmentIndex(spark, p)
        hits = idx.topk(["zzupdated"], 5).collect()
        assert hits and max(r["doc_id"] for r in hits) < 10_000_000
        shutil.rmtree(base, ignore_errors=True)

    def test_match_update_without_built_keys_raises(self, spark, keyed_docs):
        base = tempfile.mkdtemp(prefix="idz_mkerr_")
        p = base + "/idx"
        build_index(spark, keyed_docs, p, shard_size=64, block_size=32)
        with pytest.raises(ValueError, match="match_cols"):
            update_index(spark, keyed_docs, p, match_cols=["mkey"])
        shutil.rmtree(base, ignore_errors=True)


class TestBuildMetaCrashSafety:
    def test_old_fallback_readable(self, spark, keyed_docs):
        """A crash between the rename-aside and the publish leaves
        build_meta._old only — read_build_meta must still return the
        prior config (ADVICE r4: a committed index must never open
        with engine defaults)."""
        base = tempfile.mkdtemp(prefix="idz_bm_")
        p = base + "/idx"
        build_index(spark, keyed_docs.select("doc_id", "text"), p,
                    shard_size=64, block_size=32)
        meta = read_build_meta(spark, p)
        assert meta["shard_size"] == 64
        os.rename(p + "/build_meta", p + "/build_meta._old")
        assert read_build_meta(spark, p)["shard_size"] == 64
        shutil.rmtree(base, ignore_errors=True)


class TestFacadeRollback:
    def test_rejected_config_keeps_old_alphabet(self, spark, keyed_docs):
        """api ADVICE fix: a build() rejected by the register-config
        guard must NOT install the rejected charmap on the handle —
        the next search would fold terms with the wrong alphabet and
        silently return 0 hits."""
        from idzebra_spark.api import ZebraSpark

        base = tempfile.mkdtemp(prefix="idz_fac_")
        p = base + "/idx"
        docs = keyed_docs.select("doc_id", "text")
        z = ZebraSpark(spark, p)
        z.build(docs, shard_size=64, block_size=32)
        before = [tuple(r) for r in z.search("merge", 5).collect()]
        with pytest.raises(ValueError):
            z.build(docs, shard_size=64, block_size=32, alphabet="fold")
        assert [tuple(r) for r in z.search("merge", 5).collect()] == before
        shutil.rmtree(base, ignore_errors=True)


class TestCheckAfterReindex:
    def test_dictionary_partials_checked(self, spark, keyed_docs):
        """After a reindex, check 2 compares the live dictionary rows
        with the live block metadata per (shard, term), so it passes
        on the updated index and catches a corrupted partial of the
        reindex batch."""
        from idzebra_spark.operators.check import check_index

        base = tempfile.mkdtemp(prefix="idz_chk_")
        p = base + "/idx"
        docs = keyed_docs.select("doc_id", "text")
        build_index(spark, docs, p, shard_size=64, block_size=32)
        upd = docs.select(
            "doc_id",
            F.when(F.col("doc_id") == 3, F.lit("different now"))
            .otherwise(F.col("text")).alias("text"))
        update_index(spark, upd, p)
        rep = check_index(spark, p, full=False)
        assert rep["ok"], rep
        assert "dictionary_vs_blocks" in rep["violations"]

        # corrupt the reindex batch's dictionary partial → must fire
        import glob

        import pandas as pd
        import pyarrow.parquet as pq

        batches = sorted(glob.glob(p + "/dictionary/batch=*"))
        part = glob.glob(batches[-1] + "/*.parquet")[0]
        tbl = pq.read_table(part)
        pdf = tbl.to_pandas()
        pdf.loc[0, "df"] = pdf.loc[0, "df"] + 5
        crc = os.path.join(os.path.dirname(part),
                           "." + os.path.basename(part) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
        import pyarrow as pa

        pq.write_table(pa.Table.from_pandas(pdf, schema=tbl.schema), part)
        rep2 = check_index(spark, p, full=False)
        assert rep2["violations"]["dictionary_vs_blocks"] > 0
        shutil.rmtree(base, ignore_errors=True)
