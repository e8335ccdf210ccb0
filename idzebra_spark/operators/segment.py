"""Segment builder: the distributed successor of Zebra's
dict + ISAM-B register build.

Zebra's write path (SURVEY.md §2.5) is: extract keys → 8 MB sorted
runs (/root/reference/index/key_block.c:259-368) → N-way heap merge
into a term dictionary + per-term B-tree of delta+varint-compressed
postings (/root/reference/index/kinput.c:709-799,
/root/reference/isamb/isamb.c:1266-1330, codec
/root/reference/util/it_key.c:160-254), committed via shadow pages
(/root/reference/bfile/commit.c).

The Spark-first redesign is **document-sharded** (the architecture
every horizontally-scaled search engine converges on): docids are
range-bucketed into shards of ``shard_size`` docs; one shuffle
(groupBy shard) builds a complete mini-index per shard inside a single
Arrow-batched kernel. Term-frequency skew ('int'/'return' in ~every
doc) is handled *structurally*: a head term's postings are split
across shards by docid range, and every shard group is bounded by
``shard_size × avgdl`` tokens regardless of term distribution — no
hot shuffle key exists. Shards align across terms, so query-time
scoring is embarrassingly parallel per shard with no overlap joins.

On-disk layout (all parquet, under ``path/``):

- ``blocks/batch=<id>/``     (term, shard, block_seq, n_docs,
                              first_docid, last_docid, max_tf, sum_tf,
                              docids_bin, tfs_bin, pos_bin)
  — posting blocks: docid-delta varint + varint tfs + per-doc-reset
  delta varint positions; first/last docid + max_tf are the
  block-max metadata driving WAND pruning. Files are range-partitioned
  and sorted by term so parquet min/max stats prune scans by term.
- ``norms/batch=<id>/``      (shard, n_docs, min_dl, docids_bin,
                              doclens_bin) — per-shard doc lengths
  (BM25 norms), the analogue of Zebra's sort/zinfo doc stats.
- ``dictionary/batch=<id>/`` (term, df, cf, max_tf, n_blocks) —
  per-batch partials; global dictionary = groupBy(term).sum — the
  second-stage merge mirroring kinput.c's heap merge.
- ``doc_meta/batch=<id>/``   (shard, doc_id, doclen, sha256) — the
  per-row content-sha256 invariant carrier.
- ``stats/batch=<id>/``      (n_docs, sum_dl, n_postings) partials.
- ``lineage/``               (batch, build_seq, shard, docs_indexed,
                              postings_emitted, bytes_compressed)
  — written LAST, one row per completed shard. A batch exists iff its
  lineage rows exist: readers resolve committed batches from lineage
  only, so a crash mid-write leaves invisible orphan files — exactly
  the shadow-page/commit semantics of bfile/commit.c, and what an
  Iceberg snapshot commit gives on a real cluster. Resume = skip
  shards already present in lineage.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from idzebra_spark.functions.codec import (
    delta_varint_encode,
    varint_encode,
    varint_encode_offsets,
)
from idzebra_spark.functions.tokenizer import tokenize, tokenize_array

DEFAULT_SHARD_SIZE = 4096
DEFAULT_BLOCK_SIZE = 128


def shard_expr(shard_size: int) -> F.Column:
    """floor(doc_id / shard_size) in pure INTEGER arithmetic.

    ``pmod`` is non-negative, so (doc_id - pmod) is exactly divisible
    and ``div`` (bigint division) equals floor for any sign — no
    float-division truncation-vs-floor mismatch for negative ids and
    no double rounding near 2^53 or at exact shard boundaries."""
    s = int(shard_size)
    return F.expr(f"(doc_id - pmod(doc_id, {s})) div {s}").cast("long")

BLOCK_SCHEMA = T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("shard", T.LongType()),
    T.StructField("block_seq", T.IntegerType()),
    T.StructField("n_docs", T.IntegerType()),
    T.StructField("first_docid", T.LongType()),
    T.StructField("last_docid", T.LongType()),
    T.StructField("max_tf", T.IntegerType()),
    T.StructField("sum_tf", T.LongType()),
    T.StructField("docids_bin", T.BinaryType()),
    T.StructField("tfs_bin", T.BinaryType()),
    T.StructField("pos_bin", T.BinaryType()),
])

NORMS_SCHEMA = T.StructType([
    T.StructField("shard", T.LongType()),
    T.StructField("n_docs", T.IntegerType()),
    T.StructField("min_dl", T.IntegerType()),
    T.StructField("sum_dl", T.LongType()),
    T.StructField("docids_bin", T.BinaryType()),
    T.StructField("doclens_bin", T.BinaryType()),
])


def _build_shard_blocks(block_size: int, store_positions: bool):
    """Kernel: encode all posting blocks for one shard.

    Input pdf is PRE-AGGREGATED in the JVM: one row per posting
    ``(shard, term, doc_id, tf[, positions])`` — the tf groupBy runs
    with map-side combine and whole-stage codegen, so the Arrow
    boundary moves ~avgtf× fewer rows and Python only does block
    chunking + codec calls (vectorized numpy, no per-row Python)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame([], columns=[f.name for f in BLOCK_SCHEMA.fields])
        shard = int(pdf["shard"].iloc[0])
        codes, uniques = pd.factorize(pdf["term"], sort=True)
        doc = pdf["doc_id"].to_numpy(np.int64)
        tf = pdf["tf"].to_numpy(np.int64)
        order = np.lexsort((doc, codes))
        codes, doc, tf = codes[order], doc[order], tf[order]
        n = len(codes)

        # position within each term's posting run
        term_change = np.empty(n, dtype=bool)
        term_change[0] = True
        term_change[1:] = codes[1:] != codes[:-1]
        term_starts_all = np.nonzero(term_change)[0]
        idx_in_term = np.arange(n, dtype=np.int64) - np.repeat(
            term_starts_all, np.diff(np.append(term_starts_all, n))
        )
        # block boundaries: every block_size postings within a term
        # (a block never crosses a term: idx resets to 0 at term start)
        is_bs = (idx_in_term % block_size) == 0
        bs_idx = np.nonzero(is_bs)[0]
        be_idx = np.append(bs_idx[1:], n)

        # block metadata, all reduceat/fancy-indexed — no per-block math
        n_docs = (be_idx - bs_idx).astype(np.int32)
        first = doc[bs_idx]
        last = doc[be_idx - 1]
        max_tf = np.maximum.reduceat(tf, bs_idx).astype(np.int32)
        sum_tf = np.add.reduceat(tf, bs_idx)
        block_seq = (idx_in_term[bs_idx] // block_size).astype(np.int32)
        terms = np.asarray(uniques, dtype=object)[codes[bs_idx]]

        # payloads: ONE varint encode per column for the whole shard,
        # then per-block byte slicing via the value offsets
        dd = np.empty(n, dtype=np.uint64)
        dd[1:] = (doc[1:] - doc[:-1]).astype(np.uint64)
        dd[bs_idx] = doc[bs_idx].astype(np.uint64)  # reset per block
        dbuf, doff = varint_encode_offsets(dd)
        tbuf, toff = varint_encode_offsets(tf.astype(np.uint64))
        docids_bin = [dbuf[doff[s]:doff[e]] for s, e in zip(bs_idx, be_idx)]
        tfs_bin = [tbuf[toff[s]:toff[e]] for s, e in zip(bs_idx, be_idx)]

        if store_positions:
            import itertools

            pos_lists = pdf["positions"].to_numpy()[order]
            total = int(tf.sum())
            # one C-level iteration over the flattened lists — not a
            # Python np.asarray per posting row
            p = np.fromiter(
                itertools.chain.from_iterable(pos_lists),
                dtype=np.int64, count=total,
            ) if n else np.empty(0, np.int64)
            tok_start = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(tf, out=tok_start[1:])
            pdelta = np.empty(p.size, dtype=np.uint64)
            if p.size:
                pdelta[1:] = (p[1:] - p[:-1]).astype(np.uint64)
                starts = tok_start[:-1]
                pdelta[starts] = p[starts].astype(np.uint64)  # reset per doc
            pbuf, poff = varint_encode_offsets(pdelta)
            pos_bin = [
                pbuf[poff[tok_start[s]]:poff[tok_start[e]]]
                for s, e in zip(bs_idx, be_idx)
            ]
        else:
            pos_bin = [b""] * len(bs_idx)

        return pd.DataFrame({
            "term": terms,
            "shard": np.full(len(bs_idx), shard, dtype=np.int64),
            "block_seq": block_seq,
            "n_docs": n_docs,
            "first_docid": first,
            "last_docid": last,
            "max_tf": max_tf,
            "sum_tf": sum_tf,
            "docids_bin": docids_bin,
            "tfs_bin": tfs_bin,
            "pos_bin": pos_bin,
        })

    return fn


def _build_shard_blocks_from_docs(block_size: int, store_positions: bool):
    """Kernel: encode all posting blocks for one shard straight from
    per-DOC token arrays ``(shard, doc_id, toks)``.

    The r6 replacement for the explode → groupBy(shard, term, doc_id)
    → collect_list(sort_array) pipeline that fed
    :func:`_build_shard_blocks`: the posting-level aggregation (one
    shuffled row per occurrence, one collect_list array per posting)
    was the single most expensive build stage (measured 5.4 s of a
    9.7 s sf1.0 build as a noop). Here the shuffle moves one row per
    DOC (the token array — the same bytes as the text), and the
    tf/position aggregation is a vectorized factorize + lexsort in the
    kernel. Output blocks are byte-identical: the same
    ``factorize(sort=True)`` term order, the same (term, doc) posting
    order, and positions are 1-based token indexes exactly as
    ``tokenize`` assigns them."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame([], columns=[f.name for f in BLOCK_SCHEMA.fields])
        shard = int(pdf["shard"].iloc[0])
        tok_lists = pdf["toks"].to_numpy()
        lens = np.fromiter((len(x) for x in tok_lists), np.int64,
                           count=len(pdf))
        total = int(lens.sum())
        if total == 0:
            return pd.DataFrame([], columns=[f.name for f in BLOCK_SCHEMA.fields])
        doc_all = np.repeat(pdf["doc_id"].to_numpy(np.int64), lens)
        starts = np.zeros(lens.size, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        # 1-based position within the doc (tokenize's posexplode + 1)
        pos_all = (np.arange(total, dtype=np.int64)
                   - np.repeat(starts, lens) + 1)
        flat = np.concatenate([np.asarray(x, dtype=object)
                               for x in tok_lists])
        codes_all, uniques = pd.factorize(flat, sort=True)
        # order postings (term, doc, pos); pos is ascending within
        # (term, doc) after the stable lexsort, which is exactly the
        # sort_array(collect_list(pos)) the aggregate form produced
        order = np.lexsort((pos_all, doc_all, codes_all))
        codes_all, doc_all, pos_all = (
            codes_all[order], doc_all[order], pos_all[order])

        # collapse occurrences → postings: run boundaries of (term, doc)
        new_post = np.empty(total, dtype=bool)
        new_post[0] = True
        new_post[1:] = (codes_all[1:] != codes_all[:-1]) | (
            doc_all[1:] != doc_all[:-1])
        p_starts = np.nonzero(new_post)[0]
        tf = np.diff(np.append(p_starts, total)).astype(np.int64)
        codes = codes_all[p_starts]
        doc = doc_all[p_starts]
        n = codes.size

        # from here the block assembly is identical to
        # _build_shard_blocks (same metadata, same codecs)
        term_change = np.empty(n, dtype=bool)
        term_change[0] = True
        term_change[1:] = codes[1:] != codes[:-1]
        term_starts_all = np.nonzero(term_change)[0]
        idx_in_term = np.arange(n, dtype=np.int64) - np.repeat(
            term_starts_all, np.diff(np.append(term_starts_all, n))
        )
        is_bs = (idx_in_term % block_size) == 0
        bs_idx = np.nonzero(is_bs)[0]
        be_idx = np.append(bs_idx[1:], n)

        n_docs = (be_idx - bs_idx).astype(np.int32)
        first = doc[bs_idx]
        last = doc[be_idx - 1]
        max_tf = np.maximum.reduceat(tf, bs_idx).astype(np.int32)
        sum_tf = np.add.reduceat(tf, bs_idx)
        block_seq = (idx_in_term[bs_idx] // block_size).astype(np.int32)
        terms = np.asarray(uniques, dtype=object)[codes[bs_idx]]

        dd = np.empty(n, dtype=np.uint64)
        dd[1:] = (doc[1:] - doc[:-1]).astype(np.uint64)
        dd[bs_idx] = doc[bs_idx].astype(np.uint64)
        dbuf, doff = varint_encode_offsets(dd)
        tbuf, toff = varint_encode_offsets(tf.astype(np.uint64))
        docids_bin = [dbuf[doff[s]:doff[e]] for s, e in zip(bs_idx, be_idx)]
        tfs_bin = [tbuf[toff[s]:toff[e]] for s, e in zip(bs_idx, be_idx)]

        if store_positions:
            # pos_all is already flat in posting order; per-doc delta
            # with a reset at each posting's first occurrence
            tok_start = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(tf, out=tok_start[1:])
            pdelta = np.empty(total, dtype=np.uint64)
            pdelta[1:] = (pos_all[1:] - pos_all[:-1]).astype(np.uint64)
            pstarts = tok_start[:-1]
            pdelta[pstarts] = pos_all[pstarts].astype(np.uint64)
            pbuf, poff = varint_encode_offsets(pdelta)
            pos_bin = [
                pbuf[poff[tok_start[s]]:poff[tok_start[e]]]
                for s, e in zip(bs_idx, be_idx)
            ]
        else:
            pos_bin = [b""] * len(bs_idx)

        return pd.DataFrame({
            "term": terms,
            "shard": np.full(len(bs_idx), shard, dtype=np.int64),
            "block_seq": block_seq,
            "n_docs": n_docs,
            "first_docid": first,
            "last_docid": last,
            "max_tf": max_tf,
            "sum_tf": sum_tf,
            "docids_bin": docids_bin,
            "tfs_bin": tfs_bin,
            "pos_bin": pos_bin,
        })

    return fn


def _build_norms(pdf: pd.DataFrame) -> pd.DataFrame:
    """Kernel: per-shard norms row. Input (shard, doc_id, doclen)."""
    if len(pdf) == 0:
        return pd.DataFrame([], columns=[f.name for f in NORMS_SCHEMA.fields])
    pdf = pdf.sort_values("doc_id")
    d = pdf["doc_id"].to_numpy(np.uint64)
    dl = pdf["doclen"].to_numpy(np.uint64)
    return pd.DataFrame(
        [(
            int(pdf["shard"].iloc[0]), len(d), int(dl.min()), int(dl.sum()),
            delta_varint_encode(d), varint_encode(dl),
        )],
        columns=[f.name for f in NORMS_SCHEMA.fields],
    )


def content_sha(text_col: str, field_cols: list[str]) -> F.Column:
    """Per-row content invariant. With indexed fields the hash covers
    the field values too, so a field-only edit is seen by the
    update-diff (null fields hash as empty)."""
    if not field_cols:
        return F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)
    return F.sha2(
        F.concat_ws(
            "\x1e",
            F.coalesce(F.col(text_col), F.lit("")),
            *[F.coalesce(F.col(c).cast("string"), F.lit(""))
              for c in field_cols],
        ),
        256,
    )


def match_key_expr(match_cols: list[str]) -> F.Column:
    """User-defined record identity — Zebra's match spec
    (/root/reference/index/extract.c:405-556 get_match_from_spec:
    record keys assembled from chosen (set,use) fields / $filename /
    literals, resolved through the matchDict at :927-1000). The Spark
    shape is a sha256 over the chosen columns: two corpus rows with
    equal match-column values are the SAME logical record, whatever
    their doc_id or content hash."""
    return F.sha2(
        F.concat_ws(
            "\x1f",
            *[F.coalesce(F.col(c).cast("string"), F.lit(""))
              for c in match_cols],
        ),
        256,
    )


def fielded_postings(src: DataFrame,
                     fields: dict[str, list[str]],
                     alphabet: str = "ascii",
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Composite-key postings for extra indexed fields, unioned with
    the body-text postings. Zebra prefixes every dictionary term with
    the SU-encoded field ordinal (/root/reference/util/su_codec.c:
    32-76, applied at /root/reference/index/rpnsearch.c:1269-1272); a
    ``field\\x1fterm`` composite string key is the same trick.
    Index types (tab/default.idx): 'w' = word-split (one posting per
    token, field-local positions), 'p' = complete-field (the whole
    normalized value is ONE token at pos 1,
    /root/reference/index/extract.c:1723-1731)."""
    from idzebra_spark.operators.boolean import FIELD_SEP

    parts = [tokenize(src, text_col, id_col, alphabet)]
    for col in fields.get("w", []):
        parts.append(
            tokenize(src, col, id_col, alphabet).withColumn(
                "term", F.concat(F.lit(col + FIELD_SEP), F.col("term"))
            )
        )
    for col in fields.get("p", []):
        # an empty/absent field value must NOT become the phantom term
        # 'field\x1f' (the bare composite prefix passes the downstream
        # null/empty guard because the prefix itself is non-empty)
        joined = F.array_join(tokenize_array(F.col(col), alphabet), " ")
        parts.append(
            src.select(
                F.col(id_col).alias("doc_id"),
                F.when(
                    joined != "", F.concat(F.lit(col + FIELD_SEP), joined)
                ).alias("term"),
                F.lit(1).cast("int").alias("pos"),
            )
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), parts)


def _field_cols(fields: dict[str, list[str]] | None) -> list[str]:
    if not fields:
        return []
    return sorted({c for cols in fields.values() for c in cols})


def _lineage_path(path: str) -> str:
    return f"{path}/lineage"


def read_lineage(spark: SparkSession, path: str) -> DataFrame | None:
    try:
        return spark.read.parquet(_lineage_path(path))
    except Exception:
        return None


def _alphabet_to_meta(alphabet):
    """Charmap objects serialize by their compiled pieces (the .chr
    source isn't retained); built-in names pass through."""
    if isinstance(alphabet, str):
        return alphabet
    return {"value_set": alphabet.value_set,
            "case_src": alphabet.case_src,
            "case_dst": alphabet.case_dst,
            "replaces": [list(p) for p in alphabet.replaces]}


def _alphabet_from_meta(m):
    if isinstance(m, str):
        return m
    from idzebra_spark.functions.charmap import Charmap

    return Charmap(m["value_set"], m["case_src"], m["case_dst"],
                   tuple(tuple(p) for p in m["replaces"]))


def _local_fs_path(path: str) -> str | None:
    """The plain filesystem path when ``path`` is local, else None.

    Handles every Hadoop-accepted local spelling — ``/x``,
    ``file:/x``, ``file:///x`` — and rejects anything with a non-file
    scheme (``hdfs:/x``, ``s3a://b/x``) or a file URI with an
    authority (``file://host/x``): those must go through the Spark
    writer, and returning them verbatim would create a literal
    ``file:`` directory under the driver's cwd."""
    import re

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):(.*)$", path)
    if m is None:
        return path  # no scheme: a plain local path
    scheme, rest = m.group(1).lower(), m.group(2)
    if scheme != "file":
        return None
    if rest.startswith("//"):
        rest = rest[2:]
        if not rest.startswith("/"):
            return None  # file://host/x — an authority, not local
    return rest or None


def write_build_meta(spark: SparkSession, path: str, **params) -> None:
    """Persist the build configuration next to the register — Zebra
    keeps zebra.cfg's charmap/index settings WITH the register (a
    register opened with a different charmap silently misses terms;
    storing the config removes the footgun). One metadata row: written
    driver-side on local filesystems (a whole Spark job for one row
    was a measurable slice of small builds); the Spark text writer
    remains the fallback so remote filesystems (hdfs/s3) still work.
    The on-disk layout (a build_meta/ dir of text lines) is identical
    either way. The local swap is crash-safe for REBUILDS too: the
    old meta is renamed to ``build_meta._old`` (not rmtree'd) before
    the new one lands, and :func:`read_build_meta` falls back to
    ``._old`` — so a crash mid-swap can never leave a COMMITTED index
    (prior lineage intact) with no readable meta, which would make a
    later update silently fall back to engine defaults and bypass the
    register-config guard."""
    import json

    local = _local_fs_path(path)
    if local is not None:
        import os
        import shutil

        d = os.path.join(local, "build_meta")
        tmp = d + "._tmp"
        old = d + "._old"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-00000"), "w") as fh:
            fh.write(json.dumps(params) + "\n")
        # Clear ._old ONLY when a current meta exists to take its
        # place: after a prior crash that left ._old as the only
        # readable copy (build_meta absent), deleting it first would
        # open a window where a second crash leaves a COMMITTED index
        # with no readable meta at all — the exact state the ._old
        # fallback exists to prevent. ._old is removed only after the
        # new dir is published.
        if os.path.isdir(d):
            shutil.rmtree(old, ignore_errors=True)
            os.rename(d, old)          # keep the prior meta readable
        os.rename(tmp, d)              # atomic publish of the new one
        shutil.rmtree(old, ignore_errors=True)
        return
    spark.createDataFrame([(json.dumps(params),)], "meta string") \
        .coalesce(1).write.mode("overwrite").text(f"{path}/build_meta")


def read_build_meta(spark: SparkSession, path: str) -> dict | None:
    import json

    local = _local_fs_path(path)
    if local is not None:
        import os

        # build_meta._old is the crash-window fallback: a rebuild
        # renames the prior meta aside before publishing the new one.
        for d in (os.path.join(local, "build_meta"),
                  os.path.join(local, "build_meta._old")):
            try:
                for name in sorted(os.listdir(d)):
                    if name.startswith("part-"):
                        with open(os.path.join(d, name)) as fh:
                            return json.loads(fh.readline())
            except OSError:
                continue
        return None
    try:
        rows = spark.read.text(f"{path}/build_meta").collect()
        return json.loads(rows[0][0])
    except Exception:
        return None


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_size: int = DEFAULT_SHARD_SIZE,
    block_size: int = DEFAULT_BLOCK_SIZE,
    store_positions: bool = True,
    resume: bool = True,
    fail_after_shards: int | None = None,
    reindex_shards: "list[int] | DataFrame | None" = None,
    fields: dict[str, list[str]] | None = None,
    alphabet: str = "ascii",
    pretokenized: bool = False,
    cache_source: bool = True,
    match_cols: list[str] | None = None,
) -> dict:
    """Build (or resume) the segment index at ``path``.

    ``match_cols``: optional user-defined record-identity columns
    (Zebra's match spec, extract.c:405-556) — their sha256 is stored
    per doc in doc_meta as ``match_key`` and persisted in build_meta,
    so ``update_index`` can resolve incoming records to existing
    internal doc_ids by logical key instead of by doc_id (the sysno
    is preserved across re-keyed crawls). Not supported with
    ``pretokenized`` streams.

    ``cache_source``: the projected corpus is consumed twice (doc
    metadata scan + tokenize scan); caching it saves the second read
    and is right whenever the projection fits cluster storage memory.
    For corpora near the 100 TB scale pass ``cache_source=False`` —
    re-reading a column-pruned parquet scan is cheaper than spilling
    terabytes of raw text through executor disks.

    ``fields``: optional extra indexed fields beyond the body text —
    ``{"w": ["source"], "p": ["lang"]}`` (Zebra index types: word /
    complete-field). Their postings carry composite ``field\\x1fterm``
    dictionary keys (see :func:`fielded_postings`), so the WAND/rset
    engines query them like any other term. BM25 doclen/avgdl remain
    body-text stats (field keys don't inflate norms).

    ``fail_after_shards`` is a test hook: restrict this batch to the
    first N pending shards, simulating a crash/partial build that a
    subsequent resume call must complete without double counting.

    ``reindex_shards``: force-rebuild exactly these shards from the
    given corpus snapshot (shard-granular copy-on-write — the update
    path; readers resolve the latest build_seq per shard). A lineage
    tombstone row (docs_indexed=0) is written even for shards whose
    docs were all deleted, so the stale batch stops being visible.
    ``pretokenized``: the corpus IS a posting stream ``(doc_id, term,
    pos[, field])`` — the safari record filter's contract
    (/root/reference/index/mod_safari.c:118-190: the producer supplies
    record ids, seqnos and index names; no tokenization happens).
    doclen/norms become the per-doc posting count, the per-row content
    invariant hashes the sorted (field, term, pos) stream, and a
    non-null ``field`` value yields the same composite
    ``field\\x1fterm`` dictionary key as ``fields=`` (and, like the
    text path, does NOT count toward doclen — only body postings do).
    Mutually exclusive with ``fields=``. Caveat: a document with ZERO
    postings in the stream is invisible to the build (no norms row, so
    it is not counted in N/avgdl), whereas a text build gives an
    empty-text doc a doclen-0 row — a safari producer that wants such
    docs ranked must emit at least one posting for them, exactly as
    Zebra only knows records whose extract emitted keys.

    Returns build metrics for the batch.
    """
    lineage = read_lineage(spark, path)
    build_seq = 0
    done_shards = None
    if lineage is not None:
        build_seq = lineage.agg(F.max("build_seq")).collect()[0][0] + 1
        done_shards = lineage.select("shard").distinct()
    batch = f"b{build_seq:05d}"

    # Register-config guard: a committed index can only be extended
    # under ITS OWN configuration. A different shard_size changes the
    # docid→shard mapping, so resume's done-shard diff (and update's
    # changed-shard diff) would compare ids from different bases —
    # measured failure mode: new docs land on "already done" shard
    # ids and are silently dropped. A different charmap/fields map
    # would tokenize new shards differently from old ones (mixed
    # registers). Neither has a safe in-place answer — even
    # resume=False leaves old-basis shards live in lineage — so the
    # only correct ways to change config are a fresh path or deleting
    # the index; this error says so instead of corrupting.
    existing_meta = read_build_meta(spark, path)
    if existing_meta and lineage is not None:
        import json as _json

        want = {"shard_size": shard_size, "block_size": block_size,
                "store_positions": store_positions,
                "pretokenized": pretokenized, "fields": fields,
                "alphabet": _alphabet_to_meta(alphabet),
                "match_cols": match_cols}
        bad_keys = []
        for key, val in want.items():
            got = existing_meta.get(key)
            if _json.dumps(got, sort_keys=True) != _json.dumps(
                    val, sort_keys=True):
                bad_keys.append(f"{key}: index={got!r} requested={val!r}")
        if bad_keys:
            raise ValueError(
                "register config mismatch — this index was built with "
                "a different configuration and cannot be extended "
                "in-place (" + "; ".join(bad_keys) + "). Build into a "
                "fresh path (or delete this index) to change the "
                "register configuration; omit the options to inherit "
                "the stored ones.")

    fcols = _field_cols(fields)
    if pretokenized:
        if fields:
            raise ValueError("pretokenized and fields= are exclusive")
        if match_cols:
            raise ValueError(
                "match_cols is not supported for pretokenized streams "
                "(the safari producer supplies stable record ids "
                "itself, mod_safari.c:118-190)")
        # corpus is the posting stream (mod_safari contract): one row
        # per occurrence; optional `field` column names the index
        src = corpus.select(
            F.col(id_col).alias("doc_id"),
            F.col("term").cast("string").alias("term"),
            F.col("pos").cast("int").alias("pos"),
            (F.col("field").cast("string") if "field" in corpus.columns
             else F.lit(None).cast("string")).alias("field"),
        ).withColumn("shard", shard_expr(shard_size))
    else:
        # null text → '' here, once: downstream doclen would otherwise
        # be size(NULL) = -1 (poisoned BM25 norms) and sha2(NULL) =
        # NULL (update_index would rebuild the shard on every sync)
        mcols = [c for c in (match_cols or []) if c not in fcols]
        src = corpus.select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("text"),
            *[F.col(c) for c in fcols],
            *[F.col(c) for c in mcols],
        ).withColumn("shard", shard_expr(shard_size))

    reindex_df: DataFrame | None = None
    if reindex_shards is not None:
        # list (test convenience) or DataFrame['shard'] (the scale
        # path: update_index passes the changed-shard set as a
        # DataFrame — never a driver-side list of 10^6 shards)
        if isinstance(reindex_shards, DataFrame):
            reindex_df = reindex_shards.select(
                F.col("shard").cast("long")).distinct()
        else:
            reindex_df = spark.createDataFrame(
                [(int(s),) for s in reindex_shards], "shard long")
        src = src.join(reindex_df, "shard", "semi")
    elif resume and done_shards is not None:
        src = src.join(done_shards, "shard", "left_anti")
    if fail_after_shards is not None:
        keep = [
            r["shard"]
            for r in src.select("shard").distinct()
            .orderBy("shard").limit(fail_after_shards).collect()
        ]
        src = src.where(F.col("shard").isin(keep))

    if src.isEmpty() and reindex_shards is None:
        return {"batch": None, "shards": 0, "docs": 0}

    verbose = os.environ.get("IDZEBRA_BUILD_VERBOSE") == "1"
    _t = time.perf_counter()

    def tick(stage: str) -> None:
        nonlocal _t
        if verbose:
            now = time.perf_counter()
            print(f"[build {batch}] {stage}: {now - _t:.2f}s", flush=True)
            _t = now

    if cache_source:
        src = src.cache()
    tick("plan")
    _to_unpersist: list[DataFrame] = []

    # doc_meta: per-row sha256 invariant + doclen — ONE scan, no join
    if pretokenized:
        # doclen = per-doc count of BODY postings (null/empty field) —
        # fielded postings don't inflate BM25 norms, matching the text
        # path where fields=... keys never count toward doclen. The
        # invariant hashes the sorted (field, term, pos) stream so ANY
        # posting edit is a content change to the update-diff.
        meta = src.groupBy("shard", "doc_id").agg(
            F.count(F.when(F.col("field").isNull()
                           | (F.col("field") == ""), 1)).alias("doclen"),
            F.sha2(
                F.concat_ws(
                    " ",
                    F.sort_array(F.collect_list(F.concat_ws(
                        ":", F.coalesce("field", F.lit("")), "term",
                        F.col("pos").cast("string")))),
                ), 256,
            ).alias("sha256"),
        )
    else:
        meta_cols = [
            F.size(tokenize_array(F.col("text"), alphabet)).alias("doclen"),
            content_sha("text", fcols).alias("sha256"),
        ]
        if match_cols:
            meta_cols.append(match_key_expr(match_cols).alias("match_key"))
        meta = src.select("shard", "doc_id", *meta_cols)

    # meta feeds THREE consumers (the doc_meta write, the norms
    # kernel, the lineage doc counts) — without a cache each one
    # re-runs the tokenize+sha scan. The frame is doc-count-sized
    # (~100 B/doc), so pin it under the same fits-in-memory flag as
    # the source cache; the 100 TB path (cache_source=False) keeps
    # re-reading the column-pruned scan instead of spilling.
    if cache_source:
        meta = meta.cache()
        _to_unpersist.append(meta)

    # norms per shard (derived from the same single-scan projection)
    norms = (
        meta.select("shard", "doc_id", "doclen")
        .groupBy("shard")
        .applyInPandas(_build_norms, NORMS_SCHEMA)
    )

    # posting blocks. Stage 1 (JVM, codegen + map-side combine):
    # tokens → (shard, term, doc_id, tf[, positions]) — the partial
    # aggregation shrinks the shuffle by ~avg-tf and keeps the heavy
    # lifting out of Python. Stage 2: balanced regroup by shard, one
    # vectorized encode kernel per shard. Written range-partitioned +
    # sorted by term so query-term predicates prune files via parquet
    # min/max stats.
    if not pretokenized and not fields:
        # r6 fast path (the common body-text build): shuffle ONE row
        # per doc — (shard, doc_id, token array) — and do the whole
        # tf/position aggregation inside the shard kernel (factorize +
        # lexsort, vectorized). The occurrence-level explode and the
        # groupBy(shard, term, doc_id) collect_list(sort_array)
        # aggregation it replaced were the most expensive build stage
        # (5.4 s of a 9.7 s sf1.0 build, noop-isolated); the doc-array
        # shuffle moves the same bytes in ~avgdl× fewer rows. Blocks
        # are byte-identical (same factorize term order, same posting
        # order, same codecs) — pinned by
        # tests/test_round6.py::test_doc_array_build_kernel_parity.
        doc_toks = src.select(
            "shard", "doc_id",
            tokenize_array(F.col("text"), alphabet).alias("toks"),
        )
        blocks = doc_toks.groupBy("shard").applyInPandas(
            _build_shard_blocks_from_docs(block_size, store_positions),
            BLOCK_SCHEMA,
        )
    else:
        if pretokenized:
            from idzebra_spark.operators.boolean import FIELD_SEP

            toks = src.select(
                "doc_id",
                F.when(
                    F.col("field").isNotNull() & (F.col("field") != ""),
                    F.concat(F.col("field"), F.lit(FIELD_SEP), F.col("term")),
                ).otherwise(F.col("term")).alias("term"),
                "pos",
            )
        else:
            toks = fielded_postings(src, fields, alphabet)
        toks = toks.withColumn("shard", shard_expr(shard_size))
        aggs = [F.count("*").alias("tf")]
        if store_positions:
            aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
        # drop null/empty terms (a null 'p' field value yields term=NULL;
        # pandas factorize would code it -1 and negative-index the uniques
        # array, silently corrupting the last term's blocks)
        toks = toks.where(F.col("term").isNotNull() & (F.col("term") != ""))
        tf_rows = toks.groupBy("shard", "term", "doc_id").agg(*aggs)
        blocks = tf_rows.groupBy("shard").applyInPandas(
            _build_shard_blocks(block_size, store_positions), BLOCK_SCHEMA
        )

    # the three pre-commit writes are independent — submit them as
    # concurrent Spark jobs (local scheduler interleaves tasks, keeping
    # cores busy across job boundaries and shrinking the serial
    # fraction; none is visible to readers until lineage commits)
    from concurrent.futures import ThreadPoolExecutor

    def w_meta():
        meta.withColumn("batch", F.lit(batch)).write.mode(
            "append").partitionBy("batch").parquet(f"{path}/doc_meta")

    def w_norms():
        norms.withColumn("batch", F.lit(batch)).write.mode(
            "append").partitionBy("batch").parquet(f"{path}/norms")

    # repartitionByRange needs range bounds, which Spark obtains by
    # SAMPLING its child — without a persist the whole tokenize +
    # shard-kernel pipeline runs twice (once for the sample job, once
    # for the real shuffle). Pin the encoded blocks (they are the
    # compressed index — a few MB per 50k docs) under the same
    # fits-in-memory flag; the 100 TB path keeps the recompute rather
    # than caching an index-sized frame.
    blocks_w = blocks.withColumn("batch", F.lit(batch))
    if cache_source:
        blocks_w = blocks_w.persist()
        _to_unpersist.append(blocks_w)

    def w_blocks():
        (
            blocks_w
            .repartitionByRange(
                max(spark.sparkContext.defaultParallelism, 8), "term")
            .sortWithinPartitions("term", "shard", "block_seq")
            .write.mode("append")
            .partitionBy("batch")
            .parquet(f"{path}/blocks")
        )

    with ThreadPoolExecutor(max_workers=3) as ex:
        futs = [ex.submit(w) for w in (w_meta, w_norms, w_blocks)]
        for f in futs:
            f.result()
    tick("meta+norms+blocks")

    # read back what was written: validates readability and gives true
    # byte accounting for lineage metrics. Cached — three aggregations
    # (dictionary, per-shard metrics, totals) share one scan.
    written = (
        spark.read.parquet(f"{path}/blocks")
        .where(F.col("batch") == batch)
        .select("term", "shard", "n_docs", "sum_tf", "max_tf",
                F.length("docids_bin").alias("len_d"),
                F.length("tfs_bin").alias("len_t"),
                F.length("pos_bin").alias("len_p"))
        .cache()
    )

    # dictionary partial (second-stage merge happens at load/query time)
    (
        written.groupBy("term")
        .agg(
            F.sum("n_docs").alias("df"),
            F.sum("sum_tf").alias("cf"),
            F.max("max_tf").alias("max_tf"),
            F.count("*").alias("n_blocks"),
        )
        .withColumn("batch", F.lit(batch))
        .repartitionByRange(8, "term")
        .sortWithinPartitions("term")
        .write.mode("append")
        .partitionBy("batch")
        .parquet(f"{path}/dictionary")
    )
    tick("dictionary")

    # (no separate stats table: SegmentIndex derives N/avgdl from the
    # per-shard norms rows, which stay exact across shard reindexes)

    # lineage LAST = the commit record (shadow-page flip,
    # bfile/commit.c semantics). One row per shard with metrics.
    per_shard_blocks = written.groupBy("shard").agg(
        F.sum("sum_tf").alias("postings_emitted"),
        (F.sum("len_d") + F.sum("len_t") + F.sum("len_p")).alias(
            "bytes_compressed"
        ),
    )
    doc_counts = meta.groupBy("shard").agg(F.count("*").alias("docs_indexed"))
    if reindex_df is not None:
        # tombstones: every requested shard gets a lineage row, even if
        # all of its docs were deleted — otherwise the stale batch
        # would keep winning at read time
        doc_counts = reindex_df.join(doc_counts, "shard", "left")
    lineage_rows = (
        doc_counts
        .join(per_shard_blocks, "shard", "left")
        .na.fill(0)
        .withColumn("batch", F.lit(batch))
        .withColumn("build_seq", F.lit(build_seq))
    ).cache()
    # Materialize metrics BEFORE the lineage append: lineage_rows'
    # plan (via `src`) anti-joins a lazy read of the lineage parquet,
    # so evaluating it after the append would see this very batch as
    # already done and produce empty output. The cache also pins the
    # rows the append writes.
    out = lineage_rows.agg(
        F.count("*").alias("shards"),
        F.sum("docs_indexed").alias("docs"),
        F.sum("postings_emitted").alias("postings"),
        F.sum("bytes_compressed").alias("bytes"),
    ).collect()[0]
    # meta BEFORE the lineage commit: a crash in between leaves an
    # uncommitted batch with correct meta (harmless) — the reverse
    # would commit an index that silently opens with default settings
    write_build_meta(spark, path, shard_size=shard_size,
                     block_size=block_size,
                     store_positions=store_positions, fields=fields,
                     alphabet=_alphabet_to_meta(alphabet),
                     pretokenized=pretokenized, match_cols=match_cols)
    lineage_rows.write.mode("append").parquet(_lineage_path(path))
    tick("lineage")
    lineage_rows.unpersist()
    written.unpersist()
    for df in _to_unpersist:
        df.unpersist()
    src.unpersist()
    return {
        "batch": batch,
        "shards": out["shards"],
        "docs": out["docs"],
        "postings": out["postings"],
        "bytes": out["bytes"],
    }


def compact_index(spark: SparkSession, path: str) -> dict:
    """Fold every live batch into a single new batch — zebra_compact
    (/root/reference/index/compact.c, dict/dcompact.c). After many
    incremental updates the index is spread over batches; compaction
    rewrites the LIVE rows (latest build_seq per shard) under one
    batch id, recomputes the dictionary partial, and commits via
    lineage — readers before/after see identical data. Old batches
    become orphans (droppable by a GC sweep)."""
    lineage = spark.read.parquet(_lineage_path(path))
    build_seq = lineage.agg(F.max("build_seq")).collect()[0][0] + 1
    batch = f"b{build_seq:05d}"
    w_latest = lineage.groupBy("shard").agg(F.max("build_seq").alias("build_seq"))
    live = lineage.join(w_latest, ["shard", "build_seq"]).select("shard", "batch")

    def rewrite(table: str, sort_cols: list[str] | None = None) -> None:
        df = (
            spark.read.parquet(f"{path}/{table}")
            .join(F.broadcast(live), ["shard", "batch"], "semi")
            .drop("batch")
            .withColumn("batch", F.lit(batch))
        )
        if sort_cols:
            df = df.repartitionByRange(
                max(spark.sparkContext.defaultParallelism, 8), sort_cols[0]
            ).sortWithinPartitions(*sort_cols)
        df.write.mode("append").partitionBy("batch").parquet(f"{path}/{table}")

    rewrite("blocks", ["term", "shard", "block_seq"])
    rewrite("norms")
    rewrite("doc_meta")

    written = spark.read.parquet(f"{path}/blocks").where(F.col("batch") == batch)
    (
        written.groupBy("term")
        .agg(
            F.sum("n_docs").alias("df"),
            F.sum("sum_tf").alias("cf"),
            F.max("max_tf").alias("max_tf"),
            F.count("*").alias("n_blocks"),
        )
        .withColumn("batch", F.lit(batch))
        .write.mode("append").partitionBy("batch")
        .parquet(f"{path}/dictionary")
    )

    # commit: carry the live shards' metrics forward under the new seq
    new_lineage = (
        lineage.join(w_latest, ["shard", "build_seq"])
        .drop("batch", "build_seq")
        .withColumn("batch", F.lit(batch))
        .withColumn("build_seq", F.lit(build_seq))
    ).cache()
    n = new_lineage.count()
    new_lineage.write.mode("append").parquet(_lineage_path(path))
    new_lineage.unpersist()
    return {"batch": batch, "shards": n}


def _update_by_match_key(
    spark: SparkSession,
    new_corpus: DataFrame,
    path: str,
    *,
    text_col: str,
    id_col: str,
    shard_size: int,
    block_size: int,
    store_positions: bool,
    fields: dict[str, list[str]] | None,
    alphabet,
    match_cols: list[str],
) -> dict:
    """Match-spec update: resolve record identity by user key.

    Zebra resolves an incoming record to an existing sysno through the
    matchDict (/root/reference/index/extract.c:405-556 builds the key
    from the match spec, :927-1000 looks it up and REUSES the stored
    sysno), so a record whose content — or whose external id — changes
    under the same logical key stays the same internal record. The
    Spark shape:

    - the new snapshot is deduped per match key (highest ``id_col``
      wins, deterministically — Zebra's "last record wins" without
      depending on input order);
    - incoming keys join the indexed doc_meta on ``match_key``; an
      existing key keeps its OLD internal doc_id (the sysno), a new
      key enters under its own id, an absent key is a delete;
    - duplicate old docs sharing one key (possible if the initial
      build had key collisions) net out: the highest internal id is
      canonical, the rest are force-deleted — after any update each
      live key has exactly one live doc;
    - every shard holding an added/changed/deleted EFFECTIVE doc is
      rebuilt copy-on-write from the remapped snapshot, exactly like
      the doc_id diff path.

    All joins are match_key/doc_id equality joins — index-sized, never
    collected; the remap is a projection + one key join, so the 100 TB
    shape is unchanged from the sha-diff path.
    """
    from pyspark.sql.window import Window

    meta = read_build_meta(spark, path) or {}
    lineage = read_lineage(spark, path)
    if lineage is None:
        m = build_index(
            spark, new_corpus, path, text_col=text_col, id_col=id_col,
            shard_size=shard_size, block_size=block_size,
            store_positions=store_positions, fields=fields,
            alphabet=alphabet, match_cols=match_cols,
        )
        m["changed_shards"] = m["shards"]
        return m
    if meta.get("match_cols") != match_cols:
        raise ValueError(
            "match_cols update on an index built without them (or with "
            f"different ones: index={meta.get('match_cols')!r} "
            f"requested={match_cols!r}) — doc_meta carries no "
            "match_key for the stored docs. Rebuild with "
            "build_index(match_cols=...) first.")

    fcols = _field_cols(fields)
    # 1. dedupe the incoming snapshot per match key (highest id wins)
    win = Window.partitionBy("_mk").orderBy(F.col("_nid").desc())
    newc = (
        new_corpus
        .withColumn("_mk", match_key_expr(match_cols))
        .withColumn("_nid", F.col(id_col).cast("long"))
        .withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    nsrc = newc.select(
        F.col("_mk").alias("match_key"),
        F.col("_nid").alias("new_id"),
        content_sha(text_col, fcols).alias("sha256"),
    )

    # 2. indexed side: latest-batch doc_meta with canonical-per-key
    w_latest = lineage.groupBy("shard").agg(
        F.max("build_seq").alias("build_seq"))
    latest = lineage.join(w_latest, ["shard", "build_seq"]) \
        .select("shard", "batch")
    old = (
        spark.read.parquet(f"{path}/doc_meta")
        .join(latest, ["shard", "batch"], "semi")
        .select("doc_id", "match_key",
                F.col("sha256").alias("old_sha"),
                F.col("shard").alias("old_shard"))
    )
    cwin = Window.partitionBy("match_key").orderBy(F.col("doc_id").desc())
    old = old.withColumn("_crn", F.row_number().over(cwin))
    dupes = old.where(F.col("_crn") > 1)      # force-deleted collisions
    old_canon = old.where(F.col("_crn") == 1).drop("_crn")

    # 3. resolve identity + diff
    j = nsrc.join(old_canon, "match_key", "full_outer")
    eff = F.coalesce(F.col("doc_id"), F.col("new_id"))
    changed = (
        j.where(
            F.col("old_sha").isNull()                  # new key
            | F.col("sha256").isNull()                 # key disappeared
            | (F.col("sha256") != F.col("old_sha"))    # content changed
        )
        .select(F.coalesce(
            F.col("old_shard"),
            F.expr(f"(new_id - pmod(new_id, {int(shard_size)})) "
                   f"div {int(shard_size)}")).alias("shard"))
        .union(dupes.select(F.col("old_shard").alias("shard")))
        .distinct()
    )
    changed = changed.persist()
    n_changed = changed.count()
    if n_changed == 0:
        changed.unpersist()
        return {"batch": None, "shards": 0, "docs": 0, "changed_shards": 0}

    # 4. remap the snapshot to effective ids and rebuild changed shards
    mapping = j.where(F.col("new_id").isNotNull()).select(
        "match_key", eff.alias("_eff_id"))
    # Identity guard: a NEW key enters under its own external id, which
    # may equal the live internal id (sysno) of a DIFFERENT surviving
    # key when external ids are recycled across crawls — the remapped
    # snapshot would then carry two rows per doc_id and corrupt the
    # rebuilt shard's doc_meta/norms/scoring. Each surviving key maps
    # to its own distinct stored doc_id, so ANY duplicate effective id
    # is such a collision (new-vs-surviving or new-vs-new); an id
    # freed by a key deleted in this same sync produces no duplicate
    # and stays allowed. One index-sized aggregation, never collected.
    dup = (mapping.groupBy("_eff_id").agg(F.count("*").alias("n"))
           .where(F.col("n") > 1).limit(1).count())
    if dup:
        changed.unpersist()
        raise ValueError(
            "match-key update id collision: an incoming NEW match key "
            "reuses the external id of a different live record (or two "
            "new keys share one id). Reassign fresh external ids to "
            "the colliding records — silently merging two logical "
            "records under one internal doc_id would corrupt the "
            "register (reference semantics: extract.c:927-1000 keeps "
            "sysno unique per match key).")
    remapped = (
        newc.join(mapping, newc["_mk"] == mapping["match_key"])
        .select(
            F.col("_eff_id").alias(id_col),
            F.col(text_col),
            *[F.col(c) for c in
              dict.fromkeys([*fcols, *match_cols])],
        )
    )
    m = build_index(
        spark, remapped, path, text_col=text_col, id_col=id_col,
        shard_size=shard_size, block_size=block_size,
        store_positions=store_positions, reindex_shards=changed,
        fields=fields, alphabet=alphabet, match_cols=match_cols,
    )
    changed.unpersist()
    m["changed_shards"] = n_changed
    return m


def update_index(
    spark: SparkSession,
    new_corpus: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_size: int | None = None,
    block_size: int | None = None,
    store_positions: bool | None = None,
    fields: dict[str, list[str]] | None = None,
    alphabet=None,
    candidate_shards: DataFrame | None = None,
    match_cols: list[str] | None = None,
) -> dict:
    """Incrementally sync the index to a new corpus snapshot.

    Layout/charmap parameters default to the index's PERSISTED build
    config (build_meta) — an update must run under the build's
    settings or the shard diff compares ids from different bases
    (register-config guard in build_index enforces this). Explicit
    values are honored for indexes predating build_meta; fresh paths
    fall back to the engine defaults.

    Zebra resolves updates per record: match → stored delete-keys +
    new insert-keys, netted during merge
    (/root/reference/index/extract.c:896-1100,
    /root/reference/index/kinput.c:449-494). The Spark-scale
    equivalent is shard-granular copy-on-write: diff the new snapshot
    against the indexed doc_meta by (doc_id, sha256); every shard
    containing an added/changed/deleted doc is rebuilt from the new
    snapshot in one batch (readers pick the latest build_seq per
    shard). Unchanged shards are untouched — no read, no write. The
    changed-shard set stays a DataFrame end-to-end — nothing
    shard-count-sized is ever collected to the driver (the 10^6-shard
    case shuffles a few MB instead).

    ``candidate_shards``: optional (shard) DataFrame bounding the diff
    — when the caller KNOWS only these shards can differ (a streaming
    micro-batch fold knows its batch's doc_ids), both the new-snapshot
    side and the indexed doc_meta side are semi-joined to it before
    diffing, so per-sync read cost is O(candidate shards), not
    O(corpus). Docs outside the candidate set are excluded from BOTH
    sides, so they can never be misread as deletions. When given,
    ``new_corpus`` must contain every live doc of each candidate shard
    (the streaming mirror snapshot restricted by shard does).
    """
    meta = read_build_meta(spark, path) or {}
    if shard_size is None:
        shard_size = meta.get("shard_size", DEFAULT_SHARD_SIZE)
    if block_size is None:
        block_size = meta.get("block_size", DEFAULT_BLOCK_SIZE)
    if store_positions is None:
        store_positions = meta.get("store_positions", True)
    if alphabet is None:
        alphabet = _alphabet_from_meta(meta["alphabet"]) \
            if "alphabet" in meta else "ascii"
    if fields is None and meta.get("fields"):
        fields = meta["fields"]
    if match_cols is None and meta.get("match_cols"):
        match_cols = meta["match_cols"]
    fcols = _field_cols(fields)
    if match_cols:
        if candidate_shards is not None:
            raise ValueError(
                "candidate_shards cannot bound a match_cols update: "
                "the effective doc_id (and so the touched shard) of an "
                "incoming record is resolved by match key, not by its "
                "own doc_id")
        return _update_by_match_key(
            spark, new_corpus, path, text_col=text_col, id_col=id_col,
            shard_size=shard_size, block_size=block_size,
            store_positions=store_positions, fields=fields,
            alphabet=alphabet, match_cols=match_cols)
    src = new_corpus.select(
        F.col(id_col).alias("doc_id"),
        content_sha(text_col, fcols).alias("sha256"),
        *[F.col(c) for c in fcols],
    ).withColumn("shard", shard_expr(shard_size))
    # (content_sha coalesces null text to '' — same as build_index)

    lineage = read_lineage(spark, path)
    if lineage is None:
        m = build_index(
            spark, new_corpus, path, text_col=text_col, id_col=id_col,
            shard_size=shard_size, block_size=block_size,
            store_positions=store_positions, fields=fields,
            alphabet=alphabet,
        )
        m["changed_shards"] = m["shards"]
        return m

    cand: DataFrame | None = None
    if candidate_shards is not None:
        cand = candidate_shards.select(
            F.col("shard").cast("long")).distinct()
        src = src.join(F.broadcast(cand), "shard", "semi")

    w_latest = lineage.groupBy("shard").agg(F.max("build_seq").alias("build_seq"))
    latest = lineage.join(w_latest, ["shard", "build_seq"]).select("shard", "batch")
    old = spark.read.parquet(f"{path}/doc_meta").join(
        latest, ["shard", "batch"], "semi")
    if cand is not None:
        # bound the indexed-side read too: only candidate shards are
        # diffed (the semi-join precedes the doc_id-level comparison)
        old = old.join(F.broadcast(cand), "shard", "semi")
    old = old.select("doc_id", F.col("sha256").alias("old_sha"),
                     F.col("shard").alias("old_shard"))
    diff = src.join(old, "doc_id", "full_outer")
    changed = (
        diff.where(
            F.col("old_sha").isNull()                  # added
            | F.col("sha256").isNull()                 # deleted
            | (F.col("sha256") != F.col("old_sha"))    # modified
        )
        .select(F.coalesce(F.col("shard"), F.col("old_shard")).alias("shard"))
        .distinct()
    )
    # Materialize NOW (cache + count): the plan reads doc_meta, which
    # build_index is about to append to — evaluating lazily inside the
    # rebuild would see the new batch and change the answer.
    changed = changed.persist()
    n_changed = changed.count()
    if n_changed == 0:
        changed.unpersist()
        return {"batch": None, "shards": 0, "docs": 0, "changed_shards": 0}
    m = build_index(
        spark, new_corpus, path, text_col=text_col, id_col=id_col,
        shard_size=shard_size, block_size=block_size,
        store_positions=store_positions, reindex_shards=changed,
        fields=fields, alphabet=alphabet,
    )
    changed.unpersist()
    m["changed_shards"] = n_changed
    return m
