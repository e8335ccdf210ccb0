"""Block-max WAND top-k query engine over the segment index.

The read path mirrors Zebra's (SURVEY.md §3.1): dictionary lookup →
posting access → merged key stream → per-doc score → bounded top-k
(/root/reference/index/zsets.c:1084-1191), with the two physical
optimizations the reference leans on:

- **skip/forward**: Zebra's ``isamb_pp_forward`` descends B-tree
  internal nodes to skip whole subtrees
  (/root/reference/isamb/isamb.c:1525); here each posting block carries
  (first_docid, last_docid, max_tf) block-max metadata, and the kernel
  skips blocks that cannot beat the running threshold θ (OR) or cannot
  overlap surviving candidates (AND) — lossless pruning, proved by the
  rank-identity tests against the brute-force plan.
- **child ordering**: multi-AND evaluates children smallest-first
  (/root/reference/rset/rsmultiandor.c:26-31); the kernel intersects
  terms in ascending document frequency.

Distribution: blocks and norms are cogrouped by shard — scoring is
embarrassingly parallel across shards (no cross-shard traffic), then a
tiny global top-k merge. θ for OR queries is seeded IN-KERNEL: the
rarest term is decoded first and its k-th solo score becomes the
pruning threshold for the remaining terms' blocks (no extra
distributed pass).
"""

from __future__ import annotations

import math
import operator
import re
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from idzebra_spark.functions.codec import varint_decode, delta_varint_decode
from idzebra_spark.functions.scoring import K1, B
from idzebra_spark.meta import IndexMeta
from idzebra_spark.operators.boolean import FIELD_SEP
from idzebra_spark.operators.segment import BLOCK_SCHEMA, NORMS_SCHEMA

TOPK_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("raw", T.DoubleType()),
    T.StructField("n_matched", T.IntegerType()),
])

RESULT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("score_milli", T.LongType()),
])


def _bm25_tf(tf, dl, avgdl, k1=K1, b=B):
    tf = np.asarray(tf, dtype=np.float64)
    norm = k1 * ((1.0 - b) + b * np.asarray(dl, dtype=np.float64) / avgdl)
    return tf * (k1 + 1.0) / (tf + norm)


def _decode_docids_tfs(docids_bins, tfs_bins, n_docs):
    """Decode many blocks of one (term, shard) with TWO varint_decode
    calls total: payloads are concatenated, then per-block delta bases
    are restored via a cumsum reset at each block start (first value
    of every block is absolute by construction)."""
    all_deltas = varint_decode(b"".join(docids_bins)).astype(np.int64)
    tfs = varint_decode(b"".join(tfs_bins)).astype(np.int64)
    counts = np.asarray(n_docs, dtype=np.int64)
    starts = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    cs = np.cumsum(all_deltas)
    base = cs[starts] - all_deltas[starts]
    docids = cs - np.repeat(base, counts)
    return docids, tfs




def _undo_pos_deltas(pdeltas: np.ndarray, tfv: np.ndarray) -> np.ndarray:
    """Restore absolute positions from per-doc-reset deltas: cumsum
    minus each doc's base (first value of every doc is absolute).
    Raises a CLEAR error when the index has no stored positions."""
    total = int(tfv.sum())
    if pdeltas.size != total:
        raise ValueError(
            "position payload is empty/short — this index was built "
            "with store_positions=False; phrase/proximity/first-in-"
            "field need positions (rebuild with store_positions=True)")
    starts = np.zeros(tfv.size + 1, dtype=np.int64)
    np.cumsum(tfv, out=starts[1:])
    doc_starts = starts[:-1]
    cs = np.cumsum(pdeltas)
    base = cs[doc_starts] - pdeltas[doc_starts]
    return cs - np.repeat(base, tfv)



def _decode_norms(norms_pdf: pd.DataFrame):
    docids = delta_varint_decode(bytes(norms_pdf["docids_bin"].iloc[0])).astype(
        np.int64
    )
    dls = varint_decode(bytes(norms_pdf["doclens_bin"].iloc[0])).astype(np.int64)
    return docids, dls


def _shard_kernel(term_idf, term_order, avgdl, mode, theta, k, k1=K1, b=B,
                  neg_terms=()):
    """Per-shard scorer. term_idf: {term: idf}; term_order: positive
    terms in ascending df (AND intersection order); neg_terms are
    AND-NOT exclusions (rsbool difference,
    /root/reference/rset/rsbool.c:173-225): any doc containing one is
    dropped before scoring. Returns per-shard top-k."""

    n_terms = len(term_order)
    neg_terms = tuple(neg_terms)
    empty = pd.DataFrame(
        {"doc_id": pd.Series([], dtype="int64"),
         "raw": pd.Series([], dtype="float64"),
         "n_matched": pd.Series([], dtype="int32")}
    )

    def fn(blocks: pd.DataFrame, norms: pd.DataFrame) -> pd.DataFrame:
        if len(blocks) == 0 or len(norms) == 0:
            return empty
        nd_docids, nd_dls = _decode_norms(norms)
        min_dl = float(norms["min_dl"].iloc[0])

        by_term = {t: g for t, g in blocks.groupby("term", sort=False)}
        present = [t for t in term_order if t in by_term]
        if mode == "and" and len(present) < n_terms:
            return empty
        if not present:
            return empty

        # AND-NOT exclusion set: docids of any negative term in-shard
        excluded = None
        for t in neg_terms:
            if t not in by_term:
                continue
            gt = by_term[t]
            e, _ = _decode_docids_tfs(
                [bytes(x) for x in gt["docids_bin"]],
                [bytes(x) for x in gt["tfs_bin"]],
                gt["n_docs"].to_numpy(np.int64),
            )
            excluded = e if excluded is None else np.union1d(excluded, e)
        if excluded is not None:
            excluded = np.unique(excluded)

        # term-level score upper bounds from block-max metadata
        term_ub = {
            t: float(
                term_idf[t]
                * _bm25_tf(by_term[t]["max_tf"].max(), min_dl, avgdl, k1, b)
            )
            for t in present
        }
        sum_ub = sum(term_ub.values())

        decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        candidates: np.ndarray | None = None
        # OR: decode in descending-idf order; after the first (rarest)
        # term is fully scored, its k-th solo score is a valid lower
        # bound on this shard's final k-th score (partial <= final), so
        # later terms' blocks prune against it — in-kernel θ seeding,
        # no extra distributed pass. AND keeps ascending-df order
        # (rsmultiandor.c:26-31 child ordering).
        loop_order = (
            sorted(present, key=lambda t: (-term_idf[t], t)) if mode == "or"
            else present
        )
        theta_local = float(theta)
        for ti, t in enumerate(loop_order):
            g = by_term[t]
            first = g["first_docid"].to_numpy(np.int64)
            last = g["last_docid"].to_numpy(np.int64)
            keep = np.ones(len(g), dtype=bool)
            if mode == "and" and candidates is not None:
                # zig-zag analog: only decode blocks overlapping a
                # surviving candidate (isamb_pp_forward skipping)
                lo = np.searchsorted(candidates, first, side="left")
                hi = np.searchsorted(candidates, last, side="right")
                keep = hi > lo
            elif mode == "or" and theta_local > 0.0 and ti > 0:
                # block-max WAND: block ub + other terms' max ubs < θ
                # ⇒ no doc in this block can reach the top-k (lossless,
                # strict <; ties at θ are kept)
                blk_ub = term_idf[t] * _bm25_tf(
                    g["max_tf"].to_numpy(np.int64), min_dl, avgdl, k1, b
                )
                keep = (blk_ub + (sum_ub - term_ub[t])) >= theta_local
            if not keep.any():
                if mode == "and":
                    return empty
                decoded[t] = (np.empty(0, np.int64), np.empty(0, np.int64))
                continue
            gk = g[keep]
            d, tfv = _decode_docids_tfs(
                [bytes(x) for x in gk["docids_bin"]],
                [bytes(x) for x in gk["tfs_bin"]],
                gk["n_docs"].to_numpy(np.int64),
            )
            if d.size > 1 and not np.all(d[:-1] <= d[1:]):
                o = np.argsort(d, kind="mergesort")
                d, tfv = d[o], tfv[o]
            if excluded is not None and d.size:
                m = ~np.isin(d, excluded, assume_unique=False)
                d, tfv = d[m], tfv[m]
            decoded[t] = (d, tfv)
            if mode == "and":
                candidates = d if candidates is None else np.intersect1d(
                    candidates, d, assume_unique=True
                )
                if candidates.size == 0:
                    return empty
            elif mode == "or" and ti == 0 and k is not None and d.size >= k:
                # in-kernel θ seed from the rarest term's solo scores.
                # One milli (1e-4) of slack keeps the prune lossless
                # under the ROUNDED ordering: a doc whose raw score is
                # just below the kth raw can still round-tie at the
                # milli level and win on doc_id, so it must survive.
                dl0 = nd_dls[np.searchsorted(nd_docids, d)]
                solo = term_idf[t] * _bm25_tf(tfv, dl0, avgdl, k1, b)
                kth = float(np.partition(solo, -k)[-k]) - 1e-4
                theta_local = max(theta_local, kth)

        if mode == "and":
            docs = candidates
            dl = nd_dls[np.searchsorted(nd_docids, docs)]
            raw = np.zeros(docs.size, dtype=np.float64)
            for t in present:
                d, tfv = decoded[t]
                raw += term_idf[t] * _bm25_tf(
                    tfv[np.searchsorted(d, docs)], dl, avgdl, k1, b
                )
            n_matched = np.full(docs.size, n_terms, dtype=np.int32)
        else:
            all_docs = np.concatenate([decoded[t][0] for t in present])
            if all_docs.size == 0:
                return empty
            docs, inv = np.unique(all_docs, return_inverse=True)
            dl = nd_dls[np.searchsorted(nd_docids, docs)]
            raw = np.zeros(docs.size, dtype=np.float64)
            n_matched = np.zeros(docs.size, dtype=np.int64)
            off = 0
            for t in present:
                d, tfv = decoded[t]
                if d.size == 0:
                    continue
                idx = inv[off : off + d.size]
                raw[idx] += term_idf[t] * _bm25_tf(tfv, dl[idx], avgdl, k1, b)
                n_matched[idx] += 1
                off += d.size

        if k is not None and docs.size > k:
            # bounded top-k (score desc, docid asc) — Zebra's
            # resultSetInsertRank tie discipline (zsets.c:716-736).
            # The cut uses ROUNDED milli scores (floor(x*1e4+0.5) ==
            # Spark round HALF_UP for x>=0) so the per-shard selection
            # agrees with the global milli-ordered merge: two raw
            # scores that round to the same milli tie-break by doc_id
            # here exactly as they do in the final orderBy.
            milli = np.floor(raw * 10000.0 + 0.5).astype(np.int64)
            sel = np.lexsort((docs, -milli))[:k]
            docs, raw, n_matched = docs[sel], raw[sel], n_matched[sel]
        return pd.DataFrame(
            {"doc_id": docs.astype(np.int64), "raw": raw,
             "n_matched": n_matched.astype(np.int32)}
        )

    return fn


BATCH_TOPK_SCHEMA = T.StructType([
    T.StructField("query_id", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("raw", T.DoubleType()),
])

BATCH_RESULT_SCHEMA = T.StructType([
    T.StructField("query_id", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("score_milli", T.LongType()),
])


def _multi_query_kernel(specs, avgdl, k, k1=K1, b=B):
    """Per-shard scorer for a BATCH of queries — the serving-throughput
    path. One cogrouped pass decodes every referenced term ONCE and
    scores all queries against the shared decode cache; per query the
    set assembly and float-summation order are IDENTICAL to
    :func:`_shard_kernel` (AND sums ascending-df, OR descending-idf),
    so each query's rows match its single-query run bit-for-bit.

    Zebra amortizes per-query cost with its ISAMB page cache across a
    session (/root/reference/isamb/isamb.c:380-450); on Spark the
    per-JOB scheduler floor (~0.5 s) dominates single-query latency,
    so the batch analogue ships N queries into one job instead.

    ``specs``: [{qid, mode, idf: {term: idf}, order: [terms asc df],
    neg: (terms,)}]."""
    empty = pd.DataFrame({
        "query_id": pd.Series([], dtype="object"),
        "doc_id": pd.Series([], dtype="int64"),
        "raw": pd.Series([], dtype="float64"),
    })

    def fn(blocks: pd.DataFrame, norms: pd.DataFrame) -> pd.DataFrame:
        if len(blocks) == 0 or len(norms) == 0:
            return empty
        nd_docids, nd_dls = _decode_norms(norms)
        by_term = {t: g for t, g in blocks.groupby("term", sort=False)}
        dec: dict[str, tuple[np.ndarray, np.ndarray]] = {}

        def decode(t):
            if t not in dec:
                g = by_term[t]
                d, tfv = _decode_docids_tfs(
                    [bytes(x) for x in g["docids_bin"]],
                    [bytes(x) for x in g["tfs_bin"]],
                    g["n_docs"].to_numpy(np.int64),
                )
                if d.size > 1 and not np.all(d[:-1] <= d[1:]):
                    o = np.argsort(d, kind="mergesort")
                    d, tfv = d[o], tfv[o]
                dec[t] = (d, tfv)
            return dec[t]

        out_q, out_d, out_r = [], [], []
        for s in specs:
            order, idf, neg, mode = s["order"], s["idf"], s["neg"], s["mode"]
            present = [t for t in order if t in by_term]
            if not present or (mode == "and" and len(present) < len(order)):
                continue
            excluded = None
            for t in neg:
                if t in by_term:
                    e = decode(t)[0]
                    excluded = e if excluded is None else np.union1d(excluded, e)
            if mode == "and":
                docs = None
                for t in present:
                    d = decode(t)[0]
                    docs = d if docs is None else np.intersect1d(
                        docs, d, assume_unique=True)
                    if docs.size == 0:
                        break
                if docs is None or docs.size == 0:
                    continue
                if excluded is not None:
                    docs = docs[~np.isin(docs, excluded)]
                if docs.size == 0:
                    continue
                dl = nd_dls[np.searchsorted(nd_docids, docs)]
                raw = np.zeros(docs.size, dtype=np.float64)
                for t in present:  # ascending-df order, as _shard_kernel
                    d, tfv = decode(t)
                    raw += idf[t] * _bm25_tf(
                        tfv[np.searchsorted(d, docs)], dl, avgdl, k1, b)
            else:
                loop = sorted(present, key=lambda t: -idf[t])
                arrs = []
                for t in loop:
                    d, tfv = decode(t)
                    if excluded is not None and d.size:
                        m = ~np.isin(d, excluded)
                        d, tfv = d[m], tfv[m]
                    arrs.append((t, d, tfv))
                all_docs = np.concatenate([d for _, d, _ in arrs])
                if all_docs.size == 0:
                    continue
                docs, inv = np.unique(all_docs, return_inverse=True)
                dl = nd_dls[np.searchsorted(nd_docids, docs)]
                raw = np.zeros(docs.size, dtype=np.float64)
                off = 0
                for t, d, tfv in arrs:  # descending-idf, as _shard_kernel
                    if d.size == 0:
                        continue
                    ix = inv[off:off + d.size]
                    raw[ix] += idf[t] * _bm25_tf(tfv, dl[ix], avgdl, k1, b)
                    off += d.size
            if k is not None and docs.size > k:
                milli = np.floor(raw * 10000.0 + 0.5).astype(np.int64)
                sel = np.lexsort((docs, -milli))[:k]
                docs, raw = docs[sel], raw[sel]
            out_q.append(np.full(docs.size, s["qid"], dtype=object))
            out_d.append(docs)
            out_r.append(raw)
        if not out_d:
            return empty
        return pd.DataFrame({
            "query_id": np.concatenate(out_q),
            "doc_id": np.concatenate(out_d).astype(np.int64),
            "raw": np.concatenate(out_r),
        })

    return fn


PHRASE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_occ", T.LongType()),
])


def _decode_block_rows(g: pd.DataFrame, want_positions: bool):
    """Decode one term's block rows → (docids, tfs, positions|None),
    sorted by docid. ONE varint_decode per payload column; positions
    are a flat array with per-doc slices given by tfs."""
    d, tfv = _decode_docids_tfs(
        [bytes(x) for x in g["docids_bin"]],
        [bytes(x) for x in g["tfs_bin"]],
        g["n_docs"].to_numpy(np.int64),
    )
    p = None
    if want_positions and d.size:
        pdeltas = varint_decode(
            b"".join(bytes(x) for x in g["pos_bin"])
        ).astype(np.int64)
        p = _undo_pos_deltas(pdeltas, tfv)
    # blocks arrive per (block_seq) and docids are globally sorted per
    # (term, shard) by construction — the already-sorted fast path is
    # the norm; the defensive reorder is fully vectorized
    # (_gather_ranges) when rows ever arrive shuffled
    if d.size > 1 and not np.all(d[:-1] <= d[1:]):
        o = np.argsort(d, kind="mergesort")
        if p is not None:
            tok_off = np.zeros(d.size + 1, dtype=np.int64)
            np.cumsum(tfv, out=tok_off[1:])
            p = p[_gather_ranges(tok_off[o], tfv[o])]
        d, tfv = d[o], tfv[o]
    return d, tfv, p


def _gather_ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Flat indices covering [starts[i], starts[i]+counts[i]) for all i
    — the vectorized multi-range gather (no Python loop)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    cs = np.cumsum(counts)
    shift = np.concatenate(([0], cs[:-1]))
    return np.arange(total, dtype=np.int64) + np.repeat(starts - shift, counts)


_POS_SHIFT = 42  # doc-rank packed above a 42-bit position space


def _phrase_match(decoded: dict, term_order: list[str],
                  cand: np.ndarray | None = None):
    """Vectorized exact-phrase matcher: (docs, n_occ).

    ``decoded[t] = (docids, tok_off, positions)`` with positions flat
    and per-doc slices given by tok_off. The rsprox ordered distance-1
    chain (/root/reference/rset/rsprox.c:162-213) becomes, per term i,
    the key set {doc_rank << 42 | (pos - i + len)} over candidate
    docs, intersected across terms — fully vectorized across ALL
    candidate docs at once (no per-doc Python loop; a phrase of two
    high-df tokens stays numpy-speed)."""
    m = len(term_order)
    # cand must be a subset of every term's doc list (searchsorted
    # below assumes membership) — intersect unconditionally
    for t in set(term_order):
        d = decoded[t][0]
        cand = d if cand is None else np.intersect1d(cand, d)
    if cand is None or cand.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    keys = None
    for i, t in enumerate(term_order):
        d, tok_off, p = decoded[t]
        j = np.searchsorted(d, cand)
        starts, ends = tok_off[j], tok_off[j + 1]
        cnt = ends - starts
        flat = _gather_ranges(starts, cnt)
        doc_rank = np.repeat(np.arange(cand.size, dtype=np.int64), cnt)
        # shifted position; +m keeps it positive for any i < m
        key = (doc_rank << _POS_SHIFT) | (p[flat] - i + m)
        keys = key if keys is None else np.intersect1d(
            keys, key, assume_unique=True)
        if keys.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
    ranks, occ = np.unique(keys >> _POS_SHIFT, return_counts=True)
    return cand[ranks], occ.astype(np.int64)


def _decode_with_offsets(g: pd.DataFrame, want_positions: bool):
    """_decode_block_rows + token-offset index: (d, tfv, tok_off, p)."""
    d, tfv, p = _decode_block_rows(g, want_positions)
    tok_off = np.zeros(d.size + 1, dtype=np.int64)
    np.cumsum(tfv, out=tok_off[1:])
    return d, tfv, tok_off, p


def _phrase_kernel(term_order: list[str]):
    """Per-shard exact-phrase matcher over stored positions — the
    rsprox ordered distance-1 chain (/root/reference/rset/rsprox.c:
    162-213), vectorized across all candidate docs (see
    :func:`_phrase_match`)."""

    empty = pd.DataFrame({
        "doc_id": pd.Series([], dtype="int64"),
        "n_occ": pd.Series([], dtype="int64"),
    })

    def fn(blocks: pd.DataFrame) -> pd.DataFrame:
        if len(blocks) == 0:
            return empty
        by_term = {t: g for t, g in blocks.groupby("term", sort=False)}
        if any(t not in by_term for t in term_order):
            return empty
        decoded = {}
        for t in set(term_order):
            d, tfv, tok_off, p = _decode_with_offsets(by_term[t], True)
            decoded[t] = (d, tok_off, p)
        docs, occ = _phrase_match(decoded, term_order)
        if docs.size == 0:
            return empty
        return pd.DataFrame({"doc_id": docs, "n_occ": occ})

    return fn


def z3958_to_regex(pattern: str) -> str:
    """Z39.58 masking (attr 5=104) → anchored regex — the exact
    translation of term_104 (/root/reference/index/rpnsearch.c:
    502-567): '?' alone = any sequence ('.*'), '?n' = up to n chars
    ('.?' × n, n capped at 20), '*' = any sequence, '#' = exactly one
    character."""
    import re as _re

    out, i = ["^"], 0
    while i < len(pattern):
        c = pattern[i]
        if c == "?":
            i += 1
            j = i
            while j < len(pattern) and pattern[j].isdigit():
                j += 1
            if j > i:
                out.append(".?" * min(int(pattern[i:j]), 20))
                i = j
            else:
                out.append(".*")
        elif c == "*":
            out.append(".*")
            i += 1
        elif c == "#":
            out.append(".")
            i += 1
        else:
            out.append(_re.escape(c))
            i += 1
    out.append("$")
    return "".join(out)


RSET_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("raw", T.DoubleType()),
])

POSTINGS_SCHEMA = T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("tf", T.IntegerType()),
    T.StructField("positions", T.ArrayType(T.LongType())),
])


def _tree_terms(tree) -> tuple[set, set]:
    """(plain_terms, positional_terms) referenced anywhere in the
    tree — positional terms (phrase/prox leaves) need pos_bin."""
    op = tree[0]
    if op == "term":
        return {tree[1]}, set()
    if op == "terms":
        return set(tree[1]), set()
    if op == "phrase":
        return set(), set(tree[1])
    if op == "prox":
        return set(), set(tree[1])
    if op == "not":
        a1, a2 = _tree_terms(tree[1])
        b1, b2 = _tree_terms(tree[2])
        return a1 | b1, a2 | b2
    if op in ("and", "or"):
        p, f = set(), set()
        for c in tree[1]:
            c1, c2 = _tree_terms(c)
            p |= c1
            f |= c2
        return p, f
    raise ValueError(f"unknown tree node {op!r}")


def _prox_match(decoded: dict, t1: str, t2: str, relation: str,
                distance: int, ordered: bool) -> np.ndarray:
    """Vectorized proximity over decoded positions — all six rsprox
    relations (/root/reference/rset/rsprox.c:162-297: ordered fast
    path checks ``seqno2 - seqno1 REL distance``; unordered uses the
    absolute difference and distinct positions). For window-shaped
    relations the check is a sorted-window search over packed
    (doc_rank << 42 | pos) keys — one searchsorted pair for ALL
    candidate docs at once; open-ended relations (>, >=, <>) reduce
    to per-doc min/max comparisons, equally loop-free.

    Deliberate deviation from the reference: the unordered path
    excludes same-position pairs (p1 == p2), while rsprox's generic
    path (rsprox.c:249-277) takes abs(diff) and counts diff == 0.
    Observable only for t1 == t2 (a term NEAR itself) or multi-
    register tokens sharing a seqno; two distinct occurrences are
    what 'near' means here, and the DuckDB oracles (oracle.prox_sql)
    encode the same p1 != p2 rule, so both engines agree."""
    d1, off1, p1 = decoded[t1]
    d2, off2, p2 = decoded[t2]
    cand = np.intersect1d(d1, d2, assume_unique=True)
    if cand.size == 0:
        return np.empty(0, np.int64)

    def keyed(d, off, p):
        j = np.searchsorted(d, cand)
        cnt = (off[j + 1] - off[j]).astype(np.int64)
        flat = _gather_ranges(off[j], cnt)
        rank = np.repeat(np.arange(cand.size, dtype=np.int64), cnt)
        return (rank << _POS_SHIFT) | p[flat], rank, p[flat], cnt

    k1, r1, q1, cnt1 = keyed(d1, off1, p1)
    k2, r2, q2, cnt2 = keyed(d2, off2, p2)
    starts1 = np.searchsorted(r1, np.arange(cand.size))
    starts2 = np.searchsorted(r2, np.arange(cand.size))
    min1 = np.minimum.reduceat(q1, starts1)
    max1 = np.maximum.reduceat(q1, starts1)
    min2 = np.minimum.reduceat(q2, starts2)
    max2 = np.maximum.reduceat(q2, starts2)

    def pairs_in(lo_off: int, hi_off: int) -> np.ndarray:
        """Per-doc count of (p1, p2) pairs with p2 - p1 in
        [lo_off, hi_off] — one searchsorted pair for every p1 element
        across all docs, summed per doc."""
        per_el = (
            np.searchsorted(k2, k1 + hi_off + 1)
            - np.searchsorted(k2, k1 + lo_off)
        )
        return np.add.reduceat(per_el, starts1)

    HI = 1 << 41  # wider than any position, inside the pack space
    if ordered:
        # diff = pos2 - pos1. The reference never counts wrong-order
        # pairs: the fast path (rsprox.c:181-194, relations <,<=,=)
        # requires diff > 0; the generic path (rsprox.c:249-277,
        # relations >,>=,<>) requires diff >= 0.
        if relation == "=":
            keep = (pairs_in(distance, distance) > 0) if distance > 0 \
                else np.zeros(cand.size, dtype=bool)
        elif relation == "<":
            keep = pairs_in(1, distance - 1) > 0
        elif relation == "<=":
            keep = pairs_in(1, distance) > 0
        elif relation == ">":
            keep = (max2 - min1) > max(distance, 0)
        elif relation == ">=":
            keep = (max2 - min1) >= max(distance, 0)
        elif relation == "<>":
            nonneg = pairs_in(0, HI)
            eqd = pairs_in(distance, distance) if distance >= 0 \
                else np.zeros(cand.size, dtype=np.int64)
            keep = (nonneg - eqd) > 0
        else:
            raise ValueError(f"unknown prox relation {relation!r}")
        return cand[keep]

    # unordered: |pos2 - pos1| REL distance over pairs with p1 != p2
    same = pairs_in(0, 0)
    valid = cnt1 * cnt2 - same
    if relation == "=":
        if distance == 0:
            keep = np.zeros(cand.size, dtype=bool)
        else:
            keep = pairs_in(distance, distance) + pairs_in(
                -distance, -distance) > 0
    elif relation == "<":
        keep = (pairs_in(-(distance - 1), distance - 1) - same) > 0 \
            if distance >= 1 else np.zeros(cand.size, dtype=bool)
    elif relation == "<=":
        keep = (pairs_in(-distance, distance) - same) > 0
    elif relation == ">":
        keep = np.maximum(max2 - min1, max1 - min2) > distance
    elif relation == ">=":
        dmax = np.maximum(max2 - min1, max1 - min2)
        keep = (dmax >= distance) & (valid > 0) if distance == 0 \
            else dmax >= distance
    elif relation == "<>":
        eqd = (np.zeros(cand.size, dtype=np.int64) if distance == 0
               else pairs_in(distance, distance)
               + pairs_in(-distance, -distance))
        keep = (valid - eqd) > 0
    else:
        raise ValueError(f"unknown prox relation {relation!r}")
    return cand[keep]


def tree_rank_terms(tree) -> list[str]:
    """Positive ranking terms: term/phrase leaves not under a NOT's
    right branch; truncation expansions ('terms') are excluded from
    ranking (Zebra ranks the query's own APT terms,
    /root/reference/index/zsets.c:1104-1131)."""
    op = tree[0]
    if op == "term":
        return [tree[1]]
    if op == "terms":
        return []
    if op in ("phrase", "prox"):
        return list(tree[1])
    if op == "not":
        return tree_rank_terms(tree[1])
    if op in ("and", "or"):
        out = []
        for c in tree[1]:
            out.extend(tree_rank_terms(c))
        return out
    return []


def _leaf_pattern(node) -> tuple | None:
    """The expansion key (kind, pattern, field, errors, stem) of a
    wildcard leaf, or None for any other node. A pattern carrying a
    composite ``field\\x1f`` prefix expands within that field's
    register (fielded wildcards)."""
    op = node[0]
    if op == "fuzzy":
        # ("fuzzy", pattern[, stem[, errors]])
        stem = node[2] if len(node) > 2 else None
        errors = node[3] if len(node) > 3 else 1
        return ("fuzzy", node[1], None, errors, stem)
    if op in ("prefix", "suffix", "contains", "regex", "z3958"):
        field, sep, sub = node[1].partition(FIELD_SEP)
        return (op, sub, field, 1, None) if sep else (op, node[1], None, 1, None)
    return None


def tree_patterns(tree) -> list[tuple]:
    """Expansion keys of every wildcard leaf in an rset tree."""
    key = _leaf_pattern(tree)
    if key is not None:
        return [key]
    if tree[0] in ("and", "or"):
        return [k for c in tree[1] for k in tree_patterns(c)]
    if tree[0] == "not":
        return tree_patterns(tree[1]) + tree_patterns(tree[2])
    return []


def _expand_tree(tree, expansions: dict):
    """Replace wildcard leaves with ('terms', [...]) lists taken from
    ``expansions`` (keyed as :func:`tree_patterns` keys them)."""
    key = _leaf_pattern(tree)
    if key is not None:
        return ("terms", list(expansions[key]))
    op = tree[0]
    if op in ("and", "or"):
        return (op, [_expand_tree(c, expansions) for c in tree[1]])
    if op == "not":
        return ("not", _expand_tree(tree[1], expansions),
                _expand_tree(tree[2], expansions))
    return tree


def _pattern_cond(key: tuple) -> Column:
    """Dictionary condition of one expansion key — Zebra's
    dict_lookup_grep anchored under one register's ordinal prefix
    (Zebra index/rpnsearch.c:1148-1272). It reads only the
    ``term`` column, so it stays a grouping-key predicate that
    pushes below the dictionary aggregate."""
    kind, pattern, field, errors, stem = key
    term = F.col("term")
    if field is None:
        scope, base = ~term.contains(FIELD_SEP), term
    else:
        # match against the in-field term, return the composite key
        pfx = field + FIELD_SEP
        scope = term.startswith(pfx)
        base = F.expr(f"substring(term, {len(pfx) + 1})")
    pat = pattern.lower()
    if kind == "prefix":
        match = base.startswith(pat)
    elif kind == "suffix":
        match = base.endswith(pat)
    elif kind == "contains":
        match = base.contains(pat)
    elif kind == "regex":
        match = base.rlike(pattern)
    elif kind == "z3958":
        match = base.rlike(z3958_to_regex(pat))
    elif kind == "fuzzy":
        s = stem if stem is not None else re.sub(r"[^0-9a-z]", "", pat)
        match = (base.rlike(pattern)
                 | (F.levenshtein(base, F.lit(s)) <= int(errors)))
    else:
        raise ValueError(f"unknown expansion kind {kind!r}")
    return scope & match


# Per-handle dictionary memos (Zebra's dict LRU, dict/dict-p.h:44-70)
# are LRU-bounded with the Q8_MEMO_MAX discipline: a long-lived
# serving handle that keeps seeing new terms or wildcards holds at
# most this many entries, least recently used evicted first.
TERM_MEMO_MAX = 1 << 16
EXPAND_MEMO_MAX = 256
# wildcard patterns answered per dictionary job — bounds the plan, in
# which each pattern is one OR branch of the filter and one tag
RESOLVE_CHUNK = 128
_MISS = object()


def _memo_get(memo: dict, key):
    """LRU read: a hit moves to the most recent end (dicts are
    ordered); a miss returns ``_MISS``."""
    v = memo.pop(key, _MISS)
    if v is not _MISS:
        memo[key] = v
    return v


def _memo_put(memo: dict, key, value, cap: int) -> None:
    memo.pop(key, None)
    memo[key] = value
    while len(memo) > cap:
        memo.pop(next(iter(memo)))


_EV_EMPTY = np.empty(0, np.int64)


def _ev_node(node, docs_of: dict, pos_of: dict) -> np.ndarray:
    """Evaluate one rset-tree node over decoded per-shard postings —
    shared by the single-tree and batched kernels. Set algebra on
    sorted unique docid arrays (rpnsearch.c:2567-2772 over ISAMB
    leaves)."""
    E = _EV_EMPTY
    op = node[0]
    if op == "term":
        return docs_of.get(node[1], (E, E))[0]
    if op == "terms":
        parts = [docs_of[t][0] for t in node[1] if t in docs_of]
        if not parts:
            return E
        # rset_trunc dedup rule (index/trunc.c:149,200)
        return np.unique(np.concatenate(parts))
    if op == "phrase":
        if any(t not in pos_of for t in node[1]):
            return E
        return _phrase_match(pos_of, list(node[1]))[0]
    if op == "prox":
        # ("prox", [t1, t2], relation, distance, ordered)
        if any(t not in pos_of for t in node[1]):
            return E
        return _prox_match(pos_of, node[1][0], node[1][1],
                           node[2], node[3], node[4])
    if op == "and":
        # smallest-first child ordering (rsmultiandor.c:26-31)
        kids = sorted((_ev_node(c, docs_of, pos_of) for c in node[1]),
                      key=lambda a: a.size)
        out = kids[0]
        for a in kids[1:]:
            if out.size == 0:
                return E
            out = np.intersect1d(out, a, assume_unique=True)
        return out
    if op == "or":
        parts = [a for a in (_ev_node(c, docs_of, pos_of)
                             for c in node[1]) if a.size]
        if not parts:
            return E
        return np.unique(np.concatenate(parts))
    if op == "not":
        a = _ev_node(node[1], docs_of, pos_of)
        if a.size == 0:
            return E
        return np.setdiff1d(a, _ev_node(node[2], docs_of, pos_of),
                            assume_unique=True)
    raise ValueError(f"unknown tree node {op!r}")


def _rset_kernel(tree, term_idf, avgdl, rank_order, k, k1=K1, b=B):
    """Per-shard rset-DAG evaluator + BM25 ranker — the Spark twin of
    rpn_search_structure evaluating the whole boolean tree over ISAMB
    leaf streams (/root/reference/index/rpnsearch.c:2567-2772), then
    resultSetRank with CORPUS-GLOBAL statistics (term_idf carries the
    global df; avgdl/N come from the full norms table). One cogrouped
    pass per shard: decode → set algebra (numpy sorted-set ops) →
    score → bounded top-k cut under the milli tie discipline."""
    plain, phrased = _tree_terms(tree)
    want_pos = bool(phrased)

    empty = pd.DataFrame({
        "doc_id": pd.Series([], dtype="int64"),
        "raw": pd.Series([], dtype="float64"),
    })

    def fn(blocks: pd.DataFrame, norms: pd.DataFrame) -> pd.DataFrame:
        if len(blocks) == 0:
            return empty
        by_term = {t: g for t, g in blocks.groupby("term", sort=False)}
        docs_of: dict[str, tuple] = {}
        pos_of: dict[str, tuple] = {}
        for t in (plain | phrased):
            if t not in by_term:
                continue
            need_p = want_pos and t in phrased
            d, tfv, tok_off, p = _decode_with_offsets(by_term[t], need_p)
            docs_of[t] = (d, tfv)
            if need_p:
                pos_of[t] = (d, tok_off, p)

        docs = _ev_node(tree, docs_of, pos_of)
        if docs.size == 0:
            return empty
        if not rank_order:
            return pd.DataFrame({
                "doc_id": docs.astype(np.int64),
                "raw": np.zeros(docs.size, dtype=np.float64),
            })
        if len(norms) == 0:
            return empty
        nd_docids, nd_dls = _decode_norms(norms)
        dl = nd_dls[np.searchsorted(nd_docids, docs)]
        raw = np.zeros(docs.size, dtype=np.float64)
        for t in rank_order:
            if t not in docs_of:
                continue
            d, tfv = docs_of[t]
            idx = np.searchsorted(d, docs)
            ok = (idx < d.size)
            ok[ok] = d[idx[ok]] == docs[ok]
            if not ok.any():
                continue
            raw[ok] += term_idf[t] * _bm25_tf(tfv[idx[ok]], dl[ok], avgdl,
                                              k1, b)
        if k is not None and docs.size > k:
            milli = np.floor(raw * 10000.0 + 0.5).astype(np.int64)
            sel = np.lexsort((docs, -milli))[:k]
            docs, raw = docs[sel], raw[sel]
        return pd.DataFrame({"doc_id": docs.astype(np.int64), "raw": raw})

    return fn


def _rset_kernel_many(specs, avgdl, k, k1=K1, b=B):
    """Per-shard evaluator for a BATCH of rset DAGs — the structured-
    query twin of :func:`_multi_query_kernel`. Every term referenced
    by ANY tree is decoded once per shard (positions only for terms
    some tree uses positionally); each spec then evaluates its DAG
    and ranks against the shared decode cache with per-query math
    identical to :func:`_rset_kernel`, so each query's rows match its
    single-tree run exactly.

    ``specs``: [{qid, tree (expanded), idf: {term: idf},
    order: [rank terms], plain: set, phrased: set}]."""
    all_plain = set().union(*(s["plain"] for s in specs))
    all_phrased = set().union(*(s["phrased"] for s in specs))
    empty = pd.DataFrame({
        "query_id": pd.Series([], dtype="object"),
        "doc_id": pd.Series([], dtype="int64"),
        "raw": pd.Series([], dtype="float64"),
    })

    def fn(blocks: pd.DataFrame, norms: pd.DataFrame) -> pd.DataFrame:
        if len(blocks) == 0:
            return empty
        by_term = {t: g for t, g in blocks.groupby("term", sort=False)}
        docs_of: dict[str, tuple] = {}
        pos_of: dict[str, tuple] = {}
        for t in (all_plain | all_phrased):
            if t not in by_term:
                continue
            need_p = t in all_phrased
            d, tfv, tok_off, p = _decode_with_offsets(by_term[t], need_p)
            docs_of[t] = (d, tfv)
            if need_p:
                pos_of[t] = (d, tok_off, p)
        nd = None
        out_q, out_d, out_r = [], [], []
        for s in specs:
            docs = _ev_node(s["tree"], docs_of, pos_of)
            if docs.size == 0:
                continue
            # rank only over THIS spec's own terms: the decode cache
            # is shared across the batch, so a term another query
            # scanned must not leak into this query's BM25 (it would
            # diverge from the single-tree run, which never decodes it)
            own = s["plain"] | s["phrased"]
            order = [t for t in s["order"] if t in docs_of and t in own]
            if not order:
                raw = np.zeros(docs.size, dtype=np.float64)
            else:
                if nd is None:
                    if len(norms) == 0:
                        continue
                    nd = _decode_norms(norms)
                dl = nd[1][np.searchsorted(nd[0], docs)]
                raw = np.zeros(docs.size, dtype=np.float64)
                for t in order:
                    d, tfv = docs_of[t]
                    idx = np.searchsorted(d, docs)
                    ok = (idx < d.size)
                    ok[ok] = d[idx[ok]] == docs[ok]
                    if not ok.any():
                        continue
                    raw[ok] += s["idf"][t] * _bm25_tf(
                        tfv[idx[ok]], dl[ok], avgdl, k1, b)
            if k is not None and docs.size > k:
                milli = np.floor(raw * 10000.0 + 0.5).astype(np.int64)
                sel = np.lexsort((docs, -milli))[:k]
                docs, raw = docs[sel], raw[sel]
            out_q.extend([s["qid"]] * docs.size)
            out_d.append(docs)
            out_r.append(raw)
        if not out_d:
            return empty
        return pd.DataFrame({
            "query_id": pd.Series(out_q, dtype="object"),
            "doc_id": np.concatenate(out_d).astype(np.int64),
            "raw": np.concatenate(out_r),
        })

    return fn


def _decode_rows_flat(pdf: pd.DataFrame, want_positions: bool):
    """Decode arbitrary block rows (possibly many terms) into flat
    posting arrays, preserving row order — each block is
    self-contained (delta base resets at block start, positions reset
    per doc), so no per-group reassembly is needed."""
    n_docs = pdf["n_docs"].to_numpy(np.int64)
    d, tfv = _decode_docids_tfs(
        [bytes(x) for x in pdf["docids_bin"]],
        [bytes(x) for x in pdf["tfs_bin"]],
        n_docs,
    )
    term_rep = np.repeat(pdf["term"].to_numpy(object), n_docs)
    pos_lists = None
    if want_positions and d.size:
        pdeltas = varint_decode(
            b"".join(bytes(x) for x in pdf["pos_bin"])
        ).astype(np.int64)
        p = _undo_pos_deltas(pdeltas, tfv)
        starts = np.zeros(d.size + 1, dtype=np.int64)
        np.cumsum(tfv, out=starts[1:])
        pos_lists = np.split(p, starts[1:-1])
    return term_rep, d, tfv, pos_lists


class SegmentIndex:
    """Query-side handle on a committed segment index."""

    def __init__(self, spark: SparkSession, path: str,
                 cache_hot: bool = False):
        """``cache_hot=True`` pins blocks+norms in Spark storage — the
        serving-mode ISAMB page cache (/root/reference/isamb/isamb.c:
        380-450). Use for repeated-query serving on indexes that fit
        cluster memory; leave off for one-shot batch jobs or
        bigger-than-memory indexes (parquet + term pruning handle it)."""
        self.spark = spark
        self.path = path
        # The live set — the latest committed batch per shard (an
        # update/reindex wins by build_seq) — is read on the driver,
        # with no Spark job. The per-batch dictionary partials are
        # exact iff every LIVE batch is FULLY live (none of its shards
        # were superseded by a later reindex). Checking partial
        # liveness — not raw version counts — means compaction
        # restores the fast path (the compacted batch covers every
        # shard).
        self.meta = IndexMeta(spark, path)
        self._has_reindex = self.meta.has_reindex
        self.shard_batch = spark.createDataFrame(
            self.meta.live, "shard long, batch string")
        self.blocks = self._live_frame("blocks", BLOCK_SCHEMA)
        self.norms = self._live_frame("norms", NORMS_SCHEMA)
        self._init_serving(cache_hot)

    def _live_frame(self, table: str, schema: T.StructType) -> DataFrame:
        """The live rows of a batch-partitioned table. The known schema
        spares the read Spark's schema-inference job."""
        schema = T.StructType(
            schema.fields + [T.StructField("batch", T.StringType())])
        return self.spark.read.schema(schema).parquet(
            f"{self.path}/{table}").join(
            F.broadcast(self.shard_batch), ["shard", "batch"], "semi")

    def _init_serving(self, cache_hot: bool) -> None:
        """Handle state every handle shape shares, set once its
        ``blocks``/``norms`` frames exist: the serving layout and the
        driver-side memos.

        Serving mode (r6): pin blocks/norms ALREADY hash-partitioned
        by shard with the pinned task count. A per-query term filter
        preserves hashpartitioning(shard, p), which satisfies the
        cogroup's required distribution, so every query plan runs as
        ONE fused stage — in-memory scan + filter + kernel — with ZERO
        exchanges. This is the full ISAMB-page-cache shape: the layout
        cost is paid once at cache fill, queries only ever read it."""
        self._cache_hot = cache_hot
        if cache_hot:
            self.blocks = self._pin(self.blocks).cache()
            self.norms = self._pin(self.norms).cache()
        self._stats = None
        self._term_memo: dict[str, dict | None] = {}
        self._expand_memo: dict[tuple, tuple[str, ...]] = {}

    # -------------------------------------------------------- metadata

    def stats(self) -> tuple[int, float]:
        """(N, avgdl) — from the live per-shard norms rows (always
        shard-exact, even after reindex), summed on the driver from
        their ``n_docs``/``sum_dl`` columns; no Spark job."""
        if self._stats is None:
            n, s = self.meta.totals()
            self._stats = (n, s / n) if n else (0, 0.0)
        return self._stats

    def dictionary(self) -> DataFrame:
        """Global (term, df, cf, max_tf) as a Spark frame — merged
        batch partials (the kinput.c:709 heap-merge, as a groupBy).
        After a shard reindex the partials are stale, so fall back to
        aggregating block metadata (shard-filtered, no payload
        decode). Serving lookups do not use it: exact terms and
        prefixes are driver-side Arrow reads of the same rows
        (:mod:`idzebra_spark.meta`); it backs scans, ``info()`` and
        the non-prefix wildcard grep."""
        if self._has_reindex:
            return self.blocks.groupBy("term").agg(
                F.sum("n_docs").alias("df"),
                F.sum("sum_tf").alias("cf"),
                F.max("max_tf").alias("max_tf"),
            )
        return (
            self.spark.read.parquet(f"{self.path}/dictionary")
            .where(F.col("batch").isin(self.meta.batches))
            .groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.sum("cf").alias("cf"),
                F.max("max_tf").alias("max_tf"),
            )
        )

    def doc_meta(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/doc_meta").join(
            F.broadcast(self.shard_batch), ["shard", "batch"], "semi"
        )

    def lookup_terms(self, terms: list[str]) -> dict[str, dict]:
        """Dictionary lookup → {term: {df, cf, max_tf}} for the terms
        present, through :meth:`resolve` (memoized per handle)."""
        info, _ = self.resolve(terms)
        return {t: info[t] for t in terms if info[t] is not None}

    def resolve(self, terms=(), patterns=()) -> tuple[dict, dict]:
        """Answer exact-term lookups and wildcard expansions together
        — Zebra compiles every term, truncated or not, into one
        dictionary grep (Zebra index/rpnsearch.c:1023-1280).

        ``terms``: exact dictionary keys; ``patterns``: expansion keys
        (kind, pattern, field, errors, stem) as :func:`tree_patterns`
        yields them. Returns ({term: {df, cf, max_tf} | None},
        {pattern: sorted matching terms}).

        Hits come from the per-handle LRU memos (dict/dict-p.h:44-70)
        at no cost. Exact-term and prefix misses are driver-side Arrow
        reads of the term-sorted dictionary files, opening only the
        row groups whose term range can hold them — Zebra's paged
        dictionary (dict/dict-p.h:30-41) — with no Spark job. Suffix,
        contains, regex, z3958 and fuzzy misses need every term, so
        they are answered by ONE filtered dictionary collect (one per
        RESOLVE_CHUNK such patterns). The memo still wins on warm
        terms: a hit costs no file read. Each pattern keeps its own
        MAX_EXPAND bound: a pattern past it raises, naming that
        pattern, and never truncates another pattern's terms."""
        info, exp = {}, {}
        for t in terms:
            v = _memo_get(self._term_memo, t)
            if v is not _MISS:
                info[t] = v
        for key in patterns:
            v = _memo_get(self._expand_memo, key)
            if v is not _MISS:
                exp[key] = v
        miss_t = sorted(set(terms) - info.keys())
        miss_p = list(dict.fromkeys(k for k in patterns if k not in exp))
        if miss_t:
            found = self.meta.lookup(miss_t)
            for t in miss_t:
                info[t] = found.get(t)
                _memo_put(self._term_memo, t, info[t], TERM_MEMO_MAX)
        hits = {k: self.meta.prefix(k[2], k[1].lower(), self.MAX_EXPAND)
                for k in miss_p if k[0] == "prefix"}
        grep = [k for k in miss_p if k[0] != "prefix"]
        for i in range(0, len(grep), RESOLVE_CHUNK):
            chunk = grep[i:i + RESOLVE_CHUNK]
            hits.update(zip(chunk, self._dictionary_grep(chunk)))
        wide = None
        for key in miss_p:
            if len(hits[key]) > self.MAX_EXPAND:
                wide = wide or key
                continue
            exp[key] = tuple(sorted(hits[key]))
            _memo_put(self._expand_memo, key, exp[key], EXPAND_MEMO_MAX)
        if wide is not None:
            raise ValueError(
                f"truncation {wide[0]}:{wide[1]!r} expands past "
                f"{self.MAX_EXPAND} terms")
        return info, exp

    def _dictionary_grep(self, patterns: list[tuple]) -> list[list[str]]:
        """ONE dictionary job: the terms matching each pattern. The
        filter reads only ``term`` (the grouping key), so it is pushed
        below the dictionary aggregate. Each row is tagged with the ids
        of the patterns it matches, and at most MAX_EXPAND + 1 rows per
        pattern reach the driver."""
        conds = [_pattern_cond(k) for k in patterns]
        tags = F.array(*[F.when(c, F.lit(i)) for i, c in enumerate(conds)])
        w = Window.partitionBy("pid").orderBy("term")
        d = (
            self.dictionary().where(reduce(operator.or_, conds))
            .select("term", F.explode(tags).alias("pid"))
            .where(F.col("pid").isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= self.MAX_EXPAND + 1)
        )
        hits: list[list[str]] = [[] for _ in patterns]
        for r in d.collect():
            hits[r["pid"]].append(r["term"])
        return hits

    # ----------------------------------------------------------- query

    def _empty_result(self) -> DataFrame:
        return self.spark.createDataFrame([], RESULT_SCHEMA)

    def close(self) -> None:
        """Release this handle's Spark storage: the cache_hot
        blocks/norms. A handle is cheap to reopen; long-lived sessions juggling many
        registers (notebooks, the entry-point cache) can bound their
        storage memory by closing handles they are done with."""
        for df in (self.blocks, self.norms):
            try:
                df.unpersist()
            except Exception:
                pass

    def _norms_side(self, blk: DataFrame) -> DataFrame:
        """The norms input of a cogrouped kernel, already pinned.

        Serving mode (cache_hot): ``self.norms`` is already persisted
        hash-partitioned by shard (see ``__init__``), so it is the
        norms input as-is — the kernels emit nothing for a shard
        group with no blocks, so dropping the per-query semi-join
        prune changes no result, while the per-query norms shuffle
        AND the blk-distinct aggregate subtree disappear from every
        plan (the persisted frame's hashpartitioning(shard, p)
        satisfies the cogroup's required distribution, so no exchange
        is re-inserted). This is the Zebra ISAMB page-cache shape:
        pay the layout cost on first touch, serve from it afterwards.

        Batch mode: keep the semi-join prune — a one-shot query on
        rare terms shuffles far fewer norm rows, and nothing is
        retained across calls."""
        if self._cache_hot:
            return self.norms
        return self._pin(self.norms.join(
            blk.select("shard").distinct(), "shard", "semi"))

    def _kernel_input(self, blk: DataFrame) -> DataFrame:
        """The blocks input of a per-shard kernel. Serving mode: the
        persisted blocks already carry hashpartitioning(shard, p) and
        a term filter preserves it, so the frame feeds the cogroup
        directly — no per-query exchange, the whole query is one fused
        stage. Batch mode: pin the task count explicitly (see
        :meth:`_pin`)."""
        if self._cache_hot:
            return blk
        return self._pin(blk)

    def _pin(self, df: DataFrame) -> DataFrame:
        """Pin the kernel stage's task count (repartition by shard
        with an EXPLICIT numPartitions). AQE's size-based coalesce is
        right for data-proportional stages but wrong for these
        CPU-bound decode+score kernels: the pruned block payload of a
        16-term batch is a few MB, so AQE folds the cogroup to 3-5
        tasks regardless of cores — and a task count that is not a
        multiple of the core count leaves a one-task straggler wave
        (measured at 4 cores: batch-1024 serving 71 → 102 q/s once
        pinned). A user-specified numPartitions is exempt from AQE
        coalescing, and hash-partitioning by shard satisfies the
        cogroup's required distribution, so this replaces — not
        duplicates — the shuffle the cogroup would insert."""
        try:  # the setting may be non-numeric ("auto" on some platforms)
            n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            n = 0
        p = max(n, self.spark.sparkContext.defaultParallelism, 1)
        return df.repartition(p, "shard")

    def _run(self, terms_info, avgdl, mode, theta, k,
             neg_terms=()) -> DataFrame:
        terms = [t for t, _ in terms_info]
        term_idf = {t: i["idf"] for t, i in terms_info}
        order = [t for t, _ in sorted(terms_info, key=lambda x: x[1]["df"])]
        blk = self.blocks.where(
            F.col("term").isin(sorted(set(terms) | set(neg_terms)))
        )
        nrm = self._norms_side(blk)
        kernel = _shard_kernel(term_idf, order, avgdl, mode, theta, k,
                               neg_terms=neg_terms)
        return (
            self._kernel_input(blk).groupBy("shard")
            .cogroup(nrm.groupBy("shard"))
            .applyInPandas(kernel, TOPK_SCHEMA)
        )

    def topk(self, terms: list[str], k: int = 10, mode: str = "or",
             not_terms: list[str] | None = None) -> DataFrame:
        """BM25 top-k -> (doc_id, score_milli), rank-identical to
        operators.bruteforce.bm25_topk. ``not_terms``: AND-NOT
        exclusions applied before scoring (rsbool semantics).

        Serving shape: the dictionary lookup is a separate step on the
        driver, in front of the one kernel job. A memo miss is an
        Arrow read of the row groups of the term-sorted dictionary
        files that can hold the terms — Zebra's paged dictionary
        (dict/dict-p.h:30-41) — not a Spark job; a memo hit (Zebra's
        dict LRU, dict/dict-p.h:44-70) costs nothing, so the memo
        still wins on warm terms. ``scripts/probe_meta_plane.py``
        times both reads against a Spark collect of the same rows
        (``PERF_meta_plane.json``). An older A/B (round 4, sf0.1)
        also ruled out fusing the lookup into the query job as a
        broadcast join: warm-term latency regressed 0.56 → 0.75 s,
        since fusion re-evaluates the dictionary subtree every
        query."""
        neg = tuple(sorted(set(t.lower() for t in (not_terms or []))))
        terms = sorted(set(t.lower() for t in terms))
        n_docs, avgdl = self.stats()
        if n_docs == 0:
            return self._empty_result()
        info = self.lookup_terms(terms)
        if mode == "and" and len(info) < len(terms):
            return self._empty_result()
        if not info:
            return self._empty_result()
        terms_info = []
        for t, d in info.items():
            d["idf"] = math.log(1.0 + (n_docs - d["df"] + 0.5) / (d["df"] + 0.5))
            terms_info.append((t, d))

        # θ is seeded inside the shard kernel (rarest term's solo
        # scores) — no extra distributed pass needed.
        out = self._run(terms_info, avgdl, mode, 0.0, k, neg_terms=neg)
        # order by the ROUNDED score (milli) — the same tie discipline
        # as bruteforce.bm25_topk and the DuckDB oracle, so rank
        # identity holds even when two raw scores round to one milli.
        return (
            out.select(
                "doc_id",
                F.round(F.col("raw") * 10000, 0).cast("long").alias("score_milli"),
            )
            .orderBy(F.desc("score_milli"), F.asc("doc_id"))
            .limit(k)
        )

    def topk_many(self, queries: dict[str, dict], k: int = 10) -> DataFrame:
        """Batched BM25 top-k: score EVERY query in one cogrouped pass
        over the blocks → (query_id, doc_id, score_milli), per-query
        top-k under the milli tie discipline.

        ``queries``: {query_id: {"terms": [...], "mode": "or"|"and",
        "not_terms": [...]}}. Each query's rows are rank-identical to
        ``topk(terms, k, mode, not_terms)`` — the kernel decodes each
        referenced term once and reuses it across queries, and the
        per-query math matches the single-query kernel exactly.

        Why: single-query latency is floored by Spark job scheduling
        (~0.5 s/job), not kernel time; the reference amortizes its
        per-query setup across a session via the ISAMB page cache
        (/root/reference/isamb/isamb.c:380-450). Shipping N queries'
        term→idf maps into ONE job amortizes the floor N× — the
        serving-throughput shape for a query frontend that drains a
        request queue in micro-batches."""
        n_docs, avgdl = self.stats()
        if n_docs == 0 or not queries:
            return self.spark.createDataFrame([], BATCH_RESULT_SCHEMA)
        all_pos = sorted({
            t.lower() for q in queries.values() for t in q["terms"]})
        info = self.lookup_terms(all_pos)  # one driver-side read, memoized
        specs = []
        scan_terms: set[str] = set()
        for qid, q in queries.items():
            terms = sorted({t.lower() for t in q["terms"]})
            neg = tuple(sorted({t.lower()
                                for t in (q.get("not_terms") or [])}))
            mode = q.get("mode", "or")
            ti = {t: info[t] for t in terms if t in info}
            if not ti or (mode == "and" and len(ti) < len(terms)):
                continue  # no hits possible — emit nothing for qid
            idf = {
                t: math.log(1.0 + (n_docs - d["df"] + 0.5) / (d["df"] + 0.5))
                for t, d in ti.items()
            }
            order = sorted(ti, key=lambda t: ti[t]["df"])
            specs.append({"qid": str(qid), "mode": mode, "idf": idf,
                          "order": order, "neg": neg})
            scan_terms.update(idf)
            scan_terms.update(neg)
        if not specs:
            return self.spark.createDataFrame([], BATCH_RESULT_SCHEMA)
        blk = self.blocks.where(F.col("term").isin(sorted(scan_terms)))
        nrm = self._norms_side(blk)
        kernel = _multi_query_kernel(specs, avgdl, k)
        out = (
            self._kernel_input(blk).groupBy("shard")
            .cogroup(nrm.groupBy("shard"))
            .applyInPandas(kernel, BATCH_TOPK_SCHEMA)
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score_milli"), F.asc("doc_id"))
        return (
            out.select(
                "query_id", "doc_id",
                F.round(F.col("raw") * 10000, 0).cast("long")
                .alias("score_milli"),
            )
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .drop("_rn")
        )

    # ------------------------------------------------ rset-DAG queries

    MAX_EXPAND = 10000  # truncation fan-out bound (dict grep limit)

    def scan(self, seed: str, n_after: int = 10, n_before: int = 0,
             limit_set: DataFrame | None = None,
             field: "str | list[str] | None" = None) -> DataFrame:
        """Dictionary browse around a seed term — zebra_scan. Without
        ``limit_set`` it is served purely by the merged dictionary
        (no posting decode). With a limiting result set
        (/root/reference/index/rpnscan.c:200-283 ``scan_save_set``):
        per-term counts are RESTRICTED to the hit set and zero-count
        terms are skipped, exactly as rpn_scan walks the dictionary
        probing each term against the limit set until the window
        fills. The Spark shape: take a candidate window of dictionary
        terms around the seed, count each term's postings inside the
        limit set (posting scan pruned to the candidates + semi-join),
        and DOUBLE the candidate window until enough nonzero terms
        exist on both sides or the dictionary is exhausted — a few
        Browse is scoped to ONE OR MORE registers like ``expand``: the
        body text by default (composite ``field\\x1fterm`` keys
        excluded — on a fielded index 'lang\\x1fen' sorts before
        'merge' and would otherwise pollute the before-window), one
        field's register via ``field='name'``, or SEVERAL via
        ``field=[...]`` — rpn_scan's parallel multi-ordinal scan
        merged by term (rpnscan.c:285-480): the same display term
        appearing in several registers shows once with summed df."""
        seed = seed.lower().split("\x1f")[-1]
        from idzebra_spark.operators.boolean import FIELD_SEP

        full = self.dictionary().select("term", F.col("df").cast("long")
                                        .alias("df"))
        fields = ([field] if isinstance(field, str) else field) or []
        if not fields:
            # (display term, composite key) per register; body keys
            # are their own display form
            d = full.where(~F.col("term").contains(FIELD_SEP)) \
                .select("term", F.col("term").alias("key"), "df")
        else:
            parts = []
            for f in fields:
                pfx = f + FIELD_SEP
                parts.append(
                    full.where(F.col("term").startswith(pfx)).select(
                        F.expr(f"substring(term, {len(pfx) + 1})")
                        .alias("term"),
                        F.col("term").alias("key"), "df"))
            from functools import reduce

            d = reduce(lambda a, b: a.unionByName(b), parts)
        merged = d.groupBy("term").agg(F.sum("df").alias("df"))

        if limit_set is None:
            after = (merged.where(F.col("term") >= seed)
                     .orderBy(F.asc("term")).limit(n_after))
            if n_before <= 0:
                return after
            before = (merged.where(F.col("term") < seed)
                      .orderBy(F.desc("term")).limit(n_before))
            return before.unionByName(after).orderBy(F.asc("term"))

        lim = limit_set.select("doc_id").distinct()
        strip_expr = (F.col("term") if not fields else
                      F.element_at(F.split("term", FIELD_SEP), -1))
        factor = 4
        while True:
            cand_after = [
                r["term"] for r in merged.where(F.col("term") >= seed)
                .orderBy(F.asc("term")).limit(factor * n_after).collect()
            ]
            cand_before = [
                r["term"] for r in merged.where(F.col("term") < seed)
                .orderBy(F.desc("term")).limit(factor * n_before).collect()
            ] if n_before > 0 else []
            cand = cand_after + cand_before
            if not cand:
                return self.spark.createDataFrame([], "term string, df long")
            keys = [r["key"] for r in
                    d.where(F.col("term").isin(cand)).collect()]
            counts = (
                self.term_postings(keys, with_positions=False)
                .join(lim, "doc_id", "semi")
                .groupBy("term")  # per composite key first...
                .agg(F.countDistinct("doc_id").cast("long").alias("df"))
                .select(strip_expr.alias("term"), "df")
                .groupBy("term")  # ...then merged per display term,
                .agg(F.sum("df").alias("df"))  # as the df-sum display
                .collect()
            )
            by_term = {r["term"]: r["df"] for r in counts}
            hits_after = [t for t in cand_after if by_term.get(t)]
            hits_before = [t for t in cand_before if by_term.get(t)]
            a_done = (len(hits_after) >= n_after
                      or len(cand_after) < factor * n_after)
            b_done = (n_before <= 0 or len(hits_before) >= n_before
                      or len(cand_before) < factor * n_before)
            if a_done and b_done:
                rows = sorted(
                    [(t, by_term[t]) for t in hits_after[:n_after]]
                    + [(t, by_term[t]) for t in hits_before[:n_before]]
                )
                return self.spark.createDataFrame(
                    rows, "term string, df long")
            factor *= 4

    def expand(self, kind: str, pattern: str,
               field: str | None = None, errors: int = 1,
               stem: str | None = None) -> list[str]:
        """Dictionary truncation expansion — Zebra's dict_lookup_grep
        over the term dictionary (/root/reference/index/rpnsearch.c:
        1148-1254): 'prefix' = right trunc (attr 5=1), 'suffix' = left
        trunc (5=2), 'contains' = both (5=3), 'regex' = regexp-1
        (5=102), 'z3958' = ?n/# masking (5=104), 'fuzzy' = regexp-2
        with an embedded error budget (5=103). Returns the sorted
        matching terms (bounded by MAX_EXPAND).

        'fuzzy' approximates term_103 (/root/reference/index/
        rpnsearch.c:1211-1254, dict/lookgrep.c approximate DFA walk):
        a term matches if it satisfies the regex exactly OR lies
        within ``errors`` edits of ``stem`` (default: the pattern
        stripped to its literal alphanumerics) — the declarative twin
        of 'regex with ≤ n errors', without reimplementing the
        Wu-Manber bit-parallel automaton.

        Expansions are memoized per handle (r6) — the same dict-LRU
        discipline as :meth:`lookup_terms` (dict/dict-p.h:44-70): a
        repeated wildcard leaf costs nothing after its first
        evaluation on this (immutable) index snapshot. The work is
        :meth:`resolve` with one pattern: a prefix is a driver-side
        read of its term range, and the other kinds of a whole batch
        share one dictionary job.

        Expansion is scoped to one register: by default the BODY text
        (composite ``field\\x1fterm`` keys excluded), or a single
        field's keys via ``field=`` — exactly as Zebra anchors
        dict_lookup_grep under one ordinal prefix
        (/root/reference/index/rpnsearch.c:1269-1272). Without the
        scope, ('suffix', 'en') on a fielded index would match
        'lang\\x1fen' and return every lang=en doc."""
        key = (kind, pattern, field, errors, stem)
        return list(self.resolve(patterns=[key])[1][key])

    def _tree_run(self, tree, rank_terms: list[str], k: int | None):
        rank_terms = sorted(set(t.lower() for t in rank_terms))
        # one resolve: the tree's wildcards and its rank terms
        found, exp = self.resolve(rank_terms, tree_patterns(tree))
        tree = _expand_tree(tree, exp)
        plain, phrased = _tree_terms(tree)
        all_terms = sorted(plain | phrased)
        if not all_terms:
            return self._empty_result().select("doc_id",
                                               F.lit(0.0).alias("raw"))
        n_docs, avgdl = self.stats()
        term_idf = {
            t: math.log(1.0 + (n_docs - found[t]["df"] + 0.5)
                        / (found[t]["df"] + 0.5))
            for t in rank_terms if found[t] is not None
        }
        rank_order = list(term_idf)
        blk = self.blocks.where(F.col("term").isin(all_terms))
        nrm = self._norms_side(blk)
        kernel = _rset_kernel(tree, term_idf, avgdl, rank_order, k)
        return (
            self._kernel_input(blk).groupBy("shard")
            .cogroup(nrm.groupBy("shard"))
            .applyInPandas(kernel, RSET_SCHEMA)
        )

    def eval_tree(self, tree) -> DataFrame:
        """Evaluate a boolean rset DAG over segment leaves → distinct
        doc_id set. Tree nodes: ('term', t) | ('terms', [t..]) |
        ('phrase', [t..]) | ('prefix'|'suffix'|'contains'|'regex'|
        'z3958', pattern) | ('and'|'or', [children]) |
        ('not', left, right)."""
        return self._tree_run(tree, [], None).select("doc_id")

    def search_tree(self, tree, k: int = 10,
                    rank_terms: list[str] | None = None) -> DataFrame:
        """Ranked structured search: evaluate the rset DAG, then BM25-
        rank the matching docs with corpus-GLOBAL stats (N, avgdl,
        per-term df) — scores are identical to what the flat WAND path
        gives the same doc for the same terms (no subset statistics).
        Returns (doc_id, score_milli) under the milli tie discipline."""
        if rank_terms is None:
            rank_terms = tree_rank_terms(tree)
        out = self._tree_run(tree, rank_terms, k)
        return (
            out.select(
                "doc_id",
                F.round(F.col("raw") * 10000, 0).cast("long")
                .alias("score_milli"),
            )
            .orderBy(F.desc("score_milli"), F.asc("doc_id"))
            .limit(k)
        )

    def search_tree_many(self, trees: "dict[str, object]",
                         k: int = 10) -> DataFrame:
        """Batched STRUCTURED search: {query_id: rset tree} → one
        DataFrame (query_id, doc_id, score_milli), all trees evaluated
        in ONE cogrouped pass (shared per-shard term decode — the
        structured twin of :meth:`topk_many`). Each query's rows are
        rank-identical to ``search_tree(tree, k)``."""
        n_docs, avgdl = self.stats()
        if n_docs == 0 or not trees:
            return self.spark.createDataFrame([], BATCH_RESULT_SCHEMA)
        rank_of = {qid: sorted({t.lower() for t in tree_rank_terms(tree)})
                   for qid, tree in trees.items()}
        # one resolve for every tree's wildcards and rank terms
        info, exp = self.resolve(
            sorted(set().union(*rank_of.values())),
            [key for tree in trees.values() for key in tree_patterns(tree)])
        specs = []
        scan_terms: set[str] = set()
        for qid, tree in trees.items():
            tr = _expand_tree(tree, exp)
            plain, phrased = _tree_terms(tr)
            if not (plain | phrased):
                continue
            rt = rank_of[qid]
            idf = {
                t: math.log(1.0 + (n_docs - info[t]["df"] + 0.5)
                            / (info[t]["df"] + 0.5))
                for t in rt if info[t] is not None
            }
            specs.append({"qid": str(qid), "tree": tr, "idf": idf,
                          "order": [t for t in rt if t in idf],
                          "plain": plain, "phrased": phrased})
            scan_terms |= plain | phrased
        if not specs:
            return self.spark.createDataFrame([], BATCH_RESULT_SCHEMA)
        blk = self.blocks.where(F.col("term").isin(sorted(scan_terms)))
        nrm = self._norms_side(blk)
        kernel = _rset_kernel_many(specs, avgdl, k)
        out = (
            self._kernel_input(blk).groupBy("shard")
            .cogroup(nrm.groupBy("shard"))
            .applyInPandas(kernel, BATCH_TOPK_SCHEMA)
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score_milli"), F.asc("doc_id"))
        return (
            out.select(
                "query_id", "doc_id",
                F.round(F.col("raw") * 10000, 0).cast("long")
                .alias("score_milli"),
            )
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .drop("_rn")
        )

    def term_postings(self, terms: list[str],
                      with_positions: bool = True) -> DataFrame:
        """Decoded postings (term, doc_id, tf, positions) for a term
        set — the segment-backed replacement for re-tokenizing the
        corpus (positions come from pos_bin; the scan is pruned to the
        requested terms by parquet min/max stats). Each (term, doc_id)
        appears exactly once (a doc lives in one shard)."""
        terms = sorted(set(t.lower() for t in terms))
        blk = self.blocks.where(F.col("term").isin(terms))
        want_pos = with_positions

        def gen(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                term_rep, d, tfv, pos_lists = _decode_rows_flat(pdf, want_pos)
                yield pd.DataFrame({
                    "term": term_rep,
                    "doc_id": d.astype(np.int64),
                    "tf": tfv.astype(np.int32),
                    "positions": (pos_lists if want_pos and pos_lists
                                  is not None else [None] * d.size),
                })

        return blk.mapInPandas(gen, POSTINGS_SCHEMA)

    def approx_count(self, terms: list[str], mode: str = "or",
                     sample: float = 0.25, picker: str = "stride") -> int:
        """Approximate hit count — Zebra's hits_limit/estimatehits
        stops counting early and extrapolates from the position ratio
        (/root/reference/index/zsets.c:1498-1522). Here: count exactly
        on a deterministic ``sample`` fraction of shards and scale by
        the sampled fraction of documents. The scale-up is integer
        arithmetic (half-up), so the estimate is engine-independent.

        ``picker``: 'stride' (default — r6, was 'hash': the default
        is now the path the hard oracle checks, per the r5 review)
        takes every ``round(1/sample)``-th shard by id — systematic
        sampling over the docid range, expressible in plain SQL (the
        ``approx_hit_count`` oracle entry uses it); 'hash'
        pseudo-randomizes the shard draw via xxhash64 (useful when
        docid ranges correlate with content and systematic sampling
        would alias)."""
        terms = sorted(set(t.lower() for t in terms))
        info = self.lookup_terms(terms)
        if not info or (mode == "and" and len(info) < len(terms)):
            return 0
        shards = self.norms.select("shard", "n_docs")
        if picker == "stride":
            stride = max(int(round(1.0 / sample)), 1)
            picked = shards.where(F.pmod(F.col("shard"), stride) == 0)
        else:
            picked = shards.where(
                F.pmod(F.xxhash64("shard"), 1000) < int(sample * 1000)
            )
        tot = shards.agg(F.sum("n_docs")).collect()[0][0]
        got = picked.agg(F.sum("n_docs")).collect()[0][0]
        if not got:
            return self.count(terms, mode)
        n_docs, avgdl = self.stats()
        terms_info = [(t, {**d, "idf": 1.0}) for t, d in info.items()]
        blk = self.blocks.where(F.col("term").isin(terms)).join(
            picked.select("shard"), "shard", "semi"
        )
        nrm = self._norms_side(blk)
        kernel = _shard_kernel(
            {t: 1.0 for t, _ in terms_info},
            [t for t, _ in sorted(terms_info, key=lambda x: x[1]["df"])],
            avgdl, mode, 0.0, None,
        )
        rows = self._kernel_input(blk).groupBy("shard").cogroup(
            nrm.groupBy("shard")).applyInPandas(
            kernel, TOPK_SCHEMA
        )
        if mode == "and":
            rows = rows.where(F.col("n_matched") == len(terms))
        sampled_hits = rows.count()
        # integer half-up scale: no float, no banker's-rounding skew —
        # DuckDB computes the identical value from the same integers
        return int((sampled_hits * int(tot) + int(got) // 2) // int(got))

    def phrase(self, terms: list[str], k: int = 10) -> DataFrame:
        """Exact adjacent phrase over the segment's stored positions →
        (doc_id, n_occ), doc_id asc, limit k. Requires the index to
        have been built with store_positions=True."""
        terms_l = [t.lower() for t in terms]
        blk = self.blocks.where(F.col("term").isin(sorted(set(terms_l))))
        out = self._kernel_input(blk).groupBy("shard").applyInPandas(
            _phrase_kernel(terms_l), PHRASE_SCHEMA
        )
        return out.orderBy(F.asc("doc_id")).limit(k)

    def count(self, terms: list[str], mode: str = "or") -> int:
        """Exact boolean hit count (tl_query analogue)."""
        terms = sorted(set(t.lower() for t in terms))
        n_docs, avgdl = self.stats()
        info = self.lookup_terms(terms)
        if not info or (mode == "and" and len(info) < len(terms)):
            return 0
        terms_info = [(t, {**d, "idf": 1.0}) for t, d in info.items()]
        rows = self._run(terms_info, avgdl, mode, 0.0, None)
        if mode == "and":
            rows = rows.where(F.col("n_matched") == len(terms))
        return rows.count()
