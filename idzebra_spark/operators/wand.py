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

Every query surface — single or batched, flat or structured, ranked
or counted — is a batch of rset trees run by ONE per-shard kernel
(:func:`_query_kernel`) through ONE plan builder
(``SegmentIndex._score``); a flat query is a shallow tree.

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
from idzebra_spark.meta import IndexMeta, with_batch
from idzebra_spark.operators.boolean import FIELD_SEP
from idzebra_spark.operators.segment import (
    BLOCK_SCHEMA, DICT_DDL, NORMS_SCHEMA)

TOPK_SCHEMA = T.StructType([
    T.StructField("query_id", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("raw", T.DoubleType()),
])


def _milli() -> Column:
    # the ROUNDED score — the same tie discipline as
    # bruteforce.bm25_topk and the DuckDB oracle, so rank identity
    # holds even when two raw scores round to one milli
    return F.round(F.col("raw") * 10000, 0).cast("long").alias("score_milli")


def _best(out: DataFrame, k: int) -> DataFrame:
    """One query's (doc_id, score_milli) top-k, score desc, doc_id asc."""
    return (out.select("doc_id", _milli())
            .orderBy(F.desc("score_milli"), F.asc("doc_id")).limit(k))


def _best_per_query(out: DataFrame, k: int) -> DataFrame:
    """(query_id, doc_id, score_milli): each query's top-k."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_milli"), F.asc("doc_id"))
    return (out.select("query_id", "doc_id", _milli())
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k).drop("_rn"))


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
            out.append(re.escape(c))
            i += 1
    out.append("$")
    return "".join(out)


POSTINGS_SCHEMA = T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("tf", T.IntegerType()),
    T.StructField("positions", T.ArrayType(T.LongType())),
])


def _tree_terms(tree) -> tuple[set, set]:
    """(plain_terms, positional_terms) referenced anywhere in the
    tree — positional terms (phrase/prox leaves) need pos_bin. A
    wildcard leaf names no term until it is expanded."""
    op = tree[0]
    if _leaf_pattern(tree) is not None:
        return set(), set()
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
    """Evaluate one rset-tree node over decoded per-shard postings for
    :func:`_query_kernel`: set algebra on sorted unique docid arrays
    (rpnsearch.c:2567-2772 over ISAMB leaves)."""
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


def _flat_shape(tree) -> tuple[str, list[str], list[str]] | None:
    """(mode, terms, not_terms) when ``tree`` is a flat query — an
    OR/AND of term leaves, or one term leaf, under a chain of NOTs
    whose right sides are term leaves — else None. Only this shape
    prunes blocks in :func:`_query_kernel`."""
    neg = []
    while tree[0] == "not":
        if tree[2][0] != "term":
            return None
        neg.append(tree[2][1])
        tree = tree[1]
    if tree[0] == "term":
        return "or", [tree[1]], neg
    if tree[0] in ("and", "or") and all(c[0] == "term" for c in tree[1]):
        return tree[0], [c[1] for c in tree[1]], neg
    return None


def _flat_tree(terms, mode: str = "or", not_terms=None) -> tuple:
    """The rset tree of a flat query: ``mode`` over the lower-cased
    term leaves, minus each lower-cased NOT term."""
    tree = (mode, [("term", t) for t in sorted({t.lower() for t in terms})])
    for t in sorted({t.lower() for t in not_terms or ()}):
        tree = ("not", tree, ("term", t))
    return tree


def _can_match(node, info: dict) -> bool:
    """False when the dictionary shows the tree matches nothing: a
    term, phrase or proximity leaf whose term ``info`` maps to None
    (absent) is empty, and emptiness propagates through and/or/not."""
    op = node[0]
    if op == "term":
        return info.get(node[1]) is not None
    if op == "terms":
        return bool(node[1])
    if op in ("phrase", "prox"):
        return all(info.get(t) is not None for t in node[1])
    if op == "and":
        return bool(node[1]) and all(_can_match(c, info) for c in node[1])
    if op == "or":
        return any(_can_match(c, info) for c in node[1])
    return _can_match(node[1], info)  # not


def _query_kernel(specs, avgdl, k, k1=K1, b=B):
    """Per-shard kernel under every ranked search, batch, count and
    rset-tree evaluation — rpn_search_structure evaluating the boolean
    tree over ISAMB leaf streams (Zebra index/rpnsearch.c:2567-2772),
    then resultSetRank with CORPUS-GLOBAL statistics
    (idf carries the global df; avgdl/N come from the full norms
    table), for a BATCH of queries in one cogrouped pass.

    ``specs``: [{qid, tree (expanded), idf: {rank term: idf}, order:
    [the tree's dictionary terms, ascending (df, term)]}]. Per shard,
    each term is decoded in full at most once, into a cache the batch
    shares (positions only for terms some tree uses positionally).
    Each tree is evaluated with :func:`_ev_node`, its docs are scored
    over its own rank terms in ``order`` — one summation order for
    every query — and cut to a bounded top-k under the milli tie
    discipline. A spec with no ``idf`` is not ranked (raw 0);
    ``k=None`` keeps every doc.

    Flat queries (:func:`_flat_shape`) prune blocks, losslessly:
    - AND decodes its terms in ascending df and skips blocks that
      overlap no surviving candidate (isamb_pp_forward skipping;
      smallest-first children, rsmultiandor.c:26-31);
    - OR with ``k`` decodes its rarest term in full and seeds θ from
      the k-th best solo score of its docs left after the NOT
      exclusions. A block of another term is skipped when its block-max
      bound — the block's ub, plus the rarest term's best exact score
      inside the block's docid range, plus the other terms' ubs — is
      below θ.
    A skipped block holds only docs scoring below θ, so no top-k doc
    sits in one. Pruned decodes stay out of the cache, and a cached
    full decode stands in for a pruned one."""
    prepared, phrased_all = [], set()
    for s in specs:
        plain, phrased = _tree_terms(s["tree"])
        phrased_all |= phrased
        prepared.append((s, plain | phrased, _flat_shape(s["tree"]),
                         [t for t in s["order"] if t in s["idf"]]))
    empty = pd.DataFrame({
        "query_id": pd.Series([], dtype="object"),
        "doc_id": pd.Series([], dtype="int64"),
        "raw": pd.Series([], dtype="float64"),
    })

    def fn(blocks: pd.DataFrame, norms: pd.DataFrame) -> pd.DataFrame:
        if len(blocks) == 0:
            return empty
        by_term = {t: g for t, g in blocks.groupby("term", sort=False)}
        full: dict[str, tuple] = {}
        pos_of: dict[str, tuple] = {}
        nd: list = []

        def decode(t, keep=None):
            """t's (docids, tfs): the cached full decode, else the
            blocks ``keep`` selects (not cached), else a full decode,
            which is cached."""
            if t in full:
                return full[t]
            g = by_term[t]
            if keep is not None and not keep.all():
                if not keep.any():
                    return _EV_EMPTY, _EV_EMPTY
                return _decode_block_rows(g[keep], False)[:2]
            d, tfv, tok_off, p = _decode_with_offsets(g, t in phrased_all)
            full[t] = (d, tfv)
            if t in phrased_all:
                pos_of[t] = (d, tok_off, p)
            return full[t]

        def dl_of(docs):
            if not nd:
                nd.extend(_decode_norms(norms))
            return nd[1][np.searchsorted(nd[0], docs)]

        def flat_view(mode, pos, neg, idf, order):
            """The flat query's postings by term, its blocks pruned;
            None when it cannot match in this shard."""
            view = {t: decode(t) for t in neg if t in by_term}
            excluded = (np.unique(np.concatenate([view[t][0] for t in view]))
                        if view else _EV_EMPTY)
            terms = [t for t in order if t in pos]
            present = [t for t in terms if t in by_term]
            if not present or (mode == "and" and len(present) < len(terms)):
                return None
            if mode == "and":
                cand = None
                for t in present:
                    keep = None
                    if cand is not None:
                        g = by_term[t]
                        keep = (np.searchsorted(
                            cand, g["last_docid"].to_numpy(np.int64), "right")
                            > np.searchsorted(
                            cand, g["first_docid"].to_numpy(np.int64), "left"))
                    d, _ = view[t] = decode(t, keep)
                    cand = (np.setdiff1d(d, excluded, assume_unique=True)
                            if cand is None
                            else np.intersect1d(cand, d, assume_unique=True))
                    if cand.size == 0:
                        return None
                return view
            first = present[0]
            d1, tf1 = view[first] = decode(first)
            theta = 0.0
            if k is not None and idf.get(first) and len(norms):
                keep1 = ~np.isin(d1, excluded)
                d1, tf1 = d1[keep1], tf1[keep1]
                solo = idf[first] * _bm25_tf(tf1, dl_of(d1), avgdl, k1, b)
                if solo.size >= k:
                    # one milli (1e-4) of slack keeps the prune lossless
                    # under the ROUNDED ordering: a doc just below the
                    # k-th raw score can still round-tie at the milli
                    # level and win on doc_id, so it must survive
                    theta = float(np.partition(solo, -k)[-k]) - 1e-4
            min_dl = float(norms["min_dl"].iloc[0]) if len(norms) else 0.0
            ub = {t: idf.get(t, 0.0) * float(_bm25_tf(
                by_term[t]["max_tf"].max(), min_dl, avgdl, k1, b))
                for t in present}
            for t in present[1:]:
                keep = None
                if theta > 0.0:
                    g = by_term[t]
                    lo = np.searchsorted(
                        d1, g["first_docid"].to_numpy(np.int64), "left")
                    hi = np.searchsorted(
                        d1, g["last_docid"].to_numpy(np.int64), "right")
                    best1 = np.array([solo[a:z].max() if z > a else 0.0
                                      for a, z in zip(lo, hi)])
                    blk_ub = idf.get(t, 0.0) * _bm25_tf(
                        g["max_tf"].to_numpy(np.int64), min_dl, avgdl, k1, b)
                    rest = sum(ub.values()) - ub[t] - ub[first]
                    # strict <: ties at θ are kept
                    keep = blk_ub + best1 + rest >= theta
                view[t] = decode(t, keep)
            return view

        out_q, out_d, out_r = [], [], []
        for s, own, flat, rank in prepared:
            if flat is None:
                for t in own:
                    if t in by_term:
                        decode(t)
                view = full
            else:
                view = flat_view(*flat, s["idf"], s["order"])
                if view is None:
                    continue
            docs = _ev_node(s["tree"], view, pos_of)
            if docs.size == 0:
                continue
            raw = np.zeros(docs.size, dtype=np.float64)
            if rank:
                if len(norms) == 0:
                    continue
                dl = dl_of(docs)
                for t in rank:
                    if t not in view:
                        continue
                    d, tfv = view[t]
                    idx = np.searchsorted(d, docs)
                    ok = idx < d.size
                    ok[ok] = d[idx[ok]] == docs[ok]
                    raw[ok] += s["idf"][t] * _bm25_tf(
                        tfv[idx[ok]], dl[ok], avgdl, k1, b)
            if k is not None and docs.size > k:
                # bounded top-k (score desc, docid asc) — Zebra's
                # resultSetInsertRank tie discipline (zsets.c:716-736).
                # The cut uses ROUNDED milli scores (floor(x*1e4+0.5) ==
                # Spark round HALF_UP for x>=0) so the per-shard
                # selection agrees with the global milli-ordered merge.
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
        # with no Spark job.
        self.meta = IndexMeta(spark, path)
        self.blocks = self.meta.frame("blocks", with_batch(BLOCK_SCHEMA))
        self.norms = self.meta.frame("norms", with_batch(NORMS_SCHEMA))
        self._init_serving(cache_hot)

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
        self._live_shards = frozenset(map(int, self.meta.live["shard"]))
        if cache_hot:
            self.blocks = self._pin(self.blocks).cache()
            self.norms = self._pin(self.norms).cache()
        self._stats = None
        self._term_memo: dict[str, dict | None] = {}
        self._expand_memo: dict[tuple, tuple[str, ...]] = {}

    # -------------------------------------------------------- metadata

    @property
    def shard_batch(self) -> DataFrame:
        """The live (shard, batch) pairs as a Spark frame, built on
        first use (no query reads it)."""
        return self.meta.shard_batch

    def stats(self) -> tuple[int, float]:
        """(N, avgdl) — from the live per-shard norms rows (always
        shard-exact, even after reindex), summed on the driver from
        their ``n_docs``/``sum_dl`` columns; no Spark job."""
        if self._stats is None:
            n, s = self.meta.totals()
            self._stats = (n, s / n) if n else (0, 0.0)
        return self._stats

    def dictionary(self) -> DataFrame:
        """Global (term, df, cf, max_tf) as a Spark frame — the live
        (shard, term) rows of the batch partials merged per term (the
        kinput.c:709 heap-merge, as a groupBy). Serving lookups do not
        use it: exact terms and prefixes are driver-side Arrow reads of
        the same rows (:mod:`idzebra_spark.meta`); it backs scans,
        ``info()`` and the non-prefix wildcard grep."""
        return self.meta.frame("dictionary", DICT_DDL).groupBy("term").agg(
            F.sum("df").alias("df"),
            F.sum("cf").alias("cf"),
            F.max("max_tf").alias("max_tf"),
        )

    def doc_meta(self) -> DataFrame:
        return self.meta.frame("doc_meta")

    def lookup_terms(self, terms: list[str]) -> dict[str, dict]:
        """Dictionary lookup → {term: {df, cf, max_tf, shards}} for the
        terms present, through :meth:`resolve` (memoized per handle)."""
        info, _ = self.resolve(terms)
        return {t: info[t] for t in terms if info[t] is not None}

    def resolve(self, terms=(), patterns=()) -> tuple[dict, dict]:
        """Answer exact-term lookups and wildcard expansions together
        — Zebra compiles every term, truncated or not, into one
        dictionary grep (Zebra index/rpnsearch.c:1023-1280).

        ``terms``: exact dictionary keys; ``patterns``: expansion keys
        (kind, pattern, field, errors, stem) as :func:`tree_patterns`
        yields them. Returns ({term: {df, cf, max_tf, shards} | None},
        {pattern: {matching term: shards}, in term order}), where
        ``shards`` are the sorted ids of the live shards holding the
        term — what :meth:`_score` plans a query's shard set from.

        Hits come from the per-handle LRU memos (dict/dict-p.h:44-70)
        at no cost. Exact-term and prefix misses are driver-side Arrow
        reads of the term-sorted dictionary files, opening only the
        row groups whose term range can hold them — Zebra's paged
        dictionary (dict/dict-p.h:30-41) — with no Spark job. Suffix,
        contains, regex, z3958 and fuzzy misses need every term, so
        they are answered by ONE filtered dictionary collect (one per
        RESOLVE_CHUNK such patterns); one exact driver read of the
        terms it found then names their shards. The memo still wins on
        warm terms: a hit costs no file read. Each pattern keeps its
        own MAX_EXPAND bound: a pattern past it raises, naming that
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
            found = self.meta.locate(miss_t)
            for t in miss_t:
                info[t] = found.get(t)
                _memo_put(self._term_memo, t, info[t], TERM_MEMO_MAX)
        hits = {k: self.meta.prefix(k[2], k[1].lower(), self.MAX_EXPAND)
                for k in miss_p if k[0] == "prefix"}
        grep = [k for k in miss_p if k[0] != "prefix"]
        for i in range(0, len(grep), RESOLVE_CHUNK):
            chunk = grep[i:i + RESOLVE_CHUNK]
            hits.update(zip(chunk, self._dictionary_grep(chunk)))
        grep = [k for k in grep if len(hits[k]) <= self.MAX_EXPAND]
        placed = self.meta.locate({t for k in grep for t in hits[k]})
        for key in grep:
            hits[key] = {t: placed[t]["shards"] for t in hits[key]}
        wide = None
        for key in miss_p:
            if len(hits[key]) > self.MAX_EXPAND:
                wide = wide or key
                continue
            exp[key] = dict(sorted(hits[key].items()))
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

    def _norms_side(self, shards: set[int]) -> DataFrame:
        """The norms input of the kernel cogroup: the norms rows of the
        query's shard set, which the driver planned from the
        dictionary (:meth:`_score`), so no Spark stage works it out.
        Both handle kinds build it the same way.

        Serving mode (cache_hot): ``self.norms`` is persisted
        hash-partitioned by shard (see ``__init__``), and a filter
        keeps that partitioning, so it satisfies the cogroup's required
        distribution and the query stays ONE stage with no exchange. A
        pinned partition that holds no shard of the set gets no rows on
        either side and starts no Python runner. This is the Zebra
        ISAMB page-cache shape: pay the layout cost on first touch,
        serve from it afterwards.

        Batch mode: the filtered norms are pinned like the blocks (see
        :meth:`_pin`); a one-shot query on rare terms shuffles only
        its shards' norm rows."""
        return self._kernel_input(self._in_shards(self.norms, shards))

    def _in_shards(self, df: DataFrame, shards: set[int]) -> DataFrame:
        """``df`` narrowed to ``shards``: a driver-built ``shard IN``
        filter, or ``df`` itself when they are every live shard."""
        if shards >= self._live_shards:
            return df
        return df.where(F.col("shard").isin(sorted(shards)))

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

    def _specs(self, trees: dict, rank: bool = True) -> list[dict]:
        """Kernel specs of {query_id: rset tree}. One :meth:`resolve`
        answers every tree's lookups (its term, phrase and proximity
        leaves and its rank terms) and wildcard expansions; a tree the
        dictionary shows cannot match is dropped, so a query on
        missing terms runs no job. Each spec's rank terms are its own
        tree's terms (a term another query in the batch decodes never
        leaks into its BM25), summed in ascending (df, term) order.
        Each spec's ``shards`` are the live shards that hold one of its
        terms, as the dictionary names them. ``rank=False`` (counts,
        hit sets) leaves ``idf`` empty."""
        n_docs, _ = self.stats()
        if n_docs == 0:
            return []
        rank_of = {qid: {t.lower() for t in tree_rank_terms(tree)}
                   if rank else set() for qid, tree in trees.items()}
        lookups = set().union(*rank_of.values(), *(
            p | f for p, f in map(_tree_terms, trees.values())))
        info, exp = self.resolve(
            sorted(lookups),
            [key for tree in trees.values() for key in tree_patterns(tree)])
        absent = {t for t, v in info.items() if v is None}
        shards_of = {t: v["shards"] for t, v in info.items() if v}
        for hits in exp.values():
            shards_of.update(hits)
        specs = []
        for qid, tree in trees.items():
            tree = _expand_tree(tree, exp)
            if not _can_match(tree, info):
                continue
            plain, phrased = _tree_terms(tree)
            terms = (plain | phrased) - absent
            df = {t: info[t]["df"] for t in terms if t in info}
            order = sorted(df, key=lambda t: (df[t], t))
            idf = {t: math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
                   for t in order if t in rank_of[qid]}
            specs.append({"qid": str(qid), "tree": tree, "terms": terms,
                          "idf": idf, "order": order,
                          "shards": set().union(
                              *(shards_of[t] for t in terms))})
        return specs

    def _score(self, specs: list[dict], k: int | None,
               within=None) -> DataFrame:
        """The one plan under every query surface: the specs' resolved
        terms filter the blocks, then ONE cogroup with the norms runs
        :func:`_query_kernel` per shard → (query_id, doc_id, raw).

        The shard set S is planned on the driver: the union of the
        specs' ``shards`` (the live shards the dictionary names for
        their terms), cut to ``within`` when given (e.g. sampled
        shards). Blocks and norms are both read through ``shard IN S``
        (:meth:`_in_shards`; no filter when S is every live shard), so
        no plan scans the blocks a second time to find S.
        No spec → an empty frame the optimizer folds away: no job."""
        if not specs:
            return self.spark.createDataFrame([], TOPK_SCHEMA).limit(0)
        terms = sorted(set().union(*(s["terms"] for s in specs)))
        shards = set().union(*(s["shards"] for s in specs))
        if within is not None:
            shards &= set(within)
        blk = self._in_shards(self.blocks, shards).where(
            F.col("term").isin(terms))
        kernel = _query_kernel(specs, self.stats()[1], k)
        return (
            self._kernel_input(blk).groupBy("shard")
            .cogroup(self._norms_side(shards).groupBy("shard"))
            .applyInPandas(kernel, TOPK_SCHEMA)
        )

    def topk(self, terms: list[str], k: int = 10, mode: str = "or",
             not_terms: list[str] | None = None) -> DataFrame:
        """BM25 top-k -> (doc_id, score_milli), rank-identical to
        operators.bruteforce.bm25_topk. ``not_terms``: AND-NOT
        exclusions applied before scoring (rsbool semantics). The
        query runs as its flat rset tree (:func:`_flat_tree`).

        Serving shape: the dictionary lookup is a separate step on the
        driver, in front of the one kernel job. It also names the live
        shards that hold the terms, and the plan reads only their
        blocks and norms (:meth:`_score`): a fresh handle runs 3 jobs
        (blocks and norms pinned, then the kernel stage), a cache_hot
        handle one stage. A memo miss is an
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
        tree = _flat_tree(terms, mode, not_terms)
        return _best(self._score(self._specs({"": tree}), k), k)

    def topk_many(self, queries: dict[str, dict], k: int = 10) -> DataFrame:
        """Batched BM25 top-k: score EVERY query in one cogrouped pass
        over the blocks → (query_id, doc_id, score_milli), per-query
        top-k under the milli tie discipline.

        ``queries``: {query_id: {"terms": [...], "mode": "or"|"and",
        "not_terms": [...]}}. Each query's rows are rank-identical to
        ``topk(terms, k, mode, not_terms)`` — the kernel decodes each
        referenced term once and reuses it across queries, and the
        per-query math matches the single-query run exactly.

        Why: single-query latency is floored by Spark job scheduling
        (~0.5 s/job), not kernel time; the reference amortizes its
        per-query setup across a session via the ISAMB page cache
        (/root/reference/isamb/isamb.c:380-450). Shipping N queries'
        term→idf maps into ONE job amortizes the floor N× — the
        serving-throughput shape for a query frontend that drains a
        request queue in micro-batches."""
        trees = {qid: _flat_tree(q["terms"], q.get("mode", "or"),
                                 q.get("not_terms"))
                 for qid, q in queries.items()}
        return _best_per_query(self._score(self._specs(trees), k), k)

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

    def eval_tree(self, tree) -> DataFrame:
        """Evaluate a boolean rset DAG over segment leaves → distinct
        doc_id set. Tree nodes: ('term', t) | ('terms', [t..]) |
        ('phrase', [t..]) | ('prefix'|'suffix'|'contains'|'regex'|
        'z3958', pattern) | ('and'|'or', [children]) |
        ('not', left, right)."""
        return self._score(self._specs({"": tree}, rank=False),
                           None).select("doc_id")

    def search_tree(self, tree, k: int = 10) -> DataFrame:
        """Ranked structured search: evaluate the rset DAG, then BM25-
        rank the matching docs with corpus-GLOBAL stats (N, avgdl,
        per-term df) — a flat tree scores exactly as :meth:`topk`
        (no subset statistics). Returns (doc_id, score_milli) under
        the milli tie discipline."""
        return _best(self._score(self._specs({"": tree}), k), k)

    def search_tree_many(self, trees: "dict[str, object]",
                         k: int = 10) -> DataFrame:
        """Batched search: {query_id: rset tree} → one DataFrame
        (query_id, doc_id, score_milli), every tree — flat or
        structured — evaluated in ONE cogrouped pass with a shared
        per-shard term decode. Each query's rows are rank-identical
        to ``search_tree(tree, k)``."""
        return _best_per_query(self._score(self._specs(trees), k), k)

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
        would alias).

        The pick is made on the driver from the live shard ids (the
        'hash' picker evaluates Spark's xxhash64 over a local frame of
        them), the sampled doc count is summed from the driver-side
        per-shard norms, and the sampled count is :meth:`_score` cut to
        the picked shards: only the count itself is a Spark plan."""
        specs = self._specs({"": _flat_tree(terms, mode)}, rank=False)
        if not specs:
            return 0
        live = sorted(self._live_shards)
        if picker == "stride":
            stride = max(int(round(1.0 / sample)), 1)
            picked = [s for s in live if s % stride == 0]
        else:
            picked = [r["shard"] for r in self.spark.createDataFrame(
                [(s,) for s in live], "shard long").where(
                F.pmod(F.xxhash64("shard"), 1000) < int(sample * 1000)
            ).collect()]
        n_docs = self.meta.shard_docs()
        got = sum(n_docs.get(s, 0) for s in picked)
        if not got:
            return self._score(specs, None).count()
        sampled_hits = self._score(specs, None, picked).count()
        # integer half-up scale: no float, no banker's-rounding skew —
        # DuckDB computes the identical value from the same integers
        tot = self.stats()[0]
        return int((sampled_hits * tot + got // 2) // got)

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
        return self._score(self._specs({"": _flat_tree(terms, mode)},
                                       rank=False), None).count()
