"""Relevance scoring as pure column expressions: BM25 (the graft's
mandated scorer) and the integer ``log2i`` that Zebra's reference
``rank-1`` formula is built from.

BM25 (Robertson/Sparck-Jones, the Lucene-practical variant):
    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(d,t)  = idf * tf*(k1+1) / (tf + k1*(1 - b + b*doclen/avgdl))

Zebra ``rank-1`` (/root/reference/index/rank1.c:192-218, weights at
:126-144): integer log2 discipline —
    per term:  score += (8 + log2i(tf)) * (32 - log2i(df)) * w   (w=34)
    final:     score /= no_rank_terms * (8 + log2i(last_pos / no_terms))
    clamp 1000; df estimated by rset_count.
``log2i`` is the integer floor log2 with log2i(0) = 0
(/root/reference/index/rank1.c:38-47).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


def bm25_idf(df_col: Column, n_docs: Column) -> Column:
    """ln(1 + (N - df + 0.5)/(df + 0.5)) — always positive."""
    return F.log(
        F.lit(1.0)
        + (n_docs.cast("double") - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
    )


def bm25_term_score(
    tf_col: Column,
    idf_col: Column,
    doclen_col: Column,
    avgdl_col: Column,
    k1: float = K1,
    b: float = B,
) -> Column:
    tf = tf_col.cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * doclen_col.cast("double") / avgdl_col
    )
    return idf_col * tf * F.lit(k1 + 1.0) / (tf + norm)


def log2i(col: Column) -> Column:
    """Integer floor-log2 with log2i(x<=0) = 0 — Zebra's wrd_log
    (/root/reference/index/rank1.c:38-47 computes log2 by shifting).
    Implemented via the binary-string length (exact integer semantics;
    float log2(8) can round to 2.9999... and floor wrong)."""
    return (
        F.when(col <= 0, F.lit(0))
        .otherwise(F.length(F.bin(col.cast("long"))) - 1)
        .cast("long")
    )
