"""ZebraSpark — the user-facing facade.

One object exposes the reference's whole query surface (SURVEY §3):
ranked search (query language → WAND segment engine where possible,
logical plan otherwise), boolean/phrase/proximity, scan/browse,
facets, snippets, counts, plus build/update/compact lifecycle. A Zebra
user's zebraidx+zebrasrv workflow maps to::

    zs = ZebraSpark(spark, index_path)
    zs.build(corpus_df)                  # zebraidx update + commit
    zs.search('merge AND sort', k=10)    # zebra_search_RPN + rank
    zs.search('"static void"')           # phrase
    zs.scan("mer")                       # zebra_scan browse
    zs.facets("merge sort", "lang")      # zebra::facet
    zs.snippets("merge")                 # zebra::snippet
    zs.update(new_corpus_df)             # shard copy-on-write update
    zs.compact()                         # zebra_compact
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idzebra_spark.meta import IndexMeta
from idzebra_spark.operators.boolean import PostingsOps
from idzebra_spark.operators.segment import (
    build_index,
    compact_index,
    update_index,
)
from idzebra_spark.operators.wand import SegmentIndex
from idzebra_spark.plans.query import Node, parse


class ZebraSpark:
    def __init__(self, spark: SparkSession, index_path: str,
                 corpus: DataFrame | None = None,
                 text_col: str = "text", id_col: str = "doc_id",
                 cache_hot: bool = False,
                 alphabet=None):
        self.spark = spark
        self.path = index_path
        self.text_col = text_col
        self.id_col = id_col
        self.cache_hot = cache_hot
        self._corpus = corpus
        self._idx: SegmentIndex | None = None
        self._ops: PostingsOps | None = None
        self._fields: dict[str, list[str]] | None = None
        # a charmap name or a parsed .chr Charmap. When None (the
        # default), opening an EXISTING index adopts the alphabet and
        # fields it was BUILT with (build_meta, written by
        # build_index) — query terms must fold through the same
        # charmap the tokens did, and persisting the config removes
        # the silently-0-hits footgun of re-opening with the wrong
        # one. An explicit argument overrides the stored value.
        self._alphabet = alphabet if alphabet is not None else "ascii"
        self._alphabet_given = alphabet is not None
        self._meta_loaded = False

    def _load_meta(self) -> None:
        """Adopt the index's persisted build settings (once)."""
        if self._meta_loaded:
            return
        self._meta_loaded = True
        from idzebra_spark.operators.segment import (
            _alphabet_from_meta, read_build_meta)

        m = read_build_meta(self.spark, self._meta_path())
        self._build_meta = m
        if m:
            if not self._alphabet_given:
                self._alphabet = _alphabet_from_meta(m["alphabet"])
            if self._fields is None and m.get("fields"):
                self._fields = m["fields"]

    # ------------------------------------------------------- lifecycle

    def build(self, corpus: DataFrame, **kw) -> dict:
        self._require_single_path("build")
        # Re-building an EXISTING index inherits its persisted charmap
        # and fields unless explicitly overridden — the mirror of
        # update(): a rebuild of a fold/.chr index must not silently
        # tokenize new shards with 'ascii' while shards the new corpus
        # does not touch keep old-charmap postings (mixed registers).
        # Always consult the stored meta: _load_meta only fills in
        # what was NOT explicitly given, so overriding one setting
        # (say, the alphabet) cannot silently discard an unrelated
        # persisted one (say, the fields map). A MISMATCHED explicit
        # override on a committed register raises in build_index (the
        # register-config guard) — changing config in place has no
        # safe meaning.
        self._load_meta()
        self._corpus = corpus
        kw.setdefault("alphabet", self._alphabet)
        if self._fields is not None:
            kw.setdefault("fields", self._fields)
        bm = getattr(self, "_build_meta", None)
        if bm:  # extend an existing register under its own layout
            for key in ("shard_size", "block_size", "store_positions"):
                kw.setdefault(key, bm[key])
        m = build_index(self.spark, corpus, self.path,
                        text_col=self.text_col, id_col=self.id_col, **kw)
        # Commit facade state only AFTER the build succeeded: if the
        # register-config guard (or anything else) raised, the handle
        # must keep the intact index's charmap/fields — adopting the
        # REJECTED config would fold later query terms with the wrong
        # alphabet and silently return 0 hits.
        self._fields = kw.get("fields", self._fields)
        self._alphabet = kw["alphabet"]
        self._alphabet_given = True   # this build defines the config
        # the build just PERSISTED a (possibly new) config — drop the
        # cached pre-build meta so a same-session update() re-reads
        # the fresh build_meta instead of inheriting stale shard
        # sizes (the exact mixed-register corruption update guards
        # against)
        self._meta_loaded = False
        self._build_meta = None
        self._idx = None
        self._ops = None
        return m

    def update(self, new_corpus: DataFrame, **kw) -> dict:
        self._require_single_path("update")
        # an update MUST run under the build's settings — defaults
        # come from the persisted build_meta so an incremental sync
        # can never silently mix shard sizes, alphabets or position
        # storage with the existing register
        self._load_meta()
        bm = getattr(self, "_build_meta", None)
        if bm:
            for key in ("shard_size", "block_size", "store_positions"):
                kw.setdefault(key, bm[key])
        kw.setdefault("alphabet", self._alphabet)
        if self._fields is not None:
            kw.setdefault("fields", self._fields)
        self._corpus = new_corpus
        self._fields = kw.get("fields", self._fields)
        self._alphabet = kw.get("alphabet", self._alphabet)
        m = update_index(self.spark, new_corpus, self.path,
                         text_col=self.text_col, id_col=self.id_col, **kw)
        self._idx = None
        self._ops = None
        return m

    def compact(self) -> dict:
        self._require_single_path("compact")
        m = compact_index(self.spark, self.path)
        self._idx = None
        return m

    def vacuum(self) -> list[str]:
        """Drop orphan batch directories (superseded by compaction or
        crashed mid-build — invisible to readers either way). Local-FS
        implementation; on object storage this is a lifecycle job."""
        self._require_single_path("vacuum")
        from idzebra_spark.meta import _local_fs_path

        local = _local_fs_path(self.path)
        if local is None:
            raise ValueError(
                "vacuum sweeps orphan directories driver-side and "
                "needs a local filesystem index path; on object "
                "storage run a lifecycle/GC job against the live-"
                "batch set instead")
        import shutil

        live = set(IndexMeta(self.spark, self.path).batches)
        self._idx = None  # cached file listings would point at orphans
        removed = []
        for table in ("blocks", "norms", "doc_meta", "dictionary"):
            tdir = os.path.join(local, table)
            if not os.path.isdir(tdir):
                continue
            for entry in os.listdir(tdir):
                if entry.startswith("batch=") and entry[6:] not in live:
                    shutil.rmtree(os.path.join(tdir, entry))
                    removed.append(f"{table}/{entry}")
        return removed

    # --------------------------------------------------------- handles

    @property
    def index(self) -> SegmentIndex:
        if self._idx is None:
            if isinstance(self.path, (list, tuple)):
                # multi-database handle (zebra_search_RPN_x database
                # lists): every query surface works over the union;
                # write verbs reject it (each member updates itself)
                from idzebra_spark.operators.multidb import (
                    MultiSegmentIndex)

                self._idx = MultiSegmentIndex(
                    self.spark, list(self.path), cache_hot=self.cache_hot)
            else:
                self._idx = SegmentIndex(self.spark, self.path,
                                         cache_hot=self.cache_hot)
        return self._idx

    def _meta_path(self) -> str:
        # multi-db: adopt the FIRST member's persisted config (members
        # must share a charmap for scores to be comparable — enforced
        # socially, like Zebra's shared zebra.cfg across databases)
        return self.path[0] if isinstance(self.path, (list, tuple)) \
            else self.path

    def _require_single_path(self, verb: str) -> None:
        if isinstance(self.path, (list, tuple)):
            raise ValueError(
                f"{verb} needs a single index path — a multi-database "
                "handle is read-only (update each member, then search "
                "the list)")

    @property
    def ops(self) -> PostingsOps:
        if self._ops is None:
            self._load_meta()
            if self._corpus is None:
                raise ValueError("corpus DataFrame required for "
                                 "positional/logical operators")
            self._ops = PostingsOps(self._corpus, self.text_col,
                                    self.id_col, fields=self._fields,
                                    alphabet=self._alphabet)
        return self._ops

    def _require_corpus(self) -> DataFrame:
        if self._corpus is None:
            raise ValueError(
                "corpus DataFrame required for facets/snippets/fetch "
                "(pass corpus= to ZebraSpark or call build/update first)")
        return self._corpus

    # ----------------------------------------------------------- query

    def _fold_node(self, node: Node) -> Node:
        """When the index was built with alphabet='fold', query terms
        must go through the SAME charmap equivalence fold the tokens
        did at index time ('café' queries the 'cafe' register) —
        Zebra maps the query term through the charmap before the dict
        lookup (/root/reference/index/rpnsearch.c:1269-1272)."""
        self._load_meta()
        if self._alphabet == "ascii" or self._alphabet == "unicode":
            return node
        if node.op in ("term", "prefix", "phrase") and isinstance(
                node.value, str):
            node.value = self._fold_term(node.value)
        for c in node.children:
            self._fold_node(c)
        return node

    def search(self, query: str, k: int = 10) -> DataFrame:
        """Ranked search: (doc_id, score_milli). Every query — a flat
        boolean one (block-max pruned) or a structured one (parens
        mixing ops, phrases, prefixes) — runs as its rset DAG over
        SEGMENT leaves, ranked with corpus-GLOBAL statistics (no subset
        stats, no corpus re-tokenization; Zebra's
        index/rpnsearch.c:2567-2772 evaluates the same DAG over ISAMB
        leaves)."""
        q = parse(query)
        self._fold_node(q.root)
        return self.index.search_tree(q.root.to_rset_tree(), k)

    def search_many(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        """Batched ranked search: {query_id: query string} → one
        DataFrame (query_id, doc_id, score_milli) with per-query
        top-k. Every query, flat or structured, runs in ONE cogrouped
        job (SegmentIndex.search_tree_many), never one per query; each
        query's rows are identical to ``search(q, k)``. Before it runs,
        every query's dictionary work (term lookups, rank terms,
        wildcard expansions) is resolved in one call — driver-side
        reads for terms and prefixes, at most one dictionary job for
        the other wildcard kinds."""
        trees = {qid: self._fold_node(parse(qs).root).to_rset_tree()
                 for qid, qs in queries.items()}
        return self.index.search_tree_many(trees, k)

    def count(self, query: str) -> int:
        q = parse(query)
        self._fold_node(q.root)
        return self.index.eval_tree(q.root.to_rset_tree()).count()

    def _fold_term(self, s: str) -> str:
        """Charmap-normalize one raw term (the per-string twin of
        _fold_node) — every query surface must map its terms through
        the index's charmap before the dictionary lookup."""
        self._load_meta()
        if self._alphabet == "fold":
            from idzebra_spark.functions.tokenizer import fold_str

            return fold_str(s)
        if not isinstance(self._alphabet, str):
            return self._alphabet.fold_str(s)
        return s

    def phrase(self, terms: list[str], k: int = 10) -> DataFrame:
        return self.index.phrase([self._fold_term(t) for t in terms], k)

    def scan(self, seed: str, n_after: int = 10, n_before: int = 0,
             limit_query: str | None = None,
             field: "str | list[str] | None" = None) -> DataFrame:
        """Dictionary browse around a seed — zebra_scan
        (/root/reference/index/rpnscan.c:285-480), served by the
        segment dictionary (no corpus scan). ``limit_query``: optional
        limiting result set (rpnscan.c:200-283) — per-term counts are
        restricted to its hits and zero-count terms are skipped.
        ``field``: browse that field's register instead of the body
        text (@attr 1=N scan scoping); a LIST merges several
        registers by term with summed counts (rpn_scan's parallel
        multi-ordinal scan)."""
        seed = self._fold_term(seed)
        limit_set = None
        if limit_query is not None:
            q = parse(limit_query)
            self._fold_node(q.root)
            limit_set = self.index.eval_tree(q.root.to_rset_tree())
        return self.index.scan(seed, n_after, n_before,
                               limit_set=limit_set, field=field)

    def sort_by_multivalue(self, query: str, pick: str = "min",
                           ascending: bool = True, k: int = 10) -> DataFrame:
        """Sort a hit set by a MULTI-VALUED per-doc key — Zebra's
        resultSetSortSingle picks the min/max of a multi-valued sort
        field per document (/root/reference/index/zsets.c:826-1073).
        Here the multi-valued field is the doc's token set (the index
        register itself); ``pick`` chooses min or max. Returns
        (doc_id, sort_key) ordered by the picked key."""
        hits = self.index.eval_tree(
            self._fold_node(parse(query).root).to_rset_tree())
        agg = (F.min("term") if pick == "min" else F.max("term"))
        # per-doc key from the corpus tokens (record store read scoped
        # to the hit set — the sort input is |hits| rows)
        from idzebra_spark.functions.tokenizer import tokenize

        toks = tokenize(self._require_corpus(), self.text_col, self.id_col,
                        self._alphabet)
        keys = (
            toks.join(hits, "doc_id", "semi")
            .groupBy("doc_id").agg(agg.alias("sort_key"))
        )
        order = [F.asc("sort_key") if ascending else F.desc("sort_key"),
                 F.asc("doc_id")]
        return keys.orderBy(*order).limit(k)

    def facets(self, query: str, facet_col: str, n: int = 10) -> DataFrame:
        """Facet counts over a hit set (retrieve.c:698-840) — hits come
        from the segment engine; the corpus is touched only for the
        facet column, via a semi-join (column-pruned scan)."""
        hits = self.index.eval_tree(
            self._fold_node(parse(query).root).to_rset_tree())
        src = self._require_corpus().select(
            F.col(self.id_col).alias("doc_id"), F.col(facet_col)
        )
        return (
            src.join(hits, "doc_id", "semi")
            .groupBy(facet_col)
            .agg(F.count("*").alias("count"))
            .orderBy(F.desc("count"), F.asc(facet_col))
            .limit(n)
        )

    def fetch(self, doc_ids: list[int] | DataFrame,
              elements: str = "full") -> DataFrame:
        """Record retrieval — zebra_records_retrieve with element sets
        (/root/reference/index/retrieve.c:1026-1119: element set names
        select full record vs metadata vs snippet rendering). Accepts
        an id list or a (doc_id) DataFrame (a result set)."""
        # 'head'/'index' tokenize display output — adopt the stored
        # charmap first so the rendered terms match the real registers
        # (an index opened from disk would otherwise fold with the
        # default 'ascii').
        self._load_meta()
        src = self._require_corpus()
        ids = (
            doc_ids.select(F.col("doc_id").alias(self.id_col))
            if isinstance(doc_ids, DataFrame)
            else self.spark.createDataFrame(
                [(int(i),) for i in doc_ids], f"{self.id_col} long")
        )
        out = src.join(ids, self.id_col, "semi")
        if elements == "full":
            return out.orderBy(self.id_col)
        if elements == "meta":
            cols = [c for c in out.columns if c != self.text_col]
            return out.select(*cols).orderBy(self.id_col)
        if elements == "head":
            from idzebra_spark.functions.tokenizer import tokenize_array

            return out.select(
                self.id_col,
                F.array_join(
                    F.slice(tokenize_array(F.col(self.text_col),
                                           self._alphabet), 1, 10), " "
                ).alias("head"),
            ).orderBy(self.id_col)
        if elements == "index":
            # zebra::index dump: the record's indexed terms with their
            # positions (/root/reference/index/retrieve.c:159-345 walks
            # the record's keys and untranslates each back to display
            # form, index/untrans.c). Re-derived from the record store
            # scoped to the fetched ids — bounded by the id set.
            from idzebra_spark.functions.tokenizer import tokenize

            return tokenize(out, self.text_col, self.id_col,
                            self._alphabet).orderBy("doc_id", "pos")
        raise ValueError(f"unknown element set {elements!r}")

    def info(self) -> dict:
        """Index statistics — Zebra's explain/zinfo registry surface
        (/root/reference/index/zinfo.c:1431-1456 records per-register
        counts). Everything is metadata-sized aggregation over the
        segment tables; no corpus scan."""
        n_docs, avgdl = self.index.stats()
        d = self.index.dictionary().agg(
            F.count("*").alias("n_terms"),
            F.sum("df").alias("n_postings"),
            F.sum("cf").alias("n_occurrences"),
        ).collect()[0]
        n_shards = len(self.index.meta.live)
        return {
            "n_docs": int(n_docs),
            "avgdl": float(avgdl),
            "n_terms": int(d["n_terms"]),
            "n_postings": int(d["n_postings"]),
            "n_occurrences": int(d["n_occurrences"]),
            "n_shards": int(n_shards),
        }

    def snippets(self, term: str, k: int = 10, window: int = 2) -> DataFrame:
        """±window-token snippet around the first occurrence
        (util/snippet.c) — first positions decoded from the segment's
        pos_bin; the corpus is read only for the matched docs' text."""
        from idzebra_spark.functions.tokenizer import tokenize_array

        term = self._fold_term(term)
        fp = (
            self.index.term_postings([term], with_positions=True)
            .select("doc_id", F.element_at("positions", 1).alias("pos"))
        )
        toks = self._require_corpus().select(
            F.col(self.id_col).alias("doc_id"),
            tokenize_array(F.col(self.text_col), self._alphabet).alias("toks"),
        )
        start = F.greatest(F.col("pos") - window, F.lit(1))
        length = F.least(
            F.col("pos") + window, F.size(F.col("toks"))
        ) - start + 1
        return (
            fp.join(toks, "doc_id")
            .select(
                "doc_id",
                F.array_join(
                    F.slice(F.col("toks"), start.cast("int"),
                            length.cast("int")), " "
                ).alias("snippet"),
            )
            .orderBy("doc_id").limit(k)
        )
