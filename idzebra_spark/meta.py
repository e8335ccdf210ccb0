"""Driver-side reader of an index's metadata tables.

Zebra answers a term lookup in-process from its paged dictionary
(Zebra dict/dict-p.h:30-41: fixed-size term pages, binary-searched).
The segment layout already has that shape: each batch's dictionary
partial and block table are range-partitioned and sorted by term, so
each parquet row group's term min/max is a page bound. This module
reads the small metadata tables on the driver with ``pyarrow``:

- ``lineage`` (shard, batch, build_seq) -> the live (shard, batch)
  pairs, the live batches and the next ``build_seq`` (the build,
  update and compaction writers read their lineage state here too);
- ``norms`` (shard, batch, n_docs, sum_dl) -> (N, sum of doc lengths)
  and each live shard's doc count;
- ``dictionary`` (term, shard, batch, df, cf, max_tf) -> exact term
  lookups, and its ``term`` column -> prefix expansions. Each row is
  one shard's totals for one term, so the live (shard, batch) pairs
  select the current rows even after a partial reindex, and both
  reads also name the live shards that hold each term: the shards a
  query must read.

Only live batch directories are listed, only the named columns are
read, and term reads open only the row groups whose term min/max
overlaps a wanted term or prefix range. Posting payloads
(``docids_bin``, ``tfs_bin``, ``pos_bin``, ``doclens_bin``) are never
read. A committed batch directory never changes, so an instance lists
each live batch directory of a partitioned table and reads each of its
file footers once; the unpartitioned ``lineage`` is read afresh by each
instance. No rows are cached here; the handle's LRU memos hold the
results.
:meth:`IndexMeta.frame` hands the live rows of a table to Spark with
a schema it already knows, so no read pays a schema-inference job.

A path ``pyarrow.fs.FileSystem.from_uri`` cannot open (a Hadoop-only
scheme such as ``s3a://``) gets the same rows from a Spark collect of
the same columns and filter; the aggregation after the read is shared.
"""

from __future__ import annotations

import operator
import os
import re
from bisect import bisect_right
from functools import cached_property, reduce

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from idzebra_spark.operators.boolean import FIELD_SEP

_PARQUET = ds.ParquetFileFormat()


def _local_fs_path(path: str) -> str | None:
    """The plain filesystem path when ``path`` is local, else None.

    Handles every Hadoop-accepted local spelling — ``/x``,
    ``file:/x``, ``file:///x`` — and rejects anything with a non-file
    scheme (``hdfs:/x``, ``s3a://b/x``) or a file URI with an
    authority (``file://host/x``): those must go through the Spark
    writer, and returning them verbatim would create a literal
    ``file:`` directory under the driver's cwd."""
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


def with_batch(schema: T.StructType) -> T.StructType:
    """``schema`` plus the ``batch`` partition column."""
    return T.StructType(
        schema.fields + [T.StructField("batch", T.StringType())])


def _schema(columns: list[str]) -> pa.Schema:
    """Read schema of metadata columns: strings for term/batch, every
    count and id as int64 (files written by different jobs disagree
    on int32/int64 and on nullability)."""
    return pa.schema([(c, pa.string() if c in ("term", "batch")
                       else pa.int64()) for c in columns])


def _open_fs(path: str):
    """(filesystem, root) for ``path``, or None when pyarrow cannot
    open it. Local spellings (``/x``, ``file:/x``, relative paths) are
    made absolute first, as Hadoop resolves them."""
    local = _local_fs_path(path)
    uri = os.path.abspath(local) if local is not None else path
    try:
        return pafs.FileSystem.from_uri(uri)
    except (pa.ArrowException, OSError):
        return None


def _succ(s: str) -> str | None:
    """The least string above every string that starts with ``s``;
    None when there is none (``s`` empty or all U+10FFFF)."""
    s = s.rstrip("\U0010ffff")
    if not s:
        return None
    c = ord(s[-1]) + 1
    if 0xD800 <= c < 0xE000:  # surrogates have no UTF-8 form
        c = 0xE000
    return s[:-1] + chr(c)


class IndexMeta:
    """Metadata of one committed index, read on the driver.

    ``live`` (pandas shard, batch): the latest committed batch per
    shard. ``batches``: the batches it names. ``next_seq``: the
    ``build_seq`` the next committed batch takes."""

    @classmethod
    def committed(cls, spark: SparkSession, path: str) -> IndexMeta | None:
        """The metadata of the index at ``path``, or None when no batch
        is committed there (no lineage table)."""
        try:
            return cls(spark, path)
        except (FileNotFoundError, AnalysisException):
            return None

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        fs = _open_fs(path)
        self._fs, self._root = fs if fs is not None else (None, None)
        self._frags: dict[tuple[str, str], list] = {}
        lin = self._table("lineage", ["shard", "batch", "build_seq"]) \
            .to_pandas()
        latest = lin.groupby("shard", as_index=False)["build_seq"].max()
        self.live = lin.merge(latest, on=["shard", "build_seq"])[
            ["shard", "batch"]].reset_index(drop=True)
        self.batches = sorted(self.live["batch"].unique())
        self.next_seq = int(lin["build_seq"].max()) + 1 if len(lin) else 0
        # a batch all of whose committed shards are live is selected by
        # its partition value alone; one a later reindex partly
        # superseded also by its live shards
        shards = lin.groupby("batch")["shard"].nunique()
        self._live_filter = reduce(operator.or_, (
            (F.col("batch") == b) if s.nunique() == shards[b] else
            (F.col("batch") == b) & F.col("shard").isin(sorted(map(int, s)))
            for b, s in self.live.groupby("batch")["shard"]), F.lit(False))
        self._live_arrow = pa.Table.from_pandas(
            self.live, preserve_index=False).cast(pa.schema(
                [("shard", pa.int64()), ("batch", pa.string())]))

    @cached_property
    def shard_batch(self) -> DataFrame:
        """The live (shard, batch) pairs as a Spark frame."""
        return self.spark.createDataFrame(self.live,
                                          "shard long, batch string")

    def frame(self, table: str, schema=None) -> DataFrame:
        """The live rows of ``table`` as a Spark frame: the table
        filtered by a predicate on the live (shard, batch) pairs built
        on the driver (a partition filter; no broadcast, no job). The
        read gets ``schema`` (a StructType or DDL string, ``batch``
        included), else the schema of one live data file's footer plus
        ``batch``; Spark infers it (one job) only where pyarrow cannot
        open the path."""
        schema = schema or self._file_schema(table)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(f"{self.path}/{table}").where(
            self._live_filter)

    def _file_schema(self, table: str) -> T.StructType | None:
        """Spark schema of a data file of a live batch of ``table``."""
        if self._fs is None:
            return None
        for _, frag in self._fragments(table, self.batches):
            return with_batch(from_arrow_schema(frag.physical_schema))
        return None

    # ------------------------------------------------------ aggregates

    def totals(self) -> tuple[int, int]:
        """(N, sum of doc lengths) over the live shards' norms rows."""
        t = self._live_rows(self._table(
            "norms", ["shard", "batch", "n_docs", "sum_dl"], self.batches))
        return (pc.sum(t["n_docs"]).as_py() or 0,
                pc.sum(t["sum_dl"]).as_py() or 0)

    def shard_docs(self) -> dict[int, int]:
        """{live shard: n_docs} from the live norms rows."""
        t = self._live_rows(self._table(
            "norms", ["shard", "batch", "n_docs"], self.batches))
        t = t.group_by("shard").aggregate([("n_docs", "sum")])
        return dict(zip(t["shard"].to_pylist(), t["n_docs_sum"].to_pylist()))

    def locate(self, terms) -> dict[str, dict]:
        """{term: {df, cf, max_tf, shards}} for the given terms present:
        the live dictionary rows summed per term (max of max_tf), and
        the sorted ids of the live shards those rows come from — the
        shards a query on the term must read."""
        terms = sorted(set(terms))
        if not terms:
            return {}
        t = self._live_rows(self._table(
            "dictionary", ["term", "shard", "batch", "df", "cf", "max_tf"],
            self.batches, terms=terms))
        t = t.group_by("term").aggregate(
            [("df", "sum"), ("cf", "sum"), ("max_tf", "max"),
             ("shard", "list")])
        return {r["term"]: {"df": r["df_sum"], "cf": r["cf_sum"],
                            "max_tf": r["max_tf_max"],
                            "shards": tuple(sorted(r["shard_list"]))}
                for r in t.to_pylist()}

    def lookup(self, terms) -> dict[str, dict]:
        """{term: {df, cf, max_tf}}: :meth:`locate` without the shards."""
        return without_shards(self.locate(terms))

    def prefix(self, field: str | None, pattern: str,
               limit: int) -> dict[str, tuple[int, ...]]:
        """{key: sorted live shard ids holding it} for the dictionary
        keys in one register that start with ``pattern`` (the body text
        when ``field`` is None, else ``field``'s composite
        ``field\\x1fterm`` keys), read as the term range [lo, succ(lo))
        of the live dictionary rows, in term order. Stops once it holds
        more than ``limit`` keys."""
        lo = pattern if field is None else field + FIELD_SEP + pattern
        found: dict[str, set[int]] = {}
        for piece in self._scan("dictionary", ["term", "shard", "batch"],
                                self.batches, span=(lo, _succ(lo))):
            piece = self._live_rows(piece)
            for t, s in zip(piece["term"].to_pylist(),
                            piece["shard"].to_pylist()):
                if field is not None or FIELD_SEP not in t:
                    found.setdefault(t, set()).add(s)
            if len(found) > limit:
                break
        return {t: tuple(sorted(s)) for t, s in sorted(found.items())}

    # ----------------------------------------------------------- reads

    def _live_rows(self, t: pa.Table) -> pa.Table:
        """Rows of ``t`` whose (shard, batch) is a live pair."""
        return t.join(self._live_arrow, ["shard", "batch"],
                      join_type="left semi")

    def _table(self, table: str, columns: list[str], batches=None,
               terms=None) -> pa.Table:
        return pa.concat_tables(
            [_schema(columns).empty_table(),
             *self._scan(table, columns, batches, terms=terms)])

    def _scan(self, table: str, columns: list[str], batches=None,
              terms=None, span=None):
        """Yield Arrow tables of ``columns`` of ``table``: rows of the
        ``batches`` partitions (the whole unpartitioned table when None)
        whose term is in ``terms`` or inside the half-open ``span``
        (lo, hi), hi None meaning unbounded."""
        schema = _schema(columns)
        if self._fs is None:
            yield self._spark_rows(table, columns, batches, terms, span) \
                .cast(schema)
            return
        if terms is not None:
            row_filter = pc.field("term").isin(terms)
            spans = [(t, t + "\0") for t in terms]
        elif span is not None:
            lo, hi = span
            row_filter = pc.field("term") >= lo
            if hi is not None:
                row_filter = row_filter & (pc.field("term") < hi)
            spans = [span]
        else:
            row_filter, spans = None, None
        file_cols = [c for c in columns
                     if not (batches is not None and c == "batch")]
        for batch, frag in self._fragments(table, batches):
            frag.ensure_complete_metadata()  # the footer, kept by frag
            if spans is not None:
                ids = _touched_row_groups(frag, spans)
                if not ids:
                    continue
                frag = frag.subset(row_group_ids=ids)
            t = frag.to_table(columns=file_cols, filter=row_filter)
            if len(file_cols) < len(columns):
                t = t.append_column(
                    "batch", pa.array([batch] * t.num_rows, pa.string()))
            yield t.select(columns).cast(schema)

    def _fragments(self, table: str, batches) -> list:
        """(batch, parquet fragment) of each data file of ``table``'s
        ``batches`` partitions, or (None, fragment) of the whole
        unpartitioned table when None. A partitioned table's fragments
        are kept per batch for the instance's lifetime, and with them
        each footer once read: its live batch directories are committed
        and never change. The unpartitioned table (the lineage) is
        listed on every call."""
        if batches is None:
            return [(None, _PARQUET.make_fragment(p, filesystem=self._fs))
                    for _, p in self._files(table, None)]
        out = []
        for b in batches:
            frags = self._frags.get((table, b))
            if frags is None:
                frags = self._frags[(table, b)] = [
                    _PARQUET.make_fragment(p, filesystem=self._fs)
                    for _, p in self._files(table, [b])]
            out.extend((b, frag) for frag in frags)
        return out

    def _files(self, table: str, batches):
        """(batch, data file path) of each live batch directory of a
        partitioned table, or (None, path) for an unpartitioned one.
        Hidden and underscore entries (``_SUCCESS``, ``.crc``, an
        in-progress ``_temporary``) are skipped. A live batch may have
        written no rows to a table (a shard whose docs were all
        deleted), but a missing unpartitioned table — no lineage: no
        index at ``path`` — raises FileNotFoundError."""
        base = f"{self._root}/{table}"
        dirs = [(None, base)] if batches is None else [
            (b, f"{base}/batch={b}") for b in batches]
        for batch, d in dirs:
            sel = pafs.FileSelector(d, recursive=True,
                                    allow_not_found=batch is not None)
            for info in self._fs.get_file_info(sel):
                rel = os.path.relpath(info.path, d).split(os.sep)
                if info.type == pafs.FileType.File and not any(
                        p.startswith((".", "_")) for p in rel):
                    yield batch, info.path

    def _spark_rows(self, table: str, columns: list[str], batches, terms,
                    span) -> pa.Table:
        """The fallback read: one Spark collect of the same rows."""
        df = self.spark.read.parquet(f"{self.path}/{table}")
        if batches is not None:
            df = df.where(F.col("batch").isin(list(batches)))
        if terms is not None:
            df = df.where(F.col("term").isin(list(terms)))
        if span is not None:
            lo, hi = span
            df = df.where(F.col("term") >= lo)
            if hi is not None:
                df = df.where(F.col("term") < hi)
        return df.select(*columns).toArrow()


def without_shards(found: dict[str, dict]) -> dict[str, dict]:
    """:meth:`IndexMeta.locate` rows as {term: {df, cf, max_tf}}."""
    return {t: {c: d[c] for c in ("df", "cf", "max_tf")}
            for t, d in found.items()}


def _touched_row_groups(frag, spans: list[tuple]) -> list[int]:
    """Ids of the row groups of ``frag`` whose term min/max overlaps
    one of ``spans`` — sorted, disjoint, half-open (lo, hi) ranges. A
    row group without term statistics is always read."""
    los = [lo for lo, _ in spans]
    out = []
    for rg in frag.row_groups:
        st = (rg.statistics or {}).get("term") or {}
        if "min" not in st or "max" not in st:
            out.append(rg.id)
            continue
        j = bisect_right(los, st["max"])
        if j and (spans[j - 1][1] is None or spans[j - 1][1] > st["min"]):
            out.append(rg.id)
    return out
