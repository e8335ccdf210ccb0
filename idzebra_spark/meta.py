"""Driver-side reader of an index's metadata tables.

Zebra answers a term lookup in-process from its paged dictionary
(Zebra dict/dict-p.h:30-41: fixed-size term pages, binary-searched).
The segment layout already has that shape: each batch's dictionary
partial and block table are range-partitioned and sorted by term, so
each parquet row group's term min/max is a page bound. This module
reads the small metadata tables on the driver with ``pyarrow``:

- ``lineage`` (shard, batch, build_seq) -> the live (shard, batch)
  pairs, the live batches and the ``has_reindex`` flag;
- ``norms`` (shard, batch, n_docs, sum_dl) -> (N, sum of doc lengths);
- ``dictionary`` (term, df, cf, max_tf) -> exact term lookups, and its
  ``term`` column -> prefix expansions;
- ``blocks`` metadata columns (term, shard, batch, n_docs, sum_tf,
  max_tf) in place of the partials while a partial reindex has left
  them stale, as :meth:`SegmentIndex.dictionary` does.

Only live batch directories are listed, only the named columns are
read, and term reads open only the row groups whose term min/max
overlaps a wanted term or prefix range. Posting payloads
(``docids_bin``, ``tfs_bin``, ``pos_bin``, ``doclens_bin``) are never
read. Nothing is cached here; the handle's LRU memos hold the results.

A path ``pyarrow.fs.FileSystem.from_uri`` cannot open (a Hadoop-only
scheme such as ``s3a://``) gets the same rows from a Spark collect of
the same columns and filter; the aggregation after the read is shared.
"""

from __future__ import annotations

import os
from bisect import bisect_right

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from idzebra_spark.operators.boolean import FIELD_SEP
from idzebra_spark.operators.segment import _local_fs_path

_PARQUET = ds.ParquetFileFormat()


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
    shard. ``batches``: the batches it names. ``has_reindex``: some
    live batch is only partly live (a later reindex superseded some of
    its shards), so its dictionary partial is stale."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        fs = _open_fs(path)
        self._fs, self._root = fs if fs is not None else (None, None)
        lin = self._table("lineage", ["shard", "batch", "build_seq"]) \
            .to_pandas()
        latest = lin.groupby("shard", as_index=False)["build_seq"].max()
        self.live = lin.merge(latest, on=["shard", "build_seq"])[
            ["shard", "batch"]].reset_index(drop=True)
        self.batches = sorted(self.live["batch"].unique())
        rows = lin["batch"].value_counts()
        live_rows = self.live["batch"].value_counts()
        self.has_reindex = bool(
            (rows[live_rows.index] != live_rows).any())
        self._live_arrow = pa.Table.from_pandas(
            self.live, preserve_index=False).cast(pa.schema(
                [("shard", pa.int64()), ("batch", pa.string())]))

    # ------------------------------------------------------ aggregates

    def totals(self) -> tuple[int, int]:
        """(N, sum of doc lengths) over the live shards' norms rows."""
        t = self._live_rows(self._table(
            "norms", ["shard", "batch", "n_docs", "sum_dl"], self.batches))
        return (pc.sum(t["n_docs"]).as_py() or 0,
                pc.sum(t["sum_dl"]).as_py() or 0)

    def lookup(self, terms) -> dict[str, dict]:
        """{term: {df, cf, max_tf}} for the given terms present: the
        live partials summed per term (max of max_tf), or the live
        blocks' metadata while the partials are stale."""
        terms = sorted(set(terms))
        if not terms:
            return {}
        if self.has_reindex:
            t = self._live_rows(self._table(
                "blocks", ["term", "shard", "batch", "n_docs", "sum_tf",
                           "max_tf"], self.batches, terms=terms))
            t = t.select(["term", "n_docs", "sum_tf", "max_tf"])
        else:
            t = self._table("dictionary", ["term", "df", "cf", "max_tf"],
                            self.batches, terms=terms)
        t = t.rename_columns(["term", "df", "cf", "max_tf"]).group_by(
            "term").aggregate([("df", "sum"), ("cf", "sum"),
                               ("max_tf", "max")])
        return {r["term"]: {"df": r["df_sum"], "cf": r["cf_sum"],
                            "max_tf": r["max_tf_max"]}
                for r in t.to_pylist()}

    def prefix(self, field: str | None, pattern: str,
               limit: int) -> set[str]:
        """Dictionary keys in one register that start with ``pattern``
        (the body text when ``field`` is None, else ``field``'s
        composite ``field\\x1fterm`` keys), read as the term range
        [lo, succ(lo)). Stops once it holds more than ``limit``."""
        lo = pattern if field is None else field + FIELD_SEP + pattern
        span = (lo, _succ(lo))
        if self.has_reindex:
            table, cols = "blocks", ["term", "shard", "batch"]
        else:
            table, cols = "dictionary", ["term"]
        found: set[str] = set()
        for piece in self._scan(table, cols, self.batches, span=span):
            if self.has_reindex:
                piece = self._live_rows(piece)
            found.update(t for t in piece["term"].to_pylist()
                         if field is not None or FIELD_SEP not in t)
            if len(found) > limit:
                break
        return found

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
        for batch, fpath in self._files(table, batches):
            frag = _PARQUET.make_fragment(fpath, filesystem=self._fs)
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
