"""idzebra_spark — a from-scratch PySpark-native full-text indexing and
retrieval engine with the query/data-processing capabilities of
indexdata/idzebra (Zebra), re-expressed Spark-first.

Reference semantics documented in SURVEY.md; citations in docstrings
point at /root/reference (read-only) file:line for parity checking.

Layout
------
- ``session``    : SparkSession construction with scale-ready defaults
- ``functions``  : tokenizer (charmap-equivalent), varint/delta codec,
                   scoring expressions (BM25 + Zebra rank-1)
- ``operators``  : index build (segment writer), query engine
                   (brute-force DF + block-max WAND), boolean/phrase/
                   scan/facet/snippet layer, dedup/similarity/text ops
- ``sources``    : corpus loaders (driver `documents` parquet,
                   synthetic `source_files` per BASELINE input_hint)
- ``plans``      : tiny query AST + parser (PQF-like) -> DataFrame plan
- ``streaming``  : incremental ingest over Structured Streaming
"""

from idzebra_spark import _pyworker

__version__ = "0.1.0"

# a Spark task that unpickles an engine kernel imports the package:
# from that worker's next task on, no task re-reads pyspark.zip
_pyworker.install()
