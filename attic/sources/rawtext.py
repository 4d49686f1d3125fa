"""Raw-text corpus source — one file = one document.

Crawl and vendor drops often arrive as directories of plain ``.txt`` files
long before anything is JSONL, let alone columnar. This source lands such a
directory as a (uri, doc_uid, text) frame:

* **wholetext mode**: each FILE is one row, newlines and all — the
  one-file-one-document contract. A wholetext read is deliberately
  unsplittable per file (the file IS the record); parallelism comes from the
  file COUNT, which is exactly right for a corpus of documents.
* **doc_uid is derived, stable, and content-independent**: ``xxhash64`` of
  the file's URI — re-landing the same tree yields the same ids, so
  downstream dedup/split assignments survive re-ingestion. (Content-hash ids
  would make every edit a new document; URI-hash ids make identity follow
  the path, which is the archival convention. Both are recorded — uri stays
  a column.)
* **The small-files hazard is the real 100 TB trap**, not the unsplittable
  read: a billion 4 KB files drowns any filesystem's listing and task
  scheduler. The documented pipeline is land → ``text_corpus_to_parquet``
  ONCE → serve from parquet, same as the JSONL/ORC twins; at archival scale
  the upstream should be delivering WARC aggregates — which
  ``sources/warc.py`` ingests directly (one record stream per shard, no
  per-document files at all).
* **Empty files yield no row** (Spark's wholetext reader emits nothing for a
  zero-byte file). An empty document is vacuous corpus content, so this is
  the contract rather than worked around; pipelines that must account for
  every file reconcile against the landing manifest/file listing.
* The wholetext switch is passed as the ``text()`` reader KWARG, not via
  ``.option("wholetext", ...)`` — the option-string spelling is silently
  ignored by the datasource (verified empirically; the kwarg is the
  documented API), and a silently-ignored option here would line-split every
  document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_observer_es_spark.session import apply_runtime_conf


def read_text_corpus(
    spark: SparkSession, path: str, glob: str = "*.txt"
) -> DataFrame:
    """Read a directory of text files, one row per file:
    (uri string, doc_uid long, text string). ``glob`` filters file names
    (non-matching files are not even listed into tasks)."""
    apply_runtime_conf(spark)
    return (
        spark.read.option("pathGlobFilter", glob)
        .text(path, wholetext=True)
        .select(
            F.input_file_name().alias("uri"),
            F.xxhash64(F.input_file_name()).alias("doc_uid"),
            F.col("value").alias("text"),
        )
    )


def text_corpus_to_parquet(
    spark: SparkSession, text_path: str, parquet_path: str, glob: str = "*.txt"
) -> None:
    """The landing conversion: one pass over the file tree, written as
    parquet — after which every query gets columnar scans instead of
    re-listing and re-reading a million small files."""
    read_text_corpus(spark, text_path, glob).write.mode("overwrite").parquet(
        parquet_path
    )
