"""File sources: CSV / JSON / Parquet / ORC / XML directories with
schema-tolerant union. (Avro stays unsupported: its data-source module is an
external jar the sandbox cannot fetch — same environment gap as the Kafka
connector, documented in NOTES_BUILD.md.)

Reference semantics re-expressed Spark-first:

- extension-glob discovery with one-level recursion, dedupe + sort
  (reference: backend/app/services/schema_detection.py:474-496)
- per-file read → unionByName(allowMissingColumns=True) fold
  (reference: bronze_ingestion.py:184-187) — but we pass the WHOLE file list
  to one ``spark.read`` when schemas are compatible, so the scan parallelizes
  across files instead of a driver-side loop; the per-file union fold is the
  fallback for drifted schemas only.
- explicit schema (from the confirmed registry) preferred over inferSchema —
  the reference built a StructType and then didn't use it
  (bronze_ingestion.py:63-77 vs :139-147); we actually apply it.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EXTENSIONS = {
    "csv": ["*.csv"],
    "json": ["*.json", "*.jsonl"],
    "parquet": ["*.parquet"],
    "orc": ["*.orc"],
    "xml": ["*.xml"],
}


def discover_files(directory: str, fmt: str) -> list[str]:
    """Extension-pattern glob, one-level recursive, deduped + sorted."""
    patterns = EXTENSIONS[fmt]
    found: set[str] = set()
    for pat in patterns:
        found.update(glob.glob(os.path.join(directory, pat)))
        found.update(glob.glob(os.path.join(directory, "*", pat)))
    return sorted(found)


@dataclass
class FileSource:
    """A directory (or explicit file list) of one format."""

    path: str
    fmt: str = "csv"  # csv | json | parquet | orc | xml
    options: dict[str, str] = field(default_factory=dict)
    files: list[str] | None = None

    def file_list(self) -> list[str]:
        if self.files is not None:
            return self.files
        if os.path.isfile(self.path):
            return [self.path]
        return discover_files(self.path, self.fmt)

    def raw_options(self) -> dict[str, str]:
        """The source's options with CSV type inference off: every column
        reads as a string, and resolving the schema reads only the header
        instead of scanning the file."""
        opts = dict(self.options)
        if self.fmt == "csv":
            opts["inferSchema"] = "false"
        return opts

    def _reader(self, spark: SparkSession, schema: T.StructType | None):
        reader = spark.read
        opts = {"header": "true", **self.options} if self.fmt == "csv" else dict(self.options)
        if self.fmt == "xml":
            # Spark 4 ships XML natively; a row tag is mandatory for reads.
            opts.setdefault("rowTag", "row")
        if schema is not None:
            reader = reader.schema(schema)
        elif self.fmt == "csv":
            opts.setdefault("inferSchema", "true")
        return reader.options(**opts)

    def read(
        self,
        spark: SparkSession,
        schema: T.StructType | None = None,
        allow_schema_drift: bool = False,
    ) -> DataFrame:
        """Read all files as one DataFrame.

        Fast path: single multi-path read (fully parallel scan). Drift path:
        per-file read + unionByName(allowMissingColumns=True) — only when the
        caller knows files disagree on columns (A9 semantics).
        """
        files = self.file_list()
        if not files:
            raise FileNotFoundError(f"no {self.fmt} files under {self.path}")
        if not allow_schema_drift:
            # .format().load(list) — the one multi-path entry point that is
            # uniform across formats (DataFrameReader.parquet() is varargs and
            # silently mishandles a list argument).
            return self._reader(spark, schema).format(self.fmt).load(files)
        dfs = [getattr(self._reader(spark, schema), self.fmt)(f) for f in files]
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
        )


def read_binary_files(
    spark: SparkSession, path: str, pattern: str = "*"
) -> DataFrame:
    """Directory of opaque blobs → (path, modificationTime, length, content)
    via Spark's native ``binaryFile`` source — the ingestion end of the
    multimodal pipeline (operators/multimodal.py): content is the binary
    payload column the mapInPandas decoders consume. The scan parallelizes
    across files and never materializes payloads on the driver.
    """
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(path)
    )


def read_text_corpus(
    spark: SparkSession, path: str, whole_files: bool = True
) -> DataFrame:
    """Raw-text corpus ingestion: one row per FILE (wholetext — a document
    per file, the common crawl-dump layout) or one row per LINE. Returns
    (doc_path, text); downstream text operators key on the path until an
    id is assigned."""
    # NB: .text()'s own wholetext kwarg overrides any reader-level
    # .option("wholetext", ...) — the kwarg is the only form that applies.
    return spark.read.text(path, wholetext=whole_files).select(
        F.input_file_name().alias("doc_path"),
        F.col("value").alias("text"),
    )
