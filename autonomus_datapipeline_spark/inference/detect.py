"""End-to-end schema detection over real sources.

The reference's detection entry points (reference:
backend/app/services/schema_detection.py — files :439-604, Kafka sample
:40-165, API page :655-772) re-expressed over the engine's sources:

- sample ≤1000 rows from the FIRST file (matching the reference's
  first-file sampling), via Spark with everything read as strings so the
  voting heuristics see raw values
- validate every other file's column signature against the first, from
  column names alone: CSV headers are read without type inference, and the
  first file's names come from its sample read
- run the pure-function inference core + the 0.7/0.3 confidence formula
- the same record-level path serves REST samples and any list[dict]
  (the Kafka-probe analog: sample N messages → infer)
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from autonomus_datapipeline_spark.inference.schema_inference import (
    InferenceResult,
    infer_dataframe_schema,
    overall_confidence,
    validate_multi_file,
)
from autonomus_datapipeline_spark.sources.files import FileSource

SAMPLE_ROWS = 1000  # reference schema_detection.py samples ≤1000 rows


def detect_records_schema(records: list[dict]) -> InferenceResult:
    """Infer from raw records (REST page / Kafka message sample analog)."""
    sample = records[:SAMPLE_ROWS]
    columns: list[str] = []
    for r in sample:
        for k in r:
            if k not in columns:
                columns.append(k)
    fields = infer_dataframe_schema(sample, columns)
    return InferenceResult(
        fields=fields,
        confidence=overall_confidence(fields, 1, 1),
        compatible_files=[],
        incompatible_files=[],
        sample_row_count=len(sample),
    )


def detect_file_schema(spark: SparkSession, source: FileSource) -> InferenceResult:
    """Infer from the first file of a source + multi-file compatibility.

    All columns are read as raw strings (no inferSchema) so the reference's
    threshold-voting heuristics decide the types — including the cases Spark
    inference gets differently (comma-separated integers, y/n booleans,
    EU dates). Sampling one file of ≤1000 rows is O(1) at any corpus size,
    and the compatibility check reads only the other files' headers.
    """
    files = source.file_list()
    if not files:
        raise FileNotFoundError(f"no {source.fmt} files under {source.path}")
    first_opts = source.raw_options()  # raw strings for the type voting
    raw = FileSource(path=files[0], fmt=source.fmt, options=first_opts).read(spark)
    sample_rows = [r.asDict(recursive=True) for r in raw.limit(SAMPLE_ROWS).collect()]
    fields = infer_dataframe_schema(sample_rows, raw.columns)

    # Compatibility needs column names only: the first file's come from the
    # read above, the others' from a header-only read of each.
    file_columns = {files[0]: raw.columns}
    for f in files[1:]:
        header = FileSource(path=f, fmt=source.fmt, options=first_opts).read(spark)
        file_columns[f] = header.columns
    compatible, incompatible = validate_multi_file(file_columns, files[0])

    return InferenceResult(
        fields=fields,
        confidence=overall_confidence(fields, len(compatible), len(files)),
        compatible_files=compatible,
        incompatible_files=incompatible,
        sample_row_count=len(sample_rows),
    )
