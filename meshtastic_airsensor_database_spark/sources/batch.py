"""Batch file sources (SURVEY.md §2.1).

csv_batch_source  — `pd.read_csv` (cleandata.py:16, graphdata.py:18,45)
                    re-expressed as a schema-or-header Spark CSV scan
                    with DROPMALFORMED matching the reference's
                    skip-bad-rows posture.
text_line_source  — `readlines` + manual counter (QuerryGenerator.py:9-16)
                    re-expressed as spark.read.text + a stable line number.
binary_file_source — multimodal ingestion boundary (SURVEY §2.11): opaque
                    bytes + typed metadata, Spark's binaryFile format.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def csv_batch_source(
    spark: SparkSession,
    paths: str | Sequence[str],
    schema: T.StructType | None = None,
    drop_malformed: bool = True,
) -> DataFrame:
    """Read one or many same-schema CSV files with a header row.

    Multi-path read subsumes the reference's per-file read + concat
    (`multi_file_union`, cleandata.py:11-19): Spark unions the file
    splits at scan time, no driver-side loop, and Catalyst prunes
    columns into the scan. With an explicit ``schema`` nothing pays
    inference; ``DROPMALFORMED`` mirrors the drop-and-continue error
    posture (AIRWISEv0.py:155-157 applied to batch).
    """
    reader = spark.read.option("header", "true")
    if drop_malformed:
        reader = reader.option("mode", "DROPMALFORMED")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    if isinstance(paths, str):
        paths = [paths]
    return reader.csv(list(paths))


def text_line_source(
    spark: SparkSession, path: str, zero_based: bool = True
) -> DataFrame:
    """Read a text file as (line, line_number) rows.

    Mirrors QuerryGenerator.py:9-16 (stripCounter loop). Line numbers
    follow file order. The single-ordering window is fine for one
    file's lines (the reference's use case); a 100 TB corpus would
    number per-file via ``input_file_name`` + per-file windows instead
    of one global ordering — documented scale path, not needed for
    the document-loader semantics.
    """
    lines = spark.read.text(path)
    w = Window.orderBy(F.monotonically_increasing_id())
    offset = 0 if zero_based else 1
    return lines.select(
        F.col("value").alias("line"),
        (F.row_number().over(w) - 1 + offset).alias("line_number"),
    )


def binary_file_source(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Opaque binary blobs + metadata (path, modificationTime, length, content).

    The multimodal ingestion boundary (SURVEY §2.11): images/audio/video
    enter as BinaryType columns; decode/feature-extract stages run over
    these via mapInPandas (operators/multimodal.py).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
