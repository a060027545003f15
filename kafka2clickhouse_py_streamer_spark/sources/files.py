"""Batch file sources.

Parquet is the primary batch source (columnar, predicate pushdown, column
pruning — verify with ``df.explain`` that filters appear as
``PushedFilters`` and the read schema is pruned). The JSON reader takes an
explicit schema: schema inference is a full extra pass over 100 TB and is
never acceptable in production paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (TESTDATA.md) as a DataFrame."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every fixture table present in ``sf_dir``."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = spark.read.parquet(path)
    return out


def read_json(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """JSON source with mandatory explicit schema (no inference pass)."""
    return spark.read.schema(schema).json(path)


def read_text(
    spark: SparkSession,
    path: str,
    whole: bool = False,
    line_sep: str | None = None,
) -> DataFrame:
    """Raw-text corpus on-ramp (``spark.read.text``): one row per line
    (or per FILE with ``whole=True`` — one document per file, the
    common crawl-dump layout), as a single ``value`` string column
    plus the source file path. This is where a plain-text corpus
    enters the engine before the documents-table operators; a jsonl
    corpus should use :func:`read_json` with an explicit schema
    instead. ``line_sep`` overrides the record delimiter for corpora
    that use e.g. NUL-separated documents.

    Scale notes: the text source is splittable per line for
    uncompressed files, so a 100 TB dump parallelizes by byte ranges;
    ``whole=True`` makes each file one record — pair it with bounded
    file sizes (the binaryFile reader's max_bytes guard pattern)
    because a single-file record cannot split across executors."""
    from pyspark.sql import functions as F

    # NB: .text()'s own wholetext/lineSep kwargs override any
    # .option() set on the reader, so they must be passed here.
    return spark.read.text(path, wholetext=whole, lineSep=line_sep).select(
        F.col("value").alias("text"),
        F.input_file_name().alias("src_path"),
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (Spark-native columnar alternative to parquet) —
    same pushdown/pruning contract: filters reach the ORC reader as
    ``PushedFilters`` and the read schema is pruned to referenced
    columns, so a warehouse standardized on ORC plugs in unchanged.
    The matching writer is ``sinks.orc_sink``."""
    return spark.read.orc(path)


def rate_stream(
    spark: SparkSession,
    rows_per_second: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """Synthetic streaming source (``rate`` format): monotonically
    increasing ``value`` with an event ``timestamp`` — the standard
    load generator for exercising watermarks, windows, and sink
    throughput without a broker. ``numPartitions`` controls source
    parallelism (defaults to the session's)."""
    reader = spark.readStream.format("rate").option(
        "rowsPerSecond", str(rows_per_second)
    )
    if num_partitions is not None:
        reader = reader.option("numPartitions", str(num_partitions))
    return reader.load()


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-media ingestion via Spark's built-in ``binaryFile`` source:
    one row per file with (path, modificationTime, length, content) —
    the real on-ramp for the multimodal operators (m01-m07 consume a
    ``payload`` binary column; this reader is where image/audio/video
    files actually enter the engine before decode_media's Arrow-
    batched mapInPandas).

    ``glob`` filters by filename pattern (pushed into the file index —
    non-matching files are never opened); ``max_bytes`` filters on the
    file-status LENGTH column, which the source evaluates from
    directory metadata, so oversize payloads are skipped without
    reading a byte — the guard that keeps one rogue 10 GB upload from
    OOMing an executor at corpus scale. Rows come back in the
    operator-friendly shape (doc path + payload + n_bytes)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(df.length <= max_bytes)
    from pyspark.sql import functions as F

    return df.select(
        F.col("path"),
        F.col("length").cast("long").alias("n_bytes"),
        F.col("content").alias("payload"),
        F.col("modificationTime").alias("modified_at"),
    )
