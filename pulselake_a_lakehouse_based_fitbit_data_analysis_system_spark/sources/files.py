"""File sources — batch and incremental (streaming), with ingest metadata.

Re-expresses the reference's Auto Loader bronze scans
(``Bronze/04-bronze.py:19-28,48-57,79-90`` — Databricks ``cloudFiles``)
on the OSS Structured Streaming file source, which has the same
incremental semantics (new-file discovery, ``maxFilesPerTrigger`` rate
limiting, ``availableNow`` drain).

Every ingest attaches the reference's two audit columns
(``Bronze/04-bronze.py:26-27``): ``load_time`` (ingest wall clock) and
``source_file`` (lineage). ``input_file_name()`` is deprecated in
Spark 4 in favor of the ``_metadata`` hidden column — we use
``_metadata.file_path``, which also works for streaming sources.

Scale note: the streaming file source tracks seen files in the
checkpoint; for 100 TB landing zones prefer fewer, larger files and set
``maxFilesPerTrigger`` to bound per-batch work (the reference uses 1
for tests, 1000 as the production default — ``Config/01-config.py:8``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _with_ingest_metadata(df: DataFrame) -> DataFrame:
    # reference Bronze/04-bronze.py:26-27
    return df.withColumn("load_time", F.current_timestamp()).withColumn(
        "source_file", F.col("_metadata.file_path")
    )


def read_csv_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = 1000,
    header: bool = True,
) -> DataFrame:
    """Incremental CSV scan (reference S1, ``Bronze/04-bronze.py:19-28``)."""
    reader = (
        spark.readStream.format("csv")
        .schema(schema)
        .option("header", str(header).lower())
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _with_ingest_metadata(reader.load(path))


def read_json_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = 1000,
) -> DataFrame:
    """Incremental JSON scan (reference S2, ``Bronze/04-bronze.py:79-90``)."""
    reader = spark.readStream.format("json").schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _with_ingest_metadata(reader.load(path))


def read_json_sql(spark: SparkSession, path: str, projection: str = "*") -> DataFrame:
    """SQL-over-files raw scan (reference S6,
    ``Setup/03-history-loader.py:16-18``: ``SELECT … FROM json.`path```)."""
    return spark.sql(f"SELECT {projection} FROM json.`{path}`")
