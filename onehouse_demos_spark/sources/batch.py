"""Batch sources/sinks (reference S5-S8).

Thin, explicit wrappers over `spark.read` so the engine's source
surface is enumerable; each maps 1:1 to a reference demo pattern.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def read_csv(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """Header-inferring CSV read (reference S5:
    `read.format("csv").option("header","true")`,
    notebook/demo.ipynb cell 8)."""
    return spark.read.option("header", str(header).lower()).csv(path)


def _footer(spark: SparkSession, path: str, row_groups: bool):
    """The Hadoop `ParquetMetadata` of the file at `path`, read on the
    driver (no Spark job), with or without its row-group list; None
    when the footer cannot be read (a directory, a missing path)."""
    # Classes are looked up by their full name: one Py4J round trip
    # each, where `jvm.org.apache...` takes one per package segment.
    jvm = spark._jvm
    converter = getattr(
        jvm, "org.apache.parquet.format.converter.ParquetMetadataConverter"
    )
    try:
        return getattr(jvm, "org.apache.parquet.hadoop.ParquetFileReader").readFooter(
            spark._jsparkSession.sessionState().newHadoopConf(),
            getattr(jvm, "org.apache.hadoop.fs.Path")(path),
            converter.NO_FILTER if row_groups else converter.SKIP_ROW_GROUPS,
        )
    except Py4JJavaError:
        return None


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The Spark schema of the Parquet file at `path`, from its footer.

    Read on the driver through Spark's own converter, so it equals what
    `spark.read.parquet(path)` infers (NTZ inference, int96,
    binaryAsString, Spark's row-metadata key), except that
    TIMESTAMP(NANOS) always maps to bigint: the converter runs on a
    clone of the session's SQL conf with nanosAsLong on, and the
    session's own conf is never written. No Spark job runs, and the
    footer is read on every call, so a rewritten file is seen at once.
    A path whose footer cannot be read (a directory, a missing path)
    gets Spark's inference, and its errors."""
    meta = _footer(spark, path, row_groups=False)
    if meta is None:
        return spark.read.parquet(path).schema
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().conf().clone()
    conf.setConfString(_NANOS_AS_LONG, "true")
    fmt = "org.apache.spark.sql.execution.datasources.parquet."
    schema = getattr(jvm, fmt + "ParquetFileFormat").readSchemaFromFooter(
        getattr(jvm, "org.apache.parquet.hadoop.Footer")(
            getattr(jvm, "org.apache.hadoop.fs.Path")(path), meta
        ),
        getattr(jvm, fmt + "ParquetToSparkSchemaConverter")(conf),
    )
    return T.StructType.fromJson(json.loads(schema.json()))


def parquet_num_rows(spark: SparkSession, path: str) -> int:
    """Row count of the Parquet file at `path`: the sum of its footer's
    row-group counts, read on the driver like `parquet_schema`, so no
    Spark job runs. A path whose footer cannot be read gets Spark's
    `count()`, and its errors."""
    meta = _footer(spark, path, row_groups=True)
    if meta is None:
        return spark.read.parquet(path).count()
    return sum(b.getRowCount() for b in meta.getBlocks())


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Scan of one Parquet source file (reference S7) under its footer
    schema (`parquet_schema`): building the frame submits no Spark job.
    Directory and multi-path scans stay on `spark.read.parquet`, where
    the table layer decides which file's schema wins."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)
