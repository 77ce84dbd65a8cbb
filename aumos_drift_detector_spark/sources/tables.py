"""Token-sequence table source abstraction (north-star input surface).

The design-point input is an Iceberg table of pre-tokenized sequences
``(doc_id string, tokens array<int>, n_tok int, source string)`` read on a
multi-executor cluster. This module is the one place the engine binds to a
storage format:

- ``format='iceberg'``: reads ``spark.read.format('iceberg').load(name)`` —
  requires the Iceberg runtime jar + catalog config on the cluster
  (``spark.sql.catalog.*``); import-gated here because this sandbox ships no
  Iceberg jar. Partition pruning comes from the catalog's metadata tree.
- ``format='parquet'``: direct path read; partition pruning via the
  partition column filter (Hive-style layout or row-group stats).
- ``format='auto'``: catalog table name -> iceberg if available, else a
  path read.

Keeping the binding here means the validation plan (`plans/validation.py`)
is storage-agnostic: its resume manifest keys on PARTITION VALUES, which map
1:1 onto Iceberg partitions at the design point.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEQUENCE_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def driver_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType
) -> DataFrame:
    """A small driver-built table as a DataFrame.

    The rows reach the JVM as one Arrow table and plan as a
    ``LocalTableScan`` (an empty one for no rows), so no Python worker
    starts to unpickle them, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says. Values are first
    converted as ``createDataFrame(rows, schema)`` converts them, then the
    Arrow columns are built from those values, not through pandas: a float
    NaN stays NaN, a NULL integer stays NULL, and a naive datetime is read
    in the Python process's local time zone, as ``collect()`` returns it.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    columns = [
        pa.array([r[i] for r in internal], type=f.type)
        for i, f in enumerate(arrow_schema)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), schema
    )


class TableFormatUnavailable(RuntimeError):
    """The requested table format's runtime is not on this cluster."""


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        # Spark's own classloader-aware lookup: jars added via --jars land in
        # the MutableURLClassLoader, which a bare java.lang.Class.forName
        # (gateway default loader) would miss
        spark._jvm.org.apache.spark.util.Utils.classForName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.source.IcebergSource", False, False
        )
        return True
    except Exception:
        return False


def _looks_like_table_identifier(location: str) -> bool:
    """catalog.db.table-shaped (dotted, no path separators) — the only
    location shape 'auto' will ever route to a catalog read."""
    return (
        "/" not in location
        and "\\" not in location
        and "." in location
        and not location.endswith((".parquet", ".pq"))
    )


def read_sequences(
    spark: SparkSession,
    location: str,
    fmt: str = "auto",
    partitions: Sequence[str] | None = None,
    partition_col: str = "source",
) -> DataFrame:
    """Load the token-sequence table, optionally pruned to partitions.

    ``partitions`` pushes an IN-filter on ``partition_col`` *before* any
    other operation so the scan prunes (catalog metadata for Iceberg,
    directory/row-group pruning for parquet) — the read path the resume
    manifest uses to skip completed partitions without re-scanning them.
    """
    if fmt == "auto":
        # only dotted catalog identifiers route to iceberg — a bare relative
        # directory name must stay a parquet path read even when the
        # iceberg jar happens to be on the cluster
        fmt = (
            "iceberg"
            if (_looks_like_table_identifier(location) and _iceberg_available(spark))
            else "parquet"
        )
    if fmt == "iceberg":
        if not _iceberg_available(spark):
            raise TableFormatUnavailable(
                "Iceberg runtime jar not on this cluster; add "
                "org.apache.iceberg:iceberg-spark-runtime and a catalog "
                "config, or use format='parquet'"
            )
        df = spark.read.format("iceberg").load(location)
    elif fmt == "parquet":
        df = spark.read.parquet(location)
    else:
        raise ValueError(f"unknown format {fmt!r}")
    if partitions is not None:
        df = df.where(F.col(partition_col).isin(list(partitions)))
    return df


def write_sequences(
    df: DataFrame,
    location: str,
    fmt: str = "parquet",
    partition_col: str = "source",
    mode: str = "overwrite",
) -> None:
    """Write a sequence table partitioned by the partition column.

    Parquet writes use dynamic partition overwrite so a re-run replaces only
    the partitions it produced (the same idempotence contract the validation
    plan's results/violations writes rely on); Iceberg gets this from its
    snapshot commit protocol.
    """
    if fmt == "iceberg":
        if not _iceberg_available(df.sparkSession):
            raise TableFormatUnavailable(
                "Iceberg runtime jar not on this cluster"
            )
        df.writeTo(location).overwritePartitions()
        return
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(location)
    )
