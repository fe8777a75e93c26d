"""Parquet read/write conventions (SRC3, SNK1/SNK2).

- Reads push projection to the Parquet reader via ``.select`` (Catalyst
  column pruning) — the reference does this by hand with
  ``iter_batches(columns=...)`` (etl/cargar_postgres.py:275-280).
- Writes partition the fact by ``anio``: the reference already writes one
  Parquet per year (etl/transformar_mensual.py:119,186); partitioning is the
  scale-out version (partition pruning on year predicates at 100 TB).
- ``mode="ignore"`` reproduces the skip-if-exists idempotency gate
  (etl/transformar_mensual.py:121-123); ``overwrite`` the ``--overwrite``
  flag.
- Tables the engine wrote itself read through `read_spark_parquet`: the
  schema comes from the Spark row-metadata key in the first data file's
  footer, read driver-side with pyarrow, so the read launches no Spark
  job (``spark.read.parquet`` runs one to infer the same schema).
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: footer key under which Spark's parquet writer stores the row schema
#: (names, types, nullability and field metadata)
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet(
    spark: SparkSession,
    path: str,
    columns: Sequence[str] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """``merge_schema=True`` unions the schemas of all files — the engine
    form of the reference's late ``ALTER TABLE ADD COLUMN`` evolution
    (CreacionDeDataWareHouse.sql:149-150): files written before a column
    existed read it as NULL."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", True)
    df = reader.parquet(path)
    if columns:
        df = df.select(*columns)
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


#: columnar formats the warehouse round-trips losslessly (both support
#: predicate pushdown, column pruning, and hive-style partition dirs)
_COLUMNAR = ("parquet", "orc")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Format-generic columnar sink: Parquet is the house format, ORC the
    interchange path for warehouses already standardized on it (both are
    first-class in Spark: vectorized reader, pushdown, partition dirs —
    the choice is an ecosystem question, not a capability one)."""
    if fmt not in _COLUMNAR:
        raise ValueError(f"columnar format required, got {fmt!r}")
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    columns: Sequence[str] | None = None,
) -> DataFrame:
    if fmt not in _COLUMNAR:
        raise ValueError(f"columnar format required, got {fmt!r}")
    df = spark.read.format(fmt).load(path)
    if columns:
        df = df.select(*columns)
    return df


def _first_data_file(root: Path) -> Path:
    """The first data file under ``root`` in sorted walk order, skipping
    the ``_``/``.`` entries Spark's readers skip (``_SUCCESS``, ``.crc``,
    staging directories)."""
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith(("_", ".")))
        for name in sorted(filenames):
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                return Path(dirpath) / name
    raise ValueError(f"read_spark_parquet: no parquet data file under {root}")


def _partition_field(segment: str, root: Path) -> T.StructField:
    """A hive-style ``name=value`` directory as the partition column Spark's
    discovery infers for the integer keys the engine partitions by."""
    name, _, value = segment.partition("=")
    try:
        v = int(value)
    except ValueError:
        raise ValueError(
            f"read_spark_parquet: partition directory {segment!r} under "
            f"{root} is not an integer key"
        ) from None
    kind = T.IntegerType() if -(2**31) <= v < 2**31 else T.LongType()
    return T.StructField(name, kind, True)


def footer_schema(path: str | Path) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` would infer, without a job:
    the data columns from the first data file's Spark row metadata (all
    nullable, as a file source reads them), then the partition columns
    named by that file's ``name=value`` directories.  Raises when the
    footer lacks the Spark key (a file some other writer produced)."""
    root = Path(path)
    first = _first_data_file(root)
    meta = pq.read_metadata(first).metadata or {}
    raw = meta.get(SPARK_ROW_METADATA)
    if raw is None:
        raise ValueError(
            f"read_spark_parquet: {first} has no Spark row metadata "
            f"({SPARK_ROW_METADATA.decode()}); read it with spark.read.parquet"
        )
    data = T.StructType.fromJson(json.loads(raw))
    parts = [
        _partition_field(seg, root)
        for seg in first.parent.relative_to(root).parts
    ]
    return T.StructType(
        [T.StructField(f.name, f.dataType, True, f.metadata) for f in data]
        + parts
    )


def read_spark_parquet(spark: SparkSession, path: str | Path) -> DataFrame:
    """Read a Spark-written parquet table with its `footer_schema`:
    the same frame as ``spark.read.parquet``, with no schema-inference job."""
    return spark.read.schema(footer_schema(path)).parquet(str(path))
