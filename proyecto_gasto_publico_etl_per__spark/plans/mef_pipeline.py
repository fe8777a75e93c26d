"""End-to-end MEF pipeline: the reference's three entry points, Spark-first.

Reference lifecycle (SURVEY.md §3):

1. transform — ``python etl/transformar_mensual.py [years] [--overwrite]``
   (ETL Gasto publico Perú/etl/transformar_mensual.py:201-239): CSV →
   normalize → one Parquet per year.
2. load — ``python etl/cargar_postgres.py [years] ...``
   (etl/cargar_postgres.py:270-388): Parquet → dims upsert → FK resolve →
   consolidate → fact insert.
3. serve — views + the five analytics queries
   (sql/CreacionDeUsuariosyVistas.sql, sql/ConsultasAlDataWarehouse.sql).

Here each step is ONE lazy Spark plan; there is no chunk loop, no driver
concat, no per-batch DB round-trip.  The warehouse is a directory of
Parquet tables:

    <warehouse>/dim_tiempo/            (252-row generated calendar)
    <warehouse>/dim_<name>/            (7 extracted dimensions)
    <warehouse>/fact_gasto_mensual/    (partitioned by anio)

Scale: the fact is partitioned by ``anio`` so every year-filtered query
prunes partitions; dims stay broadcast-sized; the only wide shuffle in the
load is the grain consolidation.

Driver cost.  Every projection is SQL text (a few Py4J calls per step,
however many columns), and every read of a warehouse table takes its
schema from the parquet footer (``sources.parquet_source.
read_spark_parquet``), so the only Spark jobs are the ones that move
data.  Jobs per step, with AQE on:

- ``transform``: the CSV corruption audit (one aggregate scan) and the
  partitioned write.
- ``load_frame``: ``dim_tiempo`` is a constant calendar, written only
  when absent (one job, first load only).  Each of the 7 dims costs its
  dedup aggregate and its write; an existing dim adds the broadcast of
  the stored rows its anti-join reads.  The fact costs the batch's year
  probe and the checkpoint of the merged partitions before they are
  overwritten (existing fact only), the grain consolidation, and the
  write.
- ``materialize_agg_mensual``: the broadcast dims and the aggregate's
  stages; no schema inference.
- ``register_views``: no job.

Staged dim swap.  A dim upsert reads the stored dim and writes the
merged rows to a sibling staging directory (``.<dim>.staging``), then
renames it into place: the old directory is renamed aside, the staged
one takes its name, and the old one is deleted.  The write never
overwrites the directory it reads, so no checkpoint is needed, and a
crash mid-write leaves the stored dim intact (a leftover staging
directory is overwritten by the next load; a dim left renamed aside
between the two renames is put back before the next load reads it).
A dim's first write goes straight to its path.
"""

from __future__ import annotations

import shutil
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sqltext import ident
from ..operators import normalize, star
from ..operators.timedim import build_time_dim
from ..schema import DIMENSIONS, FACT_FKS, METRICS, raw_name
from ..schema_comments import with_column_comments
from ..sources.csv_source import read_monthly_csv
from ..sources.parquet_source import read_spark_parquet
from . import views as V

#: raw UPPER column → star snake column.  The reference's PRJ7 rename
#: (cargar_postgres.py:159-233); generated from the schema (including its
#: irregular DEPARTAMENTO_*/EJECUTORA raw spellings) so the two can never
#: drift.
RENAME_MAP: dict[str, str] = {
    "ANO_EJE": "anio",
    "MES_EJE": "mes",
    "NIVEL_GOBIERNO": "nivel_gobierno_codigo",
    "NIVEL_GOBIERNO_NOMBRE": "nivel_gobierno_nombre",
    **{
        raw_name(c): c
        for dim in DIMENSIONS[1:]
        for c in dim.columns
    },
    **{m.upper(): m for m in METRICS},
}


def transform(
    spark: SparkSession,
    raw_csv: str | list[str],
    out_dir: str,
    overwrite: bool = False,
) -> DataFrame:
    """Transform stage: raw CSV(s) → normalized Parquet partitioned by year.

    Accepts one path or a list (the CLI's year-filtered file set) — a
    multi-file input is ONE lazy plan, not the reference's per-file loop
    (transformar_mensual.py:226-239).  ``mode=ignore`` reproduces the
    skip-if-exists idempotency gate (transformar_mensual.py:121-123)."""
    df = read_monthly_csv(spark, raw_csv)
    normalized = normalize.normalize_monthly(df)
    normalized.write.mode("overwrite" if overwrite else "ignore").partitionBy(
        "ANO_EJE"
    ).parquet(out_dir)
    return normalized


def _star_records(normalized: DataFrame) -> DataFrame:
    """PRJ7: rename to star vocabulary and attach tiempo_id, in one
    projection."""
    present = set(normalized.columns)
    return normalized.selectExpr(
        *[
            f"{ident(raw)} AS {ident(snake)}"
            for raw, snake in RENAME_MAP.items()
            if raw in present
        ],
        "CAST(`ANO_EJE` AS BIGINT) * 100 + `MES_EJE` AS tiempo_id",
    )


def _staging(path: Path) -> tuple[Path, Path]:
    """(staging, retired) siblings of a dim directory for the swap."""
    return (
        path.with_name(f".{path.name}.staging"),
        path.with_name(f".{path.name}.retired"),
    )


def _stored_dim(spark: SparkSession, path: Path) -> DataFrame | None:
    """The stored dim, or None before its first write.  A dim that a
    crash left renamed aside, between the swap's two renames, is put
    back first."""
    _, retired = _staging(path)
    if not path.exists() and retired.exists():
        retired.rename(path)
    return read_spark_parquet(spark, path) if path.exists() else None


def _write_dim(df: DataFrame, path: Path, staged: bool) -> None:
    """Write a dim; ``staged`` writes a sibling staging directory and
    swaps it into place (see the module docstring)."""
    if not staged:
        df.write.mode("overwrite").parquet(str(path))
        return
    staging, retired = _staging(path)
    df.write.mode("overwrite").parquet(str(staging))
    shutil.rmtree(retired, ignore_errors=True)
    path.rename(retired)
    staging.rename(path)
    shutil.rmtree(retired)


def load(
    spark: SparkSession, normalized_dir: str, warehouse: str
) -> DataFrame:
    """Load stage: normalized Parquet → star warehouse (idempotent).

    Replaces the reference's per-batch read-dim/insert/re-read/join cycle
    (cargar_postgres.py:283-363) with: per-dim anti-join upsert against the
    stored dim, inline hash surrogate ids on the fact side, one grain
    consolidation, and a grain-keyed anti-join fact append.  Re-loading the
    same input is a no-op (the ON CONFLICT DO NOTHING property)."""
    return load_frame(spark, spark.read.parquet(normalized_dir), warehouse)


def load_frame(
    spark: SparkSession, normalized: DataFrame, warehouse: str
) -> DataFrame:
    """The load stage on an already-materialized normalized frame — shared
    by the batch CLI and the streaming loader's per-micro-batch handler."""
    wh = Path(warehouse)
    records = _star_records(normalized)

    time_path = wh / "dim_tiempo"
    if not time_path.exists():
        # business-meaning column comments (CreacionDBOrigen.sql:75-137)
        # ride along as field metadata; the calendar's survive into the
        # parquet and the serving views (the dim/fact columns are derived
        # expressions, which carry no field metadata)
        time_dim = with_column_comments(build_time_dim(spark))
        time_dim.write.mode("overwrite").parquet(str(time_path))

    for dim in DIMENSIONS:
        incoming = star.extract_dim(records, dim)
        dim_path = wh / dim.name
        existing = _stored_dim(spark, dim_path)
        merged = star.upsert_dim(existing, incoming, dim.key)
        _write_dim(merged, dim_path, staged=existing is not None)

    resolved = star.resolve_fks(records, DIMENSIONS)
    complete = star.fk_complete_filter(
        resolved, [d.id_col for d in DIMENSIONS]
    )
    fact_cols = [*FACT_FKS, *METRICS, "anio"]
    present = set(complete.columns)
    batch = complete.select(*[c for c in fact_cols if c in present])
    fact_path = wh / "fact_gasto_mensual"
    if fact_path.exists():
        # partition-scoped upsert: the grain anti-join only needs the
        # years present in this batch (a handful of values — a metadata
        # collect, not a data collect), so an incremental month touches
        # O(one year partition), never O(warehouse)
        years = [
            r.anio for r in batch.select("anio").distinct().collect()
        ]
        existing_fact = read_spark_parquet(spark, fact_path).filter(
            F.col("anio").isin(years)
        )
    else:
        existing_fact = None
    merged = star.append_fact(
        existing_fact, batch, grain=[*FACT_FKS, "anio"], metrics=METRICS
    )
    if existing_fact is not None:
        # materialize before overwriting the partitions just read from
        # (classic read-modify-write hazard)
        merged = merged.localCheckpoint(eager=True)
    # dynamic partition overwrite rewrites ONLY the affected anio
    # partitions; untouched years keep their files byte-for-byte
    merged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("anio").parquet(str(fact_path))
    return read_spark_parquet(spark, fact_path)


def streaming_load(
    spark: SparkSession,
    normalized_dir: str,
    warehouse: str,
    checkpoint_dir: str,
):
    """Continuous load: normalized Parquet files land, each micro-batch
    runs the SAME idempotent star load (dims upsert, FK resolve,
    consolidate, grain anti-join append) via ``foreachBatch``.

    Two idempotency layers compose: checkpointed source offsets give
    exactly-once per FILE, and the grain anti-join makes even a replayed
    batch a no-op — the streaming restatement of the reference's
    resumable batch ranges + ``ON CONFLICT DO NOTHING``
    (cargar_postgres.py:322-330,379-388).

    Returns the finished StreamingQuery (already awaited).
    """
    schema = spark.read.parquet(normalized_dir).schema

    def handle(batch: DataFrame, _batch_id: int) -> None:
        load_frame(spark, batch, warehouse)

    query = (
        spark.readStream.schema(schema)
        .parquet(normalized_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def _read_star(spark: SparkSession, warehouse: str):
    """(fact, dim_tiempo, {dim name: dim}) of a warehouse, read job-free."""
    wh = Path(warehouse)
    return (
        read_spark_parquet(spark, wh / "fact_gasto_mensual"),
        read_spark_parquet(spark, wh / "dim_tiempo"),
        {d.name: read_spark_parquet(spark, wh / d.name) for d in DIMENSIONS},
    )


def materialize_agg_mensual(
    spark: SparkSession,
    warehouse: str,
    agg_path: str,
    years: Sequence[int] | None = None,
) -> None:
    """Materialize ``vw_gasto_agregado_mensual`` as a partitioned table —
    full build (``years=None``) or INCREMENTAL partition-scoped refresh.

    The reference serves this as a live PostgreSQL view (V:119-179),
    recomputed per query; at warehouse scale the serving copy is a
    materialized table refreshed after each load.  The refresh is exact
    per-partition because ``anio`` is both the fact's partition column
    and an aggregate group key: no group ever crosses a year boundary,
    so recomputing only the loaded years from the (pruned) fact and
    dynamic-partition-overwriting them reproduces byte-for-byte what a
    full rebuild would put in those partitions — untouched years keep
    their files.  Cost per load: O(loaded years), never O(warehouse).

    ``load_frame`` already knows the loaded years (its own partition
    scoping); pass them straight through.
    """
    fact, time_dim, dims = _read_star(spark, warehouse)
    if years is not None:
        # lands on the partition column → file pruning at the scan
        fact = fact.filter(F.col("anio").isin([int(y) for y in years]))
    agg = V.vw_gasto_agregado_mensual_star(fact, time_dim, dims)
    agg.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("anio").parquet(str(agg_path))


def register_views(spark: SparkSession, warehouse: str) -> DataFrame:
    """Serve stage: register vw_gasto_mensual / agregado views (V:21-196)."""
    fact, time_dim, dims = _read_star(spark, warehouse)
    # serve the FACT's anio (the partition column) and the calendar's
    # mes/trimestre: a year predicate on the view then lands on the
    # partition column and prunes fact files; the dropped calendar anio
    # is identical by construction (tiempo_id = anio*100 + mes)
    base = V.star_denormalize(fact, time_dim.drop("anio"), dims)
    base.createOrReplaceTempView("vw_gasto_mensual")
    # the aggregate views use the agg-below-join rewrite (exact; see
    # plans/views.py): fact pre-aggregates on the contributing FK ids, so
    # the dim joins run on group-cardinality rows, not fact-cardinality
    V.vw_gasto_agregado_mensual_star(fact, time_dim, dims).createOrReplaceTempView(
        "vw_gasto_agregado_mensual"
    )
    V.vw_gasto_agregado_anual_star(fact, time_dim, dims).createOrReplaceTempView(
        "vw_gasto_agregado_anual"
    )
    return base
