"""MEF write-path driver cost: SQL-text projections, footer-schema reads
and staged dim swaps.

The budgets pin how the write path plans, not how fast it runs: a
per-column ``withColumn`` loop costs Py4J round trips per column, and a
``spark.read.parquet`` of a table the engine wrote costs a
schema-inference job.  Either one, reintroduced, fails here loudly."""

from __future__ import annotations

import csv
import itertools
from contextlib import contextmanager
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from proyecto_gasto_publico_etl_per__spark.operators import normalize
from proyecto_gasto_publico_etl_per__spark.plans import mef_pipeline
from proyecto_gasto_publico_etl_per__spark.session import DEFAULT_CONF
from proyecto_gasto_publico_etl_per__spark.sources.parquet_source import (
    footer_schema,
    read_spark_parquet,
)

HEADER = [
    "ANO_EJE", "MES_EJE", "NIVEL_GOBIERNO", "NIVEL_GOBIERNO_NOMBRE",
    "SEC_EJEC", "EJECUTORA", "EJECUTORA_NOMBRE", "SECTOR",
    "SECTOR_NOMBRE", "TIPO_TRANSACCION", "GENERICA", "MONTO_PIA",
    "MONTO_DEVENGADO",
]

#: Py4J round trips and Spark jobs per step on the fixture below.  The
#: Py4J budgets keep a small margin over what the write path needs; the
#: job counts repeat exactly for this fixture, so they carry none.  A
#: per-column loop over the 67 conformed columns (thousands of round
#: trips), or one schema-inference read (one job), exceeds them.
TRANSFORM_PY4J = 200
TRANSFORM_JOBS = 3
LOAD_FRAME_PY4J = 1500
LOAD_FRAME_JOBS = 27

_groups = itertools.count()


def _write_csv(path: Path, rows: list[list[str]]) -> str:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(HEADER)
        w.writerows(rows)
    return str(path)


def _row(mes: str, sec: str, name: str, pia: str) -> list[str]:
    return ["2024", mes, "E", "GOBIERNO NACIONAL", sec, "E" + sec, name,
            "01", "SALUD", "2", "3", pia, "1.5"]


@pytest.fixture()
def warehouse(spark, tmp_path):
    """A bulk-loaded warehouse plus the next month's raw extract."""
    bulk = _write_csv(
        tmp_path / "2024-Gasto-Mensual.csv",
        [_row("1", "001", " Uno  ", "10"), _row("2", "002", "Dos", "20"),
         _row("2", "002", "Dos", "5")],
    )
    wh = tmp_path / "warehouse"
    mef_pipeline.transform(spark, bulk, str(tmp_path / "norm"))
    mef_pipeline.load(spark, str(tmp_path / "norm"), str(wh))
    edition = _write_csv(
        tmp_path / "edition.csv",
        [_row("2", "002", "Dos", "20"), _row("3", "003", "Tres", "7")],
    )
    return wh, edition


@contextmanager
def _driver_cost(spark):
    """Count Py4J commands and Spark jobs issued inside the block.  Py4J
    object-release commands are left out: Python's garbage collector
    sends them at times of its choosing."""
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    orig = client.send_command
    cost = {"py4j": 0, "jobs": 0}

    def send(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            cost["py4j"] += 1
        return orig(command, *args, **kwargs)

    group = f"driver-cost-{next(_groups)}"
    sc.setJobGroup(group, group)
    client.send_command = send
    try:
        yield cost
    finally:
        client.send_command = orig
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    cost["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_path_driver_budget(spark, tmp_path, warehouse):
    wh, edition = warehouse
    month = str(tmp_path / "month")
    with _driver_cost(spark) as tr:
        mef_pipeline.transform(spark, edition, month)
    assert tr["py4j"] <= TRANSFORM_PY4J, tr
    assert tr["jobs"] <= TRANSFORM_JOBS, tr

    frame = spark.read.parquet(month)
    with _driver_cost(spark) as ld:
        mef_pipeline.load_frame(spark, frame, str(wh))
    assert ld["py4j"] <= LOAD_FRAME_PY4J, ld
    assert ld["jobs"] <= LOAD_FRAME_JOBS, ld

    with _driver_cost(spark) as rv:
        mef_pipeline.register_views(spark, str(wh))
    assert rv["jobs"] == 0, rv


def test_footer_schema_matches_spark_inference(spark, tmp_path, warehouse):
    wh, edition = warehouse
    month = str(tmp_path / "month")
    mef_pipeline.transform(spark, edition, month)
    mef_pipeline.load_frame(spark, spark.read.parquet(month), str(wh))

    tables = sorted(p for p in wh.iterdir())
    assert len(tables) == 9
    for table in tables:
        with _driver_cost(spark) as cost:
            got = read_spark_parquet(spark, table).schema
        assert cost["jobs"] == 0, (table.name, cost)
        assert got == spark.read.parquet(str(table)).schema, table.name
        assert got == footer_schema(table)
    fact = footer_schema(wh / "fact_gasto_mensual")
    assert fact.names[-1] == "anio"
    calendar = footer_schema(wh / "dim_tiempo")
    assert calendar["anio"].metadata["comment"].startswith("Año")
    # the staged dim swaps left nothing beside the tables
    assert not [p.name for p in wh.iterdir() if p.name.startswith(".")]


def test_dim_swap_recovers_a_dim_left_aside(spark, tmp_path, warehouse):
    """A crash between the staged swap's two renames leaves the stored
    dim renamed aside; the next load puts it back instead of starting
    the dim over from the batch."""
    wh, edition = warehouse
    dim = wh / "dim_ejecutora"
    before = {r.sec_ejec for r in spark.read.parquet(str(dim)).collect()}
    dim.rename(wh / ".dim_ejecutora.retired")
    month = str(tmp_path / "month")
    mef_pipeline.transform(spark, edition, month)
    mef_pipeline.load_frame(spark, spark.read.parquet(month), str(wh))
    after = {r.sec_ejec for r in spark.read.parquet(str(dim)).collect()}
    assert after == before | {"003"}
    assert not [p.name for p in wh.iterdir() if p.name.startswith(".")]


def test_footer_read_refuses_foreign_parquet(spark, tmp_path):
    root = tmp_path / "foreign"
    root.mkdir()
    pq.write_table(pa.table({"x": [1, 2]}), root / "part-0.parquet")
    with pytest.raises(ValueError, match="no Spark row metadata"):
        read_spark_parquet(spark, root)
    with pytest.raises(ValueError, match="no parquet data file"):
        read_spark_parquet(spark, tmp_path / "empty")


def test_ansi_pinned_and_normalize_independent_of_it(spark):
    assert DEFAULT_CONF["spark.sql.ansi.enabled"] == "true"
    raw = spark.createDataFrame(
        [("2024", "3", "SALUD", "12.5"), ("2024", "3", "SALUD", "n/a"),
         ("20x4", "3", "SALUD", "1"), ("2024", "13", "SALUD", "1"),
         ("2024", "4", "SALUD", "1e40")],
        ["ANO_EJE", "MES_EJE", "SECTOR_NOMBRE", "MONTO_PIA"],
    )
    prior = spark.conf.get("spark.sql.ansi.enabled")
    rows = {}
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            rows[mode] = sorted(
                normalize.normalize_monthly(raw).collect(), key=str
            )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    assert rows["true"] == rows["false"]
    pia = sorted(str(r.MONTO_PIA) for r in rows["true"])
    # junk and overflowing metrics coerce to NULL; junk year and month
    # 13 fail the validity filter
    assert pia == ["12.5000", "None", "None"]
