"""Raw-record normalization (the reference's transform stage).

Reproduces, as one lazy Spark plan per input, the per-chunk pandas pipeline
of ``ETL Gasto publico Perú/etl/transformar_mensual.py:110-197``:

  header-normalize → conform-schema → fixed projection → numeric coercion →
  text cleaning → derive FECHA → validity filter

The reference runs this eagerly one 300k-row chunk at a time in a single
thread and concatenates the whole year in driver memory (T:185).  Here the
same dataflow is declared once; executors parallelize the scan and nothing
is ever concatenated driver-side.

``normalize_monthly`` plans the whole chain as ONE projection of SQL-text
expressions (header normalization, conform, coerce, clean and FECHA per
column) and one filter: Spark analyzes it once, in about one Py4J call
per column to pass the list, where a per-column ``withColumn`` chain
costs dozens of round trips and a re-analysis per column.  The step helpers below build their projections from the same
SQL text, so each also plans in one call.  Numeric coercion is ``try_cast``
and FECHA is guarded row-wise, so the result does not depend on the
session's ANSI setting.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame

from ..functions.cleaning import CLEAN_TEXT_SQL
from ..functions.money import DEC
from ..functions.sqltext import ident
from ..schema import COLS_CLAVE, RAW_INT_COLS, RAW_METRIC_COLS

#: a conformed column the input lacks (transformar_mensual.py:140-143)
_NULL_TEXT = "CAST(NULL AS STRING)"


def _int_sql(col: str) -> str:
    return f"try_cast({col} AS INT)"


def _metric_sql(col: str) -> str:
    return f"try_cast({col} AS {DEC})"


def _valid_period_sql(year: str, month: str) -> str:
    return f"{year} > 0 AND {month} BETWEEN 1 AND 12"


def _month_date_sql(year: str, month: str) -> str:
    return (
        f"CASE WHEN {year} IS NOT NULL AND {_valid_period_sql(year, month)} "
        f"THEN make_date({year}, {month}, 1) END"
    )


def _project(df: DataFrame, exprs: Mapping[str, str]) -> DataFrame:
    """One projection: ``exprs`` (column → SQL text) replaces the column
    of that name in place or, for a new name, appends it."""
    cols = df.columns
    out = [
        f"{exprs[c]} AS {ident(c)}" if c in exprs else ident(c) for c in cols
    ]
    out += [f"{e} AS {ident(c)}" for c, e in exprs.items() if c not in cols]
    return df.selectExpr(*out)


def normalize_headers(df: DataFrame) -> DataFrame:
    """PRJ1 — uppercase + strip every column name (transformar_mensual.py:81-82)."""
    return df.toDF(*[c.strip().upper() for c in df.columns])


def conform_schema(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """PRJ2+PRJ3 — add missing expected columns as NULL, project in order
    (transformar_mensual.py:140-143; cargar_postgres.py:338-340)."""
    present = set(df.columns)
    return df.selectExpr(
        *[ident(c) if c in present else f"{_NULL_TEXT} AS {ident(c)}"
          for c in columns]
    )


def coerce_numeric(
    df: DataFrame,
    int_cols: Sequence[str] = RAW_INT_COLS,
    metric_cols: Sequence[str] = RAW_METRIC_COLS,
) -> DataFrame:
    """PRJ4 — ``to_numeric(errors="coerce")`` semantics: try_cast, junk → NULL
    (transformar_mensual.py:86-87,144-145).  Metrics go to exact decimal,
    not float64 — see functions/money.py."""
    present = set(df.columns)
    exprs = {c: _int_sql(ident(c)) for c in int_cols if c in present}
    exprs |= {c: _metric_sql(ident(c)) for c in metric_cols if c in present}
    return _project(df, exprs)


def clean_text_cols(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """PRJ5 — NULL→"" → strip → collapse whitespace on every text column
    (transformar_mensual.py:91-94,146-147)."""
    return _project(df, {c: CLEAN_TEXT_SQL.format(ident(c)) for c in cols})


def with_month_date(
    df: DataFrame,
    year_col: str = "ANO_EJE",
    month_col: str = "MES_EJE",
    out_col: str = "FECHA",
) -> DataFrame:
    """PRJ6 — month-start date from (year, month); NULL if either is NULL
    (transformar_mensual.py:98-105).  Out-of-range periods yield NULL,
    matching the reference's NaT on bad input — ANSI ``make_date`` would
    throw, so the validity predicate gates it row-wise."""
    return _project(
        df, {out_col: _month_date_sql(ident(year_col), ident(month_col))}
    )


def filter_valid_period(
    df: DataFrame, year_col: str = "ANO_EJE", month_col: str = "MES_EJE"
) -> DataFrame:
    """FLT1 — keep rows with a plausible period (transformar_mensual.py:149):
    year > 0 and month in 1..12.  NULLs fail the predicate, as in pandas."""
    return df.where(_valid_period_sql(ident(year_col), ident(month_col)))


def normalize_monthly(df: DataFrame) -> DataFrame:
    """The full transform pipeline over a raw all-string frame: header
    normalization, conform, coercion, cleaning and FECHA in one
    projection, then the validity filter.

    Text columns are every conformed column that is not numeric — same rule
    as the reference, which cleans all non-``COLS_NUM`` columns (T:146-147).
    """
    raw: dict[str, str] = {}
    for c in df.columns:
        name = c.strip().upper()
        if name in raw and name in COLS_CLAVE:
            raise ValueError(
                f"normalize: columns {raw[name]!r} and {c!r} both normalize "
                f"to {name!r}"
            )
        raw[name] = c
    exprs = {}
    for c in COLS_CLAVE:
        src = ident(raw[c]) if c in raw else _NULL_TEXT
        if c in RAW_INT_COLS:
            exprs[c] = _int_sql(src)
        elif c in RAW_METRIC_COLS:
            exprs[c] = _metric_sql(src)
        else:
            exprs[c] = CLEAN_TEXT_SQL.format(src)
    exprs["FECHA"] = _month_date_sql(exprs["ANO_EJE"], exprs["MES_EJE"])
    return filter_valid_period(
        df.selectExpr(*[f"{e} AS {ident(c)}" for c, e in exprs.items()])
    )
