"""JSONL (newline-delimited JSON) corpus source.

The reference ingests only CSV extracts (``etl/transformar_mensual.py``);
training-data corpora overwhelmingly ship as JSONL, so the engine treats
it as a first-class source with the same loud-failure discipline as the
CSV path: PERMISSIVE parse into an explicit schema with a
``_corrupt_record`` capture column, plus a one-scan corruption audit that
fails the load when the bad-line ratio crosses a threshold — never a
silent ``DROPMALFORMED``.

Scale notes:
- an explicit schema is REQUIRED: schema inference scans the data twice
  and samples nondeterministically — never acceptable at 100 TB.
- plain ``.jsonl`` and block-compressed containers split per-line /
  per-block; ``.gz`` files are unsplittable (one task per file) — shard
  gzip corpora into many files upstream, or recompress to zstd/bzip2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.sqltext import ident

#: the documents-table shape (TESTDATA.md) — the default corpus schema
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENTS_SCHEMA,
    multiline: bool = False,
) -> DataFrame:
    """Scan JSONL into ``schema`` + a ``_corrupt_record`` audit column.

    Unparseable lines yield a row with every schema field NULL and the
    raw line captured in ``_corrupt_record``; well-formed lines carry
    NULL there.  The scan is a single pass, fully splittable on
    uncompressed input.
    """
    full = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("multiLine", "true" if multiline else "false")
        .json(path)
    )


def corruption_stats(df: DataFrame) -> tuple[int, int]:
    """(total rows, corrupt rows) in ONE scan — a single conditional-sum
    aggregate, no second job (same discipline as
    ``operators/expectations``).

    EVERY schema column is referenced in the aggregate, for two reasons:
    a plan referencing ONLY ``_corrupt_record`` over a raw scan is
    rejected by Spark (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and — subtler —
    CSV/JSON parsers under column pruning only parse the referenced
    fields, so a row malformed past the referenced prefix would never be
    flagged corrupt.  Referencing all columns forces the full-row parse
    that corruption detection requires; the counts themselves are free.
    """
    others = [c for c in df.columns if c != CORRUPT_COL]
    # one SQL-text projection: a global aggregate planned in one call
    row = df.selectExpr(
        "count(*) AS total",
        f"count({ident(CORRUPT_COL)}) AS bad",
        *[f"count({ident(c)}) AS _w{i}" for i, c in enumerate(others)],
    ).collect()[0]
    return int(row["total"]), int(row["bad"])


def validate_jsonl(
    df: DataFrame, max_corrupt_ratio: float = 0.01
) -> DataFrame:
    """Fail LOUDLY when the corrupt-line ratio exceeds the threshold;
    otherwise return the clean rows without the audit column.

    The one-scan audit runs eagerly (it is the point of the gate); the
    returned frame re-reads through the same cached scan lineage.
    """
    total, bad = corruption_stats(df)
    if total > 0 and bad / total > max_corrupt_ratio:
        raise ValueError(
            f"JSONL corruption ratio {bad}/{total} exceeds "
            f"{max_corrupt_ratio:%} — refusing to load; inspect "
            f"`{CORRUPT_COL}` rows"
        )
    return df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write a corpus frame as JSONL (one object per line, splittable)."""
    df.write.mode(mode).json(path)
