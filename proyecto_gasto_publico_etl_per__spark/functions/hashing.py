"""Deterministic hashing: surrogate keys and cross-engine stable hashes.

Surrogate keys: the reference uses PostgreSQL SERIAL sequences
(CreacionDeDataWareHouse.sql:10,29,36,...).  Sequences don't exist in a
distributed engine; ``monotonically_increasing_id`` is neither stable across
runs nor dense.  We use ``xxhash64`` over the natural key instead —
deterministic, computable in parallel with no coordination, stable across
incremental loads (the same natural key always maps to the same id, which is
exactly the property the loader's upsert-by-natural-key provides,
cargar_postgres.py:127-152).  Collision risk at dim cardinalities (≤ 10^6
rows vs 2^64 space) is ~1e-7 — negligible, and detectable by a
count-distinct audit.

Cross-engine hashes: ``xxhash64`` is Spark-specific, so operators whose
results must be reproducible outside Spark (MinHash signatures checked
against a DuckDB oracle) use the first 8 hex digits of md5 as a uint32 —
identical in any engine with ``md5()``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import sql_column

#: One natural-key part as SQL text: a trimmed string, NULL as the empty
#: string (the loader's key normalization, cargar_postgres.py:120-123).
KEY_TEXT_SQL = "coalesce(trim(CAST({0} AS STRING)), '')"


def surrogate_key_sql(*parts: str) -> str:
    """SQL text of the stable 64-bit surrogate id over the SQL
    expressions ``parts``: xxhash64 of the `KEY_TEXT_SQL` parts joined
    by U+001F, a separator unlikely to occur in key text, so that
    ("ab","c") != ("a","bc")."""
    keys = ", ".join(KEY_TEXT_SQL.format(p) for p in parts)
    return f"xxhash64(concat_ws('\\u001f', {keys}))"


def surrogate_key(*cols: Column | str) -> Column:
    """Stable 64-bit surrogate id from a natural key (`surrogate_key_sql`
    as a Column).  NULL parts hash as the empty string, so a NULL and a
    missing column don't collide with real values accidentally shifting
    positions."""
    slots = [f"{{{i}}}" for i in range(len(cols))]
    return sql_column(surrogate_key_sql(*slots), *cols)


def hex_hash32(col: Column | str, seed: int = 0) -> Column:
    """Engine-portable 32-bit hash: uint32 from md5 hex prefix.

    DuckDB equivalent: ``CAST(('0x' || substr(md5(seed || x), 1, 8)) AS BIGINT)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    salted = F.concat(F.lit(str(seed)), c.cast("string")) if seed else c.cast("string")
    return F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("bigint")
