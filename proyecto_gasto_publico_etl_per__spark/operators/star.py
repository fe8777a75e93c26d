"""Star-schema construction: surrogate keys, idempotent dim upsert, FK
resolution, grain consolidation.

This is the Spark restatement of the reference's load stage
(``ETL Gasto publico Perú/etl/cargar_postgres.py:270-388``).  The reference
round-trips to PostgreSQL on every dim read/insert and fact sub-batch; here
all state lives as Parquet tables and the whole load is ONE lazy plan:

- dim "INSERT ... ON CONFLICT DO NOTHING" (L:127-152)  →  dedup + left-anti
  join + append (``upsert_dim``), property-tested idempotent;
- client-side dim key→id caches (L:283-320)            →  broadcast hash
  joins (``resolve_fks``);
- SERIAL surrogate ids                                  →  xxhash64 natural-
  key hashes (functions/hashing.py) — no sequence, no coordination;
- grain consolidation group-by-sum (L:374-375)          →  shuffle hash agg
  with map-side partial aggregation (``consolidate``).

Scale notes (100 TB): dims stay broadcast-sized (≤ tens of thousands of
rows, SURVEY.md §1.4) so FK resolution never shuffles the fact; the only
fact shuffle is the final grain consolidation, whose key count is bounded by
the grain cardinality.  The fact is written partitioned by ``anio`` for
partition pruning.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import KEY_TEXT_SQL, surrogate_key_sql
from ..functions.sqltext import ident
from ..schema import DIMENSIONS, FACT_FKS, METRICS, Dim


def _key_sql(dim: Dim, col: str) -> str:
    """SQL text of one natural-key column normalized for comparison."""
    if col in dim.int_keys:
        return f"try_cast({ident(col)} AS INT)"
    return KEY_TEXT_SQL.format(ident(col))


def normalize_key_cols(df: DataFrame, dim: Dim) -> DataFrame:
    """Key-type normalization at join time (cargar_postgres.py:120-123):
    every key compared as a trimmed string, except declared int keys
    (``tipo_transaccion``, L:214) compared numerically.  Replicating this
    exactly is what keeps joins from silently missing (SURVEY.md §7.4).

    NULL → "" like the loader's string normalization — otherwise a NULL
    key never equals itself in the upsert anti-join and the same dim row
    re-appends on every load.  One projection of SQL text."""
    keys = set(dim.key)
    return df.selectExpr(
        *[
            f"{_key_sql(dim, c)} AS {ident(c)}" if c in keys else ident(c)
            for c in df.columns
        ]
    )


def extract_dim(records: DataFrame, dim: Dim) -> DataFrame:
    """Distinct natural keys (+ attributes) from a batch, with surrogate id.

    Mirrors the loader's "new keys from this batch" extraction (L:353-357)
    but keeps attributes too, first-writer-wins on duplicates via max —
    deterministic, unlike pandas drop_duplicates order dependence.
    """
    base = records.selectExpr(
        *[f"{_key_sql(dim, k)} AS {ident(k)}" for k in dim.key],
        *[ident(a) for a in dim.attrs],
    )
    agg = [F.expr(f"max({ident(a)}) AS {ident(a)}") for a in dim.attrs]
    deduped = base.groupBy(*dim.key).agg(*agg) if agg else base.distinct()
    return deduped.selectExpr(
        f"{surrogate_key_sql(*[ident(k) for k in dim.key])} AS {ident(dim.id_col)}",
        *[ident(c) for c in dim.columns],
    )


def upsert_dim(
    existing: DataFrame | None, incoming: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Idempotent dedup-append: the engine-level ``ON CONFLICT DO NOTHING``
    (cargar_postgres.py:127-152; SURVEY.md §7.4).

    Returns existing ∪ (incoming ∖ existing on natural key).  Appending the
    same batch twice is a no-op — the idempotency property the reference
    gets from unique indexes (L:101-113).
    """
    fresh = incoming.dropDuplicates(list(keys))
    if existing is None:
        return fresh
    inc, ex = fresh.alias("inc"), existing.alias("ex")
    # null-safe equality: an int key may legitimately be NULL (e.g. a dim
    # whose raw column is absent); NULL must match NULL or the row
    # re-appends forever
    cond = F.expr(
        " AND ".join(f"inc.{ident(k)} <=> ex.{ident(k)}" for k in keys)
    )
    new_rows = inc.join(F.broadcast(ex), cond, "left_anti")
    return existing.unionByName(
        new_rows.selectExpr(*[ident(c) for c in existing.columns])
    )


def resolve_fks(
    records: DataFrame, dims: Sequence[Dim] = DIMENSIONS
) -> DataFrame:
    """JN3 — resolve each dimension's surrogate id onto the fact batch via
    broadcast left equi-joins on the natural key (cargar_postgres.py:353-363).

    Because surrogate ids are pure hashes of the natural key, no join against
    stored dim state is needed: the id is computed inline.  (The stored dims
    exist to serve attributes at query time, not to mint ids — this is what
    deletes the reference's per-batch read-dim/insert/re-read cycle.)

    One projection: every key column normalized in place, each dim's id
    appended as the surrogate key over its normalized keys.
    """
    key_sql = {k: _key_sql(dim, k) for dim in dims for k in dim.key}
    ids = [
        f"{surrogate_key_sql(*[key_sql[k] for k in dim.key])} AS {ident(dim.id_col)}"
        for dim in dims
    ]
    return records.selectExpr(
        *[
            f"{key_sql[c]} AS {ident(c)}" if c in key_sql else ident(c)
            for c in records.columns
        ],
        *ids,
    )


def fk_complete_filter(df: DataFrame, fks: Sequence[str] = FACT_FKS) -> DataFrame:
    """FLT6 — keep rows with all FKs resolved (cargar_postgres.py:365-372)."""
    return df.where(" AND ".join(f"{ident(k)} IS NOT NULL" for k in fks))


def consolidate(
    df: DataFrame,
    grain: Sequence[str] = FACT_FKS,
    metrics: Sequence[str] = METRICS,
) -> DataFrame:
    """AGG1 — collapse duplicate natural-grain rows by summing the 7 metrics
    (cargar_postgres.py:374-375).  Spark plans a partial (map-side) + final
    hash aggregate; with AQE the shuffle partition count adapts to the
    actual grain cardinality."""
    return df.groupBy(*grain).agg(
        *[F.expr(f"sum({ident(m)}) AS {ident(m)}") for m in metrics]
    )


def append_fact(
    existing: DataFrame | None,
    incoming: DataFrame,
    grain: Sequence[str] = FACT_FKS,
    metrics: Sequence[str] = METRICS,
) -> DataFrame:
    """Idempotent fact append: consolidate the batch to the grain, then
    anti-join against existing grain keys (the fact-side
    ``ON CONFLICT DO NOTHING``, cargar_postgres.py:236-267, 379-388)."""
    batch = consolidate(incoming, grain, metrics)
    if existing is None:
        return batch
    new_rows = batch.join(existing.select(*grain), list(grain), "left_anti")
    return existing.unionByName(new_rows)


def scd1_merge(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
) -> DataFrame:
    """SCD1 MERGE (upsert with update-on-match): the warehouse-standard
    ``MERGE INTO … WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT``.

    The reference's dim maintenance is insert-only (``ON CONFLICT DO
    NOTHING``, cargar_postgres.py:127-152) — first-seen attributes stick
    forever.  This extension completes the pair: update rows overwrite
    matching keys, new keys append, untouched rows pass through.

    Updates are first consolidated to key grain with a deterministic
    ``max`` per attribute (same discipline as the dim build — never
    ``dropDuplicates``, whose survivor is partition-order dependent).
    Plan: one full-outer shuffle join on the key (dims at 100 TB may
    exceed broadcast size; AQE downgrades to broadcast when small), then
    a per-column ``coalesce(update, existing)``.
    """
    upd = (
        updates.groupBy(*keys)
        .agg(*[F.max(a).alias(a) for a in attrs])
        # presence marker: a key column may legitimately be NULL (the
        # join is null-safe), so "matched" must not key off inc.<key>
        .withColumn("_m", F.lit(1))
    )
    ex, inc = existing.alias("ex"), upd.alias("inc")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"inc.{k}").eqNullSafe(F.col(f"ex.{k}")) for k in keys],
    )
    joined = ex.join(inc, cond, "full_outer")
    return joined.select(
        *[
            F.coalesce(F.col(f"inc.{k}"), F.col(f"ex.{k}")).alias(k)
            for k in keys
        ],
        *[
            # matched or insert row -> update attrs win, even when NULL
            F.when(F.col("inc._m").isNotNull(), F.col(f"inc.{a}"))
            .otherwise(F.col(f"ex.{a}"))
            .alias(a)
            for a in attrs
        ],
    )


def scd2_history(
    snapshots: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    period_col: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from periodic snapshots.

    The reference's dim upsert is SCD1 (``ON CONFLICT DO NOTHING`` keeps
    the first-seen attributes forever, cargar_postgres.py:127-152); this
    extension derives the full version history instead: one row per
    (key, attribute-state) run, with ``valid_from`` (the period the state
    first appeared), ``valid_to`` (the period the NEXT state starts;
    NULL while current) and an ``is_current`` flag.

    Implementation is two window passes over the key partition, ordered
    by period — no self-joins, no driver state:

    1. change detection: a row opens a version iff it is the key's first
       snapshot (lag(period) IS NULL — period is never null, so this
       cleanly distinguishes "first row" from "previous attr was NULL")
       or any attribute differs null-safely from its lag;
    2. interval close: ``lead(period)`` over the surviving version rows.

    Scale: both windows partition by the dimension key, so the work is
    one shuffle of the (already snapshot-grained) input; runs of
    unchanged snapshots collapse early, keeping the second window's
    input at version cardinality.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(period_col)
    changed: Column = F.lag(period_col).over(w).isNull()
    for a in attrs:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    versions = snapshots.withColumn("_chg", changed).filter(F.col("_chg"))
    w2 = Window.partitionBy(*keys).orderBy(period_col)
    valid_to = F.lead(period_col).over(w2)
    return versions.select(
        *keys,
        *attrs,
        F.col(period_col).alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().cast("int").alias("is_current"),
    )
