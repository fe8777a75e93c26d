"""Text-cleaning / labeling column expressions.

Reference semantics reproduced here:

- ``limpiar_texto`` (ETL Gasto publico Perú/etl/transformar_mensual.py:91-94):
  NULL → "" → str → strip → collapse runs of whitespace to one space.
- placeholder labels ``COALESCE(NULLIF(TRIM(x),''), 'SIN …')``
  (sql/CreacionDeUsuariosyVistas.sql:127-133, 166-170).
- map-label composition ``'Departamento de ' || dep || ', Perú'``
  (sql/CreacionDeUsuariosyVistas.sql:136-140, 171-175).

All are pure Spark column expressions — whole-stage-codegen friendly, no
Python serialization boundary (SURVEY.md §2.12: zero UDFs needed).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import sql_column

#: PRJ5 as SQL text over one argument slot.  Collapse FIRST, then trim:
#: ``trim`` removes only spaces (0x20), so a leading tab/newline must
#: become a space before trimming or it survives one pass — Python's
#: ``str.strip()`` (the reference, transformar_mensual.py:93) strips all
#: whitespace in one go, and this order matches it.
CLEAN_TEXT_SQL = (
    "trim(regexp_replace(coalesce(CAST({0} AS STRING), ''), '\\\\s+', ' '))"
)


def clean_text(col: Column | str) -> Column:
    """NULL-safe strip + whitespace-collapse (PRJ5): `CLEAN_TEXT_SQL`
    as a Column.  Property-tested idempotent over arbitrary unicode."""
    return sql_column(CLEAN_TEXT_SQL, col)


def label_or_placeholder(col: Column | str, placeholder: str) -> Column:
    """Empty-or-null label → fixed placeholder (FN5).

    Mirrors the two-step contract SURVEY.md §7.4 calls out: the transform
    turns NULL into "" (transformar_mensual.py:92), the views turn "" into
    the placeholder — so group keys never split between NULL and "".
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.nullif(F.trim(c), F.lit("")), F.lit(placeholder))


def region_map_label(dep_col: Column | str, placeholder: str = "SIN DEPARTAMENTO") -> Column:
    """``region_mapa`` composition for map visuals (FN6)."""
    return F.concat(
        F.lit("Departamento de "),
        label_or_placeholder(dep_col, placeholder),
        F.lit(", Perú"),
    )


#: Spanish/Latin-1 accented characters and their folded forms, aligned
#: by position for F.translate (JVM-side 1:1 char map, no UDF).  ñ/Ñ
#: fold to n/N — intentional for MATCH KEYS ONLY (display labels keep
#: their accents; the reference's limpiar_texto never folds).
_ACCENTED = "ÁÉÍÓÚÜÑÀÈÌÒÙÂÊÎÔÛÄËÏÖáéíóúüñàèìòùâêîôûäëïö"
_FOLDED = "AEIOUUNAEIOUAEIOUAEIOaeiouunaeiouaeiouaeio"


def fold_accents(col: Column | str) -> Column:
    """Strip diacritics (á→a, Ñ→N) via a literal translate map.

    For matching/dedup keys over Spanish labels — 'EDUCACIÓN' and the
    commonly-mistyped 'EDUCACION' must meet in a join.  NOT applied to
    display columns: the serving views keep the reference's exact label
    bytes."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, _ACCENTED, _FOLDED)


def match_key(col: Column | str) -> Column:
    """Canonical label-matching key: clean → fold accents → lowercase.
    The join key for fuzzy dimension-label matching and cross-source
    label reconciliation (blocked-Levenshtein's exact-prefilter)."""
    return F.lower(fold_accents(clean_text(col)))


def reconcile_on_match_key(
    left, right, label_col: str, how: str = "inner", key_col: str = "__mk"
):
    """Join two frames on the canonical match key of ``label_col`` —
    the production entry point for cross-source label reconciliation
    ('EDUCACIÓN' meets 'educacion').  Right-side columns other than the
    label keep their names; both original labels survive as
    ``<label_col>`` / ``<label_col>_right`` so the caller can audit
    what was reconciled.  Exact-canonical matching; for typo-distance
    matching feed the SURVIVORS of this join's anti-complement to the
    blocked-Levenshtein path (this is its exact prefilter).

    Raises on column collisions instead of silently corrupting the
    output: ``withColumnRenamed`` to an existing ``<label_col>_right``
    would duplicate the name, and ``withColumn(key_col, ...)`` would
    OVERWRITE a caller column named ``key_col``."""
    renamed = f"{label_col}_right"
    if renamed in right.columns:
        raise ValueError(
            f"right frame already has a column {renamed!r}; rename it "
            "or pass a different label_col"
        )
    if renamed in left.columns:
        raise ValueError(
            f"left frame already has a column {renamed!r}; the join "
            "output would carry two columns of that name — rename it "
            "or pass a different label_col"
        )
    clash = [
        f for f in (left, right) if key_col in f.columns
    ]
    if clash:
        raise ValueError(
            f"key_col {key_col!r} already exists in an input frame; "
            "pass an unused key_col"
        )
    lk = left.withColumn(key_col, match_key(label_col))
    rk = right.withColumnRenamed(label_col, renamed).withColumn(
        key_col, match_key(renamed)
    )
    return lk.join(rk, key_col, how).drop(key_col)
