"""Trigram substring index: LIKE '%needle%' without a corpus scan.

The retrieval lanes cover token queries (BM25 bag-of-terms) and
adjacent-token phrases (positional postings) — neither can answer a
SUBSTRING containment query (`position('window sc' IN text) > 0`):
tokenization erases intra-/cross-token character structure, so the
only token-index answer is a corpus scan.  This is the pg_trgm idea
rebuilt on the engine's zone discipline: index every distinct
3-character window of the (lowercased) text, and a needle's candidate
set is the docs containing ALL of the needle's trigrams — a superset
of the true matches by construction (a string containing the needle
contains every one of its trigrams), shrunk to exact by one verify
pass over candidates only.

Zone layout per root (the `operators.retrieval` conventions: explicit
read schemas so empty zones stay readable, crc32 bucketing so the
partition count is CONSTANT under vocabulary/corpus growth):

- ``postings``  (tri, doc_id) PARTITIONED BY ``tri_bucket =
  crc32(tri) % N_TRI_BUCKETS`` — a query reads only its trigrams'
  bucket directories (partition pruning is the index seek) and the
  exact ``tri IN (...)`` predicate pushes into parquet row groups;
- ``stats``     one row (n_docs) — the fallback-decision input.

Zones over DISJOINT doc subsets union exactly (postings are a set,
stats add), so append-maintained multi-root serving == a full rebuild
— the same associativity contract as the BM25 lane, here at set
rather than aggregate level.

Serving cost: |postings(needle's trigrams)| rows into one doc-grouped
count (docs with all k trigrams), then the verify pass touches ONLY
candidate docs (a semi-join keyed lookup, at scale a pruned read).
The one needle shape that degenerates is a needle SHORTER than 3
chars — no trigram exists, so `serve` REFUSES it loudly (the caller
can run the exact scan it would have cost anyway) rather than
silently scanning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .retrieval import _as_local_path, _local_roots

#: posting-zone partition fan-out — constant under vocab/corpus growth
N_TRI_BUCKETS = 64

_POSTINGS_SCHEMA = "doc_id LONG, tri STRING, tri_bucket LONG"
_STATS_SCHEMA = "n_docs LONG"
#: deletion markers — serving anti-joins them out of the candidate
#: set, compaction folds them out physically (the BM25/ANN tombstone
#: lifecycle applied to the substring lane)
_TOMBSTONES_SCHEMA = "doc_id LONG"

MIN_NEEDLE = 3


def _norm(col) -> F.Column:
    """The index's normalization: lowercase only — substring search
    runs over the text's real character stream (whitespace collapse
    would change which substrings exist).  The DuckDB oracle mirrors
    ``lower(coalesce(text, ''))``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.coalesce(c, F.lit("")))


def _trigrams(col) -> F.Column:
    """Distinct 3-char windows of ``col`` — JVM-side higher-order
    functions, no Python in the path.  A string shorter than 3 chars
    yields an empty array (sequence would count DOWN otherwise — the
    r5 F.sequence trap, guarded here)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(c) >= MIN_NEEDLE,
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, length({col}) - 2), "
                f"i -> substring({col}, i, 3))"
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def needle_trigrams(needle: str) -> list[str]:
    """Python twin of `_trigrams` for the plan-time query side."""
    s = needle.lower()
    return sorted({s[i : i + 3] for i in range(len(s) - 2)})


def build_trigram_index(
    spark: SparkSession, docs: DataFrame, root: str | None = None
) -> str:
    """One pass over ``docs`` (doc_id, text) → postings + stats zones
    under ``root`` (fresh tempdir when None).  Returns the root.
    Streaming/epoch callers pass an epoch-scoped root and overwrite it
    (the `build_bm25_index` at-least-once discipline)."""
    import tempfile

    if root is None:
        root = tempfile.mkdtemp(prefix="trigram_index_") + "/zones"
        mode = "errorifexists"
    else:
        root = _as_local_path(root)
        # epoch-scoped rebuild: clear any STALE tombstones zone too —
        # the zone writes below overwrite their own dirs, but
        # tombstones are written by delete_from_trigram_index, and a
        # survivor from the previous index would silently anti-join
        # the NEW corpus's matching doc_ids (the r14 writers-clear-
        # zones-they-don't-own rule)
        import shutil

        shutil.rmtree(f"{root}/tombstones", ignore_errors=True)
        mode = "overwrite"
    norm = docs.select("doc_id", _norm("text").alias("__t"))
    postings = (
        norm.select(
            "doc_id", F.explode(_trigrams("__t")).alias("tri")
        )
        .withColumn(
            "tri_bucket", F.pmod(F.crc32(F.col("tri")), N_TRI_BUCKETS)
        )
        .repartition(F.col("tri_bucket"))
    )
    postings.write.mode(mode).partitionBy("tri_bucket").parquet(
        f"{root}/postings"
    )
    docs.groupBy().agg(F.count(F.lit(1)).alias("n_docs")).write.mode(
        mode
    ).parquet(f"{root}/stats")
    return root


def _read_postings(spark: SparkSession, roots: Sequence[str]) -> DataFrame:
    rd = spark.read.schema(_POSTINGS_SCHEMA)
    out = rd.parquet(f"{roots[0]}/postings")
    for r in roots[1:]:
        out = out.unionByName(rd.parquet(f"{r}/postings"))
    return out


def _tombstone_roots(roots: Sequence[str]) -> list[str]:
    """Roots carrying a tombstones zone — a directory probe per root
    (the catalog lookup every table format runs before planning); when
    no deletes ever happened the serving plan is byte-identical to
    the pre-deletion one."""
    import os

    return [r for r in roots if os.path.isdir(f"{r}/tombstones")]


def _read_tombstones(
    spark: SparkSession, roots: Sequence[str]
) -> DataFrame:
    """Distinct deleted doc_ids across the roots' tombstone zones —
    the distinct makes repeated deletes idempotent and placement
    irrelevant."""
    rd = spark.read.schema(_TOMBSTONES_SCHEMA)
    out = rd.parquet(f"{roots[0]}/tombstones")
    for r in roots[1:]:
        out = out.unionByName(rd.parquet(f"{r}/tombstones"))
    return out.distinct()


def delete_from_trigram_index(
    spark: SparkSession, roots: Sequence[str], ids: DataFrame
) -> int:
    """Tombstone documents (takedown/retraction without rebuild):
    appends the ids' first column as (doc_id) tombstones under
    ``roots[0]`` — a delete-batch-sized write, never a postings
    rewrite.  Serving anti-joins candidates against the union of all
    roots' tombstones; `compact_trigram_index` later folds them out
    physically.  Returns the batch's id count."""
    roots = _local_roots(roots)
    doc_ids = ids.select(
        F.col(ids.columns[0]).cast("long").alias("doc_id")
    ).distinct()
    n = doc_ids.count()
    doc_ids.write.mode("append").parquet(f"{roots[0]}/tombstones")
    return n


def compact_trigram_index(
    spark: SparkSession, roots: Sequence[str], out_root: str
) -> str:
    """Fold many zone roots into ONE: postings union with tombstoned
    docs anti-joined OUT, stats recomputed from the folded postings'
    distinct docs (plus indexed-but-trigramless docs cannot be
    recovered from postings — their absence only affects the stats
    count, never results, documented).  The output root carries NO
    tombstones zone; out_root must not overlap an input (the
    compact_bm25_index guard)."""
    import os

    if not roots:
        raise ValueError("compact_trigram_index: need at least one root")
    roots, out_root = _local_roots(roots), _as_local_path(out_root)
    out_real = os.path.realpath(out_root)
    for r in roots:
        r_real = os.path.realpath(r)
        if (
            out_real == r_real
            or out_real.startswith(r_real + os.sep)
            or r_real.startswith(out_real + os.sep)
        ):
            raise ValueError(
                f"compact_trigram_index: out_root {out_root!r} overlaps "
                f"input root {r!r} — compact to a fresh location"
            )
    posts = _read_postings(spark, roots)
    t_roots = _tombstone_roots(roots)
    if t_roots:
        posts = posts.join(
            F.broadcast(_read_tombstones(spark, t_roots)),
            "doc_id",
            "left_anti",
        )
    posts = posts.repartition(F.col("tri_bucket"))
    posts.write.partitionBy("tri_bucket").parquet(f"{out_root}/postings")
    (
        spark.read.schema(_POSTINGS_SCHEMA)
        .parquet(f"{out_root}/postings")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .write.parquet(f"{out_root}/stats")
    )
    return out_root


def trigram_candidates(
    spark: SparkSession, roots: Sequence[str], needle: str
) -> DataFrame:
    """doc_ids whose indexed text contains ALL of the needle's
    trigrams — the exact candidate superset.  The postings read is
    partition-pruned to the trigrams' buckets and row-group-pruned by
    the ``tri IN`` predicate; the doc-grouped count is one hash agg
    over |postings(trigrams)| rows.  Roots may be spelled as ``file:``
    URIs (`retrieval._as_local_path`): the tombstone probe is a local
    directory check."""
    roots = _local_roots(roots)
    tris = needle_trigrams(needle)
    if not tris:
        raise ValueError(
            f"trigram: needle {needle!r} is shorter than {MIN_NEEDLE} "
            "chars — no trigram exists, so the index cannot prune; "
            "run an exact scan for micro-needles"
        )
    buckets = sorted(
        {__import__("zlib").crc32(t.encode("utf-8")) % N_TRI_BUCKETS for t in tris}
    )
    posts = _read_postings(spark, roots).where(
        F.col("tri_bucket").isin(buckets) & F.col("tri").isin(tris)
    )
    cands = (
        posts.groupBy("doc_id")
        .agg(F.count_distinct("tri").alias("__k"))
        .where(F.col("__k") == len(tris))
        .select("doc_id")
    )
    t_roots = _tombstone_roots(roots)
    if t_roots:
        # deletion adjustment on the ALREADY-PRUNED candidate set: a
        # broadcast anti-join of the delete-batch-sized tombstones —
        # serving stays |postings(needle)|-bounded with deletes pending
        cands = cands.join(
            F.broadcast(_read_tombstones(spark, t_roots)),
            "doc_id",
            "left_anti",
        )
    return cands


def trigram_serve(
    spark: SparkSession,
    roots: Sequence[str],
    needle: str,
    docs: DataFrame,
) -> DataFrame:
    """doc_ids whose text CONTAINS ``needle`` (case-insensitive) —
    exact, via candidates ∩ verify: the candidate set from the index
    (a superset by construction — false positives are docs with all
    trigrams in the wrong order/positions), then one contains() check
    over the candidate docs only (semi-join of the candidate ids into
    the docs read — AQE promotes the small candidate side to a
    broadcast at runtime, and at 100 TB this is a keyed pruned
    lookup, never a corpus text scan)."""
    cands = trigram_candidates(spark, roots, needle)
    return (
        docs.join(cands, "doc_id", "leftsemi")
        .where(F.instr(_norm("text"), F.lit(needle.lower())) > 0)
        .select("doc_id")
    )
