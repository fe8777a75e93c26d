"""Trigram substring index (operators/trigram.py): exactness vs the
corpus-scan truth, the candidate-superset invariant, zone
associativity, and the pruning contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.operators import trigram

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    root = trigram.build_trigram_index(spark, docs)
    return docs, root


def _exact(docs, needle):
    return sorted(
        r.doc_id
        for r in docs.where(
            F.instr(
                F.lower(F.coalesce("text", F.lit(""))), needle.lower()
            )
            > 0
        ).collect()
    )


def _served(spark, roots, needle, docs):
    return sorted(
        r.doc_id
        for r in trigram.trigram_serve(spark, roots, needle, docs).collect()
    )


def test_serve_equals_exact_scan(spark, corpus):
    docs, root = corpus
    for needle in ("window sc", "merge part", "spark", "the fast key"):
        got = _served(spark, [root], needle, docs)
        want = _exact(docs, needle)
        assert got == want and got, needle


def test_case_insensitive_and_absent(spark, corpus):
    docs, root = corpus
    assert _served(spark, [root], "WINDOW SC", docs) == _exact(
        docs, "window sc"
    )
    assert _served(spark, [root], "zzqxv", docs) == []


def test_candidates_superset(spark, corpus):
    """The index's candidate set contains every true match — the
    invariant that makes verify-over-candidates exact."""
    docs, root = corpus
    needle = "window sc"
    cands = {
        r.doc_id
        for r in trigram.trigram_candidates(spark, [root], needle).collect()
    }
    assert set(_exact(docs, needle)) <= cands


def test_sampled_real_substrings_always_found(spark, corpus):
    """Substrings cut from real documents must come back with their
    source doc — randomized positives across lengths 3..12."""
    import random

    docs, root = corpus
    rng = random.Random(7)
    rows = docs.orderBy("doc_id").limit(20).collect()
    for r in rows[:8]:
        t = (r.text or "").lower()
        if len(t) < 12:
            continue
        start = rng.randrange(0, len(t) - 12)
        needle = t[start : start + rng.randrange(3, 13)]
        assert r.doc_id in _served(spark, [root], needle, docs), needle


def test_append_equals_rebuild(spark, corpus):
    docs, _ = corpus
    r1 = trigram.build_trigram_index(
        spark, docs.where(F.col("doc_id") % 2 == 0)
    )
    r2 = trigram.build_trigram_index(
        spark, docs.where(F.col("doc_id") % 2 == 1)
    )
    assert _served(spark, [r1, r2], "window sc", docs) == _exact(
        docs, "window sc"
    )


def test_short_needle_refused(spark, corpus):
    docs, root = corpus
    with pytest.raises(ValueError, match="shorter than"):
        trigram.trigram_serve(spark, [root], "ab", docs)


def test_empty_and_null_text_tolerated(spark):
    docs = spark.createDataFrame(
        [(1, "window scan here"), (2, ""), (3, None)],
        "doc_id LONG, text STRING",
    )
    root = trigram.build_trigram_index(spark, docs)
    assert _served(spark, [root], "window sc", docs) == [1]


def test_postings_read_is_partition_pruned(spark, corpus):
    """The candidate plan's postings scan carries a tri_bucket
    partition filter and a pushed tri IN predicate — the index seek,
    not a zone scan (the bm25_serving contract applied here)."""
    _, root = corpus
    plan = (
        trigram.trigram_candidates(spark, [root], "window sc")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "tri_bucket" in seg
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "In(tri" in pushed


def test_streamed_epochs_equal_batch(spark, tmp_path):
    """trigram_index_ingest epochs served together == one batch index
    — the substring lane's streamed==batch identity."""
    from proyecto_gasto_publico_etl_per__spark.streaming.incremental import (
        trigram_index_ingest,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    ).limit(120)
    src = tmp_path / "src"
    src.mkdir()
    parts = docs.randomSplit([1.0, 1.0, 1.0], seed=3)
    for i, p in enumerate(parts):
        p.coalesce(1).write.parquet(str(src / f"b{i}"))

    zones = str(tmp_path / "zones")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = trigram_index_ingest(stream, zones, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    import glob

    roots = sorted(glob.glob(f"{zones}/epoch=*"))
    assert len(roots) >= 2
    batch_docs = spark.read.parquet(*[str(src / f"b{i}") for i in range(3)])
    whole = trigram.build_trigram_index(spark, batch_docs)
    assert _served(spark, roots, "window sc", batch_docs) == _served(
        spark, [whole], "window sc", batch_docs
    )


def test_cli_substring_lifecycle(spark, tmp_path, capsys):
    """substring-index-build → substring-search → append → search
    (== full rebuild) — the user-facing lifecycle."""
    from proyecto_gasto_publico_etl_per__spark import cli

    schema = "doc_id LONG, text STRING"
    b1 = [(1, "the window scan runs"), (2, "hash merge only")]
    b2 = [(3, "another window scatter"), (4, "plain text")]
    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    dall = str(tmp_path / "dall")
    spark.createDataFrame(b1, schema).write.parquet(d1)
    spark.createDataFrame(b2, schema).write.parquet(d2)
    spark.createDataFrame(b1 + b2, schema).write.parquet(dall)
    idx = str(tmp_path / "idx")

    cli.main(["substring-index-build", d1, idx])
    assert "trigram-indexed 2 documents" in capsys.readouterr().out
    cli.main(["substring-search", idx, dall, "window sc"])
    out1 = capsys.readouterr().out
    assert "[1]" in out1

    cli.main(["substring-index-append", d2, idx])
    capsys.readouterr()
    cli.main(["substring-search", idx, dall, "window sc"])
    out2 = capsys.readouterr().out
    assert "1" in out2 and "3" in out2

    with pytest.raises(SystemExit, match="shorter than"):
        cli.main(["substring-search", idx, dall, "ab"])
    with pytest.raises(SystemExit, match="existing zone roots"):
        cli.main(["substring-index-build", d1, idx])


def test_delete_equals_rebuild_on_remaining(spark, corpus):
    """Tombstoned serving == an index rebuilt over the remaining docs
    (delete == rebuild-on-remaining), re-delete is idempotent, and
    compaction folds the tombstones out physically."""
    import os
    import tempfile

    docs, _ = corpus
    root = trigram.build_trigram_index(spark, docs)
    victims = docs.select("doc_id").where(F.col("doc_id") % 10 == 3)
    n = trigram.delete_from_trigram_index(spark, [root], victims)
    assert n == victims.count()

    remaining = docs.where(F.col("doc_id") % 10 != 3)
    want = _served(
        spark,
        [trigram.build_trigram_index(spark, remaining)],
        "window sc",
        docs,
    )
    got = _served(spark, [root], "window sc", docs)
    assert got == want and got

    # idempotent re-delete
    trigram.delete_from_trigram_index(spark, [root], victims)
    assert _served(spark, [root], "window sc", docs) == want

    # compaction: folded root serves identically with NO tombstones
    out = tempfile.mkdtemp(prefix="tri_fold_") + "/zones"
    folded = trigram.compact_trigram_index(spark, [root], out)
    assert not os.path.isdir(f"{folded}/tombstones")
    assert _served(spark, [folded], "window sc", docs) == want


def test_file_uri_roots_honour_tombstones(spark, tmp_path):
    """A root spelled ``file://`` must see the tombstones a plain-path
    delete wrote: the deleted doc stays deleted, as in the BM25 and ANN
    lanes (`retrieval._as_local_path`), and other schemes fail loudly."""
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "hello there")], "doc_id LONG, text STRING"
    )
    root = trigram.build_trigram_index(spark, docs, str(tmp_path / "zones"))
    trigram.delete_from_trigram_index(
        spark, [root], spark.createDataFrame([(1,)], "id LONG")
    )
    assert _served(spark, [root], "hello", docs) == [2]
    assert _served(spark, ["file://" + root], "hello", docs) == [2]
    with pytest.raises(ValueError, match="scheme"):
        trigram.trigram_serve(spark, ["hdfs://nn" + root], "hello", docs)


def test_compact_overlap_refused(spark, corpus):
    docs, _ = corpus
    root = trigram.build_trigram_index(spark, docs.limit(10))
    with pytest.raises(ValueError, match="overlaps"):
        trigram.compact_trigram_index(spark, [root], root)


def test_epoch_rebuild_clears_stale_tombstones(spark, tmp_path):
    """An epoch-root rebuild must clear a surviving tombstones zone —
    the previous index's deletions must not suppress the NEW corpus's
    matching doc_ids (the r14 stale-zone rule)."""
    docs = spark.createDataFrame(
        [(1, "window scan a"), (2, "window scan b")],
        "doc_id LONG, text STRING",
    )
    root = str(tmp_path / "epoch=0")
    trigram.build_trigram_index(spark, docs, root=root)
    trigram.delete_from_trigram_index(
        spark, [root], spark.createDataFrame([(1,)], "doc_id LONG")
    )
    assert _served(spark, [root], "window sc", docs) == [2]
    # replayed epoch: same root rebuilt — deletions must vanish
    trigram.build_trigram_index(spark, docs, root=root)
    assert _served(spark, [root], "window sc", docs) == [1, 2]


def test_cli_substring_delete(spark, tmp_path, capsys):
    from proyecto_gasto_publico_etl_per__spark import cli

    schema = "doc_id LONG, text STRING"
    rows = [(1, "window scan a"), (2, "window scan b"), (3, "plain")]
    d = str(tmp_path / "d")
    spark.createDataFrame(rows, schema).write.parquet(d)
    idx = str(tmp_path / "idx")
    cli.main(["substring-index-build", d, idx])
    capsys.readouterr()
    cli.main(["substring-index-delete", idx, "1"])
    assert "tombstoned 1 documents" in capsys.readouterr().out
    cli.main(["substring-search", idx, d, "window sc"])
    out = capsys.readouterr().out
    assert "[2]" in out
