"""The benchmark workloads.

Both are closed loops with one client: the next operation is issued
when the previous one returns.  A run sets up, then repeats the
workload's *round* — a fixed sequence of operation kinds whose
arguments the seed draws — until ``--seconds`` have passed (always at
least one round).  Fixing the sequence of kinds and drawing only the
arguments keeps the latency mix, and so the medians, the same from seed
to seed.

Every operation is timed on its own; its result is checked afterwards,
outside the timer, and a wrong result counts as a failed operation.

``mef_lifecycle`` (write-heavy, then read)
    The reference lifecycle on seeded MEF raw CSV: bulk load of a full
    year and the next year's first-half extract (``transform`` →
    ``load`` → ``register_views``); the analytics queries Q1-Q7 (Q5 and
    Q6 scan both years, the others one), a filtered read of
    ``vw_gasto_agregado_mensual`` and an ad-hoc SQL read, each building
    its plan from the views; then the next edition
    of the half-year extract, which re-delivers its six months and adds
    the seventh (``transform`` → ``load_frame`` →
    ``materialize_agg_mensual``), and read-backs of the new month and of
    a re-delivered one, which must be unchanged.  It runs
    ``sources.csv_source``, ``operators.normalize``, ``operators.star``
    and ``plans.mef_pipeline`` through both write paths (bulk and
    partition-scoped incremental) and ``plans.views``/``plans.queries``
    through every read; the zone lanes stay idle.

``zone_lifecycle`` (mixed)
    BM25, trigram, IVF-PQ and aggregate-zone indexes built in set-up
    over seeded documents, vectors and orders (``sources.tables`` reads
    them); the round deletes from three lanes, adds an aggregate delta
    zone, compacts two lanes and serves every lane after its writes, the
    aggregate zones before and after their compaction.
    Roots go in both as plain paths and as ``file://`` URIs, since the
    API accepts both; trigram serves through plain paths only, because
    through ``file://`` it serves deleted documents (a known engine
    defect, probed after the rounds and reported beside the result).
    No MEF layer runs.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.operators import (
    aggzone, normalize, retrieval, similarity, trigram,
)
from proyecto_gasto_publico_etl_per__spark.plans import mef_pipeline as M
from proyecto_gasto_publico_etl_per__spark.plans import queries as Q
from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

from . import gen, oracle
from .trace import Tracer

# --- sizes ---------------------------------------------------------------------

#: MEF: the first extract's year and raw rows per full year
MEF_YEAR = 2019
MEF_ROWS_PER_YEAR = 2400
#: zones: base corpus sizes and the aggregate delta batch
N_DOCS = 1000
N_VECS = 500
N_ORDERS = 10000
N_ORDERS_DELTA = 1000
DELETE_BATCH = 8
BM25_K = 10
ANN = dict(k=5, nprobe=8, m=16, n_codes=16, rerank=32)
AGG_SPEC = dict(
    keys=["prio", "anio"], sums=["price"], mins=["price"], maxs=["price"],
    kmvs=["cust"], k=64,
)


@dataclass
class Op:
    """One timed operation of a round."""

    kind: str        # "read" | "write" | "ingest" (the bulk load)
    name: str
    latency_s: float
    ok: bool = True
    error: str = ""


@dataclass
class Result:
    setup_s: float = 0.0
    session_start_s: float = 0.0
    round_walls: list[float] = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    ingest_rows: int = 0
    ingest_s: float = 0.0
    ingest_samples: int = 0
    input_rows: int = 0
    input_bytes: int = 0
    stored_bytes: int = 0
    notes: dict = field(default_factory=dict)


def dir_bytes(*roots: Path) -> int:
    total = 0
    for root in roots:
        for base, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def data_files(roots) -> int:
    """Parquet data files under the roots (the per-read fan-in)."""
    n = 0
    for root in roots:
        for _, _, files in os.walk(str(root).removeprefix("file://")):
            n += sum(1 for f in files if f.endswith(".parquet"))
    return n


class Workload:
    """What both workloads share: timing, checking and the closed loop."""

    name = ""

    def __init__(self, spark, tracer: Tracer, work: Path, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.rng = random.Random(f"{self.name}:{seed}")
        self.result = Result()
        self._op_ids = 0
        self._untimed = 0.0  # checking and oracle upkeep inside a round

    def untimed(self, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self._untimed += time.perf_counter() - t0

    def timed(self, kind: str, name: str, fn, check=None):
        """Run ``fn`` as one operation; ``check(value) -> bool`` runs
        after the timer stops.  Exceptions fail the operation."""
        self._op_ids += 1
        self.tracer.op_id = self._op_ids
        t0 = time.perf_counter()
        try:
            value = fn()
        except Exception as err:  # an operation failure, recorded below
            op = Op(kind, name, time.perf_counter() - t0, False,
                    error=f"{type(err).__name__}: {err}"[:300])
            self.result.ops.append(op)
            self.tracer.op_id = None
            return None
        op = Op(kind, name, time.perf_counter() - t0)
        self.tracer.op_id = None
        self.result.ops.append(op)
        if check is not None:
            try:
                op.ok = bool(self.untimed(check, value))
            except Exception as err:  # the check itself failed: a wrong result
                op.ok, op.error = False, f"check: {type(err).__name__}: {err}"[:300]
            if not op.ok and not op.error:
                op.error = "wrong result"
        return value

    def read(self, layer: str, name: str, build, check):
        """A read: build the DataFrame (plan), then collect (execute)."""
        def run():
            with self.tracer.span(layer, "plan"):
                df = build()
            with self.tracer.span(layer, "exec") as sp:
                rows = df.collect()
                if sp is not None:
                    sp.rows = len(rows)
            return rows
        return self.timed("read", name, run, check)

    def setup(self) -> None:
        raise NotImplementedError

    def round(self, r: int) -> None:
        raise NotImplementedError

    def known_defects(self) -> dict:
        """Probes of engine defects the rounds do not exercise, run
        after them and reported beside the result, not in it."""
        return {}

    def run(self, seconds: float) -> Result:
        t0 = time.perf_counter()
        self.setup()
        self.result.setup_s = time.perf_counter() - t0 + self.result.session_start_s
        start = time.perf_counter()
        self.result.notes["phases"] = {"setup_s": start - t0}
        r = 0
        while True:
            t, self._untimed = time.perf_counter(), 0.0
            self.round(r)
            self.result.round_walls.append(
                time.perf_counter() - t - self._untimed)
            r += 1
            if time.perf_counter() - start >= seconds:
                break
        self.result.notes["phases"]["rounds_s"] = time.perf_counter() - start
        return self.result


# --- mef_lifecycle -------------------------------------------------------------------


class MefLifecycle(Workload):
    name = "mef_lifecycle"

    def setup(self) -> None:
        self.plan = gen.write_mef_inputs(
            self.work / "raw", self.seed, MEF_YEAR, MEF_ROWS_PER_YEAR
        )
        self.result.input_rows = self.plan.rows
        self.result.input_bytes = self.plan.nbytes
        # calls the pipeline makes into lower layers, timed where it
        # looks them up (traced pass only)
        self.tracer.wrap(M, "read_monthly_csv",
                         "sources.csv_source", "call")
        self.tracer.wrap(normalize, "normalize_monthly",
                         "operators.normalize", "call")

    def _pipeline(self, part: str, fn, *args, **kwargs):
        with self.tracer.span("plans.mef_pipeline", part):
            return fn(*args, **kwargs)

    def round(self, r: int) -> None:
        spark = self.spark
        base = self.work / f"round{r}"
        wh, agg = str(base / "warehouse"), str(base / "agg_mensual")
        truth = self.untimed(oracle.MefOracle)

        bulk_files = [str(f.path) for f in self.plan.bulk]
        bulk_rows = sum(f.lines for f in self.plan.bulk)

        def bulk():
            self._pipeline("transform", M.transform, spark, bulk_files,
                           str(base / "normalized"), overwrite=True)
            self._pipeline("load", M.load, spark, str(base / "normalized"), wh)
            self._pipeline("register_views", M.register_views, spark, wh)

        # the bulk load feeds ingest_rows_per_s; write_p50_s covers the
        # monthly append alone
        self.timed("ingest", "bulk_load", bulk)
        self.untimed(truth.load, self.plan.bulk)
        self.result.ingest_rows += bulk_rows
        self.result.ingest_s += self.result.ops[-1].latency_s
        self.result.ingest_samples += 1

        for read in self._reads(truth):
            read()

        edition = self.plan.append
        month_dir = str(base / "normalized_edition")

        def append():
            self._pipeline("transform", M.transform, spark, str(edition.path),
                           month_dir, overwrite=True)
            self._pipeline("load", M.load_frame, spark,
                           spark.read.parquet(month_dir), wh)
            self._pipeline("refresh_agg", M.materialize_agg_mensual, spark,
                           wh, agg, years=[edition.anio])

        self.timed("write", "monthly_append", append)
        self.untimed(truth.load, [edition])

        # read-backs from the refreshed serving table: the new month, and
        # a re-delivered month, which must be unchanged
        again = self.rng.choice(edition.months[:-1])
        for name, mes in (("readback_new_month", edition.months[-1]),
                          ("readback_redelivered", again)):
            self.read(
                "plans.queries", name,
                lambda mes=mes: spark.read.parquet(agg).where(
                    (F.col("anio") == edition.anio) & (F.col("mes") == mes)),
                lambda rows, mes=mes: oracle.same(
                    [_anio_first(r) for r in rows],
                    truth.agg_mensual(edition.anio, mes), ordered=False),
            )
        self.result.stored_bytes = self.untimed(
            dir_bytes, base / "warehouse", base / "agg_mensual")

    def _reads(self, truth: oracle.MefOracle):
        """The round's reads, each building its plan from the registered
        views.  Their order is fixed (the first reads of a run pay JIT
        warm-up), and the seed draws only their arguments."""
        spark, rng = self.spark, self.rng
        years = (MEF_YEAR, MEF_YEAR + 1)
        y = lambda: rng.choice(years)  # noqa: E731
        star = lambda: spark.table("vw_gasto_mensual")  # noqa: E731
        sector = oracle._clean(rng.choice(gen.SECTORES))
        a1, m1 = y(), rng.randint(1, 12)
        a2, k2 = y(), rng.randint(3, 10)
        a3, m3 = y(), rng.randint(1, 12)
        a4, m4, k4 = y(), rng.randint(1, 12), rng.randint(5, 20)
        a7, n7 = y(), rng.randint(3, 10)
        am, mm = y(), rng.randint(1, 12)
        ax = y()
        reads = [
            lambda: self.read("plans.queries", "q1", lambda: Q.q1_ytd_by_sector(star(), a1, m1),
                              lambda rows: oracle.same(rows, truth.q1(a1, m1), True)),
            lambda: self.read("plans.queries", "q2", lambda: Q.q2_top_ejecutoras(star(), a2, k2),
                              lambda rows: oracle.same(rows, truth.q2(a2, k2), True)),
            lambda: self.read("plans.queries", "q3", lambda: Q.q3_share_of_total(star(), a3, m3, sector),
                              lambda rows: oracle.same(rows, truth.q3(a3, m3, sector), True)),
            lambda: self.read("plans.queries", "q4", lambda: Q.q4_backlog(star(), a4, m4, k4),
                              lambda rows: oracle.same(rows, truth.q4(a4, m4, k4), True)),
            lambda: self.read("plans.queries", "q5", lambda: Q.q5_quarterly_evolution(star(), years[0], years[-1]),
                              lambda rows: oracle.same(rows, truth.q5(years[0], years[-1]), True)),
            lambda: self.read("plans.queries", "q6", lambda: Q.q6_rollup_year_sector(star()),
                              lambda rows: oracle.same(rows, truth.q6(), True)),
            lambda: self.read("plans.queries", "q7", lambda: Q.q7_topn_year(star(), a7, n7),
                              lambda rows: oracle.same(rows, truth.q7(a7, n7), True)),
            lambda: self.read("plans.queries", "vw_agregado_mensual",
                              lambda: spark.table("vw_gasto_agregado_mensual").where(f"anio = {am} AND mes = {mm}"),
                              lambda rows: oracle.same(rows, truth.agg_mensual(am, mm), False)),
            lambda: self.read("plans.queries", "adhoc_sql",
                              lambda: spark.sql(
                                  "SELECT mes, SUM(monto_devengado), COUNT(*) FROM vw_gasto_mensual "
                                  f"WHERE anio = {ax} GROUP BY mes ORDER BY mes"),
                              lambda rows: oracle.same(rows, truth.monthly_grain(ax), True)),
        ]
        return reads


def _anio_first(row) -> tuple:
    """A materialized ``vw_gasto_agregado_mensual`` row in view column
    order (the partition column ``anio`` is read back last)."""
    d = row.asDict()
    return (d.pop("anio"), *d.values())


# --- zone_lifecycle ------------------------------------------------------------------


@dataclass
class Lane:
    """One index lane: its live roots and what it serves (documents by
    id, vector ids, or ingested orders)."""

    roots: list[str]
    live: dict | set | list


def spell(root: str, uri: bool) -> str:
    """A root as a plain path or as a ``file://`` URI; the API takes both."""
    return f"file://{root}" if uri else root


class ZoneLifecycle(Workload):
    name = "zone_lifecycle"

    def setup(self) -> None:
        spark, seed = self.spark, self.seed
        self.sf = self.work / "sf"
        self.zones = self.work / "zones"
        self.vocab = gen.vocabulary(seed)
        docs = gen.documents(seed, 0, N_DOCS, self.vocab)
        vecs = gen.embeddings(seed, 0, N_VECS)
        orders = gen.orders(seed, 0, N_ORDERS)
        self.result.input_rows = N_DOCS + N_VECS + N_ORDERS
        self.result.input_bytes = (
            gen.write_parquet(docs, self.sf / "documents.parquet" / "part-0.parquet", "documents")
            + gen.write_parquet(vecs, self.sf / "embeddings.parquet", "embeddings")
            + gen.write_parquet(orders, self.sf / "orders.parquet" / "part-0.parquet", "orders")
        )
        self.text = text = {d["doc_id"]: d["text"] for d in docs}
        docs_df = self._table("documents").select("doc_id", "text")
        self.emb = self._table("embeddings")
        orders_df = self._table("orders")
        z = self.zones
        self.bm25 = Lane([str(z / "bm25" / "r0")], dict(text))
        self.tri = Lane([str(z / "trigram" / "r0")], dict(text))
        self.ann = Lane([str(z / "ann" / "b0")], {v["vec_id"] for v in vecs})
        self.agg = Lane([str(z / "agg" / "r0")], orders)

        builds = [
            ("operators.retrieval", lambda: retrieval.build_bm25_index(
                spark, docs_df, self.bm25.roots[0])),
            ("operators.trigram", lambda: trigram.build_trigram_index(
                spark, docs_df, self.tri.roots[0])),
            ("operators.similarity", lambda: self._ann_build(self.ann.roots[0])),
            ("operators.aggzone", lambda: aggzone.build_agg_zone(
                spark, self._agg_input(orders_df),
                root=self.agg.roots[0], **AGG_SPEC)),
        ]
        t0 = time.perf_counter()
        for layer, build in builds:
            with self.tracer.span(layer, "write"):
                build()
        # the bulk ingest: the base corpus taken to served indexes
        self.result.ingest_rows = N_DOCS + N_VECS + N_ORDERS
        self.result.ingest_s = time.perf_counter() - t0
        self.result.ingest_samples = 1

    def _table(self, name: str):
        with self.tracer.span("sources.tables", "call"):
            return load_table(self.spark, str(self.sf), name)

    @staticmethod
    def _agg_input(orders_df):
        return orders_df.select(
            F.col("o_orderpriority").alias("prio"),
            F.year("o_orderdate").alias("anio"),
            F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5)).cast("long").alias("price"),
            F.col("o_custkey").alias("cust"),
        )

    def _ann_build(self, base: str) -> None:
        cents = similarity.ivf_centroids(self.emb, "vec_id", "embedding", 16)
        self.pairs = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in cents
        ]
        self.codebook = similarity.sampled_codebook(
            self.emb, "vec_id", "embedding", ANN["m"], ANN["n_codes"]
        )
        assigned, codes = similarity.ivf_pq_build_index(
            self.emb, m=ANN["m"], n_codes=ANN["n_codes"],
            codebook=self.codebook, centroids=self.pairs,
        )
        assigned.write.parquet(f"{base}/index_assigned")
        codes.write.parquet(f"{base}/index_codes")

    def _ann_search(self, base: str, qids: list[int]):
        """IVF-PQ search over the persisted zones at ``base``, with its
        pending tombstones."""
        spark = self.spark
        return similarity.ivf_pq_search(
            self.emb, self.emb.filter(F.col("vec_id").isin(qids)),
            codebook=self.codebook, centroids=self.pairs,
            index=(spark.read.parquet(f"{base}/index_assigned"),
                   spark.read.parquet(f"{base}/index_codes")),
            tombstones=similarity.ann_tombstone_ids(spark, base), **ANN,
        )

    # -- operations -----------------------------------------------------------------

    def bm25_read(self, uri: bool) -> None:
        terms = [gen.HOT_TERM, *self.rng.sample(self.vocab[:60], 2)]
        roots = [spell(r, uri) for r in self.bm25.roots]
        live = dict(self.bm25.live)
        self.read("operators.retrieval", "bm25_serve",
                  lambda: retrieval.bm25_serve(self.spark, roots, terms, k=BM25_K),
                  lambda rows: oracle.same(rows, oracle.bm25_topk(live, terms, BM25_K), False))
        self._fanin("operators.retrieval", roots)

    def trigram_read(self, uri: bool) -> None:
        word = self.rng.choice(self.vocab[:80])
        i = self.rng.randrange(max(1, len(word) - 3))
        needle = word[i:i + 4]
        roots = [spell(r, uri) for r in self.tri.roots]
        live = dict(self.tri.live)

        def build():
            docs = self._table("documents")
            return trigram.trigram_serve(self.spark, roots, needle, docs)

        self.read("operators.trigram", "trigram_serve", build,
                  lambda rows: oracle.same(rows, oracle.trigram_hits(live, needle), False))
        self._fanin("operators.trigram", roots)

    def ann_read(self, uri: bool) -> None:
        qids = sorted(self.rng.sample(sorted(self.ann.live), 3))
        base = spell(self.ann.roots[0], uri)
        live = set(self.ann.live)

        def check(rows) -> bool:
            # top-k per query, ranked by score, over live vectors only:
            # a tombstoned vector served is a resurrected delete
            by_q: dict[int, list] = {}
            for row in rows:
                by_q.setdefault(row["query_id"], []).append(row)
            for q in qids:
                got = sorted(by_q.get(q, []), key=lambda x: x["rk"])
                scores = [x["score_q3"] for x in got]
                if (len(got) != ANN["k"]
                        or [x["rk"] for x in got] != list(range(1, ANN["k"] + 1))
                        or scores != sorted(scores, reverse=True)
                        or any(x["neighbor_id"] not in live for x in got)):
                    return False
            return set(by_q) == set(qids)

        self.read("operators.similarity", "ivf_pq_search",
                  lambda: self._ann_search(base, qids), check)
        self._fanin("operators.similarity", [base])

    def agg_read(self, uri: bool) -> None:
        roots = [spell(r, uri) for r in self.agg.roots]
        orders = list(self.agg.live)
        self.read("operators.aggzone", "serve_agg",
                  lambda: aggzone.serve_agg(self.spark, roots),
                  lambda rows: oracle.same(rows, oracle.agg_zone(orders, AGG_SPEC["k"]), False))
        self._fanin("operators.aggzone", roots)

    def _fanin(self, layer: str, roots) -> None:
        if self.tracer.enabled:
            self.result.notes.setdefault("zone_files", {}).setdefault(layer, []).append(
                data_files(roots))

    def _write(self, layer: str, name: str, fn, check=None):
        def run():
            with self.tracer.span(layer, "write"):
                return fn()
        return self.timed("write", name, run, check)

    def trigram_delete(self, uri: bool) -> None:
        ids = self.rng.sample(sorted(self.tri.live), DELETE_BATCH)
        roots = [spell(r, uri) for r in self.tri.roots]
        self._write("operators.trigram", "trigram_delete",
                    lambda: trigram.delete_from_trigram_index(
                        self.spark, roots,
                        self.spark.createDataFrame([(i,) for i in ids], "doc_id LONG")),
                    check=lambda n: n == len(ids))
        for i in ids:
            self.tri.live.pop(i)

    def bm25_delete(self, uri: bool) -> None:
        ids = self.rng.sample(sorted(self.bm25.live), DELETE_BATCH)
        roots = [spell(r, uri) for r in self.bm25.roots]
        self._write("operators.retrieval", "bm25_delete",
                    lambda: retrieval.delete_from_bm25_index(self.spark, roots, ids),
                    check=lambda n: n == len(ids))
        for i in ids:
            self.bm25.live.pop(i)

    def ann_delete(self, uri: bool) -> None:
        ids = self.rng.sample(sorted(self.ann.live), DELETE_BATCH)
        base = spell(self.ann.roots[0], uri)
        self._write("operators.similarity", "ann_delete",
                    lambda: similarity.delete_from_ann_index(self.spark, base, ids),
                    check=lambda n: n == len(ids))
        self.ann.live -= set(ids)

    def ann_compact(self, r: int, uri: bool) -> None:
        out = str(self.zones / "ann" / f"c{r}")
        base = spell(self.ann.roots[0], uri)
        live = sorted(self.ann.live)

        def check(_):
            # compacted == uncompacted: exactly the live vectors remain
            # assigned, and no tombstones zone is left behind
            ids = sorted(r[0] for r in self.spark.read.parquet(
                f"{out}/index_assigned").select("neighbor_id").collect())
            return ids == live and not os.path.exists(f"{out}/tombstones")

        self._write("operators.similarity", "ann_compact",
                    lambda: similarity.compact_ann_index(self.spark, base, out),
                    check=check)
        self.ann.roots = [out]

    def agg_delta(self, r: int, uri: bool) -> None:
        first = N_ORDERS + r * N_ORDERS_DELTA
        delta = gen.orders(self.seed, first, N_ORDERS_DELTA)
        path = self.sf / "orders_delta" / f"r{r}.parquet"
        gen.write_parquet(delta, path, "orders")
        root = str(self.zones / "agg" / f"d{r}")
        spelled = spell(root, uri)
        df = self._agg_input(self.spark.read.parquet(str(path)))
        self._write("operators.aggzone", "agg_delta",
                    lambda: aggzone.build_agg_zone(self.spark, df, root=spelled, **AGG_SPEC))
        self.agg.roots.append(root)
        self.agg.live.extend(delta)
        self.result.input_rows += N_ORDERS_DELTA
        self.result.input_bytes += path.stat().st_size

    def agg_compact(self, r: int, uri: bool) -> None:
        out = str(self.zones / "agg" / f"c{r}")
        roots = [spell(x, uri) for x in self.agg.roots]
        self._write("operators.aggzone", "agg_compact",
                    lambda: aggzone.compact_agg_zones(self.spark, roots, out))
        self.agg.roots = [out]

    def round(self, r: int) -> None:
        # Fixed kinds, order and root spellings (uri=True passes
        # file:// URIs); the seed draws terms, needles, queries and
        # delete batches.  Every lane serves after its delete batch, so
        # each read checks delete == rebuild-on-remaining.  Trigram
        # serves through plain paths only: see known_defects.
        self.bm25_delete(uri=True)
        self.trigram_delete(uri=True)
        self.bm25_read(uri=False)
        self.trigram_read(uri=False)
        self.agg_read(uri=False)
        self.agg_delta(r, uri=False)
        self.agg_read(uri=True)
        self.ann_delete(uri=False)
        self.ann_read(uri=True)
        self.trigram_read(uri=False)
        self.ann_compact(r, uri=False)
        self.agg_compact(r, uri=False)
        self.agg_read(uri=True)
        self.trigram_read(uri=False)
        if r == 0:
            # storage after one round, under the roots the lanes serve
            # from; retired roots and later rounds do not count
            self.result.stored_bytes = self.untimed(dir_bytes, *(
                Path(root) for lane in (self.bm25, self.tri, self.ann, self.agg)
                for root in lane.roots))

    def known_defects(self) -> dict:
        """Serve one trigram needle through ``file://`` roots after the
        delete batches, untimed and outside the verdict.  The trigram
        lane looks for its tombstones zone with ``os.path.isdir``, which
        a ``file://`` root never passes, so deleted documents are served
        again.  The round therefore serves trigram through plain paths
        only; this probe reports what the ``file://`` spelling returns."""
        deleted = sorted(set(self.text) - set(self.tri.live))
        word = max(self.text[deleted[0]].split(), key=len)
        needle = word[:4]
        docs = load_table(self.spark, str(self.sf), "documents")
        roots = [spell(r, True) for r in self.tri.roots]
        served = sorted(r["doc_id"] for r in trigram.trigram_serve(
            self.spark, roots, needle, docs).collect())
        expected = sorted(d for (d,) in oracle.trigram_hits(self.tri.live, needle))
        return {"trigram_serve_file_uri_after_delete": {
            "needle": needle,
            "ok": served == expected,
            "deleted_served": sorted(set(served) - set(expected)),
        }}


WORKLOADS = {w.name: w for w in (MefLifecycle, ZoneLifecycle)}
