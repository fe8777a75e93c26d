"""Output checker: independent restatements of what each benchmark
operation must return, and the comparison that turns a wrong result
into a failed operation.

MEF reads are restated in DuckDB over the generator's truth records
(the ``_E2E_ORACLE`` pattern of ``plans/pipeline_e2e.py``: the fixture's
dirt is resolved on the generator side, the SQL restates the views and
queries).  Zone reads are restated in Python over the documents, orders
and vectors the workload has live: BM25 scores are recomputed from the
live documents (delete == rebuild-on-remaining, compacted ==
uncompacted), trigram hits by substring test, aggregate zones from the
orders ingested so far.  ANN serving is checked for its structure
only: k neighbours per query, ranked 1..k with non-increasing scores,
and no tombstoned vector among them (see ``ZoneLifecycle.ann_read``).
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict
from collections.abc import Iterable, Sequence
from decimal import Decimal

from . import gen

# --- comparison ---------------------------------------------------------------


def _norm_value(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return round(v, 6)
    return v


def normalize(rows: Iterable[Sequence]) -> list[tuple]:
    return [tuple(_norm_value(v) for v in r) for r in rows]


def same(actual: Iterable[Sequence], expected: Iterable[Sequence], ordered: bool) -> bool:
    """Row-for-row equality after value normalization (money as 6-place
    rounded doubles; Decimal sums converted).  Unordered results compare
    as sorted multisets."""
    a, e = normalize(actual), normalize(expected)
    if not ordered:
        a, e = sorted(a, key=repr), sorted(e, key=repr)
    return a == e


# --- MEF --------------------------------------------------------------------------


def _clean(label: str) -> str:
    """The transform's text cleaning: whitespace runs → one space, trim."""
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", label).strip(" ")


_TRUTH_COLS = (
    "anio INTEGER, mes INTEGER, trimestre INTEGER, nivel_code VARCHAR, "
    "nivel_gobierno_nombre VARCHAR, ej INTEGER, ejecutora_nombre VARCHAR, "
    "sector_nombre VARCHAR, pliego_nombre VARCHAR, "
    "dep_ejecutora_nombre VARCHAR, prog INTEGER, fun INTEGER, meta INTEGER, "
    "fin INTEGER, fuente_financiamiento_nombre VARCHAR, "
    "categoria_gasto_nombre VARCHAR, cla INTEGER, generica_nombre VARCHAR, "
    "especifica_nombre VARCHAR, pia BIGINT, pim BIGINT, cert BIGINT, "
    "compa BIGINT, comp BIGINT, dev BIGINT, gir BIGINT"
)


def _truth_row(r: gen.MefRecord) -> tuple:
    ej = gen.ejecutora(r.ej)
    fin = gen.financiera(r.fin)
    cla = gen.clasificador(r.cla)
    return (
        r.anio, r.mes, (r.mes - 1) // 3 + 1,
        gen.NIVELES[r.nivel][0], gen.NIVELES[r.nivel][1],
        r.ej, _clean(ej["EJECUTORA_NOMBRE"]), _clean(ej["SECTOR_NOMBRE"]),
        _clean(ej["PLIEGO_NOMBRE"]),
        _clean(ej["DEPARTAMENTO_EJECUTORA_NOMBRE"]),
        r.prog, r.fun, r.meta, r.fin,
        fin["FUENTE_FINANCIAMIENTO_NOMBRE"], fin["CATEGORIA_GASTO_NOMBRE"],
        r.cla, cla["GENERICA_NOMBRE"], _clean(cla["ESPECIFICA_NOMBRE"]),
        *r.cents,
    )


def _money(col: str) -> str:
    """A served money total: exact cents presented as a double."""
    return f"CAST(SUM({col}) AS DOUBLE) / 100.0"


class MefOracle:
    """DuckDB restatement of the served warehouse: the truth records of
    every (year, month) the warehouse has taken, each month once — a
    re-delivered month adds nothing (the fact's ON CONFLICT DO NOTHING
    property)."""

    def __init__(self) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE rows ({_TRUTH_COLS})")
        self.columns = [c.split()[0] for c in _TRUTH_COLS.split(", ")]
        self.months: set[tuple[int, int]] = set()

    def load(self, files: Sequence[gen.MefFile]) -> None:
        fresh = []
        for f in files:
            for m in f.months:
                if (f.anio, m) in self.months:
                    continue
                fresh.extend(_truth_row(r) for r in f.records if r.mes == m)
        for f in files:
            self.months.update((f.anio, m) for m in f.months)
        if fresh:
            import pyarrow as pa

            batch = pa.Table.from_arrays(
                [pa.array(col) for col in zip(*fresh)], names=self.columns
            )
            self.con.register("batch", batch)
            self.con.execute("INSERT INTO rows SELECT * FROM batch")
            self.con.unregister("batch")

    def query(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    # the served reads, restated ------------------------------------------------

    def q1(self, anio: int, mes_corte: int) -> list[tuple]:
        return self.query(f"""
            SELECT sector_nombre, {_money('dev')} AS v FROM rows
            WHERE anio = {anio} AND mes BETWEEN 1 AND {mes_corte}
            GROUP BY 1 ORDER BY v DESC, 1""")

    def q2(self, anio: int, k: int) -> list[tuple]:
        return self.query(f"""
            SELECT ejecutora_nombre, {_money('dev')} AS v FROM rows
            WHERE anio = {anio} GROUP BY 1 ORDER BY v DESC, 1 LIMIT {k}""")

    def q3(self, anio: int, mes_corte: int, sector: str) -> list[tuple]:
        return self.query(f"""
            WITH y AS (
              SELECT ejecutora_nombre, SUM(dev) * 100 AS mic FROM rows
              WHERE anio = {anio} AND mes BETWEEN 1 AND {mes_corte}
                AND sector_nombre = '{sector}'
              GROUP BY 1)
            SELECT ejecutora_nombre, CAST(mic AS DOUBLE) / 10000.0 AS d,
                   CASE WHEN SUM(mic) OVER () > 0
                        THEN (CAST(mic AS DOUBLE) / 10000.0)
                             / (CAST(SUM(mic) OVER () AS DOUBLE) / 10000.0)
                        ELSE 0.0 END
            FROM y ORDER BY d DESC, 1""")

    def q4(self, anio: int, mes_corte: int, k: int) -> list[tuple]:
        return self.query(f"""
            WITH b AS (
              SELECT especifica_nombre, {_money('comp')} AS c,
                     {_money('dev')} AS d FROM rows
              WHERE anio = {anio} AND mes BETWEEN 1 AND {mes_corte}
              GROUP BY 1)
            SELECT especifica_nombre, c, d, c - d AS backlog FROM b
            WHERE c - d > 0 ORDER BY backlog DESC, 1 LIMIT {k}""")

    def q5(self, anio_ini: int, anio_fin: int) -> list[tuple]:
        return self.query(f"""
            SELECT anio, trimestre, nivel_gobierno_nombre, {_money('dev')}
            FROM rows WHERE anio BETWEEN {anio_ini} AND {anio_fin}
            GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")

    def q6(self) -> list[tuple]:
        return self.query(f"""
            SELECT anio, sector_nombre, {_money('dev')} AS v FROM rows
            GROUP BY 1, 2 ORDER BY 1, v DESC, 2""")

    def q7(self, anio: int, n: int) -> list[tuple]:
        return self.query(f"""
            SELECT sector_nombre, ejecutora_nombre, {_money('dev')} AS v
            FROM rows WHERE anio = {anio}
            GROUP BY 1, 2 ORDER BY v DESC, 2, 1 LIMIT {n}""")

    def agg_mensual(self, anio: int, mes: int) -> list[tuple]:
        """``vw_gasto_agregado_mensual`` for one month (unordered)."""
        dep = "COALESCE(NULLIF(dep_ejecutora_nombre, ''), 'SIN DEPARTAMENTO')"
        return self.query(f"""
            SELECT anio, mes, trimestre, ejecutora_nombre, sector_nombre,
                   pliego_nombre, {dep}, 'SIN PROVINCIA', 'SIN DISTRITO',
                   'Departamento de ' || {dep} || ', Perú',
                   fuente_financiamiento_nombre, categoria_gasto_nombre,
                   generica_nombre, especifica_nombre,
                   {_money('COALESCE(pia, 0)')}, {_money('pim')},
                   {_money('COALESCE(cert, 0)')}, {_money('compa')},
                   {_money('comp')}, {_money('dev')}, {_money('gir')}
            FROM rows WHERE anio = {anio} AND mes = {mes}
            GROUP BY 1,2,3,4,5,6,7,8,9,10,11,12,13,14""")

    def monthly_grain(self, anio: int) -> list[tuple]:
        """The ad-hoc SQL read: per month, the exact devengado total and
        the number of fact rows (distinct grain keys)."""
        return self.query(f"""
            SELECT mes, CAST(SUM(dev) AS DOUBLE) / 100.0,
                   COUNT(DISTINCT (nivel_code, ej, prog, fun, meta, fin, cla))
            FROM rows WHERE anio = {anio} GROUP BY 1 ORDER BY 1""")


# --- zones --------------------------------------------------------------------------


def tokens(text: str) -> list[str]:
    """``dedup._tokens``: lowercase, whitespace-collapsed, split on ' '."""
    cleaned = _clean(text).lower()
    return cleaned.split(" ") if cleaned else []


def bm25_topk(docs: dict[int, str], terms: Sequence[str], k: int) -> list[tuple]:
    """``retrieval.bm25_serve`` restated over the live documents:
    exact-rational BM25 (k1=6/5, b=3/4, log-free idf) quantized to the
    1e-9 grid per term, summed per document, top-k by (score desc,
    doc_id)."""
    terms = list(dict.fromkeys(terms))
    tf: dict[int, dict[str, int]] = {}
    dl: dict[int, int] = {}
    for d, text in docs.items():
        toks = tokens(text)
        if not toks:
            continue
        dl[d] = len(toks)
        counts: dict[str, int] = defaultdict(int)
        for t in toks:
            counts[t] += 1
        tf[d] = counts
    n, s = len(dl), sum(dl.values())
    df = {t: sum(1 for c in tf.values() if t in c) for t in terms}
    scores: dict[int, int] = defaultdict(int)
    hit: set[int] = set()
    for d, counts in tf.items():
        for t in terms:
            c = counts.get(t)
            if not c:
                continue
            num = (2 * (n - df[t]) + 1) * 22 * c * s
            den = (2 * df[t] + 1) * (10 * s * c + 3 * s + 9 * dl[d] * n)
            scores[d] += math.floor(float(num) / float(den) * 1000000000 + 0.5)
            hit.add(d)
    ranked = sorted(hit, key=lambda d: (-scores[d], d))[:k]
    return [(d, scores[d], i + 1) for i, d in enumerate(ranked)]


def trigram_hits(docs: dict[int, str], needle: str) -> list[tuple]:
    """``trigram.trigram_serve`` restated: live docs whose lowercased
    text contains the lowercased needle."""
    n = needle.lower()
    return [(d,) for d, text in docs.items() if n in text.lower()]


def _kmv_hash(value) -> int:
    return int(hashlib.md5(f"k|{value}".encode()).hexdigest()[:8], 16)


def agg_zone(orders: Iterable[dict], k: int) -> list[tuple]:
    """``aggzone.serve_agg`` over the (prio, anio) zone spec restated:
    cnt, exact sum/min/max of the micros price, KMV distinct-customer
    estimate (exact below k)."""
    groups: dict[tuple, list] = {}
    for o in orders:
        key = (o["o_orderpriority"], o["o_orderdate"].year)
        price = math.floor(o["o_totalprice"] * 10000 + 0.5)
        g = groups.setdefault(key, [0, 0, None, None, set()])
        g[0] += 1
        g[1] += price
        g[2] = price if g[2] is None else min(g[2], price)
        g[3] = price if g[3] is None else max(g[3], price)
        g[4].add(_kmv_hash(o["o_custkey"]))
    out = []
    for (prio, anio), (cnt, total, lo, hi, hashes) in groups.items():
        smallest = sorted(hashes)[:k]
        est = (
            len(smallest)
            if len(smallest) < k
            else (k - 1) * (1 << 32) // max(smallest[k - 1], 1)
        )
        out.append((prio, anio, cnt, total, lo, hi, est))
    return out
