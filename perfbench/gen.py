"""Seeded input generators for the benchmark workloads.

Everything here is pure Python (no Spark): the same seed gives
byte-identical files, and each generator also returns the *truth* the
oracles restate — the parsed, valid records a correct pipeline must
serve.

MEF raw CSV (``mef_lifecycle``)
    Year-to-date extracts as the portal publishes them: a full year, the
    first half of the next, and that extract's next edition, which
    re-delivers its months and adds one.  Files carry the reference
    header names (``schema.raw_name``) minus
    the PROVINCIA/DISTRITO columns, which are absent as in the real
    extracts that lack them.  Some files are UTF-8, some latin-1 (with a
    different column order, so the reader's per-(encoding, header)
    grouping is exercised).  The dirt the pipeline must survive:
    whitespace-padded and zero-padded keys, whitespace-mangled labels,
    junk metric strings, invalid ``ANO_EJE`` values, and malformed lines
    (an extra field) well below the 1% ``read_monthly_csv`` gate.
    Ejecutoras are drawn from a Zipf-like distribution (skew).

Zone corpora (``zone_lifecycle``)
    ``documents`` (doc_id, text, lang, source, n_chars), ``embeddings``
    (vec_id, 64-dim float vector, label) and ``orders`` shaped like the
    TPC-H-derived test data the zone lanes were written against, written
    as parquet so ``sources.tables.load_table`` reads them.
"""

from __future__ import annotations

import csv
import io
import random
from dataclasses import dataclass, field
from pathlib import Path

# --- MEF dimensions ---------------------------------------------------------
#
# Every attribute is a pure function of its dimension's natural key, so
# the loader's keep-first dim upsert can never pick a different label
# than the oracle's direct restatement.

NIVELES = (
    ("E", "GOBIERNO NACIONAL"),
    ("R", "GOBIERNOS REGIONALES"),
    ("M", "GOBIERNOS LOCALES"),
)
SECTORES = (
    "EDUCACIÓN",
    "SALUD",
    "TRANSPORTES Y COMUNICACIONES",
    "ECONOMÍA Y FINANZAS",
    "INTERIOR",
    "AGRICULTURA Y RIEGO",
    "VIVIENDA, CONSTRUCCIÓN Y SANEAMIENTO",
    "PRODUCCIÓN",
    "JUSTICIA",
)
DEPARTAMENTOS = (
    "LIMA", "ÁNCASH", "JUNÍN", "CUSCO", "SAN MARTÍN", "", "PIURA", "APURÍMAC",
)
FUENTES = (
    "RECURSOS ORDINARIOS",
    "RECURSOS DIRECTAMENTE RECAUDADOS",
    "DONACIONES Y TRANSFERENCIAS",
    "RECURSOS DETERMINADOS",
    "OPERACIONES OFICIALES DE CRÉDITO",
)
CATEGORIAS = (("5", "GASTOS CORRIENTES"), ("6", "GASTOS DE CAPITAL"))
GENERICAS = (
    "PERSONAL Y OBLIGACIONES SOCIALES",
    "PENSIONES Y OTRAS PRESTACIONES SOCIALES",
    "BIENES Y SERVICIOS",
    "DONACIONES Y TRANSFERENCIAS",
    "OTROS GASTOS",
    "ADQUISICIÓN DE ACTIVOS NO FINANCIEROS",
)

N_EJECUTORAS = 150
N_PROGRAMATICAS = 12
N_FUNCIONALES = 8
N_METAS = 20
N_FINANCIERAS = len(FUENTES) * len(CATEGORIAS)
N_CLASIFICADORES = 24

#: metric order = schema.METRICS order
METRIC_HEADERS = (
    "MONTO_PIA",
    "MONTO_PIM",
    "MONTO_CERTIFICADO",
    "MONTO_COMPROMETIDO_ANUAL",
    "MONTO_COMPROMETIDO",
    "MONTO_DEVENGADO",
    "MONTO_GIRADO",
)
#: metrics that may carry junk strings (coerced to NULL).  Never the
#: devengado/comprometido columns Q1-Q7 sum without a COALESCE.
JUNK_METRICS = ("MONTO_PIA", "MONTO_CERTIFICADO")
JUNK_STRINGS = ("junk", "N/A", "-", "1.2.3")
BAD_YEARS = ("bad", "0", "")

#: reference header names in file order, PROVINCIA/DISTRITO absent
HEADER = (
    "ANO_EJE", "MES_EJE", "NIVEL_GOBIERNO", "NIVEL_GOBIERNO_NOMBRE",
    "SEC_EJEC", "EJECUTORA", "EJECUTORA_NOMBRE", "SECTOR", "SECTOR_NOMBRE",
    "PLIEGO", "PLIEGO_NOMBRE", "DEPARTAMENTO_EJECUTORA",
    "DEPARTAMENTO_EJECUTORA_NOMBRE",
    "PROGRAMA_PPTO", "TIPO_ACT_PROY", "PRODUCTO_PROYECTO",
    "ACTIVIDAD_ACCION_OBRA", "SEC_FUNC", "PROGRAMA_PPTO_NOMBRE",
    "PRODUCTO_PROYECTO_NOMBRE", "ACTIVIDAD_ACCION_OBRA_NOMBRE",
    "TIPO_ACT_PROY_NOMBRE",
    "FUNCION", "DIVISION_FUNCIONAL", "GRUPO_FUNCIONAL", "FUNCION_NOMBRE",
    "DIVISION_FUNCIONAL_NOMBRE", "GRUPO_FUNCIONAL_NOMBRE",
    "META", "FINALIDAD", "DEPARTAMENTO_META", "FINALIDAD_NOMBRE",
    "META_NOMBRE", "DEPARTAMENTO_META_NOMBRE",
    "FUENTE_FINANCIAMIENTO", "RUBRO", "TIPO_RECURSO", "CATEGORIA_GASTO",
    "FUENTE_FINANCIAMIENTO_NOMBRE", "RUBRO_NOMBRE", "TIPO_RECURSO_NOMBRE",
    "CATEGORIA_GASTO_NOMBRE",
    "TIPO_TRANSACCION", "GENERICA", "SUBGENERICA", "SUBGENERICA_DET",
    "ESPECIFICA", "ESPECIFICA_DET", "GENERICA_NOMBRE", "SUBGENERICA_NOMBRE",
    "SUBGENERICA_DET_NOMBRE", "ESPECIFICA_NOMBRE", "ESPECIFICA_DET_NOMBRE",
    *METRIC_HEADERS,
)


def ejecutora(i: int) -> dict[str, str]:
    sector = i % len(SECTORES)
    pliego = i % 23
    dep = i % len(DEPARTAMENTOS)
    return {
        "SEC_EJEC": f"{i + 1:06d}",
        "EJECUTORA": f"{i % 7 + 1:03d}",
        "EJECUTORA_NOMBRE": f"UNIDAD EJECUTORA {i + 1:03d}",
        "SECTOR": f"{sector + 1:02d}",
        "SECTOR_NOMBRE": SECTORES[sector],
        "PLIEGO": f"{pliego + 1:03d}",
        "PLIEGO_NOMBRE": f"PLIEGO {pliego + 1:03d}",
        "DEPARTAMENTO_EJECUTORA": f"{dep + 1:02d}",
        "DEPARTAMENTO_EJECUTORA_NOMBRE": DEPARTAMENTOS[dep],
    }


def programatica(i: int) -> dict[str, str]:
    return {
        "PROGRAMA_PPTO": f"{9000 + i % 4:04d}",
        "TIPO_ACT_PROY": str(3 - i % 2),
        "PRODUCTO_PROYECTO": f"{3999999 - i:07d}",
        "ACTIVIDAD_ACCION_OBRA": f"{5000000 + i:07d}",
        "SEC_FUNC": f"{i + 1:04d}",
        "PROGRAMA_PPTO_NOMBRE": f"PROGRAMA {9000 + i % 4}",
        "PRODUCTO_PROYECTO_NOMBRE": f"PRODUCTO {i:02d}",
        "ACTIVIDAD_ACCION_OBRA_NOMBRE": f"ACCIÓN {i:02d}",
        "TIPO_ACT_PROY_NOMBRE": "ACTIVIDAD" if i % 2 else "PROYECTO",
    }


def funcional(i: int) -> dict[str, str]:
    return {
        "FUNCION": f"{i % 4 + 1:02d}",
        "DIVISION_FUNCIONAL": f"{i + 1:03d}",
        "GRUPO_FUNCIONAL": f"{i * 3 + 1:04d}",
        "FUNCION_NOMBRE": f"FUNCIÓN {i % 4 + 1}",
        "DIVISION_FUNCIONAL_NOMBRE": f"DIVISIÓN {i + 1}",
        "GRUPO_FUNCIONAL_NOMBRE": f"GRUPO {i * 3 + 1}",
    }


def meta(i: int) -> dict[str, str]:
    dep = i % len(DEPARTAMENTOS)
    return {
        "META": f"{i + 1:05d}",
        "FINALIDAD": f"{i % 5 + 1:07d}",
        "DEPARTAMENTO_META": f"{dep + 1:02d}",
        "FINALIDAD_NOMBRE": f"FINALIDAD {i % 5 + 1}",
        "META_NOMBRE": f"META {i + 1}",
        "DEPARTAMENTO_META_NOMBRE": DEPARTAMENTOS[dep],
    }


def financiera(i: int) -> dict[str, str]:
    f, c = divmod(i, len(CATEGORIAS))
    return {
        "FUENTE_FINANCIAMIENTO": str(f + 1),
        "RUBRO": f"{f * 3 + 1:02d}",
        "TIPO_RECURSO": str(c),
        "CATEGORIA_GASTO": CATEGORIAS[c][0],
        "FUENTE_FINANCIAMIENTO_NOMBRE": FUENTES[f],
        "RUBRO_NOMBRE": f"RUBRO {f * 3 + 1:02d}",
        "TIPO_RECURSO_NOMBRE": f"TIPO {c}",
        "CATEGORIA_GASTO_NOMBRE": CATEGORIAS[c][1],
    }


def clasificador(i: int) -> dict[str, str]:
    g = i % len(GENERICAS)
    return {
        "TIPO_TRANSACCION": "2",
        "GENERICA": str(g + 1),
        "SUBGENERICA": str(i % 3 + 1),
        "SUBGENERICA_DET": str(i % 2 + 1),
        "ESPECIFICA": str(i // 6 + 1),
        "ESPECIFICA_DET": f"{i + 1:02d}",
        "GENERICA_NOMBRE": GENERICAS[g],
        "SUBGENERICA_NOMBRE": f"SUBGENÉRICA {i % 3 + 1}",
        "SUBGENERICA_DET_NOMBRE": f"SUBGENÉRICA DET {i % 2 + 1}",
        "ESPECIFICA_NOMBRE": f"ESPECÍFICA {i + 1:02d}",
        "ESPECIFICA_DET_NOMBRE": f"ESPECÍFICA DET {i + 1:02d}",
    }


@dataclass
class MefRecord:
    """One valid raw line as a correct pipeline must serve it: dimension
    indices plus metric cents (``None`` where the raw string was junk)."""

    anio: int
    mes: int
    nivel: int
    ej: int
    prog: int
    fun: int
    meta: int
    fin: int
    cla: int
    cents: tuple[int | None, ...]


@dataclass
class MefFile:
    path: Path
    anio: int
    months: tuple[int, ...]
    encoding: str
    records: list[MefRecord] = field(default_factory=list)
    lines: int = 0  # data lines written, including dirty ones
    malformed: int = 0
    invalid_year: int = 0
    nbytes: int = 0


def _pad(rng: random.Random, value: str) -> str:
    """Whitespace dirt on a key (trimmed away by key normalization)."""
    r = rng.random()
    if r < 0.15:
        return f"  {value} "
    if r < 0.25:
        return f"{value}\t"
    return value


def _mangle(rng: random.Random, label: str) -> str:
    """Whitespace dirt on a label (collapsed by the transform's cleaning)."""
    if label and rng.random() < 0.2:
        return "  " + label.replace(" ", "   ", 1) + " "
    return label


def _zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


_EJ_WEIGHTS = _zipf_weights(N_EJECUTORAS)


def _row(rng: random.Random, anio: int, mes: int) -> tuple[dict[str, str], MefRecord | None]:
    nivel = rng.randrange(len(NIVELES))
    idx = {
        "ej": rng.choices(range(N_EJECUTORAS), _EJ_WEIGHTS)[0],
        "prog": rng.randrange(N_PROGRAMATICAS),
        "fun": rng.randrange(N_FUNCIONALES),
        "meta": rng.randrange(N_METAS),
        "fin": rng.randrange(N_FINANCIERAS),
        "cla": rng.randrange(N_CLASIFICADORES),
    }
    row = {
        "NIVEL_GOBIERNO": NIVELES[nivel][0],
        "NIVEL_GOBIERNO_NOMBRE": NIVELES[nivel][1],
        **ejecutora(idx["ej"]),
        **programatica(idx["prog"]),
        **funcional(idx["fun"]),
        **meta(idx["meta"]),
        **financiera(idx["fin"]),
        **clasificador(idx["cla"]),
    }
    for k in ("SEC_EJEC", "EJECUTORA", "SEC_FUNC", "META", "GENERICA"):
        row[k] = _pad(rng, row[k])
    for k in ("SECTOR_NOMBRE", "EJECUTORA_NOMBRE", "ESPECIFICA_NOMBRE"):
        row[k] = _mangle(rng, row[k])
    pim = rng.randrange(0, 5_000_000_00)
    cert = pim * rng.randrange(50, 101) // 100
    comp = cert * rng.randrange(50, 101) // 100
    dev = comp * rng.randrange(0, 101) // 100
    gir = dev * rng.randrange(0, 101) // 100
    cents: list[int | None] = [
        pim * rng.randrange(80, 121) // 100,
        pim,
        cert,
        comp + rng.randrange(0, 1000),
        comp,
        dev,
        gir,
    ]
    for i, h in enumerate(METRIC_HEADERS):
        if h in JUNK_METRICS and rng.random() < 0.01:
            row[h] = rng.choice(JUNK_STRINGS)
            cents[i] = None
        else:
            row[h] = f"{cents[i] // 100}.{cents[i] % 100:02d}"
    row["MES_EJE"] = str(mes)
    valid = rng.random() >= 0.005
    row["ANO_EJE"] = str(anio) if valid else rng.choice(BAD_YEARS)
    record = (
        MefRecord(anio, mes, nivel, cents=tuple(cents), **idx)
        if valid
        else None
    )
    return row, record


def _write_lines(w, out: MefFile, header: list[str], rng: random.Random,
                 months: tuple[int, ...], rows: int) -> None:
    for _ in range(rows):
        row, record = _row(rng, out.anio, rng.choice(months))
        line = [row[h] for h in header]
        if rng.random() < 0.003:
            # an extra field: Spark's PERMISSIVE scan flags the line
            # corrupt and read_monthly_csv drops it after counting
            line.append("EXTRA")
            out.malformed += 1
        elif record is None:
            out.invalid_year += 1
        else:
            out.records.append(record)
        w.writerow(line)
        out.lines += 1


def _header(encoding: str) -> list[str]:
    """latin-1 files put the metric columns first, so their header
    differs from the UTF-8 files'."""
    header = list(HEADER)
    return header[-7:] + header[:-7] if encoding == "latin-1" else header


def write_mef_file(
    path: Path,
    seed: int,
    anio: int,
    months: tuple[int, ...],
    rows: int,
    encoding: str,
) -> MefFile:
    """One raw MEF extract: ``rows`` data lines over ``months`` of
    ``anio``."""
    rng = random.Random(f"mef:{seed}:{anio}:{months}")
    header = _header(encoding)
    out = MefFile(path, anio, months, encoding)
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    _write_lines(w, out, header, rng, months, rows)
    data = buf.getvalue().encode(encoding)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)
    out.nbytes = len(data)
    return out


def extend_mef_file(source: MefFile, path: Path, seed: int, month: int,
                    rows: int) -> MefFile:
    """The next edition of a year-to-date extract: ``source`` byte for
    byte (every month it held is delivered again) followed by ``rows``
    lines of ``month``.  Loading it after ``source`` must add exactly
    the new month."""
    rng = random.Random(f"mef:{seed}:{source.anio}:+{month}")
    header = _header(source.encoding)
    out = MefFile(path, source.anio, (*source.months, month), source.encoding,
                  records=list(source.records), lines=source.lines,
                  malformed=source.malformed,
                  invalid_year=source.invalid_year)
    buf = io.StringIO()
    _write_lines(csv.writer(buf, lineterminator="\n"), out, header, rng,
                 (month,), rows)
    data = source.path.read_bytes() + buf.getvalue().encode(source.encoding)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)
    out.nbytes = len(data)
    return out


@dataclass
class MefPlan:
    """The extracts of one MEF run: a full year and the first half of
    the next (bulk load), then the next edition of the second extract,
    which re-delivers its six months and adds the seventh (append)."""

    bulk: list[MefFile]
    append: MefFile

    @property
    def files(self) -> list[MefFile]:
        return [*self.bulk, self.append]

    @property
    def rows(self) -> int:
        return sum(f.lines for f in self.files)

    @property
    def nbytes(self) -> int:
        return sum(f.nbytes for f in self.files)


def write_mef_inputs(root: Path, seed: int, year: int, rows_per_year: int) -> MefPlan:
    """``year`` in full (UTF-8), ``year + 1`` months 1-6 (latin-1), and
    the months 1-7 edition of the latter."""
    full = write_mef_file(root / f"{year}-Gasto-Mensual.csv", seed, year,
                          tuple(range(1, 13)), rows_per_year, "utf-8")
    half = write_mef_file(root / f"{year + 1}-Gasto-Mensual.csv", seed,
                          year + 1, tuple(range(1, 7)), rows_per_year // 2,
                          "latin-1")
    nxt = extend_mef_file(half, root / "edition2" / f"{year + 1}-Gasto-Mensual.csv",
                          seed, 7, rows_per_year // 12)
    return MefPlan([full, half], nxt)


# --- zone corpora -------------------------------------------------------------

_SYLLABLES = (
    "ga", "sto", "pre", "su", "pu", "es", "to", "eje", "cu", "cion", "mu",
    "ni", "ci", "pal", "re", "gio", "nal", "obra", "via", "li", "ma", "sa",
    "lud", "edu", "ca", "ter", "ri", "to", "rio", "fon", "do",
)
#: appears in ~85% of documents: the hot term a stopword guard would cut
HOT_TERM = "gasto"
EMB_DIM = 64
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def vocabulary(seed: int, n: int = 400) -> list[str]:
    rng = random.Random(f"vocab:{seed}")
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w != HOT_TERM:
            words.add(w)
    return sorted(words)


def documents(seed: int, first_id: int, n: int, vocab: list[str]) -> list[dict]:
    """``n`` documents with ids from ``first_id``; Zipf token mix."""
    rng = random.Random(f"docs:{seed}:{first_id}")
    weights = _zipf_weights(len(vocab), 1.0)
    out = []
    for d in range(first_id, first_id + n):
        toks = rng.choices(vocab, weights, k=rng.randint(8, 40))
        if rng.random() < 0.85:
            toks.insert(rng.randrange(len(toks) + 1), HOT_TERM)
        text = " ".join(toks)
        out.append({
            "doc_id": d,
            "text": text,
            "lang": rng.choice(("es", "en", "qu")),
            "source": f"src{d % 5}",
            "n_chars": len(text),
        })
    return out


def embeddings(seed: int, first_id: int, n: int) -> list[dict]:
    """``n`` unit-ish 64-dim vectors around 16 seeded cluster centres."""
    rng = random.Random(f"emb:{seed}")
    centres = [[rng.gauss(0, 1) for _ in range(EMB_DIM)] for _ in range(16)]
    rng = random.Random(f"emb:{seed}:{first_id}")
    out = []
    for v in range(first_id, first_id + n):
        label = rng.randrange(16)
        vec = [c + rng.gauss(0, 0.6) for c in centres[label]]
        norm = sum(x * x for x in vec) ** 0.5
        out.append({
            "vec_id": v,
            "embedding": [x / norm for x in vec],
            "label": label,
        })
    return out


def orders(seed: int, first_key: int, n: int) -> list[dict]:
    """``n`` orders with keys from ``first_key``; skewed customers."""
    import datetime as dt

    rng = random.Random(f"orders:{seed}:{first_key}")
    start = dt.datetime(1992, 1, 1)
    out = []
    for k in range(first_key, first_key + n):
        out.append({
            "o_orderkey": k,
            "o_custkey": int(rng.paretovariate(1.2) * 50) % 20000,
            "o_orderstatus": rng.choice("OFP"),
            "o_totalprice": rng.randrange(100_00, 50_000_000) / 100,
            "o_orderdate": start + dt.timedelta(days=rng.randrange(2400)),
            "o_orderpriority": rng.choice(PRIORITIES),
        })
    return out


def write_parquet(rows: list[dict], path: Path, kind: str) -> int:
    """Write ``rows`` as one parquet file; returns its size in bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schemas = {
        "documents": pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()),
            ("lang", pa.string()), ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]),
        "embeddings": pa.schema([
            ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]),
        "orders": pa.schema([
            ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]),
    }
    table = pa.Table.from_pylist(rows, schema=schemas[kind])
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)
    return path.stat().st_size

