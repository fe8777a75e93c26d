"""Per-layer metrics of the traced pass, derived from the spans and the
Spark UI harvest.

Names are ``<module>.<metric>``, after the program's modules.  Times and
counts are means per call of the layer (every call the pass made, set-up
included) unless the name says otherwise; ``spark.*`` and
``session.start_s`` cover the whole run.  A layer the workload never
calls reports 0.

What each should move (workload in brackets):

- ``sources.csv_source`` — ingest_rows_per_s, write_p50_s [mef_lifecycle]
- ``sources.tables`` — read_p50_s [zone_lifecycle]
- ``operators.normalize`` — write_p50_s [mef_lifecycle]; lazy, plan cost only
- ``plans.mef_pipeline`` — ingest_rows_per_s, write_p50_s,
  stored_bytes_per_input_byte [mef_lifecycle]
- ``plans.queries`` — read_p50_s [mef_lifecycle]: plan_s, py4j_calls and
  jobs through plan build; exec_s, scan_bytes, files_read and
  shuffle_bytes through execution (year filters prune partitions)
- ``operators.{retrieval,trigram,similarity,aggzone}`` — serve_* move
  read_p50_s; write_s, bytes_written and zone_files move write_p50_s and
  stored_bytes_per_input_byte [zone_lifecycle]
- ``spark`` — peak_rss_mb and read latency on both workloads
- ``session`` — setup_s on both workloads
"""

from __future__ import annotations

import inspect
import re

from proyecto_gasto_publico_etl_per__spark.plans import mef_pipeline

from .trace import Harvest, Span, subtree_groups

ZONE_LAYERS = (
    "operators.retrieval",
    "operators.trigram",
    "operators.similarity",
    "operators.aggzone",
)

#: (name, unit) of every per-layer metric, in report order
CATALOG: tuple[tuple[str, str], ...] = (
    ("sources.csv_source.call_s", "s"),
    ("sources.csv_source.jobs", "count"),
    ("sources.tables.call_s", "s"),
    ("sources.tables.jobs", "count"),
    ("operators.normalize.call_s", "s"),
    ("plans.mef_pipeline.transform_s", "s"),
    ("plans.mef_pipeline.transform_jobs", "count"),
    ("plans.mef_pipeline.transform_rows_in", "count"),
    ("plans.mef_pipeline.transform_rows_out", "count"),
    ("plans.mef_pipeline.transform_bytes_written", "bytes"),
    ("plans.mef_pipeline.load_s", "s"),
    ("plans.mef_pipeline.load_jobs", "count"),
    ("plans.mef_pipeline.load_stages", "count"),
    ("plans.mef_pipeline.load_shuffle_bytes", "bytes"),
    ("plans.mef_pipeline.load_bytes_written", "bytes"),
    ("plans.mef_pipeline.load_files_written", "count"),
    ("plans.mef_pipeline.load_dim_s", "s"),
    ("plans.mef_pipeline.load_fact_s", "s"),
    ("plans.mef_pipeline.refresh_agg_s", "s"),
    ("plans.mef_pipeline.register_views_s", "s"),
    ("plans.mef_pipeline.register_views_jobs", "count"),
    ("plans.queries.plan_s", "s"),
    ("plans.queries.exec_s", "s"),
    ("plans.queries.py4j_calls", "count"),
    ("plans.queries.jobs", "count"),
    ("plans.queries.files_read", "count"),
    ("plans.queries.scan_bytes", "bytes"),
    ("plans.queries.shuffle_bytes", "bytes"),
    ("plans.queries.rows_scanned_per_row_returned", "ratio"),
    *(
        (f"{layer}.{m}", unit)
        for layer in ZONE_LAYERS
        for m, unit in (
            ("serve_plan_s", "s"),
            ("serve_exec_s", "s"),
            ("serve_py4j_calls", "count"),
            ("serve_jobs", "count"),
            ("rows_scanned_per_row_returned", "ratio"),
            ("write_s", "s"),
            ("bytes_written", "bytes"),
            ("zone_files", "count"),
        )
    ),
    ("spark.gc_s", "s"),
    ("spark.spill_bytes", "bytes"),
    ("spark.task_s", "s"),
    ("spark.tasks", "count"),
    ("session.start_s", "s"),
    ("trace.wall_s", "s"),
)


def _mean(total: float, n: int) -> float:
    return total / n if n else 0.0


def _dim_fact_boundary() -> int:
    """Line of ``load_frame`` from which stages belong to the fact load:
    the FK resolution that follows the dimension upserts."""
    lines, first = inspect.getsourcelines(mef_pipeline.load_frame)
    for i, text in enumerate(lines):
        if "resolve_fks" in text:
            return first + i
    return first


_SITE_RE = re.compile(r"^mef_pipeline\.py:(\d+)$")


class Metrics:
    def __init__(self, spans: list[Span], harvest: Harvest) -> None:
        self.spans = spans
        self.h = harvest
        self.out: dict[str, float] = {}

    def select(self, layer: str, part: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer and s.part == part]

    def stats(self, spans: list[Span], own: bool = False):
        groups: set[str] = set()
        for s in spans:
            groups |= {s.group} if own else subtree_groups(self.spans, s)
        return self.h.stats(groups)

    def timing(self, name: str, spans: list[Span]) -> None:
        self.out[name] = _mean(sum(s.end - s.start for s in spans), len(spans))

    def per_call(self, name: str, total: float, spans: list[Span]) -> None:
        self.out[name] = _mean(total, len(spans))


def derive(spans: list[Span], harvest: Harvest, zone_files: dict,
           start_s: float, wall_s: float) -> dict[str, float]:
    m = Metrics(spans, harvest)
    o = m.out

    for layer in ("sources.csv_source", "sources.tables"):
        calls = m.select(layer, "call")
        m.timing(f"{layer}.call_s", calls)
        m.per_call(f"{layer}.jobs", m.stats(calls).jobs, calls)
    m.timing("operators.normalize.call_s", m.select("operators.normalize", "call"))

    p = "plans.mef_pipeline"
    tr = m.select(p, "transform")
    m.timing(f"{p}.transform_s", tr)
    st = m.stats(tr)
    own = m.stats(tr, own=True)  # the write job; the gate's count job is csv_source's
    m.per_call(f"{p}.transform_jobs", st.jobs, tr)
    m.per_call(f"{p}.transform_rows_in", own.scan_rows_out, tr)
    m.per_call(f"{p}.transform_rows_out", own.written_rows, tr)
    m.per_call(f"{p}.transform_bytes_written", st.output_bytes, tr)

    ld = m.select(p, "load")
    m.timing(f"{p}.load_s", ld)
    st = m.stats(ld)
    m.per_call(f"{p}.load_jobs", st.jobs, ld)
    m.per_call(f"{p}.load_stages", st.stages, ld)
    m.per_call(f"{p}.load_shuffle_bytes", st.shuffle_bytes, ld)
    m.per_call(f"{p}.load_bytes_written", st.output_bytes, ld)
    m.per_call(f"{p}.load_files_written", st.files_written, ld)
    boundary = _dim_fact_boundary()
    dim = fact = 0.0
    for site, secs in st.site_seconds.items():
        hit = _SITE_RE.match(site)
        if hit is None:
            continue
        if int(hit.group(1)) < boundary:
            dim += secs
        else:
            fact += secs
    m.per_call(f"{p}.load_dim_s", dim, ld)
    m.per_call(f"{p}.load_fact_s", fact, ld)
    m.timing(f"{p}.refresh_agg_s", m.select(p, "refresh_agg"))
    rv = m.select(p, "register_views")
    m.timing(f"{p}.register_views_s", rv)
    m.per_call(f"{p}.register_views_jobs", m.stats(rv).jobs, rv)

    def reads(layer: str, prefix: str) -> None:
        plans, execs = m.select(layer, "plan"), m.select(layer, "exec")
        m.timing(f"{layer}.{prefix}plan_s", plans)
        m.timing(f"{layer}.{prefix}exec_s", execs)
        both = plans + execs
        st = m.stats(both)
        m.per_call(f"{layer}.{prefix}py4j_calls",
                   sum(s.py4j_calls for s in both), execs)
        m.per_call(f"{layer}.{prefix}jobs", st.jobs, execs)
        returned = sum(s.rows for s in execs)
        o[f"{layer}.rows_scanned_per_row_returned"] = (
            st.input_records / returned if returned else 0.0
        )
        if layer == "plans.queries":
            m.per_call(f"{layer}.files_read", st.files_read, execs)
            m.per_call(f"{layer}.scan_bytes", st.input_bytes, execs)
            m.per_call(f"{layer}.shuffle_bytes", st.shuffle_bytes, execs)

    reads("plans.queries", "")
    for layer in ZONE_LAYERS:
        reads(layer, "serve_")
        writes = m.select(layer, "write")
        m.timing(f"{layer}.write_s", writes)
        m.per_call(f"{layer}.bytes_written", m.stats(writes).output_bytes, writes)
        files = zone_files.get(layer, [])
        o[f"{layer}.zone_files"] = _mean(sum(files), len(files))

    o.update({f"spark.{k}": v for k, v in harvest.executors().items()})
    o["session.start_s"] = start_s
    o["trace.wall_s"] = wall_s
    return {name: o[name] for name, _ in CATALOG}
