"""Tracing for the benchmark's traced pass, recorded from outside the
program: spans around every layer call, a Spark job group per span, a
Py4J round-trip counter, and a harvest of Spark's own job/stage/SQL
metrics from the local UI REST API.

Nothing here touches the program's files.  Calls the program makes to
its own layers (``mef_pipeline.transform`` calling ``read_monthly_csv``,
for instance) are timed by wrapping the public function where the
caller looks it up, only for the duration of the traced pass.

Spans are kept in memory and written out when the run ends.  With
tracing off, `Tracer.span` only yields; the untraced pass pays nothing
else.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"
_SITE_SHORT = "callSite.short"
_SITE_LONG = "callSite.long"


@dataclass
class Span:
    id: int
    name: str          # "<layer>.<part>", e.g. "operators.trigram.exec"
    layer: str
    part: str
    op_id: int | None  # the benchmark operation the span belongs to
    parent: int | None
    start: float
    end: float = 0.0
    py4j_calls: int = 0
    rows: int = 0      # rows returned to the caller, for reads
    children: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"pb-{self.id}"


class Py4JCounter:
    """Counts Py4J round trips by wrapping the gateway client's
    ``send_command``.  While counting, a command issued from inside
    ``plans/mef_pipeline.py`` first sets Spark's call-site local
    property to that file's line, so stages can be grouped by the
    pipeline line that launched them."""

    SITE_FILE = "plans/mef_pipeline.py"

    def __init__(self, client) -> None:
        self.client = client
        self.calls = 0
        self._orig = client.send_command
        self._site: str | None = None
        self._busy = False

    def _mef_line(self) -> int | None:
        f = sys._getframe(2)
        while f is not None:
            if f.f_code.co_filename.endswith(self.SITE_FILE):
                return f.f_lineno
            f = f.f_back
        return None

    @contextmanager
    def paused(self):
        """Issue the enclosed commands uncounted (the tracer's own)."""
        self._busy = True
        try:
            yield
        finally:
            self._busy = False

    def install(self, jsc) -> None:
        orig = self._orig

        def send(command, *args, **kwargs):
            if self._busy:
                return orig(command, *args, **kwargs)
            self.calls += 1
            line = self._mef_line()
            site = None if line is None else f"mef_pipeline.py:{line}"
            if site != self._site:
                with self.paused():
                    jsc.setLocalProperty(_SITE_SHORT, site)
                    jsc.setLocalProperty(_SITE_LONG, site)
                self._site = site
            return orig(command, *args, **kwargs)

        self.client.send_command = send

    def uninstall(self) -> None:
        self.client.send_command = self._orig


class Tracer:
    """Span recorder.  ``enabled=False`` makes every method a no-op."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.op_id: int | None = None
        self.counter: Py4JCounter | None = None
        self._patches: list[tuple[object, str, object]] = []
        if enabled:
            sc = spark.sparkContext
            self._jsc = sc._jsc
            self.counter = Py4JCounter(sc._gateway._gateway_client)
            self.counter.install(self._jsc)

    # -- spans ---------------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        jsc = self._jsc
        with self.counter.paused():
            if span is None:
                jsc.setLocalProperty(_GROUP, None)
                jsc.setLocalProperty(_DESC, None)
            else:
                jsc.setLocalProperty(_GROUP, span.group)
                jsc.setLocalProperty(_DESC, f"{span.name} op={span.op_id}")

    @contextmanager
    def span(self, layer: str, part: str):
        """Record one layer call.  The yielded span (None when tracing
        is off) takes ``rows`` for reads."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            next(self._ids), f"{layer}.{part}", layer, part, self.op_id,
            parent.id if parent else None, 0.0,
        )
        if parent:
            parent.children.append(sp.id)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        calls0 = self.counter.calls
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.py4j_calls = self.counter.calls - calls0
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, owner: object, attr: str, layer: str, part: str) -> None:
        """Time every call of ``owner.attr`` as a ``layer.part`` span
        until `close`; a no-op when tracing is off."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(layer, part):
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, timed)

    def close(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()
        if self.counter is not None:
            self._set_group(None)
            self.counter.uninstall()
            self._jsc.setLocalProperty(_SITE_SHORT, None)
            self._jsc.setLocalProperty(_SITE_LONG, None)

    def dump(self, path, harvest: dict) -> None:
        """Write the spans and the Spark UI harvest they index into."""
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "spark": harvest}, fh)


# --- Spark UI REST harvest ----------------------------------------------------


def _rest(spark, endpoint: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{endpoint}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def harvest(spark, settle_s: float = 10.0) -> dict:
    """Jobs, stages, SQL executions (with per-node metrics) and
    executors from the local UI.  The UI's listener is asynchronous, so
    wait until no job is still running and the job count is stable."""
    deadline = time.monotonic() + settle_s
    jobs = _rest(spark, "jobs")
    while time.monotonic() < deadline:
        time.sleep(0.25)
        again = _rest(spark, "jobs")
        running = [j for j in again if j.get("status") == "RUNNING"]
        if len(again) == len(jobs) and not running:
            jobs = again
            break
        jobs = again
    return {
        "jobs": jobs,
        "stages": _rest(spark, "stages"),
        "sql": _rest(
            spark, "sql?details=true&planDescription=false&offset=0&length=100000"
        ),
        "executors": _rest(spark, "executors"),
    }


_COUNT_RE = re.compile(r"^[\d,]+$")


def _sql_count(node: dict, metric: str) -> int:
    for m in node.get("metrics", []):
        if m["name"] == metric and _COUNT_RE.match(m["value"].strip()):
            return int(m["value"].replace(",", ""))
    return 0


def _ts(value: str | None) -> float:
    if not value:
        return 0.0
    # e.g. "2026-10-17T03:39:52.531GMT"
    dt = datetime.strptime(value, "%Y-%m-%dT%H:%M:%S.%fGMT")
    return dt.replace(tzinfo=timezone.utc).timestamp()


@dataclass
class GroupStats:
    """Spark-side work attributed to a set of job groups."""

    jobs: int = 0
    stages: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_bytes: int = 0
    files_read: int = 0
    files_written: int = 0
    scan_rows_out: int = 0
    written_rows: int = 0
    site_seconds: dict[str, float] = field(default_factory=dict)


class Harvest:
    """Index of a `harvest` result by job group."""

    def __init__(self, data: dict) -> None:
        self.data = data
        self.stages: dict[int, list[dict]] = defaultdict(list)
        for s in data["stages"]:
            self.stages[s["stageId"]].append(s)  # one entry per attempt
        self.group_jobs: dict[str, list[dict]] = defaultdict(list)
        job_group: dict[int, str] = {}
        for j in data["jobs"]:
            g = j.get("jobGroup")
            if g:
                self.group_jobs[g].append(j)
                job_group[j["jobId"]] = g
        self.group_sql: dict[str, list[dict]] = defaultdict(list)
        for e in data["sql"]:
            ids = [
                *e.get("successJobIds", []),
                *e.get("failedJobIds", []),
                *e.get("runningJobIds", []),
            ]
            groups = {job_group[i] for i in ids if i in job_group}
            for g in groups:
                self.group_sql[g].append(e)

    def stats(self, groups: set[str]) -> GroupStats:
        out = GroupStats()
        seen_stages: set[int] = set()
        for g in groups:
            for j in self.group_jobs.get(g, []):
                out.jobs += 1
                for sid in j.get("stageIds", []):
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    for s in self.stages.get(sid, []):
                        if s.get("status") == "SKIPPED":
                            continue
                        out.stages += 1
                        out.input_bytes += s.get("inputBytes", 0)
                        out.input_records += s.get("inputRecords", 0)
                        out.output_bytes += s.get("outputBytes", 0)
                        out.shuffle_bytes += s.get("shuffleWriteBytes", 0)
                        dur = _ts(s.get("completionTime")) - _ts(
                            s.get("submissionTime")
                        )
                        site = s.get("name", "")
                        out.site_seconds[site] = (
                            out.site_seconds.get(site, 0.0) + max(dur, 0.0)
                        )
            for e in self.group_sql.get(g, []):
                for n in e.get("nodes", []):
                    name = n.get("nodeName", "")
                    if name.startswith("Scan "):
                        out.files_read += _sql_count(n, "number of files read")
                        out.scan_rows_out += _sql_count(
                            n, "number of output rows"
                        )
                    elif name.startswith("Execute InsertIntoHadoopFsRelation"):
                        out.files_written += _sql_count(
                            n, "number of written files"
                        )
                        out.written_rows += _sql_count(
                            n, "number of output rows"
                        )
        return out

    def executors(self) -> dict:
        ex = self.data["executors"]
        return {
            "gc_s": sum(e.get("totalGCTime", 0) for e in ex) / 1000.0,
            "task_s": sum(e.get("totalDuration", 0) for e in ex) / 1000.0,
            "tasks": sum(e.get("totalTasks", 0) for e in ex),
            "spill_bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                for s in self.data["stages"]
            ),
        }


def subtree_groups(spans: list[Span], root: Span) -> set[str]:
    """Job groups of ``root`` and every span nested under it."""
    by_id = {s.id: s for s in spans}
    out, todo = set(), [root]
    while todo:
        s = todo.pop()
        out.add(s.group)
        todo.extend(by_id[c] for c in s.children)
    return out
