"""Spans around the benchmark's calls into each layer, and the Spark SQL
metrics of the executions each span launched.

A span is (id, name, layer, start, end, parent, request id, attrs). Spans
stay in memory; ``write`` dumps them once the run is over. While a span is
open the driver thread's Spark job description is ``pb:<span id>``, so every
SQL execution and job it launches (including those inside package calls such
as ``SnapshotTable.commit``) carries that tag in Spark's status store, which
``engine_metrics`` reads back after the run.

A disabled tracer records nothing and makes no Spark call, so untraced runs
pay only a Python context-manager entry per span.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG = "pb:"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float | None
    parent: int | None
    request: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._request: int | None = None
        self._sc = None

    def bind(self, spark) -> None:
        """Follow a new SparkSession (set-up restarts the session)."""
        self._sc = spark.sparkContext

    @contextmanager
    def request(self, request_id: int, name: str, **attrs):
        """Root span of one unit of work (pipeline run, request, set-up)."""
        self._request = request_id
        try:
            with self.span(name, "bench", **attrs) as s:
                yield s
        finally:
            self._request = None

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans) + 1,
            name=name,
            layer=layer,
            start=time.perf_counter(),
            end=None,
            parent=parent.id if parent else None,
            request=self._request,
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobDescription(f"{TAG}{s.id}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._sc.setJobDescription(f"{TAG}{parent.id}" if parent else None)

    # -- read-outs -------------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval its children cover."""
        kids = self.children()
        out = {}
        for s in self.spans:
            ivs = sorted((c.start, c.end or c.start) for c in kids.get(s.id, []))
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in ivs:
                lo, hi = max(lo, s.start), min(hi, s.end or s.start)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.id] = max(0.0, s.dur - covered)
        return out

    def write(self, path: str, extra: dict | None = None) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "layer": s.layer,
                            "start_s": round(s.start - t0, 6),
                            "end_s": round((s.end or s.start) - t0, 6),
                            "parent": s.parent,
                            "request": s.request,
                            "attrs": s.attrs,
                        }
                    )
                    + "\n"
                )
            if extra is not None:
                f.write(json.dumps({"summary": extra}) + "\n")


# -- Spark SQL metrics ---------------------------------------------------------

# (plan node name prefix, metric display name) -> engine metric key
_SQL_METRICS = {
    ("Scan", "scan time"): "scan_s",
    ("Scan", "size of files read"): "scan_bytes",
    ("WholeStageCodegen", "duration"): "codegen_s",
    ("ArrowEvalPython", "time to run Python workers"): "arrow_s",
    ("MapInPandas", "time to run Python workers"): "arrow_s",
    ("FlatMapGroupsInPandas", "time to run Python workers"): "arrow_s",
    ("FlatMapCoGroupsInPandas", "time to run Python workers"): "arrow_s",
    ("ArrowEvalPython", "data sent to Python workers"): "arrow_bytes",
    ("ArrowEvalPython", "data returned from Python workers"): "arrow_bytes",
    ("MapInPandas", "data sent to Python workers"): "arrow_bytes",
    ("MapInPandas", "data returned from Python workers"): "arrow_bytes",
    ("FlatMapGroupsInPandas", "data sent to Python workers"): "arrow_bytes",
    ("FlatMapGroupsInPandas", "data returned from Python workers"): "arrow_bytes",
    ("FlatMapCoGroupsInPandas", "data sent to Python workers"): "arrow_bytes",
    ("FlatMapCoGroupsInPandas", "data returned from Python workers"): "arrow_bytes",
    ("Exchange", "shuffle bytes written"): "shuffle_bytes",
    ("Exchange", "fetch wait time"): "fetch_wait_s",
    ("", "spill size"): "spill_bytes",
}
ENGINE_KEYS = sorted(set(_SQL_METRICS.values()))

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Numeric total of a formatted SQL metric: ``"1,234"``, ``"12.0 MiB"``,
    ``"843 ms"`` or the multi-task form ``"total (min, med, max ...)\\n1.2 s
    (...)"``. Sizes come back in bytes, times in seconds."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(body)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


def engine_metrics(spark, span_ids: set[int]) -> tuple[dict[int, dict], dict[int, int]]:
    """Sum the SQL metrics of every execution tagged with one of
    ``span_ids``. Returns ({span id: {engine key: value}}, {span id: jobs})."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    per_span: dict[int, dict] = {}
    jobs: dict[int, int] = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        desc = e.description() or ""
        if not desc.startswith(TAG):
            continue
        sid = int(desc[len(TAG):])
        if sid not in span_ids:
            continue
        acc = per_span.setdefault(sid, dict.fromkeys(ENGINE_KEYS, 0.0))
        eid = e.executionId()
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            nname = node.name()
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                mname = m.name()
                key = None
                for (prefix, metric), target in _SQL_METRICS.items():
                    if metric == mname and nname.startswith(prefix):
                        key = target
                        break
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    acc[key] += parse_metric(v.get())
    # jobs per span, from the core status store (covers non-SQL jobs too)
    jl = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    for i in range(jl.size()):
        d = jl.apply(i).description()
        if d.isDefined() and d.get().startswith(TAG):
            sid = int(d.get()[len(TAG):])
            if sid in span_ids:
                jobs[sid] = jobs.get(sid, 0) + 1
    return per_span, jobs


# -- per-layer read-out ----------------------------------------------------------

LAYERS = ("quadtree", "search", "tiles", "knn", "pip", "snapshots", "upserts", "engine")


class TraceView:
    """Per-layer numbers of a traced run. Units are the measured requests
    (request id >= 0) that ran traced; set-ups and overhead probes carry
    negative request ids."""

    def __init__(self, tracer: Tracer, spark):
        import statistics

        self._median = statistics.median
        self.by_req: dict[int, list[Span]] = {}
        for s in tracer.spans:
            if s.request is not None:
                self.by_req.setdefault(s.request, []).append(s)
        self.units = sorted(r for r in self.by_req if r >= 0)
        self.setups = sorted(r for r in self.by_req if r < 0)
        self.selfs = tracer.self_times()
        self.engine, self.jobs = engine_metrics(spark, {s.id for s in tracer.spans})

    def med(self, values) -> float:
        values = list(values)
        return float(self._median(values)) if values else 0.0

    def stage(self, stage: str, setup: bool = False) -> float:
        """Median over units (or set-ups) of the time spent in spans tagged
        with ``stage``: the layer call plus the action that ran its plan."""
        vals = []
        for r in self.setups if setup else self.units:
            ss = [s for s in self.by_req[r] if s.attrs.get("stage") == stage]
            if ss:
                vals.append(sum(s.dur for s in ss))
        return self.med(vals)

    def common(self) -> dict:
        n = max(len(self.units), 1)
        spans = [s for r in self.units for s in self.by_req[r]]
        out = {
            "driver.build_df_s": self.med(
                sum(s.dur for s in self.by_req[r] if s.attrs.get("lazy")) for r in self.units
            ),
            "driver.jobs_per_request": self.med(
                sum(self.jobs.get(s.id, 0) for s in self.by_req[r]) for r in self.units
            ),
            "trace.spans": len(spans) / n,
        }
        for key in ENGINE_KEYS:
            out[f"engine.{key}"] = sum(self.engine.get(s.id, {}).get(key, 0.0) for s in spans) / n
        for layer in LAYERS:
            out[f"{layer}.self_s"] = sum(self.selfs[s.id] for s in spans if s.layer == layer) / n
        out["client.self_s"] = sum(self.selfs[s.id] for s in spans if s.layer == "bench") / n
        return out
