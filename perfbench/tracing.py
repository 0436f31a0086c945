"""Tracing for the benchmark's traced run: spans, layer wrappers, and the
Spark-side readers (REST ``/jobs``, ``/stages``, ``/sql`` and a streaming
query listener).

Nothing here is installed in an untraced run. Spans are recorded only from
the benchmark's own files, around calls into the package's layers: each
public function of a layer module is wrapped in every module namespace that
imported it, so a call resolves to the wrapper whichever module makes it.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import statistics
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime

PKG = "angelo_bravo_etl_task_spark"

#: layer name -> module whose public functions are wrapped
LAYER_MODULES = {
    "operators.graph": f"{PKG}.operators.graph",
    "operators.dedup": f"{PKG}.operators.dedup",
    "operators.similarity": f"{PKG}.operators.similarity",
    "operators.text": f"{PKG}.operators.text",
    "sources.readers": f"{PKG}.sources.readers",
    "sources.staging": f"{PKG}.sources.staging",
    "sources.writers": f"{PKG}.sources.writers",
    "pipelines.loinc_i2b2": f"{PKG}.pipelines.loinc_i2b2",
    "pipelines.etl_runner": f"{PKG}.pipelines.etl_runner",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)


class Recorder:
    """Spans kept in memory; parents follow the calling thread's stack."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self.enabled = True
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, **attrs) -> int:
        stack = self._stack()
        span = Span(name, time.time(), parent=stack[-1] if stack else None,
                    op=self.op, attrs=attrs)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = self.begin(name, **attrs)
        try:
            yield self.spans[idx]
        finally:
            self.end(idx)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f, default=str)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            children.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return [
        (s.end - s.start) - covered([iv for iv in children.get(i, []) if iv[1] > iv[0]])
        for i, s in enumerate(spans)
    ]


# --------------------------------------------------------------------------
# layer wrappers
# --------------------------------------------------------------------------

def _wrap(rec: Recorder, layer: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not rec.enabled:
            return fn(*args, **kwargs)
        with rec.span(layer, fn=fn.__name__):
            return fn(*args, **kwargs)

    return traced


def install_wrappers(rec: Recorder) -> int:
    """Wrap every public function of each layer module, in every loaded
    package module that holds a reference to it. Returns bindings replaced."""
    import importlib

    wrapped: dict[int, tuple[object, object]] = {}
    for layer, modname in LAYER_MODULES.items():
        mod = importlib.import_module(modname)
        for name, fn in vars(mod).items():
            if (name.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != modname):
                continue
            wrapped[id(fn)] = (fn, _wrap(rec, layer, fn))
    replaced = 0
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
            continue
        for name, val in list(vars(mod).items()):
            hit = wrapped.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, name, hit[1])
                replaced += 1
    return replaced


# --------------------------------------------------------------------------
# Spark REST and streaming listener
# --------------------------------------------------------------------------

def epoch(ts: str | None) -> float | None:
    """REST and progress timestamps ('2026-10-17T04:01:22.123GMT' or '...Z')
    as epoch seconds."""
    if not ts:
        return None
    ts = ts.replace("GMT", "+0000").replace("Z", "+0000")
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Rest:
    """Reader for the driver's monitoring REST API on localhost."""

    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 20.0) -> None:
        """Wait until the listener bus has caught up: no running job and the
        job count unchanged between two reads."""
        deadline, last = time.time() + timeout, -1
        while time.time() < deadline:
            jobs = self.get("jobs")
            if len(jobs) == last and not any(j["status"] == "RUNNING" for j in jobs):
                return
            last = len(jobs)
            time.sleep(0.3)


def spark_records(rest: Rest):
    """(jobs, stages, sql executions) with times as epoch seconds."""
    jobs = rest.get("jobs")
    for j in jobs:
        j["t0"], j["t1"] = epoch(j.get("submissionTime")), epoch(j.get("completionTime"))
    stages = [s for s in rest.get("stages") if s["status"] != "SKIPPED"]
    sqls = rest.get("sql?details=true&planDescription=false&length=100000")
    for q in sqls:
        q["t0"] = epoch(q.get("submissionTime"))
    return jobs, stages, sqls


def confirm_yield(execution: dict) -> tuple[int, int]:
    """(verified, candidate) pair rows of one SQL execution, read from its
    plan's row counts. Candidates leave a HashAggregate (the ``distinct``
    over LSH band matches) straight into a join; verified pairs leave the
    last join or filter above it, where the Jaccard threshold is applied
    (Catalyst often folds the threshold into that join's condition)."""
    nodes = {n["nodeId"]: n for n in execution.get("nodes", [])}
    parent_of: dict[int, int] = {}
    for e in execution.get("edges", []):
        parent_of.setdefault(e["fromId"], e["toId"])

    def rows(node) -> int | None:
        for m in node.get("metrics", []):
            if m["name"] == "number of output rows":
                return int(str(m["value"]).replace(",", "").split()[0])
        return None

    def kind(nid) -> str:
        name = nodes[nid]["nodeName"] if nid in nodes else ""
        return "join" if name.endswith("Join") else name

    verified = candidates = 0
    for nid, node in nodes.items():
        up = parent_of.get(nid)
        if node["nodeName"] != "HashAggregate" or kind(up) != "join" or rows(node) is None:
            continue
        last = None
        while kind(up) in ("join", "Filter", "Project"):
            if kind(up) != "Project" and rows(nodes[up]) is not None:
                last = rows(nodes[up])
            up = parent_of.get(up)
        if last is not None:
            verified += last
            candidates += rows(node)
    return verified, candidates


class StreamProgress:
    """Collects ``onQueryProgress`` events from a listener on the session."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list[dict] = []
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer.events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)



def stream_metrics(events: list[dict]) -> dict[str, float]:
    """Totals over progress events: batches, median batch time, commit time
    (WAL, offsets, state store), batch overhead outside ``addBatch`` and the
    state rows each query held at its last batch."""
    batch_ms, commit_ms, overhead_ms, state_rows = [], 0.0, 0.0, {}
    for p in events:
        d = p.get("durationMs", {})
        batch_ms.append(d.get("triggerExecution", 0))
        commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        commit_ms += sum(s.get("commitTimeMs", 0) for s in p.get("stateOperators", []))
        overhead_ms += d.get("triggerExecution", 0) - d.get("addBatch", 0)
        state_rows[p["runId"]] = sum(
            s.get("numRowsTotal", 0) for s in p.get("stateOperators", []))
    return {
        "streaming.batches": float(len(events)),
        "streaming.batch_p50_ms": float(statistics.median(batch_ms)) if batch_ms else 0.0,
        "streaming.commit_ms": commit_ms,
        "streaming.batch_overhead_ms": overhead_ms,
        "streaming.state_rows": float(sum(state_rows.values())),
    }
