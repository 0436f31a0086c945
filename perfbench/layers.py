"""Per-layer metrics of the traced passes, totalled per pass.

Inputs are the passes' spans (``tracing.Recorder``), the Spark REST records
and streaming progress events that fall inside them, and the operation
latencies of the traced and untraced passes. Layer self times partition each
pass's wall time, so they add up to it (``trace.layer_sum_s`` beside
``trace.wall_s``).
"""

from __future__ import annotations

import statistics

import tracing

#: writer functions whose time is the sink probe (existence, MIN read, DDL)
PROBE_FNS = {"jdbc_table_exists", "read_jdbc_min", "execute_jdbc_ddl"}
#: dedup functions that confirm LSH candidates with an exact Jaccard filter
CONFIRM_FNS = {"jaccard_pairs", "jaccard_pairs_from_hashes"}


def _layer(span: tracing.Span) -> str:
    return "bench" if span.name.startswith("bench.") else span.name


def _roots(spans: list[tracing.Span]) -> list[int | None]:
    """Index of each span's root ``bench.pass`` span, or None."""
    roots: list[int | None] = []
    for i, s in enumerate(spans):
        if s.parent is None:
            roots.append(i if s.name == "bench.pass" else None)
        else:
            roots.append(roots[s.parent])
    return roots


def _phase_of(t: float, phases: list[tuple[float, float, str, int]]) -> str:
    for t0, t1, phase, _ in phases:
        if t0 <= t <= t1:
            return phase
    return "other"


def _innermost(t: float, spans: list[tracing.Span], tree: list[int]) -> tracing.Span | None:
    best = None
    for i in tree:
        s = spans[i]
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def _median_pass(lat: dict[str, list[float]]) -> float:
    return sum(statistics.median(ts) for ts in lat.values() if ts)


def compute(bench, rest, stream_events, traced, untraced) -> dict[str, float]:
    """Per-pass layer metrics of the traced passes; ``traced`` and
    ``untraced`` are latencies per op from the two kinds of pass."""
    spans = bench.rec.spans
    roots = _roots(spans)
    tree = [i for i, r in enumerate(roots) if r is not None]
    passes = [i for i in tree if spans[i].name == "bench.pass"]
    intervals = [(spans[i].start, spans[i].end) for i in passes]
    n = len(passes)

    def in_passes(t: float | None) -> bool:
        return t is not None and any(t0 <= t <= t1 for t0, t1 in intervals)

    selfs = tracing.self_times(spans)

    self_by_layer: dict[str, float] = {}
    for i in tree:
        self_by_layer[_layer(spans[i])] = self_by_layer.get(_layer(spans[i]), 0.0) + selfs[i]

    def fn_total(layer: str, fns: set[str] | None = None, self_time: bool = True) -> float:
        return sum(
            selfs[i] if self_time else spans[i].end - spans[i].start
            for i in tree
            if spans[i].name == layer and (fns is None or spans[i].attrs.get("fn") in fns)
        )

    def calls(layer: str) -> int:
        return sum(1 for i in tree if spans[i].name == layer)

    phases = [
        (spans[i].start, spans[i].end, spans[i].name.split(".")[1], spans[i].op)
        for i in tree if spans[i].name in ("queries.construct", "queries.action")
    ]

    # -- Spark jobs and stages in the window, by phase and innermost layer --
    jobs, stages, sqls = tracing.spark_records(rest)
    jobs = [j for j in jobs if in_passes(j["t0"])]
    job_phase: dict[int, str] = {}
    layer_jobs: dict[str, int] = {}
    for j in jobs:
        group = j.get("jobGroup") or ""
        if group.startswith("bench-"):
            job_phase[j["jobId"]] = group.rsplit("-", 1)[1]
        else:  # stream-thread jobs carry no group: place them by time
            job_phase[j["jobId"]] = _phase_of(j["t0"], phases)
        inner = _innermost(j["t0"], spans, tree)
        if inner is not None:
            layer_jobs[_layer(inner)] = layer_jobs.get(_layer(inner), 0) + 1
    stage_job: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j.get("stageIds", []):
            stage_job.setdefault(sid, j["jobId"])
    stages = [s for s in stages if s["stageId"] in stage_job]

    def stage_sum(key: str, phase: str | None = None) -> float:
        return float(sum(
            s.get(key, 0) for s in stages
            if phase is None or job_phase.get(stage_job[s["stageId"]]) == phase
        ))

    def jobs_in(phase: str) -> int:
        return sum(1 for p in job_phase.values() if p == phase)

    wall = sum(t1 - t0 for t0, t1 in intervals)
    busy = sum(
        tracing.covered([(max(j["t0"], t0), min(j["t1"] or t1, t1))
                         for j in jobs if t0 <= j["t0"] <= t1])
        for t0, t1 in intervals)

    # -- confirm-filter yield of LSH candidates, from SQL plan row counts --
    confirm_ops = {spans[i].op for i in tree
                   if spans[i].name == "operators.dedup" and spans[i].attrs.get("fn") in CONFIRM_FNS}
    op_windows = [(t0, t1) for t0, t1, _, op in phases if op in confirm_ops]
    verified = candidates = 0
    for q in sqls:
        if q["t0"] is not None and any(t0 <= q["t0"] <= t1 for t0, t1 in op_windows):
            v, c = tracing.confirm_yield(q)
            verified += v
            candidates += c

    construct_s = fn_total("queries.construct", self_time=False)
    action_s = fn_total("queries.action", self_time=False)
    all_jobs = jobs_in("construct") + jobs_in("action")
    jdbc_s = fn_total("sources.writers", {"write_jdbc"}, self_time=False)
    driver = getattr(bench, "driver", None)
    rows_written = driver.rows_written if driver is not None else 0
    traced_pass, untraced_pass = _median_pass(traced), _median_pass(untraced)

    per_pass = {
        "queries.construct_s": construct_s,
        "queries.construct_jobs": jobs_in("construct"),
        "queries.action_s": action_s,
        "queries.action_jobs": jobs_in("action"),
        "queries.action_stages": sum(
            1 for s in stages if job_phase.get(stage_job[s["stageId"]]) == "action"),
        "queries.action_tasks": stage_sum("numCompleteTasks", "action"),
        "operators.graph.s": self_by_layer.get("operators.graph", 0.0),
        "operators.graph.jobs": layer_jobs.get("operators.graph", 0),
        "operators.dedup.s": self_by_layer.get("operators.dedup", 0.0),
        "operators.dedup.jobs": layer_jobs.get("operators.dedup", 0),
        "operators.similarity.s": self_by_layer.get("operators.similarity", 0.0),
        "sources.staging.s": self_by_layer.get("sources.staging", 0.0),
        "sources.staging.mb": sum(
            1 for i in tree if spans[i].attrs.get("fn") == "stage_loinc_inputs")
        * (driver.staged_bytes / 1e6 if driver is not None else 0.0),
        "sources.readers.s": self_by_layer.get("sources.readers", 0.0),
        "sources.readers.calls": calls("sources.readers"),
        "sources.writers.jdbc_s": jdbc_s,
        "sources.writers.probe_s": fn_total("sources.writers", PROBE_FNS),
        "sources.writers.csv_s": fn_total("sources.writers", {"write_csv"}),
        "pipelines.loinc_i2b2.construct_s": fn_total(
            "pipelines.loinc_i2b2", {"transform_loinc_to_i2b2"}, self_time=False),
        "pipelines.etl_runner.self_s": self_by_layer.get("pipelines.etl_runner", 0.0),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": stage_sum("numCompleteTasks"),
        "spark.executor_run_s": stage_sum("executorRunTime") / 1e3,
        "spark.executor_cpu_s": stage_sum("executorCpuTime") / 1e9,
        "spark.gc_s": stage_sum("jvmGcTime") / 1e3,
        "spark.shuffle_read_mb": stage_sum("shuffleReadBytes") / 1e6,
        "spark.shuffle_write_mb": stage_sum("shuffleWriteBytes") / 1e6,
        "spark.spill_mb": stage_sum("diskBytesSpilled") / 1e6,
        "spark.driver_s": wall - busy,
        "bench.self_s": self_by_layer.get("bench", 0.0),
        "trace.wall_s": sum(spans[i].end - spans[i].start for i in passes),
        "trace.layer_sum_s": sum(self_by_layer.values()),
    }
    out = {k: float(v) / max(n, 1) for k, v in per_pass.items()}
    events = [e for e in stream_events if in_passes(tracing.epoch(e.get("timestamp")))]
    for k, v in tracing.stream_metrics(events).items():
        out[k] = v if k == "streaming.batch_p50_ms" else v / max(n, 1)
    out.update({
        "session.start_s": bench.session_start_s,
        "session.warmup_s": bench.warmup_s,
        "queries.s_per_job": (construct_s + action_s) / all_jobs if all_jobs else 0.0,
        "operators.dedup.pair_yield": verified / candidates if candidates else 0.0,
        "sources.writers.jdbc_rows_per_s": rows_written / jdbc_s if jdbc_s else 0.0,
        "spark.busy_frac": stage_sum("executorRunTime") / 1e3 / (wall * bench.cores),
        "trace.passes": float(n),
        "trace.pass_s": traced_pass,
        "trace.untraced_pass_s": untraced_pass,
        "trace.overhead_frac": traced_pass / untraced_pass - 1.0 if untraced_pass else 0.0,
    })
    return out

