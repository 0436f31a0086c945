#!/usr/bin/env python3
"""The repository's benchmark: closed-loop workloads over the query registry.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

One client, one process, ``local[<cores>]`` and the program's own
``session.get_spark()`` defaults. A run:

1. generates its inputs from ``--seed`` under ``.perfbench_work/``;
2. starts the session, imports the registry and computes each operation's
   expected row count with its DuckDB oracle (``oracle_sql()``);
3. makes one untimed warm-up pass that also hash-compares every output with
   its oracle (``tools/driver_repro.py::compare``);
4. runs whole passes over the workload's operations until ``--seconds`` have
   elapsed; an operation is the registry call plus a timed ``count()``, which
   must equal the oracle's row count.

The last line of stdout is one JSON object with the end-to-end metrics
(``--trace 0``) or the per-layer ones (``--trace 1``, where untraced and
traced passes alternate for twice ``--seconds``). A readable summary goes to
stderr. Metric names and units are declared in ``BENCHMARK.json``; what each
one means is in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import Counter

from checks import DRIVER_REPRO, first_line

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "angelo_bravo_etl_task_spark")

#: operations per pass, in pass order, and the scale of the generated
#: tables. At these sizes an operation's time is fixed per-job cost and
#: driver-side construction, as at the testdata's sf0.1 (17 MB). dedup_stream
#: runs on 100 documents because its dedup oracles are all-pairs SQL.
WORKLOADS = {
    "query_mix": ([
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
        "q6_revenue_change", "q9_product_profit", "q13_order_distribution",
        "q18_large_orders", "q21_waiting_supplier", "px1_loinc_i2b2_pipeline",
    ], 0.01),
    "dedup_stream": ([
        "d3_minhash_lsh", "d6_dup_clusters", "x4_ivf_topk", "e3_late_data_watermark",
    ], 0.002),
    "etl_load": (["run_etl:create", "run_etl:exists"], None),
}

WATCHDOG_S = 170.0


def process_start() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def host_state() -> dict:
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/meminfo") as f:
        avail = next(int(l.split()[1]) for l in f if l.startswith("MemAvailable"))
    return {"loadavg_1m": load1, "mem_available_mb": avail / 1024}


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(l.split()[1]) for l in f if l.startswith("VmHWM"))


def quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, cores: int) -> None:
    """Process environment for Spark: everything it writes stays in ``work``,
    and Python workers started by the JVM can import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file under /tmp either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)


class Bench:
    """One run: session, inputs, oracles, passes and their samples."""

    def __init__(self, args, t_start: float, work: str) -> None:
        self.args = args
        self.t_start = t_start
        self.work = work
        self.ops, self.sf = WORKLOADS[args.workload]
        self.cores = len(os.sched_getaffinity(0))
        self.rec = None  # tracing.Recorder in the traced window
        self.attempted = 0
        self.failures: list[str] = []
        self.hash_problems: list[str] = []
        self.info: dict = {"host_start": host_state()}

    # -- setup -----------------------------------------------------------
    def setup(self) -> None:
        import datagen
        from checks import Oracle

        t = time.time()
        from angelo_bravo_etl_task_spark.session import get_spark

        self.spark = get_spark()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.time() - t
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

        self.data = os.path.join(self.work, "data")
        if self.args.workload == "etl_load":
            import etl

            self.driver = etl.EtlDriver(self.spark, self.work, self.args.seed)
        else:
            self.info["rows"] = datagen.write_tables(self.data, self.args.seed, self.sf)
            from angelo_bravo_etl_task_spark.queries import QUERIES

            self.fns = {name: QUERIES[name][0] for name in self.ops}
            self.oracle = Oracle(self.data, {name: QUERIES[name][1] for name in self.ops})
        t = time.time()
        self.warmup()
        self.warmup_s = time.time() - t

    def warmup(self) -> None:
        """Untimed pass that runs each operation as timed, then hash-compares
        its output with the oracle's."""
        if self.args.workload == "etl_load":
            self.driver.warmup(self.hash_problems)
            return
        self.warmup_ops = {}
        for name in self.ops:
            t = time.perf_counter()
            try:
                df = self.fns[name](self.spark, self.data)
                df.count()  # the timed action's plan, compiled here
                self.hash_problems += [
                    f"{name}: {p}" for p in self.oracle.compare(name, df.toPandas())]
            except Exception as exc:  # an operation that raises is a failure
                self.hash_problems.append(f"{name}: ERROR {type(exc).__name__}: {first_line(exc)}")
            self.warmup_ops[name] = time.perf_counter() - t
            self.cleanup()

    def cleanup(self) -> None:
        """Between operations, outside the timer: no stream, temp view or
        cached table outlives the operation that made it."""
        for q in self.spark.streams.active:
            q.stop()
        self.spark.streams.resetTerminated()
        for t in self.spark.catalog.listTables():
            if t.isTemporary:
                self.spark.catalog.dropTempView(t.name)
        self.spark.catalog.clearCache()

    # -- timed passes ------------------------------------------------------
    def run_op(self, seq: int, name: str) -> tuple[float, str | None]:
        """One operation; returns (latency, failure text or None)."""
        sc = self.spark.sparkContext
        rec = self.rec
        if self.args.workload == "etl_load":
            return self.driver.run_op(seq, name, rec)
        try:
            if rec is not None:
                rec.op = seq
                sc.setJobGroup(f"bench-{seq}-construct", name)
                with rec.span("queries.construct", query=name):
                    t0 = time.perf_counter()
                    df = self.fns[name](self.spark, self.data)
                sc.setJobGroup(f"bench-{seq}-action", name)
                with rec.span("queries.action", query=name):
                    n = df.count()
                    lat = time.perf_counter() - t0
            else:
                t0 = time.perf_counter()
                n = self.fns[name](self.spark, self.data).count()
                lat = time.perf_counter() - t0
        except Exception as exc:  # an operation that raises is a failure
            return float("nan"), f"{name}: {type(exc).__name__}: {first_line(exc)}"
        want = self.oracle.counts[name]
        return lat, None if n == want else f"{name}: count {n} != oracle {want}"

    def window(self, seconds: float, rec=None) -> list[dict[str, list[float]]]:
        """Whole passes until ``seconds`` have elapsed. With a recorder,
        untraced and traced passes alternate in ABBA order, so a drift in
        speed during the window weighs on both kinds alike. Returns latencies
        per op for untraced and traced passes."""
        lat = [{name: [] for name in self.ops} for _ in range(2)]
        t_end = time.perf_counter() + seconds
        self.pass_walls = []
        while True:
            traced = rec is not None and len(self.pass_walls) % 4 in (1, 2)
            self.rec = rec if traced else None
            if rec is not None:
                rec.enabled = traced
            t_pass = time.perf_counter()
            root = self.rec.begin("bench.pass") if self.rec else None
            for name in self.ops:
                self.attempted += 1
                t, fail = self.run_op(self.attempted, name)
                if fail:
                    self.failures.append(fail)
                else:
                    lat[traced][name].append(t)
                if self.rec:
                    with self.rec.span("bench.cleanup"):
                        self.cleanup()
                else:
                    self.cleanup()
            if root is not None:
                self.rec.end(root)
            self.pass_walls.append(time.perf_counter() - t_pass)
            if time.perf_counter() >= t_end and (rec is None or len(self.pass_walls) % 2 == 0):
                return lat

    def measure(self) -> dict:
        setup_s = time.time() - self.t_start
        if self.args.trace:
            untraced, layer_values = self.traced_window()
        else:
            untraced, _ = self.window(self.args.seconds)
        peak = (vm_hwm_kb(self.jvm_pid) + _self_hwm_kb()) / 1024
        res = {"setup_s": setup_s, "peak_rss_mb": peak, "pass_walls": self.pass_walls,
               **summarize(untraced)}
        if self.args.trace:
            res["layers"] = layer_values
        return res

    def traced_window(self):
        """Untraced and traced passes, alternating, for twice ``--seconds``;
        the traced ones record spans, job groups, REST records and stream
        progress. Returns the untraced latencies and the layer metrics."""
        import layers
        import tracing

        rec = tracing.Recorder()
        stream = tracing.StreamProgress(self.spark)
        rest = tracing.Rest(self.spark.sparkContext)
        tracing.install_wrappers(rec)
        untraced, traced = self.window(2 * self.args.seconds, rec)
        rest.settle()
        time.sleep(1.0)  # listener events are delivered asynchronously
        self.rec = rec
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        rec.dump(os.path.join(
            ROOT, ".perfbench_out", f"spans-{self.args.workload}-{self.args.seed}.json"))
        return untraced, layers.compute(self, rest, stream.events, traced, untraced)


def _self_hwm_kb() -> int:
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss


def summarize(lat: dict[str, list[float]]) -> dict:
    """End-to-end timing metrics from per-operation latencies."""
    flat = [t for ts in lat.values() for t in ts]
    out = {"n_ops": len(flat),
           "per_op": {k: statistics.median(ts) for k, ts in lat.items() if ts}}
    if not flat:
        return out
    out["pass_s"] = sum(statistics.median(ts) for ts in lat.values() if ts)
    out["op_p50_s"] = statistics.median(flat)
    if len(flat) >= 100:
        out["op_p90_s"] = quantile(flat, 0.9)
    return out


def main(argv=None) -> int:
    t_start = process_start()
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(PKG_DIR, "__init__.py")) and os.path.isfile(DRIVER_REPRO)):
        print(f"error: the program is not beside the benchmark ({PKG_DIR})", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work, len(os.sched_getaffinity(0)))

    bench = Bench(args, t_start, work)

    def _kill() -> None:
        print(f"error: run exceeded {WATCHDOG_S:.0f} s", file=sys.stderr)
        pid = getattr(bench, "jvm_pid", None)
        if pid:
            os.kill(pid, 9)
        os._exit(3)

    watchdog = threading.Timer(WATCHDOG_S, _kill)
    watchdog.daemon = True
    watchdog.start()
    try:
        bench.setup()
        res = bench.measure()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_spark(bench)
        watchdog.cancel()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it

    res.update(session_start_s=bench.session_start_s, warmup_s=bench.warmup_s,
               host_end=host_state())
    result = report(args, bench, res)
    print(json.dumps(result))
    return 0


def stop_spark(bench: Bench) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    spark = getattr(bench, "spark", None)
    if spark is None:
        return
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        spark.sparkContext._gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def report(args, bench: Bench, res: dict) -> dict:
    attempted, failed = bench.attempted, len(bench.failures)
    correct = failed == 0 and not bench.hash_problems
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (res.get("pass_s"), "s"),
        "op_p50_s": (res.get("op_p50_s"), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    lines = [
        f"\n# workload {args.workload} seed {args.seed} trace {args.trace}: "
        f"{res['n_ops']} timed ops in the last window; failed_frac "
        f"{failed / max(attempted, 1):.4f} ({failed} of {attempted} attempted)",
    ]
    for k, (v, u) in e2e.items():
        lines.append(f"#   {k:<12} {v if v is None else round(v, 4)} {u}")
    if "op_p90_s" in res:
        lines.append(f"#   {'op_p90_s':<12} {res['op_p90_s']:.4f} s")
    lines.append("#   per-op median s: " + ", ".join(
        f"{k.split('_')[0]} {v:.2f}" for k, v in res.get("per_op", {}).items()))
    lines.append(f"#   inputs: {bench.info.get('rows', 'LOINC zips')}")
    lines.append("#   pass walls s: " + ", ".join(f"{w:.2f}" for w in res["pass_walls"]))
    lines.append(f"#   setup: session {res['session_start_s']:.2f} s, warm-up {res['warmup_s']:.2f} s ("
                 + ", ".join(f"{k.split('_')[0]} {v:.2f}"
                             for k, v in getattr(bench, "warmup_ops", {}).items()) + ")")
    lines.append(f"#   host: start {bench.info['host_start']} end {res['host_end']}")
    for text, n in Counter(bench.failures + bench.hash_problems).most_common(10):
        lines.append(f"#   FAIL x{n} {text[:300]}")
    if args.trace:
        for k, v in res["layers"].items():
            lines.append(f"#   {k:<36} {v:.6g}")
    print("\n".join(lines), file=sys.stderr)

    declared = declared_metrics()["per_layer" if args.trace else "end_to_end"]
    values = res["layers"] if args.trace else {k: v for k, (v, _) in e2e.items()}
    metrics = {k: {"value": values[k], "unit": unit}
               for k, unit in declared.items() if values.get(k) is not None}
    return {"correct": correct, "attempted": max(attempted, 1), "failed": failed,
            "metrics": metrics}


def declared_metrics() -> dict[str, dict[str, str]]:
    """Metric name -> unit, per kind, as declared in ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("per_layer", "end_to_end")}


if __name__ == "__main__":
    sys.exit(main())
