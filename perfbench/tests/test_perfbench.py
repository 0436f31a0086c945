"""Tests of the benchmark itself: input generation, expected counts, span
arithmetic and the metric names it prints. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import datagen  # noqa: E402
import etl  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_tables_same_bytes_for_same_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    datagen.write_tables(a, 7, 0.001)
    datagen.write_tables(b, 7, 0.001)
    datagen.write_tables(c, 8, 0.001)
    assert _files(a) == _files(b)
    assert _files(a)["lineitem.parquet"] != _files(c)["lineitem.parquet"]


def test_loinc_zips_same_bytes_for_same_seed():
    small = {"n_codes": 2000, "n_parts": 300}
    assert datagen.loinc_zips(7, **small) == datagen.loinc_zips(7, **small)
    assert datagen.loinc_zips(7, **small) != datagen.loinc_zips(8, **small)


def test_loinc_input_shape():
    """Every code is in the code table once; a placed code's last hierarchy
    row is the one that wins; hierarchy paths only name earlier parts."""
    loinc, hier = datagen.loinc_tables(3, n_codes=3000, n_parts=400)
    codes = [r[0] for r in loinc]
    assert len(codes) == len(set(codes)) == 3400
    seen_parts = set()
    for path, _, parent, code, _ in hier[:400]:
        assert all(p in seen_parts for p in path.split(".") if path)
        assert parent == (path.rsplit(".", 1)[-1] if path else None)
        seen_parts.add(code)
    placed = {r[3] for r in hier}
    assert len(placed & set(codes)) > 0.97 * len(codes)


def test_expected_count_is_oracle_row_count(tmp_path):
    d = str(tmp_path / "data")
    datagen.write_tables(d, 1, 0.001)
    oracle = checks.Oracle(d, {
        "three_regions": "SELECT * FROM region WHERE r_regionkey < 3",
        "per_segment": "SELECT c_mktsegment, count(*) FROM customer GROUP BY 1",
    })
    assert oracle.counts == {"three_regions": 3, "per_segment": 5}


def _csv(header, rows) -> bytes:
    return datagen._csv(header, [["" if v is None else v for v in r] for r in rows])


def test_etl_expected_rows_hand_derived():
    """Golden chain of FIXTURES.md plus the cases the generator plants."""
    from angelo_bravo_etl_task_spark.queries import QUERIES

    chain = ["LP1-1", "LP2-2"]
    loinc = _csv(datagen.LOINC_HEADER, [
        ("4548-4", "Hemoglobin A1c", "MFr", "Pt", "Bld", "Qn", None, "ACTIVE"),
        ("LP2-2", None, None, None, None, "Ord", None, "ACTIVE"),
        ("LP3-3", None, None, None, None, "Ord", None, "ACTIVE"),  # blank text
        ("9999-9", "Unplaced", "MFr", "Pt", "Bld", "Qn", None, "ACTIVE"),
    ])
    hier = _csv(datagen.HIERARCHY_HEADER, [
        ("", 1, None, "LP1-1", "Root"),
        ("LP1-1", 1, "LP1-1", "LP2-2", "Hemoglobin"),
        ("LP1-1", 2, "LP1-1", "LP3-3", ""),
        ("LP1-1", 1, "LP1-1", "4548-4", "first placement"),
        (".".join(chain), 1, "LP2-2", "4548-4", "Hgb A1c MFr Bld"),
    ])
    out = etl.expected_rows(loinc, hier, QUERIES["px1_loinc_i2b2_pipeline"][1])
    # 9999-9 has no placement; LP3-3's C_NAME (its CODE_TEXT) is NULL
    assert sorted(out["C_BASECODE"]) == ["LOINC:4548-4", "LOINC:LP2-2"]
    row = out[out["C_BASECODE"] == "LOINC:4548-4"].iloc[0]
    assert row["C_SYMBOL"] == "Hgb A1c MFr Bld"  # the last row wins
    assert row["C_HLEVEL"] == 4


def test_self_times_hand_built_tree():
    S = tracing.Span
    spans = [
        S("root", 0.0, 10.0),
        S("a", 1.0, 4.0, parent=0),
        S("a1", 2.0, 3.0, parent=1),
        S("b", 5.0, 9.0, parent=0),
        S("b1", 8.0, 9.5, parent=3),  # ends after its parent: clipped
    ]
    assert tracing.self_times(spans) == pytest.approx([3.0, 2.0, 1.0, 3.0, 1.5])
    assert tracing.covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_stream_metrics():
    ev = [
        {"runId": "r1", "durationMs": {"triggerExecution": 100, "addBatch": 70,
                                        "walCommit": 5, "commitOffsets": 4},
         "stateOperators": [{"numRowsTotal": 10, "commitTimeMs": 3}]},
        {"runId": "r1", "durationMs": {"triggerExecution": 50, "addBatch": 10},
         "stateOperators": [{"numRowsTotal": 12, "commitTimeMs": 1}]},
        {"runId": "r2", "durationMs": {"triggerExecution": 30, "addBatch": 30}},
    ]
    assert tracing.stream_metrics(ev) == {
        "streaming.batches": 3.0,
        "streaming.batch_p50_ms": 50.0,
        "streaming.commit_ms": 13.0,
        "streaming.batch_overhead_ms": 70.0,
        "streaming.state_rows": 12.0,
    }


def _execution(nodes, edges):
    def node(i, name, rows):
        metrics = [] if rows is None else [{"name": "number of output rows", "value": rows}]
        return {"nodeId": i, "nodeName": name, "metrics": metrics}

    return {"nodes": [node(*n) for n in nodes],
            "edges": [{"fromId": a, "toId": b} for a, b in edges]}


def test_confirm_yield_threshold_in_join():
    """d3's count(): the threshold folded into the second join's condition."""
    ex = _execution(
        [(5, "HashAggregate", "1"), (6, "Project", None), (7, "BroadcastHashJoin", "10"),
         (8, "Project", None), (9, "BroadcastHashJoin", "15"), (10, "HashAggregate", "15"),
         (11, "AQEShuffleRead", None), (27, "BroadcastExchange", "100")],
        [(6, 5), (7, 6), (8, 7), (9, 8), (10, 9), (11, 10), (27, 9), (27, 7)])
    assert tracing.confirm_yield(ex) == (10, 15)


def test_confirm_yield_threshold_as_filter():
    ex = _execution(
        [(0, "HashAggregate", "1"), (1, "Filter", "1,200"), (2, "Project", None),
         (3, "SortMergeJoin", "4,000"), (4, "HashAggregate", "4,000"), (5, "Sort", None)],
        [(1, 0), (2, 1), (3, 2), (4, 3), (5, 3)])
    assert tracing.confirm_yield(ex) == (1200, 4000)


class _FakeRest:
    def get(self, path):
        return []


def test_printed_metric_names_equal_declared():
    declared = run.declared_metrics()
    args = argparse.Namespace(workload="query_mix", seed=1, trace=0)
    bench = argparse.Namespace(attempted=2, failures=[], hash_problems=[],
                               info={"host_start": {}}, session_start_s=5.0, warmup_s=9.0,
                               cores=4, rec=tracing.Recorder())
    res = {"setup_s": 20.0, "peak_rss_mb": 900.0, "session_start_s": 5.0, "warmup_s": 9.0,
           "pass_walls": [3.0],
           "host_end": {}, **run.summarize({"q": [1.0, 2.0], "r": [0.5]})}
    out = run.report(args, bench, res)
    assert set(out["metrics"]) == set(declared["end_to_end"])
    assert json.loads(json.dumps(out))["correct"] is True

    rec = bench.rec
    root = rec.begin("bench.pass")
    with rec.span("queries.construct", query="q"):
        with rec.span("operators.graph", fn="connected_components"):
            pass
    with rec.span("queries.action", query="q"):
        pass
    rec.end(root)
    res["layers"] = layers.compute(bench, _FakeRest(), [], {"q": [1.0]}, {"q": [1.1]})
    assert res["layers"]["trace.layer_sum_s"] == pytest.approx(res["layers"]["trace.wall_s"])
    args.trace = 1
    out = run.report(args, bench, res)
    assert set(out["metrics"]) == set(declared["per_layer"])
