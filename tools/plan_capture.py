"""Capture `.explain("formatted")` for named queries into a directory.

Usage:
    python tools/plan_capture.py --outdir DIR --suffix before [--sf SF_DIR] name...
    python tools/plan_capture.py --outdir DIR --suffix after name...
    diff DIR/<name>_before.txt DIR/<name>_after.txt

Writes DIR/<name>_<suffix>.txt. Expression ids (``#123``) and RDD ids
(``RDD[45]``) are masked in the written text: both are session counters,
so without masking a plan-neutral refactor still diffs on every line.
Plan capture only analyzes/optimizes the final frame; query functions
that run eager jobs (checkpoints, collects, stream runs) still run them.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_EXPR_ID = re.compile(r"#\d+")
_RDD_ID = re.compile(r"RDD\[\d+\]")


def mask_ids(text: str) -> str:
    """Replace session-counter ids so two captures of one plan compare equal."""
    return _RDD_ID.sub("RDD[N]", _EXPR_ID.sub("#N", text))


def main() -> None:
    from angelo_bravo_etl_task_spark.queries import QUERIES
    from angelo_bravo_etl_task_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--outdir", required=True)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    os.makedirs(args.outdir, exist_ok=True)
    # Mirror the bench harness confs (AQE off / 8 shuffle parts below sf1)
    # so the captured plan is the plan the bench actually runs.
    spark = get_spark(app_name="plan-capture", adaptive=False,
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm  # type: ignore[attr-defined]

    for name in args.names:
        if name not in QUERIES:
            print(f"?? unknown query {name}", file=sys.stderr)
            continue
        fn = QUERIES[name][0]
        out = os.path.join(args.outdir, f"{name}_{args.suffix}.txt")
        try:
            df = fn(spark, args.sf)
            txt = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")  # type: ignore
        except Exception as exc:  # noqa: BLE001
            txt = f"PLAN CAPTURE FAILED: {exc}\n"
        with open(out, "w") as f:
            f.write(mask_ids(txt))
        print(f"wrote {out}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
