"""The ``etl_load`` workload: ``pipelines/etl_runner.py::run_etl`` end to end.

A pass is two ``run_etl`` calls on a fresh embedded-Derby sink: the first
takes the create branch, the second the exists branch (``MIN(IMPORT_DATE)``
read-back, count-back over twice the rows). The LOINC downloads come from
an in-memory fetcher serving ``datagen.loinc_zips(seed)`` at the
reference's size; the program sees only those zips.

Outputs are checked against DuckDB over the same CSVs, running the transform
body of ``px1``'s oracle SQL with the file line number as ``ORD``.
"""

from __future__ import annotations

import datetime as dt
import glob
import io
import os
import time
import zipfile

import datagen
from checks import first_line, load_driver_repro

DERBY = "org.apache.derby.jdbc.EmbeddedDriver"
NOW = (dt.datetime(2026, 2, 1, 12, 0, 0), dt.datetime(2026, 3, 1, 12, 0, 0))


def _csv_member(zip_bytes: bytes) -> bytes:
    with zipfile.ZipFile(io.BytesIO(zip_bytes)) as zf:
        return zf.read(zf.namelist()[0])


def oracle_sql(px1_sql: str) -> str:
    """px1's oracle with its part-derived fixture replaced by the CSVs."""
    body = px1_sql[px1_sql.index("hier_last AS ("):]
    return (
        "WITH loinc AS (SELECT * FROM loinc_csv),\n"
        "hier AS (SELECT CODE, PATH_TO_ROOT, CODE_TEXT, IMMEDIATE_PARENT, ORD FROM hier_csv),\n"
        + body
    )


def expected_rows(loinc_csv: bytes, hier_csv: bytes, px1_sql: str):
    """The i2b2 rows a load of these CSVs must insert (UPDATE_DATE aside):
    the oracle's output minus rows failing the NOT NULL filter."""
    import duckdb
    import pyarrow as pa
    import pyarrow.csv as pacsv

    from angelo_bravo_etl_task_spark.schemas import I2B2_NOT_NULL_COLUMNS

    conv = pacsv.ConvertOptions(strings_can_be_null=True,
                                column_types={"SEQUENCE": pa.int32()})
    loinc = pacsv.read_csv(pa.BufferReader(loinc_csv), convert_options=conv)
    hier = pacsv.read_csv(pa.BufferReader(hier_csv), convert_options=conv)
    hier = hier.append_column("ORD", pa.array(range(hier.num_rows), pa.int64()))
    con = duckdb.connect()
    con.register("loinc_csv", loinc)
    con.register("hier_csv", hier)
    sql = oracle_sql(px1_sql)
    cols = [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
    not_null = " AND ".join(f"{c} IS NOT NULL" for c in I2B2_NOT_NULL_COLUMNS if c in cols)
    out = con.execute(f"SELECT * EXCLUDE (UPDATE_DATE) FROM ({sql}) WHERE {not_null}").df()
    return out


class EtlDriver:
    """Serves the generated zips, runs the loads and checks their summaries."""

    def __init__(self, spark, work: str, seed: int) -> None:
        from angelo_bravo_etl_task_spark.queries import QUERIES
        from angelo_bravo_etl_task_spark.sources import staging

        self.spark = spark
        self.work = work
        zips = datagen.loinc_zips(seed)
        self.csvs = {name: _csv_member(z) for name, z in zips.items()}
        self.staged_bytes = sum(len(b) for b in self.csvs.values())
        payloads = {
            staging.LOINC_TABLE_URL: zips["Loinc.csv"],
            staging.LOINC_HIERARCHY_URL: zips["MultiAxialHierarchy.csv"],
        }
        self.fetcher = lambda url, data: payloads[url]
        self.db = 0
        self.rows_written = 0
        self.expected = expected_rows(
            self.csvs["Loinc.csv"], self.csvs["MultiAxialHierarchy.csv"],
            QUERIES["px1_loinc_i2b2_pipeline"][1])
        self.expected_rows = len(self.expected)

    def _run(self, db: int, branch: int):
        from angelo_bravo_etl_task_spark.pipelines.etl_runner import run_etl

        return run_etl(
            self.spark,
            self.fetcher,
            os.path.join(self.work, "staging"),
            f"jdbc:derby:{os.path.join(self.work, 'derby', f'db{db}')};create=true",
            os.path.join(self.work, "out", f"db{db}-{branch}"),
            now=NOW[branch],
            # Derby needs CLOB for the unbounded and nullable string columns
            text_type="CLOB",
            nullable_string_type="CLOB",
            jdbc_options={"driver": DERBY},
        )

    def warmup(self, problems: list[str]) -> None:
        """One untimed create-branch load; its CSV export is compared with
        the oracle's rows."""
        self.db += 1
        try:
            summary = self._run(self.db, 0)
        except Exception as exc:
            problems.append(f"warm-up run_etl: {type(exc).__name__}: {first_line(exc)}")
            return
        problems += self.compare_export(summary["csv_path"])

    def compare_export(self, csv_path: str) -> list[str]:
        import pandas as pd

        (part,) = glob.glob(os.path.join(csv_path, "part-*.csv"))
        got = pd.read_csv(part, dtype=str, keep_default_na=False)
        want = self.expected.astype(object).where(self.expected.notna(), "").astype(str)
        got = got[list(want.columns)]
        problems = load_driver_repro().compare("etl_export", got, want)
        return [f"etl export: {p}" for p in problems if p.startswith(("HARD", "ERROR"))]

    def run_op(self, seq: int, name: str, rec) -> tuple[float, str | None]:
        branch = 0 if name.endswith("create") else 1
        if branch == 0:
            self.db += 1
        if rec is not None:
            self.spark.sparkContext.setJobGroup(f"bench-{seq}-action", name)
            rec.op = seq
        t0 = time.perf_counter()
        try:
            summary = self._run(self.db, branch)
        except Exception as exc:
            return float("nan"), f"{name}: {type(exc).__name__}: {first_line(exc)}"
        lat = time.perf_counter() - t0
        if rec is not None:  # rows per second of the traced passes' writes
            self.rows_written += summary["rows_inserted"]
        if summary["table_created"] != (branch == 0):
            return lat, f"{name}: took the wrong branch"
        if summary["rows_inserted"] != self.expected_rows:
            return lat, f"{name}: rows_inserted {summary['rows_inserted']} != oracle {self.expected_rows}"
        if branch == 1 and summary["import_date_override"] != NOW[0]:
            return lat, f"{name}: IMPORT_DATE override {summary['import_date_override']}"
        return lat, None
