"""Output checks that do not trust the program: DuckDB oracles and the
repository's hash-level comparison (``tools/driver_repro.py::compare``)."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_REPRO = os.path.join(ROOT, "tools", "driver_repro.py")


def first_line(exc: Exception) -> str:
    text = str(exc).strip()
    return text.splitlines()[0] if text else ""


def load_driver_repro():
    """``tools/driver_repro.py``, the repository's hash-level comparison."""
    import importlib.util

    if "driver_repro" not in sys.modules:
        spec = importlib.util.spec_from_file_location("driver_repro", DRIVER_REPRO)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        sys.modules["driver_repro"] = mod
    return sys.modules["driver_repro"]


class Oracle:
    """DuckDB over the generated tables: row counts and reference frames."""

    def __init__(self, data: str, sqls: dict[str, str]) -> None:
        import duckdb

        self.con = duckdb.connect()
        for f in sorted(os.listdir(data)):
            self.con.execute(
                f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{os.path.join(data, f)}'")
        self.frames = {name: self.con.execute(sql).df() for name, sql in sqls.items()}
        self.counts = {name: len(df) for name, df in self.frames.items()}

    def compare(self, name: str, spark_pdf) -> list[str]:
        """Hash-level problems (``HARD``/``ERROR``) of one output."""
        problems = load_driver_repro().compare(name, spark_pdf, self.frames[name])
        return [p for p in problems if p.startswith(("HARD", "ERROR"))]
