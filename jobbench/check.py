"""Output check: every finished job's result table against DuckDB.

Runs after the timed window. For each job the client saw succeed, the
status ``count`` must equal the rows of ``results_<job_id>``, and the
table must equal the DuckDB answer for the job's (task, args): the
task's own statement from ``tasks/`` with the args bound as the engine
binds them, or the operator registry's own oracle SQL. Cells are
compared after the engine's canonical-type collapse (integers →
BIGINT, floating point → DECIMAL(38,18), timestamps naive UTC), with
floating values read to 9 significant digits and rows in any order.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import pyarrow.parquet as pq
from dungbeetle_spark.queries import registry
from dungbeetle_spark.tasks import bind_args, load_tasks

TASKS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tasks")


def _cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # DECIMAL(38,18) keeps 18 fractional digits; then 9 significant
        # digits absorb summation-order differences between engines.
        return float(f"{round(v, 18):.9g}")
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _canon(cols: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    lower = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: lower[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return tuple(lower[i] for i in order), sorted(out, key=repr)


class Checker:
    """DuckDB over the run's generated tables; one oracle answer per
    distinct (task, args), computed on first use."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for name in sorted(os.listdir(data_dir)):
            table, ext = os.path.splitext(name)
            if ext == ".parquet":
                path = os.path.join(data_dir, name)
                self.con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                                 f"read_parquet('{path}')")
        self._expected: dict[tuple, tuple] = {}
        # The SQL tasks as written ($n and ? markers, which DuckDB reads
        # as positional parameters), then the registry operators' oracles.
        self._sql = {name: task.raw_stmt
                     for name, task in load_tasks([TASKS_DIR]).items()}
        self._sql.update((name, spec.oracle)
                         for name, spec in registry().items() if spec.oracle)

    def expected(self, task: str, args: list[str]):
        key = (task, tuple(args))
        if key not in self._expected:
            # bind_args coerces canonical numerals as the engine does.
            rel = self.con.execute(self._sql[task],
                                   list(bind_args(args).values()))
            cols = [d[0] for d in rel.description]
            self._expected[key] = _canon(cols, rel.fetchall())
        return self._expected[key]

    def check(self, table_dir: str, task: str, args: list[str],
              count: int | None) -> str:
        """'' when the table at ``table_dir`` holds the right rows and
        ``count`` equals its row count, else a one-line reason."""
        if not os.path.isdir(table_dir):
            return "result table missing"
        t = pq.read_table(table_dir)
        if count != t.num_rows:
            return f"status count {count} != {t.num_rows} result rows"
        cols, rows = _canon(t.column_names,
                            [tuple(r.values()) for r in t.to_pylist()])
        want_cols, want_rows = self.expected(task, args)
        if cols != want_cols:
            return f"columns {cols} != oracle {want_cols}"
        if rows != want_rows:
            bad = sum(a != b for a, b in zip(rows, want_rows))
            return (f"{bad + abs(len(rows) - len(want_rows))} of "
                    f"{len(want_rows)} oracle rows differ")
        return ""
