"""Task catalog: goyesql-format ``.sql`` loading and parsing.

A task is a named SQL query loaded at startup from ``.sql`` files
(reference: internal/core/tasks.go:16-27). Files contain one or more
blocks in goyesql format::

    -- name: get_profit_summary
    -- db: my_db
    -- queue: high_priority
    -- conc: 5
    -- results: my_results
    SELECT SUM(amount) AS total, entry_date
    FROM entries WHERE user_id = $1 GROUP BY entry_date;

Parsing mirrors tasks.go:30-151: glob ``*.sql`` per configured dir,
reject duplicate task names within and across dirs (tasks.go:39-41,
82-84), validate ``-- db:`` / ``-- results:`` routing tags against the
configured pools (tasks.go:86-106), and — unless ``-- raw: 1`` —
validate the statement at load time, the analog of the reference's
discarded ``Prepare()`` (tasks.go:108-121; quirk: the prepared handle
is never used, so preparation is effectively fail-fast validation).

Per reference quirk Q8 (tasks.go:130 reads ``conc`` but shipped task
files write ``concurrency``), both spellings are accepted here.

Placeholder normalization: the reference passes ``$1..$n`` (postgres)
or ``?`` (mysql) through verbatim to the source DB (core.go:496). Spark
parameterized SQL wants named markers, so both styles are rewritten to
``:p1..:pn`` at load time, skipping quoted strings and comments.
"""

from __future__ import annotations

import glob
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

# Matches, in order: single-quoted strings (with '' escapes),
# double-quoted identifiers, line comments, /* */ block comments,
# $n markers, ? markers. The comment/string branches exist so markers
# INSIDE them are left alone and don't inflate nargs.
_PLACEHOLDER_RE = re.compile(
    r"""
    (?P<str>'(?:[^']|'')*')
  | (?P<ident>"(?:[^"]|"")*")
  | (?P<comment>--[^\n]*)
  | (?P<block>/\*.*?\*/)
  | \$(?P<dollar>\d+)
  | (?P<qmark>\?)
    """,
    re.VERBOSE | re.DOTALL,
)

_NAME_TAG_RE = re.compile(r"^\s*--\s*name\s*:\s*(\S+)\s*$")
_TAG_RE = re.compile(r"^\s*--\s*([A-Za-z_]+)\s*:\s*(.*?)\s*$")


def normalize_placeholders(sql: str) -> tuple[str, int]:
    """Rewrite ``$n`` / ``?`` to named params ``:pN``; return (sql, nargs).

    ``?`` markers are numbered sequentially; ``$n`` keeps its index (so
    a repeated ``$1`` binds the same argument twice, matching postgres
    semantics the reference relies on).
    """
    nargs = 0
    qmark_idx = 0

    def sub(m: re.Match[str]) -> str:
        nonlocal nargs, qmark_idx
        if m.group("dollar"):
            i = int(m.group("dollar"))
            nargs = max(nargs, i)
            return f":p{i}"
        if m.group("qmark"):
            qmark_idx += 1
            nargs = max(nargs, qmark_idx)
            return f":p{qmark_idx}"
        return m.group(0)

    return _PLACEHOLDER_RE.sub(sub, sql), nargs


_INT_RE = re.compile(r"-?\d+")
_FLOAT_RE = re.compile(r"-?\d+\.\d+")


def _coerce(v: object) -> object:
    """Canonical numeric strings → int/float.

    The reference passes every arg as text and lets the source DB
    infer the parameter's type from context (core.go:376-378 boxes
    []string; postgres coerces). Spark's parameterized ``sql`` does no
    such inference — a LIMIT or arithmetic slot rejects a string — so
    canonical numerals ('7', '-3', '2.5'; not '007', which may be an
    identifier) become numbers. Dates/timestamps stay strings: Spark
    coerces string↔timestamp in comparisons.
    """
    if isinstance(v, str):
        if _INT_RE.fullmatch(v) and str(int(v)) == v:
            return int(v)
        if _FLOAT_RE.fullmatch(v):
            return float(v)
    return v


def bind_args(args: list) -> dict[str, object]:
    """Positional args → the named-param dict for ``spark.sql``."""
    return {f"p{i + 1}": _coerce(v) for i, v in enumerate(args)}


@dataclass
class Task:
    """Mirror of the reference Task struct (tasks.go:16-24)."""

    name: str
    stmt: str  # normalized SQL (named params)
    raw_stmt: str  # original text as written in the file
    queue: str = "default"
    conc: int = 0  # 0 → engine default worker concurrency
    raw: bool = False  # skip load-time validation
    dbs: list[str] = field(default_factory=list)
    result_backends: list[str] = field(default_factory=list)
    nargs: int = 0
    # result-table layout: `-- partition_by: col[,col]` writes the
    # job's result table partitioned by these columns, so downstream
    # readers of a large result get partition pruning for free.
    # (Engine extension — the reference's result tables are flat.)
    partition_by: list[str] = field(default_factory=list)


class TaskLoadError(Exception):
    pass


def _parse_file(path: str) -> list[tuple[Task, dict[str, str]]]:
    """Parse one goyesql file into (task, raw-tags) pairs."""
    out: list[tuple[Task, dict[str, str]]] = []
    name: str | None = None
    tags: dict[str, str] = {}
    sql_lines: list[str] = []
    seen_sql = False

    def flush() -> None:
        nonlocal name, tags, sql_lines, seen_sql
        if name is None:
            # a file header before the first `-- name:` belongs to no task
            sql_lines, seen_sql = [], False
            return
        body = "\n".join(sql_lines).strip().rstrip(";").strip()
        if not body:
            raise TaskLoadError(f"task {name} in {path} has no SQL body")
        stmt, nargs = normalize_placeholders(body)
        out.append(
            (
                Task(name=name, stmt=stmt, raw_stmt=body, nargs=nargs),
                tags,
            )
        )
        name, tags, sql_lines, seen_sql = None, {}, [], False

    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            nm = _NAME_TAG_RE.match(line)
            if nm:
                flush()
                name = nm.group(1)
                continue
            tm = _TAG_RE.match(line)
            if tm and name is not None and not seen_sql:
                tags[tm.group(1).lower()] = tm.group(2)
                continue
            if line.strip():
                seen_sql = True
            sql_lines.append(line)
    flush()
    return out


def load_tasks(
    dirs: list[str],
    *,
    default_queue: str = "default",
    source_names: list[str] | None = None,
    result_backend_names: list[str] | None = None,
    spark: SparkSession | None = None,
) -> dict[str, Task]:
    """Load every ``*.sql`` under ``dirs`` into a task registry.

    Mirrors ``core.LoadTasks`` (tasks.go:30-50): duplicate names are an
    error across all dirs; routing tags are validated against the
    configured source / result-backend names; non-raw statements are
    validated against Spark's SQL parser (the Prepare() analog).
    """
    tasks: dict[str, Task] = {}
    for d in dirs:
        paths = sorted(glob.glob(os.path.join(d, "*.sql")))
        for path in paths:
            for task, tags in _parse_file(path):
                if task.name in tasks:
                    raise TaskLoadError(f"duplicate task name: {task.name} ({path})")
                _apply_tags(task, tags, default_queue, source_names, result_backend_names)
                if not task.raw and spark is not None:
                    validate_sql(spark, task.stmt, task.name)
                tasks[task.name] = task
    return tasks


def _apply_tags(
    task: Task,
    tags: dict[str, str],
    default_queue: str,
    source_names: list[str] | None,
    result_backend_names: list[str] | None,
) -> None:
    task.queue = tags.get("queue", "").strip() or default_queue
    # Accept both spellings (reference quirk Q8: code reads `conc`,
    # shipped files write `concurrency`).
    conc = tags.get("conc", tags.get("concurrency", "")).strip()
    if conc:
        task.conc = int(conc)
    task.raw = tags.get("raw", "").strip() in ("1", "true", "yes")
    if tags.get("db", "").strip():
        task.dbs = [s.strip() for s in tags["db"].split(",") if s.strip()]
        if source_names is not None:
            for n in task.dbs:
                if n not in source_names:
                    raise TaskLoadError(f"unknown db {n} in task {task.name}")
    if tags.get("partition_by", "").strip():
        task.partition_by = [
            s.strip() for s in tags["partition_by"].split(",") if s.strip()
        ]
    if tags.get("results", "").strip():
        task.result_backends = [s.strip() for s in tags["results"].split(",") if s.strip()]
        if result_backend_names is not None:
            for n in task.result_backends:
                if n not in result_backend_names:
                    raise TaskLoadError(f"unknown result backend {n} in task {task.name}")


def validate_sql(spark: SparkSession, stmt: str, task_name: str) -> None:
    """Load-time fail-fast validation — the ``Prepare()`` analog.

    Uses Spark's SQL parser (syntax check only; the referenced views
    need not exist yet, just as the reference validates against the DB
    at startup before any job data exists).
    """
    try:
        # Parse-only: named params are legal parser-level tokens.
        spark._jsparkSession.sessionState().sqlParser().parsePlan(stmt)
    except Exception as exc:  # noqa: BLE001
        msg = str(exc)
        if "ParseException" in type(exc).__name__ or "PARSE_SYNTAX_ERROR" in msg:
            raise TaskLoadError(f"task {task_name}: SQL syntax error: {msg[:500]}")
        # Anything else (py4j plumbing) — skip validation rather than
        # fail the load; execution will surface real errors.
