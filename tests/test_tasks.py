"""Task parser unit tests (reference: internal/core/tasks.go).

The reference has no unit tests for its parser; these encode the
behaviors its code + shipped task files rely on (goyesql blocks, tag
routing, duplicate rejection, placeholder styles, quirk Q8).
"""

from __future__ import annotations

import pytest

from dungbeetle_spark.tasks import (
    TaskLoadError,
    bind_args,
    load_tasks,
    normalize_placeholders,
)

SAMPLE = """\
-- name: get_profit_summary
-- db: my_db
-- queue: high
-- concurrency: 5
SELECT SUM(amount) AS total, entry_date
FROM entries WHERE user_id = $1 GROUP BY entry_date;

-- name: get_profit_entries
-- conc: 3
SELECT * FROM entries WHERE user_id = ?;

-- name: raw_one
-- raw: 1
SELECT 1;
"""


@pytest.fixture
def task_dir(tmp_path):
    (tmp_path / "test.sql").write_text(SAMPLE)
    return str(tmp_path)


def test_parse_blocks_and_tags(task_dir):
    tasks = load_tasks([task_dir], source_names=["my_db"])
    assert set(tasks) == {"get_profit_summary", "get_profit_entries", "raw_one"}
    t = tasks["get_profit_summary"]
    assert t.queue == "high"
    assert t.conc == 5  # `concurrency:` spelling accepted (quirk Q8)
    assert t.dbs == ["my_db"]
    assert t.nargs == 1
    assert ":p1" in t.stmt and "$1" not in t.stmt
    assert tasks["get_profit_entries"].conc == 3  # `conc:` spelling
    assert tasks["raw_one"].raw


def test_leading_comment_block_is_not_part_of_the_first_task(tmp_path):
    """A file header before the first ``-- name:`` belongs to no task:
    the first task keeps its tags and a header-free statement (the
    shipped tasks_sql/test.sql starts with such a header)."""
    header = "-- Shipped task fixtures.\n-- Placeholders: $n and ?.\n\n"
    (tmp_path / "test.sql").write_text(header + SAMPLE)
    t = load_tasks([str(tmp_path)], source_names=["my_db"])["get_profit_summary"]
    assert t.queue == "high" and t.conc == 5 and t.dbs == ["my_db"]
    assert t.raw_stmt.startswith("SELECT SUM(amount)")


def test_duplicate_names_rejected(tmp_path):
    (tmp_path / "a.sql").write_text("-- name: t1\nSELECT 1;\n")
    (tmp_path / "b.sql").write_text("-- name: t1\nSELECT 2;\n")
    with pytest.raises(TaskLoadError, match="duplicate"):
        load_tasks([str(tmp_path)])


def test_unknown_db_tag_rejected(tmp_path):
    (tmp_path / "a.sql").write_text("-- name: t1\n-- db: nope\nSELECT 1;\n")
    with pytest.raises(TaskLoadError, match="unknown db"):
        load_tasks([str(tmp_path)], source_names=["real"])


def test_unknown_results_tag_rejected(tmp_path):
    (tmp_path / "a.sql").write_text("-- name: t1\n-- results: nope\nSELECT 1;\n")
    with pytest.raises(TaskLoadError, match="unknown result backend"):
        load_tasks([str(tmp_path)], result_backend_names=["real"])


def test_empty_body_rejected(tmp_path):
    (tmp_path / "a.sql").write_text("-- name: t1\n")
    with pytest.raises(TaskLoadError, match="no SQL body"):
        load_tasks([str(tmp_path)])


def test_dollar_placeholders_keep_index():
    sql, n = normalize_placeholders("SELECT * FROM t WHERE a = $2 AND b = $1 AND c = $1")
    assert n == 2
    assert sql == "SELECT * FROM t WHERE a = :p2 AND b = :p1 AND c = :p1"


def test_qmark_placeholders_sequential():
    sql, n = normalize_placeholders("SELECT * FROM t WHERE a = ? AND b = ?")
    assert n == 2
    assert sql == "SELECT * FROM t WHERE a = :p1 AND b = :p2"


def test_placeholders_skip_strings_and_comments():
    sql, n = normalize_placeholders(
        "SELECT '$1 ? literal', \"colum?n\" FROM t -- trailing $2 ?\nWHERE x = $1"
    )
    assert n == 1
    assert "'$1 ? literal'" in sql
    assert '"colum?n"' in sql
    assert "-- trailing $2 ?" in sql
    assert sql.endswith("WHERE x = :p1")


def test_placeholders_skip_block_comments():
    sql, n = normalize_placeholders(
        "SELECT a /* doc: pass $3 or ?\n   spanning lines */ FROM t WHERE x = $1"
    )
    assert n == 1  # markers inside /* */ must not inflate nargs
    assert "/* doc: pass $3 or ?\n   spanning lines */" in sql
    assert sql.endswith("WHERE x = :p1")


def test_bind_args():
    assert bind_args(["a", 2]) == {"p1": "a", "p2": 2}


def test_partition_by_tag(tmp_path):
    from dungbeetle_spark.tasks import load_tasks

    (tmp_path / "p.sql").write_text(
        "-- name: t1\n-- partition_by: event_type, entry_date\n"
        "SELECT 1 AS x;\n"
    )
    tasks = load_tasks([str(tmp_path)])
    assert tasks["t1"].partition_by == ["event_type", "entry_date"]
