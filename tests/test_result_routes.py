"""The two result-write routes of ``ParquetResultBackend``.

A driver-sized result (optimizer estimate within
``spark.sql.autoBroadcastJoinThreshold``, no ``partition_by``) is
collected once as Arrow and swapped in as one parquet file; everything
else goes through Spark's writer. These tests pin that both routes land
the same table, that routing follows the estimate, that a collect
aborted on ``spark.driver.maxResultSize`` falls back to the Spark
writer, and that a cancel on the driver route leaves nothing behind.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import DataFrame

from dungbeetle_spark import jobstore
from dungbeetle_spark.core import Core, JobReq
from dungbeetle_spark.results import ParquetResultBackend, canonical_cast

TASKS_SQL = """\
-- name: user_days
SELECT SUM(value) AS total, CAST(ts AS DATE) AS entry_date
FROM events WHERE user_id = $1 GROUP BY CAST(ts AS DATE);

-- name: per_type
-- partition_by: event_type
SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type;

-- name: slow_query
-- raw: 1
SELECT reflect('java.lang.Thread', 'sleep', 3000L) AS slept;
"""

ALL_TYPES_SQL = """
SELECT CAST(1.5 AS DOUBLE) AS d, CAST(2.25 AS DECIMAL(10, 2)) AS dec,
  DATE'2024-01-02' AS dt, TIMESTAMP'2024-01-02 03:04:05.123456' AS ts,
  TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ntz, true AS b,
  array(1, 2, 3) AS arr, named_struct('a', 1, 'b', 'x') AS st,
  CAST(7 AS INT) AS i, 'txt' AS s
UNION ALL
SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
"""


@pytest.fixture(scope="module")
def core(spark, sf_smoke, tmp_path_factory):
    sql_dir = tmp_path_factory.mktemp("route_tasks")
    (sql_dir / "test.sql").write_text(TASKS_SQL)
    c = Core(spark, worker_concurrency=2)
    c.add_source("testdata", sf_smoke)
    c.add_result_backend("default", str(tmp_path_factory.mktemp("route_results")))
    c.load_task_dirs([str(sql_dir)])
    c.start()
    yield c
    c.stop()


@pytest.fixture
def routes(monkeypatch):
    """Record which route wrote each job id."""
    taken: dict[str, str] = {}
    for route in ("_write_collected", "_write_distributed"):
        orig = getattr(ParquetResultBackend, route)

        def spy(self, job_id, *args, _orig=orig, _route=route):
            taken[job_id] = _route
            return _orig(self, job_id, *args)

        monkeypatch.setattr(ParquetResultBackend, route, spy)
    return taken


def _run(core: Core, task: str, args: list[str] | None = None) -> tuple[str, int]:
    """Run one job to SUCCESS; return (job_id, count)."""
    resp = core.new_job(task, JobReq(args=args or []))
    deadline = time.time() + 90
    while time.time() < deadline:
        st = core.job_status(resp.job_id)
        if st["state"] in (jobstore.SUCCESS, jobstore.FAILURE):
            assert st["state"] == jobstore.SUCCESS, st["error"]
            return resp.job_id, st["count"]
        time.sleep(0.05)
    raise AssertionError(f"job {resp.job_id} did not finish")


def _rows(df: DataFrame) -> list:
    return sorted(df.collect(), key=repr)


def test_both_routes_write_the_same_table(spark, tmp_path):
    backend = ParquetResultBackend("routes", str(tmp_path))
    out = canonical_cast(spark.sql(ALL_TYPES_SQL))
    assert backend._write_collected("drv", out) == 2
    assert backend._write_distributed("spk", out, []) == 2
    drv, spk = backend.read(spark, "drv"), backend.read(spark, "spk")
    assert drv.schema == spk.schema
    assert drv.schema.simpleString() == (
        "struct<d:decimal(38,18),dec:decimal(10,2),dt:date,ts:timestamp,"
        "ntz:timestamp_ntz,b:boolean,arr:array<bigint>,st:string,i:bigint,"
        "s:string>"
    )
    assert _rows(drv) == _rows(spk)
    assert drv.filter("i = 7").first().st == '{"a":1,"b":"x"}'
    # a 0-row result still carries its schema
    empty = out.limit(0)
    assert backend._write_collected("drv0", empty) == 0
    assert backend._write_distributed("spk0", empty, []) == 0
    drv0, spk0 = backend.read(spark, "drv0"), backend.read(spark, "spk0")
    assert drv0.schema == spk0.schema == drv.schema
    assert drv0.count() == 0
    # one file, no commit markers, no staging left behind
    assert os.listdir(backend.table_path("drv")) == ["part-00000.parquet"]
    assert not [d for d in os.listdir(tmp_path) if "__" in d]


def test_routing_follows_the_size_estimate(core, routes):
    job_id, count = _run(core, "user_days", ["7"])
    assert routes == {job_id: "_write_collected"}
    assert core.read_result(job_id).count() == count > 0
    routes.clear()

    _run(core, "per_type")  # partition_by → Spark's writer
    assert list(routes.values()) == ["_write_distributed"]
    routes.clear()

    sess = core._sessions["testdata"]
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = sess.conf.get(key)
    sess.conf.set(key, "-1")  # <= 0 disables the driver route
    try:
        _run(core, "user_days", ["7"])
    finally:
        sess.conf.set(key, saved)
    assert list(routes.values()) == ["_write_distributed"]


def test_collect_abort_on_max_result_size_falls_back(spark, tmp_path, monkeypatch):
    backend = ParquetResultBackend("fallback", str(tmp_path))
    df = spark.range(5)

    def abort(self):
        raise RuntimeError(
            "Job aborted due to stage failure: Total size of serialized "
            "results of 1 tasks (9.0 MiB) is bigger than "
            "spark.driver.maxResultSize (1024.0 KiB)"
        )

    monkeypatch.setattr(type(df), "toArrow", abort)
    assert backend.write("j", "t", df) == 5
    assert "_SUCCESS" in os.listdir(backend.table_path("j"))  # Spark's writer
    assert backend.read(spark, "j").count() == 5

    def other(self):
        raise RuntimeError("some other failure")

    monkeypatch.setattr(type(df), "toArrow", other)
    with pytest.raises(RuntimeError, match="some other failure"):
        backend.write("k", "t", df)
    assert sorted(os.listdir(tmp_path)) == ["results_j"]


def test_cancel_on_driver_route_leaves_no_table_or_staging(core, routes):
    core.new_job("slow_query", JobReq(job_id="route_doomed"))
    time.sleep(0.8)
    core.cancel_job("route_doomed")
    deadline = time.time() + 30
    while "route_doomed" in core._running and time.time() < deadline:
        time.sleep(0.05)
    assert routes["route_doomed"] == "_write_collected"
    backend = core.result_backends.get("default")
    assert not os.path.exists(backend.table_path("route_doomed"))
    assert not [d for d in os.listdir(backend.path) if "route_doomed" in d]


def test_compact_sweeps_stale_write_staging(spark, tmp_path):
    """Staging dirs of crashed driver-route writes are swept by the
    next compaction of the table; a live write's staging dir is kept."""
    backend = ParquetResultBackend("sweep", str(tmp_path))
    assert backend.write("j", "t", spark.range(3)) == 3
    path = backend.table_path("j")
    stale, live = f"{path}__writing_dead", f"{path}__writing_live"
    os.makedirs(stale)
    os.makedirs(live)
    backend._staging.add(live)
    assert backend.compact(spark, "j") == 3
    assert os.path.isdir(live) and not os.path.exists(stale)
    assert backend.read(spark, "j").count() == 3
