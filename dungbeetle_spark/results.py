"""Result materialization: per-job result tables with canonical types.

The reference streams each job's rows into a freshly created table
``results_<job_id>`` in a results database, collapsing source column
types into a small canonical set — BIGINT / DECIMAL / TIMESTAMP / DATE /
BOOLEAN / JSON / TEXT (reference: internal/resultbackends/sqldb/
sqldb.go:230-305; README "Results"). Schema generation is cached per
task name (sqldb.go:38-41, 147-153) and every job DROPs + re-CREATEs
its own table (sqldb.go:179-186) — i.e. overwrite semantics.

Spark-first mapping: the row-at-a-time INSERT pipeline (core.go:556-565,
sqldb.go:195-207 — one INSERT per row in one tx) becomes one columnar
write of the canonical-cast frame, by one of two routes chosen from
the optimizer's size estimate of that frame
(``optimizedPlan.stats.sizeInBytes``):

- **driver route** — the estimate is at most the session's
  ``spark.sql.autoBroadcastJoinThreshold`` (the bound Spark already
  uses to pull a broadcast side through the driver; <= 0 disables the
  route) and the task has no ``partition_by``. The result is collected
  once as Arrow and written as a single ``part-00000.parquet`` carrying
  Spark's own schema footer, into a sibling staging dir that is swapped
  in by rename. A small result thus skips Hadoop's file commit
  (committer mkdirs, ``_SUCCESS``, ``.crc`` files), which dominates the
  latency of a small job. Readers never see a partial table.
- **distributed route** — everything else: Spark's parquet writer in
  overwrite mode, parallel on the cluster, with the row count taken by
  an ``Observation`` on the write pass. A driver-route collect that
  aborts on ``spark.driver.maxResultSize`` (the estimate can undershoot,
  e.g. past an ``explode``) falls back to this route.

Both routes land the same table: equal schema and rows on read.
"""

from __future__ import annotations

import glob
import os
import random
import re
import shutil
import threading
import uuid
from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Canonical collapse of Spark types, mirroring sqldb.go:254-281.
# DECIMAL(38,18) covers postgres NUMERIC semantics for aggregates.
_DECIMAL = T.DecimalType(38, 18)


def canonical_type(dt: T.DataType) -> T.DataType:
    """Map an arbitrary Spark type onto the reference's canonical set."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return T.LongType()  # INT* → BIGINT (sqldb.go:257-258)
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        # FLOAT/DOUBLE/NUMERIC → DECIMAL (sqldb.go:259-260). Keep an
        # explicit decimal so the golden schema check (`total` →
        # numeric, server_test.go.bak:282-285) holds.
        return dt if isinstance(dt, T.DecimalType) else _DECIMAL
    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampNTZType()
    if isinstance(dt, T.TimestampType):
        return T.TimestampType()  # TIMESTAMP/DATETIME (sqldb.go:261-262)
    if isinstance(dt, T.DateType):
        return T.DateType()  # DATE (sqldb.go:263-264)
    if isinstance(dt, T.BooleanType):
        return T.BooleanType()  # BOOLEAN (sqldb.go:265-266)
    if isinstance(dt, T.ArrayType):
        # pg array passthrough (_INT4/_INT8/_TEXT, sqldb.go:273-276):
        # collapse the element type, keep the array.
        return T.ArrayType(canonical_type(dt.elementType), dt.containsNull)
    # JSON/VARCHAR/everything else → TEXT (sqldb.go:267-280). Structs
    # and maps don't exist in the reference's model; serialize to JSON
    # text to honor the collapse contract.
    return T.StringType()


def canonical_cast(df: DataFrame) -> DataFrame:
    """Project ``df`` onto canonical result types (§1.3 of SURVEY.md)."""
    cols = []
    for f_ in df.schema.fields:
        target = canonical_type(f_.dataType)
        if isinstance(f_.dataType, (T.StructType, T.MapType)):
            cols.append(F.to_json(F.col(f_.name)).alias(f_.name))
        elif target == f_.dataType:
            cols.append(F.col(f_.name))
        else:
            cols.append(F.col(f_.name).cast(target).alias(f_.name))
    return df.select(*cols)


_TABLE_RE = re.compile(r"%s")


class ParquetResultBackend:
    """One named results warehouse (a directory of per-job tables).

    Mirrors ``sqldb.SQLDBResultBackend``: configurable table-name
    template defaulting to ``results_%s`` (sqldb.go:77-81, 99), a
    per-task schema cache standing in for the reference's cached
    CREATE/INSERT DDL (sqldb.go:38-41), and overwrite-per-job
    semantics.
    """

    def __init__(self, name: str, path: str, table_template: str = "results_%s"):
        if "%s" not in table_template:
            table_template += "_%s"
        self.name = name
        self.path = path.rstrip("/")
        self.table_template = table_template
        # task name → StructType, the IsColTypesRegistered analog
        # (sqldb.go:147-153). Purely observational in Spark (inference
        # is free) but kept for the schema-stability contract: a task's
        # result schema must not drift between jobs.
        self._schemas: dict[str, T.StructType] = {}
        self._lock = threading.Lock()
        self._compacting: set[str] = set()  # tables mid-compaction
        self._staging: set[str] = set()  # live driver-route staging dirs

    # -- naming -------------------------------------------------------
    def table_name(self, job_id: str) -> str:
        return self.table_template % job_id

    def table_path(self, job_id: str) -> str:
        return f"{self.path}/{self.table_name(job_id)}"

    # -- schema cache (RegisterColTypes / IsColTypesRegistered) -------
    def is_registered(self, task_name: str) -> bool:
        with self._lock:
            return task_name in self._schemas

    def registered_schema(self, task_name: str) -> T.StructType | None:
        with self._lock:
            return self._schemas.get(task_name)

    # -- materialization ----------------------------------------------
    def write(
        self,
        job_id: str,
        task_name: str,
        df: DataFrame,
        partition_by: Iterable[str] = (),
    ) -> int:
        """Canonical-cast + overwrite ``results_<job_id>``; return rowcount.

        The row count is the job's only "result" payload, surfaced by
        status polls (core.go:436, 183-190). A driver-sized result with
        no ``partition_by`` is collected once as Arrow and swapped in
        whole (``_write_collected``; the count is the collected table's
        length); anything else, or a collect that aborts on
        ``spark.driver.maxResultSize``, goes through Spark's writer
        (``_write_distributed``). See the module docstring for the
        size bound.
        """
        out = canonical_cast(df)
        with self._lock:
            self._schemas.setdefault(task_name, out.schema)
        cols = list(partition_by)
        if not cols and _driver_sized(out):
            n = self._write_collected(job_id, out)
            if n is not None:
                return n
        return self._write_distributed(job_id, out, cols)

    def _write_collected(self, job_id: str, out: DataFrame) -> int | None:
        """One Arrow collect (inside the caller's job group, so a cancel
        interrupts it), one ``part-00000.parquet`` in a staging dir,
        one swap. Spark's schema footer makes the file read back with
        the exact schema Spark's own writer would have recorded.
        Returns None, having written nothing, when the collect aborts
        on ``spark.driver.maxResultSize``."""
        import pyarrow.parquet as pq

        try:
            table = out.toArrow()
        except Exception as exc:  # noqa: BLE001 - py4j or pyspark error
            if "spark.driver.maxResultSize" in str(exc):
                return None
            raise
        table = table.replace_schema_metadata(
            {
                _SPARK_SCHEMA_KEY: out.schema.json(),
                _SPARK_VERSION_KEY: out.sparkSession.version,
            }
        )
        path = self.table_path(job_id)
        staging = f"{path}__writing_{uuid.uuid4().hex[:8]}"
        with self._lock:
            self._staging.add(staging)
        try:
            os.makedirs(staging)
            pq.write_table(table, f"{staging}/part-00000.parquet")
            self._swap_in(staging, path)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
            with self._lock:
                self._staging.discard(staging)
        return table.num_rows

    def _write_distributed(
        self, job_id: str, out: DataFrame, partition_by: list[str]
    ) -> int:
        """Spark's parquet writer, overwriting in place. The count comes
        from an ``Observation`` on the write pass itself — rows are
        counted as they stream through the writer, so there is no
        second scan of the result (and no recompute of the query)."""
        from pyspark.sql import Observation

        obs = Observation()
        writer = out.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.table_path(job_id))
        return int(obs.get["n"])

    def _swap_in(self, staged: str, path: str, must_exist: bool = False) -> None:
        """Replace ``path`` by the fully written ``staged`` dir: two
        renames under the backend lock, serialized against
        delete/reaper, compacts and other writes. The crash window
        between the renames is the reference's DROP+CREATE guarantee
        level (sqldb.go:179-186). ``must_exist`` refuses to resurrect
        a table deleted meanwhile."""
        old = f"{path}__old_{uuid.uuid4().hex[:8]}"
        with self._lock:
            if os.path.isdir(path):
                os.rename(path, old)
            elif must_exist:
                raise FileNotFoundError(f"{path} was deleted during compaction")
            os.rename(staged, path)
            shutil.rmtree(old, ignore_errors=True)

    def read(self, spark: SparkSession, job_id: str) -> DataFrame:
        return spark.read.parquet(self.table_path(job_id))

    def delete(self, job_id: str) -> None:
        with self._lock:  # serialize vs a concurrent swap
            shutil.rmtree(self.table_path(job_id), ignore_errors=True)

    def compact(
        self, spark: SparkSession, job_id: str, target_files: int = 1
    ) -> int:
        """Rewrite ``results_<job_id>`` into ``target_files`` files.

        Warehouse maintenance: a result written by a wide cluster
        lands one file per task — at 100 TB the per-job table sprawl
        becomes a metadata/open-cost problem for every reader. The
        rewrite lands in a sibling temp dir with the row count taken
        from an Observation on the write pass (no re-read), is
        verified against the source count, and is swapped in by
        ``_swap_in``. Hive-partitioned result tables (``partition_by``
        tasks) are refused: a flat rewrite would drop the layout and
        partition-type inference can corrupt key values (e.g. leading
        zeros). Returns the row count.
        """
        from pyspark.sql import Observation

        path = self.table_path(job_id)
        if any(
            "=" in entry and os.path.isdir(os.path.join(path, entry))
            for entry in os.listdir(path)
        ):
            raise NotImplementedError(
                f"{path} is hive-partitioned (partition_by task); "
                "compaction would flatten the layout"
            )
        # One compaction per table at a time: a second concurrent call
        # fails fast instead of racing the first one's scratch dirs.
        with self._lock:
            if path in self._compacting:
                raise RuntimeError(f"compaction of {path} already in progress")
            self._compacting.add(path)
            # scratch left by crashed compacts and writes (live write
            # staging dirs are tracked and kept)
            for stale in (
                glob.glob(f"{path}__compacting_*")
                + glob.glob(f"{path}__old_*")
                + glob.glob(f"{path}__writing_*")
            ):
                if stale not in self._staging:
                    shutil.rmtree(stale, ignore_errors=True)
        tmp = f"{path}__compacting_{uuid.uuid4().hex[:8]}"
        try:
            df = spark.read.parquet(path)
            n_before = df.count()
            obs = Observation()
            (
                df.observe(obs, F.count(F.lit(1)).alias("n"))
                .coalesce(max(target_files, 1))
                .write.mode("overwrite")
                .parquet(tmp)
            )
            n_after = int(obs.get["n"])
            if n_after != n_before:  # pragma: no cover - write corruption
                raise RuntimeError(
                    f"compaction of {path} changed row count "
                    f"({n_before} -> {n_after}); original left untouched"
                )
            self._swap_in(tmp, path, must_exist=True)
            return n_after
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            with self._lock:
                self._compacting.discard(path)


_SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"
_SPARK_VERSION_KEY = "org.apache.spark.version"


def _driver_sized(df: DataFrame) -> bool:
    """True when the optimizer's size estimate of ``df`` is within the
    session's broadcast bound (``spark.sql.autoBroadcastJoinThreshold``;
    <= 0 disables the driver route). Joins multiply the estimate and
    leaves without statistics report ``spark.sql.defaultSizeInBytes``,
    so such plans mostly stay on the distributed route."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    bound = conf.autoBroadcastJoinThreshold()
    if bound <= 0:
        return False
    # a Scala BigInt; str() reads it whether or not py4j converted it
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(str(size)) <= bound


class ResultBackends:
    """Named backend registry with random routing (results.go:30-63)."""

    def __init__(self, backends: Mapping[str, ParquetResultBackend] | None = None):
        self._backends: dict[str, ParquetResultBackend] = dict(backends or {})

    def add(self, backend: ParquetResultBackend) -> None:
        self._backends[backend.name] = backend

    def names(self) -> list[str]:
        return list(self._backends)

    def get(self, name: str) -> ParquetResultBackend:
        try:
            return self._backends[name]
        except KeyError:
            raise KeyError(f"unknown result backend: {name}") from None

    def get_random(self, names: Iterable[str] | None = None) -> ParquetResultBackend:
        pool = list(names) if names else list(self._backends)
        if not pool:
            raise ValueError("no result backends configured")
        return self.get(random.choice(pool))

    def filter_by_tags(self, tags: Iterable[str]) -> list[str]:
        tags = [t for t in tags if t]
        for t in tags:
            if t not in self._backends:
                raise KeyError(f"unknown result backend {t} in task tag")
        return tags or list(self._backends)

    def __len__(self) -> int:
        return len(self._backends)


class JdbcResultBackend:
    """Results written to an external SQL database over JDBC — the
    direct analog of the reference's SQL result backends
    (internal/resultbackends/sqldb/sqldb.go): per-job table
    ``results_<job_id>``, overwrite semantics, canonical type collapse
    before the write (Spark's JDBC writer maps LongType→BIGINT,
    DecimalType→NUMERIC, etc., landing the same schema the reference
    produces).

    Scale notes: ``numPartitions`` bounds concurrent INSERT
    connections (the reference's max_active analog) and ``batchsize``
    replaces its row-at-a-time INSERT loop with batched writes.
    Requires the vendor driver jar; construction is cheap/validated,
    connection happens at write time.
    """

    def __init__(
        self,
        name: str,
        url: str,
        properties: Mapping[str, str] | None = None,
        table_template: str = "results_%s",
        num_partitions: int = 8,
        batchsize: int = 10_000,
        dbapi_connect=None,
    ):
        if not url.startswith("jdbc:"):
            raise ValueError(f"JDBC url must start with 'jdbc:': {url!r}")
        if "%s" not in table_template:
            table_template += "_%s"
        self.name = name
        self.url = url
        self.properties = dict(properties or {})
        self.table_template = table_template
        self.num_partitions = num_partitions
        self.batchsize = batchsize
        # DDL seam: Spark's JDBC writer has no DROP TABLE path, so TTL
        # deletion needs a direct DBAPI connection (psycopg2 / mysql
        # driver / sqlite3). Callers inject a zero-arg factory; sqlite
        # URLs get one automatically (stdlib).
        self.dbapi_connect = dbapi_connect
        self._schemas: dict[str, T.StructType] = {}
        self._lock = threading.Lock()

    def table_name(self, job_id: str) -> str:
        return self.table_template % job_id

    def table_path(self, job_id: str) -> str:
        return f"{self.url}#{self.table_name(job_id)}"

    def is_registered(self, task_name: str) -> bool:
        with self._lock:
            return task_name in self._schemas

    def write(
        self,
        job_id: str,
        task_name: str,
        df: DataFrame,
        partition_by: Iterable[str] = (),  # noqa: ARG002 — JDBC tables are flat
    ) -> int:
        from pyspark.sql import Observation

        # Count on the write pass itself (Observation): re-reading the
        # written table would be a SECOND full transfer over JDBC.
        obs = Observation()
        out = (
            canonical_cast(df)
            .coalesce(self.num_partitions)
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        with self._lock:
            self._schemas.setdefault(task_name, out.schema)
        (
            out.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.table_name(job_id))
            .option("batchsize", str(self.batchsize))
            .options(**self.properties)
            .mode("overwrite")
            .save()
        )
        return int(obs.get["n"])

    def read(self, spark: SparkSession, job_id: str) -> DataFrame:
        return (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.table_name(job_id))
            .options(**self.properties)
            .load()
        )

    def _connect(self):
        if self.dbapi_connect is not None:
            return self.dbapi_connect()
        if self.url.startswith("jdbc:sqlite:"):
            import sqlite3

            return sqlite3.connect(self.url[len("jdbc:sqlite:") :])
        raise NotImplementedError(
            "JDBC result deletion needs a DBAPI connection factory "
            f"(dbapi_connect=...) for {self.url.split(':', 2)[1]} urls; "
            "without one, configure retention on the results database"
        )

    def delete(self, job_id: str) -> None:
        """DROP the job's result table via a direct DBAPI connection.

        The reference documents TTL as unsupported on SQL backends
        (README 'ttl' row); here the reaper covers JDBC too, issuing
        the same DROP TABLE its parquet twin does with rmtree
        (sqldb.go:179-186 is the overwrite-path DROP this mirrors).
        """
        name = self.table_name(job_id)
        # MySQL-family servers reject ANSI double-quoted identifiers
        # under the default sql_mode — a wrongly-quoted DROP would be
        # retried by the reaper forever as a 'transient' failure.
        if self.url.startswith(("jdbc:mysql:", "jdbc:mariadb:")):
            table = "`" + name.replace("`", "``") + "`"
        else:
            table = '"' + name.replace('"', '""') + '"'
        con = self._connect()
        try:
            cur = con.cursor()
            cur.execute(f"DROP TABLE IF EXISTS {table}")
            con.commit()
        finally:
            con.close()
