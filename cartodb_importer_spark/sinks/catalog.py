"""Table catalogs implementing the reference's publish protocol:

    write staging table `importing_<unix_ts>_<name>`  (importer.rb:355)
    -> atomic RENAME to the final name                (importer.rb:389)
    -> count what actually landed                     (importer.rb:396)
    with rollback dropping the staging table on error (importer.rb:460-468)

Two implementations:

* JdbcCatalog — df.write.jdbc to Postgres + DDL over a JDBC connection
  (rename, GIST index on the_geom). Production parity with the reference.
* LocalCatalog — a parquet directory as the warehouse; rename is an atomic
  directory move. Hermetic (no external DB), used by tests and available as
  a real sink (a parquet lakehouse IS the 100 TB-native target).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


#: footer key under which Spark stores the row schema of a parquet file
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType | None:
    """Schema ``spark.read.parquet(path)`` infers, taken from the first part
    file's footer on the driver instead of by a Spark job; None when the
    table dir is partitioned or holds no readable Spark-written part file.
    Spark's read makes a given schema nullable, as it does an inferred one."""
    try:
        names = [n for n in sorted(os.listdir(path)) if not n.startswith(("_", "."))]
        if any(os.path.isdir(os.path.join(path, n)) for n in names):
            return None
        part = next((n for n in names if n.endswith(".parquet")), None)
        meta = pq.read_schema(os.path.join(path, part)).metadata if part else None
    except (OSError, pa.ArrowInvalid):
        return None  # Spark's own read reports what is wrong
    if not meta or _SPARK_ROW_SCHEMA not in meta:
        return None
    return StructType.fromJson(json.loads(meta[_SPARK_ROW_SCHEMA]))


def _read_footer_typed(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema from ``_footer_schema``
    when it has one, so the read runs no schema-inference job."""
    schema = _footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


class Catalog:
    """Protocol: list/exists/write/rename/drop/read/count; ``publish`` is
    ``stage`` (write a staging table) then ``commit`` (rename it in)."""

    def table_names(self) -> list[str]:
        raise NotImplementedError

    def exists(self, name: str) -> bool:
        return name in self.table_names()

    def write(self, df: DataFrame, name: str) -> None:
        raise NotImplementedError

    def rename(self, old: str, new: str) -> None:
        raise NotImplementedError

    def drop(self, name: str) -> None:
        raise NotImplementedError

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        raise NotImplementedError

    def count(self, spark: SparkSession, name: str) -> int:
        return self.read(spark, name).count()

    # ----------------------------------------------------- streaming batches
    def replace_batch(self, df: DataFrame, name: str, batch_id: int) -> None:
        """Idempotently land one micro-batch: any rows a previous attempt of
        the SAME batch_id wrote are replaced, rows from other batches are
        untouched — the exactly-once building block for foreachBatch sinks
        (streaming/sinks.py).

        Base implementation is the portable read-filter-union-rewrite: it
        works on any catalog but costs O(table) per batch — table size
        grows per trigger, so N batches do O(N^2) total writes. Catalogs
        with a cheaper idempotent primitive MUST override (LocalCatalog
        lands each batch as a ``__batch_id=N`` partition directory,
        O(batch) per trigger; a Delta catalog would use replaceWhere, a
        JDBC one DELETE WHERE __batch_id + append).

        Crash windows of this portable path (ADVICE r09 + VERDICT r10
        finding 3): a crash after the staging write used to leave
        ``{name}__rewrite`` behind and fail every later trigger's
        errorifexists write — so any leftover staging table is dropped
        before writing (safe: its contents are always a rebuildable
        merge of live table + replayable batch). The swap itself is
        rename-ASIDE, never drop-then-rename: the live table moves to
        ``{name}__replaced`` before the staging table renames in, so a
        crash at ANY point leaves the data recoverable — the next call
        restores the aside table when the live name is missing (always
        safe: the engine replays the batch that was being written).
        What remains is a read-AVAILABILITY blip between the two
        renames, which only an atomic swap primitive (Delta/Iceberg
        commit, LocalCatalog partition-dir rename) can remove — one
        more reason the override is required of real catalogs."""
        tagged = df.withColumn("__batch_id", F.lit(batch_id))
        aside = f"{name}__replaced"
        if not self.exists(name) and self.exists(aside):
            # a previous trigger died between its two renames; restore
            # the pre-swap table (its batch is about to be replayed)
            self.rename(aside, name)
        if self.exists(name):
            existing = self.read(df.sparkSession, name)
            kept = existing.filter(F.col("__batch_id") != batch_id)
            merged = kept.unionByName(tagged)
            staging = f"{name}__rewrite"
            if self.exists(staging):  # leftover from a crashed trigger
                self.drop(staging)
            self.write(merged, staging)
            if self.exists(aside):  # leftover from a crash after rename-in
                self.drop(aside)
            self.rename(name, aside)
            self.rename(staging, name)
            self.drop(aside)
        else:
            self.write(tagged, name)

    # ------------------------------------------------------- publish protocol
    def staging_name(self, name: str) -> str:
        # importer.rb:355 format is importing_<unix-ts>_<name>; the
        # reference runs one import per process, so second-resolution was
        # unique enough. A FLEET publishing the same table name twice in
        # one second collided on the staging path mid-write (found by the
        # r09 mixed-format rehearsal) — a uuid slug keeps the prefix
        # contract and makes staging names process- and thread-unique.
        return f"importing_{int(time.time())}_{uuid.uuid4().hex[:8]}_{name}"

    def stage(
        self, df: DataFrame, name: str, reject_empty: bool = False
    ) -> tuple[str, int]:
        """Write ``df`` to a fresh staging table for ``name``; return the
        staging table's name and its row count. On failure the staging
        table is dropped.

        The count rides the staging write itself as an Observation
        metric — the write is the action that lands the rows, so counting
        there is exact and costs no extra job, where the previous
        ``count(table)`` re-scanned the just-published table (at 100 TB a
        full second read per publish). ``reject_empty=True`` applies the
        reference's empty-input guard (importer.rb:238-242) at the same
        zero-job point: an empty result drops the staging table and
        raises, so an empty table is never published."""
        from pyspark.sql import Observation

        staging = self.staging_name(name)
        obs = Observation()
        observed = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        try:
            self.write(observed, staging)
            rows = int(obs.get["n_rows"])
            if reject_empty and rows == 0:
                raise ValueError("Empty table")
        except Exception:
            self.drop(staging)
            raise
        return staging, rows

    def commit(self, staging: str, name: str) -> None:
        """Atomically rename a staged table to ``name``. Raises ValueError
        when ``name`` exists, never clobbering it; the staged table is
        left for the caller to commit under another name or drop."""
        if self.exists(name):
            raise ValueError(f"table {name!r} already exists")
        self.rename(staging, name)

    def publish(
        self, df: DataFrame, name: str, reject_empty: bool = False
    ) -> int:
        """Stage, commit, return the landed row count. On failure the
        staging table is dropped and the original table (if any) is
        untouched — the reference's rollback contract
        (spec/import_spec.rb:36-52: a failed import never clobbers)."""
        staging, rows = self.stage(df, name, reject_empty)
        try:
            self.commit(staging, name)
        except Exception:
            self.drop(staging)
            raise
        return rows


class LocalCatalog(Catalog):
    """Parquet-directory warehouse. Atomicity: os.rename of the table dir
    (atomic on one filesystem — readers see the old listing or the new)."""

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def table_names(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.warehouse)
            if os.path.isdir(self._path(d))
        )

    def write(self, df: DataFrame, name: str) -> None:
        df.write.mode("errorifexists").parquet(self._path(name))

    def rename(self, old: str, new: str) -> None:
        os.rename(self._path(old), self._path(new))

    def drop(self, name: str) -> None:
        shutil.rmtree(self._path(name), ignore_errors=True)

    #: compacted-batch subdir name — underscore-prefixed so Spark's file
    #: listing never includes it in a partition-discovered read of the
    #: table dir (same mechanism that hides Delta's _delta_log)
    BASE_DIR = "_base"
    #: marker file inside BASE_DIR recording the highest __batch_id folded
    #: into the base — the recovery authority: partitioned rows at or
    #: below it are stale leftovers of a crashed compaction, never read
    MARKER = "_compacted_up_to"

    def compacted_up_to(self, name: str) -> int:
        """Highest __batch_id folded into the table's ``_base`` dir, or -1
        when the table has never been compacted."""
        return self._marker_at(self._path(name))

    @classmethod
    def _visible_bases(cls, path: str) -> list[str]:
        """All reader-visible base dirs: the classic ``_base`` plus any
        version-addressed ``_base_<marker>`` dirs a reader-grace fold
        published (r12 — underscore-prefixed either way, so Spark's
        partition discovery never lists them as data)."""
        if not os.path.isdir(path):
            return []
        out = []
        for d in os.listdir(path):
            if d == cls.BASE_DIR or d.startswith(cls.BASE_DIR + "_"):
                full = os.path.join(path, d)
                if os.path.isdir(full):
                    out.append(full)
        return out

    @classmethod
    def _effective_base(cls, path: str) -> str | None:
        """Directory serving as the table's compacted base.

        Resolution is by MARKER, not by name: among the visible bases —
        classic ``_base`` plus any version-addressed ``_base_<marker>``
        published by a reader-grace fold (r12: a graced fold publishes a
        NEW versioned dir with one rename and leaves its predecessors
        untouched until the grace expires, so scans planned over an older
        base keep their exact paths) — the highest-marker dir supersedes
        the rest; a markerless ``_base`` is served only when nothing
        better exists.

        When NO visible base exists (a grace-0 compactor crashed between
        its two renames), falling back to partition dirs would silently
        LOSE folded batches whose ``__batch_id`` dirs were deleted by
        earlier compactions (ADVICE r10). A ``.base_tmp_*`` /
        ``.base_old_*`` dir that CONTAINS the marker file is complete by
        construction (the marker is written only after the parquet write
        finishes and before any rename), so the highest-marker hidden
        candidate is byte-equal to a base a crash-free run would have
        produced; reads serve it in place, and the next
        ``compact_batches`` renames it back in
        (sinks/maintenance._recover_base)."""
        visible = cls._visible_bases(path)
        if visible:
            plain = os.path.join(path, cls.BASE_DIR)
            best, best_marker = None, -2
            for full in visible:
                v = cls._marker_of(full)
                if v > best_marker or (v == best_marker and full == plain):
                    best, best_marker = full, v
            return best
        best, best_marker = None, -1
        if os.path.isdir(path):
            for d in os.listdir(path):
                if not d.startswith((".base_tmp_", ".base_old_")):
                    continue
                mfile = os.path.join(path, d, cls.MARKER)
                if not os.path.isfile(mfile):
                    continue  # incomplete build — never a valid base
                try:
                    with open(mfile) as f:
                        v = int(f.read().strip())
                except (OSError, ValueError):
                    continue
                if v > best_marker:
                    best, best_marker = os.path.join(path, d), v
        return best

    @staticmethod
    def _marker_of(base_dir: str) -> int:
        """Marker value inside an already-resolved base dir (-1 if none)."""
        marker = os.path.join(base_dir, LocalCatalog.MARKER)
        if os.path.isfile(marker):
            with open(marker) as f:
                return int(f.read().strip())
        return -1

    @staticmethod
    def _marker_at(path: str) -> int:
        base = LocalCatalog._effective_base(path)
        if base is None:
            return -1
        return LocalCatalog._marker_of(base)

    def batch_ids(self, name: str) -> list[int]:
        """__batch_id values with a live partition directory."""
        return self._batch_ids_at(self._path(name))

    @staticmethod
    def _batch_ids_at(path: str) -> list[int]:
        out = []
        if os.path.isdir(path):
            for d in os.listdir(path):
                if d.startswith("__batch_id="):
                    v = d.split("=", 1)[1]
                    if v.lstrip("-").isdigit():
                        out.append(int(v))
        return sorted(out)

    @classmethod
    def _read_table_dir(cls, spark: SparkSession, path: str) -> DataFrame:
        """Base-aware read of one table directory: plain tables read
        as-is; tables compacted by sinks/maintenance.compact_batches read
        as base ∪ recent — the ``_base`` dir (``__batch_id`` as a data
        column) plus partition dirs whose id exceeds the compaction
        marker. Ids at or below the marker are crashed-compaction
        leftovers and are filtered out, which is what makes the
        compaction swap atomic for readers. Shared by ``read`` and
        ``VersionedLocalCatalog.read_version`` (a version snapshot of a
        compacted table carries its _base dir with it). The base is
        resolved through ``_effective_base`` so a crashed compaction's
        no-``_base`` window still reads every folded row (ADVICE r10).
        A plain table and the base take their schema from a part file's
        footer (``_read_footer_typed``)."""
        base = cls._effective_base(path)
        if base is None:
            return _read_footer_typed(spark, path)
        bdf = _read_footer_typed(spark, base)
        # the marker comes from the SAME resolved dir the read serves —
        # re-resolving via _marker_at(path) would double the listing work
        # and could pair a filter marker with a different candidate dir
        marker = cls._marker_of(base)
        if not any(i > marker for i in cls._batch_ids_at(path)):
            return bdf
        rest = spark.read.parquet(path).filter(
            F.col("__batch_id") > marker
        )
        return bdf.unionByName(rest)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return self._read_table_dir(spark, self._path(name))

    def replace_batch(self, df: DataFrame, name: str, batch_id: int) -> None:
        """O(batch) idempotent landing: each micro-batch becomes a
        ``__batch_id=N`` partition directory under the table dir, written
        with per-directory overwrite — a replayed batch_id replaces exactly
        its own directory, other batches' files are never touched or even
        listed. ``read`` recovers ``__batch_id`` as a partition column, so
        the table schema matches the base implementation's tagged column.
        Per-trigger cost is the batch's rows, not the table's — the
        landing-zone pattern that holds at 100 TB (the base rewrite is
        O(table) per trigger, quadratic across a backlog).

        Atomicity (ADVICE r09): the batch is written to a dot-prefixed
        temp sibling (hidden from Spark's partition discovery) and
        os.rename'd into ``__batch_id=N`` — readers see the old replay's
        complete directory or the new one, never a half-written one. The
        replaced directory is moved aside before the swap and deleted
        after, so the only reader-visible gap is the instant between the
        two renames, and only during a replay of an already-failed batch.

        A batch id at or below the table's compaction marker is REFUSED:
        its partition dir would be invisible to every read (the marker
        filter treats it as a crashed-compaction leftover), silently
        dropping the write. Structured Streaming never replays a
        committed batch and compact_batches only folds committed ids, so
        this fires only on contract violations — a wrong checkpoint dir,
        a manual rerun — which must fail loudly, not vanish (found by
        the r10 compaction property test)."""
        table_dir = self._path(name)
        compacted = self.compacted_up_to(name)
        if batch_id <= compacted:
            raise ValueError(
                f"batch {batch_id} of table {name!r} is already compacted "
                f"(marker {compacted}); a replay here means the stream is "
                "running against the wrong checkpoint"
            )
        part_dir = os.path.join(table_dir, f"__batch_id={batch_id}")
        tmp_dir = os.path.join(
            table_dir, f".batch_tmp_{batch_id}_{uuid.uuid4().hex[:8]}"
        )
        df.drop("__batch_id").write.mode("overwrite").parquet(tmp_dir)
        old_dir = None
        if os.path.isdir(part_dir):  # replay: move the old attempt aside
            # dot-prefixed so partition discovery never parses it as a value
            old_dir = os.path.join(
                table_dir, f".batch_old_{batch_id}_{uuid.uuid4().hex[:8]}"
            )
            os.rename(part_dir, old_dir)
        os.rename(tmp_dir, part_dir)
        if old_dir is not None:
            shutil.rmtree(old_dir, ignore_errors=True)


class VersionedLocalCatalog(LocalCatalog):
    """LocalCatalog with retained table versions — the publish protocol's
    natural extension toward lakehouse time travel (Delta/Iceberg keep the
    full log; here the last ``keep_versions`` published snapshots survive
    as ``name@v{n}`` sibling dirs, and ``publish_version`` REPLACES the
    live table atomically instead of erroring on existence).

    Semantics:
    * ``publish_version(df, name)``: stage -> snapshot current live table
      (if any) to the next version slot -> rename staging in. Readers of
      the live name see the old or the new table, never a mix (two
      os.renames on one filesystem; the in-between instant exposes the
      name as missing only to a LISTING, reads hold the old dir handle).
    * ``read_version(spark, name, v)``: any retained snapshot; v counts
      up from 1 in publish order.
    * snapshots beyond ``keep_versions`` are dropped oldest-first.
    """

    VSEP = "@v"

    def __init__(self, warehouse: str, keep_versions: int = 3):
        super().__init__(warehouse)
        self.keep_versions = keep_versions

    def table_names(self) -> list[str]:
        return [
            n for n in super().table_names() if self.VSEP not in n
        ]

    def versions(self, name: str) -> list[int]:
        pre = f"{name}{self.VSEP}"
        out = []
        for d in os.listdir(self.warehouse):
            if d.startswith(pre) and d[len(pre):].isdigit():
                out.append(int(d[len(pre):]))
        return sorted(out)

    def read_version(self, spark: SparkSession, name: str, v: int) -> DataFrame:
        # base-aware: a snapshot of a compacted streaming table carries
        # its _base dir, which a bare parquet read would silently skip
        return self._read_table_dir(spark, self._path(f"{name}{self.VSEP}{v}"))

    def publish_version(self, df: DataFrame, name: str) -> int:
        staging, rows = self.stage(df, name)
        try:
            vs = self.versions(name)
            if not self.exists(name) and vs:
                # a previous publish died between its two renames: the
                # live table had already moved into the newest version
                # slot but the replacement never renamed in. Restore it
                # so this publish re-snapshots exactly as a crash-free
                # run would — no missing-live-table window survives a
                # retry. (Side effect accepted: publish_version after an
                # explicit drop(name) of a versioned table resurrects
                # the newest snapshot into one extra version slot —
                # preserving more history, never less.)
                self.rename(f"{name}{self.VSEP}{vs[-1]}", name)
                vs.pop()
            if self.exists(name):
                nxt = (vs[-1] + 1) if vs else 1
                self.rename(name, f"{name}{self.VSEP}{nxt}")
                vs.append(nxt)
                for old in vs[: -self.keep_versions] if self.keep_versions else vs:
                    self.drop(f"{name}{self.VSEP}{old}")
            self.rename(staging, name)
        except Exception:
            self.drop(staging)
            raise
        return rows


class JdbcCatalog(Catalog):
    """Postgres over JDBC. DataFrame writes go through df.write.jdbc with
    batchsize/numPartitions tuned for bulk load; DDL (rename/drop/index/
    catalog queries) goes through a single driver-side JDBC connection.

    At 100 TB the JDBC sink is the bottleneck by construction (Postgres is
    the narrow end); numPartitions parallelizes COPY-style inserts and the
    staging+rename keeps readers off partial tables meanwhile.
    """

    DIALECTS = {
        "postgresql": {
            "driver": "org.postgresql.Driver",
            "list_tables": (
                "SELECT tablename FROM pg_tables WHERE schemaname = 'public'"
            ),
            "rename": 'ALTER TABLE "{old}" RENAME TO "{new}"',
            "drop": 'DROP TABLE IF EXISTS "{name}"',
        },
        "derby": {
            "driver": "org.apache.derby.jdbc.EmbeddedDriver",
            "list_tables": (
                "SELECT tablename FROM sys.systables WHERE tabletype = 'T'"
            ),
            "rename": 'RENAME TABLE "{old}" TO "{new}"',
            # Derby has no IF EXISTS; drop() swallows missing-table errors
            "drop": 'DROP TABLE "{name}"',
        },
    }

    #: row ceiling for the executor-backed INSERT fallback (write() below):
    #: it is a driver-side path for environments with no JDBC driver jar,
    #: never the 100 TB bulk path, so it refuses large frames outright.
    EXECUTOR_WRITE_ROW_CAP = 100_000

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        properties: dict[str, str] | None = None,
        batchsize: int = 10_000,
        num_partitions: int = 8,
        dialect: str = "postgresql",
        sql_executor=None,
    ):
        """``sql_executor`` (optional): an object with ``execute(sql)`` and
        ``query_strings(sql) -> list[str]`` that replaces the JDBC
        connection for DDL/catalog statements AND routes writes through
        bounded INSERTs — e.g. ``sinks.pgwire.PgWireExecutor`` when a
        Postgres server exists but Spark's classpath has no
        org.postgresql driver jar. The publish protocol (staging write ->
        atomic rename -> rollback on failure) is byte-identical SQL
        either way; only the transport differs."""
        self.spark = spark
        self.url = url
        self.dialect = self.DIALECTS[dialect]
        self.properties = {"driver": self.dialect["driver"], **(properties or {})}
        self.batchsize = batchsize
        self.num_partitions = num_partitions
        self.sql_executor = sql_executor

    def _connection(self):
        jvm = self.spark._sc._jvm
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            if k != "driver":
                props.setProperty(k, v)
        return jvm.java.sql.DriverManager.getConnection(self.url, props)

    def _execute(self, sql: str):
        if self.sql_executor is not None:
            self.sql_executor.execute(sql)
            return
        conn = self._connection()
        try:
            stmt = conn.createStatement()
            stmt.execute(sql)
            stmt.close()
        finally:
            conn.close()

    def _query_strings(self, sql: str) -> list[str]:
        if self.sql_executor is not None:
            return list(self.sql_executor.query_strings(sql))
        conn = self._connection()
        try:
            stmt = conn.createStatement()
            rs = stmt.executeQuery(sql)
            out = []
            while rs.next():
                out.append(rs.getString(1))
            return out
        finally:
            conn.close()

    def table_names(self) -> list[str]:
        return self._query_strings(self.dialect["list_tables"])

    _PG_TYPES = {
        "tinyint": "smallint",
        "smallint": "smallint",
        "int": "integer",
        "bigint": "bigint",
        "float": "real",
        "double": "double precision",
        "string": "text",
        "boolean": "boolean",
        "date": "date",
        "timestamp": "timestamp",
        "timestamp_ntz": "timestamp",
    }

    @staticmethod
    def _sql_literal(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, float):
            # repr() of non-finite floats is a bare identifier
            # ('nan'/'inf') — Postgres needs the quoted spellings.
            if v != v:
                return "'NaN'"
            if v == float("inf"):
                return "'Infinity'"
            if v == float("-inf"):
                return "'-Infinity'"
            return repr(v)
        if isinstance(v, int):
            return repr(v)
        return "'" + str(v).replace("'", "''") + "'"

    def _write_via_executor(self, df: DataFrame, name: str) -> None:
        """errorifexists-parity CREATE TABLE + batched INSERTs through the
        pluggable executor. Bounded: refuses frames above
        EXECUTOR_WRITE_ROW_CAP (limit-probe, not a full count) because
        this transport is single-connection driver-side by construction."""
        probe = df.limit(self.EXECUTOR_WRITE_ROW_CAP + 1).collect()
        if len(probe) > self.EXECUTOR_WRITE_ROW_CAP:
            raise ValueError(
                f"executor-backed write refuses > "
                f"{self.EXECUTOR_WRITE_ROW_CAP} rows; install a JDBC "
                "driver jar for bulk loads"
            )
        cols = []
        for f in df.schema.fields:
            simple = f.dataType.simpleString()
            pg = self._PG_TYPES.get(simple.split("(")[0])
            if pg is None:
                if simple.startswith("decimal"):
                    pg = simple.replace("decimal", "numeric")
                else:
                    raise ValueError(
                        f"no SQL mapping for column {f.name!r}: {simple}"
                    )
            cols.append(f'"{f.name}" {pg}')
        self._execute(f'CREATE TABLE "{name}" ({", ".join(cols)})')
        colnames = ", ".join(f'"{f.name}"' for f in df.schema.fields)
        if hasattr(self.sql_executor, "copy_in"):
            # COPY FROM STDIN — the loading protocol the reference used
            # (ogr2ogr emits COPY); ~10x batched INSERTs on this transport
            esc = self.sql_executor.copy_escape

            def cell(v) -> str:
                if v is None:
                    return "\\N"
                if isinstance(v, bool):
                    return "t" if v else "f"
                return esc(str(v))

            lines = ["\t".join(cell(v) for v in row) for row in probe]
            self.sql_executor.copy_in(
                f'COPY "{name}" ({colnames}) FROM STDIN', lines
            )
            return
        for start in range(0, len(probe), self.batchsize):
            chunk = probe[start : start + self.batchsize]
            values = ", ".join(
                "(" + ", ".join(self._sql_literal(v) for v in row) + ")"
                for row in chunk
            )
            self._execute(
                f'INSERT INTO "{name}" ({colnames}) VALUES {values}'
            )

    def write(self, df: DataFrame, name: str) -> None:
        if self.sql_executor is not None:
            self._write_via_executor(df, name)
            return
        (
            df.repartition(self.num_partitions)
            .write.option("batchsize", self.batchsize)
            .jdbc(self.url, f'"{name}"', mode="errorifexists", properties=self.properties)
        )

    def rename(self, old: str, new: str) -> None:
        self._execute(self.dialect["rename"].format(old=old, new=new))

    def drop(self, name: str) -> None:
        try:
            self._execute(self.dialect["drop"].format(name=name))
        except Exception as e:  # missing table is fine (IF EXISTS semantics)
            if "does not exist" not in str(e) and "42Y55" not in str(e):
                raise

    #: information_schema.data_type -> Spark simple type for the
    #: executor-backed read path (text wire format parsed driver-side)
    _PG_TO_SPARK = {
        "smallint": "smallint",
        "integer": "int",
        "bigint": "bigint",
        "real": "float",
        "double precision": "double",
        "text": "string",
        "character varying": "string",
        "character": "string",
        "boolean": "boolean",
        "date": "date",
        "timestamp without time zone": "timestamp",
    }

    def _read_via_executor(self, spark: SparkSession, name: str) -> DataFrame:
        """Bounded driver-side read for executor mode: schema from
        information_schema, rows in the text wire format, parsed per
        type. Same row ceiling and rationale as _write_via_executor."""
        import datetime

        cols = self._query_strings(
            "SELECT column_name || '\x1f' || data_type "
            "FROM information_schema.columns "
            f"WHERE table_name = '{name}' ORDER BY ordinal_position"
        )
        if not cols:
            raise ValueError(f"table {name!r} does not exist")
        fields = []
        parsers = []
        for c in cols:
            col, dt = c.split("\x1f", 1)
            spark_t = self._PG_TO_SPARK.get(dt)
            if spark_t is None:
                if dt.startswith("numeric"):
                    spark_t, parser = "string", str
                else:
                    raise ValueError(
                        f"no Spark mapping for column {col!r}: {dt}"
                    )
            if spark_t in ("smallint", "int", "bigint"):
                parser = int
            elif spark_t in ("float", "double"):
                parser = float
            elif spark_t == "boolean":
                parser = lambda v: v == "t"  # noqa: E731
            elif spark_t == "date":
                parser = datetime.date.fromisoformat
            elif spark_t == "timestamp":
                parser = datetime.datetime.fromisoformat
            else:
                parser = str
            fields.append(f"`{col}` {spark_t}")
            parsers.append(parser)
        n = int(self._query_strings(f'SELECT count(*) FROM "{name}"')[0])
        if n > self.EXECUTOR_WRITE_ROW_CAP:
            raise ValueError(
                f"executor-backed read refuses {n} rows; install a JDBC "
                "driver jar for bulk reads"
            )
        raw = self.sql_executor.query_rows(f'SELECT * FROM "{name}"')
        rows = [
            tuple(
                None if v is None else p(v) for p, v in zip(parsers, row)
            )
            for row in raw
        ]
        return spark.createDataFrame(rows, ", ".join(fields))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        if self.sql_executor is not None:
            return self._read_via_executor(spark, name)
        return spark.read.jdbc(self.url, f'"{name}"', properties=self.properties)

    def count(self, spark: SparkSession, name: str) -> int:
        if self.sql_executor is not None:
            return int(
                self._query_strings(f'SELECT count(*) FROM "{name}"')[0]
            )
        return super().count(spark, name)

    def create_gist_index(self, table: str, geom_col: str = "the_geom") -> None:
        """importer.rb:274,332,382 — spatial index after publish. Only
        meaningful once the WKT column is upgraded to geometry in PostGIS."""
        self._execute(
            f'CREATE INDEX "{table}_{geom_col}_gist" ON "{table}" '
            f"USING GIST (ST_GeomFromText({geom_col}, 4326))"
        )
