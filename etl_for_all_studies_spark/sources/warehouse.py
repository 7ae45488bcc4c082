"""Parquet star-schema warehouse, partitioned by study.

Replaces the reference's SQLAlchemy row-store (``repositories.py``) with
columnar tables:

* facts partitioned by ``study_key`` → every per-study read/refresh prunes to
  one partition (the Spark analog of the reference's ``WHERE study_key = ?``
  scoping, ``repositories.py:303-309,322-323``);
* correlation refresh = **dynamic partition overwrite** (atomic per-partition
  swap) instead of DELETE-then-INSERT (``correlation_job.py:91-96``);
* fact appends are made idempotent by an anti-join against existing keys
  (O-16; the reference uses unique constraints + preloaded key sets,
  ``pipeline.py:185,206-217``) — rerunning the pipeline adds zero duplicates,
  which also supersedes the reference's mid-file resume checkpoints
  (O-19/O-43/O-9c): the new resume contract is "rerun is cheap and idempotent".

Dimension rewrites go through a temp-path swap (write tmp → rename) so a dim
can be rebuilt from a plan that reads its own previous version.

Reads declare the table's schema (``schemas.TABLE_SCHEMAS``), so opening a
table lists its files but runs no Parquet footer-inference job.
"""
from __future__ import annotations

import logging
import time
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import PARTITIONED_BY_STUDY, TABLE_SCHEMAS

logger = logging.getLogger(__name__)


def local_frame(spark: SparkSession, schema: T.StructType, rows: Sequence[tuple]) -> DataFrame:
    """A driver-built DataFrame backed by an Arrow table: a ``LocalRelation``,
    so broadcasting it runs no job and writing it runs exactly one.
    (``createDataFrame`` on a Python list plans an RDD scan instead, and
    every broadcast of it is a Python-worker job.)"""
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = str(root).rstrip("/")

    def path(self, table: str) -> str:
        return f"{self.root}/{table}"

    # -- filesystem helpers (Hadoop FS: works on local, HDFS, object stores) --
    def _fs(self):
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        return jvm.org.apache.hadoop.fs.FileSystem.get(conf), jvm

    def exists(self, table: str) -> bool:
        fs, jvm = self._fs()
        return fs.exists(jvm.org.apache.hadoop.fs.Path(self.path(table)))

    def _delete(self, path: str) -> None:
        fs, jvm = self._fs()
        fs.delete(jvm.org.apache.hadoop.fs.Path(path), True)

    def _rename(self, src: str, dst: str) -> None:
        fs, jvm = self._fs()
        fs.rename(jvm.org.apache.hadoop.fs.Path(src), jvm.org.apache.hadoop.fs.Path(dst))

    def _repair(self, table: str) -> None:
        """Recover from a crash mid-``overwrite_dim`` swap.

        Swap protocol (see :meth:`overwrite_dim`): write ``__tmp`` → rename
        live aside to ``__old`` → promote ``__tmp`` → delete ``__old``. A
        crash at any point leaves exactly one recoverable state:

        * live missing, ``__tmp`` present → the fully-written tmp is the
          newest complete copy: promote it (``__old``, if also present, is
          the superseded version — drop it);
        * live missing, only ``__old`` present → the aside rename happened
          but tmp was lost (shouldn't occur in-protocol): restore ``__old``;
        * live present → any leftover ``__old``/``__tmp`` is stale residue
          from a crash after promotion; leave it (next overwrite clears it).
        """
        main, tmp, old = self.path(table), self.path(table) + "__tmp", self.path(table) + "__old"
        fs, jvm = self._fs()
        p = jvm.org.apache.hadoop.fs.Path
        if fs.exists(p(main)):
            return
        if fs.exists(p(tmp)):
            logger.warning("Repairing %s: promoting interrupted __tmp swap", table)
            self._rename(tmp, main)
            self._delete(old)
        elif fs.exists(p(old)):
            logger.warning("Repairing %s: restoring __old copy", table)
            self._rename(old, main)

    # -- reads --
    def read(self, table: str) -> DataFrame | None:
        """Read a table, or None if it doesn't exist yet (repairing any
        interrupted dim swap first — see :meth:`_repair`)."""
        self._repair(table)
        if not self.exists(table):
            return None
        reader = self.spark.read
        if table in TABLE_SCHEMAS:
            reader = reader.schema(TABLE_SCHEMAS[table])
        return reader.parquet(self.path(table))

    def read_or_empty(self, table: str) -> DataFrame:
        df = self.read(table)
        if df is not None:
            return df
        return local_frame(self.spark, TABLE_SCHEMAS[table], [])

    # -- writes --
    def overwrite_dim(self, table: str, df: DataFrame) -> None:
        """Full rewrite via tmp-path swap (safe when df reads the old table).

        Crash-safe ordering: the live table is renamed *aside* (``__old``)
        before the new copy is promoted, never deleted first — so at every
        instant a complete copy exists on disk and :meth:`_repair` can
        restore it. A delete-then-rename swap would lose the table to a
        crash between the two calls, silently re-keying the dim on the next
        run and orphaning existing fact surrogate keys.
        """
        main = self.path(table)
        tmp, old = main + "__tmp", main + "__old"
        self._repair(table)
        self._delete(old)  # stale residue from a prior completed swap
        df.write.mode("overwrite").parquet(tmp)  # overwrite clears stale tmp
        if self.exists(table):
            self._rename(main, old)
        self._rename(tmp, main)
        self._delete(old)

    def append_fact(self, table: str, df: DataFrame, dedup_keys: list[str]) -> int:
        """Idempotent append: anti-join against existing keys, in-batch dedup.
        Returns the number of rows appended.

        The anti-join's build side is only the *keys* of existing rows in the
        touched studies — with study-partition pruning this stays proportional
        to the studies being loaded, not the whole warehouse. The offered
        rows are persisted before the touched-study collect, so the incoming
        plan runs once; the new rows are persisted too, so the returned count
        and the write share one anti-join.
        """
        offered = df.dropDuplicates(dedup_keys).persist()
        new = offered
        try:
            existing = self.read(table)
            if existing is not None:
                studies = [r[0] for r in offered.select("study_key").distinct().collect()]
                existing_keys = existing.where(F.col("study_key").isin(studies)).select(
                    *dedup_keys
                )
                new = offered.join(existing_keys, on=dedup_keys, how="left_anti").persist()
            written = new.count()
            writer = new.write.mode("append")
            if table in PARTITIONED_BY_STUDY:
                writer = writer.partitionBy("study_key")
            writer.parquet(self.path(table))
        finally:
            new.unpersist()
            offered.unpersist()
        return written

    def overwrite_study_partitions(
        self, table: str, df: DataFrame, *, empty_studies: list[int] | None = None
    ) -> None:
        """Dynamic partition overwrite (requires
        ``spark.sql.sources.partitionOverwriteMode=dynamic``, set in session.py).

        ``empty_studies``: studies whose refresh produced zero rows — their
        stale partitions are deleted explicitly, matching the reference's
        delete-stale-correlations-on-empty-matrix behavior
        (``correlation_job.py:62-82``).
        """
        writer = df.write.mode("overwrite")
        if table in PARTITIONED_BY_STUDY:
            writer = writer.partitionBy("study_key")
        writer.parquet(self.path(table))
        for study in empty_studies or []:
            part = f"{self.path(table)}/study_key={study}"
            logger.info("Clearing stale partition %s", part)
            self._delete(part)

    def partition_file_stats(self, table: str) -> dict[int, tuple[int, int]]:
        """study_key → (n_data_files, total_bytes) from the filesystem — the
        fragmentation signal for :meth:`compact_fact_partitions`. One
        metadata listing, no data read."""
        fs, jvm = self._fs()
        p = jvm.org.apache.hadoop.fs.Path
        root = p(self.path(table))
        stats: dict[int, tuple[int, int]] = {}
        if not fs.exists(root):
            return stats
        for part in fs.listStatus(root):
            name = part.getPath().getName()
            if not (part.isDirectory() and name.startswith("study_key=")):
                continue
            key = int(name.split("=", 1)[1])
            n, size = 0, 0
            for f in fs.listStatus(part.getPath()):
                fname = f.getPath().getName()
                if f.isFile() and not fname.startswith(("_", ".")):
                    n += 1
                    size += f.getLen()
            stats[key] = (n, size)
        return stats

    def compact_fact_partitions(
        self,
        table: str,
        *,
        target_file_bytes: int = 128 * 1024 * 1024,
        min_files_to_compact: int = 4,
    ) -> list[int]:
        """Rewrite fragmented study partitions into ~``target_file_bytes``
        files. Returns the compacted study keys.

        Incremental per-study appends (:meth:`append_fact`) fragment
        partitions over time; at warehouse scale the resulting small files
        tax every downstream scan with per-file open/footer costs and
        schedule far more tasks than the data needs. (The reference's SQL
        Server sink gets this maintenance from the database engine —
        reference ``database.py`` — a Parquet warehouse must do its own.)

        Mechanics: pick candidates purely from filesystem metadata
        (``n_files > max(min_files_to_compact, ceil(bytes/target))``), then
        rewrite all of them in ONE job — ``repartition("study_key")``
        clusters each study into one task while
        ``spark.sql.files.maxRecordsPerFile`` (derived from the observed
        bytes-per-row) re-splits any partition larger than the target. The
        subset is checkpointed first: Spark (correctly) refuses a write that
        overwrites its own input files, and the checkpoint also pins the
        rows so the rewrite is a pure re-layout. Dynamic partition overwrite
        commits all partitions at job commit (staging-dir protocol), so a
        crash mid-job leaves the old layout fully intact — rerun-safe, same
        idempotency contract as the rest of the warehouse.

        Compact in bounded batches (the checkpoint materializes the
        candidate rows): at warehouse scale call this per ingest wave, not
        over years of backlog at once; on a cluster prefer a reliable
        ``checkpoint()`` dir over ``localCheckpoint`` for executor-loss
        tolerance.
        """
        stats = self.partition_file_stats(table)
        candidates = [
            key
            for key, (n, size) in stats.items()
            if n > max(min_files_to_compact, -(-size // target_file_bytes))
        ]
        if not candidates:
            return []
        sub = (
            self.read(table)
            .where(F.col("study_key").isin(candidates))
            .localCheckpoint()
        )
        total_bytes = sum(stats[k][1] for k in candidates)
        total_rows = sub.count()
        if total_rows == 0:
            return []
        rows_per_file = max(1, int(target_file_bytes / max(1, total_bytes / total_rows)))
        conf = self.spark.conf
        saved = conf.get("spark.sql.files.maxRecordsPerFile", "0")
        conf.set("spark.sql.files.maxRecordsPerFile", str(rows_per_file))
        try:
            self.overwrite_study_partitions(
                table, sub.repartition("study_key")
            )
        finally:
            conf.set("spark.sql.files.maxRecordsPerFile", saved)
        return sorted(candidates)


def write_jdbc_with_retries(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    properties: dict[str, str] | None = None,
    max_retries: int = 5,
    retry_backoff_seconds: float = 5.0,
) -> None:
    """Optional JDBC sink with exponential-backoff retry (O-44 parity).

    The reference retries *engine creation* against SQL Server
    (``database.py:28-60``, knobs ``max_retries``/``retry_backoff_seconds``
    from ``config.py:18-19``); for a Spark JDBC writer the analogous failure
    domain is the write call itself — individual task retries are already
    Spark's job. Parquet remains the primary warehouse; this exists so a
    deployment that must land in SQL Server keeps the reference's
    reliability contract. Exercised against a REAL endpoint in
    ``tests/test_warehouse.py::test_jdbc_real_roundtrip`` (embedded Derby —
    the JDBC database on every Spark classpath); retry/backoff behavior is
    pinned by the two patched-writer tests above it.
    """
    last_exc: Exception | None = None
    for attempt in range(max_retries):
        try:
            df.write.jdbc(url=url, table=table, mode=mode, properties=properties or {})
            return
        except Exception as exc:  # noqa: BLE001 — backoff and retry
            last_exc = exc
            sleep_s = retry_backoff_seconds * (2 ** attempt)
            logger.warning(
                "JDBC write to %s failed (attempt %d/%d): %s — retrying in %.1fs",
                table, attempt + 1, max_retries, exc, sleep_s,
            )
            # module-level ``time`` reference: tests stub the backoff by
            # patching THIS module's attribute — patching the global
            # ``time.sleep`` would also neuter Spark's own Python-side
            # polling threads, which then spin millions of iterations
            time.sleep(sleep_s)
    raise RuntimeError(f"JDBC write to {table} failed after {max_retries} attempts") from last_exc


__all__ = ["Warehouse", "write_jdbc_with_retries"]
