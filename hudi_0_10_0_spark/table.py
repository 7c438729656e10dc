"""HudiTable — the user-facing façade.

Mirrors the combined surface of the reference's
``SparkRDDWriteClient`` (write ops + services,
``spark-client/client/SparkRDDWriteClient.java``) and ``DefaultSource``
read paths (``ds/DefaultSource.scala``), as one Python class over our
timeline + manifest + DataFrame operators.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .config import TableType, WriteConfig, WriteOperation
from .fs import FS
from .metadata import FileSystemView
from .timeline import SAVEPOINT, Timeline, new_instant_time

META_DIR = "_hoodie_meta"


class HudiTable:
    def __init__(self, spark: SparkSession, base_path: str, cfg: WriteConfig):
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.cfg = cfg
        self.fs = FS(spark, self.base_path)
        self.meta_path = f"{self.base_path}/{META_DIR}"
        self.timeline = Timeline(self.fs, self.meta_path)
        # (view, schema) pair — keyed on view identity, see schema()
        self._schema_cache: tuple | None = None
        self._view_cache: tuple | None = None

    # -- lifecycle ---------------------------------------------------------
    @staticmethod
    def create(
        spark: SparkSession, base_path: str, cfg: WriteConfig, exist_ok: bool = False
    ) -> "HudiTable":
        cfg.validate_virtual_keys()
        t = HudiTable(spark, base_path, cfg)
        cfg_path = f"{t.meta_path}/table_config.json"
        if t.fs.exists(cfg_path):
            if not exist_ok:
                raise ValueError(f"table already exists at {base_path}")
            existing = HudiTable.load(spark, base_path)
            # exist_ok returns the STORED config — but silently returning
            # a table whose identity/layout disagrees with what the
            # caller just asked for is a trap (wrong merge semantics,
            # index buckets disagreeing with on-disk bucket dirs, ...):
            # identity fields must match (diff-review r5)
            def _norm(v):
                if isinstance(v, (list, tuple)):
                    return [str(x) for x in v]
                return [p.strip() for p in str(v).split(",") if p.strip()]

            for f in (
                "table_type", "record_key_field", "partition_field",
                "keygen", "payload", "precombine_field", "index_type",
                "hive_style_partitioning", "url_encode_partitioning",
                "drop_partition_columns", "key_index_buckets",
                "populate_meta_fields",
            ):
                new_v, cur_v = getattr(cfg, f), getattr(existing.cfg, f)
                if f in ("record_key_field", "partition_field"):
                    clash = _norm(new_v) != _norm(cur_v)
                else:
                    clash = new_v != cur_v
                if clash:
                    raise ValueError(
                        f"create(exist_ok=True) at {base_path}: supplied "
                        f"config conflicts with the stored table on {f} "
                        f"(stored {cur_v!r}, supplied {new_v!r}) — "
                        "identity/layout fields are fixed at creation"
                    )
            return existing
        t.fs.mkdirs(f"{t.meta_path}/timeline")
        t.fs.write_text_atomic(cfg_path, cfg.to_json())
        return t

    @staticmethod
    def load(spark: SparkSession, base_path: str) -> "HudiTable":
        fs = FS(spark, base_path)
        cfg_path = f"{base_path.rstrip('/')}/{META_DIR}/table_config.json"
        if not fs.exists(cfg_path):
            raise ValueError(f"not a hudi_0_10_0_spark table: {base_path}")
        cfg = WriteConfig.from_json(fs.read_text(cfg_path))
        return HudiTable(spark, base_path, cfg)

    @staticmethod
    def exists(spark: SparkSession, base_path: str) -> bool:
        fs = FS(spark, base_path)
        return fs.exists(f"{base_path.rstrip('/')}/{META_DIR}/table_config.json")

    # -- paths / metadata --------------------------------------------------
    def abs_path(self, rel: str) -> str:
        return rel if "://" in rel or rel.startswith("/") else f"{self.base_path}/{rel}"

    def instant_data_path(self, instant: str) -> str:
        return f"{self.base_path}/data/{instant}"

    def new_instant(self) -> str:
        return new_instant_time()

    def view(self) -> FileSystemView:
        """Manifest view, cached per timeline state: rebuilding parses
        every commit's stats JSON on the driver (O(file groups) — real
        money at 1M groups), so reuse the last build until the timeline's
        directory listing changes (any writer's commit invalidates)."""
        fp = self.timeline.fingerprint()
        if self._view_cache is not None and self._view_cache[0] == fp:
            return self._view_cache[1]
        v = FileSystemView(self.timeline)
        self._view_cache = (fp, v)
        self._schema_cache = None
        return v

    def schema(self) -> T.StructType | None:
        """Latest committed write schema (includes meta + delete-marker
        columns), or None for an empty table. Cached per VIEW identity —
        consulting view() first means another writer's commit (which
        changes the timeline fingerprint) invalidates the schema too,
        instead of serving a stale pre-evolution StructType."""
        v = self.view()
        if self._schema_cache is not None and self._schema_cache[0] is v:
            return self._schema_cache[1]
        sj = v.latest_schema()
        s = T.StructType.fromJson(json.loads(sj)) if sj else None
        self._schema_cache = (v, s)
        return s

    def read_schema(self) -> T.StructType:
        s = self.schema()
        if s is None:
            raise ValueError("table has no commits yet")
        return s

    # -- write operators ---------------------------------------------------
    def upsert(self, df: DataFrame, **kw) -> str:
        from .operators.write import run_batch_write

        return run_batch_write(self, df, WriteOperation.UPSERT, **kw)

    def insert(self, df: DataFrame, **kw) -> str:
        from .operators.write import run_batch_write

        return run_batch_write(self, df, WriteOperation.INSERT, **kw)

    def bulk_insert(self, df: DataFrame, **kw) -> str:
        from .operators.write import run_batch_write

        return run_batch_write(self, df, WriteOperation.BULK_INSERT, **kw)

    def delete(self, keys_df: DataFrame, **kw) -> str:
        """Delete by key: ``keys_df`` needs the record-key (and
        partition) source columns, or pre-stamped meta key columns."""
        from .operators.write import run_batch_write

        return run_batch_write(self, keys_df, WriteOperation.DELETE, **kw)

    def insert_overwrite(self, df: DataFrame, **kw) -> str:
        from .operators.write import run_replace_write

        return run_replace_write(self, df, WriteOperation.INSERT_OVERWRITE, **kw)

    def insert_overwrite_table(self, df: DataFrame, **kw) -> str:
        from .operators.write import run_replace_write

        return run_replace_write(self, df, WriteOperation.INSERT_OVERWRITE_TABLE, **kw)

    def delete_partition(self, partitions: list[str], **kw) -> str:
        from .operators.write import run_replace_write

        return run_replace_write(
            self, None, WriteOperation.DELETE_PARTITION, partitions=partitions, **kw
        )

    def bootstrap(self, parquet_path: str, mode: str = "FULL_RECORD", **kw) -> str:
        """Adopt an existing parquet dataset
        (``client/client/bootstrap/BootstrapMode.java:29-34``).

        ``FULL_RECORD``: read, stamp keys/meta, rewrite as v0 of this
        table. ``METADATA_ONLY``: register the source files in the
        manifest without rewriting anything; meta columns are derived at
        read time and groups are rewritten lazily on first upsert."""
        m = mode.strip().upper()
        if m not in ("METADATA_ONLY", "FULL_RECORD"):
            # reject typos loudly: silently falling through to
            # FULL_RECORD would launch a full read-and-rewrite of a
            # dataset the caller explicitly asked NOT to rewrite
            raise ValueError(
                f"unknown bootstrap mode {mode!r} "
                "(expected METADATA_ONLY | FULL_RECORD)"
            )
        if m == "METADATA_ONLY":
            from .operators.write import bootstrap_metadata_only

            return bootstrap_metadata_only(self, parquet_path)
        df = self.spark.read.parquet(parquet_path)
        return self.bulk_insert(df, extra={"bootstrap_from": parquet_path}, **kw)

    # -- read operators ----------------------------------------------------
    def snapshot(
        self,
        as_of: str | None = None,
        filters: list | None = None,
        merge_type: str = "payload_combine",
    ) -> DataFrame:
        """``merge_type`` (MOR only — ``hoodie.datasource.merge.type``):
        payload_combine (default, per-key resolution) or skip_merge
        (raw base ∪ delta concat, every version surfaces, no shuffle)."""
        from .sources.read import snapshot

        return snapshot(self, as_of=as_of, filters=filters, merge_type=merge_type)

    def read_optimized(self) -> DataFrame:
        from .sources.read import QUERY_READ_OPTIMIZED, snapshot

        return snapshot(self, query_type=QUERY_READ_OPTIMIZED)

    def incremental(
        self, begin: str | None, end: str | None = None,
        fallback_full_scan: bool = False,
        path_glob: str | None = None,
    ) -> DataFrame:
        from .sources.read import incremental

        return incremental(
            self, begin, end,
            fallback_full_scan=fallback_full_scan, path_glob=path_glob,
        )

    def time_travel(self, as_of: str) -> DataFrame:
        return self.snapshot(as_of=as_of)

    # -- services ----------------------------------------------------------
    def schedule_compaction(self, **kw) -> str | None:
        from .operators.services import schedule_compaction

        return schedule_compaction(self, **kw)

    def compact(self, instant: str | None = None) -> str | None:
        from .operators.services import run_compaction

        return run_compaction(self, instant)

    def validate_compaction(self, instant: str) -> list[dict]:
        from .operators.services import validate_compaction

        return validate_compaction(self, instant)

    def unschedule_compaction(self, instant: str) -> bool:
        from .operators.services import unschedule_compaction

        return unschedule_compaction(self, instant)

    def unschedule_compaction_file_id(
        self, instant: str, partition: str, file_id: str
    ) -> bool:
        from .operators.services import unschedule_compaction_file_id

        return unschedule_compaction_file_id(self, instant, partition, file_id)

    def repair_compaction(self, instant: str) -> dict:
        from .operators.services import repair_compaction

        return repair_compaction(self, instant)

    def cluster(self, **kw) -> str | None:
        from .operators.clustering import cluster

        return cluster(self, **kw)

    def schedule_cluster(self, **kw) -> str | None:
        from .operators.clustering import schedule_cluster

        return schedule_cluster(self, **kw)

    def run_cluster(self, instant: str | None = None) -> str | None:
        from .operators.clustering import run_cluster

        return run_cluster(self, instant)

    def clean(self) -> str | None:
        from .operators.services import clean

        return clean(self)

    def archive(self) -> int:
        """Trim the active timeline (``HoodieTimelineArchiveLog``). In
        multi-writer mode this runs under the table lock so two writers'
        post-commit archivers cannot interleave batch-write/delete; a
        busy lock just skips this round (archiving is housekeeping — the
        next commit retries)."""
        import uuid

        from .concurrency import LockBusyError, table_lock

        try:
            with table_lock(self, f"archiver-{uuid.uuid4().hex}"):
                n = self.timeline.archive(
                    self.cfg.keep_min_commits,
                    self.cfg.keep_max_commits,
                    protected_ts=set(self.savepoint_instants()),
                )
                # bound the batch-file count a fresh reader's view fold pays
                self.timeline.consolidate_archive(
                    getattr(self.cfg, "archive_merge_batches", 16)
                )
                return n
        except LockBusyError:
            return 0

    def rollback(self, instant: str) -> str:
        from .operators.services import rollback_instant

        return rollback_instant(self, instant)

    def rollback_pending_writes(self) -> list[str]:
        from .operators.services import rollback_pending_writes

        return rollback_pending_writes(self)

    def savepoint(self, instant: str | None = None) -> str:
        from .operators.services import savepoint

        return savepoint(self, instant)

    def restore(self, savepoint_ts: str) -> str:
        from .operators.services import restore

        return restore(self, savepoint_ts)

    def savepoint_instants(self) -> list[str]:
        out = []
        for inst in self.timeline.completed((SAVEPOINT,)):
            out.append(self.timeline.read_metadata(inst)["savepoint_at"])
        return out

    def run_post_commit_services(self) -> None:
        """Inline services after a successful commit, mirroring
        ``AbstractHoodieWriteClient.java:833,1002`` (compact → clean →
        archive per config)."""
        from .operators.services import clean, compaction_due, run_compaction

        if self.cfg.inline_compact and compaction_due(self):
            run_compaction(self)
        if self.cfg.auto_clean:
            clean(self)
        if self.cfg.auto_archive:
            self.archive()
        from .operators import key_index

        if key_index.enabled(self.cfg):
            key_index.compact_if_due(self)

    # -- schema evolution / DDL ---------------------------------------------
    def add_columns(self, fields) -> str:
        """ALTER TABLE ADD COLUMNS — [(name, type_str)] or StructType."""
        from .operators.schema_evolution import add_columns

        return add_columns(self, fields)

    def change_column_type(self, name: str, new_type) -> str:
        """ALTER TABLE CHANGE COLUMN — widening conversions only."""
        from .operators.schema_evolution import change_column_type

        return change_column_type(self, name, new_type)

    def rename(self, new_name: str) -> None:
        """ALTER TABLE RENAME TO — updates the persisted table-name
        property (the analogue of ``hoodie.table.name`` in
        hoodie.properties; reference
        ``sql/hudi/command/AlterHoodieTableRenameCommand.scala`` renames
        the catalog entry then patches the table config the same way).
        Data and timeline are untouched; catalog re-registration is the
        SQL session's job."""
        import dataclasses as _dc

        self.cfg = _dc.replace(self.cfg, table_name=new_name)
        self.fs.write_text_atomic(
            f"{self.meta_path}/table_config.json", self.cfg.to_json(), overwrite=True
        )

    def truncate(self) -> str:
        """TRUNCATE TABLE: logical replace of every file group, schema
        kept (``TruncateHoodieTableCommand``)."""
        from .operators.write import run_replace_write

        return run_replace_write(
            self, None, WriteOperation.DELETE_PARTITION,
            partitions=self.partitions(),
        )

    # -- SQL-ish DML -------------------------------------------------------
    def merge_into(self, source: DataFrame, **kw) -> str:
        from .sql.dml import merge_into

        return merge_into(self, source, **kw)

    def update_where(self, condition, assignments: dict) -> str:
        from .sql.dml import update_where

        return update_where(self, condition, assignments)

    def delete_where(self, condition) -> str:
        from .sql.dml import delete_where

        return delete_where(self, condition)

    # -- introspection -----------------------------------------------------
    def commits(self) -> list[str]:
        return [i.timestamp for i in self.timeline.completed_write_instants()]

    def partitions(self) -> list[str]:
        return self.view().partitions()

    def file_slices(self) -> list:
        return self.view().latest_file_slices()

    def commits_df(self) -> DataFrame:
        """Per-commit stats as a DataFrame — the hudi-cli ``commits
        show`` surface (``hudi-cli/.../CommitsCommand.java``): one row
        per completed write instant with rows/bytes/files written and
        partitions touched. Driver metadata only."""
        rows = []
        for ts, action, md in self.view().commits:
            stats = md.get("write_stats", [])
            rows.append(
                (
                    ts,
                    action,
                    md.get("operation", ""),
                    sum(s.get("rows", 0) for s in stats),
                    sum(s.get("bytes", 0) for s in stats),
                    # archive consolidation skeletons drop paths but
                    # keep the original file count as n_files
                    sum(
                        s.get("n_files", len(s.get("paths", [])))
                        for s in stats
                    ),
                    len({s.get("partition", "") for s in stats}),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "instant string, action string, operation string, "
            "total_rows long, total_bytes long, files_written int, "
            "partitions_touched int",
        )

    def key_index_df(self) -> DataFrame | None:
        """Live (record_key → partition, file_id) mapping of the
        persisted RECORD_INDEX, or None when the table has no index
        files — the introspection counterpart to `commits_df`."""
        from .operators import key_index

        return key_index.read_index(self)

    def files_df(self) -> DataFrame:
        """Latest file slices as a DataFrame — the hudi-cli
        ``show fsview latest`` / ``stats filesizes`` surface: one row
        per live file group with its base/delta sizes and key range."""
        rows = []
        for s in self.view().latest_file_slices():
            rows.append(
                (
                    s.partition,
                    s.file_id,
                    s.base.instant,
                    len(s.base.paths),
                    s.base.bytes,
                    s.base.rows,
                    len(s.logs),
                    sum(l.bytes for l in s.logs),
                    s.base.min_key,
                    s.base.max_key,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "partition string, file_id string, base_instant string, "
            "base_files int, base_bytes long, base_rows long, "
            "delta_files int, delta_bytes long, min_key string, max_key string",
        )
