"""Write operators: bulk_insert / insert / upsert / delete /
insert_overwrite[_table] / delete_partition / bootstrap.

Pipeline parity with the reference
(``BaseSparkCommitActionExecutor.java:146-180``):

    stamp keys → preCombine dedup → index tag (key-location join) →
    insert bucket assignment (small-file packing) → per-file-group merge
    → write parquet → stats → commit

but every stage is a DataFrame transformation; the driver only ever
handles file-group-level metadata (bucket plans, write stats), never
rows.
"""

from __future__ import annotations

import functools
import os
import time
import uuid
from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import (
    BLOOM_INDEX_TYPES,
    COMMIT_TIME_COL,
    DEFAULT_PARTITION,
    EMPTY_PARTITION_DIR,
    DELETE_MARKER_COL,
    FILE_ID_COL,
    LAYOUT_FILEGROUP_COL,
    LAYOUT_PARTITION_COL,
    META_COLS,
    PARTITION_PATH_COL,
    RECORD_KEY_COL,
    SEQNO_COL,
    TableType,
    WriteConfig,
    WriteOperation,
    is_global_index,
)
from ..callbacks import fire_commit_callback, validate_callback_config
from ..metrics import table_metrics, validate_metrics_config
from ..precommit import run_precommit_validators, validate_precommit_config
from ..concurrency import CommitUndoneError, guarded_commit, start_heartbeat, txn_start_marker
from ..keygen import stamp_keys
from ..local_rel import local_df
from ..metadata import FileSystemView, WriteStat, make_commit_metadata
from ..payloads import Payload, get_payload
from .merge import (
    ARRIVAL_ORDER_COL,
    bq,
    broadcast_merge_stored,
    fits_broadcast,
    merge_stored_and_incoming,
    precombine_dedup,
    seqno_expr,
)

_STATS_TYPES = (
    T.StringType, T.IntegerType, T.LongType, T.ShortType, T.ByteType,
    T.FloatType, T.DoubleType, T.DecimalType, T.DateType, T.TimestampType,
    T.BooleanType,
)


class _StageTimer:
    """Wall-clock per write stage, printed when HUDI_SPARK_DEBUG_TIMING
    is set — the feedback loop for keeping the write path's Spark-job
    count and per-job cost honest."""

    # optional programmatic sink for tooling (tools/scale_curve.py):
    # (op, stage, seconds) appended per mark when set
    sink: list | None = None

    def __init__(self, op: str):
        self.enabled = bool(os.environ.get("HUDI_SPARK_DEBUG_TIMING"))
        self.op = op
        self.last = time.perf_counter()

    def mark(self, stage: str) -> None:
        if not self.enabled and _StageTimer.sink is None:
            return
        now = time.perf_counter()
        dt = now - self.last
        self.last = now
        if _StageTimer.sink is not None:
            _StageTimer.sink.append((self.op, stage, dt))
        if self.enabled:
            import sys

            print(
                f"## write[{self.op}] {stage}: {dt:.2f}s",
                file=sys.stderr, flush=True,
            )


def data_columns(schema: T.StructType) -> list[str]:
    return [
        f.name
        for f in schema.fields
        if f.name not in META_COLS
        and f.name != DELETE_MARKER_COL
        and f.name != ARRIVAL_ORDER_COL
    ]


def _align_to_table_schema(
    incoming: DataFrame, table_schema: T.StructType | None
) -> DataFrame:
    """Reorder/extend incoming columns to the table schema; columns the
    table has but the batch lacks become typed nulls, new batch columns
    are appended (add-column schema evolution — reference 'reconcile
    schema', ``ds/HoodieSparkSqlWriter.scala:168``)."""
    if table_schema is None:
        return incoming
    # match by lowercase name: Spark SQL resolution is case-insensitive
    # by default, and the reference accepts batches whose column names
    # differ in case only (TestMergeIntoTable2 "Test ignoring case")
    from .merge import bq

    in_types = {f.name.lower(): (f.name, f.dataType) for f in incoming.schema.fields}
    # one selectExpr for the whole width (optimization r9, guide §4:
    # a Column-object select pays several py4j round trips per column)
    cols = []
    for f in table_schema.fields:
        if f.name in (LAYOUT_PARTITION_COL, LAYOUT_FILEGROUP_COL):
            continue
        hit = in_types.get(f.name.lower())
        if hit is not None:
            src_name, src_type = hit
            # cast to the table's declared type (reference:
            # InsertIntoHoodieTableCommand aligns query output fields) so
            # every file of a group carries an identical parquet schema
            if src_type != f.dataType:
                cols.append(
                    f"CAST({bq(src_name)} AS {f.dataType.simpleString()}) "
                    f"AS {bq(f.name)}"
                )
            else:
                cols.append(f"{bq(src_name)} AS {bq(f.name)}")
        elif f.name in META_COLS:
            continue  # meta columns are restamped
        else:
            cols.append(
                f"CAST(NULL AS {f.dataType.simpleString()}) AS {bq(f.name)}"
            )
    table_names = {f.name.lower() for f in table_schema.fields}
    for f in incoming.schema.fields:
        if f.name.lower() not in table_names:
            cols.append(bq(f.name))
    return incoming.selectExpr(*cols)


# --------------------------------------------------------------------------
# Index: tag incoming rows with the file group that currently holds the key
# --------------------------------------------------------------------------

_INMEMORY_CACHE: dict[str, tuple] = {}  # base_path -> (fingerprint, entries)
# HoodieInMemoryHashIndex parity (testing only,
# ``client/index/inmemory/HoodieInMemoryHashIndex.java``): the whole
# key→location map lives on the driver, rebuilt whenever the timeline
# changes, broadcast into the tag join
_INMEMORY_TYPES = ("INMEMORY", "IN_MEMORY")


def _inmemory_index_entries(table, view: FileSystemView) -> list[tuple[str, str, str]]:
    from ..sources.read import slices_to_df

    fp = table.timeline.fingerprint()
    cached = _INMEMORY_CACHE.get(table.base_path)
    if cached is not None and cached[0] == fp:
        return cached[1]
    slices = view.latest_file_slices()
    entries: list[tuple[str, str, str]] = []
    if any(s.base.paths for s in slices):
        entries = [
            (r[0], r[1], r[2])
            for r in slices_to_df(table, slices)
            .select(RECORD_KEY_COL, PARTITION_PATH_COL, FILE_ID_COL)
            .collect()
        ]
    _INMEMORY_CACHE[table.base_path] = (fp, entries)
    return entries


# Below this many table partitions a local index skips the incoming-key
# summary job (unless BLOOM needs it): the manifest already bounds the
# index scan, so discovering the batch's partitions would save nothing.
SUMMARY_MIN_PARTITIONS = 64


def persist_tag_frame(df: DataFrame) -> DataFrame:
    """Persist ``incoming`` or ``tagged`` with AQE's final-stage
    coalescing on. Spark plans a cached frame with that coalescing off,
    so its output would keep ``spark.sql.shuffle.partitions`` partitions
    — 200 by default, for a 10-row batch — and every reader of the cache
    would run that many tasks. With it on, AQE sizes the cached frame by
    its data on every session; the write plans read it through an
    ``AQEShuffleRead`` and add no exchange. The flag is set on the shared
    session for the ``persist`` call only (``session_conf``)."""
    from pyspark import StorageLevel

    from ..sources.read import session_conf

    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    with session_conf(df.sparkSession, key, "true"):
        return df.persist(StorageLevel.MEMORY_AND_DISK)


def tag_location(table, view: FileSystemView, incoming: DataFrame) -> DataFrame:
    """Tag each incoming row with the file group holding its key
    (``_hoodie_file_id``, null for a new key): source → candidate stages
    → one join, the shape of ``HoodieBloomIndex.java:143-155`` and
    ``HoodieSimpleIndex.java:94-151``.

    Source (``_index_source``) of (key, partition, file_id) entries: the
    base files of the candidate slices (SIMPLE, BLOOM, GLOBAL_*; Catalyst
    prunes the scan to the three meta columns), the driver map (INMEMORY)
    or the key index's buckets for the batch (RECORD_INDEX).

    Candidate stages only DROP candidates, so none can change a result:
    live slices, or only the batch's partitions; the key range — a base
    whose commit-stat [min_key, max_key] misses the batch's keys (in its
    partition, or anywhere for a global index) goes, a null bound stays;
    bloom membership (BLOOM); live groups (RECORD_INDEX). The partition
    and range stages read one incoming-key summary job, run only for
    BLOOM or past ``SUMMARY_MIN_PARTITIONS`` partitions.

    Join (``_tag_join``): on (key, partition), or on key for a global
    index. ``incoming`` is persisted exactly when a stage reads it
    before the join; the caller unpersists it."""
    cfg = table.cfg
    is_global = is_global_index(cfg)
    index = _index_source(table, view, incoming, is_global)
    if index is None:
        return incoming.withColumn(FILE_ID_COL, F.lit(None).cast("string"))
    return _tag_join(incoming, index, is_global, cfg)


def _index_source(table, view: FileSystemView, incoming: DataFrame, is_global: bool):
    """The (key, ``__idx_pp``, ``__idx_fid``) frame the tag join reads,
    or None when no candidate can hold an incoming key."""
    cfg = table.cfg
    from . import key_index

    if key_index.enabled(cfg):
        persist_tag_frame(incoming)  # read by the bucket lookup and key semi-join
        source = key_index.read_index(
            table, key_index.tag_buckets_of(table, incoming), keys=incoming
        )
        if source is None:
            key_index.build_full(table, view)
            source = key_index.read_index(table, keys=incoming)
        if source is None:
            return None
        # entries can point at groups since REPLACED (clustering,
        # insert_overwrite, delete_partition); left to the global join, one
        # would move the incoming row into the dropped group's partition
        if any(fg.replaced_at is not None for fg in view.groups.values()):
            live = sorted({(s.partition, s.file_id) for s in view.latest_file_slices()})
            live_df = local_df(
                table.spark, live, f"{PARTITION_PATH_COL} string, {FILE_ID_COL} string"
            )
            source = source.join(
                F.broadcast(live_df), [PARTITION_PATH_COL, FILE_ID_COL], "left_semi"
            )
    elif cfg.index_type.upper() in _INMEMORY_TYPES:
        entries = _inmemory_index_entries(table, view)
        schema = f"{RECORD_KEY_COL} string, __idx_pp string, __idx_fid string"
        return F.broadcast(local_df(table.spark, entries, schema)) if entries else None
    else:
        slices = _candidate_slices(table, view, incoming, is_global)
        if not any(s.base.paths for s in slices):
            return None  # no candidate, or only zero-row (fully deleted) groups
        from ..sources.read import slices_to_df

        source = slices_to_df(table, slices)
    return source.select(
        F.col(RECORD_KEY_COL),
        F.col(PARTITION_PATH_COL).alias("__idx_pp"),
        F.col(FILE_ID_COL).alias("__idx_fid"),
    )


def _in_range(s, lo, hi) -> bool:
    b = s.base
    if lo is None or b.min_key is None or b.max_key is None:
        return True
    return not (b.max_key < lo or b.min_key > hi)


def _candidate_slices(table, view: FileSystemView, incoming: DataFrame, is_global: bool) -> list:
    """The live slices that may hold an incoming key, after the
    partition, key-range and bloom stages."""
    bloom = table.cfg.index_type.upper() in BLOOM_INDEX_TYPES
    if not bloom and (is_global or len(view.partitions()) <= SUMMARY_MIN_PARTITIONS):
        return view.latest_file_slices()
    persist_tag_frame(incoming)
    # the incoming-key summary: partition → (min, max[, ~distinct keys])
    aggs = [F.min(RECORD_KEY_COL), F.max(RECORD_KEY_COL)]
    aggs += [F.approx_count_distinct(RECORD_KEY_COL)] if bloom else []
    summary = {r[0]: r[1:] for r in incoming.groupBy(PARTITION_PATH_COL).agg(*aggs).collect()}
    if is_global:  # a key may live in any partition: the batch's whole range
        lo = min((v[0] for v in summary.values() if v[0] is not None), default=None)
        hi = max((v[1] for v in summary.values() if v[1] is not None), default=None)
        slices = [s for s in view.latest_file_slices() if _in_range(s, lo, hi)]
    else:
        slices = view.latest_file_slices(partitions=list(summary))
        slices = [s for s in slices if _in_range(s, *summary[s.partition][:2])]
    if bloom and slices:
        from . import bloom as bloom_index

        n_keys = sum(v[2] for v in summary.values())
        slices = bloom_index.prune_slices(table, incoming, slices, is_global, n_keys)
    return slices


def _tag_join(incoming: DataFrame, index: DataFrame, is_global: bool, cfg) -> DataFrame:
    """The one incoming ⋈ index join. A local index joins on (key,
    partition). A global index joins on the key alone and handles a key
    that arrives in a new partition per ``update_partition_path``
    (``HoodieGlobalBloomIndex`` semantics)."""
    if not is_global:
        index = index.withColumnRenamed("__idx_pp", PARTITION_PATH_COL)
        tagged = incoming.join(index, [RECORD_KEY_COL, PARTITION_PATH_COL], "left")
        return tagged.withColumn(FILE_ID_COL, F.col("__idx_fid")).drop("__idx_fid")
    tagged = incoming.join(index, [RECORD_KEY_COL], "left")
    if cfg.update_partition_path:
        # a key arriving with a new partition is deleted from the old
        # file group and inserted into the new partition
        moved = F.col("__idx_fid").isNotNull() & (
            F.col("__idx_pp") != F.col(PARTITION_PATH_COL)
        )
        tombstones = (
            tagged.filter(moved)
            .withColumn(PARTITION_PATH_COL, F.col("__idx_pp"))
            .withColumn(FILE_ID_COL, F.col("__idx_fid"))
            .withColumn(DELETE_MARKER_COL, F.lit(True))
        )
        kept = tagged.withColumn(
            FILE_ID_COL,
            F.when(moved, F.lit(None).cast("string")).otherwise(F.col("__idx_fid")),
        )
        cols = [c for c in kept.columns if c not in ("__idx_pp", "__idx_fid")]
        if DELETE_MARKER_COL not in cols:
            kept = kept.withColumn(DELETE_MARKER_COL, F.lit(False))
            cols.append(DELETE_MARKER_COL)
        return kept.select(*cols).unionByName(
            tombstones.select(*cols), allowMissingColumns=True
        )
    # stay in the original partition (updatePartitionPath=false)
    tagged = tagged.withColumn(
        PARTITION_PATH_COL,
        F.coalesce(F.col("__idx_pp"), F.col(PARTITION_PATH_COL)),
    )
    return tagged.withColumn(FILE_ID_COL, F.col("__idx_fid")).drop(
        "__idx_pp", "__idx_fid"
    )


# --------------------------------------------------------------------------
# Insert bucket assignment (small-file packing)
# --------------------------------------------------------------------------


def plan_insert_buckets(
    view: FileSystemView,
    cfg: WriteConfig,
    insert_counts: list[tuple[str, int]],
    pack_small_files: bool,
) -> list[tuple[str, int, int, str, bool]]:
    """Driver-side bucket plan per partition, mirroring
    ``UpsertPartitioner.assignInserts`` (UpsertPartitioner.java:60-214):
    fill files below the small-file limit up to the target size using
    the avg-record-size estimate, then open new file groups.

    Returns rows (partition, start_idx, end_idx, file_id, into_existing).
    """
    rec_size = view.avg_record_size(cfg.record_size_estimate)
    buckets = []
    for pp, n in insert_counts:
        idx = 0
        if pack_small_files:
            for sl in view.small_files(pp, cfg.small_file_limit_bytes):
                if idx >= n:
                    break
                cap = max(0, (cfg.max_file_size_bytes - sl.base.bytes) // rec_size)
                if cap <= 0:
                    continue
                take = min(cap, n - idx)
                buckets.append((pp, idx, idx + take, sl.file_id, True))
                idx += take
        cap_new = max(1, cfg.max_file_size_bytes // rec_size)
        while idx < n:
            take = min(cap_new, n - idx)
            buckets.append((pp, idx, idx + take, uuid.uuid4().hex[:16], False))
            idx += take
    return buckets


_BUCKET_SCHEMA = T.StructType(
    [
        T.StructField(PARTITION_PATH_COL, T.StringType()),
        T.StructField("__bstart", T.LongType()),
        T.StructField("__bend", T.LongType()),
        T.StructField("__bfid", T.StringType()),
        T.StructField("__bexisting", T.BooleanType()),
        T.StructField("__btotal", T.LongType()),
    ]
)


def assign_inserts(
    table,
    view: FileSystemView,
    inserts: DataFrame,
    pack_small_files: bool,
    insert_counts: list[tuple[str, int]] | None = None,
) -> tuple[DataFrame, set[tuple[str, str]]]:
    """Map each untagged (insert) row to a file group via the bucket
    plan. Row→bucket assignment hashes the record key into the
    partition's cumulative bucket ranges — the same proportional
    key-hash scheme as the reference's custom ``Partitioner``
    (``UpsertPartitioner.getPartition``), and fully parallel: every row
    decides its bucket independently from the broadcast plan, so a
    single table-partition's inserts never funnel through one task (the
    earlier ``row_number`` window serialized each table partition).

    ``insert_counts`` lets the caller supply per-partition row counts
    from an already-collected workload profile (one Spark job for the
    whole write, ``BaseSparkCommitActionExecutor.buildProfile``).

    Returns the assigned rows and every (partition, file_id) the plan
    targets: new groups and the small groups being packed (the targets
    already live in the view). Its size is the write shuffle's exact
    task count."""
    counts = insert_counts
    if counts is None:
        counts = [
            (r[0], r[1])
            for r in inserts.groupBy(PARTITION_PATH_COL).count().collect()
        ]
    if not counts:
        return inserts.limit(0).withColumn(FILE_ID_COL, F.lit(None).cast("string")), set()
    buckets = plan_insert_buckets(view, table.cfg, counts, pack_small_files)
    # (partition, fid) — fid alone may name groups in other partitions
    groups = {(b[0], b[3]) for b in buckets}
    totals = {pp: n for pp, n in counts}
    bucket_rows = [(b[0], b[1], b[2], b[3], b[4], totals[b[0]]) for b in buckets]
    bucket_df = local_df(table.spark, bucket_rows, _BUCKET_SCHEMA)
    # hash-mod the key into [0, partition_total); bucket ranges partition
    # that interval proportionally to their planned capacity, so fills
    # track the plan within hash noise (exactly the reference's behavior)
    assigned = (
        inserts.drop(FILE_ID_COL)
        .join(F.broadcast(bucket_df), [PARTITION_PATH_COL], "inner")
        .withColumn("__idx", F.pmod(F.xxhash64(F.col(RECORD_KEY_COL)), F.col("__btotal")))
        .filter((F.col("__idx") >= F.col("__bstart")) & (F.col("__idx") < F.col("__bend")))
        .withColumn(FILE_ID_COL, F.col("__bfid"))
        .drop("__idx", "__bstart", "__bend", "__bfid", "__bexisting", "__btotal")
    )
    return assigned, groups


# --------------------------------------------------------------------------
# Physical write + stats
# --------------------------------------------------------------------------


def write_tasks(spark, n_groups: int, group_bytes: int) -> int:
    """Tasks for a stage that writes ``n_groups`` file groups of about
    ``group_bytes`` each: as many groups per task as fit the session's
    ``spark.sql.files.maxPartitionBytes`` (the target Spark's scans size
    their tasks by), but no fewer tasks than cores while there are
    groups to spread. At the default 120 MB groups one group fills a
    task, so every group keeps its own task; the rule only packs groups
    under half the target, where a task's fixed cost outweighs its
    work. Callers keep each group inside one task, so each group is
    still written as one file."""
    n = max(1, n_groups)
    target = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    per_task = max(1, target // max(1, group_bytes))
    return max(min(n, spark.sparkContext.defaultParallelism), -(-n // per_task))


def range_file_groups(df: DataFrame, n_groups: int, cols: list, group_bytes: int) -> DataFrame:
    """Range-partition ``df`` on ``cols`` into ``n_groups`` file groups,
    each named by a fresh uuid prefix and its range partition id, then
    pack the ranges into ``write_tasks`` tasks with a ``coalesce``: no
    shuffle, and a range never splits across tasks, so a group is still
    one file (the reference's row-path bulk insert likewise rolls one
    task through many files, ``HoodieDatasetBulkInsertHelper.java:70-133``).
    The id is stamped before the coalesce, where the partition id is
    still the range's."""
    prefix = uuid.uuid4().hex[:8]
    out = df.repartitionByRange(n_groups, *cols).withColumn(
        FILE_ID_COL,
        F.concat_ws("-", F.lit(prefix), F.spark_partition_id().cast("string")),
    )
    tasks = write_tasks(df.sparkSession, n_groups, group_bytes)
    return out.coalesce(tasks) if tasks < n_groups else out


def write_instant_files(
    table, df: DataFrame, instant: str, n_groups: int,
    pre_partitioned: bool = False, stamp_seqno: bool = False,
) -> None:
    """One pass: shuffle by file group, sort by key within the file, and
    let Spark's parquet sink lay out ``data/<instant>/_pp=…/_fg=…/``.
    File-group identity is carried by directory structure + manifest, so
    Spark's own (parallel, committer-backed) writer does all data I/O.
    The shuffle has ``write_tasks`` partitions for ``n_groups`` new
    groups of ``max_file_size_bytes`` each (a MOR deltacommit, an
    insert overwrite). ``pre_partitioned`` skips it: bulk insert and
    clustering have range-partitioned, the COW rewrite and compaction
    have hash-partitioned by file group.

    The in-task sort leads with the two layout (directory) columns:
    Spark's dynamic-partition writer requires rows sorted by the
    partition columns and inserts its own sort when the child's output
    ordering doesn't already start with them — by matching that prefix
    we pay ONE sort instead of two, and the writer's (non-key-aware)
    re-sort can't destroy the key order inside each file.
    ``stamp_seqno`` (bulk insert) replaces ``_hoodie_commit_seqno``
    after that sort, so seqnos ascend with the key in every file."""
    out = df.withColumns(
        {
            LAYOUT_PARTITION_COL: F.when(
                F.col(PARTITION_PATH_COL) == "", F.lit(EMPTY_PARTITION_DIR)
            ).otherwise(F.col(PARTITION_PATH_COL)),
            LAYOUT_FILEGROUP_COL: F.col(FILE_ID_COL),
        }
    )
    if not pre_partitioned:
        tasks = write_tasks(table.spark, n_groups, table.cfg.max_file_size_bytes)
        out = out.repartition(tasks, F.col(LAYOUT_FILEGROUP_COL))
    # always sort locally: the writer would sort by the layout columns
    # anyway, so including the record key is free and keeps files
    # key-ordered (footer key ranges stay tight for index pruning)
    out = out.sortWithinPartitions(LAYOUT_PARTITION_COL, LAYOUT_FILEGROUP_COL, RECORD_KEY_COL)
    if stamp_seqno:
        out = out.withColumn(SEQNO_COL, seqno_expr(instant))
    from ..sources.read import base_format

    if table.cfg.drop_partition_columns:
        # hoodie.datasource.write.drop.partition.columns: the partition
        # values live in _hoodie_partition_path; readers rebuild the
        # columns from it (sources/read.py _restore_partition_columns).
        # Timestamp-keygen partition values are a date_format rendering
        # of the column — dropping the column would lose data the path
        # can't reconstruct, so refuse the combination.
        from ..keygen import timestamp_partition_fields

        ts_fields = timestamp_partition_fields(table.cfg)
        if ts_fields:
            raise ValueError(
                "drop_partition_columns is not supported with "
                f"timestamp-keygen partition fields {sorted(ts_fields)}: "
                "the partition path stores a formatted rendering, not "
                "the column value, so the column cannot be rebuilt"
            )
        out = out.drop(
            *[f for f in table.cfg.partition_fields() if f in out.columns]
        )
    if not table.cfg.populate_meta_fields:
        # virtual keys (hoodie.populate.meta.fields=false): data files
        # carry NO meta columns — readers re-derive the key from the
        # keygen expression and partition/group/commit identity from the
        # file path (sources/read.py _derive_virtual_meta). Dropping is
        # a projection AFTER the sort, so file key-order is preserved.
        # The reference writes the meta fields as nulls instead
        # (HoodieParquetWriter.java:78-85 skips prepRecordWithMetadata);
        # omitting the columns entirely is the columnar-native
        # equivalent — read_schema() pins them back as nulls.
        out = out.drop(*[c for c in META_COLS if c in out.columns])
    out.write.mode("error").partitionBy(
        LAYOUT_PARTITION_COL, LAYOUT_FILEGROUP_COL
    ).format(base_format(table)).save(table.instant_data_path(instant))


def _parse_layout_path(table_base: str, file_uri: str) -> tuple[str, str, str] | None:
    """→ (partition_path, file_id, rel_path) from
    ``…/data/<instant>/_pp=<pp>/_fg=<fid>/part-….parquet``."""
    if not (file_uri.endswith(".parquet") or file_uri.endswith(".orc")):
        return None
    # resolve relative to the TABLE BASE, not the first '/data/' in the
    # URI — a base path like /srv/data/tbl must not shift the split
    plain = file_uri.split(":", 1)[1].lstrip("/") if file_uri.startswith("file:") else file_uri
    base = table_base.split(":", 1)[1].lstrip("/") if table_base.startswith("file:") else table_base
    plain, base = "/" + plain.lstrip("/"), "/" + base.lstrip("/").rstrip("/")
    if plain.startswith(base + "/"):
        rel = plain[len(base) + 1:]
    elif "/data/" in plain:  # foreign prefix (e.g. mounted alias) — best effort
        rel = "data/" + plain.rsplit("/data/", 1)[1]
    else:
        return None
    if not rel.startswith("data/"):
        return None
    pp, fid = None, None
    for seg in rel.split("/"):
        if seg.startswith(LAYOUT_PARTITION_COL + "="):
            pp = unquote(seg.split("=", 1)[1])
        elif seg.startswith(LAYOUT_FILEGROUP_COL + "="):
            fid = unquote(seg.split("=", 1)[1])
    if pp is None or fid is None:
        return None
    if pp == EMPTY_PARTITION_DIR:
        pp = ""
    return pp, fid, rel


def _js(v):
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    return str(v)  # datetime/date/Decimal → ISO-ish string, order-preserving


def _orc_stats(path: str, stat_cols: list[str]) -> dict:
    """ORC per-file stats: pyarrow's ORC reader exposes no per-column
    statistics metadata, so read ONLY the wanted columns (columnar IO —
    the stripe data for 2-3 columns, not the file) and aggregate. Costs
    more than a parquet footer but stays per-file and distributed."""
    import pyarrow.compute as pc
    import pyarrow.orc as po

    f = po.ORCFile(path)
    names = set(f.schema.names)
    wanted = [c for c in [RECORD_KEY_COL, *stat_cols] if c in names]
    out_cols = {}
    key_rng = (None, None)
    if wanted:
        t = f.read(columns=wanted)
        for c in wanted:
            col = t.column(c)
            try:
                mm = pc.min_max(col)
                mn, mx = mm["min"].as_py(), mm["max"].as_py()
            except Exception:
                continue
            nulls = col.null_count
            if c == RECORD_KEY_COL:
                key_rng = (mn, mx)
            if c in stat_cols and mn is not None:
                out_cols[c] = [_js(mn), _js(mx), nulls]
    return {"rows": f.nrows, "min_key": _js(key_rng[0]),
            "max_key": _js(key_rng[1]), "col_stats": out_cols}


def _footer_stats(uri: str, stat_cols: list[str]) -> dict:
    """Per-file stats straight from the parquet footer — row count and
    per-column min/max/null-count, no data pages read. The reference
    reads key ranges from footers the same way
    (``HoodieBloomIndex.java:136-160`` via ``ParquetUtils``)."""
    import pyarrow.parquet as pq

    path = uri[len("file:"):] if uri.startswith("file:") else uri
    if path.endswith(".orc"):
        return _orc_stats(path, stat_cols)
    md = pq.ParquetFile(path).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    wanted = [c for c in [RECORD_KEY_COL, *stat_cols] if c in names]
    agg: dict[str, list] = {}  # col -> [min, max, nulls, exact]
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for c in wanted:
            st = g.column(names[c]).statistics
            cur = agg.setdefault(c, [None, None, 0, True])
            try:
                if st is None or not st.has_min_max:
                    cur[3] = False
                    continue
                mn, mx = st.min, st.max
            except Exception:  # pyarrow: "Cannot extract statistics for type"
                cur[3] = False
                continue
            # long binary stats may be writer-truncated → not trustworthy
            if isinstance(mn, bytes) or (isinstance(mx, str) and len(mx) > 1000):
                cur[3] = False
                continue
            cur[0] = mn if cur[0] is None else min(cur[0], mn)
            cur[1] = mx if cur[1] is None else max(cur[1], mx)
            cur[2] += st.null_count if st.has_null_count else 0
    out_cols = {}
    for c in stat_cols:
        a = agg.get(c)
        if a and a[3] and a[0] is not None:
            out_cols[c] = [_js(a[0]), _js(a[1]), a[2]]
    k = agg.get(RECORD_KEY_COL)
    key_rng = (k[0], k[1]) if k and k[3] else (None, None)
    return {"rows": md.num_rows, "min_key": key_rng[0], "max_key": key_rng[1],
            "col_stats": out_cols}


def collect_write_stats(
    table,
    instant: str,
    log_fids: set[tuple[str, str]] | None = None,
    schema: T.StructType | None = None,
) -> list[WriteStat]:
    """Per-file-group row counts, key ranges, and column min/max/null
    stats — the inputs for index range-pruning and data skipping
    (``ZOrderingIndexHelper.java:86`` builds the same stats table).

    The stats columns come from the table's schema; ``schema`` (the
    frame the caller just wrote) stands in on the first commit, before
    any completed instant records one.

    Read from parquet footers only (no data I/O, no Spark shuffle);
    footers are fetched on the driver for small commits and fanned out
    over executors for large ones."""
    cfg = table.cfg
    from . import bloom as bloom_index

    inst_dir = table.instant_data_path(instant)
    listed = table.fs.list_files_recursive(inst_dir)
    by_fg_bytes: dict[tuple[str, str], int] = {}
    by_fg_paths: dict[tuple[str, str], list[str]] = {}
    uris: dict[str, tuple[str, str]] = {}
    for uri, size in listed:
        parsed = _parse_layout_path(table.base_path, uri)
        if parsed is None:
            continue
        pp, fid, rel = parsed
        by_fg_bytes[(pp, fid)] = by_fg_bytes.get((pp, fid), 0) + size
        by_fg_paths.setdefault((pp, fid), []).append(rel)
        uris[uri] = (pp, fid)
    if not by_fg_paths:
        return []
    if bloom_index.enabled(cfg) and any(
        fg not in (log_fids or set()) for fg in by_fg_paths
    ):
        # every base-file-creating path funnels through here (writes,
        # compaction, clustering, bootstrap), so this is the one hook
        # that keeps bloom sidecars complete; cost is one extra pass
        # over the just-written files' key column (∝ batch size).
        # Skipped when EVERY written group is a log group (update-only
        # MOR deltacommit): log keys are already in their base's filter,
        # so the build would write an empty sidecar per commit
        bloom_index.build_sidecar(table, instant, log_fids)

    stat_cols: list[str] = []
    if cfg.collect_column_stats:
        wanted = set(cfg.stats_columns) if cfg.stats_columns else None
        schema = table.schema() or schema
        if schema is not None:
            for f in schema.fields:
                if f.name in META_COLS or f.name == DELETE_MARKER_COL:
                    continue
                if wanted is not None and f.name not in wanted:
                    continue
                if isinstance(f.dataType, _STATS_TYPES):
                    stat_cols.append(f.name)

    uri_list = sorted(uris)
    if len(uri_list) > 64:  # distribute footer reads for large commits
        sc = table.spark.sparkContext
        per_file = dict(
            sc.parallelize(uri_list, max(2, len(uri_list) // 32)).map(
                lambda u: (u, _footer_stats(u, stat_cols))
            ).collect()
        )
    else:
        # driver-side, but I/O-bound: a small thread pool hides per-file
        # open latency (footers only, no data pages)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, max(1, len(uri_list)))) as ex:
            per_file = dict(
                zip(uri_list, ex.map(lambda u: _footer_stats(u, stat_cols), uri_list))
            )

    # fold per-file → per-file-group
    acc: dict[tuple[str, str], dict] = {}
    for u, fstats in per_file.items():
        key = uris[u]
        a = acc.setdefault(
            key, {"rows": 0, "min_key": None, "max_key": None, "cols": {}, "ok": True}
        )
        a["rows"] += fstats["rows"]
        if fstats["min_key"] is None:
            a["ok"] = False
        elif a["ok"]:
            a["min_key"] = (
                fstats["min_key"] if a["min_key"] is None
                else min(a["min_key"], fstats["min_key"])
            )
            a["max_key"] = (
                fstats["max_key"] if a["max_key"] is None
                else max(a["max_key"], fstats["max_key"])
            )
        for c, (mn, mx, nc) in fstats["col_stats"].items():
            cur = a["cols"].setdefault(c, [mn, mx, 0, 0])
            cur[0] = min(cur[0], mn)
            cur[1] = max(cur[1], mx)
            cur[2] += nc
            cur[3] += 1
    n_files_per_group = {k: len(v) for k, v in by_fg_paths.items()}

    stats = []
    for (pp, fid), a in sorted(acc.items()):
        # only keep a column's stats if every file of the group had them
        col_stats = {
            c: v[:3]
            for c, v in a["cols"].items()
            if v[3] == n_files_per_group[(pp, fid)]
        } or None
        stats.append(
            WriteStat(
                partition=pp,
                file_id=fid,
                paths=sorted(by_fg_paths[(pp, fid)]),
                rows=a["rows"],
                bytes=by_fg_bytes.get((pp, fid), 0),
                min_key=a["min_key"] if a["ok"] else None,
                max_key=a["max_key"] if a["ok"] else None,
                log=bool(log_fids and (pp, fid) in log_fids),
                col_stats=col_stats,
            )
        )
    return stats


def _estimate_bulk_groups(table, df: DataFrame) -> int:
    """Target file-group count for bulk insert = input bytes / max file
    size — from source file listings only (no Spark job). Falls back to
    the session's default parallelism for non-file inputs.

    A parallelism floor keeps small loads from collapsing to one serial
    write task (and one file group, which would then serialize every
    later rewrite of the table): one task per ~256 KB of compressed
    input, capped at the session's core count. At scale the size-based
    count dominates anyway (100 TB / 120 MB ≈ 875k groups)."""
    cfg = table.cfg
    if cfg.write_parallelism > 0:
        return cfg.write_parallelism
    total = 0
    try:
        files = df.inputFiles()
        sample = files[:1000]
        for uri in sample:
            total += table.fs.path_size(uri)
        if len(files) > len(sample) and sample:
            total = total * len(files) // len(sample)
    except Exception:
        total = 0
    if total <= 0:
        return table.spark.sparkContext.defaultParallelism
    n_size = -(-total // cfg.max_file_size_bytes)
    n_par = min(
        table.spark.sparkContext.defaultParallelism, -(-total // (256 << 10))
    )
    return max(1, min(1_000_000, max(n_size, n_par)))


def _bulk_insert_df(
    table, incoming: DataFrame, data_cols: list[str], instant: str
) -> DataFrame:
    """Sort-mode layout (``BulkInsertSortMode.java:24-28``). GLOBAL_SORT
    range-partitions on (partition, key) into the estimated group count
    (``range_file_groups``): each range is one file group, and groups of
    new files well under ``maxPartitionBytes`` share a task. Otherwise
    (PARTITION_SORT, NONE) each input partition is one group. No sort
    here: ``write_instant_files`` sorts each task once by (partition,
    group, key), which orders every file by key whatever the mode, and
    stamps the seqno placeholder left here after that sort."""
    from ..config import BulkInsertSortMode

    df = incoming
    if table.cfg.bulk_insert_sort_mode == BulkInsertSortMode.GLOBAL_SORT:
        df = range_file_groups(
            df, _estimate_bulk_groups(table, incoming),
            [F.col(PARTITION_PATH_COL), F.col(RECORD_KEY_COL)],
            table.cfg.max_file_size_bytes,
        )
    else:
        fid = F.concat_ws("-", F.lit(uuid.uuid4().hex[:8]), F.spark_partition_id().cast("string"))
        df = df.withColumn(FILE_ID_COL, fid)
    if DELETE_MARKER_COL in df.columns:
        df = df.filter(~F.coalesce(F.col(DELETE_MARKER_COL), F.lit(False)))
    df = df.withColumns(
        {COMMIT_TIME_COL: F.lit(instant), SEQNO_COL: F.lit(None).cast("string")}
    )
    return _finalize(df, data_cols)


# --------------------------------------------------------------------------
# The write pipelines
# --------------------------------------------------------------------------


def _pure_insert_frame(
    live: DataFrame, payload, data_cols: list[str], col_types: dict[str, str]
) -> DataFrame:
    """Incoming rows written WITHOUT passing through a stored-side merge
    (no stored row can match them): apply the payload's pure-insert gate
    over the full merge-frame column shape (typed-null old__<c> side
    included) so conditions referencing the target alias — 'WHEN NOT
    MATCHED AND t.v IS NULL' — resolve exactly like in the kernel, then
    drop delete-marked rows. Feeds the one insert exchange of
    ``plan_cow_rewrite`` (passthrough, broadcast and no-stored-side
    writes alike)."""
    gate = payload.pure_insert_gate()
    if gate is not None:
        from ..payloads import HAS_NEW, HAS_OLD, NEW, OLD

        live_cols = set(live.columns)
        helper = (
            [HAS_OLD, HAS_NEW,
             OLD + COMMIT_TIME_COL, OLD + SEQNO_COL,
             NEW + DELETE_MARKER_COL]
            + [NEW + c for c in data_cols if c in live_cols]
            + [OLD + c for c in data_cols]
        )
        # one selectExpr instead of 5 withColumn + a per-column select:
        # each transform is a py4j round trip AND an eager JVM analysis
        # pass over the whole tree (optimization r9, guide §4)
        live = (
            live.selectExpr(
                "*",
                f"false AS {bq(HAS_OLD)}",
                f"true AS {bq(HAS_NEW)}",
                f"CAST(NULL AS string) AS {bq(OLD + COMMIT_TIME_COL)}",
                f"CAST(NULL AS string) AS {bq(OLD + SEQNO_COL)}",
                (
                    f"CAST({bq(DELETE_MARKER_COL)} AS boolean) "
                    f"AS {bq(NEW + DELETE_MARKER_COL)}"
                    if DELETE_MARKER_COL in live_cols
                    else f"false AS {bq(NEW + DELETE_MARKER_COL)}"
                ),
                *[
                    f"{bq(c)} AS {bq(NEW + c)}"
                    for c in data_cols
                    if c in live_cols
                ],
                *[
                    f"CAST(NULL AS {col_types.get(c, 'string')}) AS {bq(OLD + c)}"
                    for c in data_cols
                ],
            )
            .filter(gate)
            .drop(*helper)
        )
    if DELETE_MARKER_COL in live.columns:
        live = live.filter(
            ~F.coalesce(F.col(DELETE_MARKER_COL), F.lit(False))
        )
    return live


def _project_write_shape(
    df: DataFrame, data_cols: list[str], col_types: dict[str, str]
) -> DataFrame:
    """Project to the written column shape (meta cols then data cols,
    typed NULLs for absent columns) as ONE selectExpr — shared by the
    passthrough reconcile's stored rows and the insert exchange of
    ``plan_cow_rewrite`` (one py4j call for the whole width)."""
    have = set(df.columns)
    return df.selectExpr(
        bq(COMMIT_TIME_COL), bq(SEQNO_COL), bq(RECORD_KEY_COL),
        bq(PARTITION_PATH_COL), bq(FILE_ID_COL),
        *[
            (
                bq(c)
                if c in have
                else f"CAST(NULL AS {col_types.get(c, 'string')}) AS {bq(c)}"
            )
            for c in data_cols
        ],
    )


def _est_merge_row_bytes(data_cols: list[str], col_types: dict[str, str]) -> int:
    """Framed-row estimate for the COW broadcast merge's gate (upsert,
    delete and MERGE INTO alike): fixed UnsafeRow/key overhead + a
    per-column width guess (variable-width types at 32 B, fixed-width at
    8 B). Deliberately rough — the budget only has to keep the broadcast
    orders of magnitude under executor memory."""
    var_width = ("string", "binary", "array", "map", "struct", "decimal")
    est = 48
    for c in data_cols:
        t = col_types.get(c, "string")
        est += 32 if any(v in t for v in var_width) else 8
    return est


def _stamp_meta(df: DataFrame, instant: str) -> DataFrame:
    # one withColumns call: every DataFrame transform re-analyzes the
    # whole plan tree on the JVM, so chained withColumn is pure driver
    # overhead on deep write plans
    return df.withColumns(
        {COMMIT_TIME_COL: F.lit(instant), SEQNO_COL: seqno_expr(instant)}
    )


def _ordered_out_cols(data_cols: list[str]) -> list[str]:
    return META_COLS + data_cols + [DELETE_MARKER_COL]


def _finalize(df: DataFrame, data_cols: list[str]) -> DataFrame:
    # single selectExpr: fold the marker fix-up into the projection
    # (one py4j call for the whole width — optimization r9, guide §4)
    has_marker = DELETE_MARKER_COL in df.columns
    exprs = [
        (
            f"coalesce({bq(c)}, false) AS {bq(c)}"
            if has_marker
            else f"false AS {bq(c)}"
        )
        if c == DELETE_MARKER_COL
        else bq(c)
        for c in _ordered_out_cols(data_cols)
    ]
    return df.selectExpr(*exprs)


def _claim_write_instant(table, action, operation, instant_time=None):
    """Allocate the write's instant and create-once its requested file,
    retrying on a cross-process millisecond collision (see
    ``timeline.claim_new_instant``). The heartbeat starts BEFORE the
    requested file becomes visible so rivals' lazy failed-write sweep
    never sees a pending instant without one; a losing claim's
    heartbeat is stopped and nothing else is touched — the colliding
    requested file belongs to the RIVAL. ``operation`` is a
    WriteOperation or a plain string (DDL commits)."""
    from ..timeline import claim_timestamp

    op = operation.value if hasattr(operation, "value") else str(operation)
    last: Exception | None = None
    for _ in range(5):
        instant = instant_time or table.new_instant()
        if instant_time is None and not claim_timestamp(table, instant):
            # a rival (any action) owns this millisecond — next one
            last = IOError(f"timestamp {instant} claimed by a rival")
            continue
        hb = start_heartbeat(table, instant)
        try:
            table.timeline.create_requested(
                instant, action, {"operation": op}
            )
            return instant, hb
        except BaseException as e:
            if hb is not None:
                # an IOError/OSError is a create-once rejection: on a
                # legacy-layout collision the heartbeat path is the
                # RIVAL's liveness guard (shared path, shared instant),
                # so keep the file. Any other kind is our own infra
                # failure on a claim we own — delete, or the refresher's
                # last write leaves a fresh orphan (code-review r7)
                hb.stop(delete=not isinstance(e, (IOError, OSError)))
            if instant_time is not None or not isinstance(e, (IOError, OSError)):
                if instant_time is None and not isinstance(e, (IOError, OSError)):
                    # infra failure on a millisecond WE claimed, before
                    # any instant file existed — release the claim
                    # directly rather than stranding it for the sweep
                    table.timeline.release_claim(instant)
                raise
            last = e
    raise last


# --------------------------------------------------------------------------
# Write-instant lifecycle: open (claim + inflight) → commit, or abort
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class CommitHooks:
    """Which lifecycle steps fire for one kind of data-writing commit.
    ``owns_data``: the abort removes ``data/<instant>/`` and the key-index
    delta. ``catch``: the failures the abort undoes; any other (a crash)
    only stops the heartbeat."""

    validators: bool
    callback: bool
    metrics: bool
    services: bool
    owns_data: bool
    catch: type = Exception


# The reference fires validators, callback and metrics on user writes
# only (``commitStats``, ``AbstractHoodieWriteClient.java:209-213``) and
# runs inline services from its post-commit hook (``:833,1002``).
COMMIT_HOOKS = {
    #       validators callback metrics services owns_data catch
    "write": CommitHooks(True, True, True, True, True),
    "replace": CommitHooks(True, True, True, True, True),
    "bootstrap": CommitHooks(False, True, False, False, False),
    "ddl": CommitHooks(False, False, False, False, False, BaseException),
    "cluster": CommitHooks(False, False, False, False, True),
}


class WriteInstant:
    """One data-writing commit, from its inflight instant to commit or
    abort. Use as a context manager around the work that fills the
    instant: ``commit`` runs validators → ``guarded_commit`` → heartbeat
    stop → callback → metrics → post-commit services, and an exception
    escaping the block before the commit point aborts the instant. The
    kind's ``COMMIT_HOOKS`` row decides which steps fire."""

    def __init__(self, table, kind, action, instant, hb=None, started=None,
                 keep_plan=False, owns_claim=False):
        self.table, self.action, self.instant = table, action, instant
        self.hooks = COMMIT_HOOKS[kind]
        self.started = time.time() if started is None else started
        self.keep_plan = keep_plan  # a failed clustering keeps its plan
        self.owns_claim = owns_claim
        self._hb = hb
        self._pending = True

    @classmethod
    def open(cls, table, kind, action, operation, instant_time=None, started=None):
        """Claim a fresh instant (or the caller-supplied one) and make it
        inflight, removing what the claim created if that fails."""
        instant, hb = _claim_write_instant(table, action, operation, instant_time)
        wi = cls(table, kind, action, instant, hb, started,
                 owns_claim=instant_time is None)
        try:
            table.timeline.transition_to_inflight(instant, action)
        except BaseException:
            # stop the refresher first: it keeps the heartbeat fresh,
            # making a half-created pending instant unsweepable
            wi._stop_heartbeat()
            wi._drop_pending()
            raise
        return wi

    def __enter__(self) -> "WriteInstant":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.abort(exc)

    def _stop_heartbeat(self) -> None:
        if self._hb is not None:
            self._hb.stop()
            self._hb = None

    def _drop_pending(self) -> None:
        """Remove OUR requested/inflight files and, when provably ours,
        the claim: a caller-supplied instant never ran claim_timestamp, so
        its claim file is a RIVAL's and deleting it would reopen the
        millisecond to a third writer (code-review r7)."""
        self.table.timeline.delete_pending_instant_files(self.instant, self.action)
        if self.owns_claim:
            self.table.timeline.release_claim(self.instant)

    def commit(self, md: dict, txn_start: str | None = None) -> str:
        table, instant, action, hooks = self.table, self.instant, self.action, self.hooks
        if hooks.validators:
            run_precommit_validators(table, instant, action, md)
        guarded_commit(table, instant, action, md, txn_start)
        # durable from here on: a failure below must NOT erase committed
        # data, so the abort becomes a no-op and the error surfaces as-is
        self._pending = False
        if self.owns_claim:
            table.timeline.release_claim(instant)
        self._stop_heartbeat()
        if hooks.callback:
            fire_commit_callback(table, instant, action, md)
        if hooks.metrics:
            table_metrics(table).update_commit_metrics(
                action, time.time() - self.started, md
            )
        if hooks.services:
            table.run_post_commit_services()
        return instant

    def abort(self, exc: BaseException | None) -> None:
        """Undo a write that failed before its commit point: its pending
        instant files, ``data/<instant>/`` and key-index delta go, and the
        heartbeat stops. A failure outside the kind's ``catch`` class (a
        crash) only stops the heartbeat, and so does a failure once the
        instant's completed file exists: a rival executor of the same
        plan (or an interrupt after our own completion) committed it, and
        the shared ``data/<instant>/`` holds committed files. No-op once
        committed."""
        if not self._pending:
            return
        self._pending = False
        try:
            table, instant = self.table, self.instant
            if not isinstance(exc, self.hooks.catch) or table.timeline.is_completed(
                instant, self.action
            ):
                return
            if self.keep_plan:
                table.timeline.revert_to_requested(instant, self.action)
            else:
                self._drop_pending()
            if self.hooks.owns_data:
                from . import key_index

                table.fs.delete(table.instant_data_path(instant), recursive=True)
                # CommitUndoneError means the instant was momentarily
                # COMPLETED (guarded_commit's post-write undo) — a rival
                # index compaction could have folded it into a base in
                # that window, so the folded check must run (advice r6)
                key_index.drop_instant(
                    table, instant, folded_possible=isinstance(exc, CommitUndoneError)
                )
        finally:
            self._stop_heartbeat()


def _read_stored(table, slices) -> DataFrame:
    """The stored rows of the slices a COW commit rewrites. A MOR table
    routed through the COW rewrite (MERGE INTO / ``requires_stored_merge``
    payloads) must merge its logs first: reading base files alone would
    drop uncompacted updates and deletes once the new base supersedes
    the slice and its logs detach."""
    from ..sources.read import merge_slices, slices_to_df

    if any(s.logs for s in slices):
        return merge_slices(table, slices)
    return slices_to_df(table, slices)


def _arrival_winners(df: DataFrame) -> DataFrame:
    """One row per (group, key): the last arrival, the kernel's
    ``max_by(__ord)`` map-put-last pick. Also collapses the identical
    copies a duplicate-stored-key tag join multiplies out."""
    from pyspark.sql import Window

    order = (
        F.col(ARRIVAL_ORDER_COL).desc_nulls_last()
        if ARRIVAL_ORDER_COL in df.columns
        else F.lit(1)
    )
    w = Window.partitionBy(FILE_ID_COL, PARTITION_PATH_COL, RECORD_KEY_COL).orderBy(order)
    return (
        df.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") == 1)
        .drop("__rnk")
    )


def plan_cow_rewrite(
    table, view, operation, payload, updates, inserts, update_groups,
    insert_groups, n_updates, needs_combine, global_idx, data_cols, col_types,
    instant,
) -> tuple[set[tuple[str, str]], DataFrame]:
    """The COW rewrite of one commit: every file group the batch touches
    (updated groups and small groups packed with inserts) comes out as
    ONE new file version, like the reference's ``HoodieMergeHandle``
    (``client/io/HoodieMergeHandle.java:93-118,315-330``). Returns the
    touched groups and the rows to write, already grouped by file group.

    Stored rows reconcile one of three ways:

    - **passthrough** (INSERT, or nothing stored): nothing reconciles;
      stored rows are copied through byte-identical (original commit
      time and seqno) and the incoming rows are appended;
    - **broadcast**: ``stored LEFT JOIN broadcast(incoming winners)``
      (``broadcast_merge_stored``), so the stored side never shuffles.
      Upserts, deletes and MERGE INTO take it when the tagged rows fit
      the broadcast budget and no touched slice has logs: a log
      tombstone can remove a tagged key from the merged stored view, and
      that incoming row must then re-insert through the kernel. Index
      tagging against live base files otherwise makes every update key
      present in the stored rows and every insert key absent;
    - **kernel**: stored ∪ incoming in one exchange on (file_id,
      partition) sized by ``write_tasks`` over the written groups
      (``merge_stored_and_incoming``), inserts included.

    Outside the kernel, inserts go through ONE insert exchange on
    (file_id, partition) sized by ``write_tasks`` over the insert
    groups. The stored rows of a packed group join that exchange, so
    one task writes the group; the other touched groups stream from
    their scan. The exchange output
    then reconciles like stored rows: insert keys are absent from the
    incoming winners, so the broadcast merge passes them through
    unchanged, and that merge keeps a single broadcast consumer (Spark
    does not reuse a broadcast whose build side reads a cached frame).
    With no stored side the whole batch is the insert exchange."""
    slices = [
        s for s in view.latest_file_slices()
        if (s.partition, s.file_id) in update_groups
        or (s.partition, s.file_id) in insert_groups
    ]
    touched = set(update_groups) | {(s.partition, s.file_id) for s in slices}
    passthrough = operation == WriteOperation.INSERT or not slices
    stored_bytes = {(s.partition, s.file_id): s.total_bytes for s in slices}

    def tasks(groups: set) -> int:
        # ``write_tasks`` by the groups' mean size: manifest bytes for a
        # rewritten group, the file-size target for a new or packed one
        max_b = table.cfg.max_file_size_bytes
        total = sum(
            max_b if g in insert_groups else stored_bytes.get(g, max_b) for g in groups
        )
        return write_tasks(table.spark, len(groups), total // max(1, len(groups)))

    fresh = inserts
    if not passthrough:
        if not needs_combine:
            # the reference's HoodieMergeHandle collapses duplicate update
            # keys via its keyToNewRecords map even with preCombine
            # disabled; inserts keep duplicates (the create handle writes
            # every row) except where noted below
            updates = precombine_dedup(updates, payload, global_idx)
        if any(s.logs for s in slices) or not fits_broadcast(
            table.cfg, n_updates, _est_merge_row_bytes(data_cols, col_types)
        ):
            merged = merge_stored_and_incoming(
                _read_stored(table, slices),
                updates.unionByName(inserts, allowMissingColumns=True),
                data_cols, col_types, payload, instant,
                num_partitions=tasks(touched | insert_groups),
            )
            return touched, merged
        winners = _arrival_winners(updates)
        if not needs_combine:
            # kernel parity: duplicate insert keys headed to one group
            # collapse by arrival order
            fresh = _arrival_winners(inserts)
    elif operation != WriteOperation.INSERT:
        # nothing stored: a tagged row has no stored row to merge with,
        # so it is written like an insert
        fresh = updates.unionByName(inserts, allowMissingColumns=True)
    streamed = [s for s in slices if (s.partition, s.file_id) not in insert_groups]
    packed = [s for s in slices if (s.partition, s.file_id) in insert_groups]
    stored = [_read_stored(table, streamed)] if streamed else []
    if insert_groups or not slices:
        live = _pure_insert_frame(fresh, payload, data_cols, col_types)
        appended = _project_write_shape(_stamp_meta(live, instant), data_cols, col_types)
        if packed:
            appended = _project_write_shape(
                _read_stored(table, packed), data_cols, col_types
            ).unionByName(appended)
        stored.append(
            appended.repartition(
                tasks(insert_groups), F.col(FILE_ID_COL), F.col(PARTITION_PATH_COL)
            )
        )
    stored = functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), stored
    )
    if passthrough:
        return touched, _project_write_shape(stored, data_cols, col_types)
    return touched, broadcast_merge_stored(
        stored, winners, data_cols, col_types, payload, instant
    )


def run_batch_write(
    table,
    df: DataFrame,
    operation: WriteOperation,
    payload: Payload | None = None,
    extra: dict | None = None,
    instant_time: str | None = None,
    pre_tagged: bool = False,
) -> str:
    """upsert / insert / bulk_insert / delete, COW and MOR.

    ``pre_tagged=True``: the incoming frame's ``_hoodie_file_id``
    column is trusted as the record's current location, skipping the
    index-tagging join. Only safe when the rows were just read from this
    table (UPDATE/DELETE ... WHERE — read→modify→write in one call under
    the single-writer assumption); the reference's analogue is the
    tagged ``currentLocation`` a ``HoodieRecord`` keeps when the caller
    supplies already-located records."""
    cfg = table.cfg
    cfg.validate_virtual_keys()
    validate_callback_config(cfg)  # fail fast, never post-commit
    validate_precommit_config(cfg)
    validate_metrics_config(cfg)
    _write_t0 = time.time()
    is_delete = operation == WriteOperation.DELETE
    payload = payload or get_payload(
        "empty" if is_delete else cfg.payload, cfg.precombine_field
    )
    from . import key_index

    global_idx = is_global_index(cfg)

    timer = _StageTimer(operation.value)
    table.rollback_pending_writes()
    view = table.view()
    table_schema = table.schema()
    timer.mark("view")

    pre_tagged = pre_tagged and FILE_ID_COL in df.columns
    incoming = stamp_keys(df, cfg, partition_optional=is_delete and global_idx)
    if pre_tagged:  # survive the meta-column strip in schema alignment
        incoming = incoming.withColumnRenamed(FILE_ID_COL, "__pre_fid")
    incoming = _align_to_table_schema(incoming, table_schema)
    if pre_tagged:
        incoming = incoming.withColumnRenamed("__pre_fid", FILE_ID_COL)
    if is_delete:
        incoming = incoming.withColumn(DELETE_MARKER_COL, F.lit(True))
    else:
        # CDC payloads (aws_dms / debezium) mark deletes via an op column
        # — fold that into the standard delete marker pre-write
        cdc_delete = payload.incoming_delete_expr(incoming.columns)
        if cdc_delete is not None:
            existing = (
                F.coalesce(F.col(DELETE_MARKER_COL), F.lit(False))
                if DELETE_MARKER_COL in incoming.columns
                else F.lit(False)
            )
            incoming = incoming.withColumn(DELETE_MARKER_COL, existing | cdc_delete)

    data_cols = (
        data_columns(table_schema) if table_schema is not None else data_columns(incoming.schema)
    )
    # schema evolution: append new incoming columns
    for c in data_columns(incoming.schema):
        if c not in data_cols:
            data_cols.append(c)
    col_types = {
        f.name: f.dataType.simpleString()
        for f in incoming.schema.fields
        if f.name in data_cols
    }

    # Arrival order for precombine-DISABLED duplicate collapse (reference
    # merge-handle map-put-last semantics): captured HERE, on the raw
    # aligned input BEFORE the tag join / profile shuffles — an id taken
    # after those shuffles would depend on a nondeterministic partition
    # layout, so which duplicate wins could vary across runs (advice r5).
    # Stamped after ``data_cols`` so it is never treated as a data column.
    if operation != WriteOperation.BULK_INSERT:
        incoming = incoming.withColumn(
            ARRIVAL_ORDER_COL, F.monotonically_increasing_id()
        )

    needs_combine = (
        operation in (WriteOperation.UPSERT, WriteOperation.DELETE)
        and cfg.combine_before_upsert
    ) or (operation == WriteOperation.INSERT and cfg.combine_before_insert)
    if needs_combine:
        incoming = precombine_dedup(incoming, payload, global_idx)

    action = (
        "deltacommit"
        if cfg.table_type == TableType.MERGE_ON_READ
        and operation in (WriteOperation.UPSERT, WriteOperation.DELETE, WriteOperation.INSERT)
        and view.commits  # first write always lays base files via commit
        and not payload.requires_stored_merge  # e.g. MERGE INTO (see Payload)
        else "commit"
    )
    txn_start = txn_start_marker(table, view)
    tagged = incoming  # rebound to the persisted tag frame below
    try:
        with WriteInstant.open(table, "write", action, operation, instant_time, _write_t0) as wi:
            instant = wi.instant
            if operation == WriteOperation.BULK_INSERT:
                # fast path (row-writer analogue,
                # HoodieDatasetBulkInsertHelper.java:70-133): no index lookup,
                # no small-file packing — one range shuffle + one local sort,
                # each range partition one file group, packed into tasks
                out = _bulk_insert_df(table, incoming, data_cols, instant)
                write_instant_files(
                    table, out, instant, 0, pre_partitioned=True, stamp_seqno=True
                )
                timer.mark("bulk_write")
                stats = collect_write_stats(table, instant, schema=out.schema)
                timer.mark("stats")
                if key_index.enabled(cfg):
                    key_index.append_from_written(table, instant, sum(st.rows for st in stats))
                md = make_commit_metadata(
                    operation.value, out.schema.json(), stats, extra=extra
                )
                return wi.commit(md, txn_start)

            # ---- index tagging ------------------------------------------------
            if pre_tagged:
                tagged = incoming
            elif operation in (WriteOperation.UPSERT, WriteOperation.DELETE) or (
                operation == WriteOperation.INSERT and cfg.insert_drop_dups
            ):
                tagged = tag_location(table, view, incoming)
                if operation == WriteOperation.INSERT and cfg.insert_drop_dups:
                    # INSERT_DROP_DUPS: drop records whose key already exists
                    tagged = tagged.filter(F.col(FILE_ID_COL).isNull())
            else:
                tagged = incoming.withColumn(FILE_ID_COL, F.lit(None).cast("string"))

            # the tagged frame feeds ≥3 actions (profile collects + the write);
            # persist it like the reference persists its input RDD
            # (BaseSparkCommitActionExecutor.java:150-151)
            tagged = persist_tag_frame(tagged)
            updates = tagged.filter(F.col(FILE_ID_COL).isNotNull())
            inserts = tagged.filter(F.col(FILE_ID_COL).isNull())
            timer.mark("tag_plan")

            # ---- workload profile (ONE job, like buildProfile:
            # BaseSparkCommitActionExecutor.java:182-214): per-(partition,
            # file_id) counts give the insert bucket sizes, the touched
            # update groups, and the MOR log fids without extra collects.
            # Driver memory bound: one tiny row per TOUCHED (partition,
            # file_id) — the same shape as the reference's countByKey. Worst
            # case (a batch touching every group of a 100 TB / ~875k-group
            # table) is ~tens of MB; batches are normally far narrower, and
            # a full-table rewrite belongs to bulk_insert/insert_overwrite
            # which skip tagging entirely.
            marker = (
                F.coalesce(F.col(DELETE_MARKER_COL), F.lit(False))
                if DELETE_MARKER_COL in tagged.columns
                else F.lit(False)
            )
            profile = (
                tagged.groupBy(PARTITION_PATH_COL, FILE_ID_COL)
                # max(marker) rides the same shuffle for free: per-group
                # tombstone presence, recorded on MOR log stats below so
                # readers can skip the delete-block merge pass when no log
                # of a slice carries a delete (optimization r8)
                .agg(F.count(F.lit(1)).alias("count"), F.max(marker).alias("__tomb"))
                .collect()
            )
            timer.mark("profile")
            insert_counts = [(r[0], r[2]) for r in profile if r[1] is None]
            update_groups = {(r[0], r[1]) for r in profile if r[1] is not None}
            n_updates = sum(r[2] for r in profile if r[1] is not None)
            group_tombstones = {
                (r[0], r[1]): bool(r[3]) for r in profile if r[1] is not None
            }

            # Updates aimed at file groups frozen in a pending clustering
            # plan (``BaseSparkCommitActionExecutor.clusteringHandleUpdate``,
            # :117-143): REJECT raises (SparkRejectUpdateStrategy — the
            # executed clustering would silently drop the update otherwise);
            # ALLOW_ROLLBACK instead rolls back exactly the pending
            # clustering plans that name a conflicting group, then proceeds
            # (SparkAllowUpdateStrategy + isRollbackPendingClustering).
            if update_groups:
                from .clustering import pending_clustering_plans

                plans = pending_clustering_plans(table)
                conflict_instants = {
                    ts for ts, groups in plans.items() if groups & update_groups
                }
                if conflict_instants:
                    strategy = getattr(
                        table.cfg, "clustering_updates_strategy", "REJECT"
                    ).upper()
                    if strategy in ("ALLOW_ROLLBACK", "ALLOW", "ROLLBACK"):
                        from .services import rollback_instant

                        for ts in sorted(conflict_instants):
                            rollback_instant(table, ts)
                    else:
                        conflict = set().union(
                            *(plans[ts] for ts in conflict_instants)
                        ) & update_groups
                        raise ValueError(
                            "update rejected: file groups are under pending clustering: "
                            + ", ".join(f"{pp}/{fid}" for pp, fid in sorted(conflict)[:5])
                        )
            if is_delete:
                inserts = inserts.limit(0)  # deleting absent keys is a no-op
                insert_counts = []

            mor_delta = action == "deltacommit"
            pack = operation in (WriteOperation.UPSERT, WriteOperation.INSERT) and not mor_delta
            assigned_inserts, insert_groups = assign_inserts(
                table, view, inserts, pack, insert_counts=insert_counts
            )
            timer.mark("assign")

            log_fids: set[tuple[str, str]] = set()
            if mor_delta:
                # MOR: updates/deletes become delta ("log") rows; inserts open
                # new base file groups in the same deltacommit.
                log_rows = _stamp_meta(updates, instant)
                base_rows = _stamp_meta(assigned_inserts, instant)
                out = _finalize(log_rows, data_cols).unionByName(
                    _finalize(base_rows, data_cols)
                )
                log_fids = set(update_groups)
                write_instant_files(
                    table, out, instant, len(log_fids | insert_groups)
                )
            else:
                touched, merged = plan_cow_rewrite(
                    table, view, operation, payload, updates, assigned_inserts,
                    update_groups, insert_groups, n_updates, needs_combine, global_idx,
                    data_cols, col_types, instant,
                )
                out = _finalize(merged, data_cols)
                timer.mark("merge_plan")
                write_instant_files(table, out, instant, 0, pre_partitioned=True)

            timer.mark("write")
            stats = collect_write_stats(table, instant, log_fids, schema=out.schema)
            if mor_delta:
                # stamp tombstone presence on the log stats from the profile
                # aggregation (same frame the log rows were written from) —
                # the MOR merge's delete-block pass is skipped when every
                # log of a slice records False
                for st in stats:
                    if st.log:
                        st.tombstones = group_tombstones.get(
                            (st.partition, st.file_id)
                        )
            timer.mark("stats")
            if key_index.enabled(cfg):
                # COW rewrites OMIT deleted rows, so the written files carry
                # no trace of a delete — emit index tombstones from the
                # tagged delete rows (MOR deltacommits write marker rows that
                # append_from_written picks up by itself)
                tomb = None
                if not mor_delta and DELETE_MARKER_COL in tagged.columns:
                    tomb = tagged.filter(
                        F.col(FILE_ID_COL).isNotNull()
                        & F.coalesce(F.col(DELETE_MARKER_COL), F.lit(False))
                    ).select(RECORD_KEY_COL, PARTITION_PATH_COL, FILE_ID_COL)
                rows = sum(st.rows for st in stats) + n_updates
                if table.fs.exists(table.instant_data_path(instant)):
                    key_index.append_from_written(table, instant, rows, tombstones=tomb)
                elif tomb is not None:
                    # every affected group came out empty: no data files were
                    # written, but the deletes must still tombstone the index
                    key_index.append_delta(
                        table,
                        instant,
                        tomb.withColumn(key_index.DELETED_COL, F.lit(True)),
                        rows,
                    )
            if not mor_delta:
                # a rewritten file group can come out EMPTY (every record
                # deleted): Spark's sink writes no file, but the commit must
                # still supersede the old slice — record a zero-row version
                # (reference analogue: HoodieMergeHandle always produces a
                # file, even with 0 records)
                seen = {(s.partition, s.file_id) for s in stats}
                for pp, fid in sorted(touched):
                    if (pp, fid) not in seen:
                        stats.append(
                            WriteStat(partition=pp, file_id=fid, paths=[], rows=0, bytes=0)
                        )
            md = make_commit_metadata(
                operation.value,
                out.schema.json(),
                stats,
                extra=extra,
            )
            return wi.commit(md, txn_start)
    finally:
        incoming.unpersist()  # no-op when never persisted
        tagged.unpersist()


def bootstrap_metadata_only(table, parquet_path: str) -> str:
    """METADATA_ONLY bootstrap
    (``client/client/bootstrap/BootstrapMode.java:29-34``,
    ``spark-client/table/action/bootstrap/SparkBootstrapCommitActionExecutor.java``):
    adopt an existing parquet dataset **without rewriting a byte** — each
    source file becomes one file group registered in a v0 commit
    manifest; readers derive the meta columns at scan time
    (``sources.read._read_raw_slices``), and the reference's skeleton
    files are unnecessary. Upserts rewrite adopted groups into normal
    base files lazily, exactly like any other COW/MOR merge.

    The source must be laid out compatibly with the table's partition
    fields: hive-style ``field=value`` directories for a partitioned
    table, or any flat/nested layout for an unpartitioned one.
    Everything here is O(files) driver metadata + distributed footer
    reads — no row is touched, so adopting a 100 TB dataset costs
    minutes, not a rewrite."""
    cfg = table.cfg
    validate_callback_config(cfg)  # fail fast, never post-commit
    validate_metrics_config(cfg)
    if table.schema() is not None:
        raise ValueError("bootstrap requires a table with no commits")
    src = parquet_path.rstrip("/")
    src_tail = src.split("://")[-1]

    def _rel(uri: str) -> str:
        plain = uri[len("file:"):] if uri.startswith("file:") else uri
        idx = plain.find(src_tail)
        return plain[idx + len(src_tail):].lstrip("/") if idx >= 0 else plain

    listed = [
        (uri, size)
        for uri, size in table.fs.list_files_recursive(src)
        if uri.endswith(".parquet")
        and not any(seg.startswith(("_", ".")) for seg in _rel(uri).split("/") if seg)
    ]
    if not listed:
        raise ValueError(f"no parquet files under {parquet_path}")

    pfields = cfg.partition_fields()

    def partition_of(uri: str) -> str:
        dirs = _rel(uri).split("/")[:-1]
        vals = {}
        for seg in dirs:
            if "=" in seg:
                k, v = seg.split("=", 1)
                vals[k] = unquote(v)
        pieces = []
        for fld in pfields:
            if fld not in vals:
                raise ValueError(
                    f"METADATA_ONLY bootstrap needs hive-style {fld}=... "
                    f"directories; not found in {uri}"
                )
            pieces.append(
                f"{fld}={vals[fld]}" if cfg.hive_style_partitioning else vals[fld]
            )
        return "/".join(pieces)

    # table schema = meta columns + source data columns + delete marker,
    # matching every other commit's written layout
    data_schema = table.spark.read.parquet(src).schema
    full = T.StructType(
        [T.StructField(c, T.StringType()) for c in META_COLS]
        + [f for f in data_schema.fields if f.name not in META_COLS]
        + [T.StructField(DELETE_MARKER_COL, T.BooleanType())]
    )
    stat_cols = [
        f.name for f in data_schema.fields if isinstance(f.dataType, _STATS_TYPES)
    ] if cfg.collect_column_stats else []

    uri_list = [u for u, _ in listed]
    if len(uri_list) > 64:  # distribute footer reads for large adoptions
        sc = table.spark.sparkContext
        per_file = dict(
            sc.parallelize(uri_list, max(2, len(uri_list) // 32)).map(
                lambda u: (u, _footer_stats(u, stat_cols))
            ).collect()
        )
    else:
        # driver-side, but I/O-bound: a small thread pool hides per-file
        # open latency (footers only, no data pages)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, max(1, len(uri_list)))) as ex:
            per_file = dict(
                zip(uri_list, ex.map(lambda u: _footer_stats(u, stat_cols), uri_list))
            )

    # record-key range from footers only when key order == column order
    # (single string key field); else no range → group is must-read
    key_fields = cfg.key_fields()
    key_is_str = len(key_fields) == 1 and isinstance(
        data_schema[key_fields[0]].dataType if key_fields[0] in data_schema.names else None,
        T.StringType,
    )

    with WriteInstant.open(table, "bootstrap", "commit", WriteOperation.BOOTSTRAP) as wi:
        stats = []
        for uri, size in sorted(listed):
            fstats = per_file[uri]
            mn = mx = None
            if key_is_str and key_fields[0] in (fstats["col_stats"] or {}):
                mn, mx, _ = fstats["col_stats"][key_fields[0]]
            # store scheme-less absolute paths (abs_path passes them through)
            plain = uri[len("file:"):] if uri.startswith("file:") else uri
            stats.append(
                WriteStat(
                    partition=partition_of(uri),
                    file_id=uuid.uuid4().hex[:16],
                    paths=[plain],
                    rows=fstats["rows"],
                    bytes=size,
                    min_key=str(mn) if mn is not None else None,
                    max_key=str(mx) if mx is not None else None,
                    col_stats=fstats["col_stats"] or None,
                    raw=True,
                )
            )
        md = make_commit_metadata(
            "bootstrap",
            full.json(),
            stats,
            extra={"bootstrap_from": parquet_path, "mode": "METADATA_ONLY"},
        )
        return wi.commit(md)


def run_replace_write(
    table,
    df: DataFrame | None,
    operation: WriteOperation,
    partitions: list[str] | None = None,
    extra: dict | None = None,
) -> str:
    """insert_overwrite / insert_overwrite_table / delete_partition —
    logical replacement via ``replacecommit``: old file groups stay on
    disk (time travel) but are excluded from views at/after this instant
    (``SparkInsertOverwriteCommitActionExecutor``,
    ``SparkDeletePartitionCommitActionExecutor``)."""
    cfg = table.cfg
    validate_callback_config(cfg)  # fail fast, never post-commit
    validate_precommit_config(cfg)
    validate_metrics_config(cfg)
    _write_t0 = time.time()
    table.rollback_pending_writes()
    view = table.view()
    table_schema = table.schema()
    txn_start = txn_start_marker(table, view)
    with WriteInstant.open(table, "replace", "replacecommit", operation, started=_write_t0) as wi:
        instant = wi.instant
        stats: list[WriteStat] = []
        incoming = None
        if df is not None:
            incoming = stamp_keys(df, cfg)
            incoming = _align_to_table_schema(incoming, table_schema)
            data_cols = data_columns(
                table_schema if table_schema is not None else incoming.schema
            )
            for c in data_columns(incoming.schema):
                if c not in data_cols:
                    data_cols.append(c)

        if operation == WriteOperation.DELETE_PARTITION:
            target_parts = partitions or []
        elif operation == WriteOperation.INSERT_OVERWRITE_TABLE:
            target_parts = view.partitions()
        else:  # INSERT_OVERWRITE: partitions touched by incoming data
            target_parts = [
                r[0]
                for r in incoming.select(PARTITION_PATH_COL).distinct().collect()
            ]
        replaced: dict[str, list[str]] = {}
        for sl in view.latest_file_slices(partitions=target_parts):
            replaced.setdefault(sl.partition, []).append(sl.file_id)

        if incoming is not None:
            inserts = incoming.withColumn(FILE_ID_COL, F.lit(None).cast("string"))
            assigned, groups = assign_inserts(table, view, inserts, pack_small_files=False)
            out = _finalize(_stamp_meta(assigned, instant), data_cols)
            write_instant_files(table, out, instant, len(groups))
            stats = collect_write_stats(table, instant, schema=out.schema)
            from . import key_index as _ki

            if _ki.enabled(cfg) and table.fs.exists(table.instant_data_path(instant)):
                _ki.append_from_written(table, instant, sum(st.rows for st in stats))
            schema_json = out.schema.json()
        else:
            schema_json = view.latest_schema() or ""
        md = make_commit_metadata(
            operation.value, schema_json, stats, replaced=replaced, extra=extra
        )
        return wi.commit(md, txn_start)
