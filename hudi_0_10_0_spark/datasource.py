"""``hoodie.*`` option-string datasource shim — the reference's user API.

The reference is driven through Spark's datasource options
(``ds/DataSourceOptions.scala``: ``DataSourceWriteOptions`` /
``DataSourceReadOptions``); a user migrating from it keeps their option
dictionaries and calls::

    from hudi_0_10_0_spark import datasource as hudi

    hudi.write(df, path, mode="append", options={
        "hoodie.table.name": "trips",
        "hoodie.datasource.write.recordkey.field": "uuid",
        "hoodie.datasource.write.partitionpath.field": "region",
        "hoodie.datasource.write.precombine.field": "ts",
        "hoodie.datasource.write.operation": "upsert",
    })
    df = hudi.read(spark, path, options={
        "hoodie.datasource.query.type": "incremental",
        "hoodie.datasource.read.begin.instanttime": "20260813000000",
    })

Only option TRANSLATION lives here; all semantics stay in
``HudiTable`` / ``WriteConfig``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .config import TableType, WriteConfig
from .table import HudiTable

# ``hoodie.datasource.write.payload.class`` values (reference class
# names, common/model/*.java) → our payload registry names
_PAYLOAD_CLASSES = {
    "OverwriteWithLatestAvroPayload": "overwrite_latest",
    "DefaultHoodieRecordPayload": "default",
    "OverwriteNonDefaultsWithLatestAvroPayload": "overwrite_non_defaults",
    "EventTimeAvroPayload": "event_time",
    "EmptyHoodieRecordPayload": "empty",
    "AWSDmsAvroPayload": "aws_dms",
    "PostgresDebeziumAvroPayload": "debezium",
    "MySqlDebeziumAvroPayload": "debezium",
}

# ``hoodie.datasource.write.keygenerator.class`` → our keygen names
_KEYGEN_CLASSES = {
    "SimpleKeyGenerator": "simple",
    "ComplexKeyGenerator": "complex",
    "TimestampBasedKeyGenerator": "timestamp",
    "CustomKeyGenerator": "custom",
    "NonpartitionedKeyGenerator": "nonpartitioned",
    "UuidKeyGenerator": "uuid",
}


def _keygen(v) -> str:
    """Unknown keygenerator classes FAIL rather than silently falling
    back to 'auto' — a silent fallback would derive different record
    keys / partition paths than the user's class and corrupt upsert
    matching (the payload.class path fails loudly the same way)."""
    name = str(v).rsplit(".", 1)[-1]
    if name not in _KEYGEN_CLASSES:
        raise ValueError(
            f"unsupported hoodie.datasource.write.keygenerator.class: {v}; "
            f"supported: {sorted(_KEYGEN_CLASSES)}"
        )
    return _KEYGEN_CLASSES[name]


def _bool(v) -> bool:
    return str(v).lower() in ("true", "1", "yes")


def _fields(v: str) -> str | list[str]:
    parts = [p.strip() for p in str(v).split(",") if p.strip()]
    return parts[0] if len(parts) == 1 else parts


def options_to_config(options: dict) -> WriteConfig:
    """Translate reference write options
    (``ds/DataSourceOptions.scala`` ``DataSourceWriteOptions``, config
    keys from ``HoodieWriteConfig`` / ``HoodieCompactionConfig`` /
    ``HoodieStorageConfig`` / ``HoodieIndexConfig``) into a
    ``WriteConfig``. Unknown ``hoodie.*`` keys are ignored, like the
    reference ignores options it doesn't own."""
    return WriteConfig(**options_to_kwargs(options))


def options_to_kwargs(options: dict) -> dict:
    """Translate options to ``WriteConfig`` constructor kwargs,
    containing ONLY the fields the options actually set (so callers can
    overlay them onto a stored config per-write)."""
    o = {str(k): v for k, v in options.items()}
    kw: dict = {}

    def take(key, field, conv=lambda x: x):
        if key in o:
            kw[field] = conv(o[key])

    take("hoodie.table.name", "table_name", str)
    take("hoodie.datasource.write.recordkey.field", "record_key_field", _fields)
    take("hoodie.datasource.write.partitionpath.field", "partition_field", _fields)
    take("hoodie.datasource.write.precombine.field", "precombine_field", str)
    take(
        "hoodie.datasource.write.table.type",
        "table_type",
        lambda v: TableType(str(v).upper()),
    )
    take(
        "hoodie.datasource.write.payload.class",
        "payload",
        lambda v: _PAYLOAD_CLASSES.get(str(v).rsplit(".", 1)[-1], str(v)),
    )
    take("hoodie.datasource.write.keygenerator.class", "keygen", _keygen)
    take(
        "hoodie.datasource.write.hive_style_partitioning",
        "hive_style_partitioning",
        _bool,
    )
    take(
        "hoodie.datasource.write.partitionpath.urlencode",
        "url_encode_partitioning",
        _bool,
    )
    take(
        "hoodie.datasource.write.drop.partition.columns",
        "drop_partition_columns",
        _bool,
    )
    take("hoodie.datasource.write.insert.drop.duplicates", "insert_drop_dups", _bool)
    take("hoodie.combine.before.insert", "combine_before_insert", _bool)
    take("hoodie.combine.before.upsert", "combine_before_upsert", _bool)
    take("hoodie.parquet.max.file.size", "max_file_size_bytes", int)
    take("hoodie.parquet.small.file.limit", "small_file_limit_bytes", int)
    take("hoodie.copyonwrite.record.size.estimate", "record_size_estimate", int)
    take("hoodie.index.type", "index_type", lambda v: str(v).upper())
    take("hoodie.index.bloom.fpp", "bloom_index_fpp", float)
    take("hoodie.bloom.index.prune.min.bytes", "bloom_prune_min_bytes", int)
    take("hoodie.bloom.index.prune.max.keys", "bloom_prune_max_keys", int)
    for k in (
        "hoodie.bloom.index.update.partition.path",
        "hoodie.simple.index.update.partition.path",
        "hoodie.global.simple.index.update.partition.path",
    ):
        take(k, "update_partition_path", _bool)
    take("hoodie.compact.inline", "inline_compact", _bool)
    take("hoodie.compact.inline.max.delta.commits", "compact_max_delta_commits", int)
    take("hoodie.compact.inline.trigger.strategy", "compact_trigger", lambda v: str(v).upper())
    take("hoodie.clean.automatic", "auto_clean", _bool)
    take("hoodie.cleaner.commits.retained", "cleaner_commits_retained", int)
    take("hoodie.cleaner.policy", "cleaner_policy", lambda v: str(v).upper())
    take(
        "hoodie.cleaner.fileversions.retained", "cleaner_file_versions_retained", int
    )
    take("hoodie.keep.min.commits", "keep_min_commits", int)
    take("hoodie.keep.max.commits", "keep_max_commits", int)
    # hoodie.archive.merge.files.batch.size (HoodieArchivalConfig): how
    # many small archive files participate in a merge — ours is the
    # same knob as the trigger count for tiered consolidation
    # (timeline.consolidate_archive). NOT hoodie.commits.archival.batch,
    # whose reference semantics (commits written per archive batch)
    # differ (code-review r8)
    # back-compat: earlier releases of THIS engine spelled the knob
    # hoodie.commits.archival.batch — keep honoring it (silently
    # dropping it would revert existing configs to the default trigger
    # with no warning); the corrected spelling wins when both are given
    take("hoodie.commits.archival.batch", "archive_merge_batches", int)
    take("hoodie.archive.merge.files.batch.size", "archive_merge_batches", int)
    take("hoodie.bulkinsert.shuffle.parallelism", "write_parallelism", int)
    take(
        "hoodie.write.concurrency.mode",
        "concurrency_mode",
        lambda v: str(v).upper(),
    )
    # TimestampBasedKeyGenerator options: 0.10.0 spells these
    # hoodie.deltastreamer.keygen.timestamp.* (KeyGeneratorOptions /
    # TimestampKeyGeneratorConfig kept the legacy deltastreamer prefix);
    # accept the modern spelling too — silently dropping either would
    # derive wrong partition paths with no error
    for prefix in ("hoodie.deltastreamer.keygen", "hoodie.keygen"):
        take(
            f"{prefix}.timestamp.output.dateformat",
            "timestamp_output_format",
            str,
        )
        take(
            f"{prefix}.timestamp.input.dateformat",
            "timestamp_input_format",
            str,
        )
        take(
            f"{prefix}.timestamp.type",
            "timestamp_input_type",
            lambda v: str(v).upper(),
        )
    from .config import BulkInsertSortMode

    take(
        "hoodie.bulkinsert.sort.mode",
        "bulk_insert_sort_mode",
        lambda v: BulkInsertSortMode(str(v).upper()),
    )
    # RECORD_INDEX sizing — the record-level index grew out of 0.10's
    # metadata table; these are the public spellings of the later
    # HoodieMetadataConfig record-index file-group knobs, mapped onto
    # our bucket equivalents (bucket ≈ file group of the index)
    take(
        "hoodie.metadata.record.index.min.filegroup.count",
        "key_index_buckets",
        int,
    )
    take(
        "hoodie.metadata.record.index.max.filegroup.count",
        "key_index_max_buckets",
        int,
    )
    take(
        "hoodie.metadata.record.index.max.filegroup.size",
        "key_index_bucket_target_bytes",
        int,
    )
    # virtual keys (HoodieTableConfig.POPULATE_META_FIELDS)
    take("hoodie.populate.meta.fields", "populate_meta_fields", _bool)
    # write-commit callbacks (HoodieWriteCommitCallbackConfig)
    take("hoodie.write.commit.callback.on", "write_commit_callback_on", _bool)
    take(
        "hoodie.write.commit.callback.class", "write_commit_callback_class", str
    )
    take(
        "hoodie.write.commit.callback.http.url",
        "write_commit_callback_http_url",
        str,
    )
    take(
        "hoodie.write.commit.callback.http.api.key",
        "write_commit_callback_http_api_key",
        str,
    )
    take(
        "hoodie.write.commit.callback.http.timeout.seconds",
        "write_commit_callback_http_timeout_seconds",
        float,
    )
    # pre-commit validators (HoodiePreCommitValidatorConfig) — the
    # reference configures class names; ours are the three type names
    take("hoodie.precommit.validators", "precommit_validators", str)
    take(
        "hoodie.precommit.validators.equality.sql.queries",
        "precommit_equality_sql",
        str,
    )
    take(
        "hoodie.precommit.validators.inequality.sql.queries",
        "precommit_inequality_sql",
        str,
    )
    take(
        "hoodie.precommit.validators.single.value.sql.queries",
        "precommit_single_value_sql",
        str,
    )
    # metrics (HoodieMetricsConfig)
    take("hoodie.metrics.on", "metrics_on", _bool)
    take(
        "hoodie.metrics.reporter.type",
        "metrics_reporter_type",
        lambda v: str(v).upper(),
    )
    take(
        "hoodie.metrics.reporter.metricsname.prefix", "metrics_prefix", str
    )
    return kw


# Identity/layout fields fixed at table creation — a per-write override
# would corrupt key derivation or the on-disk partition layout, so a
# conflicting option on an existing table FAILS (the reference throws on
# table-type mismatch, HoodieSparkSqlWriter.scala mergeParamsAndGetHoodieConfig)
_IMMUTABLE_FIELDS = (
    "table_type",
    "record_key_field",
    "partition_field",
    "keygen",
    "hive_style_partitioning",
    "url_encode_partitioning",
    "drop_partition_columns",
    "timestamp_output_format",
    "timestamp_input_type",
    # input format shapes the parsed value and hence the partition path a
    # DATE_STRING source lands in — a per-write override would scatter
    # the same record across partitions (code-review r5)
    "timestamp_input_format",
    # virtual keys shape every file the table ever writes — mixing
    # meta-full and meta-free files in one table would break derive-at-
    # read (table.py create() enforces the same on exist_ok)
    "populate_meta_fields",
)


def _norm_fields(v) -> list[str]:
    if isinstance(v, (list, tuple)):
        return [str(x) for x in v]
    return [p.strip() for p in str(v).split(",") if p.strip()]


def _apply_write_options(t: HudiTable, o: dict) -> None:
    """Overlay per-write options onto the stored config (the reference
    builds its HoodieWriteConfig from the supplied options on EVERY
    write — previously everything except operation/partitions/bootstrap
    was silently ignored on existing tables, so e.g. a per-write
    payload.class=AWSDmsAvroPayload upserted CDC deletes as live rows)."""
    import dataclasses

    kw = options_to_kwargs(o)
    kw.pop("table_name", None)
    for f in _IMMUTABLE_FIELDS:
        if f not in kw:
            continue
        new, cur = kw.pop(f), getattr(t.cfg, f)
        if f in ("record_key_field", "partition_field"):
            conflict = _norm_fields(new) != _norm_fields(cur)
        else:
            conflict = new != cur
        if conflict:
            raise ValueError(
                f"option conflicts with the stored table config: {f} is "
                f"{cur!r}, write supplied {new!r} — identity/layout fields "
                "are fixed at table creation"
            )
    if kw:
        t.cfg = dataclasses.replace(t.cfg, **kw)


def write(
    df: DataFrame,
    path: str,
    mode: str = "append",
    options: dict | None = None,
) -> str:
    """``df.write.format("hudi").options(...).mode(m).save(path)``
    equivalent (``ds/DefaultSource.createRelation:155-166`` →
    ``HoodieSparkSqlWriter.write``). Returns the commit instant.

    SaveMode semantics match the reference: ``overwrite`` on an existing
    table runs ``insert_overwrite_table``; ``append`` (default) runs the
    configured ``hoodie.datasource.write.operation``; ``error``/
    ``ignore`` guard table existence."""
    o = dict(options or {})
    spark = df.sparkSession
    # SaveMode matching is case-insensitive like Spark's own
    # (SaveMode.valueOf ignores case via the DataFrameWriter parser), and
    # unknown modes FAIL instead of silently falling through to append
    mode = str(mode).strip().lower()
    if mode not in ("append", "overwrite", "error", "errorifexists", "ignore"):
        raise ValueError(
            f"unknown SaveMode: {mode!r} (expected append | overwrite | "
            "error | errorifexists | ignore)"
        )
    operation = str(o.get("hoodie.datasource.write.operation", "upsert")).lower()
    # validate the operation BEFORE any table creation: a typo'd
    # operation on a fresh path must not leave a created-but-empty table
    # behind (which would make the retry fail with "already exists")
    if operation not in (
        "upsert", "insert", "bulk_insert", "delete", "insert_overwrite",
        "insert_overwrite_table", "delete_partition", "bootstrap",
    ):
        raise ValueError(
            f"unknown hoodie.datasource.write.operation: {operation}"
        )
    exists = HudiTable.exists(spark, path)
    if exists:
        if mode == "ignore":
            return ""
        if mode in ("error", "errorifexists"):
            raise ValueError(f"table already exists at {path}")
        t = HudiTable.load(spark, path)
        _apply_write_options(t, o)
    else:
        t = HudiTable.create(spark, path, options_to_config(o))

    if mode == "overwrite" and exists:
        return t.insert_overwrite_table(df)
    if operation == "upsert":
        return t.upsert(df)
    if operation == "insert":
        return t.insert(df)
    if operation == "bulk_insert":
        return t.bulk_insert(df)
    if operation == "delete":
        return t.delete(df)
    if operation == "insert_overwrite":
        return t.insert_overwrite(df)
    if operation == "insert_overwrite_table":
        return t.insert_overwrite_table(df)
    if operation == "delete_partition":
        parts = str(
            o.get("hoodie.datasource.write.partitions.to.delete", "")
        ).split(",")
        return t.delete_partition([p.strip() for p in parts if p.strip()])
    if operation == "bootstrap":
        src = o.get("hoodie.bootstrap.base.path", path)
        bmode = str(o.get("hoodie.bootstrap.mode.selector.rule", "FULL_RECORD"))
        return t.bootstrap(src, mode=bmode)
    raise ValueError(f"unknown hoodie.datasource.write.operation: {operation}")


def read(
    spark: SparkSession, path: str, options: dict | None = None
) -> DataFrame:
    """``spark.read.format("hudi").options(...).load(path)`` equivalent
    (``ds/DefaultSource.createRelation:72-131`` dispatch on query
    type)."""
    o = dict(options or {})
    t = HudiTable.load(spark, path)
    qt = str(o.get("hoodie.datasource.query.type", "snapshot")).lower()
    as_of = o.get("as.of.instant")
    if qt == "snapshot":
        merge_type = str(
            o.get("hoodie.datasource.merge.type", "payload_combine")
        ).lower()
        return t.snapshot(
            as_of=str(as_of) if as_of else None, merge_type=merge_type
        )
    if qt == "read_optimized":
        return t.read_optimized()
    if qt == "incremental":
        begin = o.get("hoodie.datasource.read.begin.instanttime")
        end = o.get("hoodie.datasource.read.end.instanttime")
        glob = o.get("hoodie.datasource.read.incr.path.glob")
        fallback = str(
            o.get(
                "hoodie.datasource.read.incr.fallback.fulltablescan.enable",
                "false",
            )
        ).lower() == "true"
        return t.incremental(
            str(begin) if begin is not None else None,
            str(end) if end is not None else None,
            fallback_full_scan=fallback,
            path_glob=str(glob) if glob else None,
        )
    raise ValueError(f"unknown hoodie.datasource.query.type: {qt}")
