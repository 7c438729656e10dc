"""Read/query operators: snapshot, read-optimized, incremental, time
travel, with manifest-driven file listing and column-stats data skipping.

Reference entry: ``ds/DefaultSource.scala:72-131`` dispatching on
(tableType, queryType) into ``HoodieFileIndex`` /
``MergeOnReadSnapshotRelation`` / ``IncrementalRelation``. Our listing
comes from the commit manifests (metadata.FileSystemView) — never a DFS
scan — and Spark's parquet source handles pushdown/pruning from there.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import (
    COMMIT_TIME_COL,
    DELETE_MARKER_COL,
    FILE_ID_COL,
    META_COLS,
    PARTITION_PATH_COL,
    RECORD_KEY_COL,
    SEQNO_COL,
)
from ..metadata import FileSlice
from ..payloads import get_payload
from ..operators.merge import (
    fits_broadcast,
    logs_may_have_tombstones,
    mor_merge_window,
)

QUERY_SNAPSHOT = "snapshot"
QUERY_READ_OPTIMIZED = "read_optimized"
QUERY_INCREMENTAL = "incremental"


def _empty(table) -> DataFrame:
    from ..local_rel import local_df

    return local_df(table.spark, [], table.read_schema())


def base_format(table) -> str:
    """Table base-file format: parquet (default) or orc
    (``HoodieFileFormat.java:30-33``). Spark's native source handles
    pushdown/pruning for both."""
    return getattr(table.cfg, "base_file_format", "parquet").lower()


_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_conf_lock = threading.Lock()


@contextlib.contextmanager
def session_conf(spark, key: str, value: str):
    """Run the block with the SQL conf ``key`` set to ``value`` on the
    shared session, restored exactly afterwards (unset if it was unset).
    One lock serializes these blocks, so they never restore each other's
    values. The session is shared, though: another thread planning in
    the window sees ``value``, and a ``conf.set`` of ``key`` made by
    another thread in the window is lost to the restore."""
    conf = spark.conf
    with _conf_lock:
        prev = conf.get(key, None)
        if prev == value:
            yield
            return
        conf.set(key, value)
        try:
            yield
        finally:
            if prev is None:
                conf.unset(key)
            else:
                conf.set(key, prev)


def _load_listed_on_driver(spark, reader, uris: list[str]) -> DataFrame:
    """``reader.load(uris)`` with Spark's file listing kept on the driver.

    Past ``parallelPartitionDiscovery.threshold`` paths (32 by default)
    Spark lists them in a Spark job with one task per path, and each task
    pays to deserialize the Hadoop configuration. For files the manifest
    already names on local storage that job only re-runs local ``stat``
    calls, so the threshold is raised to ``len(uris)`` around the load.
    ``InMemoryFileIndex`` lists eagerly inside ``load()``, so the raised
    value never reaches query execution; a value already at least
    ``len(uris)`` is left alone."""
    value = max(len(uris), int(spark.conf.get(_LISTING_THRESHOLD)))
    with session_conf(spark, _LISTING_THRESHOLD, str(value)):
        return reader.load(uris)


def _read_paths(table, paths: list[str]) -> DataFrame:
    """Read with the table's latest schema pinned: stable column set
    across commits and add-column evolution (old files yield nulls).

    On local storage the listing of more than 32 files stays on the
    driver (:func:`_load_listed_on_driver`); remote file systems keep
    Spark's parallel listing, which pays for itself when every ``stat``
    is a network round trip."""
    if not paths:
        return _empty(table)
    reader = table.spark.read.schema(table.read_schema()).format(base_format(table))
    uris = [table.abs_path(p) for p in paths]
    if table.fs._is_local and len(uris) > 32:
        df = _load_listed_on_driver(table.spark, reader, uris)
    else:
        df = reader.load(uris)
    if not table.cfg.populate_meta_fields:
        # virtual keys: the pinned schema surfaced the absent meta
        # columns as nulls — fill them before anything keys on them
        # (restores dropped partition columns itself, ORDER-SENSITIVELY:
        # the keygen expression may read a partition column)
        return _derive_virtual_meta(table, df, paths)
    if table.cfg.drop_partition_columns and table.cfg.partition_fields():
        df = _restore_partition_columns(table, df)
    return df


def _decoded_input_file():
    """``input_file_name()`` as a join-ready plain path: projected into
    a column (the function is non-deterministic), with ONE percent-
    decode layer peeled (the URI encoding; space → %20). Built on
    :func:`_url_decode_once` so the literal-``+`` shielding subtlety
    lives in exactly one place (the virtual-key reader decodes path
    SEGMENTS with the same helper)."""
    return _url_decode_once(F.input_file_name())


def _synth_seqno(instant_col):
    """Synthesized ``_hoodie_commit_seqno`` for readers of files that
    store none (bootstrap raw files, virtual-key tables): zero-padded
    like operators/merge.seqno_expr so seqno string order ==
    generation order everywhere."""
    return F.format_string(
        "%s_%010d_%019d",
        instant_col,
        F.spark_partition_id(),
        F.monotonically_increasing_id(),
    )


def _url_decode_once(c):
    """One percent-decode layer with literal ``+`` shielded (url_decode
    maps ``+`` to space; a path's literal ``+`` must survive)."""
    return F.coalesce(
        F.try_url_decode(F.regexp_replace(c, r"\+", "%2B")), c
    )


def _derive_virtual_meta(table, df: DataFrame, paths: list[str]) -> DataFrame:
    """Virtual keys (``hoodie.populate.meta.fields=false``,
    ``HoodieTableConfig.java:159-163``): data files omit the meta
    columns. Re-derive them at scan time as PURE Column expressions:

    - ``_hoodie_record_key``: the key-generator expression (virtual
      keys require a deterministic keygen — enforced at write)
    - ``_hoodie_partition_path`` / ``_hoodie_file_id`` /
      ``_hoodie_commit_time``: every data and delta file lives under
      ``data/<instant>/_pp=…/_fg=…/``, so identity is parsed from
      ``input_file_name()``. Two decode layers peel off in order: the
      URI percent-encoding ``input_file_name`` adds, then the
      ``escapePathName`` escaping the partition writer applied to the
      directory value (a literal ``/`` in a partition path is ``%2F``
      on disk and ``%252F`` in the URI).
    - ``_hoodie_commit_seqno``: synthesized (ordering-shaped, like the
      bootstrap reader); with virtual keys nothing persists row arrival
      order, which is exactly why the reference documents incremental
      queries as non-functional on such tables.

    Expressions — NOT the bootstrap reader's broadcast join — so
    Catalyst prunes the whole derivation when a query never touches the
    meta columns: measured at sf0.1, the join variant cost +144% on
    full snapshot reads and +201% on two-column projections (an inner
    join can't be pruned; ``withColumn`` can). The join path remains
    only where it is genuinely needed: METADATA_ONLY bootstrap files,
    whose source paths carry no layout information.

    The derived values are what the writer WOULD have stamped for the
    file's current version — a deliberate improvement over the
    reference, which returns nulls for the meta fields and thereby
    loses MOR merge/compaction support for virtual-key tables.
    """
    from ..config import EMPTY_PARTITION_DIR
    from ..keygen import _record_key_expr
    from ..operators.write import _parse_layout_path

    cfg = table.cfg
    # fail fast on a path outside the data/<instant>/_pp=/_fg= layout
    # (externally-located file, upstream layout bug): the expression
    # derivation would otherwise stamp garbage identity silently —
    # preserve the guard the broadcast-join implementation had
    # (code-review r7)
    for p in paths:
        if _parse_layout_path(table.base_path, table.abs_path(p)) is None:
            raise ValueError(
                f"virtual-key read: cannot derive file identity from {p!r}"
            )
    # input_file_name() is non-deterministic — project it into a column
    # once; all derivations read the projected value
    df = df.withColumn("__vm_file", F.input_file_name())
    # after the LAST '/data/': '<instant>/_pp=…/_fg=…/<file>'. Partition
    # values cannot smuggle a '/data/' substring past this split — the
    # writer escapes '/' inside directory values (%2F, %252F in the URI)
    rest = F.substring_index(F.col("__vm_file"), "/data/", -1)
    segs = F.split(rest, "/")

    def seg_value(idx: int, prefix: str):
        raw = F.regexp_replace(F.element_at(segs, idx), f"^{prefix}=", "")
        return _url_decode_once(_url_decode_once(raw))

    from ..config import LAYOUT_FILEGROUP_COL, LAYOUT_PARTITION_COL

    pp = seg_value(2, LAYOUT_PARTITION_COL)
    pp = F.when(pp == EMPTY_PARTITION_DIR, F.lit("")).otherwise(pp)
    instant = F.element_at(segs, 1)
    df = df.withColumns(
        {
            PARTITION_PATH_COL: pp,
            FILE_ID_COL: seg_value(3, LAYOUT_FILEGROUP_COL),
            COMMIT_TIME_COL: instant,
            SEQNO_COL: _synth_seqno(instant),
        }
    )
    # restore dropped partition columns BEFORE deriving the key: with
    # drop_partition_columns=true a record_key_field that is also a
    # partition field is absent from the files, and the keygen
    # expression raises on null key sources — the restored value is the
    # key source (code-review r7 part 3)
    if cfg.drop_partition_columns and cfg.partition_fields():
        df = _restore_partition_columns(table, df)
    df = df.withColumn(RECORD_KEY_COL, _record_key_expr(cfg))
    return df.select(*[f.name for f in table.read_schema().fields])


def _restore_partition_columns(table, df: DataFrame) -> DataFrame:
    """``hoodie.datasource.write.drop.partition.columns=true``: data
    files omit the partition field columns, so rebuild them from the
    stored ``_hoodie_partition_path`` — split per level, strip the
    hive-style ``field=`` prefix, map ``default`` back to null, unescape
    URL-encoded values, cast to the declared type. Pure expressions over
    the scan (no join); Catalyst folds them into codegen."""
    from ..config import DEFAULT_PARTITION

    from ..keygen import timestamp_partition_fields

    cfg = table.cfg
    dtypes = {f.name: f.dataType for f in table.read_schema().fields}
    ts_fields = timestamp_partition_fields(cfg)
    segs = F.split(F.col(PARTITION_PATH_COL), "/")
    for i, fld in enumerate(cfg.partition_fields()):
        if fld not in df.columns or fld not in dtypes or fld in ts_fields:
            # timestamp-keygen path values are a date_format rendering,
            # not the column value — not reconstructible (write.py
            # refuses drop_partition_columns for those)
            continue
        seg = F.element_at(segs, i + 1)
        # strip the hive-style "field=" prefix only up to the FIRST '='
        # — a value containing a literal '=' must survive intact
        val = (
            F.regexp_replace(seg, "^[^=]*=", "")
            if cfg.hive_style_partitioning
            else seg
        )
        val = F.when(val == DEFAULT_PARTITION, F.lit(None)).otherwise(val)
        if cfg.url_encode_partitioning:
            # escapePathName escaping is %XX; url_decode also maps '+'
            # to space, so shield literal '+' first
            val = F.url_decode(F.regexp_replace(val, r"\+", "%2B"))
        df = df.withColumn(fld, F.coalesce(F.col(fld), val.cast(dtypes[fld])))
    return df


def _strip_file_scheme(c):
    return F.regexp_replace(c, "^file:/{0,2}(/)", "$1")


def _read_raw_slices(table, slices: list[FileSlice]) -> DataFrame:
    """METADATA_ONLY-bootstrapped base files: the parquet files belong to
    the user's original dataset and carry no meta columns, so derive
    them at scan time (the reference reads its skeleton file for this —
    ``ds/HoodieBootstrapRelation.scala``; we recompute instead, which
    Catalyst folds into the scan's codegen):

    - ``_hoodie_record_key``: key-generator expression over the source
      columns
    - ``_hoodie_partition_path`` / ``_hoodie_file_id`` /
      ``_hoodie_commit_time``: broadcast join of ``input_file_name()``
      against the manifest's path → (partition, group, bootstrap
      instant) mapping — one row per source FILE, so the broadcast is
      O(file groups), fine at 100 TB (~1M rows)
    - partition FIELD columns that Spark's ``partitionBy`` layout left
      out of the data files are restored from the manifest partition
      value (coalesce, so sources that kept the column are untouched)
    """
    from ..config import DEFAULT_PARTITION
    from ..keygen import stamp_keys

    cfg = table.cfg
    pfields = cfg.partition_fields()
    schema = table.read_schema()
    data_fields = [
        f for f in schema.fields
        if f.name not in META_COLS and f.name != DELETE_MARKER_COL
    ]
    dtypes = {f.name: f.dataType for f in data_fields}

    def pvals(partition: str) -> list:
        segs = partition.split("/") if partition else []
        out = []
        for i, _fld in enumerate(pfields):
            v = None
            if i < len(segs):
                seg = segs[i]
                v = (
                    seg.split("=", 1)[1]
                    if cfg.hive_style_partitioning and "=" in seg
                    else seg
                )
                if v == DEFAULT_PARTITION:
                    v = None
            out.append(v)
        return out

    mapping = [
        (table.abs_path(p), s.file_id, s.base.instant, s.partition, *pvals(s.partition))
        for s in slices
        for p in s.base.paths
    ]
    map_schema = "__raw_path string, __raw_fid string, __raw_instant string, __raw_pp string" + "".join(
        f", __raw_pv{i} string" for i in range(len(pfields))
    )
    from ..local_rel import local_df

    map_df = local_df(table.spark, mapping, map_schema).withColumn(
        "__raw_path", _strip_file_scheme(F.col("__raw_path"))
    )
    df = table.spark.read.schema(T.StructType(data_fields)).parquet(
        *[m[0] for m in mapping]
    )
    df = df.withColumn("__raw_file", _strip_file_scheme(_decoded_input_file()))
    df = df.join(
        F.broadcast(map_df), F.col("__raw_file") == F.col("__raw_path"), "inner"
    )
    for i, fld in enumerate(pfields):
        if fld in dtypes:
            df = df.withColumn(
                fld, F.coalesce(F.col(fld), F.col(f"__raw_pv{i}").cast(dtypes[fld]))
            )
    df = df.withColumn(PARTITION_PATH_COL, F.col("__raw_pp"))
    df = stamp_keys(df, cfg)  # adds the record key; partition kept as-is
    df = (
        df.withColumn(COMMIT_TIME_COL, F.col("__raw_instant"))
        .withColumn(SEQNO_COL, _synth_seqno(F.col("__raw_instant")))
        .withColumn(FILE_ID_COL, F.col("__raw_fid"))
        .withColumn(DELETE_MARKER_COL, F.lit(False))
    )
    return df.select(*[f.name for f in schema.fields])


def slices_to_df(table, slices: list[FileSlice]) -> DataFrame:
    """Base files of the given slices as one meta-complete DataFrame —
    the single entry point every reader/merger/tagger uses, so
    METADATA_ONLY bootstrap files are handled uniformly."""
    raw = [s for s in slices if s.base.raw]
    normal_paths = [p for s in slices if not s.base.raw for p in s.base.paths]
    df = _read_paths(table, normal_paths) if (normal_paths or not raw) else None
    if raw:
        rdf = _read_raw_slices(table, raw)
        df = rdf if df is None else df.unionByName(rdf)
    return df


def _range_unreadable(
    table, slices: list[FileSlice], touched: set, commits: list | None = None
) -> bool:
    """True when the as-of-end versions of the touched file groups can no
    longer be read. Pure manifest math, NO per-file storage RPCs (an
    ~875k-slice range would otherwise probe every path):

    - a touched group vanished from the as-of-end listing entirely
      (cleaning removed every version in range);
    - the listed slice is OLDER than an in-range write to its group —
      cleaning dropped the as-of-end version and an earlier surviving
      (e.g. savepointed) version is masquerading as it, which would
      silently serve stale rows;
    - a listed path appears in the cleaner's deletion record.
    """
    if touched and not slices:
        return True
    listed = {(s.partition, s.file_id) for s in slices}
    if touched - listed:
        return True
    by_key = {(s.partition, s.file_id): s for s in slices}
    for ts, _, md in commits or []:
        for sd in md.get("write_stats", []):
            s = by_key.get((sd.get("partition", ""), sd["file_id"]))
            if s is None:
                continue
            if sd.get("log"):
                # a delta written in range must still hang off the slice
                # (or have been absorbed by a newer base via compaction)
                if s.base.instant < ts and not any(
                    l.instant == ts for l in s.logs
                ):
                    return True
            elif s.base.instant < ts:
                return True
    cleaned = getattr(table.view(), "_cleaned", None) or set()
    if not cleaned:
        return False
    for s in slices:
        for p in s.base.paths:
            if p in cleaned:
                return True
        for l in s.logs:
            for p in l.paths:
                if p in cleaned:
                    return True
    return False


# fixed overhead floor of the log-key bypass in shuffle-byte units: the
# two extra join stages + the broadcast build, calibrated to the
# measured ~2M-row crossover on the r6 scale curve (SCALE.md)
_BYPASS_FIXED_OVERHEAD_BYTES = 64 << 20


def _log_key_bypass_pays(cfg, with_logs) -> bool:
    """Cost-based gate for the MOR log-key bypass (verdict r6 #7),
    decided entirely from manifest stats the read already holds.

    In shuffle-byte units: the bypass SAVES shuffling the untouched base
    rows (``(base_rows − touched) × avg_row_bytes``) and COSTS a second
    scan of the base files (a columnar scan is ~3× cheaper per byte than
    a shuffle's write+read+sort → ``base_bytes / 3``) plus
    ``_BYPASS_FIXED_OVERHEAD_BYTES``. The broadcast side requires the
    distinct log keys (~96 B each: file_id uuid + partition path +
    record key) to fit ``broadcast_budget_bytes``."""
    log_rows = sum(l.rows for s in with_logs for l in s.logs)
    base_rows = sum(s.base.rows for s in with_logs)
    base_bytes = sum(s.base.bytes for s in with_logs)
    if not fits_broadcast(cfg, log_rows, 96) or base_rows <= 0:
        return False
    avg_row = (base_bytes / base_rows) if base_bytes > 0 else 45.0
    saved = (base_rows - min(log_rows, base_rows)) * avg_row
    return saved >= base_bytes / 3.0 + _BYPASS_FIXED_OVERHEAD_BYTES


def merge_slices(
    table,
    slices: list[FileSlice],
    merge_type: str = "payload_combine",
    by_group: bool = False,
) -> DataFrame:
    """Merged view of the given slices — the one base ∪ logs merge that
    snapshot/incremental reads, compaction, clustering, the COW rewrite
    of a MOR table and the precommit after-state all run: base ∪ delta
    rows, then latest-version-per-key (payload order) and tombstone
    drop. Slices without logs (every COW slice) come out as their base
    files with the tombstone filter, so the caller never branches on
    table type. The reference shares ``HoodieMergedLogRecordScanner``
    the same way between ``HoodieMergeOnReadRDD.scala:297`` and
    ``HoodieCompactor.java:169``.

    Only file groups that HAVE delta files go through the window merge
    (one shuffle over just those groups); log-free groups are a plain
    parquet scan — the reference's two-reader split in
    ``MergeOnReadSnapshotRelation.buildScan`` (:104-139). At scale the
    uncompacted fraction is small (compaction every 5 delta commits), so
    the merge shuffle never covers the whole table.

    ``by_group=True`` promises output hash-partitioned on (file_id,
    partition), into ``write_tasks`` partitions sized by the slices'
    manifest bytes, for a writer that keeps each file group in one
    partition (``pre_partitioned=True``): every slice
    goes through the one exchange, with no log-free split and no
    log-key bypass. The window merge's ClusteredDistribution((fid, pp,
    key)) is satisfied by that HashPartitioning((fid, pp)), so it adds
    no second shuffle.

    ``merge_type="skip_merge"`` (``hoodie.datasource.merge.type``,
    ``HoodieMergeOnReadRDD.scala`` unMergedReader): concatenate base and
    delta rows without per-key resolution — every version of a key
    surfaces, no shuffle at all."""
    if by_group:
        with_logs, log_free = list(slices), []
    else:
        with_logs = [s for s in slices if s.logs]
        log_free = [s for s in slices if not s.logs]
    plain = None
    if log_free or not with_logs:
        plain = slices_to_df(table, log_free).filter(
            ~F.coalesce(F.col(DELETE_MARKER_COL), F.lit(False))
        )
    if not with_logs:
        return plain
    base = slices_to_df(table, with_logs)
    # _read_paths (not a bare spark.read): pins the table schema AND
    # derives the meta columns for virtual-key tables, which the merge
    # keys on
    logs = _read_paths(
        table, [p for s in with_logs for l in s.logs for p in l.paths]
    )
    if merge_type == "skip_merge":
        both = base.unionByName(logs)
        return both.unionByName(plain) if plain is not None else both
    # Log-key bypass (verdict r5 #3): the reference's scanner only ever
    # MERGES keys that appear in the logs — base rows of delta-bearing
    # groups whose key has no log record stream straight through
    # (``HoodieMergedLogRecordScanner.java:136-159`` probes a hash map of
    # log keys). Expressing the merge as a window would instead shuffle
    # EVERY base row of a log-bearing group. When the manifests say the
    # log volume is small (the steady state — compaction every 5
    # deltacommits bounds the uncompacted fraction), broadcast the
    # distinct log keys and split base via semi/anti joins: untouched
    # base rows never enter the shuffle (two broadcast-joined scans of
    # the base files replace one full shuffle of them — scans are
    # pushdown-friendly and shuffle-free, the decisive trade at 100 TB).
    # Large log volume falls back to the single full window merge: a
    # shuffle-based semi-join split would shuffle base TWICE. Small BASE
    # volume also falls back: the split costs a second base scan plus
    # two extra join stages, which only pays off once the saved shuffle
    # is larger than that (measured: 3× read throughput at 4.6M rows,
    # but ~+0.4s pure stage latency at 150k rows).
    untouched = None
    if not by_group and _log_key_bypass_pays(table.cfg, with_logs):
        keys3 = [FILE_ID_COL, PARTITION_PATH_COL, RECORD_KEY_COL]
        log_keys = logs.select(*keys3).distinct()
        untouched = base.join(F.broadcast(log_keys), keys3, "left_anti").filter(
            ~F.coalesce(F.col(DELETE_MARKER_COL), F.lit(False))
        )
        base = base.join(F.broadcast(log_keys), keys3, "left_semi")
    # __log marker: overwrite-family payloads rank ANY log record above
    # the base record (combineAndGetUpdateValue ignores the stored value);
    # the ordering value then resolves only log-vs-log (preCombine)
    both = base.withColumn("__log", F.lit(0)).unionByName(
        logs.withColumn("__log", F.lit(1))
    )
    if by_group:
        from ..operators.write import write_tasks

        tasks = write_tasks(
            table.spark, len(slices), sum(s.total_bytes for s in slices) // max(1, len(slices))
        )
        both = both.repartition(tasks, F.col(FILE_ID_COL), F.col(PARTITION_PATH_COL))
    payload = get_payload(table.cfg.payload, table.cfg.precombine_field)
    merged = mor_merge_window(
        both, payload,
        # when every merged log's stats say tombstones=False the
        # delete-block window pass is provably a no-op and is skipped (r8)
        hard_tombstones_possible=logs_may_have_tombstones(with_logs),
        # bypass path: base was semi-joined on the log keys, so every
        # key entering the window has a log row — the base-passthrough
        # window pass is provably constant and skipped (r8)
        all_keys_logged=untouched is not None,
    )
    if untouched is not None:
        merged = merged.unionByName(untouched)
    return merged.unionByName(plain) if plain is not None else merged


def snapshot(
    table,
    as_of: str | None = None,
    query_type: str = QUERY_SNAPSHOT,
    filters: list | None = None,
    merge_type: str = "payload_combine",
) -> DataFrame:
    """Latest (or as-of, for time travel — ``DataSourceOptions
    as.of.instant``) view. ``filters`` are optional Column predicates
    additionally used for stats-based file skipping before the scan;
    they are re-applied post-merge, so they are an optimization only.
    """
    if as_of is not None:
        from ..timeline import format_query_instant

        as_of = format_query_instant(as_of)
    view = table.view()
    slices = view.latest_file_slices(as_of=as_of)
    if filters:
        slices = prune_slices_by_stats(table, slices, filters)
    if query_type == QUERY_READ_OPTIMIZED:
        slices = [FileSlice(s.partition, s.file_id, s.base) for s in slices]
    df = merge_slices(table, slices, merge_type=merge_type)
    if filters:
        for f in filters:
            df = df.filter(_pred_to_column(f))
    return df.drop(DELETE_MARKER_COL)


def incremental(
    table, begin: str | None, end: str | None = None,
    fallback_full_scan: bool = False,
    path_glob: str | None = None,
) -> DataFrame:
    """Rows whose latest version landed in instant range (begin, end]
    (``ds/IncrementalRelation.scala:47-77,101-175``): restrict to file
    groups touched in the range, build the as-of-end view of those
    groups, filter on ``_hoodie_commit_time``.

    ``fallback_full_scan``: when the as-of-end file versions have been
    removed by cleaning (e.g. ``begin`` predates the active timeline and
    the archived commits' files are gone), scan the LATEST snapshot and
    filter on commit time instead —
    ``hoodie.datasource.read.incr.fallback.fulltablescan.enable``
    (``IncrementalRelation.scala:101-175``). With the fallback DISABLED
    an unreadable range raises (HoodieException posture) rather than
    silently returning a partial result."""
    if not table.cfg.populate_meta_fields:
        # the reference documents the same limitation verbatim
        # (HoodieTableConfig.java:163 "incremental queries will not be
        # functional"): without a stored _hoodie_commit_time, rows of a
        # rewritten COW group cannot be attributed to their original
        # commit — a path-derived commit time would silently return
        # every row of every touched file
        raise ValueError(
            "incremental queries are not functional when "
            "populate_meta_fields=false (virtual keys): data files store "
            "no _hoodie_commit_time"
        )
    view = table.view()
    commits = view.commits_in_range(begin, end)
    if not commits:
        return _empty(table).drop(DELETE_MARKER_COL)
    end_ts = commits[-1][0]
    touched = view.file_ids_touched_in_range(begin, end_ts)
    slices = [
        s
        for s in view.latest_file_slices(as_of=end_ts)
        if (s.partition, s.file_id) in touched
    ]
    # readability is a property of the RANGE, judged before the glob
    # narrows the slice list (a glob-excluded group is not "missing").
    # Groups REPLACED as of end_ts (clustering / insert_overwrite /
    # delete_partition) are legitimately absent from the as-of-end
    # listing — their surviving rows live in the replacement groups —
    # so they don't make the range unreadable.
    live_touched = set()
    for key in touched:
        g = view.groups.get(key)
        if g is None or g.replaced_at is None or g.replaced_at > end_ts:
            live_touched.add(key)
    live_commits = [
        (ts, a, md)
        for ts, a, md in commits
        if ts <= end_ts
    ]
    unreadable = _range_unreadable(table, slices, live_touched, live_commits)
    if path_glob:
        # hoodie.datasource.read.incr.path.glob
        # (IncrementalRelation.scala:139-150: GlobPattern("*" + glob)
        # over each file's table-relative "<partition>/<file name>" path)
        # — matched against the same reconstructed relative path, so
        # reference-style globs spanning partition and file name (e.g.
        # "2021/03/*.parquet") carry over; bare-partition globs still
        # match via the trailing-slash form
        import fnmatch
        import os

        pat = "*" + path_glob
        def _rel(s, p):
            return ("/" + s.partition + "/" if s.partition else "/") + os.path.basename(p)

        slices = [
            s
            for s in slices
            if any(fnmatch.fnmatch(_rel(s, p), pat) for p in s.base.paths)
            or fnmatch.fnmatch("/" + s.partition + "/", pat + "/")
            or fnmatch.fnmatch("/" + s.partition, pat)
        ]
    if unreadable:
        if not fallback_full_scan:
            raise ValueError(
                f"Incremental query range ({begin}, {end}] is no longer "
                "fully readable: file versions in the range were removed "
                "by cleaning (begin may predate the active timeline). "
                "Set hoodie.datasource.read.incr.fallback.fulltablescan."
                "enable=true to scan the latest snapshot instead."
            )
        df = snapshot(table)
        cond = F.col(COMMIT_TIME_COL) <= F.lit(end_ts)
        if begin is not None:
            cond = cond & (F.col(COMMIT_TIME_COL) > F.lit(begin))
        return df.filter(cond)
    df = merge_slices(table, slices)
    cond = F.col("_hoodie_commit_time") <= F.lit(end_ts)
    if begin is not None:
        cond = cond & (F.col("_hoodie_commit_time") > F.lit(begin))
    return df.filter(cond).drop(DELETE_MARKER_COL)


# Pruning moved to plans/pruning.py; thin aliases keep old imports alive.
from ..plans.pruning import (  # noqa: E402
    pred_to_column as _pred_to_column,
    prune_slices_by_stats,
)
