"""The merge kernel: stored × incoming reconciliation as one join.

Reference equivalent: ``HoodieMergeHandle`` streams the old base file,
probes a spillable hash map of incoming records, calls
``payload.combineAndGetUpdateValue`` per record, then flushes unmatched
incoming records (``client/io/HoodieMergeHandle.java:93-118,253,315-330``).

Ours unions stored and incoming rows, hash-exchanges them ONCE on
(file_id, partition) — the reference's bucket ``Partitioner`` — and
reconciles each (file_id, partition, record_key) with one window; the
payload's Column expressions decide survivor + values
(``finish_merge_frame``). Tungsten codegens the expressions and Spark's
shuffle spill replaces ``ExternalSpillableMap``. Batches within the
broadcast budget (upserts, deletes and MERGE INTO alike) run ``stored
LEFT JOIN broadcast(incoming)`` instead (``broadcast_merge_stored``), so
the stored side never shuffles; both share the same tail. MOR snapshot
reads and compaction merge base ∪ logs with ``mor_merge_window``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import (
    COMMIT_TIME_COL,
    DELETE_MARKER_COL,
    FILE_ID_COL,
    META_COLS,
    PARTITION_PATH_COL,
    RECORD_KEY_COL,
    SEQNO_COL,
)
from ..payloads import HAS_NEW, HAS_OLD, NEW, OLD, Payload

# Arrival-order column stamped on the raw incoming batch by
# run_batch_write before any join/shuffle; consumed by the duplicate
# collapse below and precombine_dedup's tie-break. Never written to
# storage (data_columns excludes it; _finalize projects it away).
ARRIVAL_ORDER_COL = "__ord"


def bq(name: str) -> str:
    """Backtick-quote an identifier for selectExpr (doubling embedded
    backticks, the SQL escape). selectExpr ships a whole projection as
    ONE py4j call where a Column-object select pays several gateway
    round trips per column — the hot write-path projections use it
    (optimization r9, guide §4: the JVM boundary)."""
    return "`" + name.replace("`", "``") + "`"


def seqno_expr(instant: str):
    # reference: commitTime + "_" + partitionId + "_" + rowId
    # (spark-client/.../HoodieRowCreateHandle.java makeId). The ids are
    # ZERO-PADDED here because the MOR merge tie-breaks on the seqno
    # STRING (mor_merge_window) — unpadded decimals would rank '_9'
    # above '_10' and let an earlier duplicate beat a later one within
    # one deltacommit (the reference's log scanner is positional, so its
    # unpadded format never sorts)
    return F.format_string(
        "%s_%010d_%019d",
        F.lit(instant),
        F.spark_partition_id(),
        F.monotonically_increasing_id(),
    )


def merge_stored_and_incoming(
    old: DataFrame,
    new: DataFrame,
    data_cols: list[str],
    col_types: dict[str, str],
    payload: Payload,
    instant: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """COW merge: rewrite affected file groups combining stored rows
    (``old``, full meta columns) with incoming tagged rows (``new``,
    carrying assigned ``_hoodie_file_id``).

    Unchanged stored rows keep their original ``_hoodie_commit_time`` /
    seqno — required for incremental query correctness (the reference
    preserves existing meta fields when rewriting untouched records).

    Physical shape — ONE shuffle, keyed by file group: stored ∪ incoming
    rows are hash-partitioned on (file_id, partition) exactly like the
    reference's bucket ``Partitioner`` (``BaseSparkCommitActionExecutor
    .partition``), then reconciled by a shuffle-free window over
    (file_id, partition, key) — HashPartitioning([fid, pp]) already
    satisfies the window's ClusteredDistribution, and the output
    lands pre-partitioned for the parquet writer (no re-layout shuffle).
    A full-outer join on the key would instead shuffle on the key AND
    need a second shuffle to group output by file — 2× the shuffle volume
    at 100 TB.
    """
    # partition is part of the group key: file-group identity is
    # (partition, file_id) — bulk insert / clustering may reuse one
    # file_id string across partitions (fid = prefix + output partition
    # id, and a range partition can span table partitions), so grouping
    # on file_id alone would conflate same-key rows across partitions
    jk = [FILE_ID_COL, PARTITION_PATH_COL, RECORD_KEY_COL]
    # wide union-side projections as ONE selectExpr call each
    # (optimization r9, guide §4: 3+ py4j round trips per column for
    # Column-object construction; this select runs on every kernel
    # write, twice)
    old_cols = set(old.columns)
    o = old.selectExpr(
        *[bq(k) for k in jk],
        "true AS `__om`",
        "false AS `__nm`",
        "CAST(NULL AS long) AS `__ord`",
        f"{bq(COMMIT_TIME_COL)} AS {bq(OLD + COMMIT_TIME_COL)}",
        f"{bq(SEQNO_COL)} AS {bq(OLD + SEQNO_COL)}",
        f"CAST(NULL AS boolean) AS {bq(NEW + DELETE_MARKER_COL)}",
        *[
            # add-column evolution: stored files predate new columns
            (
                f"{bq(c)} AS {bq(OLD + c)}"
                if c in old_cols
                else f"CAST(NULL AS {col_types[c]}) AS {bq(OLD + c)}"
            )
            for c in data_cols
        ],
        *[f"CAST(NULL AS {col_types[c]}) AS {bq(NEW + c)}" for c in data_cols],
    )
    new_cols = set(new.columns)
    n = new.selectExpr(
        *[bq(k) for k in jk],
        "false AS `__om`",
        "true AS `__nm`",
        # arrival order: prefer the ``__ord`` stamped on the RAW input by
        # run_batch_write (deterministic w.r.t. the user's input layout);
        # an id generated here would run after the tag join's shuffle,
        # whose partition layout is nondeterministic (advice r5)
        (
            f"{bq(ARRIVAL_ORDER_COL)} AS `__ord`"
            if ARRIVAL_ORDER_COL in new_cols
            else "monotonically_increasing_id() AS `__ord`"
        ),
        f"CAST(NULL AS string) AS {bq(OLD + COMMIT_TIME_COL)}",
        f"CAST(NULL AS string) AS {bq(OLD + SEQNO_COL)}",
        (
            f"CAST({bq(DELETE_MARKER_COL)} AS boolean) AS {bq(NEW + DELETE_MARKER_COL)}"
            if DELETE_MARKER_COL in new_cols
            else f"false AS {bq(NEW + DELETE_MARKER_COL)}"
        ),
        *[f"CAST(NULL AS {col_types[c]}) AS {bq(OLD + c)}" for c in data_cols],
        *[
            (
                f"{bq(c)} AS {bq(NEW + c)}"
                if c in new_cols
                else f"CAST(NULL AS {col_types[c]}) AS {bq(NEW + c)}"
            )
            for c in data_cols
        ],
    )
    u = o.unionByName(n)
    if num_partitions:
        u = u.repartition(num_partitions, F.col(FILE_ID_COL), F.col(PARTITION_PATH_COL))
    # Reference per-row stored semantics (HoodieMergeHandle.write,
    # client/io/HoodieMergeHandle.java:315-360): EVERY stored row probes
    # the incoming map independently — duplicate STORED keys each merge
    # with the incoming winner and each emit, as on the broadcast merge
    # (upsert, delete and MERGE INTO), so both agree on every shape
    # regardless of broadcast budgets.
    # Expressed as ONE window over the same single exchange the old
    # groupBy formulation used (HashPartitioning on (fid, partition)
    # satisfies the window's ClusteredDistribution on (fid, partition,
    # key) — no second shuffle):
    #   - the INCOMING side may hold >1 row per key when preCombine is
    #     disabled: the winner is ONE WHOLE row via max_by on arrival
    #     order — the reference merge-handle's keyToNewRecords
    #     map-put-last semantics — never per-column any_value, which
    #     could fabricate a row mixing columns of two duplicates
    #     (diff-review r5). Duplicates headed to brand-new file groups
    #     collapse the same way when the batch also touches existing
    #     groups (documented divergence: the reference's create handle
    #     writes every duplicate).
    #   - stored rows stream through per-row with their own old__ values
    #     (no more any_value collapse of the stored side);
    #   - unmatched incoming keys flush exactly once: the winner row
    #     emits when the group has no stored row (writtenRecordKeys
    #     guard, HoodieMergeHandle.writeIncomingRecords).
    new_side = [NEW + DELETE_MARKER_COL] + [NEW + c for c in data_cols]
    w = Window.partitionBy(*jk)
    nm = F.col("__nm")
    j = u.select(
        *jk,
        "__om",
        "__nm",
        "__ord",
        OLD + COMMIT_TIME_COL,
        OLD + SEQNO_COL,
        *[OLD + c for c in data_cols],
        F.max_by(
            F.when(nm, F.struct(*[F.col(c) for c in new_side])),
            F.when(nm, F.col("__ord")),
        ).over(w).alias("__new"),
        F.max("__om").over(w).alias("__go"),
        F.max(F.when(nm, F.col("__ord"))).over(w).alias("__mo"),
    )
    j = j.filter(
        F.col("__om")
        | (~F.col("__go") & nm & (F.col("__ord") == F.col("__mo")))
    )
    j = j.selectExpr(
        *[bq(k) for k in jk],
        f"`__om` AS {bq(HAS_OLD)}",
        f"(`__mo` IS NOT NULL) AS {bq(HAS_NEW)}",
        bq(OLD + COMMIT_TIME_COL),
        bq(OLD + SEQNO_COL),
        *[bq(OLD + c) for c in data_cols],
        *[f"`__new`.{bq(c)} AS {bq(c)}" for c in new_side],
    )
    return finish_merge_frame(j, data_cols, payload, instant)


def finish_merge_frame(
    j: DataFrame, data_cols: list[str], payload: Payload, instant: str
) -> DataFrame:
    """Shared tail of every COW merge formulation (kernel and broadcast
    fast path): evaluate the payload's take_new/is_delete/value
    expressions over the merge-frame columns and project the final
    written shape. Keeping this in ONE place is the equivalence
    contract between the kernel and the broadcast merge."""
    take_new = payload.take_new()
    is_delete = payload.is_delete()
    out_cols = [
        F.when(take_new, F.lit(instant))
        .otherwise(F.col(OLD + COMMIT_TIME_COL))
        .alias(COMMIT_TIME_COL),
        F.when(take_new, seqno_expr(instant))
        .otherwise(F.col(OLD + SEQNO_COL))
        .alias(SEQNO_COL),
        F.col(RECORD_KEY_COL),
        F.col(PARTITION_PATH_COL),
        F.col(FILE_ID_COL),
        *[
            F.when(take_new, payload.value(c)).otherwise(F.col(OLD + c)).alias(c)
            for c in data_cols
        ],
    ]
    # drop deletes; drop new-only rows the payload rejected (no stored row
    # to fall back to, e.g. delete-key for an absent record)
    return j.filter(~is_delete & (F.col(HAS_OLD) | take_new)).select(*out_cols)


def fits_broadcast(cfg, rows: int, row_bytes: float) -> bool:
    """The one broadcast gate shared by the COW broadcast merge
    (upsert, delete and MERGE INTO) and the MOR log-key bypass: ``rows``
    framed rows of about ``row_bytes`` each (the caller's own width
    estimate) fit ``cfg.broadcast_budget_bytes``. A budget of 0 never
    broadcasts."""
    budget = cfg.broadcast_budget_bytes
    return budget > 0 and rows * row_bytes <= budget


def broadcast_merge_stored(
    old: DataFrame,
    new: DataFrame,
    data_cols: list[str],
    col_types: dict[str, str],
    payload: Payload,
    instant: str,
) -> DataFrame:
    """COW broadcast merge for upserts, deletes and MERGE INTO within
    the broadcast budget: the reference merge-handle's actual algorithm — stream the stored base
    rows, probe a hash map of the incoming batch
    (``HoodieMergeHandle.write``: keyToNewRecords probe per old record)
    — said directly as ``stored LEFT OUTER JOIN broadcast(incoming)``.
    The stored side never shuffles; the union+window kernel remains the
    sort-merge analogue for batches past the broadcast budget.

    Equivalence contract with ``merge_stored_and_incoming`` (same
    ``finish_merge_frame`` tail, pinned by tests):

    - caller guarantees every incoming key EXISTS in ``old`` (exact
      index tagging against the same base files; the caller gates this
      path off for log-bearing slices where tombstones could remove a
      tagged key from the stored view) — so the kernel's new-only
      take_new outputs cannot arise here and LEFT OUTER is exhaustive;
    - ``new`` must already be collapsed to ONE row per (fid, partition,
      key) — same precombine/arrival-order winner the kernel's window
      picks;
    - duplicate STORED keys each probe the map independently (reference
      per-row semantics — identical to the r9 kernel window).
    """
    # wide projections go through selectExpr — ONE py4j call carrying
    # every expression as a string, instead of 3+ gateway round trips
    # per column for Column-object construction (optimization r9, §4:
    # the JVM boundary; measured ~850 round trips per commit after the
    # fs fast path, plan construction the largest remaining block)
    jk = [FILE_ID_COL, PARTITION_PATH_COL, RECORD_KEY_COL]
    old_cols = set(old.columns)
    o = old.selectExpr(
        *[bq(k) for k in jk],
        f"{bq(COMMIT_TIME_COL)} AS {bq(OLD + COMMIT_TIME_COL)}",
        f"{bq(SEQNO_COL)} AS {bq(OLD + SEQNO_COL)}",
        *[
            (
                f"{bq(c)} AS {bq(OLD + c)}"
                if c in old_cols
                else f"CAST(NULL AS {col_types[c]}) AS {bq(OLD + c)}"
            )
            for c in data_cols
        ],
    )
    new_cols = set(new.columns)
    n = new.selectExpr(
        *[bq(k) for k in jk],
        "true AS `__nm`",
        (
            f"CAST({bq(DELETE_MARKER_COL)} AS boolean) AS {bq(NEW + DELETE_MARKER_COL)}"
            if DELETE_MARKER_COL in new_cols
            else f"false AS {bq(NEW + DELETE_MARKER_COL)}"
        ),
        *[
            (
                f"{bq(c)} AS {bq(NEW + c)}"
                if c in new_cols
                else f"CAST(NULL AS {col_types[c]}) AS {bq(NEW + c)}"
            )
            for c in data_cols
        ],
    )
    j = o.join(F.broadcast(n), jk, "left").selectExpr(
        *[bq(k) for k in jk],
        f"true AS {bq(HAS_OLD)}",
        f"coalesce(`__nm`, false) AS {bq(HAS_NEW)}",
        bq(OLD + COMMIT_TIME_COL),
        bq(OLD + SEQNO_COL),
        *[bq(OLD + c) for c in data_cols],
        bq(NEW + DELETE_MARKER_COL),
        *[bq(NEW + c) for c in data_cols],
    )
    return finish_merge_frame(j, data_cols, payload, instant)


def logs_may_have_tombstones(slices) -> bool:
    """The manifest proof consumed by ``mor_merge_window``'s
    ``hard_tombstones_possible`` gate, in ONE place for every caller
    (snapshot/incremental reads, compaction, clustering): base files
    never store delete-marker rows (all write paths filter them), so
    the merged logs are the only tombstone source — False only when
    EVERY log's writer-recorded stat says tombstones=False (None =
    legacy commit = conservatively possible)."""
    return any(l.tombstones is not False for s in slices for l in s.logs)


def mor_merge_window(
    union_df: DataFrame, payload: Payload, drop_tombstones: bool = True,
    hard_tombstones_possible: bool = True,
    all_keys_logged: bool = False,
) -> DataFrame:
    """MOR snapshot merge: latest-version-per-key over base ∪ delta rows.

    Reference: ``HoodieMergedLogRecordScanner`` builds a key→record map
    from log blocks then merges against base rows
    (``common/table/log/HoodieMergedLogRecordScanner.java:136-159``,
    ``ds/HoodieMergeOnReadRDD.scala:297``). A window `row_number` over
    (file_id, key) ordered by the payload's version order expresses the
    same thing shuffle-free per file group.
    """
    order = payload.mor_merge_order() + [F.col(SEQNO_COL).desc_nulls_last()]
    if "__log" in union_df.columns and getattr(
        payload, "mor_log_wins_over_base", False
    ):
        # overwrite-family combineAndGetUpdateValue ignores the stored
        # value entirely: ANY log record beats the base record, and the
        # ordering value only resolves log-vs-log (the reference's
        # scanner applies preCombine among log records, then the final
        # winner overwrites the base row unconditionally)
        order = [F.col("__log").desc()] + order
    # partition in the window key for the same reason as the merge join:
    # one file_id string may name distinct groups in distinct partitions
    keys = [FILE_ID_COL, PARTITION_PATH_COL, RECORD_KEY_COL]
    pc = payload.precombine
    if (
        hard_tombstones_possible
        and getattr(payload, "mor_delete_block_filter", False)
        and pc
        and pc in union_df.columns
    ):
        # ``hard_tombstones_possible=False``: the caller proved from the
        # manifests (per-log tombstone stats, optimization r8) that no
        # merged log file carries a delete-marker row — the filter below
        # would pass every row, so the whole extra sort+window pass over
        # the log-bearing groups is skipped outright.
        # DELETE-BLOCK semantics (HoodieMergedLogRecordScanner.
        # processQueuedBlocksAndLogs: a delete block removes the key
        # POSITIONALLY — unconditionally for everything logged before
        # it, regardless of ordering value). A key-only tombstone has a
        # NULL precombine column, so payloads that order by the
        # precombine FIRST (DefaultPayload family — they opt in via
        # ``mor_delete_block_filter``) would rank it below the stored
        # row via desc_nulls_last and silently ignore the delete.
        # Payloads whose order leads with commit time (overwrite/base)
        # already rank the newer tombstone first, so they skip this
        # extra window pass. Model the delete block directly: drop
        # every row from commits strictly BEFORE the latest
        # null-ordering tombstone; rows at/after it (including the
        # tombstone itself) fall through to the payload's ordering.
        # Soft deletes that carry an ordering value (CDC streams) keep
        # payload-ordered semantics — they are payload records in the
        # reference, not delete blocks.
        tomb = F.coalesce(F.col(DELETE_MARKER_COL), F.lit(False))
        hard_tomb_ct = F.max(
            F.when(tomb & F.col(pc).isNull(), F.col(COMMIT_TIME_COL))
        ).over(Window.partitionBy(*keys))
        union_df = union_df.withColumn("__htct", hard_tomb_ct).filter(
            F.col("__htct").isNull() | (F.col(COMMIT_TIME_COL) >= F.col("__htct"))
        ).drop("__htct")
    w = Window.partitionBy(*keys).orderBy(*order)
    out = union_df.withColumn("__rn", F.row_number().over(w))
    if "__log" in union_df.columns and not all_keys_logged:
        # Duplicate-key BASE rows with no log record stream through
        # unmerged, exactly like the reference scanner (it only merges
        # keys present in the log-record map; duplicates written by the
        # create handle each emit). Without this, the r6 log-key bypass
        # (which passes untouched base rows straight through) and this
        # window would disagree on such groups, making the snapshot
        # depend on the bypass thresholds (diff-review r6). Same window
        # frame as __rn — no extra shuffle.
        # ``all_keys_logged=True`` (the bypass path, optimization r8):
        # the caller semi-joined base rows on the log keys, so EVERY
        # key here has a log row — max(__log) per key is provably 1 and
        # the `__hl == 0` disjunct can never fire; skip the extra
        # window pass outright.
        out = out.withColumn(
            "__hl", F.max("__log").over(Window.partitionBy(*keys))
        )
        out = out.filter(
            (F.col("__rn") == 1) | (F.col("__hl") == 0)
        ).drop("__hl")
    else:
        out = out.filter(F.col("__rn") == 1)
    out = out.drop("__rn", "__log")
    if drop_tombstones:
        out = out.filter(~F.coalesce(F.col(DELETE_MARKER_COL), F.lit(False)))
    return out


def precombine_dedup(incoming: DataFrame, payload: Payload, global_key: bool) -> DataFrame:
    """Within-batch duplicate-key combine (``preCombine``):
    ``SparkWriteHelper.deduplicateRecords`` reduces by (key[, partition])
    keeping the larger ordering value (SparkWriteHelper.java:60-75)."""
    keys = [RECORD_KEY_COL] if global_key else [RECORD_KEY_COL, PARTITION_PATH_COL]
    order = payload.precombine_order() or []
    if ARRIVAL_ORDER_COL in incoming.columns:
        # deterministic tie-break: equal (or absent) ordering values
        # resolve to the LAST-arriving duplicate, matching the merge
        # kernel's map-put-last semantics
        order = order + [F.col(ARRIVAL_ORDER_COL).desc_nulls_last()]
    if not order:
        order = [F.lit(1)]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        incoming.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
