"""Clustering: rewrite selected file groups into target-sized, sorted
(or space-filling-curve-ordered) files via a ``replacecommit``.

Reference: plan strategies in
``spark-client/client/clustering/plan/strategy/`` (size-based /
recent-days / selected-partitions / single-file-sort) executed by
``MultipleSparkJobExecutionStrategy.java:90-161`` with linear-sort or
z-order/hilbert partitioners. Ours: one DataFrame pass —
``repartitionByRange`` on (partition, sortkey) + ``sortWithinPartitions``
— then a manifest swap.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from ..concurrency import ServiceGuardedError, claim_execution, table_lock
from ..config import (
    EMPTY_PARTITION_DIR,
    FILE_ID_COL,
    PARTITION_PATH_COL,
    RECORD_KEY_COL,
)
from ..functions.zorder import with_hilbert_value, with_zvalue
from ..metadata import make_commit_metadata
from ..timeline import REPLACE_COMMIT
from ..sources.read import base_format as _base_format
from .write import WriteInstant, collect_write_stats, range_file_groups


def pending_clustering_plans(table) -> dict[str, set[tuple[str, str]]]:
    """instant → {(partition, file_id)} for every
    scheduled-but-incomplete clustering plan
    (``ClusteringUtils.getAllPendingClusteringPlans`` reads the plan
    from the requested file the same way)."""
    out: dict[str, set[tuple[str, str]]] = {}
    for inst in table.timeline.pending():
        if inst.action != REPLACE_COMMIT:
            continue
        md = table.timeline.read_requested_metadata(inst.timestamp, inst.action)
        if md.get("operation") == "cluster":
            out[inst.timestamp] = {
                (pp, fid) for pp, fid in md.get("plan_groups", [])
            }
    return out


def pending_clustering_groups(table) -> set[tuple[str, str]]:
    """(partition, file_id) pairs named by any scheduled-but-incomplete
    clustering plan — the set a concurrent upsert must not touch
    (``SparkRejectUpdateStrategy.java``)."""
    out: set[tuple[str, str]] = set()
    for groups in pending_clustering_plans(table).values():
        out |= groups
    return out


def schedule_cluster(
    table,
    partitions: list[str] | None = None,
    sort_cols: list[str] | None = None,
    layout: str = "sort",  # sort | zorder | hilbert
    curve_method: str = "sample",  # raw | map | sample (see functions/zorder.py)
    curve_bits: int = 16,
    target_file_size: int | None = None,
    small_files_only: bool = False,
    target_file_groups: int | None = None,
) -> str | None:
    """Plan-only half of clustering: pick the file groups now, pin them
    in a ``replacecommit.requested`` plan, execute later (async service
    pattern — plan strategies in
    ``spark-client/client/clustering/plan/strategy/``). Returns the
    scheduled instant, or None if nothing qualifies."""
    # exclusion-read + plan-claim as ONE step under the table lock in
    # OCC mode (same TOCTOU rationale as schedule_compaction —
    # code-review r8); metadata-only work, no Spark job under the lock
    with table_lock(table, f"schedule-cluster-{uuid.uuid4().hex}"):
        return _schedule_cluster_locked(
            table, partitions, sort_cols, layout, curve_method, curve_bits,
            target_file_size, small_files_only, target_file_groups,
        )


def _schedule_cluster_locked(
    table, partitions, sort_cols, layout, curve_method, curve_bits,
    target_file_size, small_files_only, target_file_groups,
) -> str | None:
    cfg = table.cfg
    view = table.view()
    slices = view.latest_file_slices(partitions=partitions)
    # exclude file groups pinned by a PENDING compaction plan (or an
    # earlier pending clustering plan) — mirror of schedule_compaction's
    # filter (reference: SparkClusteringPlanStrategy filters
    # fileIdsInPendingCompaction); clustering a group mid-compaction
    # would make the compactor's commit and the replacecommit race on
    # the same slices under OCC
    from .services import pending_compaction_groups

    pinned = pending_compaction_groups(table) | pending_clustering_groups(table)
    if pinned:
        slices = [s for s in slices if (s.partition, s.file_id) not in pinned]
    if small_files_only:
        # SparkSizeBasedClusteringPlanStrategy: only groups below the
        # small-file limit participate
        slices = [s for s in slices if s.total_bytes < cfg.small_file_limit_bytes]
    if not slices:
        return None
    from ..timeline import claim_new_instant

    instant = claim_new_instant(
        table,
        REPLACE_COMMIT,
        {
            "operation": "cluster",
            "plan_groups": [[s.partition, s.file_id] for s in slices],
            "params": {
                "sort_cols": sort_cols,
                "layout": layout,
                "curve_method": curve_method,
                "curve_bits": curve_bits,
                "target_file_size": target_file_size,
                "target_file_groups": target_file_groups,
            },
        },
    )
    return instant


def run_cluster(
    table, instant: str | None = None, keep_plan_on_failure: bool = True
) -> str | None:
    """Execute a scheduled clustering plan (the EARLIEST pending one
    when ``instant`` is None — plans execute in schedule order, like the
    reference draining pending clustering oldest-first). The plan's file
    groups were frozen at schedule time; groups whose latest slice has
    since changed identity are re-resolved by (partition, file_id).

    ``keep_plan_on_failure`` (default, the async-service contract): a
    failed EXECUTION reverts the instant to REQUESTED so the scheduled
    plan — and its update-REJECT protection on the pinned groups — stays
    retryable instead of being silently cancelled (diff-review r5).
    Inline ``cluster()`` passes False to restore its pre-call state.

    Execution runs inside the OCC execution fence
    (``concurrency.claim_execution``), like compaction: a plan whose
    heartbeat is live belongs to a rival executor and raises
    ``ServiceGuardedError``; otherwise the fence starts this executor's
    heartbeat, which the replacecommit's ``WriteInstant`` stops at
    commit or abort. A plan a rival already completed returns its
    instant untouched."""
    tl = table.timeline
    pending = [
        i
        for i in tl.pending()
        if i.action == REPLACE_COMMIT
        and tl.read_requested_metadata(i.timestamp, i.action).get("operation")
        == "cluster"
        and (instant is None or i.timestamp == instant)
    ]
    if not pending:
        return None
    ts = pending[0].timestamp
    with claim_execution(table, ts) as hb:
        if tl.is_completed(ts, REPLACE_COMMIT):
            return ts  # a rival executor finished the plan first
        md = tl.read_requested_metadata(ts, REPLACE_COMMIT)
        params = md.get("params", {})
        plan = {(pp, fid) for pp, fid in md.get("plan_groups", [])}
        view = table.view()
        slices = [
            s for s in view.latest_file_slices() if (s.partition, s.file_id) in plan
        ]
        if not slices:
            tl.delete_instant_files(ts, REPLACE_COMMIT)
            return None
        return _execute_cluster(
            table,
            slices,
            instant=ts,
            sort_cols=params.get("sort_cols"),
            layout=params.get("layout", "sort"),
            curve_method=params.get("curve_method", "sample"),
            curve_bits=params.get("curve_bits", 16),
            target_file_size=params.get("target_file_size"),
            target_file_groups=params.get("target_file_groups"),
            keep_plan_on_failure=keep_plan_on_failure,
            hb=hb,
        )


def cluster(
    table,
    partitions: list[str] | None = None,
    sort_cols: list[str] | None = None,
    layout: str = "sort",  # sort | zorder | hilbert
    curve_method: str = "sample",  # raw | map | sample (see functions/zorder.py)
    curve_bits: int = 16,
    target_file_size: int | None = None,
    small_files_only: bool = False,
    target_file_groups: int | None = None,
) -> str | None:
    """Schedule + execute in one call (inline clustering).
    Returns the replacecommit instant, or None if nothing to do."""
    instant = schedule_cluster(
        table,
        partitions=partitions,
        sort_cols=sort_cols,
        layout=layout,
        curve_method=curve_method,
        curve_bits=curve_bits,
        target_file_size=target_file_size,
        small_files_only=small_files_only,
        target_file_groups=target_file_groups,
    )
    if instant is None:
        # Nothing newly schedulable — but a leftover PENDING plan pins
        # its groups against re-planning (the r8 mutual exclusion), so
        # inline clustering must drain it or stall on those groups
        # forever (code-review r8). run_cluster(None) executes the
        # earliest pending plan and is a no-op when none exists; the
        # async retry contract (keep plan on failure) applies since the
        # plan was scheduled separately. A plan under a rival's live
        # execution fence is not ours to drain: nothing to do.
        try:
            return run_cluster(table, None)
        except ServiceGuardedError:
            return None
    # inline schedule+run: a failure discards the just-created plan,
    # restoring the pre-call state (the async retry contract applies
    # only to plans scheduled separately)
    return run_cluster(table, instant, keep_plan_on_failure=False)


def _execute_cluster(
    table,
    slices,
    instant: str,
    sort_cols: list[str] | None,
    layout: str,
    curve_method: str,
    curve_bits: int,
    target_file_size: int | None,
    target_file_groups: int | None,
    keep_plan_on_failure: bool = False,
    hb=None,
) -> str:
    cfg = table.cfg
    view = table.view()
    target = target_file_size or cfg.max_file_size_bytes
    table.timeline.transition_to_inflight(instant, REPLACE_COMMIT)
    # no claim step: the plan already owns the instant and its claim. A
    # failed EXECUTION returns the plan to REQUESTED when
    # keep_plan_on_failure: cancelling it would silently drop both the
    # scheduled work and the pending-clustering update-REJECT protection
    # on its file groups. Otherwise the plan goes, and its claim with it.
    with WriteInstant(
        table, "cluster", REPLACE_COMMIT, instant, hb=hb,
        keep_plan=keep_plan_on_failure, owns_claim=True,
    ) as wi:
        from ..sources.read import merge_slices

        # fold MOR deltas; the range repartition below sets the layout
        df = merge_slices(table, slices)

        sort_key = None
        if layout == "zorder" and sort_cols:
            df = with_zvalue(df, sort_cols, "__curve", bits=curve_bits, method=curve_method)
            sort_key = "__curve"
        elif layout == "hilbert" and sort_cols:
            df = with_hilbert_value(df, sort_cols, "__curve", bits=curve_bits, method=curve_method)
            sort_key = "__curve"
        elif sort_cols:
            sort_key = sort_cols[0]

        total_bytes = sum(s.total_bytes for s in slices)
        n_out = target_file_groups or max(1, int(total_bytes / target))
        order_cols = [F.col(PARTITION_PATH_COL)] + (
            [F.col(c) for c in (sort_cols if sort_key != "__curve" else [sort_key])]
            if sort_cols
            else [F.col(RECORD_KEY_COL)]
        )
        df = range_file_groups(df, n_out, order_cols, total_bytes // n_out)

        # write directly (file groups are pre-assigned by the range
        # partitioner and packed into tasks by size — no reshuffle). The
        # single local sort leads with the layout (directory) columns so
        # the dynamic-partition writer accepts the ordering as-is:
        # otherwise it inserts its own sort by (_pp, _fg) alone, which
        # both duplicates the work and scrambles the curve/sort-key
        # order inside each file — the entire point of clustering.
        from ..config import LAYOUT_FILEGROUP_COL, LAYOUT_PARTITION_COL

        out = df.withColumns(
            {
                LAYOUT_PARTITION_COL: F.when(
                    F.col(PARTITION_PATH_COL) == "", F.lit(EMPTY_PARTITION_DIR)
                ).otherwise(F.col(PARTITION_PATH_COL)),
                LAYOUT_FILEGROUP_COL: F.col(FILE_ID_COL),
            }
        )
        out = out.sortWithinPartitions(
            F.col(LAYOUT_PARTITION_COL), F.col(LAYOUT_FILEGROUP_COL), *order_cols
        )
        if sort_key == "__curve":
            out = out.drop("__curve")
        if table.cfg.drop_partition_columns:
            out = out.drop(
                *[f for f in table.cfg.partition_fields() if f in out.columns]
            )
        if not table.cfg.populate_meta_fields:
            # virtual keys: clustered output files stay meta-free, like
            # every other writer (write.py write_instant_files)
            from ..config import META_COLS as _META_COLS

            out = out.drop(*[c for c in _META_COLS if c in out.columns])
        # crash recovery: a process killed mid-save leaves a partial
        # data/<instant>/ dir (rollback_pending_writes deliberately skips
        # cluster plans so the plan stays retryable) — clear it, or the
        # retry dies on mode('error') and the except handler would then
        # discard the scheduled plan
        leftover = table.instant_data_path(instant)
        if table.fs.exists(leftover):
            table.fs.delete(leftover, recursive=True)
        out.write.mode("error").partitionBy(
            LAYOUT_PARTITION_COL, LAYOUT_FILEGROUP_COL
        ).format(_base_format(table)).save(table.instant_data_path(instant))
        stats = collect_write_stats(table, instant)
        from .key_index import append_from_written, enabled as _ki_enabled

        if _ki_enabled(cfg):
            append_from_written(table, instant, sum(st.rows for st in stats))
        replaced: dict[str, list[str]] = {}
        for s in slices:
            replaced.setdefault(s.partition, []).append(s.file_id)
        md = make_commit_metadata(
            "cluster",
            view.latest_schema() or "",
            stats,
            replaced=replaced,
            extra={"layout": layout, "sort_cols": sort_cols or []},
        )
        # commit through the OCC gate like every other write path: in
        # multi-writer mode a data commit can land on a plan group
        # between our view read and this point (the write side's REJECT
        # only fires for plans that existed at ITS profile time), and
        # replacing the group would silently drop those committed rows —
        # guarded_commit's overlap check on `replaced` catches it and
        # the abort rolls the clustering back
        from ..concurrency import txn_start_marker

        return wi.commit(md, txn_start_marker(table, view))
