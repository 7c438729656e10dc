"""Table services: compaction, cleaning, rollback, savepoint/restore.

Reference: ``client/table/action/compact|clean|rollback|savepoint/``.
All of these are manifest/timeline manipulations plus (for compaction)
one DataFrame merge job — no row-level driver work.

Clean, rollback, restore and savepoint share one plan-first lifecycle:

- **plan**: ``run_service`` claims a fresh instant whose ``.requested``
  file pins the plan (the paths a clean deletes, the instants a
  rollback or restore unwinds, the commit a savepoint pins) before
  anything is touched;
- **step**: ``finish_service`` reads the plan strictly and runs the
  action's step (``_service_step``), which does the work and returns
  the completed metadata, or None when there is nothing to finish (a
  legacy marker, a stale rollback, a replayed savepoint) and the
  pending files are dropped;
- **complete once**: the completion is create-once, and a rival's
  completion of the same instant counts as success
  (``Timeline.is_completed``);
- **replay**: a pending plan left by a crash is finished from its plan
  by ``replay_pending_services`` — ``clean()`` replays CLEAN, the
  write-start sweep replays ROLLBACK, RESTORE and SAVEPOINT. Under OCC
  only a plan older than the heartbeat-expiry window is replayed
  (``_plan_stale``); a young one may be a live rival's.

Compaction keeps its own two-action swap (``compaction.requested`` →
``commit``), ordered for crash recovery. Both scheduled-plan executors,
compaction here and clustering, run inside the OCC execution fence
(``concurrency.claim_execution``): a plan whose heartbeat is live
belongs to a rival executor and is refused with ``ServiceGuardedError``.
"""

from __future__ import annotations

import time
import uuid

from ..concurrency import (
    LockBusyError,
    ServiceGuardedError,  # noqa: F401 - re-exported for callers
    claim_execution,
    heartbeat_live,
    is_occ,
    table_lock,
)
from ..config import TableType
from ..metadata import FileSystemView, WriteStat, make_commit_metadata
from ..timeline import (
    CLEAN,
    COMMIT,
    COMPACTION,
    COMPLETED,
    DELTA_COMMIT,
    INFLIGHT,
    Instant,
    REPLACE_COMMIT,
    REQUESTED,
    RESTORE,
    ROLLBACK,
    SAVEPOINT,
    WRITE_ACTIONS,
)
from .write import collect_write_stats, write_instant_files

# --------------------------------------------------------------------------
# Compaction (client/table/action/compact/HoodieCompactor.java:99-201)
# --------------------------------------------------------------------------


def compaction_due(table, view: FileSystemView | None = None) -> bool:
    """Compaction trigger (CompactionTriggerStrategy.java:23-29):
    NUM_COMMITS — delta commits since the last non-delta write ≥ N
    (default 5, HoodieCompactionConfig.java:93-96); TIME_ELAPSED —
    seconds since then ≥ ``compact_max_delta_seconds``; NUM_AND_TIME /
    NUM_OR_TIME combine both."""
    cfg = table.cfg
    if cfg.table_type != TableType.MERGE_ON_READ:
        return False
    n = 0
    first_delta_ts = None
    for inst in reversed(table.timeline.completed_write_instants()):
        if inst.action == DELTA_COMMIT:
            n += 1
            first_delta_ts = inst.timestamp
        else:
            break
    num_ok = n >= cfg.compact_max_delta_commits
    trigger = cfg.compact_trigger.upper()
    if trigger == "NUM_COMMITS":
        return num_ok
    time_ok = False
    if first_delta_ts is not None:
        import time as _time

        try:
            # instant times come from time.strftime (localtime) — parse
            # them back the same way
            t0 = _time.mktime(_time.strptime(first_delta_ts[:14], "%Y%m%d%H%M%S"))
            time_ok = (_time.time() - t0) >= cfg.compact_max_delta_seconds
        except ValueError:
            time_ok = False
    if trigger == "TIME_ELAPSED":
        return time_ok
    if trigger == "NUM_AND_TIME":
        return num_ok and time_ok
    if trigger == "NUM_OR_TIME":
        return num_ok or time_ok
    return num_ok


def schedule_compaction(
    table,
    strategy: str = "LOG_FILE_SIZE",
    max_slices: int | None = None,
    io_budget_bytes: int | None = None,
    day_partitions: int | None = None,
) -> str | None:
    """Write a compaction plan as a `compaction.requested` instant.

    Plan strategies (client/table/action/compact/strategy/): pick file
    slices that have delta files;
    - LOG_FILE_SIZE (default): order by total delta bytes descending
      (``LogFileSizeBasedCompactionStrategy``);
    - BOUNDED_IO: same order, stop once the estimated IO (base read +
      delta read + base rewrite) exceeds ``io_budget_bytes``
      (``BoundedIOCompactionStrategy``);
    - DAY_BASED: only slices in the ``day_partitions`` latest partitions
      by name order (``DayBasedCompactionStrategy`` — partition paths
      are dates, newest first);
    - UNBOUNDED: all slices (``UnBoundedCompactionStrategy``)."""
    # The exclusion-read + plan-claim run as ONE step under the table
    # lock in OCC mode (code-review r8: a lock-free filter is TOCTOU —
    # two schedulers could both list pending() before either plan
    # landed and pin the same groups). Pure metadata work, no Spark
    # job, so holding the lock is cheap; the reference takes the same
    # lock for scheduleTableServiceInternal under multi-writer.
    with table_lock(table, f"schedule-compaction-{uuid.uuid4().hex}"):
        return _schedule_compaction_locked(
            table, strategy, max_slices, io_budget_bytes, day_partitions
        )


def _schedule_compaction_locked(
    table, strategy, max_slices, io_budget_bytes, day_partitions
) -> str | None:
    view = table.view()
    slices = [s for s in view.latest_file_slices() if s.logs]
    # exclude file groups pinned by a PENDING clustering plan OR a
    # pending compaction plan — the reference's plan generator filters
    # fgIdsInPendingCompactionAndClustering the same way
    # (ScheduleCompactionActionExecutor; the rival plan will supersede
    # or rewrite those slices, so compacting them duplicates the work
    # at best and, under OCC, leaves the replayed plan conflicting with
    # the rival's commit on the shared groups — found by the r8
    # service×service crash matrix)
    from .clustering import pending_clustering_groups

    pinned = pending_clustering_groups(table) | pending_compaction_groups(table)
    if pinned:
        slices = [s for s in slices if (s.partition, s.file_id) not in pinned]
    if not slices:
        return None
    strat = strategy.upper()
    if strat in ("LOG_FILE_SIZE", "BOUNDED_IO"):
        slices.sort(key=lambda s: sum(l.bytes for l in s.logs), reverse=True)
    if strat == "BOUNDED_IO" and io_budget_bytes is not None:
        picked, spent = [], 0
        for s in slices:
            cost = 2 * s.base.bytes + sum(l.bytes for l in s.logs)
            if picked and spent + cost > io_budget_bytes:
                break
            picked.append(s)
            spent += cost
        slices = picked
    elif strat == "DAY_BASED":
        latest_parts = sorted({s.partition for s in slices}, reverse=True)
        keep = set(latest_parts[: (day_partitions or 1)])
        slices = [s for s in slices if s.partition in keep]
    if max_slices:
        slices = slices[:max_slices]
    if not slices:
        return None
    plan = {
        "slices": [{"partition": s.partition, "file_id": s.file_id} for s in slices],
        "strategy": strategy,
    }
    from ..timeline import claim_new_instant

    return claim_new_instant(table, COMPACTION, plan)


def run_compaction(table, instant: str | None = None) -> str | None:
    """Execute a scheduled (or fresh) compaction: per selected slice,
    merge base ∪ delta rows (same window-merge as the snapshot view)
    and rewrite the base file; completes as a `commit`."""
    timeline = table.timeline
    if instant is None:
        instant = schedule_compaction(table)
        if instant is None:
            # Nothing newly schedulable. A leftover PENDING plan (a
            # crashed run, or SCHEDULE COMPACTION never executed) pins
            # its file groups against re-planning (the r8 mutual
            # exclusion), so without draining it here inline compaction
            # would stall FOREVER on those groups — logs accumulating
            # unboundedly (code-review r8). Drain the earliest pending
            # plan instead, like run_cluster(None); a rival
            # mid-execution (live heartbeat) makes this a no-op.
            pend = sorted(
                i.timestamp for i in timeline.pending() if i.action == COMPACTION
            )
            if not pend:
                return None
            try:
                return run_compaction(table, pend[0])
            except ServiceGuardedError:
                return None
    # Crash recovery (crash-matrix r6): if the compaction's COMMIT
    # already COMPLETED (crash between the commit point and the plan-file
    # cleanup), re-executing would rewrite — and with the leftover-dir
    # clear, DELETE — committed data. Finish the cleanup and return.
    if timeline.is_completed(instant, COMMIT):
        timeline.delete_pending_instant_files(instant, COMPACTION)
        return instant
    req = [
        i
        for i in timeline.instants()
        if i.timestamp == instant and i.action == COMPACTION and i.state == "requested"
    ]
    # the execution fence: a live rival executor's plan raises
    # ServiceGuardedError; its leftover clear below would otherwise
    # delete the rival's in-progress files
    with claim_execution(table, instant):
        return _run_compaction_claimed(table, instant, req)


def _run_compaction_claimed(table, instant, req):
    """Body of run_compaction, entered holding the execution claim (the
    instant's heartbeat) in OCC mode."""
    timeline = table.timeline
    if not req:
        # an INFLIGHT marker without its plan is a crashed run's leftover
        # (the plan itself is never deleted before the commit completes —
        # see the completion order below); reclaim it instead of raising
        if any(
            i.timestamp == instant and i.action == COMPACTION
            for i in timeline.pending()
        ):
            # re-check COMPLETED immediately before the destructive
            # delete: a rival compactor may have committed and removed
            # the plan between the guard above and this listing — its
            # lingering inflight marker must not cost committed data
            # (diff-review r6)
            if timeline.is_completed(instant, COMMIT):
                timeline.delete_pending_instant_files(instant, COMPACTION)
                return instant
            timeline.delete_pending_instant_files(instant, COMPACTION)
            table.fs.delete(table.instant_data_path(instant), recursive=True)
            return None
        raise ValueError(f"no compaction plan at {instant}")
    plan = timeline.read_metadata(req[0])
    targets = {(d["partition"], d["file_id"]) for d in plan["slices"]}

    view = table.view()
    # only merge deltas visible to this compaction instant (later
    # deltacommits stay on the new slice)
    slices = []
    for s in view.latest_file_slices():
        if (s.partition, s.file_id) in targets:
            s.logs = [l for l in s.logs if l.instant <= instant]
            slices.append(s)
    if not slices:
        timeline.delete_instant_files(instant, COMPACTION)
        return None

    # The fence's heartbeat (started under the lock by the caller in OCC
    # mode) also covers the COMPLETION swap below: between the COMMIT's
    # requested and completed files there is a pending COMMIT on the
    # timeline; a rival's lazy failed-write sweep treats any
    # heartbeat-less pending WRITE_ACTION as crashed and would delete the
    # compacted data dir out from under the completion write (advice
    # r5). It spans the whole run so the window is covered no matter how
    # slow the swap.
    timeline.transition_to_inflight(instant, COMPACTION)
    committed = False
    created_commit = False
    try:
        from ..sources.read import merge_slices

        # by_group: output lands hash-partitioned by file group for the
        # pre-partitioned writer — no re-layout shuffle
        merged = merge_slices(table, slices, by_group=True)
        # crash recovery: a process killed mid-save leaves a partial
        # data/<instant>/ dir (the failed-write sweep skips pending
        # COMPACTION plans so the plan stays retryable) — clear it, or
        # the retry dies on the writer's mode('error')
        leftover = table.instant_data_path(instant)
        if table.fs.exists(leftover):
            table.fs.delete(leftover, recursive=True)
        write_instant_files(
            table, merged, instant, len(slices), pre_partitioned=True,
        )
        stats = collect_write_stats(table, instant)
        # groups whose merge came out empty (all records tombstoned) must
        # still supersede their old slice with a zero-row version
        seen = {(s.partition, s.file_id) for s in stats}
        for s in slices:
            if (s.partition, s.file_id) not in seen:
                stats.append(
                    WriteStat(
                        partition=s.partition, file_id=s.file_id,
                        paths=[], rows=0, bytes=0,
                    )
                )
        md = make_commit_metadata(
            "compact", view.latest_schema() or "", stats, extra={"plan": plan}
        )
        # compaction completes as a commit (reference: compaction instant
        # transitions to a .commit on the timeline). ORDER MATTERS for
        # crash recovery (crash-matrix r6): the COMMIT is created and
        # completed BEFORE the COMPACTION plan files are removed, so no
        # crash point loses the plan — a crash before the commit leaves
        # the plan retryable (the failed-write sweep reclaims the pending
        # COMMIT), a crash after it leaves only leftover plan files that
        # the completed-commit guard at the top of this function removes.
        timeline.create_requested(instant, COMMIT, {"operation": "compact"})
        created_commit = True
        timeline.transition_to_completed(instant, COMMIT, md)
        committed = True
        timeline.release_claim(instant)
        # post-commit plan cleanup: the instant is DURABLE from the line
        # above, so a transient failure here must surface as-is — the
        # except below would otherwise delete committed data
        # (diff-review r6)
        timeline.delete_pending_instant_files(instant, COMPACTION)
    except Exception:
        if committed:
            raise
        # NEVER delete COMPLETED state in the abort path (advice r6 #1):
        # create_requested(COMMIT) failing create-once means a RIVAL
        # compactor committed this instant — its completed commit file
        # and the shared data/<instant>/ dir hold committed data. The
        # completion is create-once, so completed + not-committed-by-us
        # can only be a rival's success: mirror finish_service's loser
        # handling and report success.
        if timeline.is_completed(instant, COMMIT):
            timeline.delete_pending_instant_files(instant, COMPACTION)
            return instant
        # a pending COMMIT we did NOT create is a rival mid-swap
        # (code-review r7): deleting the shared data dir or its pending
        # file here would turn the rival's imminent completion into a
        # commit referencing deleted data — back off untouched
        if not created_commit and any(
            i.timestamp == instant and i.action == COMMIT
            for i in timeline.pending()
        ):
            raise
        table.fs.delete(table.instant_data_path(instant), recursive=True)
        timeline.delete_pending_instant_files(instant, COMMIT)
        raise
    return instant


# --------------------------------------------------------------------------
# Compaction admin (client/client/CompactionAdminClient.java:64-217)
#
# The reference's admin client exists because its MOR log files embed
# the compaction instant as their base-instant: unscheduling a plan
# there means RENAMING every later log file back to the prior base
# instant (getRenamingActionsForUnschedulingCompactionPlan), and
# repair means re-executing half-done renames. Our deltas are plain
# parquet files attached to file groups by the MANIFEST, so
# unscheduling is a pure timeline operation and the rename/repair
# machinery has no analogue — repair reduces to clearing a crashed
# execution's partial output.
# --------------------------------------------------------------------------


def pending_compaction_groups(table) -> set[tuple[str, str]]:
    """(partition, file_id) pairs named by any scheduled-but-incomplete
    compaction plan — the set clustering scheduling must skip
    (reference: SparkClusteringPlanStrategy filters
    fileIdsInPendingCompaction the same way)."""
    out: set[tuple[str, str]] = set()
    for inst in table.timeline.pending():
        if inst.action != COMPACTION:
            continue
        # read_requested_metadata, not _pending_compaction_plan: the
        # pending() listing above already proved the plan file exists
        # (re-listing instants() per plan is O(N) extra listings —
        # code-review r8); {} only for the benign completed-since-
        # listing race, unreadable-but-present raises
        plan = table.timeline.read_requested_metadata(
            inst.timestamp, COMPACTION
        )
        for d in plan.get("slices", []):
            out.add((d["partition"], d["file_id"]))
    return out


def _pending_compaction_plan(table, instant: str) -> dict | None:
    """The pinned plan, or None when NO requested file exists. A plan
    file that exists but cannot be READ raises as-is: swallowing a
    transient read error into ``{}`` would make validate return a
    vacuous all-clear and unschedule-file-id report "not in plan"
    (code-review r7 part 3)."""
    tl = table.timeline
    if any(
        i.timestamp == instant and i.action == COMPACTION and i.state == REQUESTED
        for i in tl.instants()
    ):
        return tl.read_metadata(Instant(instant, COMPACTION, REQUESTED))
    return None


def _compaction_committed(table, instant: str) -> bool:
    """True when the compaction's COMMIT exists — on the ACTIVE timeline
    (any state: a pending COMMIT is a rival mid-swap) OR in the ARCHIVE.
    The archive check matters: a crash between the commit point and the
    plan-file cleanup leaves the plan pending forever (the failed-write
    sweep skips COMPACTION), and once the COMMIT is archived an
    active-only check would let unschedule/repair delete
    ``data/<instant>/`` — committed base files (code-review r7 part 3)."""
    tl = table.timeline
    if any(i.timestamp == instant and i.action == COMMIT for i in tl.instants()):
        return True
    return any(
        a["timestamp"] == instant and a["action"] == COMMIT
        for a in tl.archived_instants()
    )


def _guard_compaction_admin(table, instant: str) -> None:
    """Refuse admin mutations when the plan is not safely pending:
    already committed (completed, mid-swap, or archived), or an
    execution may be live — a fresh heartbeat in OCC mode, or ANY
    inflight marker in single-writer mode (without heartbeats there is
    no way to tell a live async compactor from a crashed one; the
    crashed-run cleanup path is ``compact(instant)`` itself, whose
    retry converges)."""
    if _compaction_committed(table, instant):
        raise ValueError(
            f"compaction {instant} has a COMMIT on the timeline — "
            "already executed (or mid-completion); admin ops refused"
        )
    if is_occ(table.cfg):
        if heartbeat_live(table, instant):
            raise ValueError(
                f"compaction {instant} is being executed by a live writer "
                "(fresh heartbeat) — admin ops refused"
            )
    elif any(
        i.timestamp == instant and i.action == COMPACTION and i.state == INFLIGHT
        for i in table.timeline.instants()
    ):
        raise ValueError(
            f"compaction {instant} has an inflight marker and single-writer "
            "mode has no heartbeat to prove the executor dead — if it "
            "crashed, retry compact(instant) instead (its recovery "
            "converges); admin ops refused"
        )


def validate_compaction(table, instant: str) -> list[dict]:
    """``validateCompactionPlan``: every planned slice must still
    resolve in the file-system view with its base file present on
    storage. Returns one dict per planned slice:
    ``{partition, file_id, valid, error}``."""
    plan = _pending_compaction_plan(table, instant)
    if plan is None:
        raise ValueError(f"no pending compaction plan at {instant}")
    view = table.view()
    slices = {
        (s.partition, s.file_id): s
        for s in view.latest_file_slices()
    }
    out = []
    for d in plan.get("slices", []):
        key = (d["partition"], d["file_id"])
        err = None
        s = slices.get(key)
        if s is None:
            err = "file group no longer resolves in the latest view"
        else:
            missing = [
                p for p in s.base.paths if not table.fs.exists(table.abs_path(p))
            ]
            if missing:
                err = f"base file(s) missing on storage: {missing}"
        out.append(
            {
                "partition": key[0],
                "file_id": key[1],
                "valid": err is None,
                "error": err,
            }
        )
    return out


def unschedule_compaction(table, instant: str) -> bool:
    """``unscheduleCompactionPlan``: drop a pending plan. Metadata-only
    here (no log renames — see the section comment); leftover partial
    output of a crashed execution is cleared with it. Runs under the
    table lock in OCC mode so it cannot race a compactor's claim."""
    with table_lock(table, f"unschedule-{instant}"):
        if _pending_compaction_plan(table, instant) is None:
            return False
        _guard_compaction_admin(table, instant)
        # data dir BEFORE plan files: a crash between the two leaves a
        # still-pending, still-unschedulable plan (self-healing); the
        # reverse order would orphan data/<instant>/ forever — nothing
        # sweeps it once the plan is gone (code-review r7 part 3)
        table.fs.delete(table.instant_data_path(instant), recursive=True)
        table.timeline.delete_pending_instant_files(instant, COMPACTION)
    return True


def unschedule_compaction_file_id(
    table, instant: str, partition: str, file_id: str
) -> bool:
    """``unscheduleCompactionFileId``: remove ONE file group from a
    pending plan (plan rewritten in place; dropping the last slice
    drops the plan)."""
    with table_lock(table, f"unschedule-fid-{instant}"):
        plan = _pending_compaction_plan(table, instant)
        if plan is None:
            raise ValueError(f"no pending compaction plan at {instant}")
        _guard_compaction_admin(table, instant)
        before = plan.get("slices", [])
        after = [
            d for d in before
            if not (d["partition"] == partition and d["file_id"] == file_id)
        ]
        if len(after) == len(before):
            return False
        if not after:
            # same order rationale as unschedule_compaction: data dir
            # first, plan last (crash leaves a retryable plan, never an
            # orphaned data dir)
            table.fs.delete(table.instant_data_path(instant), recursive=True)
            table.timeline.delete_pending_instant_files(instant, COMPACTION)
            return True
        import json as _json

        plan["slices"] = after
        table.fs.write_text_atomic(
            f"{table.timeline.dir}/"
            f"{Instant(instant, COMPACTION, REQUESTED).filename()}",
            _json.dumps(plan),
            overwrite=True,
        )
    return True


def repair_compaction(table, instant: str) -> dict:
    """``repairCompaction``: with manifest-attached deltas there are no
    half-done log renames to redo — the repairable states are (a) a
    COMMITTED compaction whose crash left its plan files behind
    (finish the cleanup, exactly ``run_compaction``'s own recovery) and
    (b) a crashed execution's partial ``data/<instant>/`` output, which
    would fail the retry's ``mode('error')`` writer. Everything —
    including the validation report — runs under the admin lock so the
    report describes the state the repair acted on
    (code-review r7 part 3)."""
    with table_lock(table, f"repair-{instant}"):
        if _compaction_committed(table, instant) and _pending_compaction_plan(
            table, instant
        ) is not None:
            # the one crash window run_compaction's own entry guard
            # fixes: COMMIT durable, plan files leftover — finish the
            # cleanup instead of refusing (data dir holds COMMITTED
            # files: never touch it here)
            table.timeline.delete_pending_instant_files(instant, COMPACTION)
            return {
                "instant": instant,
                "finished_committed_cleanup": True,
                "cleared_partial_output": False,
                "validation": [],
            }
        report = validate_compaction(table, instant)
        _guard_compaction_admin(table, instant)
        leftover = table.instant_data_path(instant)
        cleared = False
        if table.fs.exists(leftover):
            table.fs.delete(leftover, recursive=True)
            cleared = True
    return {"instant": instant, "finished_committed_cleanup": False,
            "cleared_partial_output": cleared, "validation": report}


# --------------------------------------------------------------------------
# Service lifecycle: plan → step → complete once → replay
# --------------------------------------------------------------------------


def run_service(table, action: str, plan: dict) -> str:
    """Pin ``plan`` in a fresh ``<action>.requested`` instant, then
    execute it (``finish_service``). Returns the instant."""
    from ..timeline import claim_new_instant

    instant = claim_new_instant(table, action, plan)
    finish_service(table, action, instant)
    return instant


def finish_service(table, action: str, instant: str, replay: bool = False) -> None:
    """Execute the plan pinned at ``instant`` — or, with ``replay``,
    re-execute a pending plan a crash left behind. Every step tolerates
    already-done work, so a replay converges.

    The plan read is STRICT: completing with an empty record because the
    plan was transiently unreadable would permanently lose the work a
    crashed attempt already did (diff-review r6). Completion happens
    once: a replay that finds the instant completed returns, and a
    create-once completion lost to a rival replaying the same plan is
    success (same content — both derive from the pinned plan)."""
    tl = table.timeline
    if replay and tl.is_completed(instant, action):
        return
    plan = tl.read_metadata(Instant(instant, action, REQUESTED))
    md = _service_step(action)(table, plan, replay)
    if md is None:
        tl.delete_pending_instant_files(instant, action)
        return
    try:
        tl.transition_to_completed(instant, action, md)
    except Exception:
        if not tl.is_completed(instant, action):
            raise
        return  # the rival that completed it retires the claim
    tl.release_claim(instant)


def _service_step(action: str):
    """``step(table, plan, replay)`` for ``action``, resolved at call
    time: it does the plan's work and returns the completed metadata, or
    None when there is nothing to finish."""
    return {
        CLEAN: _clean_step,
        ROLLBACK: _rollback_step,
        RESTORE: _restore_step,
        SAVEPOINT: _savepoint_step,
    }[action]


def replay_pending_services(table, actions: tuple[str, ...]) -> None:
    """Finish every pending plan of ``actions`` from its pinned plan
    (crash-matrix r6): its work may be half-done, and discarding the plan
    would strand a partially applied service. Eager in single-writer
    mode; under OCC only a stale plan (``_plan_stale``) is replayed —
    a young one may be a live rival's, whose window between plan and
    completion is milliseconds."""
    occ = is_occ(table.cfg)
    for inst in table.timeline.pending():
        if inst.action not in actions:
            continue
        if occ and not _plan_stale(table, inst.timestamp, inst.action):
            if inst.action == RESTORE:
                # restore is EXCLUSIVE: writing against a mid-unwind
                # timeline would build commits on rows the replay is
                # about to delete (diff-review r6). Block until the
                # restorer finishes or its plan goes stale and is
                # replayed here.
                raise RuntimeError(
                    f"a restore ({inst.timestamp}) is in progress on "
                    "this table; writes are blocked until it "
                    "completes or its stale plan is replayed"
                )
            continue
        finish_service(table, inst.action, inst.timestamp, replay=True)


def _plan_stale(table, instant: str, action: str) -> bool:
    """A pending service plan is replay-safe once its requested file is
    older than the heartbeat-expiry window — its owner would have
    completed it by then. Unknown mtime counts as NOT stale (replay is
    destructive). The one replay rule of every service action."""
    from ..concurrency import heartbeat_expiry_seconds

    path = f"{table.timeline.dir}/{Instant(instant, action, REQUESTED).filename()}"
    expiry = heartbeat_expiry_seconds(table.cfg)
    try:
        return (time.time() - table.fs.mtime(path)) > expiry
    except Exception:
        return False


# --------------------------------------------------------------------------
# Cleaning (client/table/action/clean/CleanPlanner.java:207-390)
# --------------------------------------------------------------------------


def clean(table) -> str | None:
    """Physically delete file versions no longer needed.

    KEEP_LATEST_COMMITS (default, retain 10): keep every base file
    version at/after the earliest retained commit plus the one version
    just before it (to serve as-of reads back to that commit), plus
    anything a savepoint pins. KEEP_LATEST_FILE_VERSIONS: keep the
    newest K versions per file group.

    Crash safety (crash-matrix r6, reference ``HoodieCleanClient.
    runPendingClean``): the deletable list is pinned in a
    ``clean.requested`` PLAN before any file is touched, and any pending
    clean found at entry is re-executed from its plan first — file
    deletions are therefore always recorded, never inferred, and a
    crashed clean finishes instead of leaving unrecorded deletions."""
    from ..metrics import table_metrics

    _t0 = time.time()
    cfg = table.cfg
    replay_pending_services(table, (CLEAN,))
    view = table.view()
    commits = [ts for ts, _, _ in view.commits]
    if not commits:
        return None
    savepoints = table.savepoint_instants()
    keep_paths: set[str] = set()
    deletable: list[str] = []

    if cfg.cleaner_policy == "KEEP_LATEST_FILE_VERSIONS":
        k = max(1, cfg.cleaner_file_versions_retained)
        for fg in view.groups.values():
            for b in fg.bases[-k:]:
                keep_paths.update(b.paths)
            for l in fg.logs:  # logs attached to kept bases
                if fg.bases[-k:] and l.instant > fg.bases[-k:][0].instant:
                    keep_paths.update(l.paths)
            # savepoints pin their as-of slice under every policy
            # (CleanPlanner honors savepointed files in both modes)
            for sp in savepoints:
                sl = fg.slice_as_of(sp)
                if sl is not None:
                    keep_paths.update(sl.base.paths)
                    for l in sl.logs:
                        keep_paths.update(l.paths)
    else:
        if len(commits) <= cfg.cleaner_commits_retained:
            return None
        earliest_retained = commits[-cfg.cleaner_commits_retained]
        pins = [None, earliest_retained] + list(savepoints)
        for fg in view.groups.values():
            needed_bases = set()
            for b in fg.bases:
                if b.instant >= earliest_retained and (
                    fg.replaced_at is None or fg.replaced_at > earliest_retained
                ):
                    needed_bases.add(b.instant)
            for pin in pins:
                sl = fg.slice_as_of(pin)
                if sl is not None:
                    needed_bases.add(sl.base.instant)
            for b in fg.bases:
                if b.instant in needed_bases:
                    keep_paths.update(b.paths)
            # logs: keep anything in a pinned slice, plus (conservatively)
            # every delta newer than the retention horizon
            for pin in pins:
                sl = fg.slice_as_of(pin)
                if sl is not None:
                    for l in sl.logs:
                        keep_paths.update(l.paths)
            for l in fg.logs:
                if l.instant >= earliest_retained:
                    keep_paths.update(l.paths)

    for p in view.all_referenced_paths():
        if p not in keep_paths:
            deletable.append(p)
    if not deletable:
        return None
    # METADATA_ONLY-bootstrapped files belong to the user's source
    # dataset: drop them from the view (recorded as deleted) but never
    # remove them from disk
    external = view.raw_paths()
    physical = sorted(p for p in deletable if p not in external)
    instant = run_service(
        table,
        CLEAN,
        {
            "deletable": sorted(deletable),
            "physical": physical,
            "policy": cfg.cleaner_policy,
        },
    )
    from .bloom import enabled as _bloom_on, gc_sidecars

    if _bloom_on(cfg):
        # bloom sidecars of instants whose base files the clean just
        # removed are dead weight — collect them against a FRESH view
        # (unbounded growth otherwise; pruning never reads an instant a
        # live base doesn't reference, so this is pure space GC)
        gc_sidecars(table, table.view())
    table_metrics(table).update_service_metrics(
        CLEAN, time.time() - _t0, len(physical)
    )
    return instant


def _clean_step(table, plan: dict, replay: bool) -> dict:
    """Delete the planned physical paths (missing files are fine — a
    crashed attempt may have removed some already) and record exactly
    the planned list.

    ``replay`` RE-VALIDATES the stale plan against savepoints created
    AFTER the plan was pinned (advice r6 #3, like the rollback step's
    replay re-check): paths a current savepoint pins are dropped from
    both the physical-delete list and the recorded ``deleted`` list, so
    a savepoint taken while a crashed clean sat pending keeps its
    files."""
    if replay:
        sps = table.savepoint_instants()
        pinned: set[str] = set()
        if sps:
            view = table.view()
            for fg in view.groups.values():
                for sp in sps:
                    sl = fg.slice_as_of(sp)
                    if sl is not None:
                        pinned.update(sl.base.paths)
                        for l in sl.logs:
                            pinned.update(l.paths)
        if pinned:
            # only paths STILL ON DISK can be preserved; a pinned path
            # the crashed attempt already deleted must stay in the
            # recorded ``deletable`` list or the view keeps serving the
            # vanished version (code-review r7 — "deletions are always
            # recorded" outranks the savepoint's lost cause)
            pinned_live = {
                p for p in pinned if table.fs.exists(table.abs_path(p))
            }
            if pinned_live:
                plan["physical"] = [
                    p for p in plan.get("physical", []) if p not in pinned_live
                ]
                plan["deletable"] = [
                    p for p in plan.get("deletable", []) if p not in pinned_live
                ]
    for p in plan.get("physical", []):
        table.fs.delete(table.abs_path(p))
    return {
        "deleted": sorted(plan.get("deletable", [])),
        "policy": plan.get("policy", table.cfg.cleaner_policy),
    }


# --------------------------------------------------------------------------
# Rollback / savepoint / restore
# --------------------------------------------------------------------------


def rollback_instant(table, timestamp: str) -> str:
    """Undo one write instant: all its files live under
    ``data/<instant>/`` so removal is one recursive delete — the marker
    directory of the reference's marker-based rollback
    (``client/table/marker/WriteMarkers.java``) is our layout itself.
    Only the latest completed write (or a pending one) may be rolled
    back, like the reference's sequential-rollback constraint. The
    target is pinned in a ``rollback.requested`` plan before anything is
    deleted, so a crash mid-unwind leaves a plan the write-start sweep
    replays to completion (crash-matrix r6)."""
    completed = table.timeline.completed_write_instants()
    target = [i for i in completed if i.timestamp == timestamp]
    if target and completed[-1].timestamp != timestamp:
        raise ValueError(f"can only rollback the latest commit, {timestamp} is not last")
    action = target[0].action if target else None
    if action is None:
        for i in table.timeline.pending():
            if i.timestamp == timestamp:
                action = i.action
        if action is None:
            raise ValueError(f"no such instant {timestamp}")
    from ..metrics import metrics_enabled, table_metrics

    _t0 = time.time()
    # the recursive listing exists ONLY to feed the gauge — never pay
    # it on the (metrics-off) failure-recovery path (code-review r7)
    n_files = (
        len(table.fs.list_files_recursive(table.instant_data_path(timestamp)))
        if metrics_enabled(table)
        else 0
    )
    inst = run_service(table, ROLLBACK, {"rolled_back": timestamp, "action": action})
    table_metrics(table).update_service_metrics(ROLLBACK, time.time() - _t0, n_files)
    return inst


def _unwind(table, targets) -> None:
    """Undo write instants in the given order: timeline files first (from
    then on no reader references the data), then the data dir, then the
    key-index delta, so no crash point leaves a completed commit
    referencing deleted data. Every step tolerates already-deleted
    targets."""
    from .key_index import drop_instant

    for ts, action in targets:
        table.timeline.delete_instant_files(ts, action)
        table.fs.delete(table.instant_data_path(ts), recursive=True)
        drop_instant(table, ts)


def _rollback_step(table, plan: dict, replay: bool) -> dict | None:
    """A rollback is a restore of one target.

    ``replay`` (the write-start sweep) RE-VALIDATES the stale plan
    against the CURRENT timeline before touching anything (diff-review
    r6): if the target commit still exists (its completed file is
    deleted first, so 'still exists' = nothing irreversible happened
    yet) but is no longer the latest write — or has been savepointed —
    the world moved on while the plan sat pending; executing it now
    would delete a commit newer state was built on, so the plan is
    dropped instead. A target already gone from the timeline means the
    unwind passed its point of no return — it is finished."""
    if "rolled_back" not in plan:
        # legacy pre-plan marker ({} requested from the old protocol,
        # which deleted everything BEFORE creating it) — nothing to finish
        return None
    ts = plan["rolled_back"]
    if replay:
        completed = table.timeline.completed_write_instants()
        if any(i.timestamp == ts for i in completed) and (
            completed[-1].timestamp != ts
            or ts in set(table.savepoint_instants())
        ):
            return None
    _unwind(table, [(ts, plan["action"])])
    return plan


def rollback_pending_writes(table) -> list[str]:
    """Failed-write cleanup at write start. Single-writer mode is the
    reference's EAGER policy (any pending write instant at write start
    IS failed — there are no rivals). OCC mode is the reference's LAZY
    policy: the reference REJECTS eager cleaning with multi-writer
    because this sweep would delete a LIVE rival's in-flight data
    (``HoodieWriteConfig`` validation; caught here by the r5 3-writer
    soak — a rival's sweep removed another writer's ``_temporary`` dir
    mid-write), so pending instants with a live heartbeat are skipped
    and only heartbeat-expired (crashed) writers are swept. Scheduled
    clustering plans are pending replacecommits too but are NOT failed
    writes — the reference skips them the same way (``ClusteringUtils``
    identifies clustering instants by the plan in the requested file).
    Under OCC the sweep holds the table lock; a busy lock skips this
    round (housekeeping)."""
    try:
        with table_lock(table, f"failed-write-sweep-{uuid.uuid4().hex}"):
            return _sweep_failed_writes(table, is_occ(table.cfg))
    except LockBusyError:
        return []


def _sweep_failed_writes(table, occ: bool) -> list[str]:
    rolled = []
    # listed INSIDE the critical section in OCC mode: a rival's
    # transition-to-completed holds the same table lock, so an
    # instant listed as pending here cannot concurrently commit
    # while we sweep it (a commit-then-hb.stop between a stale
    # listing and the delete would otherwise look like a crash and
    # erase COMMITTED data — diff-review r5)
    for inst in table.timeline.pending():
        if inst.action not in WRITE_ACTIONS:
            continue
        if (
            inst.action == REPLACE_COMMIT
            and table.timeline.read_requested_metadata(
                inst.timestamp, inst.action
            ).get("operation")
            == "cluster"
        ):
            continue
        if occ and heartbeat_live(table, inst.timestamp):
            continue  # a live rival is still writing this instant
        table.fs.delete(table.instant_data_path(inst.timestamp), recursive=True)
        # pending states ONLY — even a wrong staleness judgement must
        # never erase a completed instant
        table.timeline.delete_pending_instant_files(inst.timestamp, inst.action)
        # the crashed writer's timestamp claim dies with its instant
        # (owner confirmed dead: heartbeat expired / single-writer)
        table.timeline.release_claim(inst.timestamp)
        table.fs.delete(f"{table.meta_path}/heartbeat/{inst.timestamp}")
        from .key_index import drop_instant as _ki_drop

        # never completed -> never folded into an index base
        _ki_drop(table, inst.timestamp, folded_possible=False)
        rolled.append(inst.timestamp)
    # crashed SERVICE plans (crash-matrix r6): a pending ROLLBACK or
    # RESTORE carries a pinned unwind plan and is REPLAYED to completion
    # (its deletions may be half-done); a pending SAVEPOINT did no
    # destructive work, so its replay just drops the marker. A young
    # pending RESTORE under OCC blocks the write. NEVER a pending CLEAN
    # — clean() itself replays those.
    replay_pending_services(table, (ROLLBACK, RESTORE, SAVEPOINT))
    # orphan heartbeats (writer died between heartbeat start and
    # create_requested, or crashed after commit before stop): no
    # pending instant will ever sweep them, so collect any EXPIRED
    # heartbeat whose instant is no longer pending
    from ..concurrency import heartbeat_expiry_seconds

    expiry = heartbeat_expiry_seconds(table.cfg)
    # ONE pending() listing shared by the orphan-heartbeat and
    # orphan-claim sweeps below (both run after the destructive
    # loops above, so the listing is current — code-review r7)
    still_pending = {i.timestamp for i in table.timeline.pending()}
    if occ:
        hb_dir = f"{table.meta_path}/heartbeat"
        for name in table.fs.list_names(hb_dir):
            if name in still_pending:
                continue
            try:
                stale = (
                    time.time() - table.fs.mtime(f"{hb_dir}/{name}")
                ) > expiry
            except Exception:
                stale = False
            if stale:
                table.fs.delete(f"{hb_dir}/{name}")
    # orphan instant-claims (timeline.claim_timestamp): a crash
    # between the claim and create_requested, or between the
    # completed-file write and the claim retirement, strands a
    # <ts>.claim that nothing else ever collects — the timeline
    # listing would grow O(crashes) for the table's lifetime.
    # Eager in single-writer mode (any claim without an owning
    # pending instant at write start is garbage, like the pending
    # instants themselves); under OCC a completed instant at the
    # timestamp means the retirement crashed (safe to collect: the
    # owner retires its claim right after completion), otherwise the
    # owner may be INSIDE the milliseconds-wide claim→create_requested window
    # — collect only when the claim has aged past heartbeat expiry
    # AND no live heartbeat guards the timestamp.
    completed_ts = (
        {
            i.timestamp
            for i in table.timeline.instants()
            if i.state == COMPLETED
        }
        if occ
        else set()  # only consulted under OCC (code-review r7)
    )
    for name in table.fs.list_names(table.timeline.dir):
        if not name.endswith(".claim"):
            continue
        ts = name[: -len(".claim")]
        if ts in still_pending:
            continue  # instant files own the claim's lifecycle
        path = f"{table.timeline.dir}/{name}"
        if occ and ts not in completed_ts:
            try:
                young = (time.time() - table.fs.mtime(path)) <= expiry
            except Exception:
                young = True  # confirm-absent rule, like heartbeats
            if young or heartbeat_live(table, ts):
                continue
        table.fs.delete(path)
    return rolled


def savepoint(table, timestamp: str | None = None) -> str:
    """Pin a commit against cleaning
    (``client/table/action/savepoint/SavepointActionExecutor.java``)."""
    completed = table.timeline.completed_write_instants()
    if not completed:
        raise ValueError("nothing to savepoint")
    timestamp = timestamp or completed[-1].timestamp
    if timestamp not in {i.timestamp for i in completed}:
        raise ValueError(f"no completed write instant {timestamp}")
    return run_service(table, SAVEPOINT, {"savepoint_at": timestamp})


def _savepoint_step(table, plan: dict, replay: bool) -> dict | None:
    """A savepoint does no destructive work before completing, so a
    replayed (stranded) one is simply dropped."""
    return None if replay else plan


def restore(table, savepoint_ts: str) -> str:
    """Restore to a savepoint = rollback chain of everything newer
    (``AbstractHoodieWriteClient.java:535-592``). PLAN-FIRST like
    rollback: the unwind list is pinned in a restore.requested plan
    before anything is deleted, each target unwinds timeline-files-first
    (newest first), and a crashed restore is replayed from its plan by
    the failed-write sweep (crash-matrix r6)."""
    if savepoint_ts not in table.savepoint_instants():
        raise ValueError(f"no savepoint at {savepoint_ts}")
    targets = [
        [i.timestamp, i.action]
        for i in reversed(table.timeline.completed_write_instants())
        if i.timestamp > savepoint_ts
    ]
    return run_service(
        table, RESTORE, {"restored_to": savepoint_ts, "targets": targets}
    )


def _restore_step(table, plan: dict, replay: bool) -> dict | None:
    """The pinned target list stays authoritative at replay because
    writers are BLOCKED while a pending restore exists (the write-start
    sweep either replays it or raises), so no commit can land between
    the plan and its execution."""
    if "restored_to" not in plan:
        # legacy pre-plan marker — the old protocol finished its work
        # before creating it
        return None
    _unwind(table, plan.get("targets", []))
    return plan
