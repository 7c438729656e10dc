"""Pinned tests for the r6 ADVICE multi-writer race fixes.

1. run_compaction's abort path never erases a rival's COMPLETED commit
   or the shared data dir (advice r6 #1).
2. run_compaction refuses to execute a pending plan guarded by a live
   rival heartbeat in OCC mode (advice r6 #2).
3. Pending-clean replay re-validates against savepoints created after
   the plan was pinned (advice r6 #3).
4. guarded_commit's post-write undo raises CommitUndoneError and the
   write abort path passes folded_possible=True to drop_instant
   (advice r6 #4).
5. run_cluster shares compaction's execution fence, and a losing
   clustering executor's abort keeps the rival's completed
   replacecommit and the shared data dir.
6. A service plan replayed after a rival completed it completes once.

Reference analogue: ``TestHoodieClientMultiWriter.java`` rival-service
interleavings.
"""

from __future__ import annotations


import pytest

import hudi_0_10_0_spark.operators.key_index as key_index_mod
import hudi_0_10_0_spark.operators.write as write_mod
from hudi_0_10_0_spark import HudiTable, WriteConfig
from hudi_0_10_0_spark.concurrency import CommitUndoneError
from hudi_0_10_0_spark.config import TableType
from hudi_0_10_0_spark.timeline import COMMIT, REPLACE_COMMIT, Instant


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, part string, v long")


SEED = [(i, f"p{i % 2}", i) for i in range(60)]
UPD = [(i, f"p{i % 2}", i + 1000) for i in range(0, 60, 5)]


def _mor_cfg(**kw):
    base = dict(
        record_key_field="id",
        partition_field="part",
        precombine_field="v",
        table_type=TableType.MERGE_ON_READ,
        inline_compact=False,
        auto_clean=False,
        auto_archive=False,
    )
    base.update(kw)
    return WriteConfig(**base)


# the two slow tests run in the soak profile (HUDI_FULL_SUITE=1, see
# tests/conftest.py); the rest run in the default profile
@pytest.mark.soak
def test_compaction_abort_preserves_rival_completed_commit(spark, tmp_table_path):
    """Writer A loses the create-once COMMIT race to rival B mid-swap:
    A's abort must keep B's completed commit and the shared data dir,
    and report the instant as done (loser-success, advice r6 #1)."""
    t = HudiTable.create(spark, tmp_table_path, _mor_cfg())
    t.bulk_insert(_df(spark, SEED))
    t.upsert(_df(spark, UPD))
    ts = t.schedule_compaction()
    assert ts is not None

    a = HudiTable.load(spark, tmp_table_path)
    b = HudiTable.load(spark, tmp_table_path)
    orig = a.timeline.create_requested
    fired = []

    def hijack(timestamp, action, metadata=None):
        if action == COMMIT and timestamp == ts and not fired:
            fired.append(True)
            b.compact(ts)  # rival wins the swap first
        return orig(timestamp, action, metadata)

    a.timeline.create_requested = hijack
    res = a.compact(ts)
    assert res == ts and fired

    h = HudiTable.load(spark, tmp_table_path)
    done = f"{h.timeline.dir}/{Instant(ts, COMMIT, 'completed').filename()}"
    assert h.fs.exists(done), "rival's completed commit was erased"
    assert h.fs.exists(h.instant_data_path(ts)), "shared data dir was erased"
    rows = sorted(tuple(r) for r in h.snapshot().select("id", "part", "v").collect())
    exp = {i: i for i in range(60)}
    exp.update({i: i + 1000 for i in range(0, 60, 5)})
    assert rows == sorted((i, f"p{i % 2}", v) for i, v in exp.items())
    # the losing compactor cleared its leftover plan files
    assert not any(
        i.timestamp == ts and i.action == "compaction" for i in h.timeline.pending()
    )


def test_compaction_refuses_live_rival_heartbeat(spark, tmp_table_path):
    """OCC mode: a pending plan guarded by a fresh heartbeat is a live
    rival mid-execution — run_compaction must refuse, then proceed once
    the heartbeat ages out (advice r6 #2)."""
    t = HudiTable.create(
        spark,
        tmp_table_path,
        _mor_cfg(
            concurrency_mode="OPTIMISTIC_CONCURRENCY_CONTROL",
            lock_wait_seconds=30.0,
        ),
    )
    t.bulk_insert(_df(spark, SEED))
    t.upsert(_df(spark, UPD))
    ts = t.schedule_compaction()
    hb = f"{t.meta_path}/heartbeat/{ts}"
    t.fs.mkdirs(f"{t.meta_path}/heartbeat")
    t.fs.write_text(hb, "")  # fresh → live rival

    with pytest.raises(ValueError, match="live"):
        t.compact(ts)
    # plan untouched, retryable
    assert any(
        i.timestamp == ts and i.action == "compaction" and i.state == "requested"
        for i in t.timeline.pending()
    )
    t.fs.delete(hb)  # owner gone
    assert t.compact(ts) == ts


def test_clean_replay_respects_new_savepoint(spark, tmp_table_path):
    """A savepoint taken while a crashed clean sat pending keeps its
    files: the replay drops savepoint-pinned paths from the plan
    (advice r6 #3)."""
    import hudi_0_10_0_spark.operators.services as services

    cfg = WriteConfig(
        record_key_field="id",
        partition_field="part",
        precombine_field="v",
        cleaner_policy="KEEP_LATEST_FILE_VERSIONS",
        cleaner_file_versions_retained=1,
        auto_clean=False,
        auto_archive=False,
    )
    t = HudiTable.create(spark, tmp_table_path, cfg)
    t.bulk_insert(_df(spark, SEED))
    c1 = t.timeline.completed_write_instants()[-1].timestamp
    t.upsert(_df(spark, UPD))
    t.upsert(_df(spark, [(i, f"p{i % 2}", i + 2000) for i in range(0, 60, 7)]))
    pre_c1 = sorted(
        tuple(r) for r in t.time_travel(c1).select("id", "part", "v").collect()
    )

    orig = services._clean_step

    def crash(table, plan, replay=False):
        raise RuntimeError("simulated crash after plan pinned")

    services._clean_step = crash
    try:
        with pytest.raises(RuntimeError):
            t.clean()
    finally:
        services._clean_step = orig
    pending = [i for i in t.timeline.pending() if i.action == "clean"]
    assert pending, "clean plan was not pinned before execution"

    h = HudiTable.load(spark, tmp_table_path)
    h.savepoint(c1)  # pins files the pending plan wants to delete
    h.clean()  # replays the pinned plan, then plans fresh
    # no pending clean left
    assert not [i for i in h.timeline.pending() if i.action == "clean"]
    # the savepointed slice still reads
    h2 = HudiTable.load(spark, tmp_table_path)
    post_c1 = sorted(
        tuple(r) for r in h2.time_travel(c1).select("id", "part", "v").collect()
    )
    assert post_c1 == pre_c1, "savepointed files were deleted by the replayed plan"


@pytest.mark.soak
def test_commit_undone_error_wires_folded_possible(spark, tmp_table_path):
    """The write abort path must call drop_instant(folded_possible=True)
    iff the failure was guarded_commit's post-write undo — the instant
    was momentarily COMPLETED then (advice r6 #4)."""
    cfg = WriteConfig(
        record_key_field="id",
        partition_field="part",
        precombine_field="v",
        index_type="RECORD_INDEX",
        key_index_buckets=2,
        auto_clean=False,
        auto_archive=False,
    )
    t = HudiTable.create(spark, tmp_table_path, cfg)
    t.bulk_insert(_df(spark, SEED))

    seen = {}
    orig_drop = key_index_mod.drop_instant

    def spy_drop(table, instant, folded_possible=True):
        seen["folded_possible"] = folded_possible
        return orig_drop(table, instant, folded_possible=folded_possible)

    orig_commit = write_mod.guarded_commit

    def undone(table, instant, action, metadata, txn_start=None):
        raise CommitUndoneError("simulated post-write undo")

    def plain_fail(table, instant, action, metadata, txn_start=None):
        raise RuntimeError("simulated plain commit failure")

    key_index_mod.drop_instant = spy_drop
    write_mod.guarded_commit = undone
    try:
        with pytest.raises(CommitUndoneError):
            t.upsert(_df(spark, UPD))
        assert seen.get("folded_possible") is True
        seen.clear()
        write_mod.guarded_commit = plain_fail
        with pytest.raises(RuntimeError):
            t.upsert(_df(spark, UPD))
        assert seen.get("folded_possible") is False
    finally:
        key_index_mod.drop_instant = orig_drop
        write_mod.guarded_commit = orig_commit
    # table still healthy after both aborts
    assert t.snapshot().count() == len(SEED)


def test_compaction_abort_backs_off_from_rival_pending_commit(
    spark, tmp_table_path
):
    """Code-review r7: completed-commit absence is NOT proof there is no
    rival — a pending COMMIT we did not create means a rival is mid-swap,
    and the abort path must leave the shared data dir and the rival's
    pending file untouched."""
    t = HudiTable.create(spark, tmp_table_path, _mor_cfg())
    t.bulk_insert(_df(spark, SEED))
    t.upsert(_df(spark, UPD))
    ts = t.schedule_compaction()
    # rival mid-swap: its COMMIT.requested is on the timeline
    t.timeline.create_requested(ts, COMMIT, {"operation": "compact"})
    rival_req = f"{t.timeline.dir}/{Instant(ts, COMMIT, 'requested').filename()}"
    assert t.fs.exists(rival_req)

    a = HudiTable.load(spark, tmp_table_path)
    with pytest.raises(IOError):
        a.compact(ts)  # create-once COMMIT fails against the rival's file
    h = HudiTable.load(spark, tmp_table_path)
    assert h.fs.exists(rival_req), "rival's pending COMMIT was deleted"
    assert h.fs.exists(h.instant_data_path(ts)), (
        "shared data dir was deleted while a rival was mid-swap"
    )


def test_clean_replay_records_pinned_paths_already_deleted(
    spark, tmp_table_path
):
    """Code-review r7: a savepoint cannot resurrect a file the crashed
    clean already removed — such paths must STAY in the recorded
    ``deleted`` list so the view stops serving the vanished version."""
    import hudi_0_10_0_spark.operators.services as services

    cfg = WriteConfig(
        record_key_field="id",
        partition_field="part",
        precombine_field="v",
        cleaner_policy="KEEP_LATEST_FILE_VERSIONS",
        cleaner_file_versions_retained=1,
        auto_clean=False,
        auto_archive=False,
    )
    t = HudiTable.create(spark, tmp_table_path, cfg)
    t.bulk_insert(_df(spark, SEED))
    c1 = t.timeline.completed_write_instants()[-1].timestamp
    t.upsert(_df(spark, UPD))
    t.upsert(_df(spark, [(i, f"p{i % 2}", i + 2000) for i in range(0, 60, 7)]))

    # crash mid clean step: ONE physical delete lands, then the crash
    orig_step = services._clean_step
    deleted_one = []

    def crash_after_one(table, plan, replay=False):
        phys = plan.get("physical", [])
        assert len(phys) >= 2, "need at least two deletable files"
        table.fs.delete(table.abs_path(phys[0]))
        deleted_one.append(phys[0])
        raise RuntimeError("crash after first physical delete")

    services._clean_step = crash_after_one
    try:
        with pytest.raises(RuntimeError):
            t.clean()
    finally:
        services._clean_step = orig_step

    h = HudiTable.load(spark, tmp_table_path)
    h.savepoint(c1)  # pins slices including the just-deleted path
    h.clean()  # replay must record the gone path as deleted anyway
    h2 = HudiTable.load(spark, tmp_table_path)
    cleans = [
        i for i in h2.timeline.instants()
        if i.action == "clean" and i.state == "completed"
    ]
    recorded = set()
    for c in cleans:
        recorded.update(h2.timeline.read_metadata(c).get("deleted", []))
    assert deleted_one[0] in recorded, (
        "physically-deleted pinned path missing from the clean record"
    )
    # and the snapshot still reads (the view no longer serves the gone file)
    assert h2.snapshot().count() == len(SEED)


def test_instant_timestamp_collision_retries_and_spares_rival(
    spark, tmp_table_path
):
    """Cross-process millisecond tie (timeline.claim_new_instant): the
    losing writer must take the next timestamp and NEVER touch the
    rival's files — before r7 the loser's cleanup deleted the rival's
    instant files (up to a completed commit) and the write failed."""
    cfg = WriteConfig(
        record_key_field="id",
        partition_field="part",
        precombine_field="v",
        # OCC: the lazy sweep must SKIP the live rival (in single-writer
        # mode the eager sweep would reclaim any pending instant first
        # and no collision could occur)
        concurrency_mode="OPTIMISTIC_CONCURRENCY_CONTROL",
        lock_wait_seconds=30.0,
        auto_clean=False,
        auto_archive=False,
    )
    t = HudiTable.create(spark, tmp_table_path, cfg)
    t.bulk_insert(_df(spark, SEED))

    # rival's claimed instant (same action the upsert will use), with a
    # fresh heartbeat so the lazy sweep treats it as live
    rival_ts = t.new_instant()
    t.fs.mkdirs(f"{t.meta_path}/heartbeat")
    t.fs.write_text(f"{t.meta_path}/heartbeat/{rival_ts}", "")
    t.timeline.create_requested(rival_ts, COMMIT, {"operation": "upsert"})
    rival_req = f"{t.timeline.dir}/{Instant(rival_ts, COMMIT, 'requested').filename()}"
    assert t.fs.exists(rival_req)

    a = HudiTable.load(spark, tmp_table_path)
    orig = a.new_instant
    fired = []

    def collide():
        if not fired:
            fired.append(True)
            return rival_ts  # tie with the rival's millisecond
        return orig()

    a.new_instant = collide
    a.upsert(_df(spark, UPD))  # must succeed on the retried timestamp
    assert fired
    h = HudiTable.load(spark, tmp_table_path)
    assert h.fs.exists(rival_req), "collision loser deleted the rival's file"
    rows = sorted(tuple(r) for r in h.snapshot().select("id", "part", "v").collect())
    exp = {(i, f"p{i % 2}"): i for i in range(60)}
    for i, p, v in UPD:
        exp[(i, p)] = v
    assert rows == sorted((i, p, v) for (i, p), v in exp.items())
    # the rival's pending instant is untouched and sweepable later
    assert any(
        i.timestamp == rival_ts and i.action == COMMIT
        for i in h.timeline.pending()
    )
    # ...and its liveness guard survives the loser's claim cleanup
    assert h.fs.exists(f"{h.meta_path}/heartbeat/{rival_ts}"), (
        "collision loser deleted the rival's heartbeat"
    )


def _claims(t):
    return sorted(
        n for n in t.fs.list_names(t.timeline.dir) if n.endswith(".claim")
    )


def test_normal_write_leaves_no_claim_files(spark, tmp_table_path):
    """Completion retires the cross-action timestamp claim — a healthy
    write/clean/compact lifecycle must leave zero .claim files."""
    t = HudiTable.create(spark, tmp_table_path, _mor_cfg())
    t.bulk_insert(_df(spark, SEED))
    t.upsert(_df(spark, UPD))
    t.compact()
    t.clean()
    assert _claims(t) == []


def test_sweep_collects_orphan_claims_single_writer(spark, tmp_table_path):
    """Crash between claim_timestamp and create_requested strands a
    .claim with no instant files; in single-writer mode the eager sweep
    collects it immediately (nothing else ever would)."""
    from hudi_0_10_0_spark.timeline import claim_timestamp

    t = HudiTable.create(
        spark,
        tmp_table_path,
        WriteConfig(
            record_key_field="id",
            partition_field="part",
            precombine_field="v",
            auto_clean=False,
            auto_archive=False,
        ),
    )
    t.bulk_insert(_df(spark, SEED))
    orphan = t.new_instant()
    assert claim_timestamp(t, orphan)
    assert f"{orphan}.claim" in _claims(t)
    t.rollback_pending_writes()
    assert _claims(t) == [], "single-writer sweep left an orphan claim"


def test_sweep_collects_crashed_retirement_claim_occ(spark, tmp_table_path):
    """Crash between the completed-file write and the claim delete: the
    claim's timestamp has a COMPLETED instant, so OCC collects it with
    no age gate (completion itself would have deleted it)."""
    cfg = _mor_cfg(
        concurrency_mode="OPTIMISTIC_CONCURRENCY_CONTROL",
        lock_wait_seconds=30.0,
    )
    t = HudiTable.create(spark, tmp_table_path, cfg)
    t.bulk_insert(_df(spark, SEED))
    done = t.timeline.completed_write_instants()[-1].timestamp
    # resurrect the claim as if the retirement delete never ran
    t.fs.write_text(f"{t.timeline.dir}/{done}.claim", "")
    t.rollback_pending_writes()
    assert _claims(t) == [], "completed instant's stranded claim not collected"


def test_sweep_age_gates_instantless_claims_occ(spark, tmp_table_path):
    """A claim with NO instant files may belong to a rival inside the
    milliseconds-wide claim->create_requested window: OCC keeps it until
    it ages past heartbeat expiry, then collects it."""
    import os

    from hudi_0_10_0_spark.timeline import claim_timestamp

    cfg = _mor_cfg(
        concurrency_mode="OPTIMISTIC_CONCURRENCY_CONTROL",
        lock_wait_seconds=30.0,
        heartbeat_interval_seconds=60.0,
    )
    t = HudiTable.create(spark, tmp_table_path, cfg)
    t.bulk_insert(_df(spark, SEED))
    orphan = t.new_instant()
    assert claim_timestamp(t, orphan)
    path = f"{t.timeline.dir}/{orphan}.claim"

    t.rollback_pending_writes()
    assert t.fs.exists(path), "OCC sweep collected a YOUNG instantless claim"

    old = __import__("time").time() - 3600.0
    os.utime(path[len("file:"):] if path.startswith("file:") else path, (old, old))
    t.rollback_pending_writes()
    assert not t.fs.exists(path), "OCC sweep left an EXPIRED orphan claim"


def test_sweeping_crashed_write_removes_its_claim(spark, tmp_table_path):
    """The failed-write sweep of a heartbeat-expired pending instant
    removes the timestamp claim along with the pending files."""
    import os

    cfg = _mor_cfg(
        concurrency_mode="OPTIMISTIC_CONCURRENCY_CONTROL",
        lock_wait_seconds=30.0,
        heartbeat_interval_seconds=60.0,
    )
    t = HudiTable.create(spark, tmp_table_path, cfg)
    t.bulk_insert(_df(spark, SEED))
    from hudi_0_10_0_spark.timeline import claim_timestamp

    crashed = t.new_instant()
    assert claim_timestamp(t, crashed)
    t.timeline.create_requested(crashed, COMMIT, {"operation": "upsert"})
    t.fs.mkdirs(f"{t.meta_path}/heartbeat")
    hb = f"{t.meta_path}/heartbeat/{crashed}"
    t.fs.write_text(hb, "")
    old = __import__("time").time() - 3600.0
    for p in (hb, f"{t.timeline.dir}/{crashed}.claim"):
        lp = p[len("file:"):] if p.startswith("file:") else p
        os.utime(lp, (old, old))
    t.rollback_pending_writes()
    assert not any(
        i.timestamp == crashed for i in t.timeline.pending()
    ), "expired pending instant not swept"
    assert f"{crashed}.claim" not in _claims(t), (
        "swept instant's claim left behind"
    )


def test_claim_storage_failure_propagates_not_misreported(spark, tmp_table_path):
    """claim_timestamp returns False ONLY for a genuine rival collision
    (create_exclusive's CAS says the file exists). A broken store —
    permissions, connectivity — must propagate as the REAL error, not
    burn five retries and surface as 'timestamp claimed by a rival'
    (code-review r7)."""
    from hudi_0_10_0_spark.timeline import claim_new_instant

    t = HudiTable.create(spark, tmp_table_path, _mor_cfg())

    orig = t.fs.create_exclusive
    calls = {"n": 0}

    def broken(path, content):
        calls["n"] += 1
        raise PermissionError("timeline dir is read-only")

    t.fs.create_exclusive = broken
    try:
        with pytest.raises(PermissionError, match="read-only"):
            claim_new_instant(t, "commit", {})
    finally:
        t.fs.create_exclusive = orig
    assert calls["n"] == 1, "storage failure must fail fast, not retry as a collision"

    # early-abort claim hygiene (code-review r7): a write that fails at
    # transition_to_inflight deletes its own claim directly instead of
    # stranding it for the age-gated orphan sweep
    orig_inflight = t.timeline.transition_to_inflight

    def explode(ts, action):
        raise RuntimeError("inflight marker write failed")

    t.timeline.transition_to_inflight = explode
    try:
        with pytest.raises(RuntimeError, match="inflight"):
            t.upsert(_df(spark, UPD))
    finally:
        t.timeline.transition_to_inflight = orig_inflight
    assert _claims(t) == [], "early abort stranded its own claim"
    hb_dir = f"{t.meta_path}/heartbeat"
    assert t.fs.list_names(hb_dir) == [], "early abort stranded a heartbeat"


def test_claim_released_on_requested_write_infra_failure(spark, tmp_table_path):
    """A non-OSError failure writing the requested file (own infra, not
    a create-once collision) happens on a millisecond WE claimed with
    no instant file on disk — the claim must be released directly, and
    the heartbeat refresher must not leave a fresh orphan behind
    (code-review r7 follow-up)."""
    t = HudiTable.create(spark, tmp_table_path, _mor_cfg())

    orig = t.timeline.create_requested

    def explode(instant, action, metadata=None):
        raise RuntimeError("py4j transport dropped")

    t.timeline.create_requested = explode
    try:
        with pytest.raises(RuntimeError, match="transport"):
            t.upsert(_df(spark, UPD))
    finally:
        t.timeline.create_requested = orig
    assert _claims(t) == [], "infra failure stranded its own claim"
    hb_dir = f"{t.meta_path}/heartbeat"
    assert t.fs.list_names(hb_dir) == [], "infra failure stranded a heartbeat"
    assert t.timeline.pending() == []


def test_abort_with_caller_instant_keeps_rival_claim(spark, tmp_table_path):
    """When the write's instant is CALLER-supplied (streaming replay,
    backdated txn), claim_timestamp never ran — a claim file at that
    timestamp belongs to a RIVAL, and an early abort must NOT delete it
    (deleting would reopen the millisecond to a third writer —
    code-review r7). OCC mode: rivals only exist there (the
    single-writer eager sweep rightly collects any unowned claim)."""
    t = HudiTable.create(
        spark,
        tmp_table_path,
        _mor_cfg(
            concurrency_mode="OPTIMISTIC_CONCURRENCY_CONTROL",
            lock_wait_seconds=30.0,
        ),
    )
    t.bulk_insert(_df(spark, SEED))

    ts = t.new_instant()
    # a rival claimed this millisecond
    t.fs.write_text(f"{t.timeline.dir}/{ts}.claim", "")

    orig = t.timeline.transition_to_inflight

    def explode(instant, action):
        raise RuntimeError("inflight marker write failed")

    t.timeline.transition_to_inflight = explode
    try:
        with pytest.raises(RuntimeError, match="inflight"):
            t.upsert(_df(spark, UPD), instant_time=ts)
    finally:
        t.timeline.transition_to_inflight = orig
    assert _claims(t) == [f"{ts}.claim"], (
        "abort with caller-supplied instant deleted the rival's claim"
    )


def _expected_rows(*batches):
    exp = {(i, p): v for i, p, v in SEED}
    for batch in batches:
        exp.update({(i, p): v for i, p, v in batch})
    return sorted((i, p, v) for (i, p), v in exp.items())


def _snapshot_rows(t):
    return sorted(tuple(r) for r in t.snapshot().select("id", "part", "v").collect())


def test_clustering_refuses_live_rival_heartbeat(spark, tmp_table_path):
    """OCC mode: run_cluster shares compaction's execution fence. A
    scheduled clustering plan guarded by a fresh heartbeat is a live
    rival mid-execution — run_cluster must refuse and leave the plan and
    the rival's data/<ts>/ output untouched, then run once the heartbeat
    is gone."""
    from hudi_0_10_0_spark.operators.services import ServiceGuardedError

    t = HudiTable.create(
        spark,
        tmp_table_path,
        _mor_cfg(
            concurrency_mode="OPTIMISTIC_CONCURRENCY_CONTROL",
            lock_wait_seconds=30.0,
        ),
    )
    t.bulk_insert(_df(spark, SEED))
    t.upsert(_df(spark, UPD))
    ts = t.schedule_cluster(sort_cols=["id"])
    assert ts is not None
    hb = f"{t.meta_path}/heartbeat/{ts}"
    t.fs.mkdirs(f"{t.meta_path}/heartbeat")
    t.fs.write_text(hb, "")  # fresh → live rival
    rival_out = f"{t.instant_data_path(ts)}/rival-in-progress"
    t.fs.mkdirs(t.instant_data_path(ts))
    t.fs.write_text(rival_out, "")

    with pytest.raises(ServiceGuardedError, match="live"):
        t.run_cluster(ts)
    assert any(
        i.timestamp == ts and i.action == REPLACE_COMMIT and i.state == "requested"
        for i in t.timeline.pending()
    ), "the guarded plan did not stay requested"
    assert t.fs.exists(rival_out), "the rival's in-progress output was deleted"

    t.fs.delete(hb)  # owner gone
    assert t.run_cluster(ts) == ts
    assert _snapshot_rows(HudiTable.load(spark, tmp_table_path)) == _expected_rows(UPD)


def test_clustering_loser_keeps_rival_completed_commit(spark, tmp_table_path):
    """Two executors run one clustering plan and the rival completes it
    first: the loser fails at the create-once completion, and its abort
    must keep the rival's completed replacecommit and the shared
    data/<ts>/ dir (the rule compaction's abort follows)."""
    t = HudiTable.create(spark, tmp_table_path, _mor_cfg())
    t.bulk_insert(_df(spark, SEED))
    t.upsert(_df(spark, UPD))
    ts = t.schedule_cluster(sort_cols=["id"])
    assert ts is not None

    a = HudiTable.load(spark, tmp_table_path)
    b = HudiTable.load(spark, tmp_table_path)
    orig = a.timeline.transition_to_completed
    fired = []

    def hijack(timestamp, action, metadata):
        if action == REPLACE_COMMIT and timestamp == ts and not fired:
            fired.append(True)
            assert b.run_cluster(ts) == ts  # rival completes first
        return orig(timestamp, action, metadata)

    a.timeline.transition_to_completed = hijack
    with pytest.raises(IOError):
        a.run_cluster(ts)
    assert fired

    h = HudiTable.load(spark, tmp_table_path)
    done = f"{h.timeline.dir}/{Instant(ts, REPLACE_COMMIT, 'completed').filename()}"
    assert h.fs.exists(done), "rival's completed replacecommit was erased"
    assert h.fs.exists(h.instant_data_path(ts)), "shared data dir was erased"
    assert _snapshot_rows(h) == _expected_rows(UPD)


def test_replayed_rollback_and_restore_complete_once(spark, tmp_table_path):
    """A pending rollback plan and a pending restore plan, each replayed
    twice (two sweeps that listed the same stale plan): the first replay
    unwinds and completes, the second finds the instant completed and
    returns without touching anything."""
    from hudi_0_10_0_spark.operators.services import finish_service
    from hudi_0_10_0_spark.timeline import RESTORE, ROLLBACK, claim_new_instant

    cfg = WriteConfig(
        record_key_field="id",
        partition_field="part",
        precombine_field="v",
        auto_clean=False,
        auto_archive=False,
    )
    t = HudiTable.create(spark, tmp_table_path, cfg)
    c1 = t.bulk_insert(_df(spark, SEED))
    t.savepoint(c1)
    upd2 = [(i, f"p{i % 2}", i + 2000) for i in range(0, 60, 7)]

    c2 = t.upsert(_df(spark, UPD))
    rb = claim_new_instant(t, ROLLBACK, {"rolled_back": c2, "action": COMMIT})

    def replay_twice(action, instant):
        finish_service(t, action, instant, replay=True)
        deletes = []
        orig_delete = t.fs.delete
        t.fs.delete = lambda *a, **kw: deletes.append(a)
        try:
            finish_service(t, action, instant, replay=True)
        finally:
            t.fs.delete = orig_delete
        assert deletes == [], "the second replay redid the unwind"
        assert t.timeline.is_completed(instant, action)
        assert not any(i.timestamp == instant for i in t.timeline.pending())

    replay_twice(ROLLBACK, rb)
    assert c2 not in t.commits()
    assert _snapshot_rows(t) == _expected_rows()

    c2 = t.upsert(_df(spark, UPD))
    c3 = t.upsert(_df(spark, upd2))
    rs = claim_new_instant(
        t, RESTORE, {"restored_to": c1, "targets": [[c3, COMMIT], [c2, COMMIT]]}
    )
    replay_twice(RESTORE, rs)
    assert t.commits() == [c1]
    assert _snapshot_rows(HudiTable.load(spark, tmp_table_path)) == _expected_rows()
