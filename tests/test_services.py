"""Table services: replacecommits, clean, rollback, savepoint/restore,
clustering, time travel (model: reference functional test suites)."""

import pytest
from pyspark.sql import functions as F

from hudi_0_10_0_spark import HudiTable, WriteConfig
from hudi_0_10_0_spark.config import TableType


@pytest.fixture()
def cow(spark, tmp_table_path, orders):
    cfg = WriteConfig(
        record_key_field="o_orderkey",
        partition_field="o_orderstatus",
        precombine_field="o_totalprice",
    )
    t = HudiTable.create(spark, tmp_table_path + "/t", cfg)
    t.bulk_insert(orders)
    return t


def test_insert_overwrite_partition(cow, orders):
    status = orders.select("o_orderstatus").first()[0]
    replacement = orders.filter(F.col("o_orderstatus") == status).limit(10)
    cow.insert_overwrite(replacement)
    snap = cow.snapshot()
    assert snap.filter(F.col("o_orderstatus") == status).count() == 10
    others = orders.filter(F.col("o_orderstatus") != status).count()
    assert snap.count() == others + 10


def test_insert_overwrite_table(cow, orders):
    cow.insert_overwrite_table(orders.limit(33))
    assert cow.snapshot().count() == 33


def test_delete_partition(cow, orders):
    status = orders.select("o_orderstatus").first()[0]
    cow.delete_partition([status])
    snap = cow.snapshot()
    assert snap.filter(F.col("o_orderstatus") == status).count() == 0
    assert snap.count() == orders.filter(F.col("o_orderstatus") != status).count()
    # time travel before the replace still sees the partition
    tt = cow.time_travel(cow.commits()[0])
    assert tt.count() == orders.count()


def test_time_travel_across_commits(cow, orders):
    c1 = cow.commits()[0]
    cow.upsert(orders.limit(10).withColumn("o_totalprice", F.lit(0.5)))
    c2 = cow.commits()[-1]
    cow.delete(orders.limit(5).select("o_orderkey", "o_orderstatus"))
    assert cow.time_travel(c1).count() == orders.count()
    tt2 = cow.time_travel(c2)
    assert tt2.count() == orders.count()
    assert tt2.filter(F.col("o_totalprice") == 0.5).count() == 10
    assert cow.snapshot().count() == orders.count() - 5


def test_rollback_latest_commit(cow, orders):
    c1 = cow.commits()[0]
    cow.upsert(orders.limit(10).withColumn("o_totalprice", F.lit(0.5)))
    c2 = cow.commits()[-1]
    cow.rollback(c2)
    assert cow.commits() == [c1]
    assert cow.snapshot().filter(F.col("o_totalprice") == 0.5).count() == 0
    # rolling back a non-latest commit is refused
    cow.upsert(orders.limit(3).withColumn("o_totalprice", F.lit(0.25)))
    with pytest.raises(ValueError):
        cow.rollback(c1)


def test_failed_write_rolled_back_eagerly(cow, orders):
    # simulate a crashed write: inflight instant + orphan data dir
    ts = cow.new_instant()
    cow.timeline.create_requested(ts, "commit", {})
    cow.timeline.transition_to_inflight(ts, "commit")
    cow.fs.mkdirs(cow.instant_data_path(ts))
    cow.upsert(orders.limit(1))
    assert all(i.timestamp != ts for i in cow.timeline.instants())
    assert not cow.fs.exists(cow.instant_data_path(ts))


def test_savepoint_restore(cow, orders):
    c1 = cow.commits()[0]
    cow.savepoint(c1)
    cow.upsert(orders.limit(10).withColumn("o_totalprice", F.lit(0.5)))
    cow.delete(orders.limit(20).select("o_orderkey", "o_orderstatus"))
    cow.restore(c1)
    snap = cow.snapshot()
    assert snap.count() == orders.count()
    assert snap.filter(F.col("o_totalprice") == 0.5).count() == 0


def test_clean_keeps_retained_window(spark, tmp_table_path, orders):
    cfg = WriteConfig(
        record_key_field="o_orderkey",
        partition_field="o_orderstatus",
        precombine_field="o_totalprice",
        cleaner_commits_retained=2,
        auto_clean=False,
    )
    t = HudiTable.create(spark, tmp_table_path + "/cl", cfg)
    t.bulk_insert(orders)
    ten = orders.limit(10)
    for i in range(4):
        t.upsert(ten.withColumn("o_totalprice", F.lit(float(i))))
    n_files_before = len(t.view().all_referenced_paths())
    ci = t.clean()
    assert ci is not None
    view = t.view()
    remaining = view.all_referenced_paths()
    assert len(remaining) < n_files_before
    # live snapshot unaffected
    snap = t.snapshot()
    assert snap.count() == orders.count()
    assert snap.filter(F.col("o_totalprice") == 3.0).count() == 10
    # files referenced by the latest view still exist
    for s in t.file_slices():
        for p in s.all_paths():
            assert t.fs.exists(t.abs_path(p))


def test_archive_timeline(spark, tmp_table_path, orders):
    cfg = WriteConfig(
        record_key_field="o_orderkey",
        partition_field="o_orderstatus",
        precombine_field="o_totalprice",
        keep_min_commits=3,
        keep_max_commits=5,
        auto_clean=False,
        auto_archive=False,
    )
    t = HudiTable.create(spark, tmp_table_path + "/ar", cfg)
    t.bulk_insert(orders)
    ten = orders.limit(10)
    for i in range(6):
        t.upsert(ten.withColumn("o_totalprice", F.lit(float(i))))
    assert len(t.commits()) == 7
    n = t.archive()
    assert n == 4
    assert len(t.commits()) == 3
    # snapshot still complete: file slices survive archiving via manifests
    # carried in archived metadata? No — view only folds active instants.
    # The engine requires clean-before-archive ordering; here files written
    # by archived commits are still the latest slices, so the view must
    # still serve them. This is the reference's invariant too: archived
    # commits' files remain readable (listing-based fallback). Ours keeps
    # them via the archived manifest:
    snap = t.snapshot()
    assert snap.count() == orders.count()


def test_clustering_sort_preserves_results(cow, orders):
    before = cow.snapshot().orderBy("o_orderkey").select("o_orderkey", "o_totalprice").collect()
    ci = cow.cluster(sort_cols=["o_totalprice"], target_file_groups=2)
    assert ci is not None
    after = cow.snapshot().orderBy("o_orderkey").select("o_orderkey", "o_totalprice").collect()
    assert before == after
    # updates after clustering land on the new file groups
    cow.upsert(orders.limit(5).withColumn("o_totalprice", F.lit(42.0)))
    assert cow.snapshot().filter(F.col("o_totalprice") == 42.0).count() == 5


def test_clustering_zorder(cow, orders):
    ci = cow.cluster(sort_cols=["o_custkey", "o_totalprice"], layout="zorder", target_file_groups=4)
    assert ci is not None
    assert cow.snapshot().count() == orders.count()


def test_bootstrap(spark, tmp_table_path):
    src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    cfg = WriteConfig(record_key_field="n_nationkey", partition_field=None)
    t = HudiTable.create(spark, tmp_table_path + "/bs", cfg)
    t.bootstrap("/root/testdata/sf0.001/nation.parquet")
    assert t.snapshot().count() == src.count()


def test_schedule_then_run_cluster(cow, orders):
    """Async clustering: plan freezes groups, a later run executes it;
    the plan survives other writes' eager pending-rollback."""
    inst = cow.schedule_cluster(sort_cols=["o_orderkey"])
    assert inst is not None
    # a write between schedule and run must not roll the plan back,
    # and inserts (new keys) are allowed while the plan is pending
    new_rows = orders.limit(20).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    cow.upsert(new_rows)
    assert any(
        i.timestamp == inst for i in cow.timeline.pending()
    ), "scheduled clustering plan was rolled back by the upsert"
    done = cow.run_cluster(inst)
    assert done == inst
    assert cow.snapshot().count() == orders.count() + 20


def test_pending_cluster_rejects_updates(cow, orders):
    inst = cow.schedule_cluster(sort_cols=["o_orderkey"])
    assert inst is not None
    with pytest.raises(ValueError, match="pending clustering"):
        cow.upsert(orders.limit(5).withColumn("o_totalprice", F.lit(1.0)))
    # executing the plan clears the freeze; updates flow again
    cow.run_cluster(inst)
    cow.upsert(orders.limit(5).withColumn("o_totalprice", F.lit(1.0)))
    assert cow.snapshot().filter(F.col("o_totalprice") == 1.0).count() == 5


def test_pending_cluster_allow_rollback_updates(spark, tmp_table_path, orders):
    """ALLOW_ROLLBACK strategy (SparkAllowUpdateStrategy +
    rollback-pending-clustering, BaseSparkCommitActionExecutor:117-143):
    an update touching a planned group rolls the pending plan back and
    proceeds; clustering later re-schedules over the new state and no
    write is lost."""
    cfg = WriteConfig(
        record_key_field="o_orderkey",
        partition_field="o_orderstatus",
        precombine_field="o_totalprice",
        clustering_updates_strategy="ALLOW_ROLLBACK",
    )
    t = HudiTable.create(spark, tmp_table_path + "/ar", cfg)
    t.bulk_insert(orders)
    inst = t.schedule_cluster(sort_cols=["o_orderkey"])
    assert inst is not None
    # update rows in a planned group: plan is rolled back, write lands
    t.upsert(orders.limit(5).withColumn("o_totalprice", F.lit(1.0)))
    assert all(i.timestamp != inst for i in t.timeline.pending()), (
        "conflicting pending clustering plan should have been rolled back"
    )
    assert t.snapshot().filter(F.col("o_totalprice") == 1.0).count() == 5
    # re-schedule + run over the post-update state: update survives
    inst2 = t.schedule_cluster(sort_cols=["o_orderkey"])
    t.run_cluster(inst2)
    assert t.snapshot().filter(F.col("o_totalprice") == 1.0).count() == 5
    assert t.snapshot().count() == orders.count()


def test_incremental_fallback_full_scan(spark, tmp_table_path, orders):
    """After cleaning removes the as-of-end file versions, the strict
    incremental read fails but fallback_full_scan recovers the rows
    from the latest snapshot filtered on commit time."""
    cfg = WriteConfig(
        record_key_field="o_orderkey",
        partition_field="o_orderstatus",
        precombine_field="o_totalprice",
        cleaner_commits_retained=1,
        auto_clean=False,
    )
    t = HudiTable.create(spark, tmp_table_path + "/t", cfg)
    t.bulk_insert(orders)
    c0 = t.commits()[0]
    t.upsert(orders.limit(30).withColumn("o_comment", F.lit("u1")))
    c1 = t.commits()[-1]
    t.upsert(orders.limit(10).withColumn("o_comment", F.lit("u2")))
    t.clean()  # drops the c1-era file versions (retain 1 commit)
    from hudi_0_10_0_spark.sources.read import _range_unreadable

    view = t.view()
    touched = view.file_ids_touched_in_range(c0, c1)
    end_slices = [
        s
        for s in view.latest_file_slices(as_of=c1)
        if (s.partition, s.file_id) in touched
    ]
    assert _range_unreadable(t, end_slices, touched), "clean should break the range"
    fb = t.incremental(c0, c1, fallback_full_scan=True)
    # u1 rows later overwritten by u2 carry c2's commit time in the
    # latest snapshot, so the fallback sees the 20 still-latest u1 rows
    assert fb.filter(F.col("o_comment") == "u1").count() == 20


def test_commits_and_files_df(cow, orders):
    cdf = cow.commits_df()
    rows = cdf.collect()
    assert len(rows) == len(cow.commits())
    assert rows[0]["operation"] == "bulk_insert"
    assert rows[0]["total_rows"] == orders.count()
    fdf = cow.files_df().collect()
    assert len(fdf) == len(cow.file_slices())
    assert all(r["base_bytes"] > 0 for r in fdf)


def test_clean_keep_latest_file_versions(spark, tmp_table_path, orders):
    """KEEP_LATEST_FILE_VERSIONS: only the newest K base versions per
    file group survive a clean (HoodieCleaningPolicy.java:25)."""
    cfg = WriteConfig(
        record_key_field="o_orderkey",
        partition_field="o_orderstatus",
        precombine_field="o_totalprice",
        cleaner_policy="KEEP_LATEST_FILE_VERSIONS",
        cleaner_file_versions_retained=1,
        auto_clean=False,
    )
    t = HudiTable.create(spark, tmp_table_path + "/fv", cfg)
    t.bulk_insert(orders)
    ten = orders.limit(10)
    for i in range(3):
        t.upsert(ten.withColumn("o_totalprice", F.lit(float(i))))
    assert t.clean() is not None
    # every live slice readable, snapshot intact, old versions gone
    snap = t.snapshot()
    assert snap.count() == orders.count()
    assert snap.filter(F.col("o_totalprice") == 2.0).count() == 10
    for s in t.file_slices():
        for p in s.all_paths():
            assert t.fs.exists(t.abs_path(p))
    # each rewritten group now has exactly one surviving base version
    view = t.view()
    for fg in view.groups.values():
        live_bases = [
            b for b in fg.bases
            if b.paths and all(t.fs.exists(t.abs_path(p)) for p in b.paths)
        ]
        assert len(live_bases) <= 1


def test_timestamp_keygen_partitioning(spark, tmp_table_path, orders):
    """TimestampBasedKeyGenerator: DATE_STRING input partitioned by
    formatted day (TimestampBasedAvroKeyGenerator.java:48-60)."""
    cfg = WriteConfig(
        record_key_field="o_orderkey",
        partition_field="o_orderdate",
        precombine_field="o_totalprice",
        keygen="timestamp",
        timestamp_input_type="DATE_STRING",
        timestamp_output_format="yyyy-MM",
    )
    t = HudiTable.create(spark, tmp_table_path + "/tk", cfg)
    t.bulk_insert(orders)
    parts = t.partitions()
    assert all(len(p.split("=")[-1]) == 7 for p in parts), parts  # yyyy-MM
    assert t.snapshot().count() == orders.count()
    # upserts route by the same derived partition
    t.upsert(orders.limit(10).withColumn("o_totalprice", F.lit(9.5)))
    assert t.snapshot().count() == orders.count()
    assert t.snapshot().filter(F.col("o_totalprice") == 9.5).count() == 10


def test_savepoint_protects_file_versions_policy(spark, tmp_table_path, orders):
    """Savepointed slices survive KEEP_LATEST_FILE_VERSIONS cleaning, so
    restore still works afterwards."""
    cfg = WriteConfig(
        record_key_field="o_orderkey",
        partition_field="o_orderstatus",
        precombine_field="o_totalprice",
        cleaner_policy="KEEP_LATEST_FILE_VERSIONS",
        cleaner_file_versions_retained=1,
        auto_clean=False,
    )
    t = HudiTable.create(spark, tmp_table_path + "/spfv", cfg)
    t.bulk_insert(orders)
    c0 = t.commits()[0]
    t.savepoint(c0)
    ten = orders.limit(10)
    for i in range(3):
        t.upsert(ten.withColumn("o_totalprice", F.lit(float(i))))
    t.clean()
    # time travel to the savepoint still reads every file
    tt = t.time_travel(c0)
    assert tt.count() == orders.count()
    assert tt.filter(F.col("o_totalprice") == 2.0).count() == 0
    t.restore(c0)
    assert t.snapshot().count() == orders.count()


def test_custom_keygen_per_field_types(spark, tmp_table_path, orders):
    """CustomKeyGenerator (spark-client/keygen/CustomKeyGenerator.java):
    each partition field names its own generator, e.g. simple + timestamp."""
    cfg = WriteConfig(
        record_key_field="o_orderkey",
        partition_field=["o_orderstatus:simple", "o_orderdate:timestamp"],
        precombine_field="o_totalprice",
        keygen="custom",
        timestamp_output_format="yyyy",
    )
    t = HudiTable.create(spark, tmp_table_path + "/ck", cfg)
    t.bulk_insert(orders.limit(200))
    parts = t.partitions()
    assert all("/" in p for p in parts)
    years = {p.split("/")[1] for p in parts}
    assert years <= {str(y) for y in range(1992, 2003)}, years
    assert t.snapshot().count() == 200
    # column names resolve bare (no ":type" suffix) in reads
    assert "o_orderstatus" in t.snapshot().columns


def test_incremental_unreadable_range_raises_without_fallback(
    spark, tmp_table_path, orders
):
    """VERDICT r2 #7 (part 1): with the fallback DISABLED, an
    incremental range whose file versions were cleaned must raise — not
    silently return a partial result (reference HoodieException
    posture, IncrementalRelation.scala:101-175)."""
    cfg = WriteConfig(
        record_key_field="o_orderkey",
        partition_field="o_orderstatus",
        precombine_field="o_totalprice",
        cleaner_commits_retained=1,
        auto_clean=False,
    )
    t = HudiTable.create(spark, tmp_table_path + "/nofb", cfg)
    t.bulk_insert(orders)
    c0 = t.commits()[0]
    t.upsert(orders.limit(30).withColumn("o_comment", F.lit("u1")))
    c1 = t.commits()[-1]
    t.upsert(orders.limit(10).withColumn("o_comment", F.lit("u2")))
    t.clean()
    with pytest.raises(ValueError, match="fallback"):
        t.incremental(c0, c1).count()


def test_incremental_from_archived_begin(spark, tmp_table_path, orders):
    """VERDICT r2 #7 (part 2): archive trims the TIMELINE, not the data
    — an incremental begin that predates the active timeline still
    resolves through the archived manifests folded into the view
    (metadata.py _build), and returns exactly the post-begin rows."""
    cfg = WriteConfig(
        record_key_field="o_orderkey",
        partition_field="o_orderstatus",
        precombine_field="o_totalprice",
        keep_min_commits=2,
        keep_max_commits=3,
        auto_clean=False,
        auto_archive=False,
    )
    t = HudiTable.create(spark, tmp_table_path + "/arcinc", cfg)
    t.bulk_insert(orders)
    c0 = t.commits()[0]
    for i in range(5):
        t.upsert(orders.limit(10 * (i + 1)).withColumn("o_comment", F.lit(f"u{i}")))
    archived = t.timeline.archive(cfg.keep_min_commits, cfg.keep_max_commits)
    assert archived > 0
    active_ts = [i.timestamp for i in t.timeline.completed_write_instants()]
    assert c0 not in active_ts  # begin predates the active timeline
    inc = t.incremental(c0)
    # every row upserted after c0 (50 keys, latest versions) and nothing
    # from the initial bulk load beyond them
    assert inc.count() == 50
    assert inc.filter(F.col("o_comment").isNull()).count() == 0
    # archived range listing also still works end-bounded
    mid = sorted(set([c0] + [a["timestamp"] for a in t.timeline.archived_instants()]))[2]
    assert t.incremental(c0, mid).count() > 0


def test_incremental_detects_stale_surviving_version(spark, tmp_table_path, orders):
    """Code-review r3: cleaning can drop the as-of-end file version
    while an OLDER savepointed version survives — the listed slice then
    predates in-range writes and would silently serve stale rows. The
    range must be flagged unreadable (raise without fallback; correct
    rows with it)."""
    cfg = WriteConfig(
        record_key_field="o_orderkey",
        partition_field="o_orderstatus",
        precombine_field="o_totalprice",
        cleaner_commits_retained=1,
        auto_clean=False,
        auto_archive=False,
    )
    t = HudiTable.create(spark, tmp_table_path + "/stale", cfg)
    c0 = t.bulk_insert(orders)
    t.savepoint(c0)  # protects the c0-era file versions from the cleaner
    t.upsert(orders.limit(30).withColumn("o_comment", F.lit("u1")))
    c1 = t.commits()[-1]
    t.upsert(orders.limit(10).withColumn("o_comment", F.lit("u2")))
    t.clean()  # retains latest + savepointed; drops the c1-era versions
    with pytest.raises(ValueError, match="fallback"):
        t.incremental(c0, c1).count()
    fb = t.incremental(c0, c1, fallback_full_scan=True)
    assert fb.filter(F.col("o_comment") == "u1").count() == 20


def test_soak_long_timeline_with_auto_services(spark, tmp_table_path):
    """Soak: 36 small upserts with EVERY automatic service enabled
    (inline compaction every 3 deltacommits, auto clean retaining 4,
    auto archive band 6-9). Pins the steady state a long-running ingest
    reaches: archive kicked in (active timeline bounded), cleaning
    bounded the file count, compaction bounded the delta-bearing
    fraction, and the snapshot still equals the logical model."""
    from hudi_0_10_0_spark import TableType

    cfg = WriteConfig(
        record_key_field="id",
        partition_field="part",
        precombine_field="ts",
        table_type=TableType.MERGE_ON_READ,
        inline_compact=True,
        compact_max_delta_commits=3,
        auto_clean=True,
        cleaner_commits_retained=4,
        auto_archive=True,
        keep_min_commits=6,
        keep_max_commits=9,
    )
    t = HudiTable.create(spark, tmp_table_path + "/soak", cfg)
    model = {}
    for i in range(36):
        rows = [(k, f"p{k % 2}", i * 100 + k, i) for k in range(i % 5, 20, 5)]
        for k, p, v, ts in rows:
            model[(k, p)] = v
        t.upsert(spark.createDataFrame(rows, "id long, part string, v long, ts long"))
    # model equality after a long service-interleaved history
    got = {(r.id, r.part): r.v for r in t.snapshot().select("id", "part", "v").collect()}
    assert got == model
    # archive bounded the ACTIVE timeline
    active = t.timeline.completed_write_instants()
    assert len(active) <= 2 * cfg.keep_max_commits, len(active)
    assert len(t.timeline.archived_instants()) > 0
    # compaction bounded the uncompacted fraction
    slices = t.view().latest_file_slices()
    assert all(len(s.logs) <= cfg.compact_max_delta_commits + 1 for s in slices)
    # cleaning bounded total live file versions per group
    for fg in t.view().groups.values():
        live = [b for b in fg.bases if b.paths]
        assert len(live) <= cfg.cleaner_commits_retained + 2, len(live)


def test_savepoint_plus_archive_keeps_view_ordered(spark, tmp_table_path):
    """Code-review r3 ordering defense + r4 stop-rule: the archiver
    STOPS at the earliest savepoint (HoodieTimelineArchiveLog.
    getInstantsToArchive:137-141 — restore() deletes only ACTIVE
    instants newer than the savepoint, so archiving a post-savepoint
    commit would let its rows survive the restore). The view fold still
    sorts archived+active by timestamp so mixed folds serve the newest
    version."""
    cfg = WriteConfig(
        record_key_field="id", partition_field="part", precombine_field="v",
        keep_min_commits=3, keep_max_commits=5,
        auto_clean=False, auto_archive=False,
    )
    t = HudiTable.create(spark, tmp_table_path + "/spar", cfg)
    df0 = spark.createDataFrame([(i, "p0", 0) for i in range(10)],
                                "id long, part string, v long")
    t.bulk_insert(df0)
    for r in range(1, 9):
        t.upsert(spark.createDataFrame([(i, "p0", r) for i in range(10)],
                                       "id long, part string, v long"))
    c_mid = t.commits()[5]
    t.savepoint(c_mid)
    archived = t.timeline.archive(
        cfg.keep_min_commits, cfg.keep_max_commits, protected_ts={c_mid}
    )
    # commits BEFORE the savepoint archive; nothing at/after it does
    assert archived > 0
    assert all(
        a["timestamp"] < c_mid for a in t.timeline.archived_instants()
    )
    active = [i.timestamp for i in t.timeline.completed_write_instants()]
    assert c_mid in active
    # the view must serve the NEWEST version across the archived+active mix
    slices = t.view().latest_file_slices()
    newest = max(ts for ts, _, _ in t.view().commits)
    assert all(s.base.instant == newest for s in slices), [
        (s.file_id, s.base.instant) for s in slices
    ]
    assert t.snapshot().filter("v = 8").count() == 10
    assert t.snapshot().filter("v < 8").count() == 0
    # time travel to the savepoint still reaches that version
    assert t.snapshot(as_of=c_mid).filter("v = 5").count() == 10


def test_restore_after_archive_removes_post_savepoint_rows(spark, tmp_table_path):
    """code-review r4 (the reason for the stop-at-savepoint rule): with
    heavy post-savepoint traffic and archiving, restore(savepoint) must
    actually remove every post-savepoint row — previously archived
    post-savepoint commits survived the restore via archived manifests."""
    cfg = WriteConfig(
        record_key_field="id", partition_field="part", precombine_field="v",
        keep_min_commits=3, keep_max_commits=5,
        auto_clean=False, auto_archive=True,
    )
    t = HudiTable.create(spark, tmp_table_path + "/rst", cfg)
    t.bulk_insert(spark.createDataFrame([(i, "p0", 0) for i in range(10)],
                                        "id long, part string, v long"))
    sp = t.commits()[-1]
    t.savepoint(sp)
    # enough post-savepoint commits that an unbounded archiver would
    # have moved several of them
    for r in range(1, 12):
        t.upsert(spark.createDataFrame([(i, "p0", r) for i in range(10)],
                                       "id long, part string, v long"))
    t.restore(sp)
    snap = t.snapshot()
    assert snap.count() == 10
    assert snap.filter("v != 0").count() == 0, "post-savepoint rows survived restore"


def test_post_commit_service_failure_preserves_commit(spark, tmp_table_path, orders):
    """Code-review r3: a post-commit service failure (inline compact /
    clean / archive) must surface the error WITHOUT erasing the
    already-durable commit — previously the bulk-insert path's except
    handler deleted the completed instant's files and data."""
    t = HudiTable.create(
        spark, tmp_table_path + "/pcs",
        WriteConfig(record_key_field="o_orderkey",
                    partition_field="o_orderpriority",
                    precombine_field="o_orderdate"),
    )
    boom = RuntimeError("service exploded")

    def failing_services():
        raise boom

    t.run_post_commit_services = failing_services
    with pytest.raises(RuntimeError, match="service exploded"):
        t.bulk_insert(orders.limit(100))
    del t.run_post_commit_services  # restore the bound method
    # the commit survived: timeline has it and the data reads back
    assert len(t.commits()) == 1
    assert t.snapshot().count() == 100

    # same guarantee on the upsert path
    t.run_post_commit_services = failing_services
    with pytest.raises(RuntimeError, match="service exploded"):
        t.upsert(orders.limit(10).withColumn("o_orderstatus", F.lit("Z")))
    del t.run_post_commit_services
    assert len(t.commits()) == 2
    assert t.snapshot().filter("o_orderstatus = 'Z'").count() == 10


def test_archive_moves_service_instants(spark, tmp_table_path):
    """Code-review r3: clean/rollback instants older than the archive
    cutoff move into the archive with the write instants — the active
    timeline stays bounded instead of accumulating one clean file per
    commit forever."""
    from hudi_0_10_0_spark.timeline import CLEAN

    cfg = WriteConfig(
        record_key_field="id", partition_field="part", precombine_field="v",
        keep_min_commits=3, keep_max_commits=5,
        cleaner_commits_retained=2, auto_clean=True, auto_archive=False,
    )
    t = HudiTable.create(spark, tmp_table_path + "/arcsvc", cfg)
    for r in range(9):
        t.upsert(spark.createDataFrame([(i, "p0", r) for i in range(5)],
                                       "id long, part string, v long"))
    cleans_before = len(t.timeline.completed((CLEAN,)))
    assert cleans_before > 2
    assert t.timeline.archive(cfg.keep_min_commits, cfg.keep_max_commits) > 0
    cleans_after = len(t.timeline.completed((CLEAN,)))
    assert cleans_after < cleans_before
    # cleaned-file records still visible through the archive: the view
    # must not resurrect cleaned versions
    assert t.snapshot().filter("v = 8").count() == 5


def test_timestamp_keygen_null_partition_value(spark, tmp_table_path):
    """Code-review r3: a null timestamp partition value lands in the
    1970 epoch-default partition (TimestampBasedAvroKeyGenerator.
    getDefaultPartitionVal) instead of concat_ws silently dropping the
    segment and misaligning the path."""
    from pyspark.sql import types as T

    cfg = WriteConfig(
        record_key_field="id", partition_field="ts", precombine_field="v",
        keygen="timestamp", timestamp_input_type="EPOCHSECONDS",
        timestamp_output_format="yyyy-MM-dd",
    )
    t = HudiTable.create(spark, tmp_table_path + "/tsnull", cfg)
    t.bulk_insert(spark.createDataFrame(
        [(1, 1600000000, 1), (2, None, 2)],
        T.StructType([T.StructField("id", T.LongType()),
                      T.StructField("ts", T.LongType()),
                      T.StructField("v", T.LongType())]),
    ))
    parts = sorted(t.partitions())
    assert "1970-01-01" in parts, parts
    assert t.snapshot().count() == 2


def test_clustering_occ_conflict_detected(spark, tmp_table_path):
    """code-review r4: clustering's replacecommit goes through the OCC
    gate — a data commit landing on a plan group AFTER clustering read
    its slices (the window the write-side REJECT cannot see) must fail
    the clustering, not silently lose the committed rows."""
    from hudi_0_10_0_spark.concurrency import ConcurrentWriteConflictError
    from hudi_0_10_0_spark.metadata import WriteStat, make_commit_metadata
    # clustering commits through the shared write-instant lifecycle,
    # which binds guarded_commit in the write module
    import hudi_0_10_0_spark.operators.write as C

    t = HudiTable.create(
        spark, tmp_table_path + "/cocc",
        WriteConfig(
            record_key_field="id", partition_field="part", precombine_field="v",
            concurrency_mode="OPTIMISTIC_CONCURRENCY_CONTROL",
            lock_provider="IN_PROCESS",
            auto_clean=False, auto_archive=False,
        ),
    )
    t.bulk_insert(spark.createDataFrame([(i, "p0", i) for i in range(20)],
                                        "id long, part string, v long"))
    plan = t.schedule_cluster(sort_cols=["id"])
    assert plan is not None
    view = t.view()
    target_slice = view.latest_file_slices()[0]

    real = C.guarded_commit
    fired = {"done": False}

    def concurrent_writer_then_commit(table_, instant, action, md, txn_start=None):
        if action == "replacecommit" and not fired["done"]:
            fired["done"] = True
            # a concurrent writer commits a rewrite of one plan group
            # between clustering's view read and its commit point
            w_inst = table_.new_instant()
            table_.timeline.create_requested(w_inst, "commit", {"operation": "upsert"})
            table_.timeline.transition_to_inflight(w_inst, "commit")
            real(
                table_, w_inst, "commit",
                make_commit_metadata(
                    "upsert", "",
                    # the synthetic rewrite re-lists the group's real base
                    # files so the view keeps serving actual data after
                    # this commit becomes the group's latest version
                    [WriteStat(partition=target_slice.partition,
                               file_id=target_slice.file_id,
                               paths=list(target_slice.base.paths),
                               rows=target_slice.base.rows,
                               bytes=target_slice.base.bytes)],
                ),
                txn_start=None,
            )
        return real(table_, instant, action, md, txn_start=txn_start)

    C.guarded_commit = concurrent_writer_then_commit
    try:
        with pytest.raises(ConcurrentWriteConflictError):
            t.run_cluster(plan)
    finally:
        C.guarded_commit = real
    # the failed clustering rolled back: data intact, no replacecommit
    assert t.snapshot().count() == 20
    assert all(i.action != "replacecommit"
               for i in t.timeline.completed_write_instants())


def test_clustering_crash_retry_succeeds(spark, tmp_table_path):
    """code-review r4: a process killed mid-clustering leaves inflight
    state and a partial data/<instant>/ dir; the retry must clean the
    leftovers and complete instead of dying on mode('error') and
    discarding the plan."""
    t = HudiTable.create(
        spark, tmp_table_path + "/ccr",
        WriteConfig(record_key_field="id", partition_field="part",
                    precombine_field="v", auto_clean=False, auto_archive=False),
    )
    t.bulk_insert(spark.createDataFrame([(i, "p0", i) for i in range(20)],
                                        "id long, part string, v long"))
    plan = t.schedule_cluster(sort_cols=["id"])
    assert plan is not None
    # simulate the crash: inflight file exists, partial data dir on disk
    t.timeline.transition_to_inflight(plan, "replacecommit")
    partial = t.instant_data_path(plan)
    t.fs.mkdirs(partial)
    t.fs.write_text(f"{partial}/garbage.parquet", "partial write")
    # retry completes the SAME plan
    done = t.run_cluster(plan)
    assert done == plan
    snap = t.snapshot().orderBy("id")
    assert snap.count() == 20
    assert [r["id"] for r in snap.collect()] == list(range(20))


def test_instant_bump_stays_calendar_valid():
    """code-review r8: the monotonic-tie bump must do calendar
    arithmetic — an integer bump of ...235959999 mints second=60, which
    time travel's strptime rejects."""
    from hudi_0_10_0_spark import timeline as TL

    with TL._lock:
        saved = TL._last_ts
    try:
        TL._last_ts = "20260816235959999"
        ts = TL.new_instant_time()
        # whatever the wall clock says, the result is parseable and
        # strictly greater than the pinned predecessor
        import datetime as _dt

        _dt.datetime.strptime(ts, "%Y%m%d%H%M%S%f")
        assert ts > "20260816235959999"
        # forced tie at a year-end second boundary rolls over cleanly
        # (the old integer bump minted ...235960000, second=60)
        TL._last_ts = "20991231235959999"  # future: any clock ties
        ts2 = TL.new_instant_time()
        _dt.datetime.strptime(ts2, "%Y%m%d%H%M%S%f")
        assert ts2 == "21000101000000000"
    finally:
        TL._last_ts = saved


def test_mutual_pending_plan_scheduling_exclusion(spark, tmp_table_path, orders):
    """code-review r8 / crash-matrix r8: scheduling skips file groups
    pinned by a rival PENDING plan, both directions (reference:
    fgIdsInPendingCompactionAndClustering), and a plan does not pin
    groups for ITSELF twice either."""
    from hudi_0_10_0_spark import TableType

    t = HudiTable.create(
        spark,
        tmp_table_path + "/excl",
        WriteConfig(
            record_key_field="o_orderkey",
            partition_field="o_orderstatus",
            precombine_field="o_totalprice",
            table_type=TableType.MERGE_ON_READ,
            inline_compact=False,
            auto_clean=False,
            auto_archive=False,
        ),
    )
    t.bulk_insert(orders)
    t.upsert(orders.limit(40).withColumn("o_comment", F.lit("d")))
    # clustering plan over everything -> compaction has nothing to pick
    c_ts = t.schedule_cluster(sort_cols=["o_orderkey"])
    assert c_ts is not None
    assert t.schedule_compaction() is None
    # run the clustering; compaction of the rewritten groups still has
    # no logs (the replace merged them) -> still None
    t.run_cluster(c_ts)
    assert t.schedule_compaction() is None
    # fresh deltas -> compaction plan; a second compaction schedule
    # must not re-pin the same groups (self-exclusion)
    t.upsert(orders.limit(25).withColumn("o_comment", F.lit("d2")))
    p1 = t.schedule_compaction()
    assert p1 is not None
    assert t.schedule_compaction() is None
    # and clustering now skips the compaction-pinned groups: with every
    # delta-bearing group pinned, clustering may only pick log-free ones
    from hudi_0_10_0_spark.operators.services import pending_compaction_groups
    from hudi_0_10_0_spark.operators.clustering import pending_clustering_plans

    pinned = pending_compaction_groups(t)
    assert pinned
    cl = t.schedule_cluster(sort_cols=["o_orderkey"])
    if cl is not None:
        assert not (pending_clustering_plans(t)[cl] & pinned)
    # drain: compaction still runs its plan to completion
    assert t.compact(p1) is not None
    assert t.snapshot().count() == orders.count()


def test_inline_compaction_drains_leftover_pending_plan(spark, tmp_table_path, orders):
    """Code-review r8: the mutual pending-plan scheduling exclusion must
    not make inline compaction a permanent no-op when a leftover pending
    plan (crashed run / user SCHEDULE COMPACTION) pins the delta-bearing
    groups — run_compaction(None) drains the earliest pending plan."""
    t = HudiTable.create(
        spark,
        tmp_table_path + "/drain",
        WriteConfig(
            record_key_field="o_orderkey",
            partition_field="o_orderstatus",
            precombine_field="o_totalprice",
            table_type=TableType.MERGE_ON_READ,
            inline_compact=True,
            compact_max_delta_commits=2,
            auto_clean=False,
            auto_archive=False,
        ),
    )
    t.bulk_insert(orders)
    ten = orders.limit(10)
    t.upsert(ten.withColumn("o_totalprice", F.lit(1.0)))
    # leftover pending plan pinning every delta-bearing group
    leftover = t.schedule_compaction()
    assert leftover is not None
    # next upsert crosses the trigger; scheduling returns None (groups
    # pinned by the leftover plan) — inline compaction must DRAIN the
    # leftover instead of stalling forever
    t.upsert(ten.withColumn("o_totalprice", F.lit(2.0)))
    from hudi_0_10_0_spark.timeline import COMPACTION

    assert not [i for i in t.timeline.pending() if i.action == COMPACTION]
    # the leftover plan COMPLETED as a commit (logs of the second upsert
    # post-date the plan instant and correctly survive on the new slice)
    assert any(
        i.timestamp == leftover and i.action == "commit" and i.state == "completed"
        for i in t.timeline.instants()
    )
    snap = {r["o_orderkey"]: r["o_totalprice"] for r in t.snapshot().collect()}
    for r in ten.collect():
        assert snap[r["o_orderkey"]] == 2.0


def test_inline_clustering_drains_leftover_pending_plan(spark, tmp_table_path, orders):
    """Same stall for inline cluster(): a leftover pending clustering
    plan pins its groups against re-planning; cluster() must drain it."""
    t = HudiTable.create(
        spark,
        tmp_table_path + "/cdrain",
        WriteConfig(
            record_key_field="o_orderkey",
            partition_field="o_orderstatus",
            precombine_field="o_totalprice",
            auto_clean=False,
            auto_archive=False,
        ),
    )
    t.bulk_insert(orders)
    leftover = t.schedule_cluster(sort_cols=["o_orderkey"])
    assert leftover is not None
    # scheduling now returns None (groups pinned) — inline cluster()
    # must execute the leftover plan rather than returning None
    done = t.cluster(sort_cols=["o_orderkey"])
    assert done == leftover
    from hudi_0_10_0_spark.timeline import REPLACE_COMMIT

    assert not [i for i in t.timeline.pending() if i.action == REPLACE_COMMIT]
    assert t.snapshot().count() == orders.count()
